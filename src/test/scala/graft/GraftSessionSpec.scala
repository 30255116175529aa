package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.FitArtifacts.FitStats

/** The session every entry point shares, and the records `Bench` prints. */
class GraftSessionSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val json = new ObjectMapper()

  test("the codegen cache holds a query's working set: a second " +
       "q253_curation_e2e run compiles almost nothing") {
    // one run compiles about 170 classes; an LRU smaller than that
    // (Spark's default 100) evicts each class before its reuse
    def run(): Long = {
      val c = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      SparkEntry.queries("q253_curation_e2e")(spark, "/root/testdata/sf0.001")
        .write.format("noop").mode("overwrite").save()
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c
    }
    val first = run()
    val second = run()
    assert(second <= 10, s"second run compiled $second (first: $first)")
  }

  test("Bench's headline survives a tail that cuts the long line") {
    val names = (1 to 420).map(i => f"q$i%03d_some_query_name")
    val err = "boom \"quoted\"\n\tline 2\u0001"
    val fits = Seq(Map("kmFit" -> FitStats(0, 1, 40.4)),
      Map("kmFit" -> FitStats(3, 1, 2500.6))) ++
      Seq.fill(3)(Map("kmFit" -> FitStats(4, 0, 0)))
    val (stdout, sideText) = Bench.render(names,
      names.map(_ -> Vector(1.25, 1.5, 1.0)).toMap,
      Map(names(6) -> err), "/data/sf0.1", 3, Seq(286L, 34L), Seq(2L, 0L, 1L), 1234.5,
      fits, Map(names(0) -> 7L))
    val tail = stdout.takeRight(2000)      // what a tail reader keeps
    assert(!tail.contains("\"queries\":{\"q001"))
    val last = json.readTree(tail.linesIterator.toSeq.last)
    assert(last.get("value").asDouble === 419 * 1.25)
    assert((last.get("n_ok").asInt, last.get("n_err").asInt) === ((419, 1)))
    // the long line stays valid JSON, with the error message escaped
    val full = json.readTree(stdout.linesIterator.next())
    assert(full.get("errors").get(names(6)).asText === err)
    assert(full.get("codegen").get("runs").size === 3)
    // the side file: per-pass fit counters, warm-ups first, and each
    // query's timed-run compile count
    val side = json.readTree(sideText)
    val km = side.get("fits").get("kmFit")
    def longs(f: String) = (0 until km.get(f).size).map(km.get(f).get(_).asLong)
    assert(longs("misses") === Seq(1L, 1L, 0L, 0L, 0L))
    assert(longs("hits") === Seq(0L, 3L, 4L, 4L, 4L))
    assert(longs("fit_ms") === Seq(40L, 2501L, 0L, 0L, 0L))
    assert(side.get("queries").get(names(0)).get("codegen").asLong === 7L)
    assert(side.get("queries").get(names(1)).get("codegen").asLong === 0L)
  }
}
