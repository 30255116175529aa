package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

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
    val (stdout, _) = Bench.render(names,
      names.map(_ -> Vector(1.25, 1.5, 1.0)).toMap,
      Map(names(6) -> err), "/data/sf0.1", 3, Seq(286L, 34L), Seq(2L, 0L, 1L), 1234.5)
    val tail = stdout.takeRight(2000)      // what a tail reader keeps
    assert(!tail.contains("\"queries\":{\"q001"))
    val last = json.readTree(tail.linesIterator.toSeq.last)
    assert(last.get("value").asDouble === 419 * 1.25)
    assert((last.get("n_ok").asInt, last.get("n_err").asInt) === ((419, 1)))
    // the long line stays valid JSON, with the error message escaped
    val full = json.readTree(stdout.linesIterator.next())
    assert(full.get("errors").get(names(6)).asText === err)
    assert(full.get("codegen").get("runs").size === 3)
  }
}
