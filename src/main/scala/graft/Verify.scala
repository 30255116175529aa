package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. Runs under
  * the benched session config (AQE with the advisory clamp derived from
  * `sfDir`), so the answers checked are the answers of the config that
  * gets timed. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GraftSession.build(cpus, inputDir = Some(sfDir))
    new java.io.File(outDir).mkdirs()
    val selected = GraftSession.selectedQueries
    // A thrown query must stay visible: besides stderr, every failure
    // lands in _errors.json next to oracle_sql.json. Round 7 shipped a
    // green-looking gate over 21 broken queries because a failure here
    // simply produced no output dir (indistinguishable from "not run").
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        errors(name) = msg.linesIterator.take(3).mkString(" | ")
        System.err.println(s"[verify] $name failed: $msg")
      }
    }
    def q(s: String): String = GraftSession.jsonString(s)
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = errors
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/_errors.json"), errJson)
    if (errors.nonEmpty)
      System.err.println(
        s"[verify] ${errors.size}/${selected.size} queries FAILED: " +
          errors.keys.mkString(", "))
    // exit 0 even on per-query failures: the driver must still compare
    // the queries that DID produce output; _errors.json carries the rest
    spark.stop()
  }
}
