package perfbench

import graft.SparkEntry
import org.apache.spark.sql.SparkSession

/** The catalog workload: named `SparkEntry.queries` at sf0.1.
  *
  * Every listed query reaches no fixed repository path, no in-JVM fit
  * memo and no staged stream directory (README.md, "Excluded queries"),
  * so a run's result cannot depend on what an earlier run left behind.
  */
object Catalog {
  /** Dedup, similarity and text queries. q253 and q180 run dozens of
    * eager jobs (`localCheckpoint`, driver-side `collect`) while their
    * DataFrame is being built, so construction dominates the round. The
    * list is short because every run pays a fresh JVM and a warm-up pass
    * (README.md, "Query selection"). */
  val curation: Seq[String] = Seq(
    "q30_dedup_exact", "q33_simhash", "q180_dedup_canonical",
    "q253_curation_e2e")

  /** Set-up pass, untimed: every query once on the small fixture with a
    * noop write. It warms the JIT and Spark's generated-code cache, which
    * is keyed by code text and so mostly shared with the sf0.1 plans. */
  def warmUp(spark: SparkSession, rec: Recorder, queries: Seq[String],
             smallFixture: String): Unit =
    queries.foreach { q =>
      try rec.span("setup", q, "")(_ => SparkEntry.queries(q)(spark,
        smallFixture).write.format("noop").mode("overwrite").save())
      catch { case e: Throwable =>
        System.err.println(s"[perfbench] warm-up $q failed: ${rec.message(e)}")
      }
    }

  /** One round: every query once, in an order drawn from the seed. Each
    * query is one operation, split into `construct` (the call to
    * `queries(name)`, including any eager jobs it runs) and `write` (the
    * result written as parquet to `outDir/<query>`, where the oracle
    * check reads it after the run). */
  def round(spark: SparkSession, rec: Recorder, queries: Seq[String],
            fixture: String, order: scala.util.Random, outDir: String,
            parent: String): Unit =
    order.shuffle(queries).foreach { q =>
      rec.op(q, parent) { opId =>
        val df = rec.span("construct", q, opId)(_ =>
          SparkEntry.queries(q)(spark, fixture))
        rec.span("write", q, opId)(_ =>
          df.write.mode("overwrite").parquet(s"$outDir/$q"))
      }
    }
}
