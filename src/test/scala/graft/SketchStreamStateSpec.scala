package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{AggOps, SketchOps}
import graft.streaming.StreamOps

/** The round-13 session-3 SKETCH-AS-STREAMING-STATE claims, measured
  * (the StateBoundSpec technique): the q307 windowed FM distinct
  * estimate holds ≤ m bucket rows per open window and the q309
  * streaming ridge holds ONE Gram-sums row per open window — state
  * scales with the sketch/model size, never the ingested volume.
  * Plus the KMV plan pin: the k-minimum sketch plans as
  * TakeOrderedAndProject (per-partition top-k heaps), never a global
  * sort. */
class SketchStreamStateSpec extends AnyFunSuite {
  import SparkTestSession.{stageBatches, tmpDir}
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def ts(ms: Long) = new java.sql.Timestamp(ms)

  private def runWithProgress(agg: DataFrame, name: String,
                              outputMode: String,
                              statePartitions: Int)
      : (DataFrame, Seq[StreamingQueryProgress]) = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions",
      statePartitions.toString)
    try {
      val q = agg.writeStream.outputMode(outputMode).format("memory")
        .queryName(name).trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      (spark.table(name), q.recentProgress.toSeq)
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  private def stateTotals(ps: Seq[StreamingQueryProgress]): Seq[Long] =
    ps.flatMap(_.stateOperators.map(_.numRowsTotal))

  private val DayMs = 86400000L

  test("windowed FM state (q307's shape): <= m bucket rows per open " +
       "window while THOUSANDS of fresh user ids stream through — " +
       "the state is the sketch, never a per-user set") {
    // 4 day-batches x 1500 FRESH ids each (6000 distinct ingested)
    val batches = (0 until 4).map { b =>
      (0 until 1500).map { i =>
        (b * 10000L + i, ts(1000000L + b * DayMs + i))
      }.toDF("user_id", "ts")
    }
    val staged = stageBatches("fm_state", batches)
    val stream = StreamOps.fileStream(spark, batches.head.schema,
      staged, maxFilesPerTrigger = Some(1))
    val perBucket = stream.withWatermark("ts", "0 seconds")
      .groupBy(window(col("ts"), "1 day"),
        SketchOps.fmBucket(col("user_id"), 32).as("bucket"))
      .agg(max(SketchOps.fmRho(col("user_id"))).as("r_max"))
    val (out, ps) = runWithProgress(perBucket,
      s"fm_state_${System.nanoTime()}", "append", 4)
    // finalized days emit at most 32 rows each
    val perDay = out.groupBy(col("window")).count().collect()
    assert(perDay.nonEmpty && perDay.forall(_.getLong(1) <= 32L))
    val totals = stateTotals(ps)
    assert(totals.nonEmpty)
    // at most 2 windows live at once (the closing + the open day)
    assert(totals.max <= 64L,
      s"FM state ${totals.max} exceeds the 2-window sketch bound " +
        s"(6000 distinct ids ingested): $totals")
  }

  test("streaming Gram-sums state (q309's shape): ONE sums row per " +
       "open window — model maintenance at eleven longs per day, " +
       "never a data buffer") {
    val batches = (0 until 4).map { b =>
      (0 until 1000).map { i =>
        (ts(1000000L + b * DayMs + i), (i % 24).toLong,
          (i % 7).toLong, (i % 10).toLong, (i % 50 + 1).toLong)
      }.toDF("ts", "x1", "x2", "x3", "y")
    }
    val staged = stageBatches("gram_state", batches)
    val stream = StreamOps.fileStream(spark, batches.head.schema,
      staged, maxFilesPerTrigger = Some(1))
    val sums = AggOps.gramSums3(
      stream.withWatermark("ts", "0 seconds"),
      "x1", "x2", "x3", "y", Seq(window(col("ts"), "1 day")))
    val (out, ps) = runWithProgress(sums,
      s"gram_state_${System.nanoTime()}", "append", 4)
    assert(out.count() >= 3L) // finalized days landed
    val totals = stateTotals(ps)
    assert(totals.nonEmpty)
    assert(totals.max <= 2L,
      s"Gram state ${totals.max} rows — more than one sums row per " +
        s"live window (4000 events ingested): $totals")
  }

  test("kmvSketch plan: TakeOrderedAndProject (per-partition top-k " +
       "heaps merged once) — the k-minimum sketch never global-sorts " +
       "the key set") {
    val keys = spark.range(10000).select(col("id").as("k"))
    val plan = SketchOps.kmvSketch(keys, "k", 64)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(2000))
  }
}
