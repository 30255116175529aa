package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamOps

/** Round-13 verdict task 8: the streaming state-boundedness claims
  * (dedup / stream-stream interval join / sessionization) were
  * comment-level outside SCD2 — these specs REPLAY a staged
  * multi-batch sequence and assert `numRowsTotal` from
  * `StreamingQueryProgress.stateOperators` stays bounded by the
  * operator's declared state budget (keys within the watermark /
  * active keys / the watermark-evictable join buffer), never by the
  * event volume ingested.
  */
class StateBoundSpec extends AnyFunSuite {
  import SparkTestSession.{stageBatches, tmpDir}
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def ts(ms: Long) = new java.sql.Timestamp(ms)

  /** Drive an event-time query to completion under AvailableNow and
    * return (sink table, per-batch progress records). */
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

  // ---------------------------------------------------------------- //
  // dedupStream: state = keys within the watermark, evicted after
  // ---------------------------------------------------------------- //

  test("dedupStream state: bounded by keys inside the watermark and " +
       "EVICTED behind it — never the full distinct-key history") {
    // 6 batches x 100 FRESH keys each, event time advancing 120 s per
    // batch, watermark 30 s: without eviction state reaches 600 keys;
    // with it, at most ~2 batches' worth is live at once
    val batches = (0 until 6).map { b =>
      (0 until 100).map { i =>
        (b * 1000L + i, ts(1000000L + b * 120000L + i))
      }.toDF("k", "ts")
    }
    val staged = stageBatches("dedup_state", batches)
    val stream = StreamOps.fileStream(spark, batches.head.schema,
      staged, maxFilesPerTrigger = Some(1))
    val (out, ps) = runWithProgress(
      StreamOps.dedupStream(stream, "ts", "30 seconds", "k"),
      s"dedup_state_${System.nanoTime()}", "append", 4)
    assert(out.count() === 600L) // every fresh key emitted once
    val totals = stateTotals(ps)
    assert(totals.nonEmpty)
    assert(totals.max <= 300L,
      s"dedup state ${totals.max} not bounded by the watermark window " +
        s"(600 keys ingested): $totals")
    assert(totals.last < 600L,
      s"no eviction happened: $totals")
  }

  // ---------------------------------------------------------------- //
  // sessionizeStream: state = ONE OpenSession per ACTIVE key
  // ---------------------------------------------------------------- //

  test("sessionizeStream state: one OpenSession per active key — " +
       "bounded by KEYS, never by the event volume") {
    // 4 batches x 250 events over just 20 keys (1000 events total)
    val batches = (0 until 4).map { b =>
      (0 until 250).map { i =>
        (i % 20L, ts(1000000L + b * 600000L + (i / 20) * 30000L + i))
      }.toDF("user_id", "ts")
    }
    val staged = stageBatches("sess_state", batches)
    val stream = StreamOps.fileStream(spark, batches.head.schema,
      staged, maxFilesPerTrigger = Some(1))
    val (_, ps) = runWithProgress(
      StreamOps.sessionizeStream(stream, "user_id", "ts", 60L).toDF(),
      s"sess_state_${System.nanoTime()}", "append", 4)
    val totals = stateTotals(ps)
    assert(totals.nonEmpty)
    assert(totals.max <= 20L,
      s"session state ${totals.max} exceeds the active-key bound 20 " +
        s"(1000 events ingested): $totals")
  }

  // ---------------------------------------------------------------- //
  // intervalJoinStream: both-side buffers evict behind the watermark
  // ---------------------------------------------------------------- //

  test("intervalJoinStream state: join buffers are watermark-evicted " +
       "— bounded by rows inside the horizon, not rows ever ingested") {
    // 6 batches x (60 left + 60 right) rows, event time advancing
    // 300 s per batch, 60 s join window + 30 s watermark: only ~2
    // batches of rows are ever inside the evictable horizon
    val lb = (0 until 6).map { b =>
      (0 until 60).map { i =>
        (i % 12L, ts(1000000L + b * 300000L + i * 100L), i.toDouble)
      }.toDF("k", "lts", "lv")
    }
    val rb = (0 until 6).map { b =>
      (0 until 60).map { i =>
        (i % 12L, ts(1000000L + b * 300000L + i * 100L + 50L),
          i * 2.0)
      }.toDF("k2", "rts", "rv")
    }
    val ldir = stageBatches("ij_state_l", lb)
    val rdir = stageBatches("ij_state_r", rb)
    val left = StreamOps.fileStream(spark, lb.head.schema, ldir,
      maxFilesPerTrigger = Some(1))
    val right = StreamOps.fileStream(spark, rb.head.schema, rdir,
        maxFilesPerTrigger = Some(1))
      .withColumnRenamed("k2", "k")
    val (out, ps) = runWithProgress(
      StreamOps.intervalJoinStream(left, right, "k", "lts", "rts",
        upperSeconds = 60L, watermarkDelay = "30 seconds"),
      s"ij_state_${System.nanoTime()}", "append", 4)
    assert(out.count() > 0)
    val totals = stateTotals(ps)
    assert(totals.nonEmpty)
    // 720 rows ingested compared to at most ~2 batches (240 rows)
    // resident across both buffers
    assert(totals.max <= 360L,
      s"join buffer ${totals.max} not watermark-bounded " +
        s"(720 rows ingested): $totals")
    assert(totals.last < 720L, s"no eviction happened: $totals")
  }

  // ---------------------------------------------------------------- //
  // windowed bucket histogram (the q330 streaming-PSI shape):
  // state = open windows × occupied buckets — a histogram, never rows
  // ---------------------------------------------------------------- //

  test("windowed histogram state (q330 streaming-PSI shape): bounded " +
       "by open windows x occupied buckets, never by event volume") {
    // 4 day-batches x 500 events over 6 value buckets (2000 events);
    // 0 s watermark keeps at most ~2 day windows open -> <= 12 rows
    val batches = (0 until 4).map { b =>
      (0 until 500).map { i =>
        ((i % 96).toDouble, ts(1000000000000L + b * 86400000L + i))
      }.toDF("value", "ts")
    }
    val staged = stageBatches("psi_state", batches)
    val stream = StreamOps.fileStream(spark, batches.head.schema,
      staged, maxFilesPerTrigger = Some(1))
    val agg = stream.withWatermark("ts", "0 seconds")
      .groupBy(window(col("ts"), "1 day"),
        expr("cast(round(value) as long) div 16L").as("bucket"))
      .agg(count(lit(1)).as("cnt"))
    val (out, ps) = runWithProgress(agg,
      s"psi_state_${System.nanoTime()}", "append", 4)
    // the 3 watermark-closed days land with all 6 buckets each
    assert(out.count() === 18L)
    val totals = stateTotals(ps)
    assert(totals.nonEmpty)
    assert(totals.max <= 12L,
      s"histogram state ${totals.max} exceeds open-windows x buckets " +
        s"= 12 (2000 events ingested): $totals")
  }
}
