package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamOps

/** The two stateful-streaming contracts the oracled queries cannot pin
  * alone:
  *
  *  - EVENT-TIME TIMERS ([[graft.streaming.SessionTimers]], q121):
  *    a session closes exactly once when the watermark passes
  *    end + gap, the key's state is CLEARED on close (no re-emission
  *    when later data arrives), and a session still extendable at the
  *    final watermark is never emitted.
  *  - STATE TTL ([[graft.streaming.RunningTotals]] with a TTL): a key idle
  *    longer than the TTL reads back as absent (totals restart), while
  *    an unexpired TTL accumulates exactly like TTL-free state. TTL is
  *    processing-time-based, so this is spec territory — wall-clock
  *    batch spacing can't be oracled.
  *
  * Both replay hand-built fixtures as one-file micro-batches with
  * pinned names + modification times (the q91 residue-batch pattern).
  */
class TimerTtlStreamSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Stage each frame as one parquet file; name + modtime pin replay
    * order. Returns the directory to stream from. */
  private def stageBatches(tag: String, batches: Seq[DataFrame]): String = {
    val dir = SparkTestSession.tmpDir(s"spec_$tag")
    batches.zipWithIndex.foreach { case (df, i) =>
      val tmp = s"$dir/_tmp$i"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = Files.list(Paths.get(tmp))
        .filter(p => p.getFileName.toString.startsWith("part-"))
        .findFirst().get()
      Files.move(part, dir.resolve(f"batch$i%02d.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
      Files.list(Paths.get(tmp)).forEach(Files.deleteIfExists(_))
      Files.deleteIfExists(Paths.get(tmp))
    }
    dir.toString
  }

  private def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)

  test("event-time timers: a quiet session closes ONCE via its timer, " +
       "its state is cleared (no re-emission on later data), and the " +
       "session still open at the final watermark is not emitted") {
    // gap 60 s, watermark delay 0.
    //   batch0: key1 @ 0,10   key2 @ 50,55
    //   batch1: key1 @ 1000   (key2 idle -> its timer 55+60=115 fires
    //                          once the watermark reaches 1000)
    //   batch2: key2 @ 2000   (if key2's state survived its close,
    //                          this would re-close and DUPLICATE the
    //                          50-55 session)
    // final watermark = 2000: key1's 1000-session (expiry 1060) closes
    // by timer; key2's 2000-session (expiry 2060 > 2000) stays open.
    val batches = Seq(
      Seq((1L, ts(0)), (1L, ts(10)), (2L, ts(50)), (2L, ts(55))),
      Seq((1L, ts(1000))),
      Seq((2L, ts(2000)))
    ).map(_.toDF("user_id", "ts"))
    val staged = stageBatches("timers", batches)
    val stream = StreamOps.fileStream(spark,
      batches.head.schema, staged, maxFilesPerTrigger = Some(1))
    val sessions = StreamOps.sessionizeTimersStream(stream, "user_id",
      "ts", gapSeconds = 60L, watermarkDelay = "0 seconds")
    val got = StreamOps.runToCompletion(sessions.toDF(),
        s"spec_timers_${System.nanoTime()}", outputMode = "append",
        statePartitions = Some(2), rocksDb = true)
      .select(col("user_id"), col("sess_start").cast("long"),
        col("sess_end").cast("long"), col("n_events"))
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got.sorted === Seq(
      (1L, 0L, 10L, 2L),      // closed by data (1000 - 10 > gap)
      (1L, 1000L, 1000L, 1L), // closed by timer (1060 <= 2000)
      (2L, 50L, 55L, 2L)),    // closed by timer while idle (115 <= wm)
      s"unexpected session set: $got")
    assert(got.count(r => r._1 == 2L && r._2 == 50L) === 1,
      "key2's session re-emitted — state not cleared on timer close")
  }

  test("state TTL: a key idle past the TTL is EVICTED (totals restart " +
       "per batch); an unexpired TTL accumulates across batches") {
    // three identical batches of 2 rows for one key; micro-batches are
    // always more than 1 ms apart (planning + commit I/O), and far
    // less than an hour
    val batches = (0 until 3).map(_ =>
      Seq((7L, 1.0), (7L, 1.0)).toDF("user_id", "value"))
    def run(tag: String, ttl: java.time.Duration): Seq[Long] = {
      val staged = stageBatches(tag, batches)
      val typed = StreamOps.fileStream(spark, batches.head.schema,
          staged, maxFilesPerTrigger = Some(1))
        .select(col("user_id"), col("value")).as[(Long, Double)]
      val out = StreamOps.runningTotalsTtlStream(typed, ttl)
        .toDF("user_id", "n", "total")
      // ProcessingTime mode never self-terminates under AvailableNow —
      // drain by row count (3 batches x 1 emitted row per batch)
      StreamOps.runToCompletion(out, s"spec_$tag${System.nanoTime()}",
          outputMode = "update", statePartitions = Some(2),
          rocksDb = true, stopAfterRows = Some(3L))
        .select(col("n")).as[Long].collect().toSeq.sorted
    }
    val evicted = run("ttl_short", java.time.Duration.ofMillis(1))
    assert(evicted === Seq(2L, 2L, 2L),
      s"1 ms TTL: every batch must see fresh state, got $evicted")
    val retained = run("ttl_long", java.time.Duration.ofHours(1))
    assert(retained === Seq(2L, 4L, 6L),
      s"1 h TTL: unexpired state must accumulate, got $retained")
  }

  test("processing-time timers: an idle key flushes its pending " +
       "aggregate ONCE and restarts from empty state; a key with " +
       "same-batch input re-arms instead of flushing") {
    // idleFlushMs = 1: micro-batches are always > 1 ms apart, so a
    // key's timer is expired by the NEXT batch — unless that batch
    // carries new input for the key, which re-arms it first (input is
    // processed before expired timers within a batch).
    //   batch0: key1 ×2        → pending (2, 3.0), timer armed
    //   batch1: key1 +10.0     → folds to (3, 13.0), RE-ARMS (no flush
    //                            — the key was not idle)
    //   batch2: key2 +5.0      → key1's timer fires: flush (1,3,13.0)
    //   batch3: key1 +100.0    → FRESH state (proves the clear);
    //                            key2's timer fires: flush (2,1,5.0)
    //   drain:                 → key1's timer fires: flush (1,1,100.0)
    val batches = Seq(
      Seq((1L, 1.0), (1L, 2.0)),
      Seq((1L, 10.0)),
      Seq((2L, 5.0)),
      Seq((1L, 100.0))
    ).map(_.toDF("user_id", "value"))
    val staged = stageBatches("idle_flush", batches)
    val typed = StreamOps.fileStream(spark, batches.head.schema,
        staged, maxFilesPerTrigger = Some(1))
      .select(col("user_id"), col("value")).as[(Long, Double)]
    val out = StreamOps.idleFlushStream(typed, idleFlushMs = 1L)
      .toDF("user_id", "n", "total")
    // ProcessingTime mode never self-terminates under AvailableNow —
    // drain by the expected flush count
    val got = StreamOps.runToCompletion(out,
        s"spec_idle_flush_${System.nanoTime()}", outputMode = "append",
        statePartitions = Some(2), rocksDb = true,
        stopAfterRows = Some(3L))
      .select(col("user_id"), col("n"), col("total"))
      .as[(Long, Long, Double)].collect().toSeq
    assert(got.sorted === Seq((1L, 1L, 100.0), (1L, 3L, 13.0),
      (2L, 1L, 5.0)), s"unexpected flush set: $got")
    assert(got.count(_ == ((1L, 1L, 100.0))) === 1,
      "key1's post-flush state must restart from empty (n=1), which " +
        "also proves the flush cleared it")
  }
}
