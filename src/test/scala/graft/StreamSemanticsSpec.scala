package graft

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, Trigger, ValueState}
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamOps

/** Minimal `transformWithState` processor (the Spark-4 arbitrary-state
  * API succeeding flatMapGroupsWithState): a per-key running count in
  * a ValueState, emitted on every update. Top-level — the processor is
  * serialized to executors. */
class RunningCount extends StatefulProcessor[Long, (Long, Long), (Long, Long)] {
  @transient private var count: ValueState[Long] = _
  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    count = getHandle.getValueState[Long]("n", Encoders.scalaLong,
      TTLConfig.NONE)
  override def handleInputRows(key: Long, rows: Iterator[(Long, Long)],
                               timerValues: TimerValues)
      : Iterator[(Long, Long)] = {
    val n = (if (count.exists()) count.get() else 0L) + rows.size
    count.update(n)
    Iterator((key, n))
  }
}

/** Pins the watermark mechanics q91's oracle is built on, with a
  * controlled 3-file replay (maxFilesPerTrigger = 1):
  *
  *  - the late filter for batch N applies the watermark derived from
  *    batches ≤ N−2 (the updated watermark publishes only after a
  *    batch commits, and filtering uses the value in force at batch
  *    start) — so a late row in batch 1 survives a watermark that
  *    would drop it one batch later;
  *  - a late row in batch 2 whose window closed under max(batch-0) −
  *    delay IS dropped;
  *  - append mode emits exactly the windows closed by the final
  *    watermark; open windows never emit;
  *  - no window key is ever emitted twice (the filter boundary equals
  *    the prior eviction boundary, so late rows can't resurrect an
  *    evicted window's state).
  *
  * If a Spark upgrade shifts any of these, this suite fails before
  * the q91 oracle silently diverges.
  */
class StreamSemanticsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def stage(batches: Seq[Seq[(Long, String)]]): String = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import spark.implicits._
    val dirP = SparkTestSession.tmpDir("wm_sem")
    batches.zipWithIndex.foreach { case (rows, i) =>
      val tmp = s"$dirP/_tmp$i"
      rows.toDF("event_id", "tss")
        .withColumn("ts", to_timestamp(col("tss"))).drop("tss")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = Files.list(Paths.get(tmp))
        .filter(p => p.getFileName.toString.startsWith("part-"))
        .findFirst().get()
      val dest = dirP.resolve(s"batch$i.parquet")
      Files.move(part, dest, StandardCopyOption.REPLACE_EXISTING)
      Files.setLastModifiedTime(dest,
        java.nio.file.attribute.FileTime
          .fromMillis(1000000000000L + i * 600000L))
    }
    dirP.toString
  }

  test("late filter trails the commit by one batch; append emits " +
       "closed windows exactly once") {
    val dir = stage(Seq(
      // batch 0: wm after commit = 12:00 − 30m = 11:30
      Seq((1L, "2024-01-01 10:00:00"), (2L, "2024-01-01 12:00:00")),
      // batch 1: 10:15 is "late" vs 11:30 but filtered with the
      // batch-(-1) watermark (−∞) → KEPT; 14:00 advances wm to 13:30
      Seq((3L, "2024-01-01 10:15:00"), (4L, "2024-01-01 12:30:00"),
        (5L, "2024-01-01 14:00:00")),
      // batch 2: filtered with max(batch 0) − 30m = 11:30 →
      // 10:20 (window end 11:00 ≤ 11:30) DROPS,
      // 12:40 (window end 13:00 > 11:30) survives; 16:00 → final wm
      // 15:30, so [14,15) emits and [16,17) stays open
      Seq((6L, "2024-01-01 10:20:00"), (7L, "2024-01-01 12:40:00"),
        (8L, "2024-01-01 16:00:00"))))
    val schema = spark.read.parquet(dir).schema
    val agg = StreamOps.fileStream(spark, schema, dir,
        maxFilesPerTrigger = Some(1))
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"))
    val name = s"wm_sem_${System.nanoTime()}"
    val q = agg.writeStream.outputMode("append").format("memory")
      .queryName(name).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table(name)
      .select(date_format(col("window.start"), "HH:mm").as("w"), col("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    // exactly-once per window key
    assert(got.map(_._1).distinct.size === got.size)
    assert(got.sortBy(_._1) === Seq(
      "10:00" -> 2L,   // 10:00 + late-but-kept 10:15; 10:20 dropped
      "12:00" -> 3L,   // 12:00 + 12:30 + surviving 12:40
      "14:00" -> 1L))  // closed by final wm; [16,17) never emits
  }

  test("dedupStream state is BOUNDED by the watermark: a key re-sent " +
       "after its state expired is re-admitted (the observable " +
       "difference from unbounded dropDuplicates)") {
    val dir = stage(Seq(
      // batch 0: key 1 and key 2; key 1's state expires at
      // eventTime + delay = 10:10
      Seq((1L, "2024-01-01 10:00:00"), (2L, "2024-01-01 10:00:30")),
      // batch 1 (wm in force 09:50): key-1 retransmission @10:01 —
      // state alive → DROPPED; 12:00 advances the committed wm to 11:50
      Seq((1L, "2024-01-01 10:01:00"), (9L, "2024-01-01 12:00:00")),
      // batch 2 runs with wm 11:50 ≥ 10:10 — but state CLEANUP happens
      // at batch END, after the dedup check, so this batch only
      // triggers the eviction (filler key 8)
      Seq((8L, "2024-01-01 12:30:00")),
      // batch 3: key-1 state is gone — the re-send is ADMITTED as a
      // new event. Unbounded dropDuplicates would still drop it.
      Seq((1L, "2024-01-01 12:31:00"))))
    val schema = spark.read.parquet(dir).schema
    val deduped = StreamOps.dedupStream(
      StreamOps.fileStream(spark, schema, dir,
        maxFilesPerTrigger = Some(1)),
      "ts", "10 minutes", "event_id")
    val got = StreamOps.runToCompletion(deduped,
      s"dd_bound_${System.nanoTime()}", outputMode = "append")
    val perKey = got.groupBy(col("event_id")).count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(perKey === Map(1L -> 2L, 2L -> 1L, 8L -> 1L, 9L -> 1L),
      s"got $perKey — key 1 must appear twice (within-horizon dup " +
        "dropped, post-eviction re-send admitted)")
  }

  test("transformWithState (the Spark-4 arbitrary-state API): a " +
       "ValueState running count accumulates across micro-batches " +
       "under the RocksDB state store") {
    import spark.implicits._
    val dir = stage(Seq(
      Seq((1L, "2024-01-01 10:00:00"), (1L, "2024-01-01 10:01:00"),
        (2L, "2024-01-01 10:02:00")),
      Seq((1L, "2024-01-01 11:00:00"), (2L, "2024-01-01 11:01:00"),
        (2L, "2024-01-01 11:02:00"), (3L, "2024-01-01 11:03:00"))))
    val schema = spark.read.parquet(dir).schema
    val typed = StreamOps.fileStream(spark, schema, dir,
        maxFilesPerTrigger = Some(1))
      .select(col("event_id"), lit(1L).as("one"))
      .as[(Long, Long)]
    val out = typed.groupByKey(_._1)
      .transformWithState(new RunningCount,
        TimeMode.None(), OutputMode.Update())
    val prev = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state." +
        "RocksDBStateStoreProvider")
    val name = s"tws_${System.nanoTime()}"
    try {
      val q = out.toDF("key", "n").writeStream.outputMode("update")
        .format("memory").queryName(name)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    } finally {
      prev match {
        case Some(p) => spark.conf.set(
          "spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset(
          "spark.sql.streaming.stateStore.providerClass")
      }
    }
    // update mode appends each batch's emissions; the running count's
    // MAX per key is the cross-batch total — state survived the batch
    // boundary iff key 1 and 2 exceed their single-batch counts
    val totals = spark.table(name).groupBy("key")
      .agg(max("n").as("n")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(totals === Map(1L -> 3L, 2L -> 3L, 3L -> 1L))
  }
}
