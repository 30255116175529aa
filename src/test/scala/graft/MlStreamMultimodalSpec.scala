package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ml.IdsPipeline
import graft.ops.MultimodalOps
import graft.streaming.StreamOps

/** The four reference estimators (U3, `src/modelling.py:113-150`), the
  * streaming layer, and the multimodal plumbing. ML checks are smoke +
  * threshold (no SQL oracle exists for training — SURVEY §5). */
class MlStreamMultimodalSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // 2 classes separated by feature PROPORTIONS (dims 0-1 hot vs dims
  // 2-3 hot), not magnitude — multinomial NB is proportion-based and
  // can't split magnitude-only blobs; the others don't care either way
  private def blobs = {
    val rnd = new scala.util.Random(9)
    (0 until 400).map { i =>
      val cls = i % 2
      val vec = (0 until 4).map { d =>
        val hot = (cls == 0 && d < 2) || (cls == 1 && d >= 2)
        (if (hot) 5.0 else 1.0) + rnd.nextGaussian() * 0.3
      }
      (i.toLong, vec, cls.toString)
    }.toDF("id", "embedding", "label_s")
  }

  for (algo <- Seq(IdsPipeline.DT, IdsPipeline.RF, IdsPipeline.NB,
      IdsPipeline.MLP)) {
    test(s"IdsPipeline trains and scores with $algo (accuracy > 0.9)") {
      val df = blobs
      val Array(train, test) = df.randomSplit(Array(0.7, 0.3), 42L)
      val model = IdsPipeline.fitOnArray(train, "embedding", "label_s", algo)
      // NB requires nonnegative features; MinMaxScaler maps test rows
      // below the train minimum to negatives, so NB scores in-sample
      val evalSet = if (algo == IdsPipeline.NB) train else test
      val metrics = IdsPipeline.evaluate(model, evalSet, Some("embedding"))
      val acc = metrics.select("accuracy").head.getDouble(0)
      assert(acc > 0.9, s"$algo accuracy $acc")
    }
  }

  test("tumblingCounts over a staged stream equals the batch window agg") {
    val dir = SparkTestSession.tmpDir("stream_test")
    val events = (0 until 200).map { i =>
      (i.toLong, new java.sql.Timestamp(1700000000000L + i * 60000L),
        s"t${i % 3}", i.toDouble)
    }.toDF("event_id", "ts", "event_type", "value")
    events.write.mode("overwrite").parquet(dir.toString)

    val stream = StreamOps.fileStream(spark, events.schema, dir.toString)
    val agg = StreamOps.tumblingCounts(stream, "ts", "event_type",
      "1 hour", "1 hour")
    val got = StreamOps.runToCompletion(agg, s"t_${System.nanoTime()}")
      .select(col("window.start").as("ws"), col("event_type"), col("n"),
        col("total_value"))
    val want = events
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("total_value"))
      .select(col("window.start").as("ws"), col("event_type"), col("n"),
        col("total_value"))
    assert(got.exceptAll(want).count() === 0)
    assert(want.exceptAll(got).count() === 0)
  }

  test("asofJoin attaches the most recent right row at-or-before each " +
       "left row") {
    import graft.ops.RelOps
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val left = Seq((1L, ts(100), "p1"), (1L, ts(250), "p2"),
      (2L, ts(100), "p3")).toDF("k", "ts", "tag")
    val right = Seq((1L, ts(90), 10.0), (1L, ts(100), 11.0),
      (1L, ts(200), 12.0), (3L, ts(50), 99.0)).toDF("k", "ts", "v")
    val got = RelOps.asofJoin(left, right, "k", "ts", Seq("v"))
      .select("tag", "asof_v").collect()
      .map(r => r.getString(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(got("p1") === Some(11.0))   // exact-ts right row wins
    assert(got("p2") === Some(12.0))   // latest preceding
    assert(got("p3") === None)         // no right rows for key 2
  }

  test("asofJoin maxGap: matches beyond the tolerance are null, not " +
       "stale; in-gap matches unchanged; exact boundary still matches") {
    import graft.ops.RelOps
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val left = Seq((1L, ts(1000), "in_gap"), (2L, ts(1000), "beyond"),
      (3L, ts(1000), "boundary")).toDF("k", "ts", "tag")
    val right = Seq((1L, ts(990), 1.0),   // 10 s before — inside gap 30
      (2L, ts(900), 2.0),                 // 100 s before — beyond gap
      (3L, ts(970), 3.0)).toDF("k", "ts", "v") // exactly 30 s — inclusive
    val got = RelOps.asofJoin(left, right, "k", "ts", Seq("v"),
        maxGapSeconds = Some(30.0))
      .select("tag", "asof_v").collect()
      .map(r => r.getString(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(got("in_gap") === Some(1.0))
    assert(got("beyond") === None)     // the no-match-beyond-gap contract
    assert(got("boundary") === Some(3.0))
  }

  test("keyedParquetUpsert: batch 2 replaces overlapping keys, keeps " +
       "disjoint ones (MERGE, not append)") {
    val path = s"${SparkTestSession.tmpDir("upsert")}/test_keyed_upsert"
    StreamOps.dropUpsertTable(path)
    val sink = StreamOps.keyedParquetUpsert(spark, path, "k")
    sink(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), 0L)
    sink(Seq((2L, "B"), (3L, "c")).toDF("k", "v"), 1L)
    val got = spark.read.parquet(path).as[(Long, String)].collect().toSet
    assert(got === Set((1L, "a"), (2L, "B"), (3L, "c")))
  }

  test("asofJoin: a null payload VALUE in the matched row stays null " +
       "(no stale fill from older rows)") {
    import graft.ops.RelOps
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val left = Seq((1L, ts(300), "p")).toDF("k", "ts", "tag")
    val right = Seq((1L, ts(100), Some(5.0)), (1L, ts(200), None))
      .toDF("k", "ts", "v")
    val r = RelOps.asofJoin(left, right, "k", "ts", Seq("ts", "v")).head()
    // most recent right ROW is ts=200 with v=null — per-column filling
    // would wrongly stitch v=5.0 from the older row
    assert(r.getAs[java.sql.Timestamp]("asof_ts") === ts(200))
    assert(r.isNullAt(r.fieldIndex("asof_v")))
  }

  test("sessionizeStream emits the batch sessions minus each key's " +
       "open tail session") {
    import graft.ops.RelOps
    val dir = SparkTestSession.tmpDir("sess_stream")
    // user 1: events at 0s,10s,  gap  5000s,5040s,  gap  12000s (open)
    // user 2: single event (open tail only → nothing emitted)
    val raw = Seq(
      (1L, 0L), (1L, 10L), (1L, 5000L), (1L, 5040L), (1L, 12000L),
      (2L, 0L))
      .map { case (u, sec) =>
        (u, new java.sql.Timestamp(1700000000000L + sec * 1000L)) }
      .toDF("user_id", "ts")
    raw.write.mode("overwrite").parquet(dir.toString)
    val stream = StreamOps.fileStream(spark, raw.schema, dir.toString)
    val sessions = StreamOps.sessionizeStream(stream, "user_id", "ts", 1800L)
    val got = StreamOps.runToCompletion(sessions.toDF(),
        s"sess_${System.nanoTime()}", outputMode = "append")
      .select("user_id", "n_events").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // closed sessions: user1 [0,10] (n=2) and [5000,5040] (n=2);
    // user1's 12000 session and user2's only session stay open
    assert(got.sorted === Array((1L, 2L), (1L, 2L)))
  }

  test("sessionizeStream folds consecutive cross-batch stragglers into " +
       "ONE closed session, not singletons") {
    val dir = SparkTestSession.tmpDir("sess_strag")
    def ts(sec: Long) = new java.sql.Timestamp(1700000000000L + sec * 1000L)
    // batch 1 opens a session at t=10000; batch 2 delivers two
    // stragglers at t=0 and t=100 — both far before open.start − gap,
    // and within gap of EACH OTHER: they must close as one 2-event
    // session, not two singletons
    val f1 = new java.io.File(dir.toFile, "b1.parquet")
    val f2 = new java.io.File(dir.toFile, "b2.parquet")
    Seq((1L, ts(10000L))).toDF("user_id", "ts")
      .coalesce(1).write.mode("overwrite").parquet(f1.getPath)
    Seq((1L, ts(0L)), (1L, ts(100L))).toDF("user_id", "ts")
      .coalesce(1).write.mode("overwrite").parquet(f2.getPath)
    // file source processes oldest-modTime first; pin the order
    f1.setLastModified(1000000000000L)
    f2.setLastModified(1000000060000L)
    val schema = spark.read.parquet(f1.getPath).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/*")
    val sessions = StreamOps.sessionizeStream(stream, "user_id", "ts", 1800L)
    val got = StreamOps.runToCompletion(sessions.toDF(),
        s"strag_${System.nanoTime()}", outputMode = "append")
      .select("user_id", "sess_start", "sess_end", "n_events").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
        r.getLong(3)))
    assert(got.toSeq === Seq((1L, ts(0L), ts(100L), 2L)))
  }

  test("slidingCounts over a staged stream equals the batch sliding agg") {
    val dir = SparkTestSession.tmpDir("slide_test")
    val events = (0 until 120).map { i =>
      (i.toLong, new java.sql.Timestamp(1700000000000L + i * 60000L),
        s"t${i % 2}", i.toDouble)
    }.toDF("event_id", "ts", "event_type", "value")
    events.write.mode("overwrite").parquet(dir.toString)
    val stream = StreamOps.fileStream(spark, events.schema, dir.toString)
    val agg = StreamOps.slidingCounts(stream, "ts", "event_type",
      "30 minutes", "10 minutes", "1 hour")
    val got = StreamOps.runToCompletion(agg, s"sl_${System.nanoTime()}")
      .select(col("window.start").as("ws"), col("event_type"), col("n"))
    val want = events
      .groupBy(window(col("ts"), "30 minutes", "10 minutes"),
        col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("ws"), col("event_type"), col("n"))
    assert(got.exceptAll(want).count() === 0)
    assert(want.exceptAll(got).count() === 0)
  }

  test("dedupStream drops duplicate keys within the watermark horizon") {
    val dir = SparkTestSession.tmpDir("dedup_stream")
    // 50 logical events, each duplicated 3× — with RE-STAMPED
    // timestamps (i/50 varies), as a retransmission would arrive
    val events = (0 until 150).map { i =>
      val id = i % 50
      (id.toLong,
        new java.sql.Timestamp(1700000000000L + id * 1000L + (i / 50) * 7L),
        s"payload$id")
    }.toDF("event_id", "ts", "payload")
    events.write.mode("overwrite").parquet(dir.toString)
    val stream = StreamOps.fileStream(spark, events.schema, dir.toString)
    val deduped = StreamOps.dedupStream(stream, "ts", "10 minutes",
      "event_id")
    val got = StreamOps.runToCompletion(deduped,
      s"dd_${System.nanoTime()}", outputMode = "append")
    assert(got.count() === 50)
    assert(got.select("event_id").distinct().count() === 50)
  }

  test("scoreStream delivers scored micro-batches through foreachBatch") {
    val df = blobs
    val model = IdsPipeline.fitOnArray(df, "embedding", "label_s",
      IdsPipeline.DT)
    val dir = SparkTestSession.tmpDir("score_stream")
    df.write.mode("overwrite").parquet(dir.toString)
    val prepared = IdsPipeline.withArrayFeatures(
      StreamOps.fileStream(spark, df.schema, dir.toString), "embedding")
    val seen = new java.util.concurrent.atomic.AtomicLong(0)
    val q = StreamOps.scoreStream(prepared, model,
      (batch, _) => seen.addAndGet(
        batch.filter(col("prediction").isNotNull).count()))
    q.awaitTermination()
    assert(seen.get() === 400L)
  }

  test("stubDecode is deterministic byte math; empty payload → zeros") {
    val f = MultimodalOps.stubDecode("ab".getBytes("UTF-8"))
    // 'a'=97 → bucket 1, 'b'=98 → bucket 2; each /2
    assert(f(1) === 48.5 && f(2) === 49.0)
    assert(f.sum === (97 + 98) / 2.0)
    assert(MultimodalOps.stubDecode(Array.emptyByteArray).forall(_ == 0.0))
    assert(MultimodalOps.stubDecode(null).forall(_ == 0.0))
  }

  test("extractFeatures appends an 8-dim features column per row") {
    val media = MultimodalOps.asMedia(
      Seq((1L, "hello"), (2L, "")).toDF("doc_id", "text"), "doc_id", "text")
    val out = MultimodalOps.extractFeatures(media)
      .select("media_id", "features").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(out(1L).length === 8)
    assert(out(1L) === MultimodalOps.stubDecode("hello".getBytes).toSeq)
    assert(out(2L).forall(_ == 0.0))
  }

  test("resizePayload keeps every factor-th byte") {
    val media = MultimodalOps.asMedia(
      Seq((1L, "abcdefgh")).toDF("doc_id", "text"), "doc_id", "text")
    val r = MultimodalOps.resizePayload(media, factor = 3)
      .select("payload_resized", "n_bytes_resized").head()
    assert(new String(r.getAs[Array[Byte]](0)) === "adg")
    assert(r.getInt(1) === 3)
  }

  test("sampleFrames chunks payloads with the given stride") {
    val media = MultimodalOps.asMedia(
      Seq((1L, "abcdefghij")).toDF("doc_id", "text"), "doc_id", "text")
    val frames = MultimodalOps.sampleFrames(media, frameBytes = 2, stride = 2)
      .collect()
    // 5 chunks of 2 bytes, strides keep frames 0,2,4
    assert(frames.map(_.getInt(1)).sorted === Array(0, 2, 4))
    assert(frames.forall(_.getAs[Array[Byte]](2).length == 2))
  }
}
