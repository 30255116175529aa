package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{AggOps, FitArtifacts, MultimodalOps, RelOps}
import graft.streaming.StreamOps

/** Round-12 verdict/ADVICE items: the q162 degenerate guard, scd2
  * precondition enforcement + straggler observability + null-attr
  * batch/stream parity, persisted fit artifacts, adaptive cap
  * selection, and the real `javax.imageio` decode behind the stub
  * interface.
  */
class Round12OpsSpec extends AnyFunSuite {
  import SparkTestSession.{stageBatches, tmpDir}
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // ---------------------------------------------------------------- //
  // q162 degenerate-input guard (q224 parity)
  // ---------------------------------------------------------------- //

  test("q162: single-category input yields null cramers_v, not NaN") {
    val dir = tmpDir("q162_degen")
    (0 until 20).map { i =>
      (i.toLong, new java.sql.Timestamp(1700000000000L + i * 86400000L),
        i.toLong % 3, "only_type", i.toDouble, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = SparkEntry.queries("q162_chi_square")(spark, dir.toString)
      .collect()
    assert(r.length === 1)
    val row = r(0)
    assert(row.getLong(row.fieldIndex("dof")) === 0L)
    assert(row.isNullAt(row.fieldIndex("cramers_v")),
      "degenerate table must null V (q224 convention), not NaN")
  }

  // ---------------------------------------------------------------- //
  // scd2Apply precondition guards (round-12 ADVICE)
  // ---------------------------------------------------------------- //

  private def ts(ms: Long) = new java.sql.Timestamp(ms)

  private val scd2Base = Seq(
    (1L, "a", ts(1000L), 0L), (1L, "b", ts(5000L), 1L),
    (2L, "x", ts(2000L), 2L)
  ).toDF("k", "attr", "ts", "tie")

  private def rootCause(t: Throwable): String = {
    var cur = t
    val sb = new StringBuilder(Option(cur.getMessage).getOrElse(""))
    while (cur.getCause != null) {
      cur = cur.getCause
      sb.append(" | ").append(Option(cur.getMessage).getOrElse(""))
    }
    sb.toString
  }

  test("scd2Apply: a negative delta tie fails loudly (seed sentinel)") {
    val hist = RelOps.scd2Build(scd2Base, "k", Seq("attr"), "ts", "tie")
    val delta = Seq((1L, "c", ts(9000L), -5L))
      .toDF("k", "attr", "ts", "tie")
    val e = intercept[Throwable] {
      RelOps.scd2Apply(hist, delta, "k", Seq("attr"), "ts", "tie")
        .collect()
    }
    assert(rootCause(e).contains("scd2Apply"), rootCause(e))
  }

  test("scd2Apply: a straggler delta before the open version's " +
       "valid_from fails loudly instead of corrupting the history") {
    val hist = RelOps.scd2Build(scd2Base, "k", Seq("attr"), "ts", "tie")
    // key 1's open version starts at ts=5000; a delta at 3000 violates
    // the append-only CDC contract
    val delta = Seq((1L, "c", ts(3000L), 7L))
      .toDF("k", "attr", "ts", "tie")
    val e = intercept[Throwable] {
      RelOps.scd2Apply(hist, delta, "k", Seq("attr"), "ts", "tie")
        .collect()
    }
    assert(rootCause(e).contains("precedes the open version"),
      rootCause(e))
  }

  test("scd2Apply: guards are transparent on a valid delta " +
       "(full-rebuild identity still holds; new keys pass)") {
    val hist = RelOps.scd2Build(scd2Base, "k", Seq("attr"), "ts", "tie")
    val delta = Seq(
      (1L, "c", ts(9000L), 7L),   // after key 1's open valid_from
      (3L, "new", ts(100L), 8L)   // key new in the delta (null seed)
    ).toDF("k", "attr", "ts", "tie")
    val applied = RelOps
      .scd2Apply(hist, delta, "k", Seq("attr"), "ts", "tie")
      .orderBy("k", "version")
    val rebuilt = RelOps
      .scd2Build(scd2Base.unionByName(delta), "k", Seq("attr"), "ts",
        "tie")
      .orderBy("k", "version")
    assert(applied.collect().toSeq === rebuilt.collect().toSeq)
  }

  // ---------------------------------------------------------------- //
  // scd2Stream: straggler observability + null-attr parity
  // ---------------------------------------------------------------- //

  test("scd2Stream: dropped cross-batch stragglers are COUNTED " +
       "(observable, not silent) and produce no version") {
    val b1 = Seq((1L, "a", Some(10L), ts(100000L), 1L),
        (1L, "b", Some(20L), ts(200000L), 2L))
      .toDF("user_id", "event_type", "band", "ts", "event_id")
    // event_id 3 is OLDER than the open version (valid_from 200000)
    val b2 = Seq((1L, "zz", Some(99L), ts(150000L), 3L),
        (1L, "c", Some(30L), ts(300000L), 4L))
      .toDF("user_id", "event_type", "band", "ts", "event_id")
    val staged = stageBatches("scd2_straggler", Seq(b1, b2))
    val dropped = spark.sparkContext.longAccumulator(
      s"scd2_stragglers_${System.nanoTime()}")
    val stream = StreamOps.fileStream(spark, b1.schema, staged,
      maxFilesPerTrigger = Some(1))
    val versions = StreamOps.scd2Stream(stream, "user_id",
      Seq("event_type", "band"), "ts", "event_id",
      droppedStragglers = Some(dropped))
    val got = StreamOps.runToCompletion(versions,
        s"scd2s_${System.nanoTime()}", outputMode = "append",
        statePartitions = Some(4))
      .orderBy("version").collect()
    assert(dropped.value === 1L, s"straggler count ${dropped.value}")
    // closed versions: a(100000→200000), b(200000→300000); the
    // straggler "zz" versions nowhere
    assert(got.map(_.getString(1)).toSeq === Seq("a", "b"))
    assert(!got.map(_.getString(1)).contains("zz"))
  }

  test("scd2Stream: null tracked attribute versions like the batch " +
       "build (null==null is a no-op change; null→value opens)") {
    val b1 = Seq((5L, "t", Some(1L), ts(100000L), 1L),
        (5L, "t", None: Option[Long], ts(200000L), 2L))
      .toDF("user_id", "event_type", "band", "ts", "event_id")
    val b2 = Seq((5L, "t", None: Option[Long], ts(300000L), 3L),
        (5L, "t", Some(2L), ts(400000L), 4L))
      .toDF("user_id", "event_type", "band", "ts", "event_id")
    val staged = stageBatches("scd2_nullattr", Seq(b1, b2))
    val stream = StreamOps.fileStream(spark, b1.schema, staged,
      maxFilesPerTrigger = Some(1))
    val versions = StreamOps.scd2Stream(stream, "user_id",
      Seq("event_type", "band"), "ts", "event_id")
    val got = StreamOps.runToCompletion(versions,
        s"scd2n_${System.nanoTime()}", outputMode = "append",
        statePartitions = Some(4))
      .select("user_id", "event_type", "band", "valid_from_us",
        "valid_to_us", "version")
      .orderBy("version")
    val want = RelOps.scd2Build(b1.unionByName(b2), "user_id",
        Seq("event_type", "band"), "ts", "event_id")
      .filter(!col("is_current"))
      .select("user_id", "event_type", "band", "valid_from_us",
        "valid_to_us", "version")
      .orderBy("version")
    assert(got.collect().toSeq === want.collect().toSeq)
    // the null-band version (1→null at 200000, closed by null→2 at
    // 400000 — the 300000 null==null row is a no-op on both paths)
    val g = got.collect()
    assert(g.length === 2)
    assert(g(1).isNullAt(2), "second closed version carries null band")
  }

  test("scd2ApplyWithDeletes: full-rebuild identity across every " +
       "boundary shape (delta tombstone closes; re-add after an " +
       "ended-deleted history; new key; untouched pass-through)") {
    val all = Seq(
      // key 1: open at the boundary; delta tombstone closes it, then
      // a re-add
      (1L, "a", ts(1000L), 1L, false), (1L, "x", ts(9000L), 2L, true),
      (1L, "b", ts(12000L), 3L, false),
      // key 2: history ENDS DELETED; delta re-adds (version must
      // continue) then another tombstone
      (2L, "p", ts(1000L), 4L, false), (2L, "q", ts(2000L), 5L, true),
      (2L, "r", ts(10000L), 6L, false), (2L, "s", ts(11000L), 7L, true),
      // key 3: untouched by the delta
      (3L, "z", ts(1000L), 8L, false),
      // key 4: new in the delta, starts with a leading tombstone
      (4L, "t", ts(9500L), 9L, true), (4L, "u", ts(10500L), 10L, false)
    ).toDF("k", "attr", "ts", "tie", "deleted")
    val base = all.filter(col("ts") < lit(ts(9000L)))
    val delta = all.filter(col("ts") >= lit(ts(9000L)))
    val hist0 = RelOps.scd2Build(base, "k", Seq("attr"),
      "ts", "tie", Some("deleted"))
    val applied = RelOps.scd2Apply(hist0, delta, "k",
        Seq("attr"), "ts", "tie", Some("deleted"))
      .orderBy("k", "version")
    val rebuilt = RelOps.scd2Build(all, "k", Seq("attr"),
        "ts", "tie", Some("deleted"))
      .orderBy("k", "version")
    assert(applied.collect().toSeq === rebuilt.collect().toSeq)
    // the shapes the seeds must get right, spelled out:
    val rows = applied.collect().map(r => (r.getLong(0),
      r.getString(1), r.getLong(4), r.getBoolean(5))).toSeq
    assert(rows === Seq(
      (1L, "a", 1L, false), // closed by the delta tombstone @9s
      (1L, "b", 2L, true),  // re-opened, current
      (2L, "p", 1L, false), // closed by the base tombstone @2s
      (2L, "r", 2L, false), // version CONTINUED past the delete gap,
                            // closed by the delta tombstone @11s
      (3L, "z", 1L, true),  // untouched pass-through
      (4L, "u", 1L, true))) // leading delta tombstone emitted nothing
    // and the tombstone close instants are exact
    val k1v1 = applied.filter(col("k") === 1 && col("version") === 1)
      .head()
    assert(k1v1.getLong(k1v1.fieldIndex("valid_to_us")) === 9000000L)
  }

  test("scd2StreamWithDeletes: tombstone crossing a batch boundary " +
       "closes in-stream; live-version counter survives the gap; " +
       "equals the batch tombstone build minus current rows") {
    // batch 1: open a @100s; batch 2: tombstone @200s, re-open b
    // @300s (version must be 2, not 1); batch 3: change c @400s
    val b1 = Seq((7L, "a", Some(1L), ts(100000L), 1L, false))
      .toDF("user_id", "event_type", "band", "ts", "event_id",
        "deleted")
    val b2 = Seq((7L, "x", Some(9L), ts(200000L), 2L, true),
        (7L, "b", Some(2L), ts(300000L), 3L, false))
      .toDF("user_id", "event_type", "band", "ts", "event_id",
        "deleted")
    val b3 = Seq((7L, "c", Some(3L), ts(400000L), 4L, false))
      .toDF("user_id", "event_type", "band", "ts", "event_id",
        "deleted")
    val staged = stageBatches("scd2_del_stream", Seq(b1, b2, b3))
    val stream = StreamOps.fileStream(spark, b1.schema, staged,
      maxFilesPerTrigger = Some(1))
    val versions = StreamOps.scd2Stream(stream, "user_id",
      Seq("event_type", "band"), "ts", "event_id", Some("deleted"))
    val got = StreamOps.runToCompletion(versions,
        s"scd2d_${System.nanoTime()}", outputMode = "append",
        statePartitions = Some(4))
      .select("user_id", "event_type", "band", "valid_from_us",
        "valid_to_us", "version")
      .orderBy("version")
    val want = RelOps.scd2Build(
        b1.unionByName(b2).unionByName(b3), "user_id",
        Seq("event_type", "band"), "ts", "event_id", Some("deleted"))
      .filter(!col("is_current"))
      .select("user_id", "event_type", "band", "valid_from_us",
        "valid_to_us", "version")
      .orderBy("version")
    assert(got.collect().toSeq === want.collect().toSeq)
    val g = got.collect()
    // a closed BY TOMBSTONE at 200s; b (version 2 — counter survived
    // the delete gap) closed by the change to c at 400s
    assert(g.map(_.getString(1)).toSeq === Seq("a", "b"))
    assert(g(0).getLong(4) === 200000000L)
    assert(g.map(_.getLong(5)).toSeq === Seq(1L, 2L))
  }

  test("scd2Stream horizon: a straggler hiding behind a SUPPRESSED " +
       "no-op change is dropped and counted (seenUs advances where " +
       "fromUs cannot)") {
    // batch 1: a@100s opens, a@300s is a suppressed no-op (fromUs
    // stays 100s but the horizon must advance to 300s)
    val b1 = Seq((1L, "a", Some(1L), ts(100000L), 1L),
        (1L, "a", Some(1L), ts(300000L), 2L))
      .toDF("user_id", "event_type", "band", "ts", "event_id")
    // batch 2: b@200s is BEHIND the suppressed no-op — the batch
    // build over the ordered log would have versioned it between the
    // two a-rows, so accepting it here silently diverges; it must
    // drop
    val b2 = Seq((1L, "b", Some(2L), ts(200000L), 3L),
        (1L, "c", Some(3L), ts(400000L), 4L))
      .toDF("user_id", "event_type", "band", "ts", "event_id")
    val staged = stageBatches("scd2_noop_straggler", Seq(b1, b2))
    val dropped = spark.sparkContext.longAccumulator(
      s"noop_straggler_${System.nanoTime()}")
    val stream = StreamOps.fileStream(spark, b1.schema, staged,
      maxFilesPerTrigger = Some(1))
    val versions = StreamOps.scd2Stream(stream, "user_id",
      Seq("event_type", "band"), "ts", "event_id",
      droppedStragglers = Some(dropped))
    val got = StreamOps.runToCompletion(versions,
        s"scd2h_${System.nanoTime()}", outputMode = "append",
        statePartitions = Some(4))
      .orderBy("version").collect()
    assert(dropped.value === 1L, s"count ${dropped.value}")
    assert(got.map(_.getString(1)).toSeq === Seq("a"),
      "only a's close by c@400s emits; b@200s must not version")
    assert(got(0).getLong(got(0).fieldIndex("valid_to_us"))
      === 400000000L)
  }

  test("scd2StreamWithDeletes horizon: a straggler behind a REPEATED " +
       "tombstone is dropped (the tombstone advances seenUs)") {
    val b1 = Seq((2L, "a", Some(1L), ts(100000L), 1L, false),
        (2L, "x", Some(9L), ts(200000L), 2L, true),
        (2L, "y", Some(8L), ts(300000L), 3L, true)) // repeated: no-op
      .toDF("user_id", "event_type", "band", "ts", "event_id",
        "deleted")
    // b@250s hides behind the repeated tombstone at 300s
    val b2 = Seq((2L, "b", Some(2L), ts(250000L), 4L, false))
      .toDF("user_id", "event_type", "band", "ts", "event_id",
        "deleted")
    val staged = stageBatches("scd2_del_straggler", Seq(b1, b2))
    val dropped = spark.sparkContext.longAccumulator(
      s"del_straggler_${System.nanoTime()}")
    val stream = StreamOps.fileStream(spark, b1.schema, staged,
      maxFilesPerTrigger = Some(1))
    val versions = StreamOps.scd2Stream(stream, "user_id",
      Seq("event_type", "band"), "ts", "event_id", Some("deleted"),
      droppedStragglers = Some(dropped))
    val got = StreamOps.runToCompletion(versions,
        s"scd2hd_${System.nanoTime()}", outputMode = "append",
        statePartitions = Some(4))
      .collect()
    assert(dropped.value === 1L, s"count ${dropped.value}")
    // only a's tombstone close emitted; the straggler re-add dropped
    assert(got.map(_.getString(1)).toSeq === Seq("a"))
  }

  test("tClosenessAudit: null sensitive values are a real category — " +
       "the grid join is null-safe on both sides") {
    // global mix: 2x a, 2x null. g1 mirrors it exactly (t = 0);
    // g2 = 2x null only (t = 1/2(|0-1/2| + |1-1/2|) = 0.5)
    val df = Seq(("g1", Some("a")), ("g1", Some("a")),
        ("g1", None: Option[String]), ("g1", None: Option[String]),
        ("g2", None: Option[String]), ("g2", None: Option[String]),
        ("g2", None: Option[String]), ("g2", None: Option[String]))
      .toDF("qi", "s")
    val r = graft.ops.CleanOps
      .tClosenessAudit(df, Seq("qi"), "s", threshold = 0.25)
      .orderBy("qi").collect()
    val ti = r(0).fieldIndex("t")
    assert(r(0).getDouble(ti) === 0.25,
      "g1: |2/4-2/8| + |2/4-6/8| over 2 = 0.25")
    assert(r(1).getDouble(ti) === 0.25,
      "g2: all-null group vs 6/8 null global")
  }

  // ---------------------------------------------------------------- //
  // FitArtifacts (round-12 verdict task 3)
  // ---------------------------------------------------------------- //

  test("FitArtifacts: centroid save/load round-trips bit for bit and " +
       "rejects a non-contiguous artifact") {
    val dir = tmpDir("fit_cents")
    val cents = Array(Array(1L, -2L, 3L), Array(4L, 5L, -6L),
      Array(0L, 0L, 7L))
    FitArtifacts.saveCentroids(spark, s"$dir/c", cents)
    val loaded = FitArtifacts.loadCentroids(spark, s"$dir/c")
    assert(loaded.map(_.toSeq).toSeq === cents.map(_.toSeq).toSeq)
    // corrupt: drop cell 1 → contiguity check must fail
    spark.read.parquet(s"$dir/c").filter(col("cell") =!= 1)
      .write.mode("overwrite").parquet(s"$dir/corrupt")
    val e = intercept[IllegalArgumentException] {
      FitArtifacts.loadCentroids(spark, s"$dir/corrupt")
    }
    assert(e.getMessage.contains("not contiguous"))
  }

  test("FitArtifacts: BPE merge list round-trips in training order") {
    val dir = tmpDir("fit_merges")
    val merges = Seq((1L, "a", "b", 10L), (2L, "ab", "c", 7L),
        (3L, "d", "e", 5L))
      .toDF("round", "sym_a", "sym_b", "pair_count")
    FitArtifacts.saveMerges(merges, s"$dir/m")
    assert(FitArtifacts.loadMerges(spark, s"$dir/m") ===
      Seq(("a", "b"), ("ab", "c"), ("d", "e")))
    // generic table round trip (cut dictionaries etc.)
    val cuts = Seq((0L, 10L), (1L, 20L)).toDF("bin", "hi")
    FitArtifacts.saveTable(cuts, s"$dir/cuts")
    assert(FitArtifacts.loadTable(spark, s"$dir/cuts")
      .orderBy("bin").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSeq === Seq((0L, 10L), (1L, 20L)))
  }

  test("q276 (persisted fit) replays q48 (memo fit) identically") {
    val dir = "/root/testdata/sf0.001"
    val a = SparkEntry.queries("q276_fit_artifact")(spark, dir).collect()
    val b = SparkEntry.queries("q48_ann_ivf")(spark, dir).collect()
    assert(a.toSeq === b.toSeq)
    assert(a.nonEmpty)
  }

  // ---------------------------------------------------------------- //
  // Adaptive cap selection (round-12 verdict task 5)
  // ---------------------------------------------------------------- //

  test("capReport: derived cap binds on the hot bucket and not on a " +
       "uniform bucketing") {
    // 100 uniform buckets of 5 rows + 1 mega-bucket of 500 rows
    val hot = spark.range(500).select(lit("HOT").as("bucket"))
      .unionAll(spark.range(500).select(
        concat(lit("u"), (col("id") % 100)).as("bucket")))
    val r = AggOps.capReport(hot, "bucket", floor = 4, pPct = 99)
      .head()
    assert(r.getLong(r.fieldIndex("n_buckets")) === 101L)
    assert(r.getLong(r.fieldIndex("max_size")) === 500L)
    assert(r.getLong(r.fieldIndex("p_size")) === 5L,
      "p99 excludes the 1-of-101 mega bucket")
    val cap = r.getLong(r.fieldIndex("cap"))
    assert(cap === 5L)
    assert(cap < 500L, "cap BINDS on the hot bucket")
    // uniform fixture: every bucket at the common size → cap covers all
    val uniform = spark.range(500).select(
      concat(lit("u"), (col("id") % 100)).as("bucket"))
    val u = AggOps.capReport(uniform, "bucket", floor = 4, pPct = 99)
      .head()
    assert(u.getLong(u.fieldIndex("cap")) === 5L)
    assert(u.getLong(u.fieldIndex("max_size")) === 5L,
      "cap does NOT bind on the uniform bucketing")
    // floor dominates tiny distributions; empty input yields the floor
    val tiny = Seq("a", "b").toDF("bucket")
    assert(AggOps.recommendCap(tiny, "bucket", floor = 64) === 64)
    assert(AggOps.recommendCap(tiny.limit(0), "bucket", floor = 64)
      === 64)
    assert(AggOps.recommendCap(hot, "bucket", floor = 4, pPct = 99)
      === 5)
  }

  test("q284 loop: the DERIVED cap fed into cappedPairsFromBuckets " +
       "downgrades the hot bucket to linear emission") {
    // bucketed rows: 100 buckets of 5 ids + 1 hot bucket of 200 ids
    val rows = spark.range(500)
      .select(concat(lit("u"), (col("id") % 100)).as("bucket"),
        col("id"))
      .unionAll(spark.range(1000, 1200)
        .select(lit("HOT").as("bucket"), col("id")))
    val cap = AggOps.recommendCap(rows, "bucket", floor = 4, pPct = 99)
    assert(cap === 5)
    val buckets = rows.groupBy("bucket")
      .agg(sort_array(collect_list(col("id"))).as("_ids"))
      .filter(size(col("_ids")) > 1).select("_ids")
    val pairs = graft.ops.DedupOps
      .cappedPairsFromBuckets(buckets, "_ids", cap)
    // hot bucket: 199 rep-anchored pairs, NOT C(200,2) = 19900;
    // uniform buckets: C(5,2) = 10 each
    val hotPairs = pairs.filter(col("id_a") === 1000L).count()
    assert(hotPairs === 199L, s"hot bucket emitted $hotPairs")
    assert(pairs.count() === 100L * 10 + 199)
  }

  // ---------------------------------------------------------------- //
  // Label propagation (q280) and t-closeness (q281)
  // ---------------------------------------------------------------- //

  test("labelPropagation: two triangles joined by one bridge resolve " +
       "to two communities (CC would merge them)") {
    // triangle {0,1,2}, triangle {10,11,12}, bridge 2—10
    val edges = Seq((0L, 1L), (1L, 2L), (0L, 2L),
        (10L, 11L), (11L, 12L), (10L, 12L), (2L, 10L))
      .toDF("src", "dst")
    val labs = graft.ops.GraphOps.labelPropagation(edges, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // min-label tie rule floods each triangle from its smallest id
    assert(labs(0) === labs(1) && labs(1) === labs(2))
    assert(labs(10) === labs(11) && labs(11) === labs(12))
    assert(labs(0) !== labs(10), "bridge must NOT merge the triangles")
    // sanity: connected components WOULD merge them
    val cc = graft.ops.DedupOps.connectedComponents(
      edges.select(col("src").as("id")).unionAll(
        edges.select(col("dst").as("id"))).distinct(),
      edges.select(col("src").as("id_a"), col("dst").as("id_b")), "id")
    assert(cc.select("comp").distinct().count() === 1L)
  }

  test("labelPropagation: most-frequent-neighbor rule with smallest-" +
       "label tie break, hand-computed") {
    // star: node 9 has neighbors 1,2,3 (labels 1,2,3 after round 1's
    // propagation of init labels) — tie on count, smallest label wins
    val edges = Seq((9L, 1L), (9L, 2L), (9L, 3L)).toDF("src", "dst")
    val labs = graft.ops.GraphOps.labelPropagation(edges, 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(labs(9) === 1L, "tie among {1,2,3} breaks to smallest")
    // leaves each see only the hub's init label
    assert(labs(1) === 9L && labs(2) === 9L && labs(3) === 9L)
  }

  test("tClosenessAudit: hand-computed total variation; a group " +
       "mirroring the global mix has t = 0") {
    // global sensitive mix: 4x a, 4x b. Group g1 = 2a+2b (mirrors,
    // t=0); g2 = 2a (t = 1/2|2/2-4/8| + 1/2|0-4/8| = 0.5); g3 = 2b
    val df = Seq(
      ("g1", "a"), ("g1", "a"), ("g1", "b"), ("g1", "b"),
      ("g2", "a"), ("g2", "a"), ("g3", "b"), ("g3", "b")
    ).toDF("qi", "s")
    val r = graft.ops.CleanOps
      .tClosenessAudit(df, Seq("qi"), "s", threshold = 0.25)
      .orderBy("qi").collect()
    assert(r.map(_.getDouble(r(0).fieldIndex("t"))).toSeq ===
      Seq(0.0, 0.5, 0.5))
    assert(r.map(_.getBoolean(r(0).fieldIndex("close"))).toSeq ===
      Seq(true, false, false))
    assert(r.map(_.getLong(r(0).fieldIndex("n"))).toSeq ===
      Seq(4L, 2L, 2L))
  }

  test("q278 cut rule: out-of-range serving values clamp to the edge " +
       "bins (the #{interior bounds < v} spelling)") {
    // dictionary his = [10, 20, 30]; interior bounds = [10, 20]
    val his = Array(10L, 20L, 30L)
    val binExpr = his.init.foldLeft(lit(0)) { (acc, h) =>
      acc + when(col("v") > h, 1).otherwise(0) }
    val got = Seq(-5L, 10L, 11L, 20L, 25L, 99L).toDF("v")
      .select(col("v"), binExpr.as("bin")).orderBy("v")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(got === Seq((-5L, 0), (10L, 0), (11L, 1), (20L, 1),
      (25L, 2), (99L, 2)))
  }

  // ---------------------------------------------------------------- //
  // SCD2 tombstones (q282) and modularity (q283)
  // ---------------------------------------------------------------- //

  test("scd2BuildWithDeletes: tombstone closes without reopening; " +
       "delete -> re-add of the same value reopens; terminal delete " +
       "leaves no current row; repeated tombstones collapse") {
    val rows = Seq(
      // key 1: add a @1s, delete @2s, re-add a @3s (same value!),
      // delete @4s, delete @5s (repeat collapses)
      (1L, "a", ts(1000L), 1L, false),
      (1L, "x", ts(2000L), 2L, true),
      (1L, "a", ts(3000L), 3L, false),
      (1L, "y", ts(4000L), 4L, true),
      (1L, "z", ts(5000L), 5L, true),
      // key 2: leading tombstone then add b — only b emits
      (2L, "q", ts(1000L), 6L, true),
      (2L, "b", ts(2000L), 7L, false)
    ).toDF("k", "attr", "ts", "tie", "deleted")
    val got = RelOps.scd2Build(rows, "k", Seq("attr"),
        "ts", "tie", Some("deleted"))
      .orderBy("k", "version")
      .select("k", "attr", "valid_from_us", "valid_to_us", "version",
        "is_current")
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getLong(2), if (r.isNullAt(3)) -1L else r.getLong(3),
        r.getLong(4), r.getBoolean(5))).toSeq
    assert(got === Seq(
      (1L, "a", 1000000L, 2000000L, 1L, false), // closed by tombstone
      (1L, "a", 3000000L, 4000000L, 2L, false), // re-add reopens,
                                                // closed by 2nd delete
      (2L, "b", 2000000L, -1L, 1L, true)))      // leading delete
                                                // emitted nothing
  }

  test("scd2BuildWithDeletes: null deleted reads as false " +
       "(degenerate input keeps plain scd2Build semantics)") {
    val rows = Seq((1L, "a", ts(1000L), 1L, None: Option[Boolean]),
        (1L, "b", ts(2000L), 2L, None: Option[Boolean]))
      .toDF("k", "attr", "ts", "tie", "deleted")
    val got = RelOps.scd2Build(rows, "k", Seq("attr"),
      "ts", "tie", Some("deleted"))
    val plain = RelOps.scd2Build(rows.drop("deleted"), "k",
      Seq("attr"), "ts", "tie")
    assert(got.orderBy("version").collect().toSeq ===
      plain.orderBy("version").collect().toSeq)
  }

  test("modularity: hand-computed on two triangles + one bridge") {
    // m = 7 canonical edges; perfect 2-community split:
    // e_c = 3 each, d_c = 7 each (bridge adds 1 to node 2 and 10)
    // Q = 2 * (3/7 - (7/14)^2) = 6/7 - 1/2 = 5/14 = 0.357143
    val edges = Seq((0L, 1L), (1L, 2L), (0L, 2L),
        (10L, 11L), (11L, 12L), (10L, 12L), (2L, 10L))
      .toDF("src", "dst")
    val assign = graft.ops.GraphOps.labelPropagation(edges, 4)
    val r = graft.ops.GraphOps.modularity(edges, assign).head()
    assert(r.getLong(0) === 2L, "two communities")
    assert(r.getLong(1) === 7L, "seven canonical edges")
    assert(r.getDouble(2) === 0.357143)
    // degenerate: everything in one community -> Q = 1*(7/7 - 1) = 0
    val one = edges.select(col("src").as("id")).unionAll(
        edges.select(col("dst").as("id"))).distinct()
      .select(col("id"), lit(0L).as("lab"))
    val r1 = graft.ops.GraphOps.modularity(edges, one).head()
    assert(r1.getDouble(2) === 0.0)
  }

  // ---------------------------------------------------------------- //
  // Real image decode (round-12 verdict task 7)
  // ---------------------------------------------------------------- //

  /** An 8×4 PNG: left half black, right half white (or inverted). */
  private def halfPng(invert: Boolean): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(8, 4,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 4; x <- 0 until 8) {
      val white = (x >= 4) != invert
      img.setRGB(x, y, if (white) 0xffffff else 0x000000)
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  test("imageLuma: real PNG decode yields exact BT.601 integer luma") {
    val luma = MultimodalOps.imageLuma(halfPng(invert = false))
    assert(luma.length === 32)
    // row-major: each row is 4 black then 4 white
    for (y <- 0 until 4; x <- 0 until 8)
      assert(luma(y * 8 + x) === (if (x >= 4) 255L else 0L))
    // a gray pixel decodes to its own value: (299+587+114)*g/1000 = g
    val g = new java.awt.image.BufferedImage(1, 1,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    g.setRGB(0, 0, 0x646464) // 100,100,100
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(g, "png", bos)
    assert(MultimodalOps.imageLuma(bos.toByteArray).toSeq === Seq(100L))
    // undecodable/null payloads follow the stub's degenerate convention
    assert(MultimodalOps.imageLuma("not a png".getBytes).isEmpty)
    assert(MultimodalOps.imageLuma(null).isEmpty)
    assert(MultimodalOps.imageFeatures(null).toSeq ===
      Seq.fill(8)(0.0))
  }

  test("aHash32 over REAL decoded luma: bright cells set exactly the " +
       "expected bits, and the inverted image sets the complement") {
    val df = Seq((1L, halfPng(invert = false)),
        (2L, halfPng(invert = true)))
      .toDF("media_id", "payload")
    val hashes = MultimodalOps.decodeLuma(df)
      .select(col("media_id"),
        MultimodalOps.aHash32FromLongs(col("luma")).as("phash"))
      .orderBy("media_id").collect()
    // 32 luma values → cell g IS position g; mean 127.5; white (255)
    // cells exceed it. Image 1: white at x>=4 → bits {g: g%8 >= 4}.
    val expect1 = (0 until 32).filter(_ % 8 >= 4).map(1L << _).sum
    val expect2 = (0 until 32).filter(_ % 8 < 4).map(1L << _).sum
    assert(hashes(0).getLong(1) === expect1)
    assert(hashes(1).getLong(1) === expect2)
    // identical payloads collide (the dedup invariant)
    val again = MultimodalOps.decodeLuma(
        Seq((3L, halfPng(invert = false))).toDF("media_id", "payload"))
      .select(MultimodalOps.aHash32FromLongs(col("luma"))).head()
      .getLong(0)
    assert(again === hashes(0).getLong(1))
  }

  test("extractFeatures accepts the real decoder as a drop-in for the " +
       "stub (the production-swap contract)") {
    val df = Seq((1L, halfPng(invert = false))).toDF("media_id", "payload")
    val feats = MultimodalOps.extractFeatures(df,
        decode = MultimodalOps.imageFeatures)
      .select("features").head().getSeq[Double](0)
    assert(feats.length === 8)
    // 16 white lumas of 255 land in bin 255 % 8 = 7, averaged over 32
    assert(math.abs(feats(7) - 255.0 * 16 / 32) < 1e-9)
    assert(feats.take(7).forall(_ === 0.0))
  }
}
