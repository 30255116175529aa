package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{DedupOps, FitArtifacts, RelOps, SimilarityOps}
import graft.streaming.StreamOps

/** Round-13 verdict/ADVICE items: the `(seenUs, seenTie)`
  * lexicographic straggler horizon (equal-timestamp gap), the
  * buffer-bounded capped pair expansion, multi-attribute streaming
  * SCD2, fit-artifact provenance, and adaptive caps on the remaining
  * static-cap paths.
  */
class Round13OpsSpec extends AnyFunSuite {
  import SparkTestSession.{stageBatches, tmpDir}
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def ts(ms: Long) = new java.sql.Timestamp(ms)

  // ---------------------------------------------------------------- //
  // (seenUs, seenTie) lexicographic straggler horizon (round-13
  // ADVICE: a cross-batch row with ts == seenUs but a SMALLER tie is
  // out of (ts, tie) order too and must drop+count, not re-version)
  // ---------------------------------------------------------------- //

  test("scd2Stream horizon: equal-timestamp smaller-tie cross-batch " +
       "row is a straggler (dropped + counted), not a new version") {
    val b1 = Seq((1L, "a", Some(10L), ts(100000L), 1L),
        (1L, "b", Some(20L), ts(200000L), 5L))
      .toDF("user_id", "event_type", "band", "ts", "event_id")
    // ts equals the accepted horizon (200000) but tie 3 < 5: in batch
    // (ts, tie) order this row would sort BEFORE the open version —
    // unversionable online, so it must drop into the counter
    val b2 = Seq((1L, "zz", Some(99L), ts(200000L), 3L),
        (1L, "c", Some(30L), ts(300000L), 6L))
      .toDF("user_id", "event_type", "band", "ts", "event_id")
    val staged = stageBatches("scd2_tie_straggler", Seq(b1, b2))
    val dropped = spark.sparkContext.longAccumulator(
      s"scd2_tie_stragglers_${System.nanoTime()}")
    val stream = StreamOps.fileStream(spark, b1.schema, staged,
      maxFilesPerTrigger = Some(1))
    val versions = StreamOps.scd2Stream(stream, "user_id",
      Seq("event_type", "band"), "ts", "event_id",
      droppedStragglers = Some(dropped))
    val got = StreamOps.runToCompletion(versions,
        s"scd2tie_${System.nanoTime()}", outputMode = "append",
        statePartitions = Some(4))
      .orderBy("version").collect()
    assert(dropped.value === 1L, s"straggler count ${dropped.value}")
    assert(got.map(_.getString(1)).toSeq === Seq("a", "b"))
  }

  test("scd2StreamWithDeletes horizon: equal-timestamp smaller-tie " +
       "cross-batch row drops under the lexicographic rule") {
    val b1 = Seq((2L, "a", Some(1L), ts(100000L), 2L, false),
        (2L, "x", Some(9L), ts(200000L), 7L, true)) // tombstone closes
      .toDF("user_id", "event_type", "band", "ts", "event_id", "deleted")
    // equal-ts (200000) smaller-tie (4 < 7) live row arriving after
    // the tombstone batch: out of order, must not re-open
    val b2 = Seq((2L, "late", Some(50L), ts(200000L), 4L, false),
        (2L, "c", Some(3L), ts(300000L), 9L, false))
      .toDF("user_id", "event_type", "band", "ts", "event_id", "deleted")
    val staged = stageBatches("scd2d_tie_straggler", Seq(b1, b2))
    val dropped = spark.sparkContext.longAccumulator(
      s"scd2d_tie_stragglers_${System.nanoTime()}")
    val stream = StreamOps.fileStream(spark, b1.schema, staged,
      maxFilesPerTrigger = Some(1))
    val versions = StreamOps.scd2Stream(stream, "user_id",
      Seq("event_type", "band"), "ts", "event_id", Some("deleted"),
      droppedStragglers = Some(dropped))
    val got = StreamOps.runToCompletion(versions,
        s"scd2dtie_${System.nanoTime()}", outputMode = "append",
        statePartitions = Some(4))
      .orderBy("version").collect()
    assert(dropped.value === 1L, s"straggler count ${dropped.value}")
    // only version 1 ("a", closed by the tombstone at 200000); the
    // late equal-ts row opens nothing, "c" re-opens and stays OPEN
    // (closed-only emission) — so exactly one closed row
    assert(got.map(_.getString(1)).toSeq === Seq("a"))
  }

  // ---------------------------------------------------------------- //
  // cappedPairsFromMembers: buffer-bounded capped expansion (round-13
  // verdict task 2 — no over-cap member array is ever built)
  // ---------------------------------------------------------------- //

  /** Mixed corpus: one mega-bucket (500 members, well over cap), two
    * healthy buckets, one singleton. */
  private def memberRows(): DataFrame = {
    val mega = (0 until 500).map(i => ("hot", i.toLong))
    val b1 = Seq(("b1", 1000L), ("b1", 1001L), ("b1", 1002L))
    val b2 = Seq(("b2", 2000L), ("b2", 2001L))
    val single = Seq(("s", 3000L))
    (mega ++ b1 ++ b2 ++ single).toDF("bucket", "id")
  }

  test("cappedPairsFromMembers ≡ group-to-arrays + " +
       "cappedPairsFromBuckets on a mega-bucket corpus") {
    val members = memberRows()
    val got = DedupOps.cappedPairsFromMembers(
      members, Seq("bucket"), "id", maxBucket = 5)
    val arrays = members.groupBy(col("bucket"))
      .agg(sort_array(collect_list(col("id"))).as("_ids"))
      .filter(size(col("_ids")) > 1)
      .select(col("_ids")).distinct()
    val want = DedupOps.cappedPairsFromBuckets(arrays, "_ids", 5)
    assert(got.orderBy("id_a", "id_b").collect().toSeq ===
      want.orderBy("id_a", "id_b").collect().toSeq)
    // the mega-bucket downgraded: 499 rep rows + C(3,2) + C(2,2) pairs
    assert(got.count() === 499L + 3L + 1L)
  }

  test("cappedPairsFromMembers: identical member sets across buckets " +
       "are deduped before pair expansion (the every-band collision)") {
    // same 4-member set under 16 different bucket values — the exact
    // pairs must surface once each, not 16× into the distinct
    val members = (0 until 16).flatMap(b =>
      (0 until 4).map(i => (s"band$b", i.toLong))).toDF("bucket", "id")
    val got = DedupOps.cappedPairsFromMembers(
      members, Seq("bucket"), "id", maxBucket = 64)
    assert(got.count() === 6L) // C(4,2)
  }

  /** Run `thunk` with temporary SQL confs, restoring previous values
    * (the Round11SkewSpec helper). */
  private def withConf[T](pairs: (String, String)*)(thunk: => T): T = {
    val prev = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try thunk
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("cappedPairsFromMembers: a NULL bucket key is a real group — " +
       "null-safe join-back keeps parity with the array form " +
       "(round-13 review fix)") {
    val members = Seq((Some("a"), 1L), (Some("a"), 2L),
        (None: Option[String], 10L), (None: Option[String], 11L),
        (None: Option[String], 12L))
      .toDF("bucket", "id")
    val got = DedupOps.cappedPairsFromMembers(
        members, Seq("bucket"), "id", maxBucket = 5)
      .orderBy("id_a", "id_b").collect()
    val arrays = members.groupBy(col("bucket"))
      .agg(sort_array(collect_list(col("id"))).as("_ids"))
      .filter(size(col("_ids")) > 1)
      .select(col("_ids")).distinct()
    val want = DedupOps.cappedPairsFromBuckets(arrays, "_ids", 5)
      .orderBy("id_a", "id_b").collect()
    assert(got.toSeq === want.toSeq)
    // the null bucket's C(3,2) pairs ARE emitted
    assert(got.map(r => (r.getLong(0), r.getLong(1))).toSet ===
      Set((1L, 2L), (10L, 11L), (10L, 12L), (11L, 12L)))
  }

  test("cappedPairsFromMembers plan shape: every collect_list " +
       "aggregate sits ABOVE the ≤-cap filter (no over-cap array " +
       "is ever built)") {
    // AQE off so the executed plan is concrete (Round11SkewSpec rule)
    withConf("spark.sql.adaptive.enabled" -> "false") {
      val got = DedupOps.cappedPairsFromMembers(
        memberRows(), Seq("bucket"), "id", maxBucket = 5)
      val plan = got.queryExecution.executedPlan
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
      def hasCollectList(a: BaseAggregateExec): Boolean =
        a.aggregateExpressions.exists(
          _.aggregateFunction.isInstanceOf[
            org.apache.spark.sql.catalyst.expressions.aggregate.CollectList])
      def subtreeHasCapFilter(p: SparkPlan): Boolean =
        p.exists {
          case f: org.apache.spark.sql.execution.FilterExec =>
            f.condition.toString.contains("<= 5")
          case _ => false
        }
      val collectListAggs = plan.collectWithSubqueries {
        case a: BaseAggregateExec if hasCollectList(a) => a
      }
      assert(collectListAggs.nonEmpty,
        "expected at least one collect_list aggregate in the plan")
      collectListAggs.foreach { a =>
        assert(subtreeHasCapFilter(a),
          s"collect_list aggregate without a <=cap filter below it:\n$a")
      }
    }
  }

  // ---------------------------------------------------------------- //
  // scd2Stream over many attributes: multi-attribute streaming SCD2
  // (row-encoded state, arbitrary atomic attr types)
  // ---------------------------------------------------------------- //

  test("scd2StreamMulti: null attrs version like the batch build " +
       "across a type mix (string, long, boolean) — null==null " +
       "no-ops, null→value opens") {
    val b1 = Seq(
        (7L, Option("t"), Some(1L), Some(true), ts(100000L), 1L),
        (7L, Option("t"), None: Option[Long], Some(true), ts(200000L), 2L))
      .toDF("user_id", "etype", "band", "flag", "ts", "event_id")
    val b2 = Seq(
        (7L, Option("t"), None: Option[Long], Some(true), ts(300000L), 3L),
        (7L, None: Option[String], None: Option[Long],
          None: Option[Boolean], ts(400000L), 4L),
        (7L, Option("u"), Some(2L), Some(false), ts(500000L), 5L))
      .toDF("user_id", "etype", "band", "flag", "ts", "event_id")
    val staged = stageBatches("scd2multi_null", Seq(b1, b2))
    val stream = StreamOps.fileStream(spark, b1.schema, staged,
      maxFilesPerTrigger = Some(1))
    val got = StreamOps.runToCompletion(
        StreamOps.scd2Stream(stream, "user_id",
          Seq("etype", "band", "flag"), "ts", "event_id"),
        s"scd2multi_${System.nanoTime()}", outputMode = "append",
        statePartitions = Some(4))
      .orderBy("version")
    val want = RelOps.scd2Build(b1.unionByName(b2), "user_id",
        Seq("etype", "band", "flag"), "ts", "event_id")
      .filter(!col("is_current"))
      .select("user_id", "etype", "band", "flag", "valid_from_us",
        "valid_to_us", "version")
      .orderBy("version")
    assert(got.collect().toSeq === want.collect().toSeq)
    // the all-null row at 400000 IS a change (value→null on every
    // field) — the 300000 null==null band row is a no-op on both paths
    assert(got.count() === 3L)
  }

  test("scd2Stream on the two-attr (String, Long) shape ≡ batch " +
       "build minus is_current (same staged replay)") {
    val b1 = Seq((1L, "a", Some(10L), ts(100000L), 1L),
        (1L, "b", Some(20L), ts(200000L), 2L),
        (2L, "x", Some(5L), ts(150000L), 3L))
      .toDF("user_id", "event_type", "band", "ts", "event_id")
    val b2 = Seq((1L, "c", Some(30L), ts(300000L), 4L),
        (2L, "y", Some(6L), ts(250000L), 5L))
      .toDF("user_id", "event_type", "band", "ts", "event_id")
    val staged = stageBatches("scd2multi_two", Seq(b1, b2))
    val stream = StreamOps.fileStream(spark, b1.schema, staged,
      maxFilesPerTrigger = Some(1))
    val multi = StreamOps.runToCompletion(
        StreamOps.scd2Stream(stream, "user_id",
          Seq("event_type", "band"), "ts", "event_id"),
        s"scd2m2_${System.nanoTime()}", outputMode = "append",
        statePartitions = Some(4))
      .orderBy("user_id", "version").collect()
    val batch = RelOps.scd2Build(b1.unionByName(b2), "user_id",
        Seq("event_type", "band"), "ts", "event_id")
      .filter(!col("is_current"))
      .select("user_id", "event_type", "band", "valid_from_us",
        "valid_to_us", "version")
      .orderBy("user_id", "version").collect()
    assert(multi.toSeq === batch.toSeq)
  }

  test("scd2StreamMulti: equal-timestamp smaller-tie straggler drops " +
       "under the lexicographic horizon (the scd2Stream rule)") {
    val b1 = Seq((3L, "a", Some(1L), Some(true), ts(100000L), 5L))
      .toDF("user_id", "etype", "band", "flag", "ts", "event_id")
    val b2 = Seq((3L, "zz", Some(9L), Some(false), ts(100000L), 2L),
        (3L, "b", Some(2L), Some(true), ts(200000L), 6L))
      .toDF("user_id", "etype", "band", "flag", "ts", "event_id")
    val staged = stageBatches("scd2multi_tie", Seq(b1, b2))
    val dropped = spark.sparkContext.longAccumulator(
      s"scd2multi_tie_${System.nanoTime()}")
    val stream = StreamOps.fileStream(spark, b1.schema, staged,
      maxFilesPerTrigger = Some(1))
    val got = StreamOps.runToCompletion(
        StreamOps.scd2Stream(stream, "user_id",
          Seq("etype", "band", "flag"), "ts", "event_id",
          droppedStragglers = Some(dropped)),
        s"scd2mtie_${System.nanoTime()}", outputMode = "append",
        statePartitions = Some(4))
      .orderBy("version").collect()
    assert(dropped.value === 1L)
    assert(got.map(_.getString(1)).toSeq === Seq("a"))
  }

  test("scd2Stream with tombstones on the two-attr shape ≡ batch " +
       "tombstone build minus is_current (counter across gaps)") {
    val b1 = Seq((4L, "a", Some(1L), ts(100000L), 1L, false),
        (4L, "x", Some(9L), ts(200000L), 2L, true), // tombstone
        (5L, "p", Some(3L), ts(150000L), 3L, false))
      .toDF("user_id", "event_type", "band", "ts", "event_id", "deleted")
    val b2 = Seq((4L, "b", Some(2L), ts(300000L), 4L, false), // re-open
        (4L, "c", Some(3L), ts(400000L), 5L, false),
        (5L, "x", Some(9L), ts(350000L), 6L, true)) // terminal tomb
      .toDF("user_id", "event_type", "band", "ts", "event_id", "deleted")
    val staged = stageBatches("scd2md_two", Seq(b1, b2))
    val stream = StreamOps.fileStream(spark, b1.schema, staged,
      maxFilesPerTrigger = Some(1))
    val multi = StreamOps.runToCompletion(
        StreamOps.scd2Stream(stream, "user_id",
          Seq("event_type", "band"), "ts", "event_id", Some("deleted")),
        s"scd2md2_${System.nanoTime()}", outputMode = "append",
        statePartitions = Some(4))
      .orderBy("user_id", "version").collect()
    val batch = RelOps.scd2Build(b1.unionByName(b2), "user_id",
        Seq("event_type", "band"), "ts", "event_id", Some("deleted"))
      .filter(!col("is_current"))
      .select("user_id", "event_type", "band", "valid_from_us",
        "valid_to_us", "version")
      .orderBy("user_id", "version").collect()
    assert(multi.toSeq === batch.toSeq)
    // key 4: "a" closed by tombstone (v1), "b" closed by "c" (v2 —
    // the counter SURVIVED the delete gap); key 5: "p" closed by its
    // terminal tombstone (v1)
    assert(multi.map(r => (r.getLong(0), r.getString(1),
      r.getLong(r.length - 1))).toSeq ===
      Seq((4L, "a", 1L), (4L, "b", 2L), (5L, "p", 1L)))
  }

  test("scd2Stream: an all-null deleted column ≡ no deletedCol ≡ " +
       "batch build minus is_current over a 3-batch replay") {
    def batch(rows: (Long, Option[String], Option[Long], Long,
        Long)*): DataFrame = rows.map { case (k, a, b, ms, id) =>
        (k, a, b, ts(ms), id, None: Option[Boolean]) }
      .toDF("user_id", "event_type", "band", "ts", "event_id", "deleted")
    val b1 = batch((1L, Some("a"), Some(1L), 100000L, 1L),
      (1L, Some("a"), Some(1L), 150000L, 2L), // no-op
      (2L, Some("x"), None, 120000L, 3L))
    val b2 = batch((1L, Some("b"), Some(1L), 200000L, 4L),
      (2L, Some("x"), None, 220000L, 5L), // null==null no-op
      (2L, Some("x"), Some(7L), 240000L, 6L))
    val b3 = batch((1L, None, Some(1L), 300000L, 7L),
      (1L, Some("c"), Some(2L), 400000L, 8L),
      (2L, Some("y"), Some(7L), 320000L, 9L))
    val staged = stageBatches("scd2_null_del", Seq(b1, b2, b3))
    def closed(deletedCol: Option[String]) = StreamOps.runToCompletion(
        StreamOps.scd2Stream(StreamOps.fileStream(spark, b1.schema,
            staged, maxFilesPerTrigger = Some(1)), "user_id",
          Seq("event_type", "band"), "ts", "event_id", deletedCol),
        s"scd2nd_${System.nanoTime()}", outputMode = "append",
        statePartitions = Some(4))
      .orderBy("user_id", "version").collect().toSeq
    val nullDel = closed(Some("deleted"))
    val noDel = closed(None)
    val want = RelOps.scd2Build(b1.unionByName(b2).unionByName(b3),
        "user_id", Seq("event_type", "band"), "ts", "event_id")
      .filter(!col("is_current"))
      .select("user_id", "event_type", "band", "valid_from_us",
        "valid_to_us", "version")
      .orderBy("user_id", "version").collect().toSeq
    assert(nullDel === noDel)
    assert(noDel === want)
    // key 1: a, b, null, (c open); key 2: x/null, x/7, (y open)
    assert(want.map(r => (r.getLong(0), r.getLong(5))) ===
      Seq((1L, 1L), (1L, 2L), (1L, 3L), (2L, 1L), (2L, 2L)))
  }

  test("scd2StreamMultiWithDeletes ≡ batch tombstone build minus " +
       "is_current across a (string, long, boolean) mix with nulls") {
    val b1 = Seq(
        (9L, Option("t"), Some(1L), Some(true), ts(100000L), 1L, false),
        (9L, Option("t"), None: Option[Long], Some(true), ts(200000L),
          2L, false))
      .toDF("user_id", "etype", "band", "flag", "ts", "event_id",
        "deleted")
    val b2 = Seq(
        (9L, None: Option[String], None: Option[Long],
          None: Option[Boolean], ts(300000L), 3L, true), // tombstone
        (9L, Option("t"), None: Option[Long], Some(true), ts(400000L),
          4L, false), // re-add of the pre-delete value re-opens
        (9L, Option("u"), Some(2L), Some(false), ts(500000L), 5L,
          false))
      .toDF("user_id", "etype", "band", "flag", "ts", "event_id",
        "deleted")
    val staged = stageBatches("scd2md_null", Seq(b1, b2))
    val stream = StreamOps.fileStream(spark, b1.schema, staged,
      maxFilesPerTrigger = Some(1))
    val got = StreamOps.runToCompletion(
        StreamOps.scd2Stream(stream, "user_id",
          Seq("etype", "band", "flag"), "ts", "event_id",
          Some("deleted")),
        s"scd2mdn_${System.nanoTime()}", outputMode = "append",
        statePartitions = Some(4))
      .orderBy("version")
    val want = RelOps.scd2Build(b1.unionByName(b2),
        "user_id", Seq("etype", "band", "flag"), "ts", "event_id",
        Some("deleted"))
      .filter(!col("is_current"))
      .select("user_id", "etype", "band", "flag", "valid_from_us",
        "valid_to_us", "version")
      .orderBy("version")
    assert(got.collect().toSeq === want.collect().toSeq)
  }

  // ---------------------------------------------------------------- //
  // FitArtifacts provenance sidecar (round-13 verdict task 4: a
  // stale artifact from a regenerated source fails LOUDLY on load)
  // ---------------------------------------------------------------- //

  private val testCents = Array(Array(1L, 2L), Array(3L, 4L))

  test("FitArtifacts provenance: matching expectation loads; the " +
       "artifact parquet stays readable despite the sidecar") {
    val path = s"${tmpDir("prov_ok")}/cents"
    val prov = Map("source_rows" -> "100", "k" -> "2")
    FitArtifacts.saveCentroids(spark, path, testCents, prov)
    val loaded = FitArtifacts.loadCentroids(spark, path, expect = prov)
    assert(loaded.map(_.toSeq).toSeq === testCents.map(_.toSeq).toSeq)
    // the underscore-prefixed sidecar is invisible to a plain
    // parquet read of the artifact dir
    assert(spark.read.parquet(path).columns.toSeq ===
      Seq("cell", "centroid_micro"))
  }

  test("FitArtifacts provenance: a mismatched value (the regenerated-" +
       "fixture case) fails loudly with STALE ARTIFACT") {
    val path = s"${tmpDir("prov_stale")}/cents"
    FitArtifacts.saveCentroids(spark, path, testCents,
      Map("source_rows" -> "100", "k" -> "2"))
    val e = intercept[IllegalArgumentException] {
      FitArtifacts.loadCentroids(spark, path,
        expect = Map("source_rows" -> "250", "k" -> "2"))
    }
    assert(e.getMessage.contains("STALE ARTIFACT"))
  }

  test("FitArtifacts provenance: a missing sidecar under an " +
       "expectation fails (no silent replay of unfingerprinted fits)") {
    val path = s"${tmpDir("prov_none")}/cents"
    FitArtifacts.saveCentroids(spark, path, testCents) // no sidecar
    val e = intercept[IllegalArgumentException] {
      FitArtifacts.loadCentroids(spark, path,
        expect = Map("source_rows" -> "100"))
    }
    assert(e.getMessage.contains("no provenance sidecar"))
  }

  test("FitArtifacts provenance: table + merges round-trip carries " +
       "the sidecar through saveTable/saveMerges") {
    import spark.implicits._
    val path = s"${tmpDir("prov_merges")}/merges"
    val merges = Seq((0L, "a", "b", 5L), (1L, "ab", "c", 3L))
      .toDF("round", "sym_a", "sym_b", "pair_count")
    val prov = Map("source_rows" -> "42", "k" -> "2")
    FitArtifacts.saveMerges(merges, path, prov)
    assert(FitArtifacts.loadMerges(spark, path, expect = prov) ===
      Seq(("a", "b"), ("ab", "c")))
    val stale = intercept[IllegalArgumentException] {
      FitArtifacts.loadMerges(spark, path,
        expect = Map("source_rows" -> "43"))
    }
    assert(stale.getMessage.contains("STALE ARTIFACT"))
  }

  // ---------------------------------------------------------------- //
  // Product quantization (q292/q293): codebooks, encode, ADC rank
  // ---------------------------------------------------------------- //

  /** Two well-separated clusters per subspace: vectors 0-3 live near
    * (+0.5, …) in sub 0 and (−0.5, …) in sub 1; vectors 4-7 the
    * mirror. 4-dim vectors, m=2, subLen=2, k=2. */
  private def pqFixture(): DataFrame =
    (0 until 8).map { i =>
      val a = if (i < 4) 0.5 else -0.5
      (i.toLong, Seq(a + i * 0.001, a - i * 0.001,
        -a + i * 0.001, -a - i * 0.001))
    }.toDF("vec_id", "embedding")

  test("pqEncode: codes are the per-subspace nearest centroids, and " +
       "the two separated halves get distinct codes in every subspace") {
    val df = pqFixture()
    val books = SimilarityOps.pqCodebooks(df, "vec_id", "embedding",
      m = 2, subLen = 2, k = 2, iters = 2)
    assert(books.length === 2)
    books.foreach(b => assert(b.length === 2))
    val codes = SimilarityOps.pqEncode(df, "vec_id", "embedding",
      books, subLen = 2).orderBy("vec_id").collect()
    // halves collapse to one code each, and the codes differ
    val h1 = codes.take(4).map(r => (r.getLong(1), r.getLong(2))).toSet
    val h2 = codes.drop(4).map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(h1.size === 1 && h2.size === 1 && h1 != h2)
  }

  test("PQ entry points fail loudly on a too-narrow vector column " +
       "(slice would silently truncate — round-13 review fix)") {
    val df = pqFixture() // 4-dim vectors
    val e = intercept[IllegalArgumentException] {
      SimilarityOps.pqCodebooks(df, "vec_id", "embedding",
        m = 4, subLen = 2, k = 2, iters = 1) // needs 8 dims
    }
    assert(e.getMessage.contains("needs >= 8 dims"))
    val books = SimilarityOps.pqCodebooks(df, "vec_id", "embedding",
      2, 2, 2, 1)
    intercept[IllegalArgumentException] {
      SimilarityOps.pqEncode(df, "vec_id", "embedding",
        books ++ books, subLen = 2) // 4 books over 4 dims
    }
  }

  test("pqEncode plan: the encode is a PURE projection — zero " +
       "exchanges (the corpus is coded in one scan pass)") {
    val df = pqFixture()
    val books = SimilarityOps.pqCodebooks(df, "vec_id", "embedding",
      2, 2, 2, 2)
    val p = SimilarityOps.pqEncode(df, "vec_id", "embedding", books, 2)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"),
      s"encode projection should not shuffle:\n$p")
  }

  test("pqAdcTopK: ADC distance equals the exact integer distance to " +
       "the RECONSTRUCTED (codebook) vector, and top-1 matches the " +
       "exact NN on separated clusters") {
    val df = pqFixture()
    val books = SimilarityOps.pqCodebooks(df, "vec_id", "embedding",
      2, 2, 2, 2)
    val codes = SimilarityOps.pqEncode(df, "vec_id", "embedding",
      books, 2)
    val got = SimilarityOps.pqAdcTopK(df.filter(col("vec_id") === 0),
        codes, "vec_id", "embedding", books, subLen = 2, topK = 7)
      .orderBy("rn").collect()
    assert(got.length === 7)
    // hand ADC: micro query dims vs each neighbor's reconstructed
    // codebook centroids
    val q = df.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Double](0)
      .map(v => Math.round(v * 1e6))
    val codeMap = codes.collect()
      .map(r => r.getLong(0) -> Seq(r.getLong(1), r.getLong(2))).toMap
    got.foreach { r =>
      val nb = r.getLong(r.fieldIndex("neighbor_id"))
      val cs = codeMap(nb)
      val want = (0 until 2).map { s =>
        val cent = books(s)(cs(s).toInt)
        (0 until 2).map { j =>
          val d = q(s * 2 + j) - cent(j); d * d
        }.sum
      }.sum
      assert(r.getLong(r.fieldIndex("adc_d2")) === want,
        s"neighbor $nb")
    }
    // separated clusters: the 3 nearest are the same half (1, 2, 3)
    assert(got.take(3).map(_.getLong(1)).toSet === Set(1L, 2L, 3L))
  }
}
