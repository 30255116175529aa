package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{AggOps, RelOps, SimilarityOps, SplitOps, TextOps}

/** Round-10 operator units: the deterministic INTEGER k-means
  * (micro-unit Lloyd's — the q211 technique applied to clustering)
  * and its IVF / SemDeDup consumers. The oracled q48/q249/q250 carry
  * the DuckDB replay; these pin the hand-checkable semantics —
  * farthest-point init, truncating integer means, tie-breaks,
  * partition invariance, and the nprobe=nlist ⇒ exact property. */
class Round10OpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"

  private val pts = Seq(
    (0L, Seq(0.0, 0.0)),
    (1L, Seq(0.1, 0.0)),
    (2L, Seq(1.0, 1.0)),
    (3L, Seq(0.9, 1.0)))

  test("kMeansMicro: hand-computed farthest-point init + Lloyd " +
       "fixpoint on a 2-cluster toy set") {
    val df = pts.toDF("id", "v")
    // init: c0 = id 0 (min id) = (0, 0); farthest = id 2
    // (2e12 > id 3's 1.81e12) → c1 = (1000000, 1000000).
    // Lloyd 1: {0,1} → c0, {2,3} → c1; means: (50000, 0) and
    // (950000, 1000000). Lloyd 2: same assignment → fixpoint.
    val cents = SimilarityOps.kMeansMicro(df, "id", "v",
      k = 2, iters = 2, dim = 2)
    assert(cents.map(_.toSeq).toSeq === Seq(
      Seq(50000L, 0L), Seq(950000L, 1000000L)))
  }

  test("kMeansMicro: truncating integer mean matches Java `/` on a " +
       "negative-coordinate cluster") {
    // one cluster only reachable as k=2 with a far singleton; the
    // negative cluster mean (−0.1 + −0.4)/2 = −250000 micro exactly,
    // and (−0.1 + −0.2 + −0.4)/3 would be −233333 (truncation toward
    // zero, not floor −233334) — pin the 3-point case
    val df = Seq(
      (0L, Seq(-0.1)), (1L, Seq(-0.2)), (2L, Seq(-0.4)),
      (3L, Seq(5.0))).toDF("id", "v")
    val cents = SimilarityOps.kMeansMicro(df, "id", "v",
      k = 2, iters = 1, dim = 1)
    // init: c0 = (−100000), farthest = id 3 → c1 = (5000000);
    // Lloyd 1: {0,1,2} → c0 → (−700000)/3 = −233333 (trunc)
    assert(cents(0).toSeq === Seq(-233333L))
    assert(cents(1).toSeq === Seq(5000000L))
  }

  test("kMeansMicro: partition invariance — same centroids at 1 and " +
       "7 partitions") {
    val emb = Tables.load(spark, sfDir, "embeddings")
    val a = SimilarityOps.kMeansMicro(
      emb.repartition(1), "vec_id", "embedding", k = 4, iters = 3)
    val b = SimilarityOps.kMeansMicro(
      emb.repartition(7), "vec_id", "embedding", k = 4, iters = 3)
    assert(a.map(_.toSeq).toSeq === b.map(_.toSeq).toSeq)
  }

  test("ivfTopKMicro: probing every cell (nprobe = nlist) is exactly " +
       "the brute-force top-k") {
    val emb = Tables.load(spark, sfDir, "embeddings")
    val q = emb.filter(col("vec_id") < 5)
    val ivf = SimilarityOps.ivfTopKMicro(q, emb, "vec_id", "embedding",
        k = 3, nlist = 4, nprobe = 4, iters = 2)
      .orderBy("query_id", "rn").collect().toSeq
    val bf = SimilarityOps.bruteForceTopK(q, emb, "vec_id", "embedding",
        k = 3)
      .orderBy("query_id", "rn").collect().toSeq
    assert(ivf === bf)
  }

  test("hardNegatives: never returns a same-label neighbor, and " +
       "equals the brute-force rank restricted to other labels") {
    val emb = Tables.load(spark, sfDir, "embeddings")
    val anchors = emb.filter(col("vec_id") < 5)
    val hn = SimilarityOps.hardNegatives(anchors, emb,
      "vec_id", "embedding", "label", k = 3)
    val lbl = emb.select(col("vec_id"), col("label"))
    val joined = hn
      .join(lbl.withColumnRenamed("vec_id", "query_id")
        .withColumnRenamed("label", "_ql"), "query_id")
      .join(lbl.withColumnRenamed("vec_id", "neighbor_id")
        .withColumnRenamed("label", "_nl"), "neighbor_id")
    assert(joined.filter(col("_ql") === col("_nl")).count() === 0)
    // brute force over the pre-filtered candidate set must agree
    val bf = emb.select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val byAnchor = hn.orderBy("query_id", "rn").collect()
      .groupBy(_.getLong(0))
    byAnchor.foreach { case (qid, rows) =>
      val want = SimilarityOps.bruteForceTopK(
          anchors.filter(col("vec_id") === qid),
          emb.filter(col("label") =!= lit(bf(qid))),
          "vec_id", "embedding", k = 3)
        .orderBy("rn").collect().map(_.getLong(1)).toSeq
      assert(rows.map(_.getLong(1)).toSeq === want,
        s"anchor $qid neighbor set diverged from brute force")
    }
  }

  test("balancedDownsample: every label lands at exactly the minority " +
       "size, and the draw is deterministic") {
    val emb = Tables.load(spark, sfDir, "embeddings")
    val nmin = emb.groupBy(col("label")).count()
      .agg(min(col("count"))).head().getLong(0)
    val d1 = SplitOps.balancedDownsample(emb, "label", "vec_id", "s1")
    val sizes = d1.groupBy(col("label")).count()
      .select(col("count")).distinct().collect().map(_.getLong(0))
    assert(sizes.toSeq === Seq(nmin))
    val d2 = SplitOps.balancedDownsample(emb.repartition(7), "label",
      "vec_id", "s1")
    assert(d1.select("vec_id").orderBy("vec_id").collect().toSeq ===
      d2.select("vec_id").orderBy("vec_id").collect().toSeq)
    // a different salt draws a different set (not a constant slice)
    val d3 = SplitOps.balancedDownsample(emb, "label", "vec_id", "s2")
    assert(d3.select("vec_id").orderBy("vec_id").collect().toSeq !==
      d1.select("vec_id").orderBy("vec_id").collect().toSeq)
  }

  test("hashingTrickStats: hand-computed collision-aware norm") {
    // one doc, tokens a a b: bucket(a) gets c=2, bucket(b) c=1 (if
    // they collide, one bucket gets c=3) — either way the stats are
    // derivable from the md5 buckets; with 256 buckets 'a' and 'b'
    // do NOT collide (verified constants), so nnz=2, l2sq=5
    val df = Seq((1L, "a a b")).toDF("id", "text")
    val got = TextOps.hashingTrickStats(df, "id", "text", buckets = 256)
      .head()
    assert(got.getLong(1) === 3L) // n_tokens
    assert(got.getLong(2) === 2L) // nnz
    assert(got.getLong(3) === 5L) // 2^2 + 1^2
  }

  test("q264 scaler shape: a constant group scales to null, " +
       "extremes to 0 and 1000, truncation toward zero") {
    val ev = Seq((1L, "a", 10L), (2L, "a", 25L), (3L, "a", 40L),
      (4L, "b", 7L), (5L, "b", 7L)).toDF("event_id", "t", "cents")
    val stats = ev.groupBy(col("t"))
      .agg(min(col("cents")).as("_lo"), max(col("cents")).as("_hi"))
    val got = ev.join(broadcast(stats), "t")
      .select(col("event_id"),
        when(col("_hi") > col("_lo"),
          expr("(cents - _lo) * 1000 div (_hi - _lo)"))
          .as("scaled_milli"))
      .orderBy("event_id").collect()
      .map(r => if (r.isNullAt(1)) -1L else r.getLong(1))
    assert(got.toSeq === Seq(0L, 500L, 1000L, -1L, -1L))
  }

  test("scd2Build: no-op suppression, null-safe attribute compare, " +
       "lead-closed validity, per-key version ranks") {
    val log = Seq(
      (1000L, Option("a"), 1L), (1000L, Option("a"), 2L),
      (1000L, Option("b"), 3L), (1000L, Option("b"), 4L),
      (1000L, Option("a"), 5L),
      (2000L, Option.empty[String], 6L),
      (2000L, Option.empty[String], 7L), (2000L, Option("x"), 8L))
      .toDF("k", "attr", "tie")
      .withColumn("ts", timestamp_micros(col("tie") * 1000000L))
    val got = RelOps.scd2Build(log, "k", Seq("attr"), "ts", "tie")
      .orderBy(col("k"), col("version")).collect()
      .map(r => (r.getLong(0), Option(r.getString(1)), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3), r.getLong(4),
        r.getBoolean(5)))
    assert(got.toSeq === Seq(
      (1000L, Some("a"), 1000000L, 3000000L, 1L, false),
      (1000L, Some("b"), 3000000L, 5000000L, 2L, false),
      (1000L, Some("a"), 5000000L, -1L, 3L, true),
      (2000L, None, 6000000L, 8000000L, 1L, false),
      (2000L, Some("x"), 8000000L, -1L, 2L, true)))
  }

  test("shannonEntropy: hand-computed micro-nat entropy and the " +
       "single-item evenness guard") {
    val df = Seq(("g", "a"), ("g", "a"), ("g", "b"), ("g", "c"),
      ("h", "z"), ("h", "z")).toDF("grp", "it")
    val got = AggOps.shannonEntropy(df, "grp", col("it"))
      .orderBy(col("grp")).collect()
    // g: n=4, vocab=3, s = 2·round(ln2·1e6) = 1386294;
    // H = ln4 − 1386294/1e6/4 = 1.039721 (6 dp)
    assert(got(0).getLong(1) === 4L && got(0).getLong(2) === 3L)
    assert(got(0).getDouble(3) === 1.039721)
    // h: one distinct item ⇒ entropy 0, evenness undefined (null)
    assert(got(1).getDouble(3) === 0.0)
    assert(got(1).isNullAt(4))
  }

  test("q254: the SCD2 build reuses one (user_id) exchange across the " +
       "lag screen and the lead/rank pass") {
    val p = SparkEntry.queries("q254_scd2_history")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(p).length === 1,
      s"both windows must share the (user_id) exchange:\n${p.take(2000)}")
  }

  test("semanticDedupMicro: earliest member of every cluster is kept, " +
       "and decisions are partition-invariant") {
    val emb = Tables.load(spark, sfDir, "embeddings")
    val d1 = SimilarityOps.semanticDedupMicro(emb, "vec_id", "embedding",
      threshold = 0.2, nlist = 4, iters = 2)
    val first = d1.groupBy(col("cluster"))
      .agg(min(col("vec_id")).as("vec_id"))
      .join(d1, Seq("cluster", "vec_id"))
    assert(first.filter(!col("kept")).count() === 0)
    val d2 = SimilarityOps.semanticDedupMicro(
      emb.repartition(7), "vec_id", "embedding",
      threshold = 0.2, nlist = 4, iters = 2)
    assert(d1.orderBy("vec_id").collect().toSeq ===
      d2.orderBy("vec_id").collect().toSeq)
  }
}
