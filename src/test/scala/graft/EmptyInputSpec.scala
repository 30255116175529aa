package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops._

/** Degenerate-input hardening: every library operator must survive an
  * EMPTY frame and a single-row frame — at 100 TB empty partitions,
  * empty micro-batches, and all-filtered shards are routine, and the
  * oracle gates (which run on populated fixtures) never exercise them. */
class EmptyInputSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def emptyDocs: DataFrame =
    Seq.empty[(Long, String)].toDF("doc_id", "text")
  private def oneDoc: DataFrame =
    Seq((1L, "just one tiny document")).toDF("doc_id", "text")

  test("dedup ops survive empty and singleton corpora") {
    for (docs <- Seq(emptyDocs, oneDoc)) {
      assert(DedupOps.exactDedup(docs, Seq("text"), "doc_id").count() ===
        docs.count())
      assert(DedupOps.dupGroups(docs, "text", "doc_id").count() ===
        docs.count())
      assert(DedupOps.lshCandidatePairs(docs, "doc_id", "text",
        k = 16, bands = 4).count() === 0)
      assert(DedupOps.lshCandidatePairs(docs, "doc_id", "text",
        k = 16, bands = 4, maxBucket = 1).count() === 0)
      assert(DedupOps.lshRepresentativePairs(docs, "doc_id", "text",
        k = 16, bands = 4).count() === 0)
      val fp = DedupOps.simhashMd5(docs, "doc_id", "text")
      assert(DedupOps.simhashRepPairs(fp, "doc_id", "simhash")
        .count() === 0)
      assert(DedupOps.dedupAgainst(docs, emptyDocs, Seq("text")).count() ===
        docs.count())
      assert(DedupOps.dedupAgainst(emptyDocs, docs, Seq("text")).count() === 0)
      assert(DedupOps.contamination(docs, emptyDocs, "doc_id", "text", 2)
        .count() === 0)
      val noCands = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
      assert(DedupOps.jaccardVerify(docs, "doc_id", "text", noCands)
        .count() === 0)
      assert(DedupOps.connectedComponents(docs.select(col("doc_id")),
        noCands, "doc_id").count() === docs.count())
    }
  }

  test("round-8 ops survive empty and singleton corpora") {
    for (docs <- Seq(emptyDocs, oneDoc)) {
      val labeled = docs.select(col("doc_id"), col("doc_id").as("comp"),
        length(col("text")).cast("long").as("score"))
      assert(DedupOps.canonicalPerCluster(labeled, "doc_id", "comp",
        "score").count() === docs.count())
      val withTok = docs.withColumn("src", lit("s"))
        .withColumn("nt", TextOps.tokenCount(col("text")).cast("long"))
      assert(SplitOps.tokenBudgetMixture(withTok, "src", "doc_id",
        col("nt"), Map.empty, defaultBudget = 10L).count() ===
        docs.count())
      assert(SplitOps.tokenBudgetMixture(withTok, "src", "doc_id",
        col("nt"), Map.empty, defaultBudget = 0L).count() === 0)
      assert(TextOps.dupSpanStats(docs, "doc_id", "text", 2)
        .count() === 0)
      val cleaned = TextOps.removeDupSpans(docs, "doc_id", "text", 2)
      assert(cleaned.count() === docs.count())
      // nothing duplicated cross-doc → every doc survives unchanged
      assert(cleaned.filter(col("n_after") < col("n_before"))
        .count() === 0)
      assert(docs.select(col("doc_id"),
        DedupOps.minhashSigExpr(col("text"), 8).as("sig"))
        .count() === docs.count())
    }
  }

  test("text ops survive empty frames, empty strings, and whitespace") {
    val weird = Seq((1L, ""), (2L, "   "), (3L, "one")).toDF("doc_id", "text")
    for (docs <- Seq(emptyDocs, weird)) {
      assert(TextOps.topTerms(docs, "text", 5).count() <= 1)
      assert(TextOps.qualityGate(docs, "text", 1, 10, 0.5).count() <=
        docs.count())
      assert(TextOps.chunkTokens(docs, "doc_id", "text", 4, 1).count() <= 1)
      assert(TextOps.packSequences(docs, "doc_id", "doc_id", "text", 8)
        .count() === docs.count())
      val red = docs.select(TextOps.redactPii(col("text"))).collect()
      assert(red.length === docs.count())
      // empty/whitespace text → zero tokens, empty shingles, und lang
      val sig = docs.select(TextOps.tokenCount(col("text")).as("n"),
        TextOps.langId(col("text")).as("l"),
        TextOps.dupShingleRatio(col("text"), 3).as("r")).collect()
      sig.foreach { r =>
        assert(r.getInt(0) >= 0 && r.getDouble(2) >= 0.0)
      }
    }
  }

  test("sampling/agg ops survive empty frames") {
    val empty = Seq.empty[(Long, String, Double)].toDF("id", "g", "v")
    assert(SplitOps.hashMixture(empty, "g", "id", Map("a" -> 0.5))
      .count() === 0)
    assert(SplitOps.hashMixtureDistributed(empty, "g", "id",
      Map("a" -> 0.5)).count() === 0)
    assert(SplitOps.hashSampleMixture(empty, "g", "id", Map("a" -> 0.5))
      .count() === 0)
    assert(AggOps.saltedAgg(empty, "g", "v", 4).count() === 0)
    assert(AggOps.histogram(empty, "v", 0.0, 10.0).count() === 0)
    assert(CleanOps.iqrOutlierFilter(empty, "v").count() === 0)
    assert(CleanOps.iqrOutlierFilterApprox(empty, "v").count() === 0)
    assert(CleanOps.approxMedians(empty, Seq("v")).isEmpty)
    assert(CleanOps.dropNulls(empty, Seq("v")).count() === 0)
    // a group absent from the fractions map is dropped, not crashed
    val oneGroup = Seq((1L, "zz", 1.0)).toDF("id", "g", "v")
    assert(SplitOps.hashMixtureDistributed(oneGroup, "g", "id",
      Map("a" -> 0.5)).count() === 0)
  }

  test("similarity ops survive empty corpora") {
    val empty = Seq.empty[(Long, Array[Double])].toDF("vec_id", "embedding")
    val one = Seq((1L, Array(1.0, 0.0))).toDF("vec_id", "embedding")
    assert(SimilarityOps.bruteForceTopK(one, empty, "vec_id", "embedding", 3)
      .count() === 0)
    assert(SimilarityOps.bruteForceTopK(empty, one, "vec_id", "embedding", 3)
      .count() === 0)
    assert(SimilarityOps.groupCentroids(
      Seq.empty[(Int, Array[Double])].toDF("label", "embedding"),
      "label", "embedding").count() === 0)
    val q = one.withColumn("norm", SimilarityOps.l2Norm(col("embedding")))
      .withColumn("q", SimilarityOps.quantizeInt8(col("embedding"),
        col("norm")))
    assert(q.count() === 1)
    // quantizedTopK: empty corpus yields no neighbors; self-only corpus
    // yields none either (self-pairs filtered)
    assert(SimilarityOps.quantizedTopK(one, one, "vec_id", "embedding", 3,
      planes = 4, tables = 2).count() === 0)
    assert(SimilarityOps.quantizedTopK(empty, one, "vec_id", "embedding",
      3, planes = 4, tables = 2).count() === 0)
    // empty CORPUS must not crash the driver-side dim probe
    assert(SimilarityOps.quantizedTopK(one, empty, "vec_id", "embedding",
      3, planes = 4, tables = 2).count() === 0)
    assert(SimilarityOps.lshTopK(one, empty, "vec_id", "embedding", 3,
      planes = 4).count() === 0)
    assert(SimilarityOps.cosineNearDupPairs(empty, "vec_id", "embedding",
      0.5).count() === 0)
  }

  test("round-6 ops survive empty and singleton inputs: bigrams, " +
       "z-order, snapshotDiff, graph, fuzzy join, avro round-trip") {
    // bigrams: empty + 1-token docs produce no pairs (no reversed
    // sequence artifacts)
    for (docs <- Seq(emptyDocs, oneDoc)) {
      val bg = docs.select(explode(
        TextOps.bigrams(TextOps.tokens(col("text")))).as("p"))
      assert(bg.count() === (if (docs.count() == 0) 0 else 3))
    }
    val noRows = Seq.empty[(Long, Long)].toDF("a", "b")
    // z-order layout on an empty frame: range partitioner has no
    // sample, must still plan and return empty
    assert(LayoutOps.zOrderLayout(noRows, col("a"), col("b"), 4)
      .count() === 0)
    // snapshotDiff: empty vs empty, empty vs populated
    val one = Seq((1L, "x")).toDF("k", "v")
    val emptyKV = Seq.empty[(Long, String)].toDF("k", "v")
    assert(RelOps.snapshotDiff(emptyKV, emptyKV, "k").count() === 0)
    assert(RelOps.snapshotDiff(emptyKV, one, "k")
      .select("status").as[String].collect().toSeq === Seq("added"))
    assert(RelOps.snapshotDiff(one, emptyKV, "k")
      .select("status").as[String].collect().toSeq === Seq("removed"))
    // graph ops on empty edge lists
    assert(GraphOps.pageRank(noRows.toDF("src", "dst"), 2, 0.85)
      .count() === 0)
    val tri = GraphOps.triangleStats(noRows.toDF("src", "dst"))
      .collect().head
    assert(tri.getLong(tri.fieldIndex("n_triangles")) === 0L)
    // fuzzy join on empty vocabulary
    assert(DedupOps.editDistancePairs(
      Seq.empty[String].toDF("s"), "s").count() === 0)
    // avro: writing an empty frame yields no files; a pinned-schema
    // read of the empty dir returns zero rows
    val path = SparkTestSession.tmpDir("spec_empty").toString
    graft.sources.AvroIO.write(emptyKV, path)
    assert(spark.read.format("graft-avro").schema(emptyKV.schema)
      .load(path).count() === 0)
  }

  test("round-12 ops survive empty and singleton inputs") {
    val noEdges = Seq.empty[(Long, Long)].toDF("src", "dst")
    val oneEdge = Seq((1L, 2L)).toDF("src", "dst")
    // LPA: empty graph -> empty assignment; a single edge is the
    // minimal bipartite 2-cycle (each node's ONLY neighbor holds the
    // other label) — the documented synchronous oscillation: odd
    // iteration counts swap, even ones restore the init labels
    assert(GraphOps.labelPropagation(noEdges, 2).count() === 0)
    val lpOdd = GraphOps.labelPropagation(oneEdge, 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(lpOdd === Map(1L -> 2L, 2L -> 1L))
    val lpEven = GraphOps.labelPropagation(oneEdge, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(lpEven === Map(1L -> 1L, 2L -> 2L))
    // modularity: empty graph -> empty report (no m to divide by);
    // one edge, one community -> Q = 1/1 - 1 = 0
    assert(GraphOps.modularity(noEdges,
      noEdges.select(col("src").as("id"), col("src").as("lab")))
      .count() === 0)
    val q1 = GraphOps.modularity(oneEdge,
      oneEdge.select(col("src").as("id"), lit(0L).as("lab")).unionAll(
        oneEdge.select(col("dst").as("id"), lit(0L).as("lab"))))
      .head()
    assert(q1.getDouble(q1.fieldIndex("q_modularity")) === 0.0)
    // t-closeness: empty -> empty; single row -> t = 0 (mirrors)
    val emptyQS = Seq.empty[(String, String)].toDF("qi", "s")
    assert(CleanOps.tClosenessAudit(emptyQS, Seq("qi"), "s", 0.1)
      .count() === 0)
    val t1 = CleanOps.tClosenessAudit(
      Seq(("g", "a")).toDF("qi", "s"), Seq("qi"), "s", 0.1).head()
    assert(t1.getDouble(t1.fieldIndex("t")) === 0.0)
    // scd2 tombstone build: empty -> empty; lone tombstone -> empty
    val emptyChg = Seq.empty[(Long, String,
      java.sql.Timestamp, Long, Boolean)]
      .toDF("k", "attr", "ts", "tie", "deleted")
    assert(RelOps.scd2Build(emptyChg, "k", Seq("attr"),
      "ts", "tie", Some("deleted")).count() === 0)
    val loneTomb = Seq((1L, "x",
        new java.sql.Timestamp(1000L), 1L, true))
      .toDF("k", "attr", "ts", "tie", "deleted")
    assert(RelOps.scd2Build(loneTomb, "k", Seq("attr"),
      "ts", "tie", Some("deleted")).count() === 0)
    // tombstone apply with an empty delta: history passes through
    val hist = RelOps.scd2Build(loneTomb
        .withColumn("deleted", lit(false)), "k", Seq("attr"),
      "ts", "tie", Some("deleted"))
    assert(RelOps.scd2Apply(hist, emptyChg, "k",
        Seq("attr"), "ts", "tie", Some("deleted"))
      .collect().toSeq === hist.collect().toSeq)
    // capReport: empty -> empty report; recommendCap falls to floor
    assert(graft.ops.AggOps.capReport(
      Seq.empty[String].toDF("b"), "b").count() === 0)
  }

  test("round-17 ops survive empty and singleton frames") {
    val emptySurv = Seq.empty[(Long, Boolean)].toDF("dur", "death")
    val oneSurv = Seq((3L, true)).toDF("dur", "death")
    assert(EvalOps.kaplanMeier(emptySurv, "dur", "death").count() === 0)
    val k1 = EvalOps.kaplanMeier(oneSurv, "dur", "death").collect()
    assert(k1.length === 1 && k1.head.getLong(4) === 0L,
      "a lone death takes S to 0 at its level")
    assert(EvalOps.kaplanMeierBy(
      Seq.empty[(Long, Long, Boolean)].toDF("g", "dur", "death"),
      "g", "dur", "death").count() === 0)
    val emptyGlm = Seq.empty[(Long, Long, Long)].toDF("x1", "x2", "y")
    val g = EvalOps.gammaIrls(emptyGlm, "x1", "x2", "y", 2)
      .collect().head
    assert(g.getLong(0) === 0L, "empty Gamma fit reads n = 0")
    val emptyKs = Seq.empty[(Long, Boolean)].toDF("v", "g")
    assert(EvalOps.ksTest(emptyKs, "v", "g").count() === 0)
    val emptySeries = Seq.empty[(Long, Long)].toDF("t", "x")
    assert(AggOps.differencedSeries(emptySeries, "t", "x", d = 1)
      .count() === 0)
    assert(AggOps.arimaBacktest(emptySeries, "t", "x", 2, 7)
      .count() === 0)
    val emptyBoost = Seq.empty[(Long, Boolean)].toDF("x", "y")
    assert(AggOps.adaBoostStumps(emptyBoost, "x", "y", 2)
      .count() === 0)
    assert(AggOps.l2BoostStumps(
      Seq.empty[(Long, Long)].toDF("x", "y"), "x", "y", 2)
      .count() === 0)
    val emptyConf = Seq.empty[(Long, Long, Long)]
      .toDF("label", "pred", "cnt")
    val ms = EvalOps.multiclassSummary(emptyConf, "label", "pred",
      "cnt").collect().head
    assert(ms.getLong(1) === 0L && ms.isNullAt(2))
    val emptyPair = Seq.empty[(Boolean, Boolean)].toDF("a", "b")
    val mc = EvalOps.mcnemarPaired(emptyPair, "a", "b", 3841459L)
      .collect().head
    assert(mc.getLong(0) === 0L && mc.getLong(6) === 0L &&
      !mc.getBoolean(7))
    assert(EvalOps.calibrationEce(
      Seq.empty[(Long, Boolean)].toDF("s", "y"), "s", "y", 2, 10)
      .count() === 0)
    assert(EvalOps.brierDecomposition(
      Seq.empty[(Long, Boolean)].toDF("s", "y"), "s", "y", 2)
      .count() === 0)
    val strat = EvalOps.coxPhStratified(
      Seq.empty[(Long, Long, Boolean, Long)]
        .toDF("g", "dur", "death", "x"),
      "g", "dur", "death", "x", 2).collect().head
    assert(strat.getLong(0) === 0L && strat.getLong(3) === 0L,
      "empty stratified Cox keeps beta frozen at 0")
  }

  test("round-18 ops survive empty frames") {
    val emptySeries = Seq.empty[(Long, Long)].toDF("t", "x")
    // HR ARMA: no stage-2 rows -> NULL Gram sums -> the all-zero
    // coefficient freeze; backtest has no rows at all
    val fit = AggOps.armaHr(emptySeries, "t", "x", 1, 1, 5).collect()
    assert(fit.length === 3 && fit.forall(_.getLong(2) === 0L))
    assert(AggOps.armaHrBacktest(emptySeries, "t", "x", 1, 1, 5)
      .count() === 0)
    // forecast bands: the horizon rows exist with NULL metrics (AR)
    // or vanish with the empty grid (HW's two-week-minimum rule)
    val band = AggOps.arForecastBand(emptySeries, "t", "x", 2, 3,
      1959964L).collect()
    assert(band.length === 3 && band.forall(_.isNullAt(1)))
    import java.sql.Date
    assert(AggOps.hwForecastBand(
      Seq.empty[(Date, Long)].toDF("d", "x"), "d", "x",
      300000L, 100000L, 200000L, 7, 3, 1959964L).count() === 0)
    // depth-2 boosting: no levels -> no root -> empty round table
    assert(AggOps.l2BoostTrees2(
      Seq.empty[(Long, Long)].toDF("x", "y"), "x", "y", 2)
      .count() === 0)
  }
}
