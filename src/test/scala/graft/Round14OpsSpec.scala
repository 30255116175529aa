package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{EvalOps, LayoutOps, SimilarityOps, SplitOps}
import graft.streaming.StreamOps

/** Round-14 verdict/ADVICE items: the IVF-PQ composition
  * (`SimilarityOps.ivfPqTopK` — round-13 verdict task 2), the
  * gridDbscan packed-cell-id bound check, and `bhAdjust` working for
  * any p-value column name.
  */
class Round14OpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Two well-separated 4-dim halves (the q292 pqFixture shape):
    * vectors 0-3 near (+.5, +.5, -.5, -.5), vectors 4-7 the mirror —
    * separable by the IVF coarse quantizer AND per-subspace. */
  private def fixture(): DataFrame =
    (0 until 8).map { i =>
      val a = if (i < 4) 0.5 else -0.5
      (i.toLong, Seq(a + i * 0.001, a - i * 0.001,
        -a + i * 0.001, -a - i * 0.001))
    }.toDF("vec_id", "embedding")

  private def fit(df: DataFrame) = (
    SimilarityOps.kMeansMicro(df, "vec_id", "embedding", 2, 2),
    SimilarityOps.pqCodebooks(df, "vec_id", "embedding",
      m = 2, subLen = 2, k = 2, iters = 2))

  test("ivfPqTopK with nprobe = nlist (every cell probed) equals " +
       "pqAdcTopK over the same codes — the prune is the ONLY delta") {
    val df = fixture()
    val (cents, books) = fit(df)
    val full = SimilarityOps.pqAdcTopK(df,
        SimilarityOps.pqEncode(df, "vec_id", "embedding", books, 2),
        "vec_id", "embedding", books, subLen = 2, topK = 7)
      .select("query_id", "neighbor_id", "adc_d2", "rn")
      .orderBy("query_id", "rn").collect().toSeq
    val pruned = SimilarityOps.ivfPqTopK(df, df, "vec_id", "embedding",
        cents, books, subLen = 2, nprobe = 2, topK = 7)
      .select("query_id", "neighbor_id", "adc_d2", "rn")
      .orderBy("query_id", "rn").collect().toSeq
    assert(pruned === full)
  }

  test("ivfPqTopK nprobe=1: every returned neighbor sits in the " +
       "query's single probed cell (the prune actually prunes)") {
    val df = fixture()
    val (cents, books) = fit(df)
    val cellOf = df.select(col("vec_id"),
        element_at(SimilarityOps.nearestCellsMicro(
          SimilarityOps.microVec(col("embedding")), cents, 1), 1)
          .as("cell"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = SimilarityOps.ivfPqTopK(df, df, "vec_id", "embedding",
        cents, books, subLen = 2, nprobe = 1, topK = 7).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      assert(cellOf(r.getLong(1)) === cellOf(r.getLong(0)),
        s"neighbor ${r.getLong(1)} outside query ${r.getLong(0)}'s cell")
    }
    // separated halves: with one probed cell each query sees only its
    // own half — 3 neighbors, never 7
    val perQuery = got.groupBy(_.getLong(0)).view.mapValues(_.length)
    perQuery.foreach { case (q, n) => assert(n === 3, s"query $q") }
  }

  test("ivfPqTopK is partition-invariant") {
    val df = fixture()
    val (cents, books) = fit(df)
    def run(d: DataFrame) =
      SimilarityOps.ivfPqTopK(d.filter(col("vec_id") < 2), d,
          "vec_id", "embedding", cents, books, 2, 2, 3)
        .orderBy("query_id", "rn").collect().toSeq
    assert(run(df.repartition(7)) === run(df.coalesce(1)))
  }

  test("ivfPqTopK plan: corpus side streams through broadcast joins " +
       "only — no sort-merge / shuffled join touches the code table") {
    val df = fixture()
    val (cents, books) = fit(df)
    val p = SimilarityOps.ivfPqTopK(df, df, "vec_id", "embedding",
        cents, books, 2, 1, 3)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"),
      s"corpus-side join must broadcast:\n$p")
  }

  test("gridDbscan fails loudly when the grid is too fine for the " +
       "packed cell id (|cy| >= 500000 — round-13 ADVICE)") {
    val df = Seq((1L, Seq(0.9, 0.9, 0.0, 0.0)),
      (2L, Seq(0.9001, 0.9001, 0.0, 0.0)))
      .toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      SimilarityOps.gridDbscan(df, "embedding",
        cellMicro = 1L, minPts = 1L).collect()
    }
    assert(e.getMessage.contains("too fine"))
    // a sane grid over the same data still clusters
    val ok = SimilarityOps.gridDbscan(df, "embedding",
      cellMicro = 100000L, minPts = 1L).collect()
    assert(ok.nonEmpty)
  }

  test("SCD2 state-version fence: restoring a stale-version state " +
       "record fails loudly with the rebuild instruction (round-13 " +
       "verdict task 4)") {
    // two tracked attributes; state row (a, b, open, fromUs, version,
    // seenUs, seenTie, sv), input row (key, a, b, us, tie, deleted)
    def stateRow(sv: Int) = Row("x", 1L, true, 10L, 1L, 10L, 0L, sv)
    def groupState(sv: Int) = TestGroupState.create[Row](
      org.apache.spark.api.java.Optional.of(stateRow(sv)),
      GroupStateTimeout.NoTimeout, 0L,
      org.apache.spark.api.java.Optional.empty[Long](),
      hasTimedOut = false)
    def input = Iterator(Row(1L, "y", 2L, 20L, 0L, false))
    val e = intercept[IllegalStateException] {
      StreamOps.scd2Step(1L, 2, input,
        groupState(StreamOps.Scd2StateVersion - 1), None).toList
    }
    assert(e.getMessage.contains("STALE STREAMING STATE"))
    assert(e.getMessage.contains("rebuild"))
    // a CURRENT-version state restores and versions normally
    val fresh = groupState(StreamOps.Scd2StateVersion)
    val out = StreamOps.scd2Step(1L, 2, input, fresh, None).toList
    assert(out.length === 1 && out.head.getLong(5) === 1L)
    assert(fresh.get.getInt(7) === StreamOps.Scd2StateVersion)
    assert(fresh.get.getLong(4) === 2L)
  }

  test("executeCompaction: one output file per plan bin (counted on " +
       "disk), and the read-back rows are exactly the source rows") {
    val rows = Seq(
      // part p1: files 0..3 of 3 bytes-ish rows each → sizes force
      // bins {0,1}+{2,3} at target 6 (cum 0,3,6,9 → bins 0,0,1,1)
      ("p1", 0L, 10L), ("p1", 0L, 11L), ("p1", 0L, 12L),
      ("p1", 1L, 13L), ("p1", 1L, 14L), ("p1", 1L, 15L),
      ("p1", 2L, 16L), ("p1", 2L, 17L), ("p1", 2L, 18L),
      ("p1", 3L, 19L), ("p1", 3L, 20L), ("p1", 3L, 21L),
      // part p2: one file → one bin
      ("p2", 0L, 30L), ("p2", 0L, 31L))
      .toDF("part", "file_id", "v")
    val inv = rows.groupBy(col("part"), col("file_id"))
      .agg(count(lit(1)).as("bytes")) // 3 or 2 "bytes" per file
    val asg = LayoutOps.binAssignments(inv, "part", "file_id",
      "bytes", 6L)
    val plan = LayoutOps.compactionPlan(inv, "part", "file_id",
      "bytes", 6L).collect()
    assert(plan.count(_.getAs[String]("part") == "p1") === 2)
    assert(plan.count(_.getAs[String]("part") == "p2") === 1)
    val out = SparkTestSession.tmpDir("compact")
      .toString + "/t"
    LayoutOps.executeCompaction(rows, asg, "part", "file_id", out)
    // one parquet part file per (part, bin) directory
    val binDirs = new java.io.File(out).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("part="))
      .flatMap(_.listFiles().filter(_.isDirectory))
    assert(binDirs.length === 3)
    binDirs.foreach { d =>
      val parts = d.listFiles().filter(_.getName.startsWith("part-"))
      assert(parts.length === 1, s"${d.getPath}: ${parts.length} files")
    }
    // read-back parity: same multiset of (part, file_id, v)
    val back = spark.read.parquet(out)
      .select(col("part").cast("string"), col("file_id"), col("v"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sorted.toSeq
    val src = rows.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sorted.toSeq
    assert(back === src)
  }

  test("epochShuffle: pos is the exact md5 total order (window " +
       "parity), a bijection 1..N, and salts give different " +
       "permutations") {
    val df = (1L to 200L).toDF("id")
    val got = SplitOps.epochShuffle(df, "id", "e1")
    val byPrefix = got.orderBy("pos").collect().map(_.getLong(0)).toSeq
    val byWindow = df.select(col("id"),
        conv(substring(md5(concat(lit("e1:"),
          col("id").cast("string"))), 1, 15), 16, 10).cast("long")
          .as("k"))
      .orderBy(col("k"), col("id")).collect().map(_.getLong(0)).toSeq
    assert(byPrefix === byWindow)
    assert(got.select("pos").collect().map(_.getLong(0)).sorted.toSeq
      === (1L to 200L))
    val other = SplitOps.epochShuffle(df, "id", "e2")
      .orderBy("pos").collect().map(_.getLong(0)).toSeq
    assert(other !== byPrefix) // independent permutation per salt
    // partition invariance
    val rep = SplitOps.epochShuffle(df.repartition(7), "id", "e1")
      .orderBy("pos").collect().map(_.getLong(0)).toSeq
    assert(rep === byPrefix)
  }

  test("curriculumInterleave: round-robin over unequal sources — " +
       "pos is a bijection and each round visits live sources in " +
       "src_rank order") {
    val df = ((1L to 5L).map(i => (i, "a")) ++
      (6L to 8L).map(i => (i, "b")) ++
      Seq((9L, "c"))).toDF("id", "src")
    val got = SplitOps.curriculumInterleave(df, "id", "src", "s1")
      .orderBy("pos").collect()
    assert(got.map(_.getAs[Long]("pos")).toSeq === (1L to 9L))
    // lexicographic (round, src_rank) must be strictly increasing
    val lex = got.map(r =>
      (r.getAs[Long]("round"), r.getAs[Long]("src_rank")))
    assert(lex.toSeq === lex.toSeq.sorted)
    // sizes 5/3/1: round r emits one row per source with >= r rows
    val perRound = got.groupBy(_.getAs[Long]("round")).view
      .mapValues(_.length).toMap
    val sizes = Map("a" -> 5L, "b" -> 3L, "c" -> 1L)
    assert(perRound.keySet === (1L to 5L).toSet)
    perRound.foreach { case (r, cnt) =>
      assert(cnt === sizes.values.count(_ >= r), s"round $r")
    }
  }

  test("paragraph dedup rollup (q320 composition): keep-first marks " +
       "later copies, drop-paragraph keeps the clean remainder, " +
       "drop-doc fires at half dup share") {
    def para(p: String) = (1 to 20).map(i => s"$p$i").mkString(" ")
    val docs = Seq(
      (1L, para("a") + " " + para("b")),               // originals
      (2L, para("a") + " " + para("c") + " " + para("d")), // 1/3 dup
      (3L, para("a") + " " + para("b")))               // 2/2 dup
      .toDF("doc_id", "text")
    val paras = graft.ops.TextOps
      .chunkTokens(docs, "doc_id", "text", 20, 0)
      .select((col("doc_id") * 1000 + col("chunk_id")).as("pid"),
        col("doc_id"), col("chunk_text"))
    val cand = graft.ops.DedupOps.lshCandidatePairs(paras, "pid",
      "chunk_text", k = 32, bands = 8, maxBucket = 256)
    val dupIds = cand.select(col("id_b").as("pid")).distinct()
      .withColumn("_d", lit(1L))
    val got = paras.join(dupIds, Seq("pid"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_paras"),
        sum(coalesce(col("_d"), lit(0L))).as("n_dup_paras"))
      .withColumn("doc_dropped",
        col("n_dup_paras") * 2 >= col("n_paras"))
      .withColumn("paras_kept", when(col("doc_dropped"), 0L)
        .otherwise(col("n_paras") - col("n_dup_paras")))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3), r.getLong(4))).toSeq
    assert(got === Seq(
      (1L, 2L, 0L, false, 2L), // first occurrences — clean
      (2L, 3L, 1L, false, 2L), // below half: drop the para, keep doc
      (3L, 2L, 2L, true, 0L))) // at/above half: drop the doc
  }

  test("isotonicPav: hand-computed pooling — a violator pair pools " +
       "to its weighted mean, and the fit is monotone") {
    // levels 1..4 with raw means 0.2, 0.8, 0.4, 1.0:
    // levels 2 and 3 violate; PAV pools them to (4+2)/10 = 0.6
    val rows =
      (1 to 10).map(i => (1L, if (i <= 2) 1L else 0L)) ++
      (1 to 5).map(i => (2L, if (i <= 4) 1L else 0L)) ++
      (1 to 5).map(i => (3L, if (i <= 2) 1L else 0L)) ++
      (1 to 4).map(i => (4L, 1L))
    val got = EvalOps.isotonicPav(rows.toDF("lvl", "y"), "lvl", "y")
      .orderBy("level").collect()
    assert(got.map(_.getAs[Long]("raw_micro")).toSeq ===
      Seq(200000L, 800000L, 400000L, 1000000L))
    assert(got.map(_.getAs[Long]("iso_micro")).toSeq ===
      Seq(200000L, 600000L, 600000L, 1000000L))
    val iso = got.map(_.getAs[Long]("iso_micro"))
    assert(iso.zip(iso.tail).forall { case (a, b) => a <= b })
  }

  test("isotonicPav: already-monotone input is returned unchanged, " +
       "and the output is monotone + partition-invariant on a " +
       "hashed fixture") {
    val mono = Seq((1L, 0L), (1L, 0L), (2L, 0L), (2L, 1L),
      (3L, 1L), (3L, 1L)).toDF("lvl", "y")
    val g = EvalOps.isotonicPav(mono, "lvl", "y")
      .orderBy("level").collect()
    assert(g.map(_.getAs[Long]("iso_micro")).toSeq ===
      g.map(_.getAs[Long]("raw_micro")).toSeq)
    // pseudo-random fixture: monotonicity must hold regardless
    val rnd = (1L to 500L).map { i =>
      val h = Integer.parseInt(
        org.apache.commons.codec.digest.DigestUtils.md5Hex(s"iso:$i")
          .substring(0, 6), 16)
      (h % 13L, (h / 13 % 2).toLong)
    }.toDF("lvl", "y")
    def run(d: org.apache.spark.sql.DataFrame) =
      EvalOps.isotonicPav(d, "lvl", "y").orderBy("level").collect()
        .map(r => (r.getAs[Long]("level"), r.getAs[Long]("iso_micro")))
        .toSeq
    val a = run(rnd.repartition(11))
    assert(a === run(rnd.coalesce(1)))
    val vals = a.map(_._2)
    assert(vals.zip(vals.tail).forall { case (x, y) => x <= y })
  }

  test("brierDecomposition: hand-computed two-level fixture — " +
       "perfectly calibrated forecasts have rel=0 and the Murphy " +
       "identity unc - res + rel = brier holds exactly when the " +
       "level means are micro-exact") {
    // p=0.25 over (n=4, s=1) and p=0.75 over (n=4, s=3): calibrated
    val rows = Seq.fill(1)((250000L, 1L)) ++ Seq.fill(3)((250000L, 0L)) ++
      Seq.fill(3)((750000L, 1L)) ++ Seq.fill(1)((750000L, 0L))
    val g = EvalOps.brierDecomposition(rows.toDF("p", "y"), "p", "y")
      .head()
    assert(g.getAs[Long]("n") === 8L)
    assert(g.getAs[Long]("ybar_micro") === 500000L)
    assert(g.getAs[Long]("rel_micro") === 0L)
    assert(g.getAs[Long]("res_micro") === 62500L)
    assert(g.getAs[Long]("unc_micro") === 250000L)
    assert(g.getAs[Long]("brier_micro") === 187500L)
    assert(g.getAs[Long]("unc_micro") - g.getAs[Long]("res_micro") +
      g.getAs[Long]("rel_micro") === g.getAs[Long]("brier_micro"))
  }

  test("brierDecomposition: a miscalibrated constant forecast has " +
       "res=0 and rel = its squared error; partition-invariant") {
    // p=0.9 everywhere, ybar=0.5: rel = (0.4)^2 = 160000 micro
    val rows = Seq.fill(5)((900000L, 1L)) ++ Seq.fill(5)((900000L, 0L))
    def run(d: DataFrame) =
      EvalOps.brierDecomposition(d, "p", "y").head()
    val g = run(rows.toDF("p", "y"))
    assert(g.getAs[Long]("res_micro") === 0L)
    assert(g.getAs[Long]("rel_micro") === 160000L)
    assert(run(rows.toDF("p", "y").repartition(7)) === g)
  }

  test("mcnemar: hand-computed discordant cells and the continuity-" +
       "corrected chi2; no discordance gives a null statistic") {
    // truth all true; A right on 5 of 8, B right on 3 of 8 with
    // n11=2, n10=3, n01=1, n00=2
    val rows = Seq(
      (true, true, true), (true, true, true),     // n11 = 2
      (true, false, true), (true, false, true), (true, false, true),
      (false, true, true),                        // n01 = 1
      (false, false, true), (false, false, true)) // n00 = 2
      .toDF("a", "b", "tr")
    val g = EvalOps.mcnemar(rows, "a", "b", "tr").head()
    assert((g.getAs[Long]("n11"), g.getAs[Long]("n10"),
      g.getAs[Long]("n01"), g.getAs[Long]("n00")) === (2L, 3L, 1L, 2L))
    // ((|3-1|-1)^2 * 1e6) div 4 = 250000
    assert(g.getAs[Long]("chi2_micro") === 250000L)
    val none = EvalOps.mcnemar(
      Seq((true, true, true), (false, false, true)).toDF("a", "b", "tr"),
      "a", "b", "tr").head()
    assert(none.isNullAt(none.fieldIndex("chi2_micro")))
  }

  test("jsdVsRest: identical distributions give 0, disjoint " +
       "vocabularies give ln 2, and the value is symmetric in the " +
       "two-group case") {
    import graft.ops.TextOps
    // identical: both groups see the same tokens with the same counts
    val same = Seq(("g1", "x", 3L), ("g1", "y", 1L),
      ("g2", "x", 3L), ("g2", "y", 1L)).toDF("g", "tok", "c")
    val s = TextOps.jsdVsRest(same, "g", "tok", "c")
      .orderBy("g").collect()
    assert(s.map(_.getAs[Long]("jsd_micro")).toSeq === Seq(0L, 0L))
    // disjoint: P and Q share no tokens → JSD = ln 2
    val disj = Seq(("g1", "x", 2L), ("g1", "y", 2L),
      ("g2", "z", 4L)).toDF("g", "tok", "c")
    val d = TextOps.jsdVsRest(disj, "g", "tok", "c")
      .orderBy("g").collect()
    d.foreach(r => assert(math.abs(r.getAs[Long]("jsd_micro")
      - 693147L) <= 1, r.toString))
    // two groups: JSD(P‖Q) = JSD(Q‖P)
    val two = Seq(("g1", "x", 5L), ("g1", "y", 1L),
      ("g2", "x", 1L), ("g2", "y", 3L)).toDF("g", "tok", "c")
    val t2 = TextOps.jsdVsRest(two, "g", "tok", "c")
      .collect().map(_.getAs[Long]("jsd_micro")).toSet
    assert(t2.size === 1) // symmetric
    val v = t2.head
    assert(v > 0L && v < 693147L)
  }

  test("bloom decontamination composition (q325): a train doc " +
       "sharing a 13-gram with the eval set can NEVER pass " +
       "unflagged (the filter's one-sided error)") {
    import graft.ops.SketchOps
    import graft.ops.TextOps
    def words(seed: String) =
      (1 to 13).map(i => s"$seed$i").mkString(" ")
    val docs = Seq(
      (1L, words("a") + " " + words("b")), // shares 'a'-gram w/ eval
      (2L, words("c")),                    // clean
      (500L, words("a"))).toDF("doc_id", "text") // eval member
    val evalSh = docs.where(col("doc_id") >= 450)
      .select(explode(TextOps.shingleSet(col("text"), 13)).as("sh"))
      .distinct()
    val bits = SketchOps.bloomBitTable(evalSh, "sh", 3, 16384)
    val trainSh = docs.where(col("doc_id") < 450)
      .select(col("doc_id"),
        explode(TextOps.shingleSet(col("text"), 13)).as("sh"))
    val verdict = SketchOps.bloomProbe(bits,
      trainSh.select(col("sh")).distinct(), "sh", 3, 16384)
    val hits = trainSh.join(verdict, Seq("sh"))
      .groupBy(col("doc_id"))
      .agg(sum(when(col("maybe"), 1L).otherwise(0L)).as("n_hits"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // doc 1 contains the eval 13-gram word-for-word: no false
    // negatives means it MUST be flagged
    assert(hits(1L) >= 1L)
    // doc 2 may only hit by collision; with 3 hash copies in 16384
    // bits over ~14 member grams a hit would be ~1e-9 — assert clean
    assert(hits(2L) === 0L)
  }

  test("fairnessReport: hand-computed rates per group, null for an " +
       "undefined rate, and the max-min gaps ride every row") {
    val rows = Seq(
      // group 1: 4 rows, sel 2/4, tpr 1/2, fpr 1/2
      (1L, true, true), (1L, true, false),
      (1L, false, true), (1L, false, false),
      // group 2: 2 rows, all truths positive -> fpr undefined (null);
      // sel 2/2, tpr 2/2
      (2L, true, true), (2L, true, true))
      .toDF("g", "pred", "truth")
    val got = EvalOps.fairnessReport(rows, "g", "pred", "truth")
      .orderBy("grp").collect()
    val g1 = got(0); val g2 = got(1)
    assert(g1.getAs[Long]("sel_ppm") === 500000L)
    assert(g1.getAs[Long]("tpr_ppm") === 500000L)
    assert(g1.getAs[Long]("fpr_ppm") === 500000L)
    assert(g2.getAs[Long]("sel_ppm") === 1000000L)
    assert(g2.getAs[Long]("tpr_ppm") === 1000000L)
    assert(g2.isNullAt(g2.fieldIndex("fpr_ppm")))
    // gaps: sel 500000, tpr 500000; fpr over the one defined value = 0
    got.foreach { r =>
      assert(r.getAs[Long]("sel_gap_ppm") === 500000L)
      assert(r.getAs[Long]("tpr_gap_ppm") === 500000L)
      assert(r.getAs[Long]("fpr_gap_ppm") === 0L)
    }
  }

  test("chiSquareIndependence: hand-computed 2x2 association and " +
       "an exactly-proportional table scoring 0") {
    def rows(n11: Int, n12: Int, n21: Int, n22: Int) =
      (Seq.fill(n11)(("a1", "b1")) ++ Seq.fill(n12)(("a1", "b2")) ++
        Seq.fill(n21)(("a2", "b1")) ++ Seq.fill(n22)(("a2", "b2")))
        .toDF("a", "b")
    val g = EvalOps.chiSquareIndependence(rows(10, 20, 20, 10),
      "a", "b").head()
    // E = 15 per cell, chi2 = 4 * 25/15 = 6.666668 with per-cell
    // micro rounding (1666667 * 4); V = sqrt(chi2/60) = 0.333333
    assert(g.getAs[Long]("chi2_micro") === 6666668L)
    assert(g.getAs[Long]("dof") === 1L)
    assert(g.getAs[Long]("cramers_v_micro") === 333333L)
    val indep = EvalOps.chiSquareIndependence(rows(10, 20, 20, 40),
      "a", "b").head()
    assert(indep.getAs[Long]("chi2_micro") === 0L)
    assert(indep.getAs[Long]("cramers_v_micro") === 0L)
  }

  test("psi: identical sides score 0, a shifted side scores > 0, " +
       "and the statistic is symmetric under side swap") {
    val same = ((1 to 50).map(i => (i % 5, true)) ++
      (1 to 50).map(i => (i % 5, false))).toDF("bk", "s")
    assert(EvalOps.psi(same, "bk", "s").head()
      .getAs[Long]("psi_micro") === 0L)
    val shifted = ((1 to 50).map(i => (i % 5, true)) ++
      (1 to 50).map(i => (i % 3, false))).toDF("bk", "s")
    val v = EvalOps.psi(shifted, "bk", "s").head()
      .getAs[Long]("psi_micro")
    assert(v > 0L)
    val swapped = EvalOps.psi(
      shifted.withColumn("s", !col("s")), "bk", "s").head()
    assert(swapped.getAs[Long]("psi_micro") === v)
    assert(swapped.getAs[Long]("n_base") === 50L)
  }

  test("kendallTauB: hand-computed concordance (tau 1, 1/3, -1), " +
       "the tied grid scoring exactly 0, and null on a constant " +
       "margin") {
    import graft.ops.AggOps
    def tau(pairs: Seq[(Long, Long)]) =
      AggOps.kendallTauB(pairs.toDF("x", "y"), "x", "y").head()
    assert(tau(Seq((1L, 1L), (2L, 2L), (3L, 3L)))
      .getAs[Long]("tau_b_micro") === 1000000L)
    assert(tau(Seq((1L, 3L), (2L, 2L), (3L, 1L)))
      .getAs[Long]("tau_b_micro") === -1000000L)
    // one discordant of three pairs: (P, Q) = (2, 1), tau = 1/3
    val third = tau(Seq((1L, 2L), (2L, 1L), (3L, 3L)))
    assert((third.getAs[Long]("p_pairs"),
      third.getAs[Long]("q_pairs")) === (2L, 1L))
    assert(third.getAs[Long]("tau_b_micro") === 333333L)
    // 2x2 balanced grid: P = Q = 1, ties 2/2, tau_b = 0
    val grid = tau(Seq((1L, 1L), (1L, 2L), (2L, 1L), (2L, 2L)))
    assert((grid.getAs[Long]("p_pairs"), grid.getAs[Long]("q_pairs"),
      grid.getAs[Long]("tie_x"), grid.getAs[Long]("tie_y")) ===
      (1L, 1L, 2L, 2L))
    assert(grid.getAs[Long]("tau_b_micro") === 0L)
    // constant x: undefined -> null, never NaN
    val const = tau(Seq((5L, 1L), (5L, 2L), (5L, 3L)))
    assert(const.isNullAt(const.fieldIndex("tau_b_micro")))
  }

  test("twoProportionZ: hand-computed pooled z (30/100 vs 20/100 -> " +
       "z = 1.632993), and degenerate pools give null not NaN") {
    import graft.ops.EvalOps
    val rows = (Seq.fill(30)((true, true)) ++
      Seq.fill(70)((true, false)) ++
      Seq.fill(20)((false, true)) ++
      Seq.fill(80)((false, false))).toDF("arm", "conv")
    val g = EvalOps.twoProportionZ(rows, "arm", "conv").head()
    assert((g.getAs[Long]("n_a"), g.getAs[Long]("x_a"),
      g.getAs[Long]("n_b"), g.getAs[Long]("x_b")) ===
      (100L, 30L, 100L, 20L))
    assert(g.getAs[Long]("p_a_ppm") === 300000L)
    assert(g.getAs[Long]("p_b_ppm") === 200000L)
    // z = 0.1 / sqrt(0.25 * 0.75 * 0.02) = 1.6329932
    assert(g.getAs[Long]("z_micro") === 1632993L)
    // all conversions: pooled rate 1 -> no variance -> null z
    val degen = EvalOps.twoProportionZ(
      Seq((true, true), (false, true)).toDF("arm", "conv"),
      "arm", "conv").head()
    assert(degen.isNullAt(degen.fieldIndex("z_micro")))
  }

  test("cuped: a perfectly predictive covariate (y = 2x) gives " +
       "theta = 2, full variance reduction, and a zero adjusted " +
       "diff; constant covariate gives nulls") {
    import graft.ops.EvalOps
    val rows = (1L to 10L).map(i => (i, 2L * i, i > 5))
      .toDF("x", "y", "arm")
    val g = EvalOps.cuped(rows, "x", "y", "arm").head()
    assert(g.getAs[Long]("theta_micro") === 2000000L)
    assert(g.getAs[Long]("var_reduction_ppm") === 1000000L)
    // raw diff: mean y_t - mean y_c = 16 - 6 = 10 units -> 1e4 scale
    assert(g.getAs[Long]("diff_raw_micro") === 100000L)
    assert(g.getAs[Long]("diff_cuped_micro") === 0L)
    val const = EvalOps.cuped(
      (1L to 6L).map(i => (7L, i, i % 2 == 0)).toDF("x", "y", "arm"),
      "x", "y", "arm").head()
    assert(const.isNullAt(const.fieldIndex("theta_micro")))
    assert(const.isNullAt(const.fieldIndex("diff_cuped_micro")))
  }

  test("bhAdjust works for any p-value column name (round-13 " +
       "ADVICE: the rank window must order by the post-rename col)") {
    val tests = Seq(("a", 1000L), ("b", 8000L), ("c", 30000L),
      ("d", 900000L)).toDF("grp", "pval")
    val got = EvalOps.bhAdjust(tests, "grp", "pval", 1, 20)
      .orderBy("rank").collect()
    assert(got.map(_.getAs[String]("grp")).toSeq ===
      Seq("a", "b", "c", "d"))
    // alpha=.05, m=4: thresholds (i/4)*.05e6 = 12500/25000/37500/50000
    // p=(1000, 8000, 30000, 900000) → ranks 1,2,3 pass cutoffs up to
    // rank 3 (30000 <= 37500) → reject 1..3
    assert(got.map(_.getAs[Boolean]("rejected")).toSeq ===
      Seq(true, true, true, false))
  }
}
