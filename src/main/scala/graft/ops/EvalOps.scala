package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Offline EVALUATION operators — the measurement half of the
  * retrieval ([[SearchOps]], [[SimilarityOps]]) and classification
  * (`ml.IdsPipeline`) surfaces: ranked-retrieval metrics
  * (P@k / recall@k / MRR / NDCG), exact ROC-AUC, and calibration
  * (reliability bins + ECE).
  *
  * Exactness convention: every transcendental constant (the NDCG
  * log-discount table) is fixed to INTEGER micro-units on the driver
  * and embedded as a literal in BOTH engines (the q186/q193
  * convention), and every per-group reduction runs over exact
  * integers with the float divides happening once, at the end, on
  * identical operands — so metric values are bit-reproducible across
  * engines and partitionings.
  *
  * Scale shape (the 100 TB design point): rankingMetrics consumes an
  * already-truncated top-k table (k·|queries| rows — ONE hash
  * aggregate); rocAuc never sorts the row set — scores collapse to a
  * grouped (score, n_pos, n_neg) table and ranking becomes a
  * two-level prefix sum (the q181 pattern: O(buckets) driver offsets
  * + bucket-partitioned windows), so a 10^11-row score column
  * aggregates map-side before anything is ordered; calibrationBins is
  * two hash aggregates and a broadcast.
  */
object EvalOps {

  /** TOP-K OVERLAP (recall@k of one ranked result set against a
    * reference) — the ANN-quality readout as a first-class RELATIONAL
    * op: per query, |approx ∩ exact| over the reference's top-k, as
    * an exact ppm rational. Unlike [[rankingMetrics]] (graded
    * relevance labels), this compares two RESULT SETS — the
    * approx-vs-brute-force evaluation every ANN deployment runs
    * before trusting an index. With a DETERMINISTIC index
    * (`ivfTopKMicro`) and the deterministic brute force, the metric
    * itself is hash-oracle-able (q274) — ANN quality becomes a
    * checked quantity, not a spec-only recall floor.
    *
    * Scale shape: both inputs are already-truncated top-k tables
    * (k·|queries| rows); the overlap is one equi-join on
    * (query, item) + one hash aggregate against the reference's
    * per-query counts — nothing data-sized. */
  def topKOverlap(approx: DataFrame, exact: DataFrame,
                  queryCol: String, itemCol: String): DataFrame = {
    val ex = exact.select(col(queryCol), col(itemCol))
    val n = ex.groupBy(col(queryCol)).agg(count(lit(1)).as("n_exact"))
    val hits = ex
      .join(approx.select(col(queryCol), col(itemCol)),
        Seq(queryCol, itemCol), "left_semi")
      .groupBy(col(queryCol)).agg(count(lit(1)).as("hits"))
    n.join(hits, Seq(queryCol), "left")
      .select(col(queryCol),
        coalesce(col("hits"), lit(0L)).as("hits"),
        col("n_exact"),
        expr("coalesce(hits, 0) * 1000000 div n_exact")
          .as("recall_ppm"))
  }

  /** NDCG discount table in integer micro-units:
    * gain(r) = round(1e6 / log2(r + 1)), r = 1..k. */
  def dcgGainsMicro(k: Int): Array[Long] =
    (1 to k).map(r => math.round(1e6 * math.log(2) / math.log(r + 1.0)))
      .toArray

  /** Prefix sums of [[dcgGainsMicro]] — ideal DCG for m relevant docs
    * in the top k is idcg(min(m, k)). Index 0 (no relevant) = 0. */
  def idcgMicro(k: Int): Array[Long] =
    dcgGainsMicro(k).scanLeft(0L)(_ + _)

  /** Per-query ranked-retrieval metrics over a top-`k` result table.
    *
    * `ranked` must carry one row per (query, retrieved doc) with the
    * 1-based rank in `rankCol` (ranks > k are ignored), a 0/1
    * relevance in `relCol`, and the query's TOTAL relevant-doc count
    * (constant within a query) in `totalRelCol` — the denominator for
    * recall and the ideal-DCG length.
    *
    * Returns one row per query: n_rel_ret, p_at_k, recall_at_k
    * (null when the query has no relevant docs), mrr_micro
    * (round(1e6/first-relevant-rank), 0 when none), dcg_micro,
    * idcg_micro, ndcg. One map-side-combinable aggregate over
    * k·|queries| rows — the input is already truncated, so this costs
    * nothing at any corpus size. */
  def rankingMetrics(ranked: DataFrame, queryCol: String, rankCol: String,
                     relCol: String, totalRelCol: String,
                     k: Int): DataFrame = {
    val gains = typedLit(dcgGainsMicro(k))
    val idcg = typedLit(idcgMicro(k))
    ranked.filter(col(rankCol) <= k)
      .groupBy(col(queryCol))
      .agg(
        sum(col(relCol).cast("long")).as("n_rel_ret"),
        min(when(col(relCol) === 1, col(rankCol))).as("_fr"),
        sum(col(relCol).cast("long") *
          element_at(gains, col(rankCol).cast("int"))).as("dcg_micro"),
        first(col(totalRelCol)).cast("long").as("_tr"))
      .select(col(queryCol), col("n_rel_ret"),
        round(col("n_rel_ret").cast("double") / k, 6).as("p_at_k"),
        when(col("_tr") > 0,
          round(col("n_rel_ret").cast("double") / col("_tr"), 6))
          .as("recall_at_k"),
        coalesce(round(lit(1e6) / col("_fr"), 0).cast("long"), lit(0L))
          .as("mrr_micro"),
        col("dcg_micro"),
        // ideal ranking puts min(totalRel, k) relevant docs first
        element_at(idcg, least(col("_tr"), lit(k.toLong)).cast("int") + 1)
          .as("idcg_micro"))
      .withColumn("ndcg",
        when(col("idcg_micro") > 0,
          round(col("dcg_micro").cast("double") / col("idcg_micro"), 6)))
  }

  /** EXACT ROC-AUC (Mann–Whitney form with the tie-average
    * correction) over an integer score column — never sorts the row
    * set. `scored` needs `scoreCol` (long; fix floats to micro-units
    * upstream) and `labelCol` (boolean, true = positive).
    *
    * AUC = Σ_s [ n_pos(s)·( n_neg(<s) + n_neg(s)/2 ) ] / (P·N),
    * computed as the integer numerator
    * num2 = Σ_s n_pos(s)·(2·cum_neg_below(s) + n_neg(s))
    * with ONE float divide by 2·P·N at the end — identical operands in
    * any engine.
    *
    * Scale shape: rows collapse map-side to a grouped
    * (score, n_pos, n_neg) table; cum_neg_below is a TWO-LEVEL prefix
    * sum — scores pre-bucket by their high bits (arithmetic shift, so
    * bucket order == numeric order for negatives too), an O(buckets)
    * driver matrix gives each bucket its starting negative count, and
    * the only window partitions BY BUCKET. No global sort, no
    * single-partition window, at any score-column cardinality. */
  def rocAuc(scored: DataFrame, scoreCol: String, labelCol: String,
             bucketShift: Int = 32): DataFrame = {
    val grouped = scored.groupBy(col(scoreCol).as("_s"))
      .agg(sum(when(col(labelCol), 1L).otherwise(0L)).as("_p"),
        sum(when(col(labelCol), 0L).otherwise(1L)).as("_n"))
      .withColumn("_b", shiftright(col("_s"), bucketShift))
      .localCheckpoint() // feeds the bucket matrix AND the scan below
    // O(buckets) rows to the driver — the q181 accepted class
    val perBucket = grouped.groupBy(col("_b"))
      .agg(sum(col("_n")).as("_bn")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val starts = perBucket.scanLeft((0L, 0L)) {
      case ((_, cum), (b, bn)) => (b, cum + bn)
    }
    val offsets = perBucket.map(_._1).zip(starts.map(_._2))
    val spark = scored.sparkSession
    import spark.implicits._
    val offDf = offsets.toSeq.toDF("_b", "_start")
    val win = Window.partitionBy(col("_b")).orderBy(col("_s"))
      .rowsBetween(Window.unboundedPreceding, -1)
    grouped.join(broadcast(offDf), Seq("_b"))
      .withColumn("_negBelow",
        col("_start") + coalesce(sum(col("_n")).over(win), lit(0L)))
      .agg(sum(col("_p")).as("n_pos"), sum(col("_n")).as("n_neg"),
        sum(col("_p") * (lit(2L) * col("_negBelow") + col("_n")))
          .as("_num2"))
      .select(col("n_pos"), col("n_neg"),
        round(col("_num2").cast("double") /
          (lit(2.0) * col("n_pos") * col("n_neg")), 6).as("auc"))
      .withColumn("gini", round(lit(2.0) * col("auc") - 1.0, 6))
  }

  /** Reliability diagram + expected calibration error over an integer
    * confidence score. Scores min-max normalize to [0, 1] by exact
    * integer arithmetic (d = s − s_min over range R = s_max − s_min);
    * equal-width bin = min(d·bins div R, bins − 1) — d ≥ 0, so
    * truncating and flooring division agree in every engine.
    *
    * Per bin: n, n_pos, confidence = Σd/(n·R), accuracy = n_pos/n;
    * ECE rides every row as the constant
    * Σ_b |Σd_b − n_pos_b·R| / (R·N) — the numerator is an EXACT
    * integer (n·confidence − n·accuracy pre-multiplied by n·R), so
    * the weighted-|conf−acc| sum never accumulates float error.
    *
    * Scale: one 1-row min/max aggregate broadcast into the scan, one
    * hash aggregate on the bin id, one 1-row ECE aggregate broadcast
    * back. Degenerate input (R = 0, all scores equal) yields bin 0
    * with null confidence/ece. */
  def calibrationBins(scored: DataFrame, scoreCol: String,
                      labelCol: String, bins: Int = 10): DataFrame = {
    val st = scored.agg(min(col(scoreCol)).as("_lo"),
      max(col(scoreCol)).as("_hi"), count(lit(1)).as("_nt"))
      .withColumn("_r", col("_hi") - col("_lo"))
    val binned = scored.crossJoin(broadcast(st))
      .withColumn("_d", col(scoreCol) - col("_lo"))
      .withColumn("bin",
        when(col("_r") === 0, lit(0L)).otherwise(
          least(expr(s"(_d * $bins) DIV _r"), lit(bins - 1L))))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        sum(when(col(labelCol), 1L).otherwise(0L)).as("n_pos"),
        sum(col("_d")).as("_sd"), first(col("_r")).as("_r"),
        first(col("_nt")).as("_nt"))
      .localCheckpoint() // feeds the ECE total AND the per-bin rows
    val ece = binned
      .agg(sum(abs(col("_sd") - col("n_pos") * col("_r"))).as("_num"),
        first(col("_r")).as("_r2"), first(col("_nt")).as("_nt2"))
      .select(when(col("_r2") > 0,
        round(col("_num").cast("double") /
          (col("_r2").cast("double") * col("_nt2")), 6)).as("ece"))
    binned.select(col("bin"), col("n"), col("n_pos"),
        when(col("_r") > 0,
          round(col("_sd").cast("double") /
            (col("n").cast("double") * col("_r")), 6)).as("confidence"),
        round(col("n_pos").cast("double") / col("n"), 6).as("accuracy"))
      .crossJoin(broadcast(ece))
  }

  /** MONDRIAN SPLIT CONFORMAL PREDICTION (Papadopoulos et al. 2002;
    * Vovk's Mondrian taxonomy; Lei et al. 2018): given a training
    * split that fits a per-group point predictor and a calibration
    * split, the conformal quantile q̂ = the ⌈(n+1)(1−α)⌉-th smallest
    * calibration nonconformity score buys the finite-sample marginal
    * guarantee P(|y − μ̂| ≤ q̂) ≥ 1−α on exchangeable test rows —
    * per GROUP (the Mondrian form), so the guarantee is
    * class-conditional. A group whose calibration set is too small
    * for a finite guarantee (⌈(n+1)(1−α)⌉ > n) drops from the report
    * rather than emitting a fake quantile.
    *
    * Exactness: the predictor is the exact rational group mean
    * (sum, count kept as integers), and nonconformity scores are
    * SCALED to integers — r = |y·n_tr − S_tr| (each group's scores
    * share the n_tr scale, and the quantile is order-statistic-based,
    * so scaling by a positive per-group constant changes nothing).
    * q̂ is then an exact integer order statistic via the count-below
    * rank rule (q227 convention) over the per-group SCORE HISTOGRAM
    * (bounded: ≤ |distinct y values| rows per group), and coverage is
    * an integer ratio — everything hash-compares.
    *
    * Scale shape: one grouped agg per split (map-side combinable),
    * the per-group model/quantile tables BROADCAST back, scoring and
    * the coverage check are pure projections — the 100 TB test set
    * never sorts. ⌈(n+1)(1−α)⌉ with α = num/den is computed in
    * integer arithmetic: (n+1)·(den−num) ceil-div den. */
  def splitConformal(train: DataFrame, cal: DataFrame, test: DataFrame,
                     groupCol: String, valueCol: String,
                     alphaNum: Int, alphaDen: Int): DataFrame = {
    require(alphaDen > 0 && alphaNum > 0 && alphaNum < alphaDen,
      s"alpha = $alphaNum/$alphaDen must sit in (0, 1)")
    val y = col(valueCol).cast("long")
    val model = train.groupBy(col(groupCol))
      .agg(sum(y).as("_s_tr"), count(lit(1)).as("_n_tr"))
    def scored(df: DataFrame) = df
      .join(broadcast(model), Seq(groupCol))
      .withColumn("_r", abs(y * col("_n_tr") - col("_s_tr")))
    // per-group score histogram -> exact ⌈(n+1)(1-α)⌉-th smallest:
    // the window sorts distinct score LEVELS only, never rows
    val hist = scored(cal)
      .groupBy(col(groupCol), col("_r"))
      .agg(count(lit(1)).as("_c"))
    val ranked = hist
      .withColumn("_below", coalesce(sum(col("_c")).over(
        Window.partitionBy(col(groupCol)).orderBy(col("_r"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val nCal = hist.groupBy(col(groupCol))
      .agg(sum(col("_c")).as("n_cal"))
    // ceil-div in integers: ((n+1)(den−num) + den−1) / den — operands
    // are non-negative so the double floor agrees with integer div
    val target = ((col("n_cal") + 1) * lit((alphaDen - alphaNum).toLong)
      + lit((alphaDen - 1).toLong)) / lit(alphaDen.toLong)
    val qhat = ranked.join(broadcast(nCal), Seq(groupCol))
      .withColumn("_target", floor(target).cast("long"))
      .where(col("_below") < col("_target") &&
        col("_below") + col("_c") >= col("_target"))
      .select(col(groupCol), col("n_cal"), col("_r").as("qhat_scaled"))
    scored(test)
      .join(broadcast(qhat), Seq(groupCol))
      .groupBy(col(groupCol))
      .agg(first(col("n_cal")).as("n_cal"),
        first(col("qhat_scaled")).as("qhat_scaled"),
        count(lit(1)).as("n_test"),
        sum(when(col("_r") <= col("qhat_scaled"), 1L).otherwise(0L))
          .as("n_covered"))
      .withColumn("coverage", round(
        col("n_covered").cast("double") / col("n_test"), 6))
  }

  /** DELETE-1 JACKKNIFE over grouped data (Tukey 1958; Efron & Stein
    * 1981) for the two statistics the resampling textbooks open with:
    * the MEAN (where the leave-one-out algebra collapses to a closed
    * form — the identity v_J = (n·Σx² − S²)/(n²(n−1)) makes the n
    * replications ONE pass) and the RATIO estimator R = Σy/Σx (where
    * the jackknife genuinely earns its keep: the bias estimate
    * (n−1)·(mean(R₍ᵢ₎) − R) has no closed form and needs the per-row
    * leave-one-out replicate R₍ᵢ₎ = (Sy−yᵢ)/(Sx−xᵢ)).
    *
    * Exactness: group totals are integer; replicates are one
    * identically-spelled float expression per row, reduced by a SUM
    * whose operands are fixed to micro-units first (q186 convention),
    * so bias/SE hash-compare.
    *
    * Scale shape: one grouped agg for totals, broadcast back, one
    * map-side replicate projection, one closing agg — the jackknife's
    * classic n² cost is algebraically flattened to two passes. */
  def jackknifeRatio(df: DataFrame, groupCol: String,
                     xCol: String, yCol: String): DataFrame = {
    val x = col(xCol).cast("long")
    val y = col(yCol).cast("long")
    val totals = df.groupBy(col(groupCol))
      .agg(sum(x).as("_sx"), sum(y).as("_sy"),
        sum(x * x).as("_sxx"), count(lit(1)).as("n"))
    val rep = df.join(broadcast(totals), Seq(groupCol))
      .withColumn("_ri_micro", round(
        (col("_sy") - y).cast("double") /
          (col("_sx") - x).cast("double") * 1e6, 0).cast("long"))
    rep.groupBy(col(groupCol))
      .agg(first(col("n")).as("n"),
        first(col("_sx")).as("sum_x"),
        first(col("_sy")).as("sum_y"),
        first(col("_sxx")).as("_sxx"),
        sum(col("_ri_micro")).as("_sum_ri_micro"))
      .withColumn("ratio_micro", round(
        col("sum_y").cast("double") / col("sum_x") * 1e6, 0)
        .cast("long"))
      .withColumn("jack_bias_micro", round(
        (col("n") - 1).cast("double") *
          (col("_sum_ri_micro").cast("double") / col("n") / 1e6 -
            col("ratio_micro").cast("double") / 1e6) * 1e6, 0)
        .cast("long"))
      .withColumn("jack_se_mean_x_micro", round(
        sqrt((col("n") * col("_sxx") - col("sum_x") * col("sum_x"))
          .cast("double") /
          (col("n") * col("n") * (col("n") - 1)).cast("double"))
          * 1e6, 0).cast("long"))
      .drop("_sxx", "_sum_ri_micro")
  }

  /** PAIRED-SAMPLE PERMUTATION TEST (Fisher 1935; the exact
    * randomization test) under the md5 rule: for paired differences
    * d_i, the observed statistic T = Σd_i is compared against B
    * sign-flip replicates T_b = Σ s_b(i)·d_i with s_b(i) = ±1 from
    * the engine-portable md5 hash — DETERMINISTIC "randomization", so
    * the whole null distribution (every replicate, the extreme count,
    * the p-value) hash-compares cross-engine instead of being
    * property-tested. p = (1 + #{b : |T_b| ≥ |T|}) / (B+1), the
    * add-one form that keeps the test exact-level.
    *
    * Exactness: d_i and every T_b are integer sums; p is fixed to
    * micro-units with one divide.
    *
    * Scale shape: the B-way fan-out rides ONE generator over the pair
    * table, and the per-replicate sums are a bounded-key (B rows)
    * map-side-combinable aggregate — at 100 TB the shuffle moves ≤ B
    * rows per task, and the observed T is a 1-row broadcast. Output:
    * B rows (b, t_b, is_extreme) carrying the shared
    * (n_pairs, t_obs, p_micro). */
  def pairedPermutationTest(pairs: DataFrame, idCol: String,
                            diffCol: String, b: Int): DataFrame = {
    require(b >= 1, s"permutation copies must be >= 1, got $b")
    val d = col(diffCol).cast("long")
    val obs = pairs.agg(count(lit(1)).as("n_pairs"),
      sum(d).as("t_obs"))
    def sign(c: Column): Column =
      when(pmod(conv(substring(md5(concat(lit("pt"), c, lit("|"),
        col(idCol))), 1, 1), 16, 10).cast("long"), lit(2L)) === 0L,
        lit(1L)).otherwise(lit(-1L))
    val reps = pairs
      .select(d.as("_d"), col(idCol),
        explode(array((0 until b).map(i => lit(i.toLong)): _*)).as("b"))
      .groupBy(col("b"))
      .agg(sum(sign(col("b")) * col("_d")).as("t_b"))
    val flagged = reps.crossJoin(broadcast(obs))
      .withColumn("is_extreme", abs(col("t_b")) >= abs(col("t_obs")))
    val p = flagged.agg(
      ((sum(when(col("is_extreme"), 1L).otherwise(0L)) + lit(1L)) * lit(1000000L)
        / (lit(b.toLong) + lit(1L))).cast("long").as("_pm"))
    flagged.crossJoin(broadcast(p))
      .select(col("b"), col("t_b"), col("is_extreme"),
        col("n_pairs"), col("t_obs"), col("_pm").as("p_micro"))
  }

  /** Per-GROUP paired permutation tests ([[pairedPermutationTest]]'s
    * grouped form — one deterministic null distribution per group,
    * collapsed to the test summary): same md5 sign rule, fan-out
    * aggregate keyed on (group, b) — bounded at |groups|·B rows — and
    * the add-one p per group. Output per group: (groupCol, n_pairs,
    * t_obs, n_extreme, p_micro). */
  def pairedPermutationTestBy(pairs: DataFrame, groupCol: String,
                              idCol: String, diffCol: String,
                              b: Int): DataFrame = {
    require(b >= 1, s"permutation copies must be >= 1, got $b")
    val d = col(diffCol).cast("long")
    val obs = pairs.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_pairs"), sum(d).as("t_obs"))
    def sign(c: Column): Column =
      when(pmod(conv(substring(md5(concat(lit("pt"), c, lit("|"),
        col(idCol))), 1, 1), 16, 10).cast("long"), lit(2L)) === 0L,
        lit(1L)).otherwise(lit(-1L))
    pairs
      .select(col(groupCol), d.as("_d"), col(idCol),
        explode(array((0 until b).map(i => lit(i.toLong)): _*)).as("b"))
      .groupBy(col(groupCol), col("b"))
      .agg(sum(sign(col("b")) * col("_d")).as("t_b"))
      .join(broadcast(obs), Seq(groupCol))
      .groupBy(col(groupCol))
      .agg(first(col("n_pairs")).as("n_pairs"),
        first(col("t_obs")).as("t_obs"),
        sum(when(abs(col("t_b")) >= abs(col("t_obs")), 1L)
          .otherwise(0L)).as("n_extreme"))
      .withColumn("p_micro",
        expr(s"(n_extreme + 1L) * 1000000L div ${b + 1}L"))
  }

  /** BENJAMINI–HOCHBERG step-up FDR control (Benjamini & Hochberg
    * 1995) over a per-group p-value table: sort the m p-values, find
    * the largest i with p_(i) ≤ (i/m)·α, reject ranks 1..i. The
    * comparison is EXACT integer arithmetic — p_micro·m·αden ≤
    * i·αnum·10⁶ — and the rank window orders the GROUP table (m
    * rows, never data), ties broken by group name (pinned).
    * Output: (groupCol, p_micro, rank, m, rejected). */
  def bhAdjust(tests: DataFrame, groupCol: String, pCol: String,
               alphaNum: Int, alphaDen: Int): DataFrame = {
    require(alphaDen > 0 && alphaNum > 0 && alphaNum < alphaDen,
      s"alpha = $alphaNum/$alphaDen must sit in (0, 1)")
    val ranked = tests.select(col(groupCol), col(pCol).as("p_micro"))
      .withColumn("rank", row_number().over(
        Window.orderBy(col("p_micro"), col(groupCol))).cast("long"))
    val m = ranked.agg(count(lit(1)).as("m"))
    val flagged = ranked.crossJoin(broadcast(m))
      .withColumn("_pass",
        col("p_micro") * col("m") * lit(alphaDen.toLong) <=
          col("rank") * lit(alphaNum.toLong) * lit(1000000L))
    val kStar = flagged.agg(coalesce(max(when(col("_pass"),
      col("rank"))), lit(0L)).as("_k"))
    flagged.crossJoin(broadcast(kStar))
      .select(col(groupCol), col("p_micro"), col("rank"), col("m"),
        (col("rank") <= col("_k")).as("rejected"))
  }

  /** WILCOXON RANK-SUM / MANN–WHITNEY U with tie correction (Mann &
    * Whitney 1947) over an integer score column — never sorts the
    * row set: scores collapse to a grouped (value, n_a, n_b) LEVEL
    * table (the [[rocAuc]] move), midranks come from a prefix sum
    * over levels kept in DOUBLED integers (rank2 = 2·below + t + 1 —
    * the ½s never materialize), and the z statistic applies the
    * standard tie-corrected variance
    *   Var = n_a·n_b/12 · (n + 1 − Σ(t³−t)/(n(n−1)))
    * as ONE identically-spelled float expression, micro-fixed.
    * Output 1 row: (n_a, n_b, w2_a — doubled rank sum of side A,
    * u2_a — doubled U, tie_cube_sum, z_micro). */
  def wilcoxonRankSum(df: DataFrame, valueCol: String,
                      sideCol: String): DataFrame = {
    val levels = df.select(col(valueCol).cast("long").as("_v"),
        when(col(sideCol), 1L).otherwise(0L).as("_a"))
      .groupBy(col("_v"))
      .agg(sum(col("_a")).as("_na"),
        sum(lit(1L) - col("_a")).as("_nb"))
      .withColumn("_t", col("_na") + col("_nb"))
    val ranked = levels.withColumn("_below", coalesce(
      sum(col("_t")).over(Window.orderBy(col("_v"))
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val sums = ranked.agg(
      sum(col("_na")).as("n_a"), sum(col("_nb")).as("n_b"),
      sum(col("_na") * (lit(2L) * col("_below") + col("_t") + lit(1L)))
        .as("w2_a"),
      sum(col("_t") * col("_t") * col("_t") - col("_t"))
        .as("tie_cube_sum"))
    def d(c: String): Column = col(c).cast("double")
    val n = col("n_a") + col("n_b")
    val u2 = col("w2_a") - col("n_a") * (col("n_a") + lit(1L))
    val mean2 = col("n_a") * col("n_b")
    val varD = d("n_a") * d("n_b") / lit(12.0) *
      ((n + lit(1L)).cast("double") -
        d("tie_cube_sum") / (n.cast("double") *
          (n - lit(1L)).cast("double")))
    sums.select(col("n_a"), col("n_b"), col("w2_a"),
      u2.as("u2_a"), col("tie_cube_sum"),
      round((u2 - mean2).cast("double") / lit(2.0) /
        sqrt(varD) * 1e6).cast("long").as("z_micro"))
  }

  /** ISOTONIC REGRESSION / PAV CALIBRATION (Ayer et al. 1955; the
    * pool-adjacent-violators fit in its CLOSED minimax form,
    * Robertson–Wright–Dykstra 1988: fitted_i = max_{j≤i} min_{k≥i}
    * mean(y over levels j..k)) — the standard monotone
    * score-→-probability calibration map next to q221's binned ECE.
    * Rows collapse to a grouped (level, n, Σy) LEVEL table first (the
    * [[rocAuc]]/valueRanks convention — the raw rows never sort or
    * pair), prefix sums ride a window over LEVELS ONLY, and every
    * interval mean enters as the exact integer micro
    * (Σy·10⁶ div n — y is 0/1 so the operands are non-negative and
    * `div` = DuckDB `//`). The minimax then runs over the truncated
    * means: a monotone transform of the interval means preserves both
    * the max-min order AND the fitted sequence's monotonicity, so the
    * output is a deterministic, hash-comparable, provably
    * NON-DECREASING step function (spec-pinned). Pair/covering
    * tables are O(L²)/O(L³) in the LEVEL count — bucket scores to a
    * fixed precision and L stays bounded at any row count; the level
    * table broadcasts into the covering join. Output: (level, n, s,
    * raw_micro, iso_micro). */
  def isotonicPav(df: DataFrame, levelCol: String,
                  yCol: String): DataFrame = {
    val levels = df.select(col(levelCol).cast("long").as("level"),
        col(yCol).cast("long").as("_y"))
      .groupBy(col("level"))
      .agg(count(lit(1)).as("n"), sum(col("_y")).as("s"))
      .localCheckpoint() // feeds the prefix window + three joins
    val w = Window.orderBy(col("level")) // LEVEL table only — bounded
    val cum = levels.select(col("level"), col("n"), col("s"),
      sum(col("n")).over(w).as("_cn"), sum(col("s")).over(w).as("_cs"))
    val lo = cum.select(col("level").as("_j"),
      (col("_cn") - col("n")).as("_cnj"),
      (col("_cs") - col("s")).as("_csj"))
    val hi = cum.select(col("level").as("_k"), col("_cn").as("_cnk"),
      col("_cs").as("_csk"))
    val pairs = lo.join(hi, col("_j") <= col("_k"))
      .select(col("_j"), col("_k"),
        expr("((_csk - _csj) * 1000000L) div (_cnk - _cnj)").as("_a"))
    val inner = cum.select(col("level"))
      .join(broadcast(pairs),
        col("_j") <= col("level") && col("_k") >= col("level"))
      .groupBy(col("level"), col("_j")).agg(min(col("_a")).as("_mn"))
    val iso = inner.groupBy(col("level"))
      .agg(max(col("_mn")).as("iso_micro"))
    levels.join(iso, Seq("level"))
      .select(col("level"), col("n"), col("s"),
        expr("(s * 1000000L) div n").as("raw_micro"),
        col("iso_micro"))
  }

  /** MURPHY DECOMPOSITION of the Brier score (Murphy 1973):
    * Brier = uncertainty − resolution + reliability, computed over
    * the grouped (forecast level, n, Σy) table — reliability
    * Σ n_k (p_k − ȳ_k)² / N penalizes mis-calibration, resolution
    * Σ n_k (ȳ_k − ȳ)² / N rewards forecasts that separate outcomes,
    * uncertainty ȳ(1−ȳ) is the no-skill floor. Forecasts arrive in
    * integer micro (`pMicroCol`); every squared term truncates to
    * micro INSIDE the level row ((Δ² div 10⁶), keeping all operands
    * ≤ 10¹² — overflow-safe to 2·10⁶ rows per level and beyond for
    * the sums) with the identical spelling in the oracle, so the
    * whole report is a deterministic integer function. The direct
    * Brier Σ [s·(10⁶−p)² + (n−s)·p²] div (N·10⁶) rides along as the
    * audit column (exact, no per-level truncation — its bound is
    * N·10¹² < 2⁶³). LEVEL-bounded everywhere past the first
    * aggregate. Output 1 row: (n, ybar_micro, unc_micro, rel_micro,
    * res_micro, brier_micro). */
  def brierDecomposition(df: DataFrame, pMicroCol: String,
                         yCol: String): DataFrame = {
    val lv = df.select(col(pMicroCol).cast("long").as("_p"),
        col(yCol).cast("long").as("_y"))
      .groupBy(col("_p"))
      .agg(count(lit(1)).as("_n"), sum(col("_y")).as("_s"))
    val tot = lv.agg(sum(col("_n")).as("_gn"), sum(col("_s")).as("_gs"))
    lv.crossJoin(broadcast(tot))
      .withColumn("_ybark", expr("(_s * 1000000L) div _n"))
      .withColumn("_ybar", expr("(_gs * 1000000L) div _gn"))
      .groupBy(col("_gn"), col("_ybar"))
      .agg(
        sum(expr("_n * (((_p - _ybark) * (_p - _ybark)) div 1000000L)"))
          .as("_rel_sum"),
        sum(expr(
          "_n * (((_ybark - _ybar) * (_ybark - _ybar)) div 1000000L)"))
          .as("_res_sum"),
        sum(expr("_s * ((1000000L - _p) * (1000000L - _p)) + " +
          "(_n - _s) * (_p * _p)")).as("_br_sum"))
      .select(col("_gn").as("n"), col("_ybar").as("ybar_micro"),
        expr("(_ybar * (1000000L - _ybar)) div 1000000L")
          .as("unc_micro"),
        expr("_rel_sum div _gn").as("rel_micro"),
        expr("_res_sum div _gn").as("res_micro"),
        expr("_br_sum div (_gn * 1000000L)").as("brier_micro"))
  }

  /** McNEMAR'S TEST for paired binary classifiers (McNemar 1947,
    * with Edwards' continuity correction): over rows where two
    * models predict the same instances, only the DISCORDANT cells
    * matter — n10 (A right, B wrong) vs n01 (A wrong, B right);
    * χ²_cc = (|n10 − n01| − 1)² / (n10 + n01), here as the exact
    * integer micro ((|b−c|−1)²·10⁶ div (b+c), null when no
    * discordant pairs). ONE map-side-combinable aggregate over the
    * comparison projection — the standard "is the new model actually
    * better on the same data" gate next to the drift/FDR family.
    * Output 1 row: (n11, n10, n01, n00, chi2_micro). */
  def mcnemar(df: DataFrame, aCol: String, bCol: String,
              truthCol: String): DataFrame = {
    val a = col(aCol) === col(truthCol)
    val b = col(bCol) === col(truthCol)
    df.agg(
        sum(when(a && b, 1L).otherwise(0L)).as("n11"),
        sum(when(a && !b, 1L).otherwise(0L)).as("n10"),
        sum(when(!a && b, 1L).otherwise(0L)).as("n01"),
        sum(when(!a && !b, 1L).otherwise(0L)).as("n00"))
      .withColumn("chi2_micro", when(col("n10") + col("n01") > 0,
        expr("((abs(n10 - n01) - 1L) * (abs(n10 - n01) - 1L) " +
          "* 1000000L) div (n10 + n01)")))
  }

  /** GROUP FAIRNESS AUDIT (demographic parity + equalized odds,
    * Hardt, Price & Srebro 2016): per protected group, the selection
    * rate P(ŷ=1), TPR P(ŷ=1|y=1), and FPR P(ŷ=1|y=0) as exact ppm
    * rationals (cnt·10⁶ div denom; a group with no positives /
    * negatives reports null for the undefined rate rather than a
    * fake 0), plus the across-group max−min gap for each rate riding
    * every row (the audit headline). ONE hash aggregate over the
    * comparison projection + a broadcast 1-row gap summary —
    * group-domain-bounded everywhere. */
  def fairnessReport(df: DataFrame, groupCol: String, predCol: String,
                     truthCol: String): DataFrame = {
    val g = df.select(col(groupCol).as("grp"),
        col(predCol).cast("boolean").as("_p"),
        col(truthCol).cast("boolean").as("_t"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("_p"), 1L).otherwise(0L)).as("_np"),
        sum(when(col("_t"), 1L).otherwise(0L)).as("_nt"),
        sum(when(col("_p") && col("_t"), 1L).otherwise(0L)).as("_tp"),
        sum(when(col("_p") && !col("_t"), 1L).otherwise(0L)).as("_fp"))
      .select(col("grp"), col("n"),
        expr("(_np * 1000000L) div n").as("sel_ppm"),
        when(col("_nt") > 0, expr("(_tp * 1000000L) div _nt"))
          .as("tpr_ppm"),
        when(col("n") - col("_nt") > 0,
          expr("(_fp * 1000000L) div (n - _nt)")).as("fpr_ppm"))
      .localCheckpoint() // feeds the gap summary AND the output
    val gaps = g.agg(
      (max(col("sel_ppm")) - min(col("sel_ppm"))).as("sel_gap_ppm"),
      (max(col("tpr_ppm")) - min(col("tpr_ppm"))).as("tpr_gap_ppm"),
      (max(col("fpr_ppm")) - min(col("fpr_ppm"))).as("fpr_gap_ppm"))
    g.crossJoin(broadcast(gaps))
  }

  /** PEARSON χ² TEST OF INDEPENDENCE + CRAMÉR'S V over an (a, b)
    * contingency table: every cell's (O−E)²/E term is ONE
    * identically-spelled double — (o·n − r·c)²/(n·r·c) over integer
    * operands ≤ 10¹² (exactly representable in doubles, so both
    * engines square and divide the same IEEE values) — rounded to
    * micro PER CELL before the cell sum (the q186 convention); V =
    * √(χ²/(n·(min(R,C)−1))). Domain-bounded past the one contingency
    * aggregate. MAGNITUDE BOUND: the integer products o·n / r·c must
    * stay < 2⁶³, which holds to n ≈ 3·10⁹ rows — far past where a χ²
    * test saturates; beyond that, test on a deterministic sample (the
    * q79 md5 draw) rather than widening the arithmetic. Output 1 row:
    * (n, r_levels, c_levels, dof, chi2_micro, cramers_v_micro). */
  def chiSquareIndependence(df: DataFrame, aCol: String,
                            bCol: String): DataFrame = {
    val cells = df.select(col(aCol).as("_a"), col(bCol).as("_b"))
      .groupBy(col("_a"), col("_b")).agg(count(lit(1)).as("_o"))
      .localCheckpoint() // feeds margins AND the cell terms
    val ra = cells.groupBy(col("_a")).agg(sum(col("_o")).as("_r"))
    val cb = cells.groupBy(col("_b")).agg(sum(col("_o")).as("_c"))
    val tot = cells.agg(sum(col("_o")).as("_n"),
      countDistinct(col("_a")).as("r_levels"),
      countDistinct(col("_b")).as("c_levels"))
    cells.join(broadcast(ra), Seq("_a"))
      .join(broadcast(cb), Seq("_b"))
      .crossJoin(broadcast(tot))
      .withColumn("_d", (col("_o") * col("_n") - col("_r") * col("_c"))
        .cast("double"))
      .withColumn("_term_micro", round(col("_d") * col("_d") /
        (col("_n").cast("double") * col("_r").cast("double") *
          col("_c").cast("double")) * 1e6).cast("long"))
      .groupBy(col("_n").as("n"), col("r_levels"), col("c_levels"))
      .agg(sum(col("_term_micro")).as("chi2_micro"))
      .select(col("n"), col("r_levels"), col("c_levels"),
        ((col("r_levels") - 1) * (col("c_levels") - 1)).as("dof"),
        col("chi2_micro"),
        round(sqrt(col("chi2_micro").cast("double") / 1e6 /
          (col("n").cast("double") *
            (least(col("r_levels"), col("c_levels")) - lit(1L))
              .cast("double"))) * 1e6).cast("long")
          .as("cramers_v_micro"))
  }

  /** TWO-PROPORTION Z-TEST (the A/B-test conversion readout): exact
    * integer counts per arm, conversion rates as ppm rationals
    * (x·10⁶ div n), and the pooled z statistic
    *   z = (p_a − p_b) / √(p̂(1−p̂)(1/n_a + 1/n_b))
    * as ONE identically-spelled float block over the integer counts
    * (micro rounded). Null z when either arm is empty or the pooled
    * rate is degenerate (0 or 1 — no variance). One map-side
    * aggregate; nothing here is ever more than a 1-row frame past
    * it. `armCol`: boolean, true = arm A. Output 1 row:
    * (n_a, x_a, n_b, x_b, p_a_ppm, p_b_ppm, z_micro). */
  def twoProportionZ(df: DataFrame, armCol: String,
                     convCol: String): DataFrame =
    df.select(col(armCol).cast("boolean").as("_a"),
        col(convCol).cast("boolean").as("_c"))
      .agg(
        sum(when(col("_a"), 1L).otherwise(0L)).as("n_a"),
        sum(when(col("_a") && col("_c"), 1L).otherwise(0L)).as("x_a"),
        sum(when(!col("_a"), 1L).otherwise(0L)).as("n_b"),
        sum(when(!col("_a") && col("_c"), 1L).otherwise(0L)).as("x_b"))
      .select(col("n_a"), col("x_a"), col("n_b"), col("x_b"),
        when(col("n_a") > 0, expr("(x_a * 1000000L) div n_a"))
          .as("p_a_ppm"),
        when(col("n_b") > 0, expr("(x_b * 1000000L) div n_b"))
          .as("p_b_ppm"),
        when(col("n_a") > 0 && col("n_b") > 0 &&
            col("x_a") + col("x_b") > 0 &&
            col("x_a") + col("x_b") < col("n_a") + col("n_b"),
          round((col("x_a").cast("double") / col("n_a") -
            col("x_b").cast("double") / col("n_b")) /
            sqrt(((col("x_a") + col("x_b")).cast("double") /
              (col("n_a") + col("n_b"))) *
              (lit(1.0) - (col("x_a") + col("x_b")).cast("double") /
                (col("n_a") + col("n_b"))) *
              (lit(1.0) / col("n_a") + lit(1.0) / col("n_b"))) * 1e6)
            .cast("long")).as("z_micro"))

  /** CUPED variance reduction (Deng, Xu, Kohavi & Walker 2013 — the
    * standard pre-experiment covariate adjustment): with integer-cent
    * pre-metric X and outcome Y per unit,
    *   θ = cov(X,Y)/var(X),  Y_adj = Y − θ·X,
    * the adjusted treatment-vs-control mean difference and the
    * variance reduction ratio ρ² = cov²/(var X · var Y). ONE pass:
    * overall Gram sums (n, Σx, Σy, Σx², Σxy, Σy² — exact integers,
    * cents keep Σy² < 2⁵³) plus per-arm (n, Σx, Σy); every float
    * (θ, variances, both diffs) is one identically-spelled
    * expression over those integers, micro-rounded. Nulls when
    * var(X) = 0 (θ undefined). `armCol`: boolean, true = treatment.
    * Output 1 row: (n, theta_micro, var_reduction_ppm,
    * diff_raw_micro, diff_cuped_micro). */
  def cuped(df: DataFrame, xCol: String, yCol: String,
            armCol: String): DataFrame = {
    val base = df.select(col(xCol).cast("long").as("_x"),
        col(yCol).cast("long").as("_y"),
        col(armCol).cast("boolean").as("_t"))
      .localCheckpoint() // feeds the overall AND per-arm sums
    val tot = base.agg(count(lit(1)).as("n"),
      sum(col("_x")).as("sx"), sum(col("_y")).as("sy"),
      sum(col("_x") * col("_x")).as("sxx"),
      sum(col("_x") * col("_y")).as("sxy"),
      sum(col("_y") * col("_y")).as("syy"))
    val arms = base.agg(
      sum(when(col("_t"), 1L).otherwise(0L)).as("nt"),
      sum(when(col("_t"), col("_x")).otherwise(0L)).as("sxt"),
      sum(when(col("_t"), col("_y")).otherwise(0L)).as("syt"),
      sum(when(!col("_t"), 1L).otherwise(0L)).as("nc"),
      sum(when(!col("_t"), col("_x")).otherwise(0L)).as("sxc"),
      sum(when(!col("_t"), col("_y")).otherwise(0L)).as("syc"))
    val d = tot.crossJoin(broadcast(arms))
      .withColumn("_vx", col("sxx").cast("double") / col("n") -
        (col("sx").cast("double") / col("n")) *
          (col("sx").cast("double") / col("n")))
      .withColumn("_vy", col("syy").cast("double") / col("n") -
        (col("sy").cast("double") / col("n")) *
          (col("sy").cast("double") / col("n")))
      .withColumn("_cv", col("sxy").cast("double") / col("n") -
        (col("sx").cast("double") / col("n")) *
          (col("sy").cast("double") / col("n")))
      // ANSI mode errors on x/0 even for doubles — theta only exists
      // when the covariate varies (the guard every consumer re-checks)
      .withColumn("_th",
        when(col("_vx") > 0, col("_cv") / col("_vx")))
    d.select(col("n"),
      when(col("_vx") > 0, round(col("_th") * 1e6).cast("long"))
        .as("theta_micro"),
      when(col("_vx") > 0 && col("_vy") > 0,
        round(col("_cv") * col("_cv") / (col("_vx") * col("_vy")) * 1e6)
          .cast("long")).as("var_reduction_ppm"),
      when(col("nt") > 0 && col("nc") > 0,
        round((col("syt").cast("double") / col("nt") -
          col("syc").cast("double") / col("nc")) * 1e4).cast("long"))
        .as("diff_raw_micro"),
      when(col("nt") > 0 && col("nc") > 0 && col("_vx") > 0,
        round(((col("syt").cast("double") / col("nt") -
          col("_th") * (col("sxt").cast("double") / col("nt"))) -
          (col("syc").cast("double") / col("nc") -
            col("_th") * (col("sxc").cast("double") / col("nc")))) *
          1e4).cast("long")).as("diff_cuped_micro"))
  }

  /** COARSENED EXACT MATCHING ATT (Iacus, King & Porro 2012 — the
    * model-free causal estimator a platform reaches for before any
    * propensity model): units land in strata of their COARSENED
    * covariates (the caller buckets; the op never sees raw
    * covariates), a stratum is matched iff it holds BOTH treated and
    * control units, and the effect-on-the-treated is the
    * treated-count-weighted mean of the per-stratum mean differences
    *   ATT = Σ_matched n_t,s·(ȳ_t,s − ȳ_c,s) / Σ_matched n_t,s.
    * Everything is ONE hash aggregate on the stratum key (stratum
    * count is bounded by the coarsening grid, not the row count) plus
    * a broadcast 1-row summary; per-stratum diffs fix to integer
    * micro BEFORE the weighted sum (the q186 convention), so the
    * whole report — including the ATT and the share of treated units
    * that found a match — is a deterministic integer function.
    * `yCol`: integer units (cents/micro — caller's choice).
    * Output: one row per stratum (stratum, n_t, n_c, sy_t, sy_c,
    * matched, diff_micro) + the global (att_micro, n_t_matched,
    * n_t_all, matched_ppm) repeated on each row. */
  def cemAtt(df: DataFrame, stratumCol: String, treatCol: String,
             yCol: String): DataFrame = {
    val cells = df.select(col(stratumCol).cast("long").as("stratum"),
        col(treatCol).cast("boolean").as("_t"),
        col(yCol).cast("long").as("_y"))
      .groupBy(col("stratum"))
      .agg(
        sum(when(col("_t"), 1L).otherwise(0L)).as("n_t"),
        sum(when(!col("_t"), 1L).otherwise(0L)).as("n_c"),
        sum(when(col("_t"), col("_y")).otherwise(0L)).as("sy_t"),
        sum(when(!col("_t"), col("_y")).otherwise(0L)).as("sy_c"))
      .withColumn("matched", col("n_t") > 0 && col("n_c") > 0)
      .withColumn("diff_micro", when(col("matched"),
        round((col("sy_t").cast("double") / col("n_t") -
          col("sy_c").cast("double") / col("n_c")) * 1e6)
          .cast("long")))
      .localCheckpoint() // feeds the stratum rows AND the summary
    val tot = cells.agg(
      sum(when(col("matched"), col("n_t") * col("diff_micro"))
        .otherwise(0L)).as("_num"),
      sum(when(col("matched"), col("n_t")).otherwise(0L))
        .as("n_t_matched"),
      sum(col("n_t")).as("n_t_all"))
    // div truncates toward zero on negatives (DuckDB // floors —
    // the oracle sign-splits); n_t_all > 0 guards the empty frame
    cells.crossJoin(broadcast(tot))
      .select(col("stratum"), col("n_t"), col("n_c"), col("sy_t"),
        col("sy_c"), col("matched"), col("diff_micro"),
        when(col("n_t_matched") > 0,
          expr("""CASE WHEN _num >= 0 THEN _num div n_t_matched
                  ELSE -((-_num) div n_t_matched) END"""))
          .as("att_micro"),
        col("n_t_matched"), col("n_t_all"),
        when(col("n_t_all") > 0,
          expr("(n_t_matched * 1000000L) div n_t_all"))
          .as("matched_ppm"))
  }

  /** MANTEL–HAENSZEL stratified odds ratio + CMH test (Mantel &
    * Haenszel 1959; the Cochran–Mantel–Haenszel χ² WITHOUT continuity
    * correction): per stratum k the 2×2 cells
    *   a = treated·success, b = treated·failure,
    *   c = control·success, d = control·failure,  n = a+b+c+d,
    * pooled OR_MH = Σ(a·d/n) / Σ(b·c/n), and
    *   χ²_CMH = (Σa − ΣE)² / ΣV,  E = (a+b)(a+c)/n,
    *   V = (a+b)(c+d)(a+c)(b+d) / (n²(n−1)).
    * One hash aggregate on the stratum key; every per-stratum
    * rational fixes to integer micro before its cross-stratum sum
    * (IEEE mul/div are exactly rounded, so identically-spelled terms
    * match DuckDB bit-for-bit), making OR and χ² deterministic
    * integer functions. Null OR when Σ(b·c/n) = 0; null χ² when
    * ΣV = 0 or any stratum is a single row (n−1 = 0 strata are
    * excluded from all three sums, per the estimator's definition).
    * Output 1 row: (k_strata, n, sum_a, or_mh_micro, chi2_micro). */
  def mantelHaenszel(df: DataFrame, stratumCol: String,
                     treatCol: String, outcomeCol: String): DataFrame = {
    val cells = df.select(col(stratumCol).cast("long").as("_s"),
        col(treatCol).cast("boolean").as("_t"),
        col(outcomeCol).cast("boolean").as("_o"))
      .groupBy(col("_s"))
      .agg(
        sum(when(col("_t") && col("_o"), 1L).otherwise(0L)).as("_a"),
        sum(when(col("_t") && !col("_o"), 1L).otherwise(0L)).as("_b"),
        sum(when(!col("_t") && col("_o"), 1L).otherwise(0L)).as("_c"),
        sum(when(!col("_t") && !col("_o"), 1L).otherwise(0L)).as("_d"))
      .withColumn("_n", col("_a") + col("_b") + col("_c") + col("_d"))
      .filter(col("_n") > 1)
    def dd(c: Column): Column = c.cast("double")
    val terms = cells.select(col("_a"), col("_n"),
      round(dd(col("_a")) * dd(col("_d")) / dd(col("_n")) * 1e6)
        .cast("long").as("_r"),
      round(dd(col("_b")) * dd(col("_c")) / dd(col("_n")) * 1e6)
        .cast("long").as("_sterm"),
      round(dd((col("_a") + col("_b")) * (col("_a") + col("_c"))) /
        dd(col("_n")) * 1e6).cast("long").as("_e"),
      round(dd((col("_a") + col("_b")) * (col("_c") + col("_d"))) *
        dd((col("_a") + col("_c")) * (col("_b") + col("_d"))) /
        (dd(col("_n")) * dd(col("_n")) *
          dd(col("_n") - lit(1L))) * 1e6).cast("long").as("_v"))
    terms.agg(count(lit(1)).as("k_strata"), sum(col("_n")).as("n"),
        sum(col("_a")).as("sum_a"), sum(col("_r")).as("_sr"),
        sum(col("_sterm")).as("_ss"), sum(col("_e")).as("_se"),
        sum(col("_v")).as("_vsum"))
      .select(col("k_strata"), col("n"), col("sum_a"),
        when(col("_ss") > 0, round(col("_sr").cast("double") /
          col("_ss").cast("double") * 1e6).cast("long"))
          .as("or_mh_micro"),
        when(col("_vsum") > 0,
          round((col("sum_a").cast("double") -
            col("_se").cast("double") / 1e6) *
            (col("sum_a").cast("double") -
              col("_se").cast("double") / 1e6) /
            (col("_vsum").cast("double") / 1e6) * 1e6).cast("long"))
          .as("chi2_micro"))
  }

  /** DIFFERENCE-IN-DIFFERENCES (the canonical 2×2 panel estimator):
    * four cell means over (treated × post) and
    *   DiD = (ȳ_t,post − ȳ_t,pre) − (ȳ_c,post − ȳ_c,pre),
    * plus the pre-period gap ȳ_t,pre − ȳ_c,pre (the parallel-trends
    * eyeball every DiD reader checks first). ONE map-side aggregate
    * (8 integer sums); both floats are single identically-spelled
    * expressions over the integers, micro-rounded; null when any of
    * the four cells is empty. `yCol`: integer units. Output 1 row:
    * (n_t_pre, n_t_post, n_c_pre, n_c_post, sy_t_pre, sy_t_post,
    * sy_c_pre, sy_c_post, pre_gap_micro, did_micro). */
  def diffInDiff(df: DataFrame, treatCol: String, postCol: String,
                 yCol: String): DataFrame = {
    val base = df.select(col(treatCol).cast("boolean").as("_t"),
      col(postCol).cast("boolean").as("_p"),
      col(yCol).cast("long").as("_y"))
    def cnt(t: Boolean, p: Boolean): Column =
      sum(when(col("_t") === t && col("_p") === p, 1L).otherwise(0L))
    def sy(t: Boolean, p: Boolean): Column =
      sum(when(col("_t") === t && col("_p") === p, col("_y"))
        .otherwise(0L))
    def m(n: String, s: String): Column =
      col(s).cast("double") / col(n)
    base.agg(
        cnt(true, false).as("n_t_pre"), cnt(true, true).as("n_t_post"),
        cnt(false, false).as("n_c_pre"),
        cnt(false, true).as("n_c_post"),
        sy(true, false).as("sy_t_pre"), sy(true, true).as("sy_t_post"),
        sy(false, false).as("sy_c_pre"),
        sy(false, true).as("sy_c_post"))
      .select(col("n_t_pre"), col("n_t_post"), col("n_c_pre"),
        col("n_c_post"), col("sy_t_pre"), col("sy_t_post"),
        col("sy_c_pre"), col("sy_c_post"),
        when(col("n_t_pre") > 0 && col("n_c_pre") > 0,
          round((m("n_t_pre", "sy_t_pre") -
            m("n_c_pre", "sy_c_pre")) * 1e6).cast("long"))
          .as("pre_gap_micro"),
        when(col("n_t_pre") > 0 && col("n_t_post") > 0 &&
            col("n_c_pre") > 0 && col("n_c_post") > 0,
          round(((m("n_t_post", "sy_t_post") -
            m("n_t_pre", "sy_t_pre")) -
            (m("n_c_post", "sy_c_post") -
              m("n_c_pre", "sy_c_pre"))) * 1e6).cast("long"))
          .as("did_micro"))
  }

  /** ONE-WAY ANOVA F + η² (Fisher; the k-group mean-difference test
    * next to q171's two-group Welch t): groups collapse to per-group
    * integer sums (n_g, Σy, Σy²) in ONE hash aggregate — `yCol` must
    * arrive in WHOLE units small enough that Σy² stays < ~9.2·10¹²
    * (SSW is read out as Σy²·10⁶ in LONG arithmetic, so the micro
    * widening binds ~10³× before the 2⁵³ float-exactness bound of
    * the q311 convention; cents square out of range ~10⁴× earlier
    * than dollars). Between/within sums of squares come from
    * the per-group terms s_g²/n_g, each micro-fixed before the
    * cross-group sum (IEEE mul/div are exactly rounded — identical
    * spelling matches DuckDB bit-for-bit):
    *   SSB = Σ s_g²/n_g − S²/n,  SSW = Σy² − Σ s_g²/n_g,
    *   F = (SSB/(k−1)) / (SSW/(n−k)),  η² = SSB/SST.
    * Null F when k < 2, n ≤ k, or SSW = 0 (every within-group value
    * identical); null η² when SST = 0. Output 1 row:
    * (k, n, ssb_micro, ssw_micro, f_micro, eta2_ppm). */
  def oneWayAnova(df: DataFrame, groupCol: String,
                  yCol: String): DataFrame = {
    val g = df.select(col(groupCol).cast("string").as("_g"),
        col(yCol).cast("long").as("_y"))
      .groupBy(col("_g"))
      .agg(count(lit(1)).as("_n"), sum(col("_y")).as("_s"),
        sum(col("_y") * col("_y")).as("_ss"))
      .withColumn("_term_micro",
        round(col("_s").cast("double") * col("_s").cast("double") /
          col("_n").cast("double") * 1e6).cast("long"))
    val tot = g.agg(count(lit(1)).as("k"), sum(col("_n")).as("n"),
      sum(col("_s")).as("_sgrand"), sum(col("_ss")).as("_ssgrand"),
      sum(col("_term_micro")).as("_tsum"))
    tot.select(col("k"), col("n"),
        (col("_tsum") -
          round(col("_sgrand").cast("double") * col("_sgrand").cast("double") /
            col("n").cast("double") * 1e6).cast("long"))
          .as("ssb_micro"),
        (col("_ssgrand") * lit(1000000L) - col("_tsum")).as("ssw_micro"))
      .select(col("k"), col("n"), col("ssb_micro"), col("ssw_micro"),
        when(col("k") >= 2 && col("n") > col("k") &&
            col("ssw_micro") > 0,
          round(col("ssb_micro").cast("double") *
            (col("n") - col("k")).cast("double") /
            (col("ssw_micro").cast("double") *
              (col("k") - lit(1L)).cast("double")) * 1e6)
            .cast("long")).as("f_micro"),
        when(col("ssb_micro") + col("ssw_micro") > 0,
          round(col("ssb_micro").cast("double") /
            (col("ssb_micro") + col("ssw_micro")).cast("double") * 1e6)
            .cast("long")).as("eta2_ppm"))
  }

  /** KRUSKAL–WALLIS H with tie correction (Kruskal & Wallis 1952) —
    * the k-group extension of [[wilcoxonRankSum]], same machinery:
    * rows collapse to a grouped (value-level, group) cell table,
    * midranks come from ONE prefix sum over the LEVEL table in
    * DOUBLED integers (rank2 = 2·below + t + 1), per-group doubled
    * rank sums R2_g, and the deviation form
    *   H = 12/(n(n+1)) · Σ_g (R2_g − n_g(n+1))²/(4 n_g)
    *       / (1 − Σ(t³−t)/(n³−n))
    * with each group's squared-deviation term fixed to an integer
    * UNIT (not micro — the term is O(n²·n_g) and must stay < 2⁶³;
    * the ≤ 0.5/group rounding is invisible at micro precision on any
    * real n) before the cross-group sum. Null H when n < 2 or every
    * value is tied (correction denominator 0). LEVEL-bounded past
    * the first aggregate; the prefix window orders levels only.
    * Output: one row per group (grp, n_g, r2_g) + the global
    * (k, n, tie_cube_sum, h_micro) on each row. */
  def kruskalWallis(df: DataFrame, groupCol: String,
                    valueCol: String): DataFrame = {
    val cells = df.select(col(groupCol).cast("string").as("grp"),
        col(valueCol).cast("long").as("_v"))
      .groupBy(col("grp"), col("_v")).agg(count(lit(1)).as("_m"))
      .localCheckpoint() // feeds the level table AND the group sums
    val levels = cells.groupBy(col("_v")).agg(sum(col("_m")).as("_t"))
    val ranked = levels.withColumn("_below", coalesce(
        sum(col("_t")).over(Window.orderBy(col("_v"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("_rank2",
        lit(2L) * col("_below") + col("_t") + lit(1L))
    val byGroup = cells.join(broadcast(ranked), Seq("_v"))
      .groupBy(col("grp"))
      .agg(sum(col("_m")).as("n_g"),
        sum(col("_m") * col("_rank2")).as("r2_g"))
      .localCheckpoint() // feeds the group rows AND the H sum
    val tie = levels.agg(sum(col("_t")).as("_n"),
      sum(col("_t") * col("_t") * col("_t") - col("_t"))
        .as("tie_cube_sum"))
    val withDev = byGroup.crossJoin(broadcast(tie))
      .withColumn("_a",
        col("r2_g") - col("n_g") * (col("_n") + lit(1L)))
      .withColumn("_term", round(col("_a").cast("double") *
        col("_a").cast("double") /
        (lit(4L) * col("n_g")).cast("double")).cast("long"))
    val h = withDev.groupBy(col("_n"), col("tie_cube_sum"))
      .agg(count(lit(1)).as("k"), sum(col("_term")).as("_num"))
      .select(col("k"), col("_n").as("n"), col("tie_cube_sum"),
        when(col("_n") >= 2 &&
            col("tie_cube_sum") < col("_n") * col("_n") * col("_n") -
              col("_n"),
          round(lit(12.0) * col("_num").cast("double") /
            (col("_n").cast("double") *
              (col("_n") + lit(1L)).cast("double")) /
            (lit(1.0) - col("tie_cube_sum").cast("double") /
              (col("_n").cast("double") * col("_n").cast("double") *
                col("_n").cast("double") - col("_n").cast("double"))) *
            1e6).cast("long")).as("h_micro"))
    byGroup.select(col("grp"), col("n_g"), col("r2_g"))
      .crossJoin(broadcast(h))
  }

  /** WALD SPRT over Bernoulli trials (Wald 1945 — the sequential
    * A/B monitor that reads a running experiment WITHOUT a fixed
    * horizon): against H0: p = p0 vs H1: p = p1, the cumulative
    * log-likelihood ratio after (n, x) trials is
    *   LLR = x·ln(p1/p0) + (n−x)·ln((1−p1)/(1−p0)),
    * decided when LLR ≥ ln((1−β)/α) (accept H1) or
    * LLR ≤ ln(β/(1−α)) (accept H0). Both per-trial increments and
    * both boundaries fix to NANO-NAT integer constants ON THE DRIVER
    * (they depend only on the four parameters, not the data), so the
    * whole trajectory is exact integer arithmetic — one day-grid
    * aggregate + a DAY-bounded prefix window; the oracle replays the
    * SAME literal constants. Output per period: (t, n_day, x_day,
    * n_cum, x_cum, llr_nano, decision). */
  def sprtBernoulli(df: DataFrame, tCol: String, convCol: String,
                    p0: Double, p1: Double, alpha: Double,
                    beta: Double): DataFrame = {
    require(p0 > 0 && p0 < 1 && p1 > 0 && p1 < 1 && p0 != p1,
      s"degenerate SPRT hypotheses: p0=$p0 p1=$p1")
    require(alpha > 0 && alpha < 1 && beta > 0 && beta < 1,
      s"degenerate SPRT risks: alpha=$alpha beta=$beta")
    val (l1, l0) = sprtIncrementsNano(p0, p1)
    val (upper, lower) = sprtBoundsNano(alpha, beta)
    val daily = df.select(col(tCol).as("t"),
        col(convCol).cast("boolean").as("_c"))
      .groupBy(col("t"))
      .agg(count(lit(1)).as("n_day"),
        sum(when(col("_c"), 1L).otherwise(0L)).as("x_day"))
    val w = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, 0) // DAY-bounded window
    daily.select(col("t"), col("n_day"), col("x_day"),
        sum(col("n_day")).over(w).as("n_cum"),
        sum(col("x_day")).over(w).as("x_cum"))
      .withColumn("llr_nano", col("x_cum") * lit(l1) +
        (col("n_cum") - col("x_cum")) * lit(l0))
      .withColumn("decision",
        when(col("llr_nano") >= lit(upper), "accept_h1")
          .when(col("llr_nano") <= lit(lower), "accept_h0")
          .otherwise("continue"))
  }

  /** The SPRT per-trial increments in nano-nats — public so query
    * oracles inject the SAME literals. */
  def sprtIncrementsNano(p0: Double, p1: Double): (Long, Long) =
    (math.round(math.log(p1 / p0) * 1e9),
      math.round(math.log((1 - p1) / (1 - p0)) * 1e9))

  /** The SPRT decision boundaries in nano-nats (Wald's A/B bounds). */
  def sprtBoundsNano(alpha: Double, beta: Double): (Long, Long) =
    (math.round(math.log((1 - beta) / alpha) * 1e9),
      math.round(math.log(beta / (1 - alpha)) * 1e9))

  /** QINI / UPLIFT CURVE (Radcliffe 2007 — the decile readout every
    * uplift-modeling evaluation starts from): units are bucketed by
    * a targeting score WITHOUT a global sort — scores collapse to a
    * LEVEL table (the [[rocAuc]] move), a prefix sum over levels
    * (DESC — highest score = targeted first) assigns each whole
    * level to one of `nBuckets` population buckets
    * (bucket = cumBefore·B div n + 1), and per-bucket cumulative
    * treated/control conversions give
    *   qini(k) = X_t(k) − X_c(k)·N_t(k)/N_c(k)
    *   uplift(k) = X_t(k)/N_t(k) − X_c(k)/N_c(k)
    * as identically-spelled micro floats over exact integer counts.
    * LEVEL- then BUCKET-bounded past the first aggregate; ties share
    * a level so bucket assignment is deterministic by construction.
    * Output per bucket: (bucket, n_t, x_t, n_c, x_c, cn_t, cx_t,
    * cn_c, cx_c, qini_micro, uplift_micro). */
  def qiniCurve(df: DataFrame, scoreCol: String, armCol: String,
                convCol: String, nBuckets: Int): DataFrame = {
    require(nBuckets >= 2, s"nBuckets must be >= 2, got $nBuckets")
    val levels = df.select(col(scoreCol).cast("long").as("_s"),
        col(armCol).cast("boolean").as("_a"),
        col(convCol).cast("boolean").as("_c"))
      .groupBy(col("_s"))
      .agg(sum(when(col("_a"), 1L).otherwise(0L)).as("_nt"),
        sum(when(col("_a") && col("_c"), 1L).otherwise(0L)).as("_xt"),
        sum(when(!col("_a"), 1L).otherwise(0L)).as("_nc"),
        sum(when(!col("_a") && col("_c"), 1L).otherwise(0L))
          .as("_xc"))
      .localCheckpoint() // feeds the prefix window AND the total
    val tot = levels.agg(
      sum(col("_nt") + col("_nc")).as("_n"))
    val w = Window.orderBy(col("_s").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val bucketed = levels
      .withColumn("_before",
        coalesce(sum(col("_nt") + col("_nc")).over(w), lit(0L)))
      .crossJoin(broadcast(tot))
      // _n > 0 guard: a degenerate (empty-level) input must return an
      // empty result, not an ANSI divide-by-zero — the null-on-
      // degenerate convention the rest of EvalOps follows.
      .withColumn("bucket",
        expr(s"CASE WHEN _n > 0 THEN (_before * ${nBuckets}L) div _n"
          + " + 1L END"))
      .groupBy(col("bucket"))
      .agg(sum(col("_nt")).as("n_t"), sum(col("_xt")).as("x_t"),
        sum(col("_nc")).as("n_c"), sum(col("_xc")).as("x_c"))
    val wc = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, 0)
    bucketed
      .withColumn("cn_t", sum(col("n_t")).over(wc))
      .withColumn("cx_t", sum(col("x_t")).over(wc))
      .withColumn("cn_c", sum(col("n_c")).over(wc))
      .withColumn("cx_c", sum(col("x_c")).over(wc))
      .withColumn("qini_micro", when(col("cn_c") > 0,
        round((col("cx_t").cast("double") -
          col("cx_c").cast("double") * col("cn_t").cast("double") /
            col("cn_c").cast("double")) * 1e6).cast("long")))
      .withColumn("uplift_micro",
        when(col("cn_t") > 0 && col("cn_c") > 0,
          round((col("cx_t").cast("double") / col("cn_t") -
            col("cx_c").cast("double") / col("cn_c")) * 1e6)
            .cast("long")))
  }

  /** EMPIRICAL-BAYES RATE SHRINKAGE (beta-binomial method of
    * moments — Robbins 1956 lineage; the CTR/return-rate smoother
    * every ranking pipeline applies before sorting small-n items):
    * per-item exact integer (n, x) and ppm raw rates
    * (x·10⁶ div n — exact, non-negative), the prior fit from the
    * UNWEIGHTED item-rate moments kept as exact ppm integers
    * (Σr, Σr² over K items), prior strength
    *   s₀ = α+β = m(1−m)/v − 1  (m, v de-scaled from ppm),
    * and the shrunken rate (x+α)/(n+s₀) per item as ONE
    * identically-spelled float over the broadcast prior. Null prior
    * (and null shrunk rate) when the method-of-moments variance is
    * degenerate (v ≤ 0) or s₀ ≤ 0 (items more dispersed than any
    * beta prior). One item-key aggregate + a 1-row prior broadcast.
    * Output per item: (item, n, x, raw_ppm, alpha_micro, beta_micro,
    * shrunk_ppm). */
  def empiricalBayesRate(df: DataFrame, itemCol: String,
                         convCol: String): DataFrame = {
    val items = df.select(col(itemCol).cast("string").as("item"),
        col(convCol).cast("boolean").as("_c"))
      .groupBy(col("item"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("_c"), 1L).otherwise(0L)).as("x"))
      .withColumn("raw_ppm", expr("(x * 1000000L) div n"))
      .localCheckpoint() // feeds the prior moments AND the item rows
    val pri = items.agg(count(lit(1)).as("_k"),
        sum(col("raw_ppm")).as("_sr"),
        sum(col("raw_ppm") * col("raw_ppm")).as("_srr"))
      .withColumn("_mu", col("_sr").cast("double") /
        col("_k").cast("double") / 1e6)
      .withColumn("_va", (col("_srr").cast("double") /
        col("_k").cast("double") -
        (col("_sr").cast("double") / col("_k").cast("double")) *
          (col("_sr").cast("double") / col("_k").cast("double"))) /
        1e12)
      .withColumn("_s0", when(col("_va") > 0,
        col("_mu") * (lit(1.0) - col("_mu")) / col("_va") - lit(1.0)))
    items.crossJoin(broadcast(pri))
      .select(col("item"), col("n"), col("x"), col("raw_ppm"),
        when(col("_s0") > 0, round(col("_mu") * col("_s0") * 1e6)
          .cast("long")).as("alpha_micro"),
        when(col("_s0") > 0, round((lit(1.0) - col("_mu")) *
          col("_s0") * 1e6).cast("long")).as("beta_micro"),
        when(col("_s0") > 0,
          round((col("x").cast("double") +
            col("_mu") * col("_s0")) /
            (col("n").cast("double") + col("_s0")) * 1e6)
            .cast("long")).as("shrunk_ppm"))
  }

  /** BRADLEY–TERRY PAIRWISE-PREFERENCE RANKING (Bradley & Terry
    * 1952; the model behind Elo-style LLM arena leaderboards), fit
    * by the MM algorithm (Hunter 2004) with a FIXED iteration count
    * and integer-fixed intermediates so the whole trajectory is
    * deterministic and oracle-replayable as an unrolled CTE chain
    * (the kmeansSqlChain convention):
    *   w_i ← W_i / Σ_j g_ij/(w_i + w_j)
    * where W_i = total wins of i and g_ij = games between i and j.
    * Per-pair denominator terms fix to nano before the per-item sum;
    * strengths live in micro (start 10⁶ = 1.0). Items are
    * DOMAIN-bounded (brands/models), so every join is a broadcast
    * and each iteration is one bounded hash aggregate +
    * localCheckpoint. Output per item: (item, total_wins, w_micro,
    * rank — 1 = strongest, ties broken by item). */
  def bradleyTerry(pairs: DataFrame, aCol: String, bCol: String,
                   winsACol: String, winsBCol: String,
                   iters: Int): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val dir = pairs.select(col(aCol).cast("string").as("_i"),
        col(bCol).cast("string").as("_j"),
        col(winsACol).cast("long").as("_wi"),
        col(winsBCol).cast("long").as("_wj"))
      .localCheckpoint() // feeds sym, wins, and every iteration
    val sym = dir.select(col("_i"), col("_j"),
        (col("_wi") + col("_wj")).as("_g"))
      .unionAll(dir.select(col("_j").as("_i"), col("_i").as("_j"),
        (col("_wi") + col("_wj")).as("_g")))
    val wins = dir.select(col("_i"), col("_wi"))
      .unionAll(dir.select(col("_j").as("_i"), col("_wj").as("_wi")))
      .groupBy(col("_i")).agg(sum(col("_wi")).as("total_wins"))
      .localCheckpoint()
    var w = wins.select(col("_i"), lit(1000000L).as("_wm"))
      .localCheckpoint()
    for (_ <- 1 to iters) {
      val d = sym
        .join(broadcast(w.select(col("_i"), col("_wm").as("_wa"))),
          Seq("_i"))
        .join(broadcast(w.select(col("_i").as("_j"),
          col("_wm").as("_wb"))), Seq("_j"))
        .withColumn("_tn", round(col("_g").cast("double") * 1e9 /
          ((col("_wa") + col("_wb")).cast("double") / 1e6))
          .cast("long"))
        .groupBy(col("_i")).agg(sum(col("_tn")).as("_d"))
      // d = 0 only for an all-zero-games item (W = 0 too): pin its
      // strength to 0 instead of riding a 0/0 NaN into ANSI round
      w = wins.join(d, Seq("_i"))
        .select(col("_i"),
          when(col("_d") > 0,
            round(col("total_wins").cast("double") * lit(1e15) /
              col("_d").cast("double")).cast("long"))
            .otherwise(lit(0L)).as("_wm"))
        .localCheckpoint()
    }
    wins.join(w, Seq("_i"))
      .select(col("_i").as("item"), col("total_wins"),
        col("_wm").as("w_micro"))
      .withColumn("rank", row_number().over(
        Window.orderBy(col("w_micro").desc, col("item")))
        .cast("long"))
  }

  /** TWO-PROPORTION SAMPLE-SIZE / POWER CALCULATOR (Fleiss, Levin &
    * Paik 2003 eq. 4.14 — the design-stage companion to q332's
    * z readout and q341's SPRT monitor): with the baseline
    * conversion MEASURED from the data (p̂ = x/n), a relative MDE,
    * and caller-supplied standard-normal quantiles (z_{1−α/2},
    * z_{1−β} — normal quantiles are fixed design constants, e.g.
    * 1.959964 / 0.841621 for α=5%, power 80%),
    *   n/arm = ⌈(z_a·√(2p̄(1−p̄)) + z_b·√(p1(1−p1)+p2(1−p2)))²
    *           / (p2−p1)²⌉,  p2 = p1(1+mde), p̄ = (p1+p2)/2.
    * One map-side count aggregate; the closed form is a single
    * identically-spelled float over two integer counts and three
    * literals. Null when the data is degenerate (x = 0 or x = n) or
    * the lifted rate leaves (0,1). Output 1 row:
    * (n, x, p_hat_ppm, p2_ppm, n_per_arm). */
  def abPowerTwoProportion(df: DataFrame, convCol: String,
                           mdeRel: Double, zAlpha: Double,
                           zBeta: Double): DataFrame = {
    require(mdeRel != 0.0, "mdeRel must be non-zero")
    val agg = df.select(col(convCol).cast("boolean").as("_c"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("_c"), 1L).otherwise(0L)).as("x"))
    val p1 = col("x").cast("double") / col("n").cast("double")
    val p2 = p1 * lit(1.0 + mdeRel)
    val pbar = (p1 + p2) / lit(2.0)
    val numer = lit(zAlpha) *
      sqrt(lit(2.0) * pbar * (lit(1.0) - pbar)) +
      lit(zBeta) * sqrt(p1 * (lit(1.0) - p1) + p2 * (lit(1.0) - p2))
    agg.select(col("n"), col("x"),
      when(col("n") > 0, expr("(x * 1000000L) div n"))
        .as("p_hat_ppm"),
      when(col("n") > 0 && col("x") > 0 && col("x") < col("n"),
        round(p2 * 1e6).cast("long")).as("p2_ppm"),
      when(col("n") > 0 && col("x") > 0 && col("x") < col("n") &&
          p2 > 0 && p2 < 1,
        ceil(numer * numer / ((p2 - p1) * (p2 - p1))).cast("long"))
        .as("n_per_arm"))
  }

  /** TWO-GROUP EFFECT SIZES — the magnitude report every
    * significance test (q171/q314/q332) should ship with: Cohen's d
    * (pooled-SD standardized mean difference), the small-sample
    * Hedges' g correction g = d·(1 − 3/(4n − 9)), and the
    * distribution-free Cliff's δ = (P − Q)/(n_a·n_b) where P/Q count
    * (a, b) pairs with a above/below b. Means and the pooled SD come
    * from exact integer Gram sums (whole units — the q311 Σy² < 2⁵³
    * discipline); P and Q come from the LEVEL table via one prefix
    * sum (the [[wilcoxonRankSum]] move — never a pair join), exact
    * integers to ~3·10⁹ rows. Null d/g when the pooled variance is 0
    * or a side is empty/singleton. Output 1 row: (n_a, n_b, p_pairs,
    * q_pairs, mean_diff_micro, cohens_d_micro, hedges_g_micro,
    * cliffs_delta_micro). */
  def effectSizes(df: DataFrame, valueCol: String,
                  sideCol: String): DataFrame = {
    val base = df.select(col(valueCol).cast("long").as("_v"),
        col(sideCol).cast("boolean").as("_a"))
      .localCheckpoint() // feeds the Gram sums AND the level table
    val gram = base.agg(
      sum(when(col("_a"), 1L).otherwise(0L)).as("n_a"),
      sum(when(col("_a"), col("_v")).otherwise(0L)).as("_sa"),
      sum(when(col("_a"), col("_v") * col("_v")).otherwise(0L))
        .as("_ssa"),
      sum(when(!col("_a"), 1L).otherwise(0L)).as("n_b"),
      sum(when(!col("_a"), col("_v")).otherwise(0L)).as("_sb"),
      sum(when(!col("_a"), col("_v") * col("_v")).otherwise(0L))
        .as("_ssb"))
    val levels = base.groupBy(col("_v"))
      .agg(sum(when(col("_a"), 1L).otherwise(0L)).as("_na"),
        sum(when(!col("_a"), 1L).otherwise(0L)).as("_nb"))
    val w = Window.orderBy(col("_v"))
    val pq = levels
      .withColumn("_bb", coalesce(sum(col("_nb")).over(
        w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("_ab", coalesce(sum(col("_nb")).over(
        w.rowsBetween(1, Window.unboundedFollowing)), lit(0L)))
      .agg(sum(col("_na") * col("_bb")).as("p_pairs"),
        sum(col("_na") * col("_ab")).as("q_pairs"))
    def d(c: String): Column = col(c).cast("double")
    val ma = d("_sa") / d("n_a")
    val mb = d("_sb") / d("n_b")
    val varPooled = ((d("_ssa") - d("_sa") * d("_sa") / d("n_a")) +
      (d("_ssb") - d("_sb") * d("_sb") / d("n_b"))) /
      (d("n_a") + d("n_b") - lit(2.0))
    val cohend = (ma - mb) / sqrt(varPooled)
    val okD = col("n_a") > 0 && col("n_b") > 0 &&
      col("n_a") + col("n_b") > 2
    gram.crossJoin(broadcast(pq))
      .select(col("n_a"), col("n_b"), col("p_pairs"), col("q_pairs"),
        when(col("n_a") > 0 && col("n_b") > 0,
          round((ma - mb) * 1e6).cast("long")).as("mean_diff_micro"),
        when(okD, when(varPooled > 0,
          round(cohend * 1e6).cast("long"))).as("cohens_d_micro"),
        when(okD, when(varPooled > 0,
          round(cohend * (lit(1.0) - lit(3.0) /
            (lit(4.0) * (d("n_a") + d("n_b")) - lit(9.0))) * 1e6)
            .cast("long"))).as("hedges_g_micro"),
        when(col("n_a") > 0 && col("n_b") > 0,
          round((col("p_pairs") - col("q_pairs")).cast("double") /
            (d("n_a") * d("n_b")) * 1e6).cast("long"))
          .as("cliffs_delta_micro"))
  }

  /** TUKEY HSD PAIRWISE CONTRASTS (Tukey 1949 — the post-hoc that
    * belongs after a significant q337 ANOVA): every group pair's
    * mean difference, its studentized-range standard error
    * se = √(MSW/2·(1/n_i + 1/n_j)), the q statistic, and the
    * significance verdict at a CALLER-SUPPLIED critical value
    * (studentized-range quantiles are design constants, like q346's
    * z's). MSW reuses [[oneWayAnova]]'s construction: per-group
    * s²/n terms micro-fixed before the cross-group sum, whole-unit
    * y with Σy² < ~9.2·10¹² (the SSW micro widening is LONG
    * arithmetic — same bound as [[oneWayAnova]]). Groups are
    * domain-bounded, so the pair join is a broadcast
    * self-join over k rows. Null q when MSW = 0. Output per pair
    * (g_a < g_b): (g_a, g_b, n_a, n_b, diff_micro, q_micro,
    * significant). */
  def tukeyHsd(df: DataFrame, groupCol: String, yCol: String,
               qCrit: Double): DataFrame = {
    require(qCrit > 0, s"qCrit must be positive, got $qCrit")
    val g = df.select(col(groupCol).cast("string").as("_g"),
        col(yCol).cast("long").as("_y"))
      .groupBy(col("_g"))
      .agg(count(lit(1)).as("_n"), sum(col("_y")).as("_s"),
        sum(col("_y") * col("_y")).as("_ss"))
      .withColumn("_term_micro",
        round(col("_s").cast("double") * col("_s").cast("double") /
          col("_n").cast("double") * 1e6).cast("long"))
      .localCheckpoint() // feeds MSW AND both pair sides
    val msw = g.agg(count(lit(1)).as("_k"), sum(col("_n")).as("_nt"),
        (sum(col("_ss")) * lit(1000000L) - sum(col("_term_micro")))
          .as("_ssw_micro"))
      .withColumn("_msw", when(col("_nt") > col("_k"),
        col("_ssw_micro").cast("double") / 1e6 /
          (col("_nt") - col("_k")).cast("double")))
    val a = g.select(col("_g").as("g_a"), col("_n").as("n_a"),
      col("_s").as("_sa"))
    val b = g.select(col("_g").as("g_b"), col("_n").as("n_b"),
      col("_s").as("_sb"))
    a.join(broadcast(b), col("g_a") < col("g_b"))
      .crossJoin(broadcast(msw.select(col("_msw"))))
      .withColumn("_diff", col("_sa").cast("double") / col("n_a") -
        col("_sb").cast("double") / col("n_b"))
      .withColumn("_se", sqrt(col("_msw") / lit(2.0) *
        (lit(1.0) / col("n_a") + lit(1.0) / col("n_b"))))
      .select(col("g_a"), col("g_b"), col("n_a"), col("n_b"),
        round(col("_diff") * 1e6).cast("long").as("diff_micro"),
        when(col("_msw") > 0,
          round(col("_diff") / col("_se") * 1e6).cast("long"))
          .as("q_micro"),
        when(col("_msw") > 0,
          abs(col("_diff") / col("_se")) >= lit(qCrit))
          .as("significant"))
  }

  /** WILSON SCORE INTERVAL (Wilson 1927 — the binomial CI that
    * behaves at small n and extreme rates, unlike the Wald
    * interval): per group, with z supplied as a design literal,
    *   center = (p̂ + z²/2n) / (1 + z²/n),
    *   half   = z·√(p̂(1−p̂)/n + z²/4n²) / (1 + z²/n).
    * One group-key hash aggregate; both bounds are identically
    * spelled floats over the exact integer (n, x), micro-fixed.
    * The interval every rate dashboard should draw next to q343's
    * shrunken point estimate. Output per group: (grp, n, x, p_ppm,
    * lo_micro, hi_micro). */
  def wilsonInterval(df: DataFrame, groupCol: String,
                     convCol: String, z: Double): DataFrame = {
    require(z > 0, s"z must be positive, got $z")
    val g = df.select(col(groupCol).cast("string").as("grp"),
        col(convCol).cast("boolean").as("_c"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("_c"), 1L).otherwise(0L)).as("x"))
    val nD = col("n").cast("double")
    val p = col("x").cast("double") / nD
    val z2 = lit(z * z)
    val denom = lit(1.0) + z2 / nD
    val center = (p + z2 / (lit(2.0) * nD)) / denom
    val half = lit(z) * sqrt(p * (lit(1.0) - p) / nD +
      z2 / (lit(4.0) * nD * nD)) / denom
    g.select(col("grp"), col("n"), col("x"),
      expr("(x * 1000000L) div n").as("p_ppm"),
      round((center - half) * 1e6).cast("long").as("lo_micro"),
      round((center + half) * 1e6).cast("long").as("hi_micro"))
  }

  /** LOG-RANK TEST (Mantel 1966; Peto & Peto 1972 — the two-group
    * survival-curve comparison that belongs next to q239's
    * Kaplan–Meier estimate): at every event time t, the observed
    * group-A deaths d_A(t) against the hypergeometric expectation
    *   E_A(t) = d·n_A/n,
    *   V(t)  = d·(n_A/n)·(1 − n_A/n)·(n − d)/(n − 1),
    * with at-risk counts n_A/n_B from ONE suffix sum over the
    * duration LEVEL table (time-domain bounded — the q239 class);
    * per-time E/V terms fix to micro before the cross-time sums
    * (the Mantel–Haenszel spelling), and
    *   χ² = (O_A − ΣE)² / ΣV
    * is one identically-spelled float. Single-at-risk times
    * (n ≤ 1) contribute nothing by definition. Null χ² when
    * ΣV = 0. `eventCol`: true = event (death), false = censored;
    * `groupCol`: true = group A. Output 1 row: (n_a, n_b, events_a,
    * events_b, o_minus_e_micro, chi2_micro). */
  def logRank(df: DataFrame, durationCol: String, eventCol: String,
              groupCol: String): DataFrame = {
    val base = df.select(col(durationCol).cast("long").as("_t"),
      col(eventCol).cast("boolean").as("_e"),
      col(groupCol).cast("boolean").as("_a"))
    val levels = base.groupBy(col("_t"))
      .agg(sum(when(col("_a"), 1L).otherwise(0L)).as("_ma"),
        sum(when(!col("_a"), 1L).otherwise(0L)).as("_mb"),
        sum(when(col("_a") && col("_e"), 1L).otherwise(0L)).as("_da"),
        sum(when(!col("_a") && col("_e"), 1L).otherwise(0L))
          .as("_db"))
      .localCheckpoint() // feeds the suffix window AND the totals
    val w = Window.orderBy(col("_t"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val atRisk = levels
      .withColumn("_na", sum(col("_ma")).over(w))
      .withColumn("_nb", sum(col("_mb")).over(w))
      .withColumn("_d", col("_da") + col("_db"))
      .withColumn("_n", col("_na") + col("_nb"))
      .where(col("_d") > 0 && col("_n") > 1)
    def dd(c: Column): Column = c.cast("double")
    val terms = atRisk.select(col("_da"), col("_db"),
      round(dd(col("_d")) * dd(col("_na")) / dd(col("_n")) * 1e6)
        .cast("long").as("_e6"),
      round(dd(col("_d")) * (dd(col("_na")) / dd(col("_n"))) *
        (lit(1.0) - dd(col("_na")) / dd(col("_n"))) *
        dd(col("_n") - col("_d")) / dd(col("_n") - lit(1L)) * 1e6)
        .cast("long").as("_v6"))
    val tot = base.agg(
      sum(when(col("_a"), 1L).otherwise(0L)).as("n_a"),
      sum(when(!col("_a"), 1L).otherwise(0L)).as("n_b"),
      sum(when(col("_a") && col("_e"), 1L).otherwise(0L))
        .as("events_a"),
      sum(when(!col("_a") && col("_e"), 1L).otherwise(0L))
        .as("events_b"))
    val sums = terms.agg(sum(col("_da")).as("_oa"),
      sum(col("_e6")).as("_se"), sum(col("_v6")).as("_vsum"))
    tot.crossJoin(broadcast(sums))
      .select(col("n_a"), col("n_b"), col("events_a"),
        col("events_b"),
        (col("_oa") * lit(1000000L) - col("_se"))
          .as("o_minus_e_micro"),
        when(col("_vsum") > 0,
          round((col("_oa").cast("double") -
            col("_se").cast("double") / 1e6) *
            (col("_oa").cast("double") -
              col("_se").cast("double") / 1e6) /
            (col("_vsum").cast("double") / 1e6) * 1e6).cast("long"))
          .as("chi2_micro"))
  }

  /** G-TEST OF INDEPENDENCE (the likelihood-ratio twin of
    * [[chiSquareIndependence]] — preferred over Pearson χ² at small
    * expected counts; Sokal & Rohlf 1981):
    *   G = 2·Σ o·ln(o·n/(r·c))
    * over the same contingency cells and margins; a cell only exists
    * when o ≥ 1, so the logarithm is always defined, and each
    * (possibly negative) term fixes to integer nano-nats before the
    * sum (the jsdVsRest convention; ln parity holds — the q195
    * contract). The micro readout sign-splits the nano total (G is
    * ≥ 0 mathematically, but per-term rounding could land an
    * ~0 total a hair negative — the split keeps div defined either
    * way). Domain-bounded past the one contingency aggregate.
    * Output 1 row: (n, r_levels, c_levels, dof, g_nano, g_micro). */
  def gTest(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val cells = df.select(col(aCol).as("_a"), col(bCol).as("_b"))
      .groupBy(col("_a"), col("_b")).agg(count(lit(1)).as("_o"))
      .localCheckpoint() // feeds margins AND the cell terms
    val ra = cells.groupBy(col("_a")).agg(sum(col("_o")).as("_r"))
    val cb = cells.groupBy(col("_b")).agg(sum(col("_o")).as("_c"))
    val tot = cells.agg(sum(col("_o")).as("_n"),
      countDistinct(col("_a")).as("r_levels"),
      countDistinct(col("_b")).as("c_levels"))
    cells.join(broadcast(ra), Seq("_a"))
      .join(broadcast(cb), Seq("_b"))
      .crossJoin(broadcast(tot))
      .withColumn("_tn", round(lit(2.0) * col("_o").cast("double") *
        log(col("_o").cast("double") * col("_n").cast("double") /
          (col("_r").cast("double") * col("_c").cast("double"))) *
        1e9).cast("long"))
      .groupBy(col("_n").as("n"), col("r_levels"), col("c_levels"))
      .agg(sum(col("_tn")).as("g_nano"))
      .select(col("n"), col("r_levels"), col("c_levels"),
        ((col("r_levels") - 1) * (col("c_levels") - 1)).as("dof"),
        col("g_nano"),
        expr("""CASE WHEN g_nano >= 0 THEN g_nano div 1000L
                ELSE -((-g_nano) div 1000L) END""").as("g_micro"))
  }

  /** COVARIATE BALANCE FOR MATCHING (the standardized-mean-difference
    * table every CEM/propensity analysis prints before trusting
    * [[cemAtt]]; Rosenbaum & Rubin 1985): for one integer covariate,
    *   SMD = (x̄_t − x̄_c) / √((s²_t + s²_c)/2)
    * BEFORE matching (all units) and AFTER (control units reweighted
    * by the CEM stratum weights w_s = n_t,s/n_c,s over matched
    * strata; treated side restricted to matched strata), both
    * against the SAME unadjusted pooled SD so the two numbers are
    * comparable. One stratum-key hash aggregate feeds both sides;
    * per-stratum weighted-control terms fix to micro before the
    * cross-stratum sum (the [[cemAtt]] convention); the Gram sums
    * are exact integers (whole units — Σx² < 2⁵³ discipline). Null
    * SMDs when the pooled variance is 0; null after-SMD when no
    * stratum matches. Output 1 row: (n_t, n_c, n_t_matched,
    * mean_t_micro, mean_c_micro, smd_before_micro, smd_after_micro).
    */
  def cemBalance(df: DataFrame, stratumCol: String, treatCol: String,
                 xCol: String): DataFrame = {
    val cells = df.select(col(stratumCol).cast("long").as("_s"),
        col(treatCol).cast("boolean").as("_t"),
        col(xCol).cast("long").as("_x"))
      .groupBy(col("_s"))
      .agg(sum(when(col("_t"), 1L).otherwise(0L)).as("_nt"),
        sum(when(!col("_t"), 1L).otherwise(0L)).as("_nc"),
        sum(when(col("_t"), col("_x")).otherwise(0L)).as("_sxt"),
        sum(when(!col("_t"), col("_x")).otherwise(0L)).as("_sxc"),
        sum(when(col("_t"), col("_x") * col("_x")).otherwise(0L))
          .as("_sxxt"),
        sum(when(!col("_t"), col("_x") * col("_x")).otherwise(0L))
          .as("_sxxc"))
      .localCheckpoint() // feeds the global Grams AND the match sums
    val g = cells.agg(sum(col("_nt")).as("n_t"),
      sum(col("_nc")).as("n_c"),
      sum(col("_sxt")).as("_st"), sum(col("_sxc")).as("_sc"),
      sum(col("_sxxt")).as("_sst"), sum(col("_sxxc")).as("_ssc"))
    val m = cells.where(col("_nt") > 0 && col("_nc") > 0)
      .withColumn("_wc_micro", round(col("_nt").cast("double") *
        col("_sxc").cast("double") / col("_nc").cast("double") * 1e6)
        .cast("long"))
      .agg(sum(col("_nt")).as("n_t_matched"),
        sum(col("_sxt")).as("_smt"), sum(col("_wc_micro")).as("_smc6"))
    def dd(c: String): Column = col(c).cast("double")
    val mt = dd("_st") / dd("n_t")
    val mc = dd("_sc") / dd("n_c")
    val vt = when(col("n_t") > 1,
      (dd("_sst") - dd("_st") * dd("_st") / dd("n_t")) /
        (dd("n_t") - lit(1.0)))
    val vc = when(col("n_c") > 1,
      (dd("_ssc") - dd("_sc") * dd("_sc") / dd("n_c")) /
        (dd("n_c") - lit(1.0)))
    val pooled = sqrt((vt + vc) / lit(2.0))
    g.crossJoin(broadcast(m))
      .select(col("n_t"), col("n_c"), col("n_t_matched"),
        when(col("n_t") > 0, round(mt * 1e6).cast("long"))
          .as("mean_t_micro"),
        when(col("n_c") > 0, round(mc * 1e6).cast("long"))
          .as("mean_c_micro"),
        when(col("n_t") > 1 && col("n_c") > 1,
          when(pooled > 0,
            round((mt - mc) / pooled * 1e6).cast("long")))
          .as("smd_before_micro"),
        when(col("n_t") > 1 && col("n_c") > 1 &&
            col("n_t_matched") > 0,
          when(pooled > 0,
            round((dd("_smt") / dd("n_t_matched") -
              dd("_smc6") / 1e6 / dd("n_t_matched")) / pooled * 1e6)
              .cast("long"))).as("smd_after_micro"))
  }

  /** NELSON–AALEN CUMULATIVE HAZARD (Nelson 1972; Aalen 1978 — the
    * hazard-side twin of q239's Kaplan–Meier survival): per duration
    * level, the at-risk count from ONE suffix sum (the [[logRank]]
    * move), the discrete hazard d/n as an exact ppm integer
    * (d·10⁶ div n — non-negative operands), and the cumulative
    * hazard H(t) = Σ_{s≤t} d/n as the running sum of those ppm
    * integers — order-free, exactly replayable. Every duration level
    * is emitted (zero-hazard censoring-only levels included — the
    * step function stays read-off-able between events). Day-domain
    * bounded past the one aggregate. Output per duration level:
    * (t, n_at_risk, d_events, hazard_ppm, cum_hazard_ppm). */
  def nelsonAalen(df: DataFrame, durationCol: String,
                  eventCol: String): DataFrame = {
    val levels = df.select(col(durationCol).cast("long").as("t"),
        col(eventCol).cast("boolean").as("_e"))
      .groupBy(col("t"))
      .agg(count(lit(1)).as("_m"),
        sum(when(col("_e"), 1L).otherwise(0L)).as("d_events"))
      .localCheckpoint() // feeds the suffix AND the prefix windows
    val atRisk = levels.withColumn("n_at_risk",
      sum(col("_m")).over(Window.orderBy(col("t"))
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)))
    atRisk.withColumn("hazard_ppm",
        expr("(d_events * 1000000L) div n_at_risk"))
      .withColumn("cum_hazard_ppm",
        sum(col("hazard_ppm")).over(Window.orderBy(col("t"))
          .rowsBetween(Window.unboundedPreceding, 0)))
      .select(col("t"), col("n_at_risk"), col("d_events"),
        col("hazard_ppm"), col("cum_hazard_ppm"))
  }

  /** KAPLAN–MEIER PRODUCT-LIMIT SURVIVAL (Kaplan & Meier 1958) with
    * GREENWOOD variance (Greenwood 1926) — the nonparametric
    * survival classic next to [[nelsonAalen]]'s hazard (round-16
    * verdict task 3): per duration LEVEL, the at-risk count n from
    * ONE suffix sum over the level table (the [[logRank]] move), the
    * survival factor (n−d)/n fixed to an EXACT integer micro
    * ((n−d)·10⁶ div n — non-negative operands), and the curve
    * S(t) = Π_{s≤t} factor_s as a single-row `aggregate` fold over
    * the level-sorted array with a micro RE-FIX each step
    * (s' = s·f div 10⁶ — products ≤ 10¹² stay exact in long AND
    * double, the div spelled as subtract-pmod so both engines floor
    * identically), so the whole curve hash-replays against a
    * recursive-CTE oracle. Greenwood's sum g(t) = Σ d/(n(n−d))
    * accumulates as exact integer nano terms (d·10⁹ div (n(n−d)));
    * once a level saturates (n = d — everyone at risk dies) the
    * variance is undefined from that level on (the R `survival`
    * convention) and g carries a −1 sentinel that reads out as NULL.
    * se(S) = S·√g is the one float readout (sqrt/mul correctly
    * rounded over identical exact integers — the q195 parity
    * argument), fixed to micro. `is_median` flags the FIRST level
    * with S ≤ ½ — the median-survival readout.
    *
    * Censoring-only levels (d = 0, factor = 10⁶) are emitted — the
    * step function stays read-off-able between events, and their n
    * drops still feed later factors. SCALE: ONE hash aggregate to
    * levels, one suffix window, one single-row fold — everything
    * past the aggregate is duration-domain bounded at any raw
    * volume. The fold performs L state updates, but accumulating
    * the output curve copies the out-array each step
    * ([[kmFoldCol]]'s `concat`), so the fold's total work is O(L²)
    * in array copying — invisible at day-granularity durations
    * (hundreds of levels) but a bound to respect before feeding
    * SECOND-granularity durations (L ≳ 50k): coarsen the duration
    * unit first (the [[graft.ops.AggOps.holtWinters]] hourly-grid
    * note, applied to survival levels). Output per level: (t,
    * n_at_risk, d_events, factor_micro, s_micro, greenwood_nano,
    * se_micro, is_median). */
  /** The KM level table (t, _m, _d, _n, _f, _gt) with an optional
    * stratum partition, and the product-limit fold shared by
    * [[kaplanMeier]] and [[kaplanMeierBy]]. */
  private def kmLevelFrame(df: DataFrame,
                           part: Seq[Column]): DataFrame =
    df.groupBy((part :+ col("t")): _*)
      .agg(count(lit(1)).as("_m"),
        sum(when(col("_e"), 1L).otherwise(0L)).as("_d"))
      .withColumn("_n",
        sum(col("_m")).over(Window.partitionBy(part: _*)
          .orderBy(col("t"))
          .rowsBetween(Window.currentRow, Window.unboundedFollowing)))
      .withColumn("_f", expr("((_n - _d) * 1000000L) div _n"))
      .withColumn("_gt", expr("CASE WHEN _n > _d THEN " +
        "(_d * 1000000000L) div (_n * (_n - _d)) END"))

  private def kmFoldCol(a: Column): Column = {
    val outType = "array<struct<t:bigint,n:bigint,d:bigint," +
      "f:bigint,s:bigint,g:bigint,med:boolean>>"
    val init = struct(lit(1000000L).as("s"), lit(0L).as("g"),
      lit(false).as("hit"), array().cast(outType).as("out"))
    aggregate(a, init, (st, e) => {
      val sf = st.getField("s") * e.getField("f")
      // exact integer floor-div on non-negative operands: both
      // engines agree (Spark div ≡ DuckDB // here)
      val sNew = ((sf - pmod(sf, lit(1000000L))) / lit(1000000L))
        .cast("long")
      val gNew = when(st.getField("g") < 0L ||
          e.getField("gt").isNull, lit(-1L))
        .otherwise(st.getField("g") + e.getField("gt"))
      val med = not(st.getField("hit")) && (sNew <= lit(500000L))
      struct(sNew.as("s"), gNew.as("g"),
        (st.getField("hit") || (sNew <= lit(500000L))).as("hit"),
        concat(st.getField("out"), array(struct(
          e.getField("t").as("t"), e.getField("n").as("n"),
          e.getField("d").as("d"), e.getField("f").as("f"),
          sNew.as("s"), gNew.as("g"), med.as("med")))).as("out"))
    }).getField("out")
  }

  private def kmReadout(exploded: DataFrame,
                        lead: Seq[Column]): DataFrame =
    exploded.select((lead ++ Seq(
      col("o.t").as("t"), col("o.n").as("n_at_risk"),
      col("o.d").as("d_events"), col("o.f").as("factor_micro"),
      col("o.s").as("s_micro"),
      when(col("o.g") >= 0L, col("o.g")).as("greenwood_nano"),
      when(col("o.g") >= 0L,
        round(col("o.s").cast("double") *
          sqrt(col("o.g").cast("double") / lit(1e9))).cast("long"))
        .as("se_micro"),
      col("o.med").as("is_median"))): _*)

  def kaplanMeier(df: DataFrame, durationCol: String,
                  eventCol: String): DataFrame = {
    val atRisk = kmLevelFrame(
      df.select(col(durationCol).cast("long").as("t"),
        col(eventCol).cast("boolean").as("_e")), Seq.empty)
    val arr = atRisk.agg(sort_array(collect_list(struct(
      col("t"), col("_n").as("n"), col("_d").as("d"),
      col("_f").as("f"), col("_gt").as("gt")))).as("_a"))
    kmReadout(arr.select(explode(kmFoldCol(col("_a"))).as("o")),
      Seq.empty)
  }

  /** STRATIFIED KAPLAN–MEIER (the per-arm curves read NEXT TO the
    * [[logRank]] comparison — log-rank says WHETHER the arms
    * differ, the stratified curves say HOW): [[kaplanMeier]]'s
    * exact product-limit machinery per stratum — the level
    * aggregate keyed by (stratum, t), the at-risk suffix window
    * PARTITIONED by stratum, and one single-row fold PER stratum
    * (groupBy-collect — stratum-count × level-count bounded; the
    * O(L²) fold-copy bound applies PER STRATUM).
    * Same columns, same NULL/median conventions, led by `grp`. */
  def kaplanMeierBy(df: DataFrame, groupCol: String,
                    durationCol: String,
                    eventCol: String): DataFrame = {
    val atRisk = kmLevelFrame(
      df.select(col(groupCol).cast("long").as("grp"),
        col(durationCol).cast("long").as("t"),
        col(eventCol).cast("boolean").as("_e")), Seq(col("grp")))
    val arr = atRisk.groupBy(col("grp"))
      .agg(sort_array(collect_list(struct(
        col("t"), col("_n").as("n"), col("_d").as("d"),
        col("_f").as("f"), col("_gt").as("gt")))).as("_a"))
    kmReadout(
      arr.select(col("grp"), explode(kmFoldCol(col("_a"))).as("o")),
      Seq(col("grp")))
  }

  /** POPULATION STABILITY INDEX (the industry drift monitor):
    * PSI = Σ_buckets (p−q)·ln(p/q) between a baseline side and a
    * comparison side of one bucketed metric, with add-one (Laplace)
    * smoothing on BOTH shares — p = (c_base+1)/(N_base+B) — so an
    * empty bucket on either side stays finite and deterministic.
    * Each bucket's term fixes to integer nano-nats before the sum
    * (the [[graft.ops.TextOps.jsdVsRest]] convention; terms are
    * individually ≥ 0 since sign(p−q) = sign(ln(p/q))).
    * Bucket-domain-bounded past the one (bucket, side) aggregate.
    * `sideCol`: boolean, true = baseline. Output 1 row:
    * (n_base, n_comp, n_buckets, psi_micro). */
  def psi(df: DataFrame, bucketCol: String,
          sideCol: String): DataFrame = {
    val cells = df.select(col(bucketCol).cast("long").as("_bk"),
        col(sideCol).cast("boolean").as("_s"))
      .groupBy(col("_bk"))
      .agg(sum(when(col("_s"), 1L).otherwise(0L)).as("_cb"),
        sum(when(!col("_s"), 1L).otherwise(0L)).as("_cc"))
      .localCheckpoint() // feeds the totals AND the terms
    val tot = cells.agg(sum(col("_cb")).as("_nb"),
      sum(col("_cc")).as("_nc"), count(lit(1)).as("n_buckets"))
    cells.crossJoin(broadcast(tot))
      .withColumn("_p", (col("_cb") + lit(1L)).cast("double") /
        (col("_nb") + col("n_buckets")).cast("double"))
      .withColumn("_q", (col("_cc") + lit(1L)).cast("double") /
        (col("_nc") + col("n_buckets")).cast("double"))
      .withColumn("_tn", round((col("_p") - col("_q")) *
        log(col("_p") / col("_q")) * 1e9).cast("long"))
      .groupBy(col("_nb").as("n_base"), col("_nc").as("n_comp"),
        col("n_buckets"))
      .agg(expr("sum(_tn) div 1000L").as("psi_micro"))
  }
  /** Shared sigmoid/weight projection behind [[logisticIrlsBeta]] and
    * [[ipwAtt]]: with integer features and a broadcast 1-row micro-β
    * frame, z = β₀ + β₁x₁ + β₂x₂ is an EXACT integer in micro units,
    * μ = σ(z) fixes to integer nano per row (the exp argument is the
    * same exact double in any engine — the q195 ln-parity convention
    * extended to exp; saturation is deterministic: e^{+∞} → μ = 10⁹,
    * e^{−∞} → μ = 0), and the IRLS weight w = μ(1−μ) fixes to micro
    * by EXACT integer division (μ(10⁹−μ) ≤ 2.5·10¹⁷ stays in long,
    * operands non-negative so div = floor on both engines); the
    * score term is the exact nano residual y·10⁹ − μ. */
  private def logisticMuFrame(base: DataFrame,
                              beta: DataFrame): DataFrame =
    base.crossJoin(broadcast(beta))
      .withColumn("_zm", col("b0_micro") +
        col("_x1") * col("b1_micro") + col("_x2") * col("b2_micro"))
      .withColumn("_mu", round(lit(1e9) / (lit(1.0) +
        exp(-(col("_zm").cast("double") / lit(1e6))))).cast("long"))
      .withColumn("_w",
        expr("(_mu * (1000000000L - _mu)) div 1000000000000L"))
      .withColumn("_sc", col("_y") * lit(1000000000L) - col("_mu"))

  /** EXACT LEVEL COLLAPSE for the iterative GLM fits (the
    * aggregate-before-you-iterate move — optimization guide §2.3/2.4
    * applied to the Newton loops): every per-row term in the
    * Gram/score/readout aggregates is an integer function of the
    * carried columns only, so Σ_rows f = Σ_levels _c·f EXACTLY (the
    * per-level product c·f is the integer sub-sum of that level's
    * rows — same total, same overflow bound). ONE map-side-combinable
    * groupBy over the data replaces `iters` full-data scans with
    * scans of the (feature-domain bounded) level table — at 100 TB
    * the fit's repeated passes touch a table the size of the feature
    * grid, not the data. */
  private def levelled(base: DataFrame): DataFrame =
    base.groupBy(base.columns.map(col).toSeq: _*)
      .agg(count(lit(1)).as("_c"))

  /** The Newton loop behind [[logisticIrls]]/[[ipwAtt]]: `base` must
    * be the [[levelled]] collapse carrying (_x1, _x2, _y ∈ {0,1}, _c)
    * long columns — each step scans the LEVEL table, not the data
    * (round-18 optimization; the sums are identical by the exact
    * Σ_rows f = Σ_levels _c·f identity). Returns the 1-row
    * (b0_micro, b1_micro, b2_micro) frame after `iters` fixed IRLS
    * steps from β⁰ = 0 (iteration 1 is fully exact: μ ≡ ½,
    * w_micro ≡ 250000). Each step: ONE hash aggregate (the 3×3
    * weighted Gram XᵀWX in exact integer micro-weight units + the
    * score Xᵀ(y−μ) in exact integer nano units), then the q305
    * Cramer determinant solve as a pure projection — identically
    * spelled in the unrolled-CTE oracle — and a micro re-fix of β.
    * A degenerate step (dA = 0, e.g. empty input) keeps β unchanged
    * rather than erroring. */
  private def logisticNewton(base: DataFrame, iters: Int): DataFrame =
    newtonLoop(base, iters, logisticMuFrame, zeroBeta(base, Seq("")))

  /** The 1-row all-zero β⁰ frame (b0_micro<k>, b1_micro<k>,
    * b2_micro<k> per fit suffix k) — the logistic-family seed, which
    * makes step 1 fully exact (μ ≡ ½). */
  private def zeroBeta(base: DataFrame, fits: Seq[String]): DataFrame =
    base.sparkSession.createDataFrame(Seq(Tuple1(0L))).toDF("_zero")
      .select(fits.flatMap(k =>
        (0 to 2).map(j => lit(0L).as(s"b${j}_micro$k"))): _*)

  /** The null-model seed of the log-link count fits (Poisson, NB2,
    * Gamma): β₀ = ln((Σy+1)/n). Newton from 0 overshoots
    * catastrophically on large counts (Δβ₀ ≈ ȳ−1); the standard null
    * init puts step 1 in the quadratic zone. The +1 keeps the ln
    * argument positive; empty input seeds 0. Reads the `_n`/`_sy`
    * columns of a [[seedSums]] frame. */
  private def nullSeed(sums: DataFrame): DataFrame =
    sums.select(
        when(col("_n") > 0, round(log(
          (col("_sy") + 1).cast("double") / col("_n").cast("double"))
          * 1e6, 0).cast("long")).otherwise(0L).as("b0_micro"),
        lit(0L).as("b1_micro"), lit(0L).as("b2_micro"))
      .localCheckpoint()

  /** One aggregate of the [[nullSeed]] sums (n = Σ_c, Σ_c·y) and any
    * `more` sums over the same base. */
  private def seedSums(base: DataFrame, more: Column*): DataFrame =
    base.agg(sum(col("_c")).as("_n"),
      sum(col("_c") * col("_y")).as("_sy") +: more: _*)

  /** The 3×3 weighted Gram XᵀWX of fit `k`: the six sums a00..a22
    * (suffixed k) of _c·_w<k>·x_r·x_c over the per-row level count
    * `_c` and micro weight `_w<k>`. */
  private def gramSums(k: String): Seq[Column] = {
    val cw = col("_c") * col(s"_w$k")
    Seq(sum(cw).as(s"a00$k"), sum(cw * col("_x1")).as(s"a01$k"),
      sum(cw * col("_x2")).as(s"a02$k"),
      sum(cw * col("_x1") * col("_x1")).as(s"a11$k"),
      sum(cw * col("_x1") * col("_x2")).as(s"a12$k"),
      sum(cw * col("_x2") * col("_x2")).as(s"a22$k"))
  }

  /** The score Xᵀs of fit `k`: s0..s2 (suffixed k), the sums of
    * _c·_sc<k>·x_r over the per-row score term `_sc<k>`. */
  private def scoreSums(k: String): Seq[Column] = {
    val cs = col("_c") * col(s"_sc$k")
    Seq(sum(cs).as(s"s0$k"), sum(cs * col("_x1")).as(s"s1$k"),
      sum(cs * col("_x2")).as(s"s2$k"))
  }

  /** ONE Cramer Newton update of fit `k`'s micro β triple
    * (b0_micro<k>, b1_micro<k>, b2_micro<k>) from the a00..a22 Gram
    * and s0..s2 score columns (suffixed k): β_j += round(scale·d_j/dA)
    * — `scale` is 10³ for the IRLS fits (micro weight, nano score)
    * and 1 for Gamma's unit-weight information. A degenerate step
    * (dA = 0, e.g. empty input) keeps β unchanged rather than
    * erroring. The same q305 solve as [[cramerRidgeSolve3]] and the
    * oracle's `cramer3Sql`. */
  private def cramerStep(k: String, scale: Double): Seq[Column] = {
    import LinAlg.det
    def d(c: String): Column = col(c + k).cast("double")
    val dA = det(d("a00"), d("a01"), d("a02"),
      d("a01"), d("a11"), d("a12"), d("a02"), d("a12"), d("a22"))
    val ds = Seq(
      det(d("s0"), d("a01"), d("a02"),
        d("s1"), d("a11"), d("a12"), d("s2"), d("a12"), d("a22")),
      det(d("a00"), d("s0"), d("a02"),
        d("a01"), d("s1"), d("a12"), d("a02"), d("s2"), d("a22")),
      det(d("a00"), d("a01"), d("s0"),
        d("a01"), d("a11"), d("s1"), d("a02"), d("a12"), d("s2")))
    ds.zipWithIndex.map { case (dj, j) =>
      val b = col(s"b${j}_micro$k")
      when(dA =!= 0.0, b + round(lit(scale) * dj / dA).cast("long"))
        .otherwise(b).as(s"b${j}_micro$k")
    }
  }

  /** The fixed-iteration GLM Newton loop behind every 3-coefficient
    * fit — logistic, Poisson, NB2, Gamma, and the fused K-class
    * one-vs-rest and softmax fits: the link only decides `muFrame`,
    * the per-row projection of each fit k's micro weight `_w<k>` and
    * score term `_sc<k>` from the current β frame, and the seed.
    * Each step is ONE map-side-combinable aggregate of every fit's
    * [[gramSums]] + [[scoreSums]] (or of the score sums alone, crossed
    * with a β-free `info` Gram), the [[cramerStep]] projection per
    * fit, and one localCheckpoint of the 1-row β frame. The Δβ scale
    * follows from the Gram's units: a micro-weight Gram against a
    * nano score gives micro β at 10³·d/dA, a unit-weight `info` Gram
    * against a micro score at d/dA. */
  private def newtonLoop(base: DataFrame, iters: Int,
                         muFrame: (DataFrame, DataFrame) => DataFrame,
                         beta0: DataFrame, fits: Seq[String] = Seq(""),
                         info: Option[DataFrame] = None): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val scale = if (info.isEmpty) 1e3 else 1.0
    var beta = beta0
    for (_ <- 1 to iters) {
      val sums = fits.flatMap(k =>
        (if (info.isEmpty) gramSums(k) else Nil) ++ scoreSums(k))
      val agg = muFrame(base, beta).agg(sums.head, sums.tail: _*)
      beta = info.fold(agg)(i => agg.crossJoin(broadcast(i)))
        .crossJoin(broadcast(beta))
        .select(fits.flatMap(cramerStep(_, scale)): _*)
        .localCheckpoint()
    }
    beta
  }

  /** DISTRIBUTED LOGISTIC REGRESSION via fixed-iteration IRLS/Newton
    * Gram aggregates (two integer features + intercept — the
    * relational form of the classical classifier; Nelder & Wedderburn
    * 1972, McCullagh & Nelder 1989 §4). See [[logisticNewton]] for
    * the step construction. After `iters` steps the SAME projection
    * scores the data once more for the training-accuracy readout
    * (pred = z > 0 — an exact integer comparison).
    *
    * Exactness bounds (documented): w_micro ≤ 250000 ⇒ the Gram
    * sums need Σ|x_j·x_k| < 3.7·10¹³; the score sums carry a 10⁹
    * nano factor ⇒ Σ|x_j| < 9.2·10⁹. Standardize features to small
    * integer ranges before fitting at larger n.
    *
    * SCALE: `iters` sequential aggregate passes + one scoring pass —
    * no per-row state, no driver collect, β rides a broadcast 1-row
    * frame; every aggregate is map-side combinable. Output 1 row:
    * (n, b0_micro, b1_micro, b2_micro, correct, acc_ppm). */
  def logisticIrls(df: DataFrame, x1Col: String, x2Col: String,
                   yCol: String, iters: Int): DataFrame = {
    // ONE data scan total: the level collapse replaces the raw-row
    // checkpoint, and the fit AND readout run over the level table
    // (exact — see [[levelled]])
    val base = levelled(df.select(col(x1Col).cast("long").as("_x1"),
        col(x2Col).cast("long").as("_x2"),
        when(col(yCol).cast("boolean"), 1L).otherwise(0L).as("_y")))
      .localCheckpoint() // feeds every Newton step AND the readout
    val beta = logisticNewton(base, iters)
    logisticMuFrame(base, beta)
      // coalesce replays count(1)'s 0-on-empty (sum is NULL there)
      .agg(coalesce(sum(col("_c")), lit(0L)).as("n"),
        sum(when((col("_zm") > 0) === (col("_y") === 1L), col("_c"))
          .otherwise(0L)).as("correct"))
      .crossJoin(broadcast(beta))
      .select(col("n"), col("b0_micro"), col("b1_micro"),
        col("b2_micro"), col("correct"),
        when(col("n") > 0, expr("(correct * 1000000L) div n"))
          .as("acc_ppm"))
  }

  /** Shared exp-link projection behind [[poissonIrls]] (the log-link
    * sibling of [[logisticMuFrame]]): z = β₀+β₁x₁+β₂x₂ exact integer
    * micro; the linear predictor SATURATES at 13 nats (`least` — the
    * logistic frame's deterministic-saturation rule for the unbounded
    * link: e¹³·10⁹ ≈ 4.4·10¹⁴ keeps μ_nano, the μ-as-weight micro
    * division, and the Gram products inside long for grid-scale
    * features; callers with cell rates beyond e¹³ rescale first);
    * μ = e^z fixes to integer nano per row, and the log-link IRLS
    * weight IS μ — micro by exact non-negative integer division; the
    * score term is the exact nano residual y·10⁹ − μ. */
  private def poissonMuFrame(base: DataFrame,
                             beta: DataFrame): DataFrame =
    base.crossJoin(broadcast(beta))
      .withColumn("_zm", least(col("b0_micro") +
        col("_x1") * col("b1_micro") + col("_x2") * col("b2_micro"),
        lit(13000000L)))
      .withColumn("_mu",
        round(exp(col("_zm").cast("double") / lit(1e6)) * lit(1e9))
          .cast("long"))
      .withColumn("_w", expr("_mu div 1000"))
      .withColumn("_sc", col("_y") * lit(1000000000L) - col("_mu"))

  private def poissonNewton(base: DataFrame, iters: Int): DataFrame =
    newtonLoop(base, iters, poissonMuFrame, nullSeed(seedSums(base)))

  /** The (x₁, x₂, y) long base of the count fits, with the constant
    * level weight _c ≡ 1 — NOT [[levelled]]: a count GLM's input is
    * already an (x, y)-grid — y is in the would-be level key, so the
    * collapse is an identity that only adds an exchange (measured
    * +0.4 s on q372's day×hour grid); the constant weight keeps the
    * one weighted [[newtonLoop]] spelling. Checkpointed: it feeds the
    * seed, every step and the readout. */
  private def countBase(df: DataFrame, x1Col: String, x2Col: String,
                        yCol: String): DataFrame =
    df.select(col(x1Col).cast("long").as("_x1"),
        col(x2Col).cast("long").as("_x2"),
        col(yCol).cast("long").as("_y"))
      .withColumn("_c", lit(1L))
      .localCheckpoint()

  /** The calibration readout shared by the count fits: one scoring
    * pass at the final β under [[poissonMuFrame]] — Σμ (nano-exact)
    * and the exact integer absolute-error mass. Output 1 row: (n,
    * b0_micro, b1_micro, b2_micro, sum_y, sum_mu_nano, sae_nano). */
  private def countReadout(base: DataFrame,
                           beta: DataFrame): DataFrame =
    poissonMuFrame(base, beta)
      // coalesce replays count(1)'s 0-on-empty (sum is NULL there)
      .agg(coalesce(sum(col("_c")), lit(0L)).as("n"),
        sum(col("_c") * col("_y")).as("sum_y"),
        sum(col("_c") * col("_mu")).as("sum_mu_nano"),
        sum(col("_c") * abs(col("_y") * lit(1000000000L) - col("_mu")))
          .as("sae_nano"))
      .crossJoin(broadcast(beta))
      .select(col("n"), col("b0_micro"), col("b1_micro"),
        col("b2_micro"), col("sum_y"), col("sum_mu_nano"),
        col("sae_nano"))

  /** DISTRIBUTED POISSON REGRESSION via fixed-iteration IRLS Gram
    * aggregates (log link, two integer features + intercept —
    * McCullagh & Nelder 1989 §6; the count-GLM sibling of
    * [[logisticIrls]], same [[newtonLoop]], exp-link [[poissonMuFrame]]
    * and the null-model β₀ seed). After `iters` steps one more
    * scoring pass reads out calibration: Σμ (nano-exact — at the
    * IRLS optimum with an intercept Σμ = Σy, so the gap measures
    * convergence) and the exact integer absolute-error mass.
    *
    * Exactness bounds: z saturates at 13 nats (see the frame), so
    * w_micro ≤ 4.4·10¹¹ and the Gram sums need Σ|x_j·x_k| < 2·10⁷ —
    * grid-scale covariates (hours, day-of-week, bucket ids), which is
    * what a rate model takes. SCALE: `iters`+1 map-side-combinable
    * aggregate passes, β on a broadcast 1-row frame, no driver
    * collect. Output 1 row: (n, b0_micro, b1_micro, b2_micro,
    * sum_y, sum_mu_nano, sae_nano). */
  def poissonIrls(df: DataFrame, x1Col: String, x2Col: String,
                  yCol: String, iters: Int): DataFrame = {
    val base = countBase(df, x1Col, x2Col, yCol)
    countReadout(base, poissonNewton(base, iters))
  }

  /** NEGATIVE-BINOMIAL (NB2) REGRESSION with FIXED dispersion α —
    * the overdispersion-robust count GLM [[poissonOverdispersion]]
    * motivates (Cameron & Trivedi 1986; log link, quasi-likelihood
    * IRLS): variance μ(1+αμ) turns the Poisson step's weight and
    * score into w = μ/(1+αμ) and s = Σ x·(y−μ)/(1+αμ). Exact
    * spelling: the variance inflation v = 10⁶ + α_micro·μ div 10⁹
    * is an exact micro integer per row; w_micro = μ·10³ div v
    * (non-negative exact division); the score divides the nano
    * residual by v/10⁶ with ONE float round per row (d is signed —
    * a truncating div would diverge from `//`); the 3×3 Gram +
    * Cramer + micro β re-fix are [[newtonLoop]]'s spelling, seeded
    * by the same null model. α_micro = 0 collapses v to 10⁶ and the
    * ENTIRE trajectory equals [[poissonIrls]]'s exactly — the
    * pinned reduction spec. Same readout as the Poisson
    * (Σμ nano calibration + absolute error mass).
    *
    * Exactness bounds: [[poissonMuFrame]]'s 13-nat saturation ⇒
    * α_micro·μ needs α_micro < 2·10⁴ at saturation (α ≤ 0.02) for
    * grid-scale safety; larger α with bounded rates is fine —
    * α_micro·μ_nano < 9.2·10¹⁸ is the hard line, ANSI-loud beyond.
    * SCALE: iters+1 fused map-side aggregates, β broadcast. Output
    * 1 row: (n, b0_micro, b1_micro, b2_micro, sum_y, sum_mu_nano,
    * sae_nano). */
  def negativeBinomialIrls(df: DataFrame, x1Col: String,
                           x2Col: String, yCol: String, iters: Int,
                           alphaMicro: Long): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(alphaMicro >= 0, s"alphaMicro must be >= 0, got $alphaMicro")
    val base = countBase(df, x1Col, x2Col, yCol)
    def nbFrame(b: DataFrame, beta: DataFrame): DataFrame =
      poissonMuFrame(b, beta)
        .withColumn("_v", lit(1000000L) +
          expr(s"(${alphaMicro}L * _mu) div 1000000000L"))
        .withColumn("_w", expr("(_mu * 1000L) div _v"))
        .withColumn("_sc", round((col("_y") * lit(1000000000L) -
          col("_mu")).cast("double") * lit(1e6) /
          col("_v").cast("double")).cast("long"))
    countReadout(base,
      newtonLoop(base, iters, nbFrame, nullSeed(seedSums(base))))
  }

  /** GAMMA GLM with LOG LINK (McCullagh & Nelder 1989 §8.3 — the
    * positive-continuous member completing the exponential-family
    * set: logistic for binary (q355), Poisson for counts (q372),
    * NB2 for overdispersed counts (q392), Gamma for positive skewed
    * AMOUNTS — transaction values, durations, sizes): under the log
    * link the dispersion φ CANCELS from the Newton step — Fisher
    * information is (1/φ)·XᵀX and the score (1/φ)·Σ(y/μ − 1)x, so
    * the step is (XᵀX)⁻¹·Σ(y/μ − 1)x with UNIT row weights. That
    * makes the information aggregate β-FREE: it is computed ONCE
    * and broadcast to every step — only the score re-aggregates
    * (iters+1 total passes where the Poisson pays iters fused
    * Gram+score passes). μ = e^z saturates at 13 nats (the
    * [[poissonIrls]] rule); the per-row score term (y/μ − 1) fixes
    * to micro by ONE correctly-rounded float divide over exact
    * integers (10⁶·(y·10⁹) / μ_nano, left-to-right — the q195
    * parity spelling). y must be > 0 (Gamma support — callers
    * filter; a y = 0 row degrades gracefully to a −10⁶ score term).
    * Seed β₀ = ln((Σy+1)/n) (the Poisson null-init rule).
    *
    * Exactness bounds: score sums need Σ|sc·x| < 2⁶³ — with the
    * null seed, |sc| ≈ 10⁶·y/ȳ, so max(y)/ȳ ratios ≤ 10⁴ are safe
    * to n ~ 10⁹ rows; the β-free info needs Σ|x_j·x_k| < 2⁶³.
    * SCALE: one info aggregate + iters score aggregates + one
    * readout pass, all map-side combinable; β and the info ride
    * broadcast 1-row frames. Output 1 row: (n, b0_micro, b1_micro,
    * b2_micro, sum_y, sum_mu_nano, sae_nano). */
  def gammaIrls(df: DataFrame, x1Col: String, x2Col: String,
                yCol: String, iters: Int): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val base = countBase(df, x1Col, x2Col, yCol)
    // the log-link Gamma information is beta-free: pay it ONCE, in
    // the same aggregate as the null seed's sums
    val info = seedSums(base, count(lit(1)).as("a00"),
        sum(col("_x1")).as("a01"), sum(col("_x2")).as("a02"),
        sum(col("_x1") * col("_x1")).as("a11"),
        sum(col("_x1") * col("_x2")).as("a12"),
        sum(col("_x2") * col("_x2")).as("a22"))
      .localCheckpoint()
    def gammaFrame(b: DataFrame, beta: DataFrame): DataFrame =
      poissonMuFrame(b, beta)
        .withColumn("_sc", round(lit(1e6) *
          (col("_y") * lit(1000000000L)).cast("double") /
          col("_mu").cast("double")).cast("long") - lit(1000000L))
    countReadout(base, newtonLoop(base, iters, gammaFrame,
      nullSeed(info), info = Some(info)))
  }

  /** TWO-SAMPLE KOLMOGOROV–SMIRNOV TEST (Kolmogorov 1933; Smirnov
    * 1939 — the binning-free distribution drift monitor next to
    * [[psi]]'s bucketed one: D = sup|F̂_a − F̂_b| needs no bucket
    * choice, so it catches shape drift PSI's bins can wash out):
    * rows collapse to the VALUE LEVEL table (ONE hash aggregate of
    * per-side counts), cumulative counts per side come from one
    * level-ordered prefix window, and the statistic is the EXACT
    * integer cross-multiplication
    *   D·n_a·n_b = max_levels |c_a·n_b − c_b·n_a|
    * — no float until the two readout fixes: d_ppm by exact
    * integer division and the large-sample critical value
    * c(α)·√((n_a+n_b)/(n_a·n_b)) with c(α) = √(−ln(α/2)/2)
    * (Smirnov's asymptotic) carried as the CALLER'S micro literal
    * `cMicro` — the [[mcnemarPaired]]/`zCritMicro` rational-literal
    * convention (default 1358000 = α 0.05; 1.628·10⁶ is α 0.01) —
    * both spelled identically in the oracle ((cMicro/10⁶)·√(…)).
    * reject = d_ppm > crit_ppm (ppm-resolution comparison,
    * documented).
    *
    * EXACTNESS BOUND: d_scaled·10⁶ and the per-level cross-products
    * c_a·n_b run in long, so the test is exact while
    * n_a·n_b < 2⁶³/10⁶ ≈ 9.2·10¹² — about 3M rows per side. Past
    * that, pre-aggregate (KS is distribution-level: feeding the
    * VALUE LEVEL counts of a larger corpus through a bounded-domain
    * recode keeps n_a/n_b at the level scale) before calling.
    *
    * SCALE: one level aggregate; everything past it is
    * value-domain bounded (the prefix window runs over LEVELS).
    * Output 1 row: (n_a, n_b, n_levels, d_scaled, d_ppm, crit_ppm,
    * reject). Sides with zero rows read NULL metrics. */
  def ksTest(df: DataFrame, valueCol: String, sideCol: String,
             cMicro: Long = 1358000L): DataFrame =
    ksTestFromLevels(
      df.select(col(valueCol).cast("long").as("_v"),
          col(sideCol).cast("boolean").as("_g"))
        .groupBy(col("_v"))
        .agg(sum(when(col("_g"), 1L).otherwise(0L)).as("_ma"),
          sum(when(!col("_g"), 1L).otherwise(0L)).as("_mb")),
      "_v", "_ma", "_mb", cMicro)

  /** [[ksTest]] over an ALREADY-AGGREGATED level table — (value,
    * side-A count, side-B count) rows — for callers whose sides
    * arrive pre-counted (e.g. a streamed side aggregated in-stream
    * so the sink lands levels, not rows). Identical arithmetic:
    * [[ksTest]] is exactly this after its own level collapse. */
  def ksTestFromLevels(levels: DataFrame, valueCol: String,
                       aCol: String, bCol: String,
                       cMicro: Long = 1358000L): DataFrame = {
    require(cMicro > 0, s"cMicro must be > 0, got $cMicro")
    val lv = levels.select(col(valueCol).cast("long").as("_v"),
        col(aCol).cast("long").as("_ma"),
        col(bCol).cast("long").as("_mb"))
      .localCheckpoint() // level-bounded; feeds totals AND the window
    val tot = lv.agg(sum(col("_ma")).as("n_a"),
      sum(col("_mb")).as("n_b"), count(lit(1)).as("n_levels"))
    val w = Window.orderBy(col("_v"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val crit = round((lit(cMicro).cast("double") / lit(1e6)) *
      sqrt((col("n_a") + col("n_b")).cast("double") /
        (col("n_a").cast("double") * col("n_b").cast("double"))) *
      lit(1e6)).cast("long")
    lv.withColumn("_ca", sum(col("_ma")).over(w))
      .withColumn("_cb", sum(col("_mb")).over(w))
      .crossJoin(broadcast(tot))
      .groupBy(col("n_a"), col("n_b"), col("n_levels"))
      .agg(max(abs(col("_ca") * col("n_b") -
        col("_cb") * col("n_a"))).as("d_scaled"))
      .select(col("n_a"), col("n_b"), col("n_levels"),
        col("d_scaled"),
        when(col("n_a") > 0 && col("n_b") > 0,
          expr("(d_scaled * 1000000L) div (n_a * n_b)")).as("d_ppm"),
        when(col("n_a") > 0 && col("n_b") > 0, crit).as("crit_ppm"),
        when(col("n_a") > 0 && col("n_b") > 0,
          expr("(d_scaled * 1000000L) div (n_a * n_b)") > crit)
          .as("reject"))
  }

  /** McNEMAR'S PAIRED TEST (McNemar 1947 — model comparison on the
    * SAME rows, the test an accuracy-delta readout cannot replace:
    * two models with equal accuracy can still disagree
    * systematically, and two very different accuracies can be
    * statistically indistinguishable at small disagreement counts):
    * over per-row paired correctness booleans (model A correct,
    * model B correct), the discordant counts b (A-only) and c
    * (B-only) carry the whole test — χ² = (b−c)²/(b+c), here
    * WITHOUT continuity correction (the pinned convention,
    * documented), as an EXACT integer micro ((b−c)²·10⁶ div (b+c)
    * — non-negative operands). `critMicro` is the caller's χ²₁
    * quantile literal (3.841459·10⁶ at α = 0.05 — the q346
    * convention). b + c = 0 (perfect agreement) reads (0, false) —
    * the b = c limit of the statistic and the only cross-engine-
    * stable spelling (a NULL boolean hashes differently across
    * engines' pandas dtypes).
    *
    * EXACTNESS BOUND: (b−c)²·10⁶ runs in long, so the statistic is
    * exact while |a_only − b_only| < √(2⁶³/10⁶) ≈ 3.0·10⁶ discordant
    * rows — the [[multiclassSummary]]/[[gammaIrls]] bound
    * convention. A paired comparison whose models disagree on more
    * than ~3M rows one-sidedly should pre-aggregate (the test only
    * needs the four cell counts, which any upstream rollup
    * preserves).
    *
    * SCALE: ONE map-side-combinable aggregate over the paired
    * frame. Output 1 row: (n, both_correct, a_only, b_only,
    * both_wrong, disagree, mcnemar_micro, signif). */
  def mcnemarPaired(df: DataFrame, aCol: String, bCol: String,
                    critMicro: Long): DataFrame =
    df.select(col(aCol).cast("boolean").as("_a"),
        col(bCol).cast("boolean").as("_b"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("_a") && col("_b"), 1L).otherwise(0L))
          .as("both_correct"),
        sum(when(col("_a") && !col("_b"), 1L).otherwise(0L))
          .as("a_only"),
        sum(when(!col("_a") && col("_b"), 1L).otherwise(0L))
          .as("b_only"),
        sum(when(!col("_a") && !col("_b"), 1L).otherwise(0L))
          .as("both_wrong"))
      .select(col("n"), col("both_correct"), col("a_only"),
        col("b_only"), col("both_wrong"),
        (col("a_only") + col("b_only")).as("disagree"),
        when(col("a_only") + col("b_only") > 0,
          expr("((a_only - b_only) * (a_only - b_only) * 1000000L)" +
            " div (a_only + b_only)")).otherwise(0L)
          .as("mcnemar_micro"),
        when(col("a_only") + col("b_only") > 0,
          expr("((a_only - b_only) * (a_only - b_only) * 1000000L)" +
            " div (a_only + b_only)") > critMicro).otherwise(false)
          .as("signif"))

  /** OVERDISPERSION TEST for a Poisson fit (Cameron & Trivedi 1990's
    * regression-based diagnostic in its z-statistic form — the check
    * that says whether [[poissonIrls]]'s equidispersion assumption
    * holds or a negative-binomial variance is called for):
    *   T = Σ[(y−μ̂)² − y] / √(2·Σμ̂²),  T ≳ z_α ⇒ overdispersed.
    * The fit re-runs ([[poissonNewton]], the q192 retrain
    * convention); per ROW both terms fix to micro from the exact
    * nano residual d = y·10⁹ − μ (d² runs in doubles — d can reach
    * 10¹², squaring overflows long, and the double product of
    * identical operands is IEEE-exact-rounded the same everywhere),
    * the sums are order-free longs, and the one final
    * divide-by-sqrt micro-fixes T. `zCritMicro` is a caller literal
    * (the q346 normal-quantile convention).
    *
    * SCALE: the fit's iters aggregates + ONE more readout pass.
    * Output 1 row: (n, sum_y, s_micro, m_micro, t_micro,
    * overdispersed). */
  def poissonOverdispersion(df: DataFrame, x1Col: String,
                            x2Col: String, yCol: String, iters: Int,
                            zCritMicro: Long): DataFrame = {
    val base = countBase(df, x1Col, x2Col, yCol)
    val beta = poissonNewton(base, iters)
    poissonMuFrame(base, beta)
      .withColumn("_d", (col("_y") * lit(1000000000L) - col("_mu"))
        .cast("double"))
      .withColumn("_t6", round(col("_d") * col("_d") / lit(1e12))
        .cast("long") - col("_y") * lit(1000000L))
      .withColumn("_m6", round(col("_mu").cast("double") *
        col("_mu").cast("double") / lit(1e12)).cast("long"))
      .agg(coalesce(sum(col("_c")), lit(0L)).as("n"),
        sum(col("_c") * col("_y")).as("sum_y"),
        sum(col("_c") * col("_t6")).as("s_micro"),
        sum(col("_c") * col("_m6")).as("m_micro"))
      .select(col("n"), col("sum_y"), col("s_micro"), col("m_micro"),
        when(col("m_micro") > 0, round(col("s_micro").cast("double") /
          sqrt(lit(2.0) * (col("m_micro").cast("double") / lit(1e6))))
          .cast("long")).as("t_micro"))
      .withColumn("overdispersed",
        col("t_micro").isNotNull && col("t_micro") > zCritMicro)
  }

  /** INVERSE-PROPENSITY-WEIGHTED ATT (Rosenbaum & Rubin 1983;
    * Hirano & Imbens 2001 stabilization practice) — the
    * propensity-score sibling of [[cemAtt]]/[[cemBalance]]: fit the
    * propensity e(x) = P(treat | x₁, x₂) with [[logisticNewton]]
    * (fixed IRLS steps — deterministic and oracle-able), score every
    * unit (per-row propensity in exact integer nano), weight
    * controls by the ATT odds w = e/(1−e) (micro-fixed per row —
    * float over exact integers, identically spelled), and read out
    *   ATT = ȳ_treated − Σ_c w·y / Σ_c w
    * plus the covariate-balance SMD for x₁ before/after weighting —
    * both against the SAME unadjusted pooled SD (the [[cemBalance]]
    * convention) so CEM and IPW balance reads are comparable.
    * Controls with saturated propensity (μ = 10⁹ ⇒ infinite weight)
    * or weight above `wCapMicro` are TRIMMED and counted
    * (n_c_trimmed) — the standard extreme-propensity guard, mirrored
    * in the oracle.
    *
    * SCALE: the fit is [[logisticNewton]]'s iters aggregate passes;
    * the weighting/readout is ONE more aggregate — per-row weighted
    * terms fix to micro before the sums, so Σ w·|y| must stay under
    * 2⁶³/10⁶ (trim cap 100 ⇒ safe to ~10¹¹ cent-scale rows). Output
    * 1 row: (n_t, n_c, n_c_trimmed, mean_t_micro, mean_c_w_micro,
    * att_micro, smd_before_micro, smd_after_micro). */
  def ipwAtt(df: DataFrame, x1Col: String, x2Col: String,
             treatCol: String, yCol: String, iters: Int,
             wCapMicro: Long = 100000000L): DataFrame = {
    require(wCapMicro > 0, s"wCapMicro must be > 0, got $wCapMicro")
    val base = df.select(col(x1Col).cast("long").as("_x1"),
        col(x2Col).cast("long").as("_x2"),
        col(treatCol).cast("boolean").as("_t"),
        col(yCol).cast("long").as("_yc"))
      .withColumn("_y", when(col("_t"), 1L).otherwise(0L))
      .localCheckpoint() // feeds the fit AND the weighted readout
    // the fit scans the exact level collapse (feature-domain bounded
    // — [[levelled]]); the readout below still reads per-row _yc
    val beta = logisticNewton(
      levelled(base.select(col("_x1"), col("_x2"), col("_y")))
        .localCheckpoint(), iters)
    val keepC = !col("_t") && col("_wc").isNotNull &&
      col("_wc") <= lit(wCapMicro)
    val agg = logisticMuFrame(base, beta)
      .withColumn("_wc", when(col("_mu") < lit(1000000000L),
        round(col("_mu").cast("double") * lit(1e6) /
          (lit(1000000000L) - col("_mu")).cast("double"))
          .cast("long")))
      .agg(
        sum(when(col("_t"), 1L).otherwise(0L)).as("n_t"),
        sum(when(!col("_t"), 1L).otherwise(0L)).as("n_c"),
        sum(when(!col("_t") && (col("_wc").isNull ||
          col("_wc") > lit(wCapMicro)), 1L).otherwise(0L))
          .as("n_c_trimmed"),
        sum(when(col("_t"), col("_yc")).otherwise(0L)).as("_syt"),
        sum(when(keepC, col("_wc")).otherwise(0L)).as("_sw"),
        sum(when(keepC, col("_wc") * col("_yc")).otherwise(0L))
          .as("_swy"),
        sum(when(col("_t"), col("_x1")).otherwise(0L)).as("_sxt"),
        sum(when(col("_t"), col("_x1") * col("_x1")).otherwise(0L))
          .as("_sxxt"),
        sum(when(!col("_t"), col("_x1")).otherwise(0L)).as("_sxc"),
        sum(when(!col("_t"), col("_x1") * col("_x1")).otherwise(0L))
          .as("_sxxc"),
        sum(when(keepC, col("_wc") * col("_x1")).otherwise(0L))
          .as("_swx"))
    def dd(c: String): Column = col(c).cast("double")
    val mt = dd("_syt") / dd("n_t")
    val mcw = dd("_swy") / dd("_sw")
    val mxt = dd("_sxt") / dd("n_t")
    val mxc = dd("_sxc") / dd("n_c")
    val mxcw = dd("_swx") / dd("_sw")
    val vt = when(col("n_t") > 1,
      (dd("_sxxt") - dd("_sxt") * dd("_sxt") / dd("n_t")) /
        (dd("n_t") - lit(1.0)))
    val vc = when(col("n_c") > 1,
      (dd("_sxxc") - dd("_sxc") * dd("_sxc") / dd("n_c")) /
        (dd("n_c") - lit(1.0)))
    val pooled = sqrt((vt + vc) / lit(2.0))
    agg.select(col("n_t"), col("n_c"), col("n_c_trimmed"),
      when(col("n_t") > 0, round(mt * 1e6).cast("long"))
        .as("mean_t_micro"),
      when(col("_sw") > 0, round(mcw * 1e6).cast("long"))
        .as("mean_c_w_micro"),
      when(col("n_t") > 0, when(col("_sw") > 0,
        round((mt - mcw) * 1e6).cast("long"))).as("att_micro"),
      when(col("n_t") > 1 && col("n_c") > 1, when(pooled > 0,
        round((mxt - mxc) / pooled * 1e6).cast("long")))
        .as("smd_before_micro"),
      when(col("n_t") > 1 && col("n_c") > 1 && col("_sw") > 0,
        when(pooled > 0,
          round((mxt - mxcw) / pooled * 1e6).cast("long")))
        .as("smd_after_micro"))
  }
  /** COX PROPORTIONAL HAZARDS, one integer covariate, Breslow ties,
    * fixed Newton steps (Cox 1972; Breslow 1974) — the regression
    * member of the survival family next to [[EvalOps.logRank]] (test)
    * and [[nelsonAalen]] (hazard): maximize the Breslow partial
    * likelihood ℓ(β) = Σ_k [s_k β − d_k ln S0_k] by Newton over the
    * DURATION LEVEL TABLE. Per step, per subject, φ = e^{βx} fixes
    * to integer nano (the exp argument x·β_micro is an EXACT integer
    * — the q355 sigmoid convention), one hash aggregate collapses
    * subjects to per-duration cells (g_r = Σ x^r φ, d, s = Σ_events
    * x), ONE suffix sum over duration levels gives the risk-set
    * moments S0/S1/S2 (the [[logRank]] at-risk move), and the score
    * U = Σ_k (s_k − d_k S1/S0) and information I = Σ_k d_k(S2/S0 −
    * (S1/S0)²) fix per LEVEL to micro before the cross-level sums.
    * β ← β + round(10⁶·U/I), frozen when I ≤ 0 (degenerate risk
    * sets). β⁰ = 0 makes step 1 fully exact (φ ≡ 10⁹).
    *
    * Exactness bounds (documented): |β·x| ≤ 21 in natural units
    * keeps φ = 10⁹·e^{βx} in long; Σ x²·φ over subjects must stay
    * < 2⁶³ — center/scale the covariate to a small integer range
    * first (the binary-arm covariate is the canonical instance).
    *
    * SCALE: per step exactly one aggregate pass over subjects + one
    * LEVEL-bounded window (distinct durations — days, not rows);
    * `iters` fixed ⇒ iters+1 sequential scans (the +1 scores the
    * final β for the U/I/se readout). No driver math, no per-row
    * state. Output 1 row: (n, events, b_micro, hr_micro, se_micro,
    * u_final_micro, i_micro). */
  def coxPh(df: DataFrame, durationCol: String, eventCol: String,
            xCol: String, iters: Int): DataFrame =
    coxPh1(df, None, durationCol, eventCol, xCol, iters)

  /** The Breslow risk-set pass behind every Cox fit ([[coxPh]],
    * [[coxPhStratified]], [[coxPh2]]) at the β in the 1-row frame
    * `beta`: per subject φ = e^{Σ x_a·β_a} fixed to integer nano; ONE
    * hash aggregate to per-duration cells (keyed by (_g, _t) when
    * `strata`), the suffix risk-set window over duration levels
    * (partitioned by the stratum _g when `strata`), then the per-level
    * micro score/information terms and their cross-level sums. `xb`
    * pairs each covariate column with its β column; covariate i is
    * tagged 'a', 'b', … Output 1 row: _su<a> per covariate and
    * _si<a><b> per a ≤ b. Suffix-sum names must not collide
    * case-insensitively with the level sums (_sa/_sb): Spark's
    * default resolver treats _Sa == _sa and withColumn would silently
    * REPLACE the event sums with nano-scale risk moments (caught by
    * the round-16 planted-effect spec) — hence _Sva/_Sqab, the
    * oracle's names. */
  private def coxPass(base: DataFrame, beta: DataFrame,
                      xb: Seq[(String, String)],
                      strata: Boolean): DataFrame = {
    val tags = xb.indices.map(i => ('a' + i).toChar.toString)
    val x = tags.zip(xb.map(p => col(p._1))).toMap
    val pairs = for (i <- tags.indices; j <- i until tags.size)
      yield (tags(i), tags(j))
    val keys = (if (strata) Seq(col("_g")) else Nil) :+ col("_t")
    val lev = base.crossJoin(broadcast(beta))
      .withColumn("_phi", round(lit(1e9) *
        exp(xb.map { case (xc, bc) => col(xc) * col(bc) }.reduce(_ + _)
          .cast("double") / lit(1e6))).cast("long"))
      .groupBy(keys: _*)
      .agg(sum(col("_phi")).as("_g0"),
        tags.map(a => sum(x(a) * col("_phi")).as(s"_g$a")) ++
        pairs.map { case (a, b) =>
          sum(x(a) * x(b) * col("_phi")).as(s"_g$a$b") } ++
        (sum(when(col("_e"), 1L).otherwise(0L)).as("_d") +:
          tags.map(a =>
            sum(when(col("_e"), x(a)).otherwise(0L)).as(s"_s$a"))): _*)
    val w = Window.partitionBy(keys.init: _*).orderBy(col("_t"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    def dd(c: String): Column = col(c).cast("double")
    val risk = (Seq(("_rs0", "_g0")) ++
      tags.map(a => (s"_Sv$a", s"_g$a")) ++
      pairs.map { case (a, b) => (s"_Sq$a$b", s"_g$a$b") })
      .foldLeft(lev) { case (f, (r, g)) =>
        f.withColumn(r, sum(col(g)).over(w)) }
    val terms = tags.map(a =>
      round((dd(s"_s$a") - dd("_d") * (dd(s"_Sv$a") / dd("_rs0")))
        * 1e6).cast("long").as(s"_u${a}6")) ++
      pairs.map { case (a, b) =>
        round(dd("_d") * (dd(s"_Sq$a$b") / dd("_rs0") -
          (dd(s"_Sv$a") / dd("_rs0")) * (dd(s"_Sv$b") / dd("_rs0"))) * 1e6)
          .cast("long").as(s"_i$a${b}6") }
    val sums = tags.map(a => sum(col(s"_u${a}6")).as(s"_su$a")) ++
      pairs.map { case (a, b) => sum(col(s"_i$a${b}6")).as(s"_si$a$b") }
    risk.where(col("_d") > 0 && col("_rs0") > 0)
      .select(terms: _*)
      .agg(sums.head, sums.tail: _*)
  }

  /** The one-covariate Cox fit behind [[coxPh]] and
    * [[coxPhStratified]]: `stratumCol` keys the [[coxPass]] risk sets
    * per stratum when given. β⁰ = 0; each step β ← β + round(10⁶·U/I),
    * frozen when I ≤ 0, then one localCheckpoint of the 1-row β
    * frame; the readout scores the final β once more. */
  private def coxPh1(df: DataFrame, stratumCol: Option[String],
                     durationCol: String, eventCol: String,
                     xCol: String, iters: Int): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val g = stratumCol.map(c => col(c).cast("long").as("_g")).toSeq
    val base = df.select(g ++ Seq(col(durationCol).cast("long").as("_t"),
        col(eventCol).cast("boolean").as("_e"),
        col(xCol).cast("long").as("_x")): _*)
      .localCheckpoint() // feeds every Newton step AND the readout
    val spark = base.sparkSession
    import spark.implicits._
    val strata = g.nonEmpty
    def ui(b: DataFrame): DataFrame =
      coxPass(base, b, Seq("_x" -> "b_micro"), strata)
    var beta = Seq(Tuple1(0L)).toDF("b_micro")
    for (_ <- 1 to iters) {
      beta = ui(beta).crossJoin(broadcast(beta))
        .select(when(col("_siaa") > 0, col("b_micro") +
          round(lit(1e6) * col("_sua").cast("double") /
            col("_siaa").cast("double")).cast("long"))
          .otherwise(col("b_micro")).as("b_micro"))
        .localCheckpoint()
    }
    val tot = base.agg(count(lit(1)).as("n"),
      sum(when(col("_e"), 1L).otherwise(0L)).as("events") +:
        (if (strata) Seq(countDistinct(col("_g")).as("k_strata"))
         else Nil): _*)
    // (n, events[, k_strata]) then the fit readout
    tot.crossJoin(broadcast(ui(beta))).crossJoin(broadcast(beta))
      .select((tot.columns.toSeq :+ "b_micro").map(col) ++ Seq(
        round(lit(1e6) * exp(col("b_micro").cast("double") / lit(1e6)))
          .cast("long").as("hr_micro"),
        when(col("_siaa") > 0, round(lit(1e6) /
          sqrt(col("_siaa").cast("double") / lit(1e6))).cast("long"))
          .as("se_micro"),
        col("_sua").as("u_final_micro"),
        col("_siaa").as("i_micro")): _*)
  }

  /** STRATIFIED COX PH (Cox 1972 §5's stratified partial likelihood
    * — adjust for a categorical confounder WITHOUT modeling it:
    * each stratum keeps its OWN baseline hazard and risk sets, the
    * strata share ONE β; the standard move when the confounder's
    * effect is non-proportional and a linear term like q380's x2
    * would mis-specify it): [[coxPh]]'s machinery with the
    * duration-level aggregate keyed by (stratum, t) and the suffix
    * risk-set window PARTITIONED by stratum; the per-level micro
    * U/I terms sum ACROSS strata (the stratified score is the plain
    * sum — order-free). Same exactness bounds as [[coxPh]].
    *
    * SCALE: per step ONE (stratum × duration)-keyed aggregate + one
    * stratum-partitioned suffix window — level-bounded past the
    * aggregate at any subject count. Output 1 row: (n, events,
    * k_strata, b_micro, hr_micro, se_micro, u_final_micro,
    * i_micro). */
  def coxPhStratified(df: DataFrame, stratumCol: String,
                      durationCol: String, eventCol: String,
                      xCol: String, iters: Int): DataFrame =
    coxPh1(df, Some(stratumCol), durationCol, eventCol, xCol, iters)

  /** O'Brien–Fleming-shape boundaries c·√(K/k) for K looks, micro-
    * fixed on the DRIVER (normal-quantile design constants, the q341
    * convention — callers inject the same literals into the oracle).
    * Lan & DeMets 1983 spending shape; c ≈ 2.0401 gives overall
    * two-sided α ≈ 0.05 at K = 5 (O'Brien & Fleming 1979 table). */
  def obfBoundariesMicro(kLooks: Int, c: Double): Seq[Long] = {
    require(kLooks >= 1 && c > 0, s"bad design: K=$kLooks c=$c")
    (1 to kLooks).map(k =>
      math.round(c * math.sqrt(kLooks.toDouble / k) * 1e6))
  }

  /** Pocock constant boundaries (Pocock 1977): the same critical
    * value at every look; c ≈ 2.413 gives overall two-sided α ≈ 0.05
    * at K = 5. */
  def pocockBoundariesMicro(kLooks: Int, c: Double): Seq[Long] = {
    require(kLooks >= 1 && c > 0, s"bad design: K=$kLooks c=$c")
    Seq.fill(kLooks)(math.round(c * 1e6))
  }

  /** GROUP-SEQUENTIAL MONITOR with caller-supplied per-look z
    * boundaries (O'Brien & Fleming 1979 / Pocock 1977 — the
    * industry-standard interim-analysis design next to [[q341]]'s
    * fully-sequential SPRT): replay a two-arm experiment over the
    * day grid, partition the days into K equal-information-ish looks
    * (look = (dayRank−1)·K div nDays + 1 — the [[qiniCurve]] bucket
    * move, no global sort), accumulate per-look arm counts by ONE
    * prefix sum over the K-row look table, read the pooled
    * two-proportion z at each look (the [[twoProportionZ]] spelling
    * over exact cumulative integers, micro-fixed), and compare |z|
    * against the BOUNDARY literals (broadcast K-row directory). The
    * earliest crossed look (stop_look) rides back on every row.
    * Day- then K-bounded past the first aggregate. Output per look:
    * (look, day_end, days, n_a, x_a, n_b, x_b, z_micro, bound_micro,
    * crossed, stop_look). */
  def groupSequential(df: DataFrame, tCol: String, armCol: String,
                      convCol: String,
                      boundariesMicro: Seq[Long]): DataFrame = {
    val kLooks = boundariesMicro.length
    require(kLooks >= 1, "need at least one look boundary")
    val spark = df.sparkSession
    import spark.implicits._
    val bnd = boundariesMicro.zipWithIndex
      .map { case (b, i) => (i + 1L, b) }
      .toDF("look", "bound_micro")
    val daily = df.select(col(tCol).as("_t"),
        col(armCol).cast("boolean").as("_a"),
        col(convCol).cast("boolean").as("_c"))
      .groupBy(col("_t"))
      .agg(sum(when(col("_a"), 1L).otherwise(0L)).as("_na"),
        sum(when(col("_a") && col("_c"), 1L).otherwise(0L)).as("_xa"),
        sum(when(!col("_a"), 1L).otherwise(0L)).as("_nb"),
        sum(when(!col("_a") && col("_c"), 1L).otherwise(0L))
          .as("_xb"))
      .localCheckpoint() // feeds the rank window AND the day total
    val nd = daily.agg(count(lit(1)).as("_nd"))
    val ranked = daily
      .withColumn("_r", row_number().over(Window.orderBy(col("_t")))
        .cast("long"))
      .crossJoin(broadcast(nd))
      .withColumn("look",
        expr(s"((_r - 1L) * ${kLooks}L) div _nd + 1L"))
    val looks = ranked.groupBy(col("look"))
      .agg(max(col("_t")).as("day_end"), count(lit(1)).as("days"),
        sum(col("_na")).as("_lna"), sum(col("_xa")).as("_lxa"),
        sum(col("_nb")).as("_lnb"), sum(col("_xb")).as("_lxb"))
    val w = Window.orderBy(col("look"))
      .rowsBetween(Window.unboundedPreceding, 0) // K-bounded window
    val cum = looks
      .withColumn("n_a", sum(col("_lna")).over(w))
      .withColumn("x_a", sum(col("_lxa")).over(w))
      .withColumn("n_b", sum(col("_lnb")).over(w))
      .withColumn("x_b", sum(col("_lxb")).over(w))
      .join(broadcast(bnd), Seq("look"))
      .withColumn("z_micro",
        when(col("n_a") > 0 && col("n_b") > 0 &&
            col("x_a") + col("x_b") > 0 &&
            col("x_a") + col("x_b") < col("n_a") + col("n_b"),
          round((col("x_a").cast("double") / col("n_a") -
            col("x_b").cast("double") / col("n_b")) /
            sqrt(((col("x_a") + col("x_b")).cast("double") /
              (col("n_a") + col("n_b"))) *
              (lit(1.0) - (col("x_a") + col("x_b")).cast("double") /
                (col("n_a") + col("n_b"))) *
              (lit(1.0) / col("n_a") + lit(1.0) / col("n_b"))) * 1e6)
            .cast("long")))
      .withColumn("crossed",
        when(col("z_micro").isNotNull &&
          abs(col("z_micro")) >= col("bound_micro"), true)
          .otherwise(false))
      .localCheckpoint() // feeds the stop scan AND the output
    val stop = cum.agg(
      min(when(col("crossed"), col("look"))).as("stop_look"))
    cum.crossJoin(broadcast(stop))
      .select(col("look"), col("day_end"), col("days"),
        col("n_a"), col("x_a"), col("n_b"), col("x_b"),
        col("z_micro"), col("bound_micro"), col("crossed"),
        col("stop_look"))
  }

  /** F1-OPTIMAL DECISION THRESHOLD sweep (the operating-point
    * selection run after calibration — [[isotonicPav]]/q221-class
    * scores need a cut before they gate anything): for every distinct
    * integer score level t, the confusion counts of the rule
    * "predict positive ⟺ score ≥ t" via ONE suffix window over the
    * score LEVEL table (the [[rocAuc]] shape — never a per-row scan
    * per threshold), then precision/recall/F1 as EXACT integer ppm —
    * x·10⁶ div total, truncating on non-negative operands, so both
    * engines land identical integers with no float anywhere. The best
    * row pins to (f1 DESC, thr ASC).
    *
    * SCALE: everything past the first aggregate is score-LEVEL
    * bounded; the sweep windows order ≤ |levels| rows. Degenerate
    * denominators (no predicted positives / no actual positives)
    * yield null ppm (the qini null-on-degenerate convention). Bound:
    * the ppm numerators compute 2·tp·10⁶ in long, so row counts must
    * stay < 4.6·10¹² — ANSI errors loudly beyond. Output:
    * (thr, n_pos, n_neg, tp, fp, fn, prec_ppm, rec_ppm, f1_ppm,
    * is_best). */
  def f1Threshold(df: DataFrame, scoreCol: String,
                  labelCol: String): DataFrame = {
    val lv = df.select(col(scoreCol).cast("long").as("thr"),
        col(labelCol).cast("boolean").as("_y"))
      .groupBy(col("thr"))
      .agg(sum(when(col("_y"), 1L).otherwise(0L)).as("n_pos"),
        sum(when(col("_y"), 0L).otherwise(1L)).as("n_neg"))
      .localCheckpoint() // level-bounded; feeds totals AND the sweep
    val totals = lv.agg(sum(col("n_pos")).as("_p"))
    val wSuf = Window.orderBy(col("thr").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sweep = lv
      .withColumn("tp", sum(col("n_pos")).over(wSuf))
      .withColumn("fp", sum(col("n_neg")).over(wSuf))
      .crossJoin(broadcast(totals))
      .withColumn("fn", col("_p") - col("tp"))
      .withColumn("prec_ppm", when(col("tp") + col("fp") > 0,
        expr("tp * 1000000L div (tp + fp)")))
      .withColumn("rec_ppm", when(col("tp") + col("fn") > 0,
        expr("tp * 1000000L div (tp + fn)")))
      .withColumn("f1_ppm",
        when(lit(2L) * col("tp") + col("fp") + col("fn") > 0,
          expr("2L * tp * 1000000L div (2L * tp + fp + fn)")))
    sweep
      .withColumn("is_best", row_number().over(
        Window.orderBy(col("f1_ppm").desc_nulls_last,
          col("thr"))) === 1)
      .select(col("thr"), col("n_pos"), col("n_neg"), col("tp"),
        col("fp"), col("fn"), col("prec_ppm"), col("rec_ppm"),
        col("f1_ppm"), col("is_best"))
  }

  /** One-feature sibling of [[logisticMuFrame]] (z = β₀ + β₁x —
    * the Platt-scaling link): the same exact-integer micro z,
    * nano-fixed sigmoid, and exact-integer-division micro weight. */
  private def logistic1MuFrame(base: DataFrame,
                               beta: DataFrame): DataFrame =
    base.crossJoin(broadcast(beta))
      .withColumn("_zm", col("b0_micro") + col("_x1") * col("b1_micro"))
      .withColumn("_mu", round(lit(1e9) / (lit(1.0) +
        exp(-(col("_zm").cast("double") / lit(1e6))))).cast("long"))
      .withColumn("_w",
        expr("(_mu * (1000000000L - _mu)) div 1000000000000L"))

  /** One-feature sibling of [[logisticNewton]]: `base` is the
    * [[levelled]] collapse carrying (_x1, _y ∈ {0,1}, _c); the 2×2
    * weighted Gram + nano score aggregate and the 2×2 Cramer solve
    * replace the 3×3 block, the micro β re-fix and the dA = 0
    * freeze are identical. */
  private def logistic1Newton(base: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    var beta = base.sparkSession
      .createDataFrame(Seq(Tuple2(0L, 0L)))
      .toDF("b0_micro", "b1_micro")
    for (_ <- 1 to iters) {
      val a = logistic1MuFrame(base, beta).agg(
        sum(col("_c") * col("_w")).as("a00"),
        sum(col("_c") * col("_w") * col("_x1")).as("a01"),
        sum(col("_c") * col("_w") * col("_x1") * col("_x1")).as("a11"),
        sum(col("_c") * (col("_y") * lit(1000000000L) - col("_mu")))
          .as("s0"),
        sum(col("_c") * (col("_y") * lit(1000000000L) - col("_mu")) *
          col("_x1")).as("s1"))
      def d(c: String): Column = col(c).cast("double")
      val dA = d("a00") * d("a11") - d("a01") * d("a01")
      val d0 = d("s0") * d("a11") - d("a01") * d("s1")
      val d1 = d("a00") * d("s1") - d("s0") * d("a01")
      beta = a.crossJoin(broadcast(beta))
        .select(
          when(dA =!= 0.0, col("b0_micro") +
            round(lit(1e3) * d0 / dA).cast("long"))
            .otherwise(col("b0_micro")).as("b0_micro"),
          when(dA =!= 0.0, col("b1_micro") +
            round(lit(1e3) * d1 / dA).cast("long"))
            .otherwise(col("b1_micro")).as("b1_micro"))
        .localCheckpoint()
    }
    beta
  }

  /** PLATT SCALING (Platt 1999 — the parametric calibration sibling
    * of [[isotonicPav]]: p = σ(β₀ + β₁·score) fit by the SAME
    * fixed-iteration IRLS machinery as [[logisticIrls]], one feature
    * + intercept via [[logistic1Newton]]). After `iters` steps one
    * more scoring pass reads out calibration: Σp in exact nano
    * (at the optimum with an intercept Σp = Σy — the gap measures
    * convergence) and the Brier score as exact integer micro per row
    * ((μ − y·10⁹)² div 10¹² — non-negative, so div == //), summed
    * then divided by n.
    *
    * Exactness bounds: w_micro ≤ 250000 ⇒ the Gram needs
    * Σ|x²| < 3.7·10¹³ and the score sum Σ|x| < 9.2·10⁹ — rescale
    * scores to small integer ranges first (the [[logisticIrls]]
    * rule). SCALE: iters+1 map-side-combinable aggregate passes, β
    * on a broadcast 1-row frame, no driver math. Output 1 row:
    * (n, b0_micro, b1_micro, sum_y, sum_p_nano, brier_micro). */
  def plattScale(df: DataFrame, scoreCol: String, yCol: String,
                 iters: Int): DataFrame = {
    // ONE data scan total (the level collapse — exact, [[levelled]])
    val base = levelled(df.select(col(scoreCol).cast("long").as("_x1"),
        when(col(yCol).cast("boolean"), 1L).otherwise(0L).as("_y")))
      .localCheckpoint() // feeds every Newton step AND the readout
    val beta = logistic1Newton(base, iters)
    logistic1MuFrame(base, beta)
      .agg(coalesce(sum(col("_c")), lit(0L)).as("n"),
        sum(col("_c") * col("_y")).as("sum_y"),
        sum(col("_c") * col("_mu")).as("sum_p_nano"),
        sum(col("_c") * expr("((_mu - _y * 1000000000L) * " +
          "(_mu - _y * 1000000000L)) div 1000000000000L"))
          .as("_bs"))
      .crossJoin(broadcast(beta))
      .select(col("n"), col("b0_micro"), col("b1_micro"),
        col("sum_y"), col("sum_p_nano"),
        when(col("n") > 0, expr("_bs div n")).as("brier_micro"))
  }

  /** RELIABILITY DIAGRAM + EXPECTED CALIBRATION ERROR over the
    * Platt-calibrated probabilities (Naeini et al. 2015's ECE over
    * Platt 1999's link — the calibration AUDIT completing the
    * q321/q378 fit pair: fitting a calibrator and then measuring
    * how calibrated the result actually is are different
    * statements): the [[plattScale]] Newton chain fits β, every row
    * scores to a nano μ, rows bucket into `bins` equal-width
    * probability bins (bin = min(bins−1, μ·bins div 10⁹)), and the
    * whole readout is EXACT integers — per bin the confidence
    * conf_ppm = Σμ_nano div (n_b·10³), the accuracy acc_ppm =
    * o_b·10⁶ div n_b, the gap |conf − acc|, and the headline
    * ECE = Σ_b n_b/N·|p̄_b − ō_b| collapsing to
    * (Σ_b |Σμ_nano − o_b·10⁹|) div (N·10³) micro — no float beyond
    * the σ fixes the chain already pins. Empty bins simply don't
    * appear (the diagram convention).
    *
    * SCALE: iters+1 fused aggregates for the fit + ONE bin
    * aggregate (bin-domain bounded past it); β broadcast. Output
    * per occupied bin: (bin, n_b, o_b, conf_ppm, acc_ppm, gap_ppm,
    * n, ece_micro). */
  def calibrationEce(df: DataFrame, scoreCol: String, yCol: String,
                     iters: Int, bins: Int): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(bins >= 1, s"bins must be >= 1, got $bins")
    // ONE data scan total (the level collapse — exact, [[levelled]])
    val base = levelled(df.select(col(scoreCol).cast("long").as("_x1"),
        when(col(yCol).cast("boolean"), 1L).otherwise(0L).as("_y")))
      .localCheckpoint() // feeds every Newton step AND the binning
    val beta = logistic1Newton(base, iters)
    val lv = logistic1MuFrame(base, beta)
      .groupBy(expr(s"least(${bins - 1}L, " +
        s"(_mu * $bins) div 1000000000L)").as("bin"))
      .agg(sum(col("_c")).as("n_b"),
        sum(col("_c") * col("_y")).as("o_b"),
        sum(col("_c") * col("_mu")).as("_smu"))
      .localCheckpoint() // bin-domain bounded; feeds rows AND ECE
    val tot = lv.agg(sum(col("n_b")).as("n"),
      sum(abs(col("_smu") - col("o_b") * lit(1000000000L)))
        .as("_gap"))
    lv.crossJoin(broadcast(tot))
      .select(col("bin"), col("n_b"), col("o_b"),
        expr("_smu div (n_b * 1000L)").as("conf_ppm"),
        expr("(o_b * 1000000L) div n_b").as("acc_ppm"),
        abs(expr("_smu div (n_b * 1000L)") -
          expr("(o_b * 1000000L) div n_b")).as("gap_ppm"),
        col("n"),
        expr("_gap div (n * 1000L)").as("ece_micro"))
  }

  /** BRIER SCORE DECOMPOSITION (Murphy 1973 — reliability /
    * resolution / uncertainty, the classic companion of
    * [[calibrationEce]]'s diagram: ECE reads the calibration GAP,
    * the decomposition says how much skill remains after paying
    * it): over the [[plattScale]]-calibrated probabilities grouped
    * by DISTINCT μ LEVEL (level-bounded — μ is a function of the
    * bounded score domain; level grouping makes Murphy's identity
    * brier = reliability − resolution + uncertainty EXACT up to
    * the per-level micro fixes, where binning would leave a
    * within-bin variance remainder):
    *   reliability = Σ_l n_l(μ_l − ō_l)²/N   (calibration penalty)
    *   resolution  = Σ_l n_l(ō_l − ō)²/N     (earned discrimination)
    *   uncertainty = ō(1 − ō)                (the fixture's floor)
    * Each level term runs in doubles over exact integers (identical
    * operands and spelling — the q195 parity rule) and fixes to
    * micro BEFORE the order-free sum; the raw Brier re-reads
    * row-level by [[plattScale]]'s exact-integer spelling.
    *
    * SCALE: the fit's iters aggregates + one level aggregate + one
    * row-level readout pass; everything past the aggregates is
    * μ-level bounded. Output 1 row: (n, n_levels, brier_micro,
    * reliability_micro, resolution_micro, uncertainty_micro). */
  def brierDecomposition(df: DataFrame, scoreCol: String,
                         yCol: String, iters: Int): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    // ONE data scan total (the level collapse — exact, [[levelled]])
    val base = levelled(df.select(col(scoreCol).cast("long").as("_x1"),
        when(col(yCol).cast("boolean"), 1L).otherwise(0L).as("_y")))
      .localCheckpoint() // feeds the fit, the levels, the readout
    val beta = logistic1Newton(base, iters)
    val mf = logistic1MuFrame(base, beta)
    val lv = mf.groupBy(col("_mu"))
      .agg(sum(col("_c")).as("_nl"),
        sum(col("_c") * col("_y")).as("_ol"))
      .localCheckpoint() // mu-level bounded; feeds terms AND totals
    val tot = lv.agg(sum(col("_nl")).as("n"), sum(col("_ol")).as("_o"),
      count(lit(1)).as("n_levels"))
    def dd(c: String): Column = col(c).cast("double")
    val pl = dd("_mu") / lit(1e9)
    val obl = dd("_ol") / dd("_nl")
    val obg = dd("_o") / dd("n")
    val terms = lv.crossJoin(broadcast(tot))
      .select(col("n"), col("_o"), col("n_levels"),
        round(dd("_nl") * (pl - obl) * (pl - obl) / dd("n") * 1e6)
          .cast("long").as("_trel"),
        round(dd("_nl") * (obl - obg) * (obl - obg) / dd("n") * 1e6)
          .cast("long").as("_tres"))
      .groupBy(col("n"), col("_o"), col("n_levels"))
      .agg(sum(col("_trel")).as("reliability_micro"),
        sum(col("_tres")).as("resolution_micro"))
    val brier = mf.agg(
      sum(col("_c") * expr("((_mu - _y * 1000000000L) * " +
        "(_mu - _y * 1000000000L)) div 1000000000000L")).as("_bs"))
    terms.crossJoin(broadcast(brier))
      .select(col("n"), col("n_levels"),
        when(col("n") > 0, expr("_bs div n")).as("brier_micro"),
        col("reliability_micro"), col("resolution_micro"),
        when(col("n") > 0, round(dd("_o") / dd("n") *
          (lit(1.0) - dd("_o") / dd("n")) * 1e6).cast("long"))
          .as("uncertainty_micro"))
  }

  /** K-CLASS CLASSIFICATION by ONE-VS-REST logistic composition
    * (Rifkin & Klautau 2004's in-defense-of-OvR baseline over the
    * [[logisticIrls]] machinery — the reference task's actual shape:
    * its Label is 3-class): one independent fixed-iteration
    * [[logisticNewton]] fit per label k on y = (label = k), then a
    * single scoring pass computes every class margin
    * z_k = β₀ᵏ + β₁ᵏx₁ + β₂ᵏx₂ as an EXACT integer micro (the
    * monotone σ never reorders margins, so argmax z = argmax p — no
    * float enters the decision), with ties pinned to the EARLIEST
    * label in `labels`. Reads out the (label, pred) confusion table
    * plus the exact-integer accuracy ppm (the q270 report shape).
    *
    * `labels` are driver literals (the boundary-directory
    * convention) — rows whose label is outside the list still score
    * and appear in the confusion table under their own label value.
    *
    * SCALE: `iters` FUSED map-side-combinable aggregates over the
    * ONE checkpointed base — every class's 3×3 Gram + score rides
    * the same pass (K×9 sums per step; K separate fits would pay
    * K·iters scans), the K β triples on one broadcast 1-row frame;
    * scoring is one more pass; the confusion table is label-domain
    * bounded. Exactness bounds are [[logisticIrls]]'s per fit.
    * Output K²-ish rows:
    * (label, pred, cnt, n, correct, acc_ppm). */
  def logisticOvr(df: DataFrame, x1Col: String, x2Col: String,
                  labelCol: String, labels: Seq[Long],
                  iters: Int): DataFrame = {
    require(labels.size >= 2, s"need >= 2 labels, got ${labels.size}")
    require(labels.distinct == labels, "labels must be distinct")
    // argument validation BEFORE the checkpoint — the checkpoint is
    // a real Spark job, and a bad `iters` must fail before cluster
    // work is spent (round-16 advice)
    require(iters >= 1, s"iters must be >= 1, got $iters")
    // ONE data scan total (round-18): the exact level collapse
    // ([[levelled]]) replaces the raw-row checkpoint — the fused
    // Newton steps AND the scoring readout run over the
    // feature-domain-bounded level table, weighted by _c
    val base = levelled(df.select(col(x1Col).cast("long").as("_x1"),
        col(x2Col).cast("long").as("_x2"),
        col(labelCol).cast("long").as("_lab")))
      .localCheckpoint() // feeds every fused Newton step AND scoring
    // FUSED Newton steps (round-16 gate finding: K separate fits
    // cost K·iters sequential scans — 7.0 s at the gate; since every
    // class's Gram aggregate reads the SAME base, one pass computes
    // all K of them): the K β triples ride ONE broadcast 1-row
    // frame, each step is ONE map-side-combinable aggregate of the
    // K×9 sums, and the K Cramer solves are one projection. The
    // per-class arithmetic is IDENTICAL to K independent
    // [[logisticNewton]] runs (same μ/w/Gram/score/solve spelling),
    // so the per-class oracle chains still hash-match.
    val betas = ovrBetaWide(base, labels, iters)
    val scored = base.crossJoin(broadcast(betas))
    val zs = labels.indices.map(i => wideZ(s"_$i"))
    ovrConfReadout(scored.withColumn("_pred",
      ovrPredCol(labels, zs)), sum(col("_c")))
  }

  /** The FUSED one-vs-rest Newton loop shared by [[logisticOvr]] and
    * [[logisticOvrBetas]]: `base` must be the [[levelled]] collapse
    * carrying (_x1, _x2, _lab, _c) long columns (checkpointed by the
    * caller — every step scans it, and it is feature-domain bounded).
    * Returns the WIDE 1-row β frame (b0_micro_i, b1_micro_i,
    * b2_micro_i per class index i), each step ONE
    * map-side-combinable aggregate of the K×9 sums and one K-fold
    * Cramer projection — [[newtonLoop]] with the logistic
    * projection per class. */
  private def ovrBetaWide(base: DataFrame, labels: Seq[Long],
                          iters: Int): DataFrame = {
    val fits = labels.indices.map(i => s"_$i")
    def muFrame(b: DataFrame, beta: DataFrame): DataFrame =
      labels.indices.foldLeft(b.crossJoin(broadcast(beta))) { (m, i) =>
        m.withColumn(s"_zm$i", wideZ(s"_$i"))
          .withColumn(s"_mu_$i", round(lit(1e9) / (lit(1.0) +
            exp(-(col(s"_zm$i").cast("double") / lit(1e6)))))
            .cast("long"))
          .withColumn(s"_w_$i",
            expr(s"(_mu_$i * (1000000000L - _mu_$i)) " +
              "div 1000000000000L"))
          .withColumn(s"_sc_$i",
            when(col("_lab") === labels(i), 1L).otherwise(0L) *
              lit(1000000000L) - col(s"_mu_$i"))
      }
    newtonLoop(base, iters, muFrame, zeroBeta(base, fits), fits)
  }

  /** Fit k's exact integer micro margin z = β₀ + β₁x₁ + β₂x₂ over a
    * wide β frame's (b0_micro<k>, b1_micro<k>, b2_micro<k>). */
  private def wideZ(k: String): Column = col(s"b0_micro$k") +
    col("_x1") * col(s"b1_micro$k") + col("_x2") * col(s"b2_micro$k")

  /** First-max argmax over exact integer margins: label i wins iff
    * z_i >= every LATER margin (chained when ⇒ ties to the earliest
    * label — the pinned rule the oracles mirror). Shared by the
    * fit-side scoring and the artifact-side [[ovrPredExpr]]. */
  private def ovrPredCol(labels: Seq[Long],
                         zs: Seq[Column]): Column =
    labels.indices.init.foldRight(
      lit(labels.last): Column) { (i, rest) =>
      val isMax = (i + 1 until labels.size)
        .map(j => zs(i) >= zs(j)).reduce(_ && _)
      when(isMax, lit(labels(i))).otherwise(rest)
    }

  /** The confusion + accuracy readout shared by [[logisticOvr]],
    * [[softmaxGlm]]'s shape and [[ovrScoreConfusion]]: expects
    * (_lab, _pred) columns; label-domain bounded past the one
    * aggregate. `cnt` is count(1) on raw-row frames and sum(_c) on
    * [[levelled]] frames — identical totals by the collapse
    * identity. Output: (label, pred, cnt, n, correct, acc_ppm). */
  private def ovrConfReadout(scored: DataFrame,
                             cnt: Column = count(lit(1))): DataFrame = {
    val conf = scored
      .groupBy(col("_lab").as("label"), col("_pred").as("pred"))
      .agg(cnt.as("cnt"))
      .localCheckpoint() // label-domain bounded; feeds table AND acc
    val acc = conf.agg(sum(col("cnt")).as("n"),
      sum(when(col("label") === col("pred"), col("cnt"))
        .otherwise(0L)).as("correct"))
    conf.crossJoin(broadcast(acc))
      .select(col("label"), col("pred"), col("cnt"), col("n"),
        col("correct"),
        when(col("n") > 0, expr("(correct * 1000000L) div n"))
          .as("acc_ppm"))
  }

  /** The one-vs-rest fit as a K-ROW β ARTIFACT (label, b0_micro,
    * b1_micro, b2_micro) — the "fit once, ship the artifact" face of
    * [[logisticOvr]] (round-16 verdict task 1: the deterministic
    * integer β is what makes the batch-fit → persist → stream-score
    * loop ORACLED end to end, where MLlib training is only
    * property-checkable). Identical fused Newton arithmetic —
    * scoring any frame with these rows via [[ovrPredExpr]] replays
    * [[logisticOvr]]'s predictions bit for bit.
    *
    * SCALE: `iters` fused aggregates over the one checkpointed base;
    * the output is K rows of driver-literal-sized integers — the
    * [[graft.ops.FitArtifacts]] persistence shape. */
  def logisticOvrBetas(df: DataFrame, x1Col: String, x2Col: String,
                       labelCol: String, labels: Seq[Long],
                       iters: Int): DataFrame = {
    require(labels.size >= 2, s"need >= 2 labels, got ${labels.size}")
    require(labels.distinct == labels, "labels must be distinct")
    require(iters >= 1, s"iters must be >= 1, got $iters")
    // ONE data scan total (the level collapse — exact, [[levelled]])
    val base = levelled(df.select(col(x1Col).cast("long").as("_x1"),
        col(x2Col).cast("long").as("_x2"),
        col(labelCol).cast("long").as("_lab")))
      .localCheckpoint() // feeds every fused Newton step
    ovrBetaWide(base, labels, iters)
      .select(expr(s"stack(${labels.size}, " +
        labels.indices.map(i =>
          s"${labels(i)}L, b0_micro_$i, b1_micro_$i, b2_micro_$i")
          .mkString(", ") +
        ") as (label, b0_micro, b1_micro, b2_micro)"))
  }

  /** Score with a FITTED β artifact (driver literals — K×3 longs,
    * the boundary-directory convention): the exact integer margin
    * z_k = β₀ᵏ + β₁ᵏx₁ + β₂ᵏx₂ and the first-max argmax compile to
    * one codegen'd projection — STREAMING-SAFE (stateless, no join),
    * the scoring expression a stream-static deployment broadcasts.
    * `betas` must align with `labels` positionally. */
  def ovrPredExpr(x1: Column, x2: Column, labels: Seq[Long],
                  betas: Seq[(Long, Long, Long)]): Column = {
    require(betas.size == labels.size,
      s"betas size ${betas.size} != labels size ${labels.size}")
    val zs = betas.map { case (b0, b1, b2) =>
      lit(b0) + x1 * lit(b1) + x2 * lit(b2) }
    ovrPredCol(labels, zs)
  }

  /** BATCH TWIN of the artifact-scored stream: the [[logisticOvr]]
    * confusion readout computed from a PERSISTED/MEMOIZED β instead
    * of an in-plan fit — ONE scan (the 100 TB serving shape: the
    * iters fit scans are paid once, every downstream consumer pays
    * scoring only). Bit-identical to [[logisticOvr]]'s readout when
    * `betas` came from the same data/labels/iters. */
  def ovrScoreConfusion(df: DataFrame, x1Col: String, x2Col: String,
                        labelCol: String, labels: Seq[Long],
                        betas: Seq[(Long, Long, Long)]): DataFrame = {
    require(labels.size >= 2, s"need >= 2 labels, got ${labels.size}")
    require(labels.distinct == labels, "labels must be distinct")
    val scored = df.select(col(x1Col).cast("long").as("_x1"),
        col(x2Col).cast("long").as("_x2"),
        col(labelCol).cast("long").as("_lab"))
      .withColumn("_pred",
        ovrPredExpr(col("_x1"), col("_x2"), labels, betas))
    ovrConfReadout(scored)
  }

  /** d-COVARIATE ONE-VS-REST NEWTON FIT (round-17 verdict task 1 —
    * the oracled ladder on the reference's ACTUAL shape: its
    * notebook assembles a 78-feature vector (modelling.py:95-98),
    * while [[logisticOvrBetas]] fits exactly (x1, x2); this op
    * fits ANY fixed feature list): the per-row arithmetic is
    * [[logisticNewton]]'s verbatim — exact integer micro margin
    * z = β₀ + Σβ_jx_j, nano sigmoid, exact-division micro weight —
    * but the per-step solve is a (d+1)-unknown Gaussian elimination
    * instead of a 3×3 Cramer expansion (whose cofactor count grows
    * factorially): the K×(d+1)(d+2)/2 Gram and K×(d+1) score sums
    * ride ONE fused map-side-combinable aggregate per step (the
    * [[logisticOvr]] fuse at general d), ONE bounded row is
    * collected, and [[LinAlg.gaussSolve]] runs the straight-line
    * no-pivot elimination on the driver — the
    * treeAggregate-then-driver-solve shape distributed ML training
    * uses, with every double op spelled identically in the DuckDB
    * twin so the β trajectory hash-replays. A degenerate step
    * (singular/poisoned solve, or an EMPTY frame nulling the sums)
    * freezes that class's β — the [[logisticNewton]] dA = 0
    * convention generalized (both engines read "every unknown
    * finite").
    *
    * EXACTNESS: Gram terms w·x_r·x_c ≤ 2.5·10⁵·x², so rows·x² must
    * stay < 2⁶³/2.5·10⁵ ≈ 3.7·10¹³ — bounded-magnitude recoded
    * features (the fixture convention) carry billions of rows.
    * SCALE: `iters` fused scans over the ONE checkpointed base +
    * O(K·d²) longs collected per step (S6-bounded); output is the
    * K×(d+1) β ARTIFACT as driver literals — the
    * [[graft.ops.FitArtifacts]] persistence shape. Returns
    * betas(i)(j) = β_j of labels(i), micro. */
  def logisticOvrBetasD(df: DataFrame, xCols: Seq[String],
                        labelCol: String, labels: Seq[Long],
                        iters: Int): Array[Array[Long]] = {
    require(xCols.nonEmpty, "need at least one covariate column")
    require(xCols.distinct == xCols, "covariate columns must be distinct")
    require(labels.size >= 2, s"need >= 2 labels, got ${labels.size}")
    require(labels.distinct == labels, "labels must be distinct")
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val d = xCols.size
    val n = d + 1
    val base = df.select(xCols.zipWithIndex.map { case (c, j) =>
        col(c).cast("long").as(s"_x${j + 1}") } :+
        col(labelCol).cast("long").as("_lab"): _*)
      .localCheckpoint() // feeds every fused Newton step
    val betas = Array.fill(labels.size, n)(0L)
    // x_0 is the intercept's implicit 1 — omitted from products so
    // the Spark and SQL spellings stay the sum(w), sum(w*x) forms
    def xv(j: Int): Column = col(s"_x$j")
    def gram(i: Int, r: Int, c: Int): Column = {
      val w = col(s"_w$i")
      val p = if (r == 0 && c == 0) w
        else if (r == 0) w * xv(c) else w * xv(r) * xv(c)
      sum(p).as(s"a_${i}_${r}_$c")
    }
    def score(i: Int, r: Int): Column = {
      val sc = col(s"_sc$i")
      sum(if (r == 0) sc else sc * xv(r)).as(s"s_${i}_$r")
    }
    for (_ <- 1 to iters) {
      var m = base
      labels.indices.foreach { i =>
        val z = (1 to d).foldLeft(lit(betas(i)(0)): Column) {
          (acc, j) => acc + xv(j) * lit(betas(i)(j)) }
        m = m.withColumn(s"_mu$i", round(lit(1e9) / (lit(1.0) +
            exp(-(z.cast("double") / lit(1e6))))).cast("long"))
          .withColumn(s"_w$i",
            expr(s"(_mu$i * (1000000000L - _mu$i)) " +
              "div 1000000000000L"))
          .withColumn(s"_sc$i",
            when(col("_lab") === labels(i), lit(1000000000L))
              .otherwise(lit(0L)) - col(s"_mu$i"))
      }
      val aggs = labels.indices.flatMap { i =>
        (for (r <- 0 until n; c <- r until n) yield gram(i, r, c)) ++
          (0 until n).map(r => score(i, r))
      }
      val row = m.agg(aggs.head, aggs.tail: _*).head()
      if (!(0 until row.length).exists(row.isNullAt)) {
        var idx = 0
        labels.indices.foreach { i =>
          val a = Array.ofDim[Double](n, n)
          for (r <- 0 until n; c <- r until n) {
            a(r)(c) = row.getLong(idx).toDouble
            a(c)(r) = a(r)(c)
            idx += 1
          }
          val s = Array.tabulate(n) { r =>
            val v = row.getLong(idx).toDouble; idx += 1; v }
          val x = LinAlg.gaussSolve(a, s)
          if (LinAlg.allFinite(x))
            (0 until n).foreach(j =>
              betas(i)(j) += LinAlg.rnd(1e3 * x(j)))
        }
      } // NULL sums (empty frame) freeze every class, like the oracle
    }
    betas
  }

  /** The [[logisticOvrBetasD]] artifact as a TIDY frame — one row
    * per (label, coefficient index): (label, j, b_micro), j = 0 the
    * intercept. The d-generic persistence/oracle shape (a WIDE
    * schema would vary with d). */
  def ovrBetasDFrame(spark: SparkSession, labels: Seq[Long],
                     betas: Array[Array[Long]]): DataFrame = {
    import spark.implicits._
    require(betas.length == labels.size,
      s"betas rows ${betas.length} != labels size ${labels.size}")
    labels.indices.flatMap(i => betas(i).indices.map(j =>
      (labels(i), j.toLong, betas(i)(j)))).toSeq
      .toDF("label", "j", "b_micro")
  }

  /** Score with a fitted d-covariate β artifact as driver literals
    * (the [[ovrPredExpr]] shape at general d): exact integer
    * margins z_k = β₀ᵏ + Σ_j β_jᵏ·x_j and the first-max argmax
    * compile to ONE codegen'd stateless projection —
    * STREAMING-SAFE, no join, no state. `betas(i)` must be the
    * (d+1) micro coefficients of labels(i), intercept first. */
  def ovrPredExprD(xs: Seq[Column], labels: Seq[Long],
                   betas: Seq[Seq[Long]]): Column = {
    require(betas.size == labels.size,
      s"betas size ${betas.size} != labels size ${labels.size}")
    require(betas.forall(_.size == xs.size + 1),
      s"every beta row must have ${xs.size + 1} coefficients")
    val zs = betas.map { b =>
      xs.zipWithIndex.foldLeft(lit(b.head): Column) {
        case (acc, (x, j)) => acc + x * lit(b(j + 1)) } }
    ovrPredCol(labels, zs)
  }

  /** BATCH TWIN of the d-covariate artifact-scored stream:
    * [[ovrScoreConfusion]] at general d — the confusion + acc_ppm
    * readout from a PERSISTED/MEMOIZED β, ONE scan. */
  def ovrScoreConfusionD(df: DataFrame, xCols: Seq[String],
                         labelCol: String, labels: Seq[Long],
                         betas: Seq[Seq[Long]]): DataFrame = {
    require(labels.size >= 2, s"need >= 2 labels, got ${labels.size}")
    require(labels.distinct == labels, "labels must be distinct")
    val scored = df.select(xCols.zipWithIndex.map { case (c, j) =>
        col(c).cast("long").as(s"_x${j + 1}") } :+
        col(labelCol).cast("long").as("_lab"): _*)
      .withColumn("_pred", ovrPredExprD(
        xCols.indices.map(j => col(s"_x${j + 1}")), labels, betas))
    ovrConfReadout(scored)
  }

  /** MULTINOMIAL (SOFTMAX) LOGISTIC CLASSIFICATION by block-diagonal
    * quasi-Newton (the JOINT K-class model next to [[logisticOvr]]'s
    * K independent fits — the probabilities now sum to 1 by
    * construction; Böhning 1992's block lower-bound lineage, the
    * standard per-class-block approximation of the full multinomial
    * Hessian): labels(0) is the REFERENCE class (β₀ ≡ 0, the
    * identifiability pin), and each step updates every non-reference
    * class from ONE fused map-side-combinable aggregate —
    * z_k exact integer micro, the softmax computed with the
    * deterministic max-shift (zmax = greatest over exact ints, each
    * e_k = exp((z_k−zmax)/10⁶) ≤ 1, denominator the fixed-order sum
    * ⇒ NO overflow path exists), p_k nano-fixed per row, the IRLS
    * block weight w_k = p_k(10⁹−p_k) div 10¹² by exact division, and
    * the per-class 3×3 Cramer solve ([[logisticNewton]]'s spelling).
    * Saturated rows degrade gracefully (w → 0; an all-saturated
    * class freezes on dA = 0). Readout: argmax z (z_ref = 0 exact,
    * ties to the earliest label) → confusion + acc ppm, the q373
    * shape — OvR and softmax read the same question side by side.
    *
    * SCALE: `iters` fused aggregates + one scoring pass over the ONE
    * checkpointed base; β rides a broadcast 1-row frame; the
    * confusion table is label-domain bounded. Exactness bounds as
    * [[logisticIrls]]. Output: (label, pred, cnt, n, correct,
    * acc_ppm). */
  def softmaxGlm(df: DataFrame, x1Col: String, x2Col: String,
                 labelCol: String, labels: Seq[Long],
                 iters: Int): DataFrame = {
    require(labels.size >= 2, s"need >= 2 labels, got ${labels.size}")
    require(labels.distinct == labels, "labels must be distinct")
    require(iters >= 1, s"iters must be >= 1, got $iters")
    // ONE data scan total (the level collapse — exact, [[levelled]])
    val base = levelled(df.select(col(x1Col).cast("long").as("_x1"),
        col(x2Col).cast("long").as("_x2"),
        col(labelCol).cast("long").as("_lab")))
      .localCheckpoint() // feeds every fused step AND the scoring
    val ks = 1 until labels.size // non-reference classes
    val betas = softmaxBetaWide(base, labels, iters)
    // argmax over (z_ref = 0, z_1..z_{K-1}) exact integers, ties to
    // the earliest label — identical rule to [[logisticOvr]]
    var scored = base.crossJoin(broadcast(betas))
    ks.foreach(i => scored = scored.withColumn(s"_z$i", wideZ(s"_$i")))
    val zs = lit(0L) +: ks.map(i => col(s"_z$i")).toSeq
    ovrConfReadout(scored.withColumn("_pred",
      ovrPredCol(labels, zs)), sum(col("_c")))
  }

  /** The fused block-Newton loop shared by [[softmaxGlm]] and
    * [[softmaxGlmBetas]]: `base` is the [[levelled]] collapse
    * carrying (_x1, _x2, _lab, _c) (checkpointed by the caller —
    * feature-domain bounded). Returns the WIDE 1-row β frame
    * (b0_micro_i/b1_micro_i/b2_micro_i for non-reference class
    * indices 1..K−1) — [[newtonLoop]] with the max-shifted softmax
    * projection. */
  private def softmaxBetaWide(base: DataFrame, labels: Seq[Long],
                              iters: Int): DataFrame = {
    val ks = 1 until labels.size // non-reference classes
    def muFrame(b: DataFrame, beta: DataFrame): DataFrame = {
      var m = b.crossJoin(broadcast(beta))
      ks.foreach(i => m = m.withColumn(s"_z$i", wideZ(s"_$i")))
      m = m.withColumn("_zmx",
        greatest((lit(0L) +: ks.map(i => col(s"_z$i")).toSeq): _*))
      m = m.withColumn("_e0",
        exp((lit(0L) - col("_zmx")).cast("double") / lit(1e6)))
      ks.foreach(i => m = m.withColumn(s"_e$i",
        exp((col(s"_z$i") - col("_zmx")).cast("double") / lit(1e6))))
      m = m.withColumn("_den",
        ks.map(i => col(s"_e$i")).foldLeft(col("_e0"))(_ + _))
      ks.foldLeft(m) { (f, i) =>
        f.withColumn(s"_p$i", round(lit(1e9) * col(s"_e$i") /
            col("_den")).cast("long"))
          .withColumn(s"_w_$i",
            expr(s"(_p$i * (1000000000L - _p$i)) div 1000000000000L"))
          .withColumn(s"_sc_$i",
            when(col("_lab") === labels(i), 1L).otherwise(0L) *
              lit(1000000000L) - col(s"_p$i"))
      }
    }
    val fits = ks.map(i => s"_$i")
    newtonLoop(base, iters, muFrame, zeroBeta(base, fits), fits)
  }

  /** The softmax fit as a (K−1)-ROW β ARTIFACT (label, b0_micro,
    * b1_micro, b2_micro — non-reference classes only; the reference
    * labels(0) is implicitly β ≡ 0, the identifiability pin) — the
    * [[logisticOvrBetas]] shape for the JOINT model. Identical
    * fused arithmetic to [[softmaxGlm]]; scoring any frame with
    * these rows via [[softmaxPredExpr]] replays its predictions bit
    * for bit. */
  def softmaxGlmBetas(df: DataFrame, x1Col: String, x2Col: String,
                      labelCol: String, labels: Seq[Long],
                      iters: Int): DataFrame = {
    require(labels.size >= 2, s"need >= 2 labels, got ${labels.size}")
    require(labels.distinct == labels, "labels must be distinct")
    require(iters >= 1, s"iters must be >= 1, got $iters")
    // ONE data scan total (the level collapse — exact, [[levelled]])
    val base = levelled(df.select(col(x1Col).cast("long").as("_x1"),
        col(x2Col).cast("long").as("_x2"),
        col(labelCol).cast("long").as("_lab")))
      .localCheckpoint() // feeds every fused step
    softmaxBetaWide(base, labels, iters)
      .select(expr(s"stack(${labels.size - 1}, " +
        (1 until labels.size).map(i =>
          s"${labels(i)}L, b0_micro_$i, b1_micro_$i, b2_micro_$i")
          .mkString(", ") +
        ") as (label, b0_micro, b1_micro, b2_micro)"))
  }

  /** Score with a FITTED softmax β artifact (driver literals for
    * the K−1 non-reference classes, aligned with labels(1..); the
    * reference margin is the exact 0): the [[ovrPredExpr]] shape
    * for the joint model — stateless, streaming-safe. */
  def softmaxPredExpr(x1: Column, x2: Column, labels: Seq[Long],
                      betas: Seq[(Long, Long, Long)]): Column = {
    require(betas.size == labels.size - 1,
      s"need ${labels.size - 1} non-reference betas, got ${betas.size}")
    val zs = lit(0L) +: betas.map { case (b0, b1, b2) =>
      lit(b0) + x1 * lit(b1) + x2 * lit(b2) }
    ovrPredCol(labels, zs)
  }

  /** PER-CLASS CONFUSION-MATRIX REPORT (precision/recall/F1 per
    * label from a (label, pred, cnt) confusion table — the
    * multi-class readout composing with [[logisticOvr]], and with
    * any pivoted confusion like q10's): tp from the diagonal, fp/fn
    * from the column/row margins, P/R/F1 as EXACT integer ppm
    * (x·10⁶ div total — the [[f1Threshold]] spelling, null on
    * degenerate denominators). The FULL outer join of the margins
    * keeps classes that are never predicted (fn-only) and phantom
    * predictions (fp-only) visible.
    *
    * SCALE: everything is label-domain bounded (the input is already
    * a confusion AGGREGATE); three margin aggregates + broadcast
    * joins. Output per class: (label, tp, fp, fn, prec_ppm, rec_ppm,
    * f1_ppm). */
  def confusionReport(conf: DataFrame, labelCol: String,
                      predCol: String, cntCol: String): DataFrame = {
    val c = conf.select(col(labelCol).as("_l"), col(predCol).as("_p"),
        col(cntCol).cast("long").as("_c"))
      .localCheckpoint() // label-domain bounded; feeds all 3 margins
    val byLabel = c.groupBy(col("_l").as("label"))
      .agg(sum(col("_c")).as("_row"))
    val byPred = c.groupBy(col("_p").as("label"))
      .agg(sum(col("_c")).as("_col"))
    val diag = c.where(col("_l") === col("_p"))
      .groupBy(col("_l").as("label")).agg(sum(col("_c")).as("_tp"))
    byLabel.join(byPred, Seq("label"), "full")
      .join(diag, Seq("label"), "left")
      .withColumn("tp", coalesce(col("_tp"), lit(0L)))
      .withColumn("fp", coalesce(col("_col"), lit(0L)) - col("tp"))
      .withColumn("fn", coalesce(col("_row"), lit(0L)) - col("tp"))
      .select(col("label"), col("tp"), col("fp"), col("fn"),
        when(col("tp") + col("fp") > 0,
          expr("tp * 1000000L div (tp + fp)")).as("prec_ppm"),
        when(col("tp") + col("fn") > 0,
          expr("tp * 1000000L div (tp + fn)")).as("rec_ppm"),
        when(lit(2L) * col("tp") + col("fp") + col("fn") > 0,
          expr("2L * tp * 1000000L div (2L * tp + fp + fn)"))
          .as("f1_ppm"))
  }

  /** MULTI-CLASS METRIC CAPSTONE over a (label, pred, cnt) confusion
    * table (round-16 verdict task 5 — the single-row summary
    * completing [[confusionReport]]'s per-class view): macro-F1 (the
    * unweighted class mean — each class's F1 an exact integer ppm,
    * 2tp·10⁶ div (rowmargin + colmargin), 0 on an empty class — the
    * sklearn zero-division convention), micro-F1 (≡ accuracy for
    * single-label multi-class: Σfp = Σfn = n − Σtp), Cohen's κ
    * (Cohen 1960) as ONE float divide over exact integers —
    * κ = (n·Σtp − Σ r_k·c_k)/(n² − Σ r_k·c_k) — and the K-category
    * MCC (Gorodkin 2004's R_K) with its two correctly-rounded sqrts
    * over exact integer operands (the q195 parity argument). The
    * class domain is the UNION of observed labels and predictions,
    * so phantom predictions and never-predicted classes both count.
    * Degenerate tables read NULL: κ when pe = 1 (single cell), MCC
    * when either marginal is concentrated on one class.
    *
    * SCALE: the input is already a label-domain-bounded aggregate;
    * three margin aggregates + one K-row summary — driver-free.
    * Exactness: all products ≤ n² < 2⁵³ at any realistic n (n ≤ 9·10⁷
    * rows per fitted table before n² leaves exact-double range —
    * past that, pre-aggregate per shard). Output 1 row: (n,
    * k_classes, micro_f1_ppm, macro_f1_ppm, kappa_ppm, mcc_ppm). */
  def multiclassSummary(conf: DataFrame, labelCol: String,
                        predCol: String, cntCol: String): DataFrame = {
    val c = conf.select(col(labelCol).cast("long").as("_l"),
        col(predCol).cast("long").as("_p"),
        col(cntCol).cast("long").as("_c"))
      .localCheckpoint() // label-domain bounded; feeds all margins
    val classes = c.select(col("_l").as("_k"))
      .union(c.select(col("_p").as("_k"))).distinct()
    val rowm = c.groupBy(col("_l").as("_k"))
      .agg(sum(col("_c")).as("_t"))
    val colm = c.groupBy(col("_p").as("_k"))
      .agg(sum(col("_c")).as("_q"))
    val diag = c.where(col("_l") === col("_p"))
      .groupBy(col("_l").as("_k")).agg(sum(col("_c")).as("_d"))
    val per = classes
      .join(rowm, Seq("_k"), "left").join(colm, Seq("_k"), "left")
      .join(diag, Seq("_k"), "left")
      .select(col("_k"),
        coalesce(col("_t"), lit(0L)).as("_t"),
        coalesce(col("_q"), lit(0L)).as("_q"),
        coalesce(col("_d"), lit(0L)).as("_d"))
      .withColumn("_f1", expr("CASE WHEN _t + _q > 0 THEN " +
        "(2L * _d * 1000000L) div (_t + _q) ELSE 0L END"))
    val agg = per.agg(count(lit(1)).as("k_classes"),
      sum(col("_d")).as("_sd"), sum(col("_t")).as("_st"),
      sum(col("_t") * col("_q")).as("_spt"),
      sum(col("_q") * col("_q")).as("_sqq"),
      sum(col("_t") * col("_t")).as("_stt"),
      sum(col("_f1")).as("_sf1"))
    agg.select(col("_st").as("n"), col("k_classes"),
      when(col("_st") > 0, expr("(_sd * 1000000L) div _st"))
        .as("micro_f1_ppm"),
      when(col("k_classes") > 0, expr("_sf1 div k_classes"))
        .as("macro_f1_ppm"),
      when(col("_st") * col("_st") - col("_spt") =!= 0L,
        round(lit(1e6) *
          (col("_st") * col("_sd") - col("_spt")).cast("double") /
          (col("_st") * col("_st") - col("_spt")).cast("double"))
          .cast("long")).as("kappa_ppm"),
      when(col("_st") * col("_st") - col("_sqq") > 0L &&
          col("_st") * col("_st") - col("_stt") > 0L,
        round(lit(1e6) *
          (col("_st") * col("_sd") - col("_spt")).cast("double") /
          (sqrt((col("_st") * col("_st") - col("_sqq"))
            .cast("double")) *
           sqrt((col("_st") * col("_st") - col("_stt"))
            .cast("double")))).cast("long")).as("mcc_ppm"))
  }

  /** TWO-COVARIATE COX PROPORTIONAL HAZARDS (Cox 1972; the
    * multivariable lift of [[coxPh]] — adjust one hazard ratio for
    * a second covariate, the standard confounder move): the same
    * Breslow partial-likelihood Newton over the DURATION LEVEL
    * table, with the risk-set moments extended to the vector/matrix
    * form — per level the suffix sums give (S0, S1 = (Sa, Sb),
    * S2 = [[Saa, Sab], [Sab, Sbb]]), the score U = Σ_k (s_k −
    * d_k·S1/S0) and information I = Σ_k d_k·(S2/S0 − (S1/S0)⊗²) fix
    * per LEVEL to micro, and the Newton step solves the 2×2 system
    * by the Cramer block ([[logistic1Newton]]'s spelling): β +=
    * round(10⁶·(U_a·I_bb − I_ab·U_b)/dI), dI = I_aa·I_bb − I_ab²,
    * frozen when dI ≤ 0 (degenerate/indefinite information).
    *
    * Exactness bounds ([[coxPh]]'s, per covariate): |β·x| ≤ 21 nats
    * keeps φ in long; Σ x_j·x_k·φ over subjects < 2⁶³ — center/scale
    * covariates to small integer ranges.
    *
    * SCALE: per step ONE subject aggregate + ONE duration-LEVEL
    * suffix window; iters+1 sequential passes, β on a broadcast
    * 1-row frame, no driver math. Output 1 row: (n, events,
    * b1_micro, b2_micro, hr1_micro, hr2_micro, u1_final_micro,
    * u2_final_micro, i11_micro, i12_micro, i22_micro). */
  def coxPh2(df: DataFrame, durationCol: String, eventCol: String,
             x1Col: String, x2Col: String, iters: Int): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val base = df.select(col(durationCol).cast("long").as("_t"),
        col(eventCol).cast("boolean").as("_e"),
        col(x1Col).cast("long").as("_x1"),
        col(x2Col).cast("long").as("_x2"))
      .localCheckpoint() // feeds every Newton step AND the readout
    val spark = base.sparkSession
    import spark.implicits._
    var beta = Seq(Tuple2(0L, 0L)).toDF("b1_micro", "b2_micro")
    def ui(b: DataFrame): DataFrame = coxPass(base, b,
      Seq("_x1" -> "b1_micro", "_x2" -> "b2_micro"), strata = false)
    for (_ <- 1 to iters) {
      val u = ui(beta)
      def d(c: String): Column = col(c).cast("double")
      val dI = d("_siaa") * d("_sibb") - d("_siab") * d("_siab")
      beta = u.crossJoin(broadcast(beta))
        .select(
          when(dI > 0.0, col("b1_micro") + round(lit(1e6) *
            (d("_sua") * d("_sibb") - d("_siab") * d("_sub")) / dI)
            .cast("long")).otherwise(col("b1_micro")).as("b1_micro"),
          when(dI > 0.0, col("b2_micro") + round(lit(1e6) *
            (d("_siaa") * d("_sub") - d("_sua") * d("_siab")) / dI)
            .cast("long")).otherwise(col("b2_micro")).as("b2_micro"))
        .localCheckpoint()
    }
    val tot = base.agg(count(lit(1)).as("n"),
      sum(when(col("_e"), 1L).otherwise(0L)).as("events"))
    tot.crossJoin(broadcast(ui(beta))).crossJoin(broadcast(beta))
      .select(col("n"), col("events"), col("b1_micro"),
        col("b2_micro"),
        round(lit(1e6) * exp(col("b1_micro").cast("double") /
          lit(1e6))).cast("long").as("hr1_micro"),
        round(lit(1e6) * exp(col("b2_micro").cast("double") /
          lit(1e6))).cast("long").as("hr2_micro"),
        col("_sua").as("u1_final_micro"),
        col("_sub").as("u2_final_micro"),
        col("_siaa").as("i11_micro"), col("_siab").as("i12_micro"),
        col("_sibb").as("i22_micro"))
  }
}
