package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Aggregation operators (SURVEY.md §2.4).
  *
  * All hash aggregates: partial (map-side combine) + final after a
  * key-hash shuffle — the shape Catalyst plans for every groupBy below.
  * At 100 TB the map-side partial is what keeps shuffle volume at
  * O(groups × partitions), not O(rows).
  */
object AggOps {

  /** Spark-native confusion matrix (reference collects to the driver and
    * calls sklearn, `/root/reference/src/modelling.py:183-191`; we keep it
    * distributed): groupBy(label).pivot(prediction).count — one shuffle,
    * K×K result. */
  def confusionMatrix(df: DataFrame, labelCol: String,
                      predCol: String): DataFrame =
    df.groupBy(col(labelCol)).pivot(predCol).count()
      .na.fill(0L)
      .orderBy(col(labelCol))

  /** Long-form confusion counts: (label, prediction, n). Pivot-free —
    * preferred when K is large or unknown. */
  def confusionCounts(df: DataFrame, labelCol: String,
                      predCol: String): DataFrame =
    df.groupBy(col(labelCol), col(predCol)).count()

  /** Multiclass metrics derived from the confusion counts — accuracy,
    * per-class precision/recall/F1, macro/weighted F1 (reference A12 via
    * `MulticlassClassificationEvaluator`, `src/modelling.py:162-178`).
    * One aggregate pass; everything else is arithmetic on K×K counts.
    */
  def multiclassMetrics(df: DataFrame, labelCol: String,
                        predCol: String): DataFrame = {
    val cm = confusionCounts(df, labelCol, predCol).cache()
    // one driver action for both scalars (the K×K frame is tiny, but no
    // reason to run two jobs where one aggregate carries both)
    val totals = cm.agg(
      coalesce(sum("count"), lit(0L)).as("total"),
      coalesce(sum(when(col(labelCol) === col(predCol), col("count"))),
        lit(0L)).as("correct")).head()
    val total = totals.getLong(0).toDouble
    val correct = totals.getLong(1).toDouble
    val byLabel = cm.groupBy(labelCol).agg(sum("count").as("support"))
    val byPred = cm.groupBy(predCol).agg(sum("count").as("predicted"))
    val tp = cm.filter(col(labelCol) === col(predCol))
      .select(col(labelCol).as("cls"), col("count").as("tp"))
    val spark = df.sparkSession
    import spark.implicits._
    val perClass = byLabel
      .join(byPred, col(labelCol) === col(predCol), "full_outer")
      .select(coalesce(col(labelCol), col(predCol)).as("cls"),
        coalesce(col("support"), lit(0L)).as("support"),
        coalesce(col("predicted"), lit(0L)).as("predicted"))
      .join(tp, Seq("cls"), "left_outer").na.fill(0L, Seq("tp"))
      // double division + explicit zero guards: a class that is never
      // predicted (predicted = 0) defines precision := 0, and ANSI mode
      // (Spark 4 default) would error on the integral 0-division
      .select(col("cls"),
        when(col("predicted") > 0,
          col("tp").cast("double") / col("predicted")).otherwise(lit(0.0))
          .as("precision"),
        when(col("support") > 0,
          col("tp").cast("double") / col("support")).otherwise(lit(0.0))
          .as("recall"),
        col("support"))
      .withColumn("f1",
        when(col("precision") + col("recall") > 0,
          lit(2) * col("precision") * col("recall") /
            (col("precision") + col("recall"))).otherwise(lit(0.0)))
    perClass.withColumn("accuracy", lit(correct / total))
      .orderBy("cls")
  }

  /** INTEGER-EXACT classification report — [[multiclassMetrics]]'s
    * hash-oracle-able twin (round-10 verdict task 4): per-class
    * support, precision/recall/F1 and global accuracy as EXACT
    * parts-per-million rationals over the confusion counts, so the
    * arithmetic `modelling.py:162-178` runs on top of the confusion
    * pivot replays bit-identically in any engine. No float ever
    * enters: precision_ppm = tp·1e6 div (tp+fp), recall_ppm = tp·1e6
    * div (tp+fn), and the harmonic F1 collapses to ONE integer
    * division — f1_ppm = 2·tp·1e6 div (2·tp+fp+fn); `div` == `//` on
    * the non-negative counts. Zero denominators yield null (the
    * cramers_v guard), never a 0-division or a fake 0.0.
    *
    * Scale shape: ONE (label, pred) hash aggregate over the data; the
    * C×C cell table is class-domain bounded (checkpointed once for
    * its three consumers), the class fold and accuracy broadcast are
    * O(C²) — never data-sized. */
  def classificationReport(preds: DataFrame, labelCol: String,
                           predCol: String): DataFrame = {
    val cm = preds
      .select(col(labelCol).as("_l"), col(predCol).as("_p"))
      .groupBy(col("_l"), col("_p")).agg(count(lit(1)).as("_c"))
      .localCheckpoint() // class list + class fold + accuracy
    val cls = cm.select(col("_l").as("cls"))
      .union(cm.select(col("_p").as("cls"))).distinct()
    val acc = cm.agg(
      sum(when(col("_l") === col("_p"), col("_c")).otherwise(0L))
        .as("_tpa"),
      sum(col("_c")).as("_na"))
    cls.crossJoin(cm)
      .groupBy(col("cls"))
      .agg(
        sum(when(col("_l") === col("cls") && col("_p") === col("cls"),
          col("_c")).otherwise(0L)).as("tp"),
        sum(when(col("_p") === col("cls") && col("_l") =!= col("cls"),
          col("_c")).otherwise(0L)).as("fp"),
        sum(when(col("_l") === col("cls") && col("_p") =!= col("cls"),
          col("_c")).otherwise(0L)).as("fn"))
      .crossJoin(broadcast(acc))
      .select(col("cls"),
        (col("tp") + col("fn")).as("support"),
        when(col("tp") + col("fp") > 0,
          expr("tp * 1000000 div (tp + fp)")).as("precision_ppm"),
        when(col("tp") + col("fn") > 0,
          expr("tp * 1000000 div (tp + fn)")).as("recall_ppm"),
        when(lit(2) * col("tp") + col("fp") + col("fn") > 0,
          expr("2 * tp * 1000000 div (2 * tp + fp + fn)")).as("f1_ppm"),
        expr("_tpa * 1000000 div _na").as("accuracy_ppm"))
  }

  /** Frequency-ordered dense codes 0..K-1 — the relational core of
    * `StringIndexer.fit` (`src/modelling.py:108-111`): groupBy count,
    * order desc, row_number-1. K is small; the window over K rows is
    * driver-scale even when the input is 100 TB. Ties broken by value
    * for determinism (Spark's StringIndexer breaks ties arbitrarily). */
  def frequencyIndex(df: DataFrame, c: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    df.groupBy(col(c)).count()
      .withColumn("code", row_number().over(
        Window.orderBy(col("count").desc, col(c))) - 1)
  }

  /** Fixed-width histogram: bucket = floor((v − lo)/step) with count
    * and observed min/max per bucket. One hash aggregate — the bucket
    * expression keys the shuffle, so at 100 TB this is one scan + one
    * exchange of (buckets × partials). Equi-DEPTH binning is
    * [[graft.ops.CleanOps.equiDepthBins]] (rank over the distinct-value
    * histogram — never a data-sized ntile window); this is the
    * equi-WIDTH sibling. */
  def histogram(df: DataFrame, valueCol: String, lo: Double,
                step: Double): DataFrame =
    df.groupBy(floor((col(valueCol) - lo) / step).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n"),
        min(col(valueCol)).as("min_v"), max(col(valueCol)).as("max_v"))

  /** Two-stage skew-safe aggregation: stage 1 aggregates on
    * (key, salt) — spreading a hot key's rows over `factor` reducers —
    * stage 2 re-aggregates the partials on the key alone. The salt is
    * derived deterministically from the value (never from
    * monotonically_increasing_id — nondeterministic under stage retry).
    * Result is IDENTICAL to the direct groupBy, which is what the
    * oracle checks. Spark's map-side partial aggregation already
    * de-skews algebraic count/sum; the explicit two-stage form is the
    * shape that matters when the accumulator itself is heavy
    * (collect_set / distinct-style) or when AQE skew handling is off —
    * exposed here over count+sum as the demonstrable pattern. */
  def saltedAgg(df: DataFrame, key: String, valueCol: String,
                factor: Int): DataFrame =
    df.withColumn("_salt", pmod(hash(col(valueCol)), lit(factor)))
      .groupBy(col(key), col("_salt"))
      .agg(count(lit(1)).as("_n"), sum(col(valueCol)).as("_s"))
      .groupBy(col(key))
      .agg(sum(col("_n")).as("n"), sum(col("_s")).as("total"))

  /** KEY-SKEW diagnostic: per `groupCol`, the key cardinality, row
    * total, the hottest key's share, the Shannon entropy of the key
    * distribution, and skew_factor = hottest key's rows / mean rows
    * per key — the report that decides whether a join/agg on `keyCol`
    * needs salting ([[saltedAgg]], RelOps.saltedJoin) or AQE skew
    * handling before it runs at scale. Shape: one (group, key)
    * aggregate (map-side combinable), a G-row totals broadcast, one
    * group re-aggregate over the per-key counts — no windows, nothing
    * data-sized on a single task. */
  def keySkewReport(df: DataFrame, groupCol: String,
                    keyCol: String): DataFrame = {
    val kc = df.groupBy(col(groupCol), col(keyCol))
      .agg(count(lit(1)).as("_c"))
    val tot = kc.groupBy(col(groupCol))
      .agg(sum(col("_c")).as("_total"), count(lit(1)).as("_n_keys"),
        max(col("_c")).as("_maxc"))
    val p = col("_c").cast("double") / col("_total")
    kc.join(broadcast(tot), Seq(groupCol))
      .groupBy(col(groupCol))
      .agg(first(col("_n_keys")).as("n_keys"),
        first(col("_total")).as("n_rows"),
        (first(col("_maxc")).cast("double") / first(col("_total")))
          .as("top_share"),
        (-sum(p * log(p))).as("entropy"),
        (first(col("_maxc")).cast("double") * first(col("_n_keys")) /
          first(col("_total"))).as("skew_factor"))
  }

  /** ADAPTIVE CAP SELECTION (round-12 verdict task 5 —
    * [[keySkewReport]] wired into the maxBucket/maxCluster knobs of
    * [[DedupOps.cappedPairsFromBuckets]] /
    * [[SimilarityOps.cappedCosinePairs]] / [[SimilarityOps
    * .semanticPrune]]): instead of a static 64/256 literal, derive
    * the cap from the OBSERVED bucket-size distribution — `cap =
    * max(floor, p-quantile of bucket sizes)`. On a healthy (near-
    * uniform) bucketing the p99 size is the common size, so the cap
    * sits above every bucket and never binds; a mega-bucket (hot
    * hash cell, degenerate LSH band) is by construction in the top
    * (100−p)% tail, so it lands ABOVE the cap and gets the
    * representative downgrade — the cap binds exactly where the
    * quadratic blow-up lives. `floor` keeps recall on tiny fixtures
    * where the whole distribution is small.
    *
    * One-row report: (n_buckets, n_rows, max_size, p_size, cap).
    * Quantile is EXACT over the count-of-counts table with the q227
    * integer rank rule (smallest size level with 100·cum ≥
    * n_buckets·pPct) — the global window sorts only the distinct
    * size LEVELS (the [[paretoCoverage]] argument), never the
    * buckets, so the report costs two hash aggregates even when the
    * bucketed table is the 100 TB corpus itself. */
  def capReport(df: DataFrame, bucketCol: String, floor: Int = 64,
                pPct: Int = 99): DataFrame = {
    require(floor >= 1, s"floor must be >= 1, got $floor")
    require(pPct >= 1 && pPct <= 100, s"pPct must be in [1,100], got $pPct")
    // bucket-domain-bounded; checkpointed because BOTH the level
    // chain and the totals consume it — uncached, the O(rows) bucket
    // count (and its scan) would execute twice (round-12 review)
    val sizes = df.groupBy(col(bucketCol)).agg(count(lit(1)).as("_sz"))
      .localCheckpoint()
    val levels = sizes.groupBy(col("_sz")).agg(count(lit(1)).as("_m"))
    val w = Window.orderBy(col("_sz"))
    val cum = levels.withColumn("_cum",
      sum(col("_m")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
    val tot = sizes.agg(count(lit(1)).as("n_buckets"),
      sum(col("_sz")).as("n_rows"), max(col("_sz")).as("max_size"))
    cum.crossJoin(broadcast(tot))
      .filter(col("_cum") * 100 >= col("n_buckets") * pPct)
      .orderBy(col("_sz"))
      .limit(1)
      .select(col("n_buckets"), col("n_rows"), col("max_size"),
        col("_sz").as("p_size"),
        greatest(lit(floor.toLong), col("_sz")).as("cap"))
  }

  /** [[capReport]]'s cap as a driver Int — the value callers pass
    * straight into a capped pair generator's maxBucket/maxCluster
    * knob (1-row collect, the S6 bounded-bridge convention). */
  def recommendCap(df: DataFrame, bucketCol: String, floor: Int = 64,
                   pPct: Int = 99): Int =
    capReport(df, bucketCol, floor, pPct).collect().headOption match {
      case Some(r) =>
        val cap = r.getLong(r.fieldIndex("cap"))
        require(cap <= Int.MaxValue, s"derived cap $cap overflows Int")
        cap.toInt
      case None => floor // empty input: no buckets observed — the
                         // floor is the only defensible knob value
    }

  /** PARETO coverage: per group, the minimum number of keys whose rows
    * cover `share` of the group's total (the "how concentrated is this
    * domain" 80/20 report, [[keySkewReport]]'s companion). Computed
    * EXACTLY from the count-of-COUNTS table — users are interchangeable
    * within an activity level, so ranking the (count c, m keys at c)
    * histogram by c descending and interpolating inside the covering
    * level gives the same answer as sorting every key, while the window
    * sorts only the distinct activity LEVELS (tiny), never the per-key
    * table (a per-group sort of every key is the single-task trap at
    * 100 TB — same argument as percentilesFromHist). */
  def paretoCoverage(df: DataFrame, groupCol: String, keyCol: String,
                     share: Double = 0.8): DataFrame = {
    require(share > 0.0 && share <= 1.0,
      s"share must lie in (0, 1], got $share")
    val kc = df.groupBy(col(groupCol), col(keyCol))
      .agg(count(lit(1)).as("_c"))
    val cc = kc.groupBy(col(groupCol), col("_c"))
      .agg(count(lit(1)).as("_m"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(col("_c").desc)
    val cum = cc
      .withColumn("_users_below", coalesce(sum(col("_m"))
        .over(w.rowsBetween(Long.MinValue, -1)), lit(0L)))
      .withColumn("_mass_below", coalesce(sum(col("_c") * col("_m"))
        .over(w.rowsBetween(Long.MinValue, -1)), lit(0L)))
      .withColumn("_total", sum(col("_c") * col("_m"))
        .over(w.rowsBetween(Long.MinValue, Long.MaxValue)))
      .withColumn("_n_keys", sum(col("_m"))
        .over(w.rowsBetween(Long.MinValue, Long.MaxValue)))
    val target = lit(share) * col("_total").cast("double")
    cum.groupBy(col(groupCol))
      .agg(first(col("_n_keys")).as("n_keys"),
        first(col("_total")).as("n_rows"),
        min(when(col("_mass_below").cast("double") < target &&
          target <= (col("_mass_below") + col("_c") * col("_m"))
            .cast("double"),
          col("_users_below") +
            ceil((target - col("_mass_below").cast("double")) /
              col("_c").cast("double")))).as("k_cover"))
  }

  /** Per-group OLS trend (closed-form simple linear regression) in ONE
    * map-side-combinable aggregate — the distributed spelling of the
    * "fit a slope per entity" pass (engagement trends, drift slopes,
    * per-feature calibration lines): slope = (n·Σxy − Σx·Σy) /
    * (n·Σx² − (Σx)²), intercept = (Σy − slope·Σx)/n, all five
    * sufficient statistics partial-aggregable, so the raw table is
    * read once and only (group × 5 longs) cross the shuffle.
    *
    * DETERMINISM CONTRACT: x and y must be INTEGER-valued columns
    * (cast to long here) with |n·Σxy| and |n·Σx²| < 2^53 — then both
    * engines derive identical exact integer numerators/denominators
    * and the only float ops are two divides and a multiply. Callers
    * re-base x (e.g. epoch-day − 20000) and fix y to cents/micro
    * units to stay in the bound; Spark's ANSI mode errors loudly on a
    * violated bound rather than wrapping. Degenerate groups (n < 2 or
    * a single distinct x) are dropped — a vertical line has no slope.
    */
  def olsTrend(df: DataFrame, groupCol: String,
               x: Column, y: Column): DataFrame = {
    val d = df.select(col(groupCol), x.cast("long").as("_x"),
      y.cast("long").as("_y"))
    d.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
        sum(col("_x")).as("_sx"), sum(col("_y")).as("_sy"),
        sum(col("_x") * col("_x")).as("_sxx"),
        sum(col("_x") * col("_y")).as("_sxy"))
      .withColumn("_den", col("n") * col("_sxx") - col("_sx") * col("_sx"))
      .where(col("n") >= 2 && col("_den") =!= 0)
      .withColumn("_slope",
        (col("n") * col("_sxy") - col("_sx") * col("_sy")).cast("double") /
          col("_den").cast("double"))
      .select(col(groupCol), col("n"),
        round(col("_slope"), 6).as("slope"),
        round((col("_sy").cast("double") - col("_slope") *
          col("_sx").cast("double")) / col("n").cast("double"), 6)
          .as("intercept"))
  }

  /** AUTOCORRELATION FUNCTION over an integer-valued regular series
    * (Box & Jenkins 1970 — the seasonality/memory readout next to
    * [[olsTrend]] and q267's day-of-week profile): r_k =
    * Σ(x_t−x̄)(x_{t−k}−x̄) / Σ(x_t−x̄)² for k = 1..maxLag.
    *
    * EXACT arithmetic: with c_t = n·x_t − S (an exact integer — n
    * series length, S the sum), r_k = Σ c_t·c_{t−k} / Σ c_t² because
    * the common n² factor cancels, so both engines divide identical
    * integers and the only float op is the final divide (the q186
    * convention). Degenerate series (constant x ⇒ zero denominator)
    * yield null acf. Requires Σ c² < 2^63 — trivially true for the
    * grid magnitudes this takes.
    *
    * SCALE: the input is a GRID table (one row per time step — the
    * upstream aggregate already collapsed the raw stream), so the lag
    * self-join and every sum here are grid-bounded at any raw-data
    * size. Returns (lag, n_pairs, acf). */
  def acf(series: DataFrame, tCol: String, xCol: String,
          maxLag: Int): DataFrame = {
    require(maxLag >= 1, s"maxLag must be >= 1, got $maxLag")
    val base = series.select(col(tCol).cast("long").as("_t"),
      col(xCol).cast("long").as("_x")).localCheckpoint()
    val st = base.agg(count(lit(1)).as("_n"), sum(col("_x")).as("_s"))
    val c = base.crossJoin(broadcast(st))
      .select(col("_t"), (col("_n") * col("_x") - col("_s")).as("_c"))
      .localCheckpoint() // feeds the denominator AND both join sides
    val den = c.agg(sum(col("_c") * col("_c")).as("_d"))
    c.select(col("_t"), col("_c"),
        explode(sequence(lit(1), lit(maxLag))).as("lag"))
      .join(c.select(col("_t").as("_t2"), col("_c").as("_c2")),
        col("_t") - col("lag") === col("_t2"))
      .groupBy(col("lag"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("_c") * col("_c2")).as("_num"))
      .crossJoin(broadcast(den))
      .select(col("lag").cast("long").as("lag"), col("n_pairs"),
        when(col("_d") > 0,
          round(col("_num").cast("double") / col("_d").cast("double"),
            6)).as("acf"))
  }

  /** CLASSICAL ADDITIVE SEASONAL DECOMPOSITION over a daily series
    * (Brockwell & Davis 1991 §1.4; the moving-average + seasonal-index
    * method STL refines): x_t = trend + seasonal + residual with
    * trend = the centered 7-row moving average (micro-fixed:
    * Σ·10⁶ div 7 — non-negative, so `div` == `//`), seasonal = the
    * per-day-of-week mean of the detrended series re-centered to zero
    * mean (both means SIGN-SPLIT integer divisions — detrended values
    * go negative, where truncating `div` and flooring `//` diverge:
    * the cemAtt/gTest CASE convention), residual = the exact
    * remainder. Only rows with a full 7-row window decompose (the
    * classical edge rule). All arithmetic integer micro end to end —
    * no float anywhere, the whole table hash-replays.
    *
    * SCALE: the input is the day-GRID aggregate, so the centered
    * window, the DOW means, and the joins are grid-bounded at any raw
    * volume. Returns (day 'yyyy-MM-dd', x, trend_micro,
    * seasonal_micro, residual_micro). */
  def seasonalDecompose(daily: DataFrame, dayCol: String,
                        xCol: String): DataFrame = {
    val base = daily.select(col(dayCol).cast("date").as("_day"),
      col(xCol).cast("long").as("_x"))
    val w = Window.orderBy(col("_day")).rowsBetween(-3, 3)
    val tr = base
      .withColumn("_wn", count(lit(1)).over(w))
      .withColumn("_ws", sum(col("_x")).over(w))
      .where(col("_wn") === 7)
      .withColumn("trend_micro", expr("_ws * 1000000L div 7"))
      .withColumn("_d", col("_x") * 1000000L - col("trend_micro"))
      .withColumn("_dow", dayofweek(col("_day")).cast("long"))
      .localCheckpoint() // grid-bounded; feeds indices AND the output
    val seas = tr.groupBy(col("_dow"))
      .agg(sum(col("_d")).as("_sd"), count(lit(1)).as("_sn"))
      .withColumn("_s", expr(
        "CASE WHEN _sd < 0 THEN -((-_sd) div _sn) " +
          "ELSE _sd div _sn END"))
    val meanS = seas.agg(sum(col("_s")).as("_ss"),
      count(lit(1)).as("_sk"))
    val idx = seas.crossJoin(broadcast(meanS))
      .withColumn("seasonal_micro", col("_s") - expr(
        "CASE WHEN _ss < 0 THEN -((-_ss) div _sk) " +
          "ELSE _ss div _sk END"))
      .select(col("_dow"), col("seasonal_micro"))
    tr.join(broadcast(idx), Seq("_dow"))
      .select(date_format(col("_day"), "yyyy-MM-dd").as("day"),
        col("_x").as("x"), col("trend_micro"), col("seasonal_micro"),
        (col("_d") - col("seasonal_micro")).as("residual_micro"))
  }

  /** PARTIAL AUTOCORRELATION via the Durbin–Levinson recursion
    * (Durbin 1960; Box & Jenkins 1970 §3 — the AR-order read next to
    * [[acf]]: PACF cuts off after lag p for an AR(p) process, where
    * ACF only decays). The ACF lags come from [[acf]] (identical
    * integers in both engines), fix to micro (round(acf·10⁶) — the
    * 6-dp ACF makes this exact), pivot to ONE row of r₁..r_K
    * columns, and the K−1 recursion steps run as chained projections
    * over that single row:
    *   φ_kk = 10⁶·(r_k·10⁶ − Σ_j φ_{k−1,j}·r_{k−j}) /
    *                 (10¹² − Σ_j φ_{k−1,j}·r_j)
    * (numerator/denominator EXACT pico integers; the one float
    * divide runs over identical operands and rounds to micro), then
    * φ_{k,j} = φ_{k−1,j} − round(φ_kk·φ_{k−1,k−j}/10⁶) — products of
    * micro pairs stay ≤ 10¹² in long. A degenerate denominator (or a
    * null ACF from a constant series) yields null from that lag on.
    *
    * SCALE: everything past [[acf]]'s grid aggregate is a K-column
    * single-row projection chain — maxLag-bounded at any raw volume
    * (the logisticSqlChain unroll convention in the oracle). Returns
    * (lag, pacf_micro), K rows. */
  def pacf(series: DataFrame, tCol: String, xCol: String,
           maxLag: Int): DataFrame =
    durbinStateFrame(series, tCol, xCol, maxLag)
      .select(expr(s"stack($maxLag, " +
        (1 to maxLag).map(k => s"${k}L, _f$k").mkString(", ") +
        ") as (lag, pacf_micro)"))

  /** YULE-WALKER AR(p) COEFFICIENTS (Yule 1927; Walker 1931) — read
    * straight off the Durbin-Levinson terminal state: the recursion's
    * final row phi_{p,1..p} IS the Yule-Walker solution for an AR(p)
    * fit to the sample ACF (Brockwell & Davis 1991 §8.1), so the AR
    * model comes free once [[pacf]] has run. Same exactness story;
    * returns (j, ar_micro), p rows. */
  def yuleWalkerAr(series: DataFrame, tCol: String, xCol: String,
                   order: Int): DataFrame =
    durbinStateFrame(series, tCol, xCol, order)
      .select(expr(s"stack($order, " +
        (1 to order).map(j => s"${j}L, _p$j").mkString(", ") +
        ") as (j, ar_micro)"))

  /** AR(p) ONE-STEP BACKTEST (the Yule–Walker model driven through
    * the [[seasonalDecompose]]/Holt–Winters question — which
    * classical forecaster wins on this series?): fit φ₁..φ_p by
    * [[yuleWalkerAr]]'s Durbin–Levinson state, then predict every
    * in-sample step from its own lags,
    *   x̂_t = x̄ + Σ_j φ_j·(x_{t−j} − x̄),
    * with x̄ micro-fixed once (float-round over exact integers) and
    * each lag term φ_j·(x_{t−j}·10⁶ − x̄) an EXACT long (micro ×
    * micro ≤ 10¹⁵ at day-grid magnitudes) summed order-free before
    * ONE rounding divide per step. Only steps with all p lags
    * present forecast. MAE by exact division (errors non-negative).
    *
    * SCALE: the lag join is grid × p rows (grid-bounded at any raw
    * volume — the [[acf]] argument); φ and x̄ ride broadcast 1-row
    * frames. Returns (t, x, pred_micro, err_micro, mae_micro),
    * T − p rows. */
  /** The PRE-CHECKPOINT prediction frame behind [[arBacktest]]:
    * package-private so the plan-shape spec pins the REAL op code
    * path (round-16 advice — a lookalike rebuilt in the spec would
    * not trip on a regression in THIS join construction). `base`
    * must carry (_t, _x) long columns. The lag join MUST stay an
    * equi-join on the shifted grid key (_t − _j = _t2 canonicalizes
    * to an equi-join) — a nested loop here is quadratic at a real
    * grid. */
  private[graft] def arPredFrame(base: DataFrame,
                                 order: Int): DataFrame = {
    val phi = durbinStateFrame(base, "_t", "_x", order)
      .select((1 to order).map(j => col(s"_p$j")): _*)
    val mean = base.agg(count(lit(1)).as("_n"), sum(col("_x")).as("_s"))
      .select(round(col("_s").cast("double") * lit(1e6) /
        col("_n").cast("double")).cast("long").as("_m"))
    val pj = (2 to order).foldLeft(
      when(col("_j") === 1, col("_p1"))) { (acc, j) =>
      acc.when(col("_j") === j, col(s"_p$j"))
    }
    val terms = base
      .select(col("_t"), explode(sequence(lit(1), lit(order)))
        .as("_j"))
      .join(base.select(col("_t").as("_t2"), col("_x").as("_xl")),
        col("_t") - col("_j") === col("_t2"))
      .crossJoin(broadcast(phi)).crossJoin(broadcast(mean))
      .withColumn("_term", pj * (col("_xl") * lit(1000000L) -
        col("_m")))
      .groupBy(col("_t"))
      .agg(count(lit(1)).as("_k"), sum(col("_term")).as("_acc"))
      .where(col("_k") === order)
    terms
      .join(base.select(col("_t"), col("_x")), "_t")
      .crossJoin(broadcast(mean))
      .withColumn("pred_micro", col("_m") +
        round(col("_acc").cast("double") / lit(1e6)).cast("long"))
      .withColumn("err_micro",
        abs(col("_x") * lit(1000000L) - col("pred_micro")))
  }

  def arBacktest(series: DataFrame, tCol: String, xCol: String,
                 order: Int): DataFrame = {
    require(order >= 1, s"order must be >= 1, got $order")
    val base = series.select(col(tCol).cast("long").as("_t"),
        col(xCol).cast("long").as("_x"))
      .localCheckpoint() // feeds the fit, the lags, and the actuals
    val pred = arPredFrame(base, order)
      .localCheckpoint() // grid-bounded; feeds rows AND the MAE
    val mae = pred.agg(sum(col("err_micro")).as("_se"),
      count(lit(1)).as("_c"))
    pred.crossJoin(broadcast(mae))
      .select(col("_t").as("t"), col("_x").as("x"),
        col("pred_micro"), col("err_micro"),
        expr("_se div _c").as("mae_micro"))
  }

  /** AR(p) h-STEP FORECAST WITH PREDICTION INTERVALS (Box & Jenkins
    * 1970 §5's ψ-weight variance recursion — round-17 verdict task
    * 3: q386/q396's backtests emit point forecasts and MAE only,
    * but a dashboard reads the BAND first): the [[yuleWalkerAr]] φ
    * drives two horizon-bounded ladders off ONE-row frames —
    *   x̂_{T+h} = x̄ + round(Σ_j φ_j·(x̃_{T+h−j} − x̄)/10⁶)
    * ([[arPredFrame]]'s spelling, recursing on its own forecasts
    * past the last p actuals), and ψ₀ = 10⁶,
    * ψ_h = round(Σ_{j≤min(h,p)} φ_j·ψ_{h−j}/10⁶), with
    *   se_h = √(σ̂²·Σ_{i<h}ψ_i²) and the band x̂ ± round(z·se/10⁶)
    * (the Greenwood move applied to forecasting: a variance sum
    * over exact integers, one sqrt readout). σ̂² comes from the
    * one-step backtest residuals (per-row err² micro-fixed in
    * doubles over exact ints — the q195 parity rule — then ONE
    * exact division; an empty backtest reads NULL σ̂/band, the
    * cross-engine convention). `zMicro` is the caller's normal
    * quantile literal (1959964 = 95%, the q346 convention).
    *
    * SCALE: the [[acf]] grid aggregate + [[arPredFrame]]'s lag join
    * for σ̂², one grid collapse for the last p actuals
    * (grid-bounded — the [[holtWinters]] collect_list argument),
    * then pure horizon-bounded projections over a single row.
    * Output `horizon` rows: (h, forecast_micro, se_micro, lo_micro,
    * hi_micro). */
  def arForecastBand(series: DataFrame, tCol: String, xCol: String,
                     order: Int, horizon: Int,
                     zMicro: Long): DataFrame = {
    require(order >= 1, s"order must be >= 1, got $order")
    require(horizon >= 1, s"horizon must be >= 1, got $horizon")
    require(zMicro > 0, s"zMicro must be > 0, got $zMicro")
    val base = series.select(col(tCol).cast("long").as("_t"),
        col(xCol).cast("long").as("_x"))
      .localCheckpoint() // feeds the fit, sigma^2, and the tail
    val phi = durbinStateFrame(base, "_t", "_x", order)
      .select((1 to order).map(j => col(s"_p$j")): _*)
    val mean = base.agg(count(lit(1)).as("_n"), sum(col("_x")).as("_s"))
      .select(round(col("_s").cast("double") * lit(1e6) /
        col("_n").cast("double")).cast("long").as("_m"))
    val s2 = arPredFrame(base, order)
      .select(round(col("err_micro").cast("double") *
        col("err_micro").cast("double") / lit(1e6)).cast("long")
        .as("_e2"))
      .agg(sum(col("_e2")).as("_se2"), count(lit(1)).as("_c"))
      .select(when(col("_c") > 0, expr("_se2 div _c")).as("_s2"))
    // the last p actuals as micro literals off ONE sorted grid row;
    // fName(k) spells x̃_{T+k}: _f$k ahead, _fm${-k} at/behind T
    def fName(k: Int): String = if (k >= 1) s"_f$k" else s"_fm${-k}"
    val tail = base.agg(sort_array(collect_list(struct(
        col("_t").as("t"), col("_x").as("x")))).as("_a"))
      .select((1 to order).map(j =>
        // a grid shorter than p cannot seed the recursion — NULL
        // forecasts (the documented short-series degrade), not an
        // ANSI index error
        (when(size(col("_a")) >= order,
          element_at(col("_a"), size(col("_a")) - j + 1)
            .getField("x")) * lit(1000000L)).as(fName(1 - j))): _*)
    var st = tail.crossJoin(broadcast(phi))
      .crossJoin(broadcast(mean)).crossJoin(broadcast(s2))
      .withColumn("_psi0", lit(1000000L))
    for (h <- 1 to horizon) {
      val acc = (1 to order).map(j =>
        col(s"_p$j") * (col(fName(h - j)) - col("_m")))
        .reduce(_ + _)
      st = st.withColumn(s"_f$h",
        col("_m") + round(acc.cast("double") / lit(1e6)).cast("long"))
      val psiAcc = (1 to math.min(h, order)).map(j =>
        col(s"_p$j") * col(s"_psi${h - j}")).reduce(_ + _)
      st = st.withColumn(s"_psi$h",
        round(psiAcc.cast("double") / lit(1e6)).cast("long"))
      val sp2 = (0 until h).map(i =>
        col(s"_psi$i") * col(s"_psi$i")).reduce(_ + _)
      st = st.withColumn(s"_se$h",
        round(sqrt(col("_s2").cast("double") * sp2.cast("double")) /
          lit(1e3)).cast("long"))
    }
    st.select(expr(s"stack($horizon, " + (1 to horizon).map(h =>
        s"${h}L, _f$h, _se$h").mkString(", ") +
        ") as (h, forecast_micro, se_micro)"))
      .select(col("h"), col("forecast_micro"), col("se_micro"),
        (col("forecast_micro") -
          round((col("se_micro") * lit(zMicro)).cast("double") /
            lit(1e6)).cast("long")).as("lo_micro"),
        (col("forecast_micro") +
          round((col("se_micro") * lit(zMicro)).cast("double") /
            lit(1e6)).cast("long")).as("hi_micro"))
  }

  /** The HANNAN–RISSANEN REGRESSION FRAME shared by [[armaHr]] and
    * [[armaHrBacktest]] (package-private for the plan-shape pin,
    * like [[arPredFrame]]): stage 1 computes the long-AR(`longAr`)
    * one-step residuals off [[arPredFrame]] (SIGNED, fixed to MILLI
    * by one round-divide — micro residuals would square past 2⁶³
    * in the stage-2 Gram), stage 2 assembles one row per step t
    * with y = x_t and the p x-lags + q residual-lags as columns —
    * p + q equi-joins on the SHIFTED grid key (the [[arPredFrame]]
    * plan pin: a nested loop here is quadratic at a real grid).
    * Columns: (_t, _y, _u1.._u$p = x lags raw, _u${p+1}.._u${p+q} =
    * e lags milli). Rows: steps with ALL lags present. */
  private[graft] def armaRegFrame(base: DataFrame, p: Int, q: Int,
                                  longAr: Int): DataFrame = {
    val ef = arPredFrame(base, longAr)
      .select(col("_t"),
        round((col("_x") * lit(1000000L) - col("pred_micro"))
          .cast("double") / lit(1e3)).cast("long").as("_e"))
    var reg = base.select(col("_t"), col("_x").as("_y"))
    for (j <- 1 to p)
      reg = reg.join(base.select((col("_t") + j).as("_t"),
        col("_x").as(s"_u$j")), "_t")
    for (j <- 1 to q)
      reg = reg.join(ef.select((col("_t") + j).as("_t"),
        col("_e").as(s"_u${p + j}")), "_t")
    reg
  }

  /** The HR stage-2 OLS solve: ONE fused Gram/score aggregate over
    * the regression frame (exact longs), one bounded collect, the
    * [[LinAlg.gaussSolve]] straight-line elimination — coefficients
    * fixed to micro, or ALL-ZERO when the system is degenerate
    * (NULL sums from an empty frame, or a non-finite solve) — the
    * oracle's isfinite CASE convention. Returns
    * [c, φ_1..φ_p, θ'_1..θ'_q] micro, where θ' is per MILLI
    * residual unit (the prediction spelling divides the MA sum by
    * 10³ once). */
  private def armaHrCoefs(reg: DataFrame, p: Int,
                          q: Int): Array[Long] = {
    val n = 1 + p + q
    def uv(r: Int): Column = col(s"_u$r")
    val aggs = (for (r <- 0 until n; c <- r until n) yield {
      val prod = if (r == 0 && c == 0) count(lit(1))
        else if (r == 0) sum(uv(c)) else sum(uv(r) * uv(c))
      prod.as(s"a_${r}_$c")
    }) ++ (0 until n).map(r =>
      sum(if (r == 0) col("_y") else col("_y") * uv(r)).as(s"s_$r"))
    val row = reg.agg(aggs.head, aggs.tail: _*).head()
    val out = Array.fill(n)(0L)
    if (!(0 until row.length).exists(row.isNullAt)) {
      var idx = 0
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
        (0 until n).foreach(j => out(j) = LinAlg.rnd(1e6 * x(j)))
    }
    out
  }

  /** ARMA(p, q) BY HANNAN–RISSANEN TWO-STAGE REGRESSION (Hannan &
    * Rissanen 1982; Durbin 1960's long-AR idea — the MA term that
    * completes Box–Jenkins past [[yuleWalkerAr]]/[[arimaBacktest]],
    * round-17 verdict task 2: when [[ljungBox]] rejects a pure AR
    * there is now somewhere to go): stage 1 fits a LONG AR(`longAr`)
    * by the Durbin–Levinson state and takes its one-step residuals
    * ê_t as innovation proxies; stage 2 regresses x_t on
    * [1, x_{t−1..p}, ê_{t−1..q}] by OLS — one fused Gram aggregate,
    * one bounded collect, the [[LinAlg.gaussSolve]] elimination
    * spelled op-for-op in the oracle. No iteration, no float until
    * the micro fixes — the coefficient table hash-replays.
    *
    * SCALE: stage 1 is [[arBacktest]]'s grid-bounded lag join;
    * stage 2 adds p + q more shifted-key equi-joins and ONE
    * aggregate — everything grid-bounded at any raw volume.
    * Output 1 + p + q rows: (kind ∈ 'c'/'ar'/'ma', j, coef_micro);
    * 'ma' coefficients are per MILLI residual unit (documented —
    * the prediction arithmetic in [[armaHrBacktest]] re-divides). */
  def armaHr(series: DataFrame, tCol: String, xCol: String,
             p: Int, q: Int, longAr: Int): DataFrame = {
    require(p >= 1, s"p must be >= 1, got $p")
    require(q >= 1, s"q must be >= 1, got $q")
    require(longAr >= p && longAr >= q,
      s"longAr ($longAr) must cover both p ($p) and q ($q)")
    val spark = series.sparkSession
    import spark.implicits._
    val base = series.select(col(tCol).cast("long").as("_t"),
        col(xCol).cast("long").as("_x"))
      .localCheckpoint() // feeds stage 1, the lags, and stage 2
    val reg = armaRegFrame(base, p, q, longAr)
    val cf = armaHrCoefs(reg, p, q)
    (Seq(("c", 0L, cf(0))) ++
      (1 to p).map(j => ("ar", j.toLong, cf(j))) ++
      (1 to q).map(j => ("ma", j.toLong, cf(p + j))))
      .toDF("kind", "j", "coef_micro")
  }

  /** ARMA(p, q) ONE-STEP IN-SAMPLE BACKTEST off the [[armaHr]] fit
    * (the [[arBacktest]] readout shape, so the MAE drops straight
    * into the q390/q397 model-selection table):
    *   x̂_t = c + Σφ_j·x_{t−j} + round(Σθ'_j·ê_{t−j} / 10³)
    * — the AR terms are exact micro products, the MA sum collects
    * exact micro×milli products and fixes by ONE signed
    * round-divide (spelled identically in the oracle). The fit
    * re-runs (the q192 retrain convention). Returns (t, x,
    * pred_micro, err_micro, mae_micro), one row per stage-2 step. */
  def armaHrBacktest(series: DataFrame, tCol: String, xCol: String,
                     p: Int, q: Int, longAr: Int): DataFrame = {
    require(p >= 1, s"p must be >= 1, got $p")
    require(q >= 1, s"q must be >= 1, got $q")
    require(longAr >= p && longAr >= q,
      s"longAr ($longAr) must cover both p ($p) and q ($q)")
    val base = series.select(col(tCol).cast("long").as("_t"),
        col(xCol).cast("long").as("_x"))
      .localCheckpoint() // feeds stage 1, the lags, and stage 2
    val reg = armaRegFrame(base, p, q, longAr)
      .localCheckpoint() // feeds the solve AND the prediction pass
    val cf = armaHrCoefs(reg, p, q)
    val arSum = (1 to p).map(j => lit(cf(j)) * col(s"_u$j"))
      .reduce(_ + _)
    val maSum = (1 to q).map(j => lit(cf(p + j)) * col(s"_u${p + j}"))
      .reduce(_ + _)
    val pred = reg.select(col("_t"), col("_y"),
        (lit(cf(0)) + arSum +
          round(maSum.cast("double") / lit(1e3)).cast("long"))
          .as("pred_micro"))
      .withColumn("err_micro",
        abs(col("_y") * lit(1000000L) - col("pred_micro")))
      .localCheckpoint() // grid-bounded; feeds rows AND the MAE
    val mae = pred.agg(sum(col("err_micro")).as("_se"),
      count(lit(1)).as("_c"))
    pred.crossJoin(broadcast(mae))
      .select(col("_t").as("t"), col("_y").as("x"),
        col("pred_micro"), col("err_micro"),
        expr("_se div _c").as("mae_micro"))
  }

  /** SEASONAL-NAIVE BACKTEST (the x̂_t = x_{t−period} baseline every
    * forecast comparison must beat — Hyndman & Athanasopoulos's
    * benchmark-model rule): ONE self-join on the grid at lag
    * `period`, exact integer errors, exact-division MAE. The MAE
    * reads against [[holtWinters]]'s and [[arBacktest]]'s — the
    * three-way comparison that says whether the fitted models earn
    * their complexity. Returns (t, x, pred_micro, err_micro,
    * mae_micro), T − period rows. */
  /** The PRE-CHECKPOINT prediction frame behind
    * [[seasonalNaiveBacktest]] (package-private for the plan-shape
    * pin, like [[arPredFrame]]): the lag-`period` self-join on the
    * shifted grid key MUST plan as an equi-join. `base` must carry
    * (_t, _x) long columns. */
  private[graft] def seasonalNaivePredFrame(base: DataFrame,
                                            period: Int): DataFrame =
    base
      .join(base.select((col("_t") + period).as("_t"),
        (col("_x") * 1000000L).as("pred_micro")), "_t")
      .withColumn("err_micro",
        abs(col("_x") * lit(1000000L) - col("pred_micro")))

  def seasonalNaiveBacktest(series: DataFrame, tCol: String,
                            xCol: String, period: Int): DataFrame = {
    require(period >= 1, s"period must be >= 1, got $period")
    val base = series.select(col(tCol).cast("long").as("_t"),
        col(xCol).cast("long").as("_x"))
      .localCheckpoint() // both join sides AND the MAE
    val pred = seasonalNaivePredFrame(base, period)
      .localCheckpoint() // grid-bounded; feeds rows AND the MAE
    val mae = pred.agg(sum(col("err_micro")).as("_se"),
      count(lit(1)).as("_c"))
    pred.crossJoin(broadcast(mae))
      .select(col("_t").as("t"), col("_x").as("x"),
        col("pred_micro"), col("err_micro"),
        expr("_se div _c").as("mae_micro"))
  }

  /** DISCRETE ADABOOST OVER DECISION STUMPS (Freund & Schapire
    * 1997; the ensemble sibling of [[decisionStumpGain]] — round-16
    * verdict task 6): T boosting rounds, each ONE level-bounded
    * weighted aggregate plus an integer weight re-fix. Per round:
    * rows collapse to the (value, label) WEIGHTED level table (one
    * hash aggregate of micro weights), the weighted error of every
    * (threshold, polarity) stump comes from prefix sums over LEVELS
    * (pol +1 predicts y at x ≤ t; err = cum_w⁻ + (tot⁺ − cum_w⁺),
    * pol −1 the complement), the best stump is the (werr ASC,
    * threshold ASC, pol +1 first) rank-1 row, α = ½·ln((W−ε)/ε)
    * fixes to micro (one ln over exact integer micro weights — the
    * q195 parity rule), and every row's weight re-fixes by the
    * integer-micro factor e^{∓α}: w' = (w · round(10⁶e^{∓α}))
    * div 10⁶ — exact integer ops after the one float fix, so the
    * whole round table hash-replays. A DEGENERATE round (ε = 0, a
    * perfect stump — or ε = W) freezes α at 0 and the weights stop
    * moving (documented; boosting is over).
    *
    * SCALE: per round one data scan (the level aggregate), one
    * LEVEL-bounded window, one broadcast-stump reweight projection +
    * checkpoint — T sequential passes, the distributed-boosting
    * shape. Weights stay in long (init 10⁶, each round multiplies by
    * e^{±α} ≤ (W−ε)/ε — callers keep T small, the AdaBoost norm).
    * ZERO-ABSORBING WEIGHT: the integer downweight
    * w' = (w·f) div 10⁶ with f < 10⁶ can drive a repeatedly-correct
    * row's weight to exactly 0, and 0 never recovers (0·f = 0) —
    * that row silently leaves the weighted error for all later
    * rounds, a state the float algorithm doesn't have. At the init
    * weight 10⁶ this needs ~log_f(10⁶) consecutive correct rounds
    * (≥ 20 even at a strong α ≈ 1), far past the small-T norm, and
    * the oracle's identical integer reweight reproduces it exactly
    * when it does happen (pinned by a spec driving a weight to 0).
    * Output per round: (round, threshold, polarity, werr_micro,
    * wtot_micro, alpha_micro). */
  def adaBoostStumps(df: DataFrame, xCol: String, yCol: String,
                     rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    var cur = df.select(col(xCol).cast("long").as("_x"),
        col(yCol).cast("boolean").as("_y"))
      .withColumn("_w", lit(1000000L))
      .localCheckpoint()
    var out: DataFrame = null
    for (r <- 1 to rounds) {
      val lev = cur.groupBy(col("_x").as("thr"))
        .agg(sum(when(col("_y"), col("_w")).otherwise(0L)).as("_wp"),
          sum(when(!col("_y"), col("_w")).otherwise(0L)).as("_wn"))
        .localCheckpoint() // level-bounded; feeds tot AND the window
      val tot = lev.agg(sum(col("_wp")).as("_tp"),
        sum(col("_wn")).as("_tn"))
      val w = Window.orderBy(col("thr"))
        .rowsBetween(Window.unboundedPreceding, 0)
      val cand = lev.withColumn("_cp", sum(col("_wp")).over(w))
        .withColumn("_cn", sum(col("_wn")).over(w))
        .crossJoin(broadcast(tot))
        .select(col("thr"),
          (col("_cn") + col("_tp") - col("_cp")).as("_errPos"),
          (col("_cp") + col("_tn") - col("_cn")).as("_errNeg"),
          (col("_tp") + col("_tn")).as("_wt"))
      val both = cand.select(col("thr"), lit(1L).as("pol"),
          col("_errPos").as("werr"), col("_wt"))
        .unionByName(cand.select(col("thr"), lit(-1L).as("pol"),
          col("_errNeg").as("werr"), col("_wt")))
      val best = both.withColumn("_rn", row_number().over(
          Window.orderBy(col("werr"), col("thr"), col("pol").desc)))
        .where(col("_rn") === 1)
        .select(col("thr"), col("pol"), col("werr"), col("_wt"),
          when(col("werr") > 0 && col("werr") < col("_wt"),
            round(lit(5e5) *
              log((col("_wt") - col("werr")).cast("double") /
                col("werr").cast("double"))).cast("long"))
            .otherwise(lit(0L)).as("alpha"))
        .localCheckpoint() // 1 row; feeds the table AND the reweight
      val row = best.select(lit(r.toLong).as("round"),
        col("thr").as("threshold"), col("pol").as("polarity"),
        col("werr").as("werr_micro"), col("_wt").as("wtot_micro"),
        col("alpha").as("alpha_micro"))
      out = if (out == null) row else out.unionByName(row)
      cur = cur.crossJoin(broadcast(best.select(
          col("thr").as("_bt"), col("pol").as("_bp"),
          col("alpha").as("_ba"))))
        .withColumn("_pred", when(col("_bp") === 1L,
          col("_x") <= col("_bt")).otherwise(col("_x") > col("_bt")))
        .withColumn("_f", round(lit(1e6) * exp(
          when(col("_pred") === col("_y"), -col("_ba"))
            .otherwise(col("_ba")).cast("double") / lit(1e6)))
          .cast("long"))
        .select(col("_x"), col("_y"),
          expr("(_w * _f) div 1000000L").as("_w"))
        .localCheckpoint()
    }
    out
  }

  /** Score with a fitted [[adaBoostStumps]] round table as driver
    * literals (thr, pol, alpha_micro): the weighted-majority margin
    * Σ_r α_r·h_r(x) over exact integer micro α — one codegen'd
    * stateless projection (streaming-safe, the [[graft.ops.EvalOps
    * .ovrPredExpr]] shape). Returns the boolean vote margin ≥ 0. */
  def adaBoostPredExpr(x: Column,
                       stumps: Seq[(Long, Long, Long)]): Column = {
    require(stumps.nonEmpty, "need at least one stump")
    stumps.map { case (thr, pol, alpha) =>
      val h = if (pol == 1L) x <= lit(thr) else x > lit(thr)
      when(h, lit(alpha)).otherwise(-lit(alpha))
    }.reduce(_ + _) >= 0L
  }

  /** L2-BOOSTING WITH REGRESSION STUMPS (Friedman 2001's gradient
    * boosting under squared loss; Bühlmann & Yu 2003's L2Boost —
    * the REGRESSION sibling of [[adaBoostStumps]]): T rounds, each
    * fitting the best stump to the CURRENT residuals. Per round:
    * residual micro sums collapse to the value LEVEL table (one
    * hash aggregate), prefix sums give every split's side counts
    * and sums, the variance-reduction gain
    *   gain(t) = (n·S_l − n_l·S)² / (n·n_l·n_r)
    * is evaluated in doubles over those EXACT integers (identical
    * operands and spelling ⇒ identical doubles in any engine — the
    * q195 parity argument; the all-integer numerator can exceed
    * 2⁶³, so the square lives in double), the best split is the
    * (gain DESC, threshold ASC) rank-1 level, the side means fix
    * to micro by ONE float divide each, and every row's residual
    * re-fixes by exact integer subtraction r' = r − mean_side. The
    * per-round Σ|r'| readout (sar_micro) is a progress TRAJECTORY,
    * not a guarantee: L2Boost monotonically decreases the SQUARED
    * error (the quantity each step minimizes); the absolute mass
    * usually falls with it but can tick up on near-noise fixtures
    * (emitting the exact SSE would need r² sums past 2⁶³ or
    * order-dependent double sums — |r| keeps the readout exact and
    * engine-portable).
    *
    * SCALE: per round one data scan (the level aggregate), one
    * LEVEL-bounded window, one broadcast-stump residual projection
    * + checkpoint, one |r| readout aggregate — T sequential passes,
    * the distributed-boosting shape. Exactness: residual micro
    * sums need Σ|r| < 2⁶³ (y ≤ 10⁹ micro at n ≤ 10⁹ rows);
    * n·n_l·n_r stays in long to n ≈ 2M levels-weighted rows per
    * the cube bound — past that, pre-divide the gain spelling.
    * DEGENERATE INPUT: a frame with a SINGLE distinct x value has
    * no admissible split (every level is the last level, which the
    * n_r > 0 filter drops), so every round's best-pick is empty and
    * the op returns an EMPTY round table — the regression twin of
    * [[adaBoostStumps]]' frozen-α convention, mirrored by the
    * oracle chain (its LIMIT-1 CTE is likewise empty).
    * Output per round: (round, threshold, n_left, n_right,
    * left_micro, right_micro, sar_micro). */
  def l2BoostStumps(df: DataFrame, xCol: String, yCol: String,
                    rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    var cur = df.select(col(xCol).cast("long").as("_x"),
        (col(yCol).cast("long") * lit(1000000L)).as("_r"))
      .localCheckpoint()
    var out: DataFrame = null
    for (r <- 1 to rounds) {
      val lev = cur.groupBy(col("_x").as("thr"))
        .agg(count(lit(1)).as("_m"), sum(col("_r")).as("_s"))
        .localCheckpoint() // level-bounded; feeds tot AND the window
      val tot = lev.agg(sum(col("_m")).as("_n"),
        sum(col("_s")).as("_sall"))
      val w = Window.orderBy(col("thr"))
        .rowsBetween(Window.unboundedPreceding, 0)
      val cand = lev.withColumn("_nl", sum(col("_m")).over(w))
        .withColumn("_sl", sum(col("_s")).over(w))
        .crossJoin(broadcast(tot))
        .withColumn("_nr", col("_n") - col("_nl"))
        .where(col("_nr") > 0) // the last level splits nothing off
      def dd(c: String): Column = col(c).cast("double")
      val num = dd("_n") * dd("_sl") - dd("_nl") * dd("_sall")
      val gain = num * num /
        (col("_n") * col("_nl") * col("_nr")).cast("double")
      val best = cand.withColumn("_gain", gain)
        .withColumn("_rn", row_number().over(
          Window.orderBy(col("_gain").desc, col("thr"))))
        .where(col("_rn") === 1)
        .select(col("thr"), col("_nl"), col("_nr"),
          round(dd("_sl") / dd("_nl")).cast("long").as("_lm"),
          round((dd("_sall") - dd("_sl")) / dd("_nr")).cast("long")
            .as("_rm"))
        .localCheckpoint() // 1 row; feeds the table AND the update
      cur = cur.crossJoin(broadcast(best))
        .select(col("_x"),
          (col("_r") - when(col("_x") <= col("thr"), col("_lm"))
            .otherwise(col("_rm"))).as("_r"))
        .localCheckpoint()
      val sar = cur.agg(sum(abs(col("_r"))).as("sar_micro"))
      val row = best.crossJoin(broadcast(sar))
        .select(lit(r.toLong).as("round"), col("thr").as("threshold"),
          col("_nl").as("n_left"), col("_nr").as("n_right"),
          col("_lm").as("left_micro"), col("_rm").as("right_micro"),
          col("sar_micro"))
      out = if (out == null) row else out.unionByName(row)
    }
    out
  }

  /** L2-BOOSTING WITH DEPTH-2 REGRESSION TREES (Friedman 2001 at
    * interaction depth 2 — round-17 verdict task 4: stumps cannot
    * represent an interval/XOR concept, one more split per side
    * can): per round the best variance-reduction ROOT split picks
    * over value levels exactly as [[l2BoostStumps]], then ONE more
    * (side, value)-keyed level aggregate finds the best SUB-split
    * per side — the same prefix-sum/double-gain/(gain DESC, thr
    * ASC) machinery, windows PARTITIONED by side — and the four
    * leaf means fix to micro by one float divide each. A side with
    * a single level has no admissible sub-split and degrades to its
    * side mean on BOTH leaves (sub-threshold reads NULL — the
    * documented degenerate, mirrored by the oracle's pivoted
    * aggregate over an empty per-side best). Residuals re-fix by
    * exact integer subtraction of the leaf mean; a single-level
    * FRAME returns the EMPTY round table ([[l2BoostStumps]]'
    * degenerate convention).
    *
    * SCALE: per round TWO data scans (the root level aggregate and
    * the (side, value) aggregate), two LEVEL-bounded windows, one
    * broadcast-tree residual projection + checkpoint, one |r|
    * readout — T sequential passes, the distributed-boosting shape
    * one level deeper. Exactness bounds as [[l2BoostStumps]].
    * Output per round: (round, root_thr, left_thr, right_thr,
    * ll_micro, lr_micro, rl_micro, rr_micro, sar_micro). */
  def l2BoostTrees2(df: DataFrame, xCol: String, yCol: String,
                    rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    var cur = df.select(col(xCol).cast("long").as("_x"),
        (col(yCol).cast("long") * lit(1000000L)).as("_r"))
      .localCheckpoint()
    var out: DataFrame = null
    def dd(c: Column): Column = c.cast("double")
    for (r <- 1 to rounds) {
      val lev = cur.groupBy(col("_x").as("thr"))
        .agg(count(lit(1)).as("_m"), sum(col("_r")).as("_s"))
        .localCheckpoint() // level-bounded; feeds tot AND the window
      val tot = lev.agg(sum(col("_m")).as("_n"),
        sum(col("_s")).as("_sall"))
      val w = Window.orderBy(col("thr"))
        .rowsBetween(Window.unboundedPreceding, 0)
      val rootCand = lev.withColumn("_nl", sum(col("_m")).over(w))
        .withColumn("_sl", sum(col("_s")).over(w))
        .crossJoin(broadcast(tot))
        .withColumn("_nr", col("_n") - col("_nl"))
        .where(col("_nr") > 0)
      val rootNum = dd(col("_n")) * dd(col("_sl")) -
        dd(col("_nl")) * dd(col("_sall"))
      val root = rootCand
        .withColumn("_gain", rootNum * rootNum /
          dd(col("_n") * col("_nl") * col("_nr")))
        .withColumn("_rn", row_number().over(
          Window.orderBy(col("_gain").desc, col("thr"))))
        .where(col("_rn") === 1)
        .select(col("thr").as("_t0"))
        .localCheckpoint() // 1 row; feeds the side aggregate
      // ONE (side, value) aggregate covers BOTH sub-splits
      val slev = cur.crossJoin(broadcast(root))
        .withColumn("_sd", col("_x") <= col("_t0"))
        .groupBy(col("_sd"), col("_x").as("sthr"))
        .agg(count(lit(1)).as("_sm"), sum(col("_r")).as("_ss"))
        .localCheckpoint() // side-level bounded; totals AND window
      val stot = slev.groupBy(col("_sd"))
        .agg(sum(col("_sm")).as("_sn"), sum(col("_ss")).as("_ssall"))
      val sw = Window.partitionBy(col("_sd")).orderBy(col("sthr"))
        .rowsBetween(Window.unboundedPreceding, 0)
      val scand = slev.withColumn("_snl", sum(col("_sm")).over(sw))
        .withColumn("_ssl", sum(col("_ss")).over(sw))
        .join(stot, "_sd")
        .withColumn("_snr", col("_sn") - col("_snl"))
        .where(col("_snr") > 0)
      val subNum = dd(col("_sn")) * dd(col("_ssl")) -
        dd(col("_snl")) * dd(col("_ssall"))
      val sbest = scand
        .withColumn("_gain", subNum * subNum /
          dd(col("_sn") * col("_snl") * col("_snr")))
        .withColumn("_rn", row_number().over(
          Window.partitionBy(col("_sd"))
            .orderBy(col("_gain").desc, col("sthr"))))
        .where(col("_rn") === 1)
        .select(col("_sd"), col("sthr"),
          round(dd(col("_ssl")) / dd(col("_snl"))).cast("long")
            .as("_im"),
          round((dd(col("_ssall")) - dd(col("_ssl"))) /
            dd(col("_snr"))).cast("long").as("_om"))
      // pivot the (<= 2)-row per-side best and the side totals to
      // ONE row each; an absent side reads NULL and falls back to
      // its side mean on both leaves
      val sideAgg = sbest.agg(
        max(when(col("_sd"), col("sthr"))).as("_lthr"),
        max(when(col("_sd"), col("_im"))).as("_llm"),
        max(when(col("_sd"), col("_om"))).as("_lrm"),
        max(when(!col("_sd"), col("sthr"))).as("_rthr"),
        max(when(!col("_sd"), col("_im"))).as("_rlm"),
        max(when(!col("_sd"), col("_om"))).as("_rrm"))
      val stotAgg = stot.agg(
        max(when(col("_sd"), col("_sn"))).as("_ln"),
        max(when(col("_sd"), col("_ssall"))).as("_lsum"),
        max(when(!col("_sd"), col("_sn"))).as("_rn2"),
        max(when(!col("_sd"), col("_ssall"))).as("_rsum"))
      val best = root.crossJoin(broadcast(sideAgg))
        .crossJoin(broadcast(stotAgg))
        .select(col("_t0"), col("_lthr"), col("_rthr"),
          coalesce(col("_llm"),
            round(dd(col("_lsum")) / dd(col("_ln"))).cast("long"))
            .as("_ll"),
          coalesce(col("_lrm"),
            round(dd(col("_lsum")) / dd(col("_ln"))).cast("long"))
            .as("_lr"),
          coalesce(col("_rlm"),
            round(dd(col("_rsum")) / dd(col("_rn2"))).cast("long"))
            .as("_rl"),
          coalesce(col("_rrm"),
            round(dd(col("_rsum")) / dd(col("_rn2"))).cast("long"))
            .as("_rr"))
        .localCheckpoint() // 1 row; feeds the table AND the update
      cur = cur.crossJoin(broadcast(best))
        .select(col("_x"), (col("_r") -
          when(col("_x") <= col("_t0"),
            when(col("_x") <= col("_lthr"), col("_ll"))
              .otherwise(col("_lr")))
          .otherwise(
            when(col("_x") <= col("_rthr"), col("_rl"))
              .otherwise(col("_rr")))).as("_r"))
        .localCheckpoint()
      val sar = cur.agg(sum(abs(col("_r"))).as("sar_micro"))
      val row = best.crossJoin(broadcast(sar))
        .select(lit(r.toLong).as("round"), col("_t0").as("root_thr"),
          col("_lthr").as("left_thr"), col("_rthr").as("right_thr"),
          col("_ll").as("ll_micro"), col("_lr").as("lr_micro"),
          col("_rl").as("rl_micro"), col("_rr").as("rr_micro"),
          col("sar_micro"))
      out = if (out == null) row else out.unionByName(row)
    }
    out
  }

  /** One differencing pass at `lag`: w_t = x_t − x_{t−lag} as ONE
    * grid self-join on the shifted key (equi-join — the
    * [[arPredFrame]] plan pin applies). `base` carries (_t, _x). */
  private def diffOnce(base: DataFrame, lag: Int): DataFrame =
    base.join(base.select((col("_t") + lag).as("_t"),
        col("_x").as("_xl")), "_t")
      .select(col("_t"), (col("_x") - col("_xl")).as("_x"))

  /** GRID DIFFERENCING — the Box–Jenkins "I" (Box & Jenkins 1970
    * §4: identify → DIFFERENCE to stationarity → fit → diagnose; the
    * rung q385's adequacy loop was missing): the d-th ordinary
    * difference (lag 1, applied d times) then the D-th seasonal
    * difference at `seasonalLag`, each pass ONE grid self-join on
    * the shifted key — exact integer subtraction, no float anywhere,
    * so the differenced series is engine-portable by construction.
    * Rows keep their ORIGINAL grid index t (the first
    * d + D·seasonalLag rows simply drop out — lag joins downstream
    * only need contiguity, not a 1-origin).
    *
    * SCALE: d + D self-joins on the GRID (grid-bounded at any raw
    * volume — the [[acf]] argument), each an equi-join. Returns
    * (t, x), T − d − D·seasonalLag rows. */
  def differencedSeries(series: DataFrame, tCol: String,
                        xCol: String, d: Int, seasonalLag: Int = 1,
                        seasonalD: Int = 0): DataFrame = {
    require(d >= 0, s"d must be >= 0, got $d")
    require(seasonalD >= 0, s"seasonalD must be >= 0, got $seasonalD")
    require(d + seasonalD >= 1, "at least one difference required")
    require(seasonalD == 0 || seasonalLag >= 1,
      s"seasonalLag must be >= 1 when seasonalD > 0, got $seasonalLag")
    var cur = series.select(col(tCol).cast("long").as("_t"),
      col(xCol).cast("long").as("_x"))
    (1 to d).foreach(_ => cur = diffOnce(cur, 1))
    (1 to seasonalD).foreach(_ => cur = diffOnce(cur, seasonalLag))
    cur.select(col("_t").as("t"), col("_x").as("x"))
  }

  /** ARIMA(p,1,0)×(0,1,0)_s ONE-STEP BACKTEST (the differenced
    * sibling of [[arBacktest]], completing the Box–Jenkins loop):
    * the doubly-differenced series w_t = x_t − x_{t−1} − x_{t−s} +
    * x_{t−s−1} ([[differencedSeries]] d=1, D=1) carries the AR(p)
    * Yule–Walker fit and its in-sample one-step forecasts ŵ_t
    * ([[arPredFrame]] — identical arithmetic to [[arBacktest]] on
    * w), and the ORIGINAL-scale forecast undoes both differences
    * exactly: x̂_t = (x_{t−1} + x_{t−s} − x_{t−s−1})·10⁶ + ŵ_t — an
    * EXACT integer micro (the reconstruction terms are integer grid
    * values; ŵ carries the one rounding divide [[arBacktest]]
    * documents). Only steps with all p w-lags AND all three
    * reconstruction lags present forecast. MAE by exact division.
    *
    * SCALE: 2 differencing self-joins + the grid×p lag join + 3
    * reconstruction self-joins — all grid-bounded equi-joins; φ and
    * the w-mean ride broadcast 1-row frames. Returns
    * (t, x, pred_micro, err_micro, mae_micro). */
  def arimaBacktest(series: DataFrame, tCol: String, xCol: String,
                    order: Int, seasonalLag: Int): DataFrame = {
    require(order >= 1, s"order must be >= 1, got $order")
    require(seasonalLag >= 1,
      s"seasonalLag must be >= 1, got $seasonalLag")
    val base = series.select(col(tCol).cast("long").as("_t"),
        col(xCol).cast("long").as("_x"))
      .localCheckpoint() // feeds the diffs, 3 lag sides, the actuals
    val w = diffOnce(diffOnce(base, 1), seasonalLag)
      .localCheckpoint() // feeds the fit and the w-lag join
    val wp = arPredFrame(w, order)
      .select(col("_t"), col("pred_micro").as("_wp"))
    val pred = base
      .join(base.select((col("_t") + 1).as("_t"),
        col("_x").as("_x1")), "_t")
      .join(base.select((col("_t") + seasonalLag).as("_t"),
        col("_x").as("_xs")), "_t")
      .join(base.select((col("_t") + seasonalLag + 1).as("_t"),
        col("_x").as("_xs1")), "_t")
      .join(wp, "_t")
      .withColumn("pred_micro",
        (col("_x1") + col("_xs") - col("_xs1")) * lit(1000000L) +
          col("_wp"))
      .withColumn("err_micro",
        abs(col("_x") * lit(1000000L) - col("pred_micro")))
      .localCheckpoint() // grid-bounded; feeds rows AND the MAE
    val mae = pred.agg(sum(col("err_micro")).as("_se"),
      count(lit(1)).as("_c"))
    pred.crossJoin(broadcast(mae))
      .select(col("_t").as("t"), col("_x").as("x"),
        col("pred_micro"), col("err_micro"),
        expr("_se div _c").as("mae_micro"))
  }

  /** The Durbin-Levinson recursion state shared by [[pacf]] and
    * [[yuleWalkerAr]]: ONE row carrying the micro ACF pivot _r1.._rK,
    * the current phi row _p1.._pK, and the reflection-coefficient
    * history _f1.._fK. */
  private def durbinStateFrame(series: DataFrame, tCol: String,
                               xCol: String, maxLag: Int): DataFrame = {
    require(maxLag >= 1, s"maxLag must be >= 1, got $maxLag")
    val a = acf(series, tCol, xCol, maxLag)
    val rs = (1 to maxLag).map(k => sum(when(col("lag") === k,
      round(col("acf") * 1e6, 0).cast("long"))).as(s"_r$k"))
    var st = a.agg(rs.head, rs.tail: _*)
      .withColumn("_p1", col("_r1"))
      .withColumn("_f1", col("_r1"))
    for (k <- 2 to maxLag) {
      val num = col(s"_r$k") * lit(1000000L) -
        (1 until k).map(j => col(s"_p$j") * col(s"_r${k - j}"))
          .reduce(_ + _)
      val den = lit(1000000000000L) -
        (1 until k).map(j => col(s"_p$j") * col(s"_r$j"))
          .reduce(_ + _)
      st = st.withColumn(s"_f$k", when(den =!= 0L,
        round(lit(1e6) * num.cast("double") / den.cast("double"))
          .cast("long")))
      val upds = (1 until k).map { j =>
        col(s"_p$j") - round((col(s"_f$k") * col(s"_p${k - j}"))
          .cast("double") / lit(1e6)).cast("long")
      }
      // materialize the new φ row before overwriting the old one —
      // every update reads the PREVIOUS step's coefficients
      st = st.select((st.columns.map(col) ++
        upds.zipWithIndex.map { case (c, i) => c.as(s"_pn${i + 1}") }): _*)
      for (j <- 1 until k)
        st = st.withColumn(s"_p$j", col(s"_pn$j")).drop(s"_pn$j")
      st = st.withColumn(s"_p$k", col(s"_f$k")).localCheckpoint()
    }
    st
  }

  /** LJUNG–BOX PORTMANTEAU STATISTIC (Ljung & Box 1978 — the
    * whiteness test over the first h autocorrelations, the residual
    * check run after [[seasonalDecompose]]/a forecast):
    *   Q = n(n+2) Σ_{k=1..h} r_k²/(n−k),
    * each term computed as round(n(n+2)·r_k²_micro² /
    * ((n−k)·10⁶)) — the integer numerator n(n+2)·r² stays < 2⁶³ for
    * any grid series (needs n(n+2) < 9.2·10⁶, i.e. n ≲ 3000 grid
    * steps at |r| ≤ 1), micro-fixed per LAG before the order-free
    * sum. Null ACF lags (constant series) drop out of the sum in
    * both engines identically.
    *
    * SCALE: [[acf]]'s grid aggregate + an h-row projection. Returns
    * 1 row: (n, h, q_micro). */
  def ljungBox(series: DataFrame, tCol: String, xCol: String,
               maxLag: Int): DataFrame = {
    require(maxLag >= 1, s"maxLag must be >= 1, got $maxLag")
    val a = acf(series, tCol, xCol, maxLag)
    val nn = series.agg(count(lit(1)).as("_n"))
    a.crossJoin(broadcast(nn))
      .withColumn("_rk", round(col("acf") * 1e6, 0).cast("long"))
      .withColumn("_term", round(
        (col("_n") * (col("_n") + 2) * col("_rk") * col("_rk"))
          .cast("double") /
          ((col("_n") - col("lag")) * 1000000L).cast("double"))
        .cast("long"))
      .agg(max(col("_n")).as("n"), count(lit(1)).as("h"),
        sum(col("_term")).as("q_micro"))
  }

  /** HOLT–WINTERS ADDITIVE SMOOTHING (Holt 1957, Winters 1960 —
    * level + trend + seasonal exponential smoothing with FIXED
    * α/β/γ micro literals, the classical forecaster composing with
    * [[seasonalDecompose]] and [[acf]] into the complete pipeline).
    * The day grid collapses to ONE row (sort_array ∘ collect_list —
    * grid-bounded by construction), init is the textbook two-week
    * rule (l₀ = week-1 mean, b₀ = (week-2 − week-1 mean)/p, s_i =
    * x_i·10⁶ − l₀), and the recursion runs as a single `aggregate`
    * fold over days p+1..T:
    *   fitted f_t = l + b + s_slot   (exact micro integer)
    *   l' = round((α(x_t·10⁶ − s) + (10⁶−α)(l+b))/10⁶)
    *   b' = round((β(l'−l) + (10⁶−β)b)/10⁶)
    *   s' = round((γ(x_t·10⁶ − l') + (10⁶−γ)s)/10⁶)
    * — every product of a micro constant and a micro state stays
    * ≤ ~2·10¹⁵ (exactly representable in double AND long for
    * day-grid magnitudes |x| < 10⁹ micro), so the whole trajectory
    * hash-replays against a recursive-CTE oracle. The one-step-ahead
    * MAE over the smoothed span is the backtest readout (exact
    * integer division — errors are non-negative).
    *
    * Series shorter than 2p+1 days yield an EMPTY result (the
    * documented two-week-init minimum). SCALE: one grid aggregate +
    * one single-row fold — grid-bounded at any raw volume. The fold
    * performs T state updates, but accumulating the output
    * trajectory copies the out-array each step ([[hwStateFrame]]'s
    * `concat`), so the fold's total work is O(T²) in array copying —
    * invisible at day-grid T (a 10-year daily grid is ~3.7k steps,
    * ≈ 7M struct copies in one task) but a bound to respect before
    * pointing this at an HOURLY grid spanning years (T ≳ 50k); the
    * same n ≲ 3000-style note as [[ljungBox]]'s. Returns (t, day, x,
    * fitted_micro, err_micro, mae_micro), T−p rows. */
  def holtWinters(daily: DataFrame, dayCol: String, xCol: String,
                  alphaMicro: Long, betaMicro: Long, gammaMicro: Long,
                  period: Int): DataFrame = {
    hwStateFrame(daily, dayCol, xCol, alphaMicro, betaMicro,
      gammaMicro, period)
      .select(explode(col("_fin").getField("out")).as("o"),
        col("_fin").getField("sae").as("_sae"),
        col("_fin").getField("cnt").as("_cnt"))
      .select(col("o.t").as("t"),
        date_format(col("o.day"), "yyyy-MM-dd").as("day"),
        col("o.x").as("x"), col("o.f").as("fitted_micro"),
        col("o.e").as("err_micro"),
        expr("_sae div _cnt").as("mae_micro"))
  }

  /** h-STEP-AHEAD HOLT-WINTERS FORECAST from the final smoothed
    * state (the projection a production forecaster publishes after
    * the [[holtWinters]] replay): f_{T+h} = l + h·b + s_slot(T+h) —
    * a pure EXACT-integer projection over the final (l, b, s) state
    * row, horizon-bounded. Returns (h, day, forecast_micro). */
  def holtWintersForecast(daily: DataFrame, dayCol: String,
                          xCol: String, alphaMicro: Long,
                          betaMicro: Long, gammaMicro: Long,
                          period: Int, horizon: Int): DataFrame = {
    require(horizon >= 1, s"horizon must be >= 1, got $horizon")
    val p = period
    hwStateFrame(daily, dayCol, xCol, alphaMicro, betaMicro,
      gammaMicro, period)
      .select(size(col("_a")).cast("long").as("_tlen"),
        element_at(col("_a"), size(col("_a"))).getField("day")
          .as("_lastDay"),
        col("_fin").getField("l").as("_l"),
        col("_fin").getField("b").as("_b"),
        col("_fin").getField("s").as("_s"),
        explode(sequence(lit(1L), lit(horizon.toLong))).as("h"))
      .withColumn("_slot", ((col("_tlen") + col("h") - 1L) % p)
        .cast("int"))
      .select(col("h"),
        date_format(date_add(col("_lastDay"), col("h").cast("int")),
          "yyyy-MM-dd").as("day"),
        (col("_l") + col("h") * col("_b") +
          element_at(col("_s"), col("_slot") + 1))
          .as("forecast_micro"))
  }

  /** The additive-HW forecast-variance weights (Hyndman &
    * Athanasopoulos, Forecasting: Principles and Practice §7.5 —
    * the exponential-smoothing analogue of the AR ψ recursion):
    * c_j = α(1 + jβ) + γ·1{j ≡ 0 mod p}, fixed to micro on the
    * DRIVER from the caller's micro literals (pure rational
    * arithmetic — the NDCG embed-identical-literals convention),
    * and Σc² cumulated exactly in long:
    * sumc2(h) = 10¹² + Σ_{j<h} c_j². Shared by [[hwForecastBand]]
    * and its SQL twin so the two sides CANNOT drift. */
  private[graft] def hwBandSumc2(alphaMicro: Long, betaMicro: Long,
                                 gammaMicro: Long, period: Int,
                                 horizon: Int): Seq[Long] = {
    val cs = (1 until horizon).map(j => alphaMicro +
      LinAlg.rnd(alphaMicro.toDouble * betaMicro.toDouble * j / 1e6) +
      (if (j % period == 0) gammaMicro else 0L))
    (1 to horizon).map(h =>
      1000000000000L + (1 until h).map(j => cs(j - 1) * cs(j - 1)).sum)
  }

  /** HOLT–WINTERS h-STEP FORECAST WITH PREDICTION INTERVALS (the
    * [[arForecastBand]] move applied to [[holtWintersForecast]] —
    * round-17 verdict task 3 completed for the smoothing family):
    * the point forecast is [[holtWintersForecast]]'s exact-integer
    * projection; σ̂² comes from the one-step smoothing errors
    * (err² micro-fixed in doubles over exact ints, ONE exact
    * division — the [[arForecastBand]] spelling); the variance fan
    * uses the published additive-HW weights ([[hwBandSumc2]] —
    * driver-fixed micro literals embedded identically in BOTH
    * engines), se_h = √(σ̂²·sumc2_h)/10³ and the band
    * f ± round(z·se/10⁶). A series below the two-week init minimum
    * yields an EMPTY result (the [[holtWinters]] convention).
    *
    * SCALE: the [[hwStateFrame]] grid collapse (+ its documented
    * O(T²) fold-copy bound) + one error aggregate + a
    * horizon-bounded projection. Output `horizon` rows: (h, day,
    * forecast_micro, se_micro, lo_micro, hi_micro). */
  def hwForecastBand(daily: DataFrame, dayCol: String, xCol: String,
                     alphaMicro: Long, betaMicro: Long,
                     gammaMicro: Long, period: Int, horizon: Int,
                     zMicro: Long): DataFrame = {
    require(horizon >= 1, s"horizon must be >= 1, got $horizon")
    require(zMicro > 0, s"zMicro must be > 0, got $zMicro")
    val fc = holtWintersForecast(daily, dayCol, xCol, alphaMicro,
      betaMicro, gammaMicro, period, horizon)
    val s2 = holtWinters(daily, dayCol, xCol, alphaMicro, betaMicro,
        gammaMicro, period)
      .select(round(col("err_micro").cast("double") *
        col("err_micro").cast("double") / lit(1e6)).cast("long")
        .as("_e2"))
      .agg(sum(col("_e2")).as("_se2"), count(lit(1)).as("_c"))
      .select(when(col("_c") > 0, expr("_se2 div _c")).as("_s2"))
    val sumc2 = hwBandSumc2(alphaMicro, betaMicro, gammaMicro,
      period, horizon)
    val sc2 = (2 to horizon).foldLeft(
      when(col("h") === 1L, lit(sumc2.head))) { (acc, h) =>
      acc.when(col("h") === h.toLong, lit(sumc2(h - 1))) }
    fc.crossJoin(broadcast(s2))
      .withColumn("_sc2", sc2)
      .withColumn("se_micro",
        round(sqrt(col("_s2").cast("double") *
          col("_sc2").cast("double")) / lit(1e3)).cast("long"))
      .select(col("h"), col("day"), col("forecast_micro"),
        col("se_micro"),
        (col("forecast_micro") -
          round((col("se_micro") * lit(zMicro)).cast("double") /
            lit(1e6)).cast("long")).as("lo_micro"),
        (col("forecast_micro") +
          round((col("se_micro") * lit(zMicro)).cast("double") /
            lit(1e6)).cast("long")).as("hi_micro"))
  }

  /** The shared [[holtWinters]] state builder: the day grid as ONE
    * sorted row plus the `aggregate`-fold final state `_fin`
    * (l, b, s[period], sae, cnt, out). NOTE the trajectory
    * accumulation (`concat(st.out, array(...))`) copies the
    * accumulated array every step — O(T²) copying overall, fine at
    * day-grid T, documented as a bound on [[holtWinters]]. */
  private def hwStateFrame(daily: DataFrame, dayCol: String,
                           xCol: String, alphaMicro: Long,
                           betaMicro: Long, gammaMicro: Long,
                           period: Int): DataFrame = {
    require(period >= 1, s"period must be >= 1, got $period")
    Seq(alphaMicro, betaMicro, gammaMicro).foreach(c =>
      require(c >= 0 && c <= 1000000L, s"smoothing const $c not micro"))
    val p = period
    val arr = daily
      .select(col(dayCol).cast("date").as("_day"),
        col(xCol).cast("long").as("_x"))
      .withColumn("_t",
        row_number().over(Window.orderBy(col("_day"))).cast("long"))
      .agg(sort_array(collect_list(struct(col("_t").as("t"),
        col("_day").as("day"), col("_x").as("x")))).as("_a"))
      .where(size(col("_a")) >= 2 * p + 1)
    val a = col("_a")
    val sum1 = aggregate(slice(a, 1, p), lit(0L),
      (acc, e) => acc + e.getField("x"))
    val sum2 = aggregate(slice(a, p + 1, p), lit(0L),
      (acc, e) => acc + e.getField("x"))
    val l0 = round(sum1.cast("double") * lit(1e6) / lit(p.toDouble))
      .cast("long")
    val b0 = round((sum2 - sum1).cast("double") * lit(1e6) /
      lit((p * p).toDouble)).cast("long")
    val s0 = transform(slice(a, 1, p),
      e => e.getField("x") * lit(1000000L) - l0)
    val outType = "array<struct<t:bigint,day:date,x:bigint," +
      "f:bigint,e:bigint>>"
    val init = struct(l0.as("l"), b0.as("b"), s0.as("s"),
      lit(0L).as("sae"), lit(0L).as("cnt"),
      array().cast(outType).as("out"))
    val am = lit(alphaMicro); val amC = lit(1000000L - alphaMicro)
    val bm = lit(betaMicro); val bmC = lit(1000000L - betaMicro)
    val gm = lit(gammaMicro); val gmC = lit(1000000L - gammaMicro)
    // greatest(…, 0): on a row the size-guard filter REJECTS, fused
    // codegen can still evaluate this shared subexpression first —
    // a negative slice length throws before the predicate gates
    // (round-18 EmptyInputSpec); the clamp is a no-op on every
    // surviving row (size ≥ 2p+1 ⇒ size − p > 0)
    val fin = aggregate(
      slice(a, lit(p + 1), greatest(size(a) - lit(p), lit(0))), init,
      (st, e) => {
        val idx0 = ((e.getField("t") - 1) % p).cast("int")
        val sIdx = element_at(st.getField("s"), idx0 + 1)
        val lPrev = st.getField("l")
        val bPrev = st.getField("b")
        val f = lPrev + bPrev + sIdx
        val xm = e.getField("x") * lit(1000000L)
        val lNew = round((am * (xm - sIdx) + amC * (lPrev + bPrev))
          .cast("double") / lit(1e6)).cast("long")
        val bNew = round((bm * (lNew - lPrev) + bmC * bPrev)
          .cast("double") / lit(1e6)).cast("long")
        val sNew = round((gm * (xm - lNew) + gmC * sIdx)
          .cast("double") / lit(1e6)).cast("long")
        val sArr = transform(st.getField("s"),
          (v, i) => when(i === idx0, sNew).otherwise(v))
        struct(lNew.as("l"), bNew.as("b"), sArr.as("s"),
          (st.getField("sae") + abs(xm - f)).as("sae"),
          (st.getField("cnt") + 1L).as("cnt"),
          concat(st.getField("out"), array(struct(
            e.getField("t").as("t"), e.getField("day").as("day"),
            e.getField("x").as("x"), f.as("f"),
            abs(xm - f).as("e")))).as("out"))
      })
    arr.withColumn("_fin", fin)
  }

  /** Pearson chi-square test of independence over two categorical
    * columns (the SRM / guardrail check run next to a CUPED readout:
    * is the outcome mix independent of the assignment?).
    *
    * chi2 = Σ_cells (O·N − r·c)² / (N·r·c) over the observed count O,
    * row margin r, column margin c, total N. DETERMINISM: O·N − r·c
    * is an EXACT integer per cell; its square and the one divide run
    * in doubles over those identical integers, fixed to integer
    * micro-units per cell before the order-free sum (the q186
    * convention — a raw double Σ over cells would expose summation
    * order). Requires O·N < 2^63: fine to ~3·10^9 rows per side.
    *
    * SCALE: ONE map-side-combinable groupBy(row, col) pass over the
    * data; margins and the total derive from that contingency table
    * (checkpointed once — category-domain bounded, not data bounded)
    * and broadcast back. Returns one row: n, n_cells, dof, chi2,
    * cramers_v. */
  def chiSquareIndependence(df: DataFrame, rowCol: String,
                            colCol: String): DataFrame = {
    val o = df.groupBy(col(rowCol).as("_r"), col(colCol).as("_c"))
      .agg(count(lit(1)).as("_o"))
      .localCheckpoint() // feeds margins, total, and the cell pass
    val rm = o.groupBy(col("_r")).agg(sum(col("_o")).as("_rt"))
    val cm = o.groupBy(col("_c")).agg(sum(col("_o")).as("_ct"))
    val tot = o.agg(sum(col("_o")).as("_n"),
      count_distinct(col("_r")).as("_nr"),
      count_distinct(col("_c")).as("_nc"))
    o.join(broadcast(rm), "_r").join(broadcast(cm), "_c")
      .crossJoin(broadcast(tot))
      .withColumn("_dev",
        (col("_o") * col("_n") - col("_rt") * col("_ct")).cast("double"))
      .withColumn("_cell_micro",
        round(col("_dev") * col("_dev") /
          (col("_n") * col("_rt") * col("_ct")).cast("double") * 1e6, 0)
          .cast("long"))
      .groupBy()
      .agg(first(col("_n")).as("n"),
        count(lit(1)).as("n_cells"),
        first(col("_nr")).as("_r2"), first(col("_nc")).as("_c2"),
        sum(col("_cell_micro")).as("_chi2_micro"))
      .select(col("n"), col("n_cells"),
        ((col("_r2") - 1) * (col("_c2") - 1)).as("dof"),
        round(col("_chi2_micro").cast("double") / 1e6, 6).as("chi2"),
        // a constant column (1 category) zeroes least(r−1, c−1) —
        // Cramér's V is undefined there; return null, never a NaN
        // (the mutualInformation mi_normalized guard convention)
        when(least(col("_r2") - 1, col("_c2") - 1) > 0,
          round(sqrt(col("_chi2_micro").cast("double") / 1e6 /
            (col("n") * least(col("_r2") - 1, col("_c2") - 1))
              .cast("double")), 6)).as("cramers_v"))
  }

  /** Jensen–Shannon divergence between two bucketed count tables
    * (each (bucketCol, countCol)) — the SYMMETRIC, bounded [0, ln 2]
    * drift measure next to PSI (which blows up on empty buckets; JSD
    * contributes exactly 0 there). Per-bucket contributions
    * p·ln(2p/(p+q)) are computed from EXACT integer rationals
    * (2·cp·Nq / (cp·Nq + cq·Np)) and fixed to integer micro-nats
    * before the order-free sum (the q186 convention). One full-outer
    * join of two bucket-domain-bounded aggregates + two 1-row
    * broadcasts. Returns (n_buckets, np_total, nq_total, jsd) in
    * nats.
    *
    * Contract (the chiSquareIndependence convention): the integer
    * rationals cp·Nq and cq·Np must stay inside Long —
    * max_bucket_count · other_side_total < 2^63. That holds to
    * ~10^9 rows per side with any bucket split; for 10^10+-token
    * corpora pre-scale the counts (divide both sides by a common
    * factor — JSD is scale-invariant in the two distributions). */
  def jensenShannon(p: DataFrame, q: DataFrame, bucketCol: String,
                    countCol: String): DataFrame = {
    val pc = p.select(col(bucketCol).as("_b"),
      col(countCol).cast("long").as("_cp"))
    val qc = q.select(col(bucketCol).as("_b"),
      col(countCol).cast("long").as("_cq"))
    val np = pc.agg(sum(col("_cp")).as("_np"))
    val nq = qc.agg(sum(col("_cq")).as("_nq"))
    def term(cSelf: Column, nSelf: Column, cOther: Column,
             nOther: Column): Column =
      when(cSelf > 0, round(
        cSelf.cast("double") / nSelf.cast("double") *
          log((lit(2L) * cSelf * nOther).cast("double") /
            (cSelf * nOther + cOther * nSelf).cast("double")) * 1e6, 0)
        .cast("long")).otherwise(lit(0L))
    pc.join(qc, Seq("_b"), "full_outer")
      .select(coalesce(col("_cp"), lit(0L)).as("_cp"),
        coalesce(col("_cq"), lit(0L)).as("_cq"))
      .crossJoin(broadcast(np)).crossJoin(broadcast(nq))
      .select(
        term(col("_cp"), col("_np"), col("_cq"), col("_nq")).as("_tp"),
        term(col("_cq"), col("_nq"), col("_cp"), col("_np")).as("_tq"),
        col("_np"), col("_nq"))
      .agg(count(lit(1)).as("n_buckets"),
        first(col("_np")).as("np_total"),
        first(col("_nq")).as("nq_total"),
        round((sum(col("_tp")) + sum(col("_tq"))).cast("double") / 2e6, 6)
          .as("jsd"))
  }

  /** Mutual information I(X; Y) between two categorical columns, plus
    * the marginal entropies — the information-theoretic
    * feature-relevance measure next to [[jensenShannon]] (distribution
    * drift) and PMI (q203, pairwise association). Everything derives
    * from ONE contingency pass: per-cell contributions
    * (c_xy/N)·ln(c_xy·N/(c_x·c_y)) come from EXACT integer rationals,
    * fixed to integer micro-nats before the order-free sum (the q186
    * convention); empty cells contribute exactly 0 by construction.
    *
    * Returns (n, n_cells, hx, hy, mi, mi_normalized) in nats, with
    * mi_normalized = mi/min(hx, hy) (null when either entropy is 0 —
    * a constant column carries no information). Scale: the
    * contingency table is category-domain bounded; margins derive
    * from it (checkpointed once) and broadcast back. */
  def mutualInformation(df: DataFrame, xCol: String,
                        yCol: String): DataFrame = {
    val o = df.groupBy(col(xCol).as("_x"), col(yCol).as("_y"))
      .agg(count(lit(1)).as("_c"))
      .localCheckpoint() // feeds margins, total, and the cell pass
    val xm = o.groupBy(col("_x")).agg(sum(col("_c")).as("_cx"))
    val ym = o.groupBy(col("_y")).agg(sum(col("_c")).as("_cy"))
    val tot = o.agg(sum(col("_c")).as("_n"))
    def entMicro(cnt: Column, n: Column): Column =
      round(cnt.cast("double") / n.cast("double") *
        log(n.cast("double") / cnt.cast("double")) * 1e6, 0)
        .cast("long")
    val hx = xm.crossJoin(broadcast(tot))
      .agg(sum(entMicro(col("_cx"), col("_n"))).as("_hxm"))
    val hy = ym.crossJoin(broadcast(tot))
      .agg(sum(entMicro(col("_cy"), col("_n"))).as("_hym"))
    o.join(broadcast(xm), "_x").join(broadcast(ym), "_y")
      .crossJoin(broadcast(tot))
      .select(col("_n"),
        round(col("_c").cast("double") / col("_n").cast("double") *
          log((col("_c") * col("_n")).cast("double") /
            (col("_cx") * col("_cy")).cast("double")) * 1e6, 0)
          .cast("long").as("_mi"))
      .agg(first(col("_n")).as("n"), count(lit(1)).as("n_cells"),
        sum(col("_mi")).as("_mim"))
      .crossJoin(broadcast(hx)).crossJoin(broadcast(hy))
      .select(col("n"), col("n_cells"),
        round(col("_hxm").cast("double") / 1e6, 6).as("hx"),
        round(col("_hym").cast("double") / 1e6, 6).as("hy"),
        round(col("_mim").cast("double") / 1e6, 6).as("mi"),
        when(least(col("_hxm"), col("_hym")) > 0,
          round(col("_mim").cast("double") /
            least(col("_hxm"), col("_hym")).cast("double"), 6))
          .as("mi_normalized"))
  }

  /** EXACT global rank statistics per distinct value of a LONG column
    * — (value, cnt, below) where `below` counts rows strictly
    * smaller — WITHOUT a global sort: the two-level prefix sum (the
    * q181/rocAuc pattern). Rows collapse map-side to per-value
    * counts; values pre-bucket by their high bits (arithmetic shift,
    * so bucket order == numeric order for negatives); an O(buckets)
    * driver matrix seeds each bucket's running total; the only window
    * partitions BY BUCKET. This is the primitive behind average
    * ranks, equi-depth binning, and rank correlation at any
    * cardinality — no single-partition window anywhere. */
  def valueRanks(df: DataFrame, valueCol: String,
                 bucketShift: Int = 32): DataFrame = {
    val grouped = df.groupBy(col(valueCol).cast("long").as("value"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("_b", shiftright(col("value"), bucketShift))
      .localCheckpoint() // feeds the bucket matrix AND the scan below
    val perBucket = grouped.groupBy(col("_b"))
      .agg(sum(col("cnt")).as("_bn")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val starts = perBucket.map(_._1)
      .zip(perBucket.scanLeft(0L)(_ + _._2))
    val spark = df.sparkSession
    import spark.implicits._
    val offDf = starts.toSeq.toDF("_b", "_start")
    val win = Window.partitionBy(col("_b")).orderBy(col("value"))
      .rowsBetween(Window.unboundedPreceding, -1)
    grouped.join(broadcast(offDf), Seq("_b"))
      .select(col("value"), col("cnt"),
        (col("_start") + coalesce(sum(col("cnt")).over(win), lit(0L)))
          .as("below"))
  }

  /** Spearman rank correlation between two LONG columns, EXACT with
    * average-tie ranks and no global sort (two [[valueRanks]] passes).
    *
    * Ranks are centered before any product: d = 2·avgRank − (n+1) =
    * 2·below + cnt − n is a mean-ZERO exact integer (Σ of doubled avg
    * ranks is n(n+1) by construction), so
    * rho = Σ d_x·d_y / (√Σd_x² · √Σd_y²) needs only n³ < 2^63 —
    * exact to ~2·10^6 rows per correlation; uncentered sufficient
    * statistics would overflow at ~4·10^4. One float divide at the
    * end on identical integers. Returns (n, rho); rho is null when
    * either side is constant. */
  def spearman(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val d = df.select(col(xCol).cast("long").as("_x"),
      col(yCol).cast("long").as("_y"))
      .localCheckpoint() // feeds two rank passes AND the row join
    val n = d.agg(count(lit(1)).as("_n"))
    val rx = valueRanks(d, "_x")
      .select(col("value").as("_x"),
        (lit(2L) * col("below") + col("cnt")).as("_u"))
    val ry = valueRanks(d, "_y")
      .select(col("value").as("_y"),
        (lit(2L) * col("below") + col("cnt")).as("_v"))
    d.join(rx, Seq("_x")).join(ry, Seq("_y"))
      .crossJoin(broadcast(n))
      .select(col("_n"), (col("_u") - col("_n")).as("_du"),
        (col("_v") - col("_n")).as("_dv"))
      .agg(first(col("_n")).as("n"),
        sum(col("_du") * col("_dv")).as("_sxy"),
        sum(col("_du") * col("_du")).as("_sxx"),
        sum(col("_dv") * col("_dv")).as("_syy"))
      .select(col("n"),
        when(col("_sxx") > 0 && col("_syy") > 0,
          round(col("_sxy").cast("double") /
            (sqrt(col("_sxx").cast("double")) *
             sqrt(col("_syy").cast("double"))), 6)).as("rho"))
  }

  /** Equi-depth (quantile) discretization of a LONG column into
    * `bins` rank-balanced bins — the feature-binning artifact: bin =
    * below·bins div n, so every tie group lands in one bin and bin
    * populations are as equal as ties allow. EXACT ranks from
    * [[valueRanks]] (no global sort, no approx-percentile drift);
    * returns the bin dictionary (bin, n, lo, hi) a transformer
    * broadcasts back onto rows. */
  def equiDepthBins(df: DataFrame, valueCol: String,
                    bins: Int): DataFrame = {
    val ranked = valueRanks(df, valueCol)
    val n = ranked.agg(sum(col("cnt")).as("_n"))
    ranked.crossJoin(broadcast(n))
      .withColumn("bin", expr(s"(below * $bins) DIV _n"))
      .groupBy(col("bin"))
      .agg(sum(col("cnt")).as("n"),
        min(col("value")).as("lo"), max(col("value")).as("hi"))
  }

  /** SHANNON ENTROPY of the `itemCol` distribution per group (the
    * token-diversity / class-balance readout next to [[histogram]]
    * and the q229 divergences; the generic, EXACT-integer sibling of
    * q112's per-doc float-log2 spelling): H = ln N − (Σ c·ln c)/N in nats.
    * Each distinct count's ln c is fixed to integer MICRO-NATS before
    * the weighted cross-item sum (the q186 convention), so the only
    * float steps are the final ln N and one divide — identical
    * sequential ops in any engine. `entropy_norm` = H / ln(vocab)
    * (the evenness index), null when vocab = 1 (the cramers_v
    * degenerate-input guard convention).
    *
    * SCALE: one (group, item) hash aggregate (map-side combinable)
    * then one group-sized aggregate — the item stream is never
    * shuffled twice; Long is safe to c ≤ ~5e11 items per (group,
    * item) cell (c · round(ln c · 1e6) < 2^63). */
  def shannonEntropy(df: DataFrame, groupCol: String,
                     itemCol: Column): DataFrame =
    df.select(col(groupCol), itemCol.as("_it"))
      .groupBy(col(groupCol), col("_it"))
      .agg(count(lit(1)).as("_c"))
      .groupBy(col(groupCol))
      .agg(sum(col("_c")).as("n"),
        count(lit(1)).as("vocab"),
        sum(col("_c") * round(log(col("_c").cast("double")) * 1e6, 0)
          .cast("long")).as("_s"))
      .select(col(groupCol), col("n"), col("vocab"),
        round(log(col("n").cast("double")) -
          col("_s").cast("double") / 1e6 / col("n"), 6)
          .as("entropy_nats"),
        when(col("vocab") > 1,
          round((log(col("n").cast("double")) -
            col("_s").cast("double") / 1e6 / col("n")) /
            log(col("vocab").cast("double")), 6)).as("entropy_norm"))

  /** ONE-PASS RIDGE REGRESSION by normal equations + Cramer's rule
    * (3 features, no intercept — the closed form): β = (XᵀX + λI)⁻¹Xᵀy
    * where every entry of XᵀX, Xᵀy, and yᵀy is ONE exact integer SUM
    * over the (already integer-scaled) feature columns — the whole
    * model fits from a single map-side-combinable aggregate, and the
    * 3×3 solve is pure arithmetic ON THE 1-ROW SUMS FRAME (Cramer
    * determinants — no collect, no iteration, no second pass). The
    * training-R² readout needs no extra scan either: SSE = yᵀy −
    * 2βᵀ(Xᵀy) + βᵀ(XᵀX)β is again arithmetic over the same row.
    *
    * Exactness: the Gram sums are exact longs; the determinants and β
    * are the one identically-spelled float expression block (q186
    * convention — the sums are integers exactly representable in
    * doubles, and IEEE arithmetic over a pinned expression tree
    * replays bit-for-bit in any engine), fixed to micro-units.
    *
    * SCALE: the 100 TB design point is the whole point of the closed
    * form — one aggregate pass (9 sums), zero shuffles beyond it,
    * zero driver math. λ rides in integer units of the feature scale.
    * Output 1 row: (n, b1_micro, b2_micro, b3_micro, r2_micro). */
  def ridgeCramer3(df: DataFrame, x1: String, x2: String, x3: String,
                   y: String, lambda: Long): DataFrame =
    cramerRidgeSolve3(gramSums3(df, x1, x2, x3, y, Nil), lambda, Nil)

  /** The RAW Gram sums behind [[ridgeCramer3]], optionally grouped —
    * exactly the shape a STREAMING per-window fit maintains as state
    * (q309: eleven longs per open window, the ultimate sketch).
    * Output per group: (groupCols..., n, s11, s12, s13, s22, s23,
    * s33, b1, b2, b3, syy) — all exact integer sums, every one
    * map-side combinable. */
  def gramSums3(df: DataFrame, x1: String, x2: String, x3: String,
                y: String, groupCols: Seq[Column]): DataFrame = {
    val (c1, c2, c3, cy) = (col(x1).cast("long"), col(x2).cast("long"),
      col(x3).cast("long"), col(y).cast("long"))
    df.groupBy(groupCols: _*).agg(
      count(lit(1)).as("n"),
      sum(c1 * c1).as("s11"), sum(c1 * c2).as("s12"),
      sum(c1 * c3).as("s13"),
      sum(c2 * c2).as("s22"), sum(c2 * c3).as("s23"),
      sum(c3 * c3).as("s33"),
      sum(c1 * cy).as("b1"), sum(c2 * cy).as("b2"),
      sum(c3 * cy).as("b3"), sum(cy * cy).as("syy"))
  }

  /** The Cramer solve over a [[gramSums3]] frame — a pure PROJECTION
    * (one row per fitted group; λ joins the diagonal here), so it
    * runs identically over the one-row batch aggregate (q305) and a
    * landed streaming per-window sums table (q309).
    * Output: (keep..., n, b1_micro, b2_micro, b3_micro, r2_micro). */
  def cramerRidgeSolve3(sums: DataFrame, lambda: Long,
                        keep: Seq[String]): DataFrame = {
    require(lambda >= 0, s"lambda must be >= 0, got $lambda")
    val withA = sums.select(keep.map(col) ++ Seq(
      col("n"), col("syy"), col("b1"), col("b2"), col("b3"),
      (col("s11") + lit(lambda)).as("a11"), col("s12").as("a12"),
      col("s13").as("a13"),
      (col("s22") + lit(lambda)).as("a22"), col("s23").as("a23"),
      (col("s33") + lit(lambda)).as("a33")): _*)
    // Cramer determinants ([[LinAlg.det]]); symmetric A, so a21 = a12
    import LinAlg.det
    def d(c: String): Column = col(c).cast("double")
    val dA = det(d("a11"), d("a12"), d("a13"),
      d("a12"), d("a22"), d("a23"), d("a13"), d("a23"), d("a33"))
    val d1 = det(d("b1"), d("a12"), d("a13"),
      d("b2"), d("a22"), d("a23"), d("b3"), d("a23"), d("a33"))
    val d2 = det(d("a11"), d("b1"), d("a13"),
      d("a12"), d("b2"), d("a23"), d("a13"), d("b3"), d("a33"))
    val d3 = det(d("a11"), d("a12"), d("b1"),
      d("a12"), d("a22"), d("b2"), d("a13"), d("a23"), d("b3"))
    val withB = withA.select(keep.map(col) ++ Seq(col("n"), col("syy"),
      col("b1"), col("b2"), col("b3"),
      col("a11"), col("a12"), col("a13"), col("a22"), col("a23"),
      col("a33"),
      (d1 / dA).as("_b1"), (d2 / dA).as("_b2"),
      (d3 / dA).as("_b3")): _*)
    // SSE and R² from the same sums (no-intercept R² = 1 − SSE/yᵀy)
    val bAb = col("_b1") * col("_b1") * d("a11") +
      col("_b2") * col("_b2") * d("a22") +
      col("_b3") * col("_b3") * d("a33") +
      lit(2.0) * (col("_b1") * col("_b2") * d("a12") +
        col("_b1") * col("_b3") * d("a13") +
        col("_b2") * col("_b3") * d("a23"))
    val btb = col("_b1") * d("b1") + col("_b2") * d("b2") +
      col("_b3") * d("b3")
    withB.select(keep.map(col) ++ Seq(col("n"),
      round(col("_b1") * 1e6).cast("long").as("b1_micro"),
      round(col("_b2") * 1e6).cast("long").as("b2_micro"),
      round(col("_b3") * 1e6).cast("long").as("b3_micro"),
      round((lit(1.0) - (d("syy") - lit(2.0) * btb + bAb) / d("syy"))
        * 1e6).cast("long").as("r2_micro")): _*)
  }

  /** BINARY-SEGMENTATION CHANGEPOINT, first split (Scott & Knott
    * 1974; the opening move of every binary-segmentation detector —
    * the level-shift sibling of the sequential CUSUM readouts): per
    * group, order the series by (ts, tie), and pick the split index i
    * maximizing the between-segment sum of squares
    *   gain(i) = S_i²/i + (S−S_i)²/(n−i) − S²/n
    * over 1 ≤ i ≤ n−1. Prefix sums S_i and totals are EXACT integer
    * aggregates; gain is ONE identically-spelled float expression
    * rounded to whole squared-y units (its natural magnitude — a
    * micro scale would overflow: gain ≤ S²/n ~ 10¹³ at centi-value
    * scale), and the argmax is (gain desc, i asc) via max_by —
    * deterministic under rounding ties, partial-aggregable, no
    * second window. A 1-row group (no valid split) drops.
    *
    * SCALE: the only sort is the per-group series window — the
    * partition-bounded sort every per-key sessionization pays; the
    * argmax and the totals are hash aggregates. Output per group:
    * (groupCol, n, split_i, split_ts, left_n, left_sum, right_sum,
    * gain_units). */
  def changepoint1(df: DataFrame, groupCol: String, tsCol: String,
                   tieCol: String, yCol: String): DataFrame = {
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col(tsCol), col(tieCol))
    val y = col(yCol).cast("long")
    val pre = df.select(col(groupCol), col(tsCol), col(tieCol), y.as("_y"))
      .withColumn("_i", row_number().over(w).cast("long"))
      .withColumn("_si", sum(col("_y")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val totals = pre.groupBy(col(groupCol))
      .agg(max(col("_i")).as("_n"), sum(col("_y")).as("_s"))
    val cand = pre.join(totals, Seq(groupCol))
      .where(col("_i") < col("_n"))
      .withColumn("_gain", round(
        col("_si").cast("double") * col("_si").cast("double") /
          col("_i").cast("double") +
        (col("_s") - col("_si")).cast("double") *
          (col("_s") - col("_si")).cast("double") /
          (col("_n") - col("_i")).cast("double") -
        col("_s").cast("double") * col("_s").cast("double") /
          col("_n").cast("double")).cast("long"))
    cand.groupBy(col(groupCol))
      .agg(first(col("_n")).as("n"),
        max_by(struct(col("_i"), col(tsCol), col("_si"), col("_gain")),
          struct(col("_gain"), (-col("_i")).as("_ni"))).as("_best"))
      .select(col(groupCol), col("n"),
        col("_best._i").as("split_i"),
        date_format(col(s"_best.$tsCol"), "yyyy-MM-dd HH:mm:ss")
          .as("split_ts"),
        col("_best._i").as("left_n"),
        col("_best._si").as("left_sum"),
        col("_best._gain").as("gain_units"))
      .join(totals.select(col(groupCol), col("_s")), Seq(groupCol))
      .withColumn("right_sum", col("_s") - col("left_sum"))
      .drop("_s")
  }

  /** K-FOLD CROSS-VALIDATION OF THE RIDGE FIT WITHOUT RE-SCANNING
    * (the Gram-sum additivity trick — the reason normal-equation
    * models are the right shape at 100 TB): fold f's TRAINING sums
    * are total − fold (Gram sums are additive, so leave-fold-out
    * models cost pure arithmetic over the k-row fold-sums table after
    * ONE data pass), each fold's β solves through the q305
    * [[cramerRidgeSolve3]] block, and the HELD-OUT error needs no
    * scoring scan either: SSE_f = syy_f − 2βᵀb_f + βᵀS_fβ is
    * arithmetic over the SAME fold sums (S_f = the fold's raw Gram
    * matrix — evaluation uses the true SSE, no λ). β enters the SSE
    * at its published micro precision (bi_micro/10⁶) so both engines
    * evaluate identical operands.
    *
    * Output per fold: (foldCol, n_train, n_test, b1_micro, b2_micro,
    * b3_micro, sse_units, rmse_micro). */
  def ridgeCv3(df: DataFrame, x1: String, x2: String, x3: String,
               y: String, foldCol: String, lambda: Long): DataFrame = {
    val folds = gramSums3(df, x1, x2, x3, y, Seq(col(foldCol)))
      .localCheckpoint() // feeds totals, the loo subtraction, the SSE
    val sumCols = Seq("n", "s11", "s12", "s13", "s22", "s23", "s33",
      "b1", "b2", "b3", "syy")
    val totals = folds.agg(
      sum(col("n")).as("tn"),
      sumCols.tail.map(c => sum(col(c)).as(s"t$c")): _*)
    val loo = folds.crossJoin(broadcast(totals))
      .select(col(foldCol) +: col("n").as("n_test") +:
        (col("tn") - col("n")).as("n") +:
        sumCols.tail.map(c => (col(s"t$c") - col(c)).as(c)): _*)
    val beta = cramerRidgeSolve3(loo, lambda,
        keep = Seq(foldCol, "n_test"))
      .withColumnRenamed("n", "n_train")
      .drop("r2_micro") // training R² of the loo fit isn't the readout
    def bd(c: String): Column = col(c).cast("double") / lit(1e6)
    def d(c: String): Column = col(c).cast("double")
    val sse = d("syy") -
      lit(2.0) * (bd("b1_micro") * d("b1") + bd("b2_micro") * d("b2") +
        bd("b3_micro") * d("b3")) +
      (bd("b1_micro") * bd("b1_micro") * d("s11") +
        bd("b2_micro") * bd("b2_micro") * d("s22") +
        bd("b3_micro") * bd("b3_micro") * d("s33") +
        lit(2.0) * (bd("b1_micro") * bd("b2_micro") * d("s12") +
          bd("b1_micro") * bd("b3_micro") * d("s13") +
          bd("b2_micro") * bd("b3_micro") * d("s23")))
    beta.join(folds, Seq(foldCol))
      .withColumn("sse_units", round(sse).cast("long"))
      .withColumn("rmse_micro", round(sqrt(
        greatest(sse, lit(0.0)) / col("n_test").cast("double")) * 1e6)
        .cast("long"))
      .select(col(foldCol), col("n_train"), col("n_test"),
        col("b1_micro"), col("b2_micro"), col("b3_micro"),
        col("sse_units"), col("rmse_micro"))
  }

  /** KENDALL'S τ-b rank correlation with tie correction (Kendall
    * 1945) — completing the correlation family next to the Pearson
    * Gram sums and [[spearman]]: rows collapse to the 2-D
    * (x-level, y-level, n) CONTINGENCY first (the level-table
    * convention — concordance is a function of the grid, never of
    * row pairs), concordant/discordant pair masses come from
    * cell×cell joins over the level grid
    *   P = Σ_ij n_ij · Σ_{i'<i, j'<j} n_i'j'   (strictly both-less)
    *   Q = Σ_ij n_ij · Σ_{i'<i, j'>j} n_i'j'
    * — EXACT integers (P, Q ≤ n(n−1)/2 < 2⁶³ to ~4·10⁹ rows) — and
    *   τ_b = (P − Q) / √((n0−n1)(n0−n2))
    * with n0 = n(n−1)/2, n1/n2 the x/y tie masses; only the final
    * √·divide is float (one identically-spelled expression, micro
    * rounded). The grid joins are O(L⁴) in LEVEL count — bucket to
    * fixed precision and they broadcast; null levels drop (a rank
    * statistic is undefined on nulls). Output 1 row:
    * (n, p_pairs, q_pairs, tie_x, tie_y, tau_b_micro). */
  def kendallTauB(df: DataFrame, xCol: String,
                  yCol: String): DataFrame = {
    val cells = df
      .select(col(xCol).cast("long").as("_x"),
        col(yCol).cast("long").as("_y"))
      .where(col("_x").isNotNull && col("_y").isNotNull)
      .groupBy(col("_x"), col("_y")).agg(count(lit(1)).as("_m"))
      .localCheckpoint() // feeds margins + both grid joins
    val other = cells.select(col("_x").as("_x2"), col("_y").as("_y2"),
      col("_m").as("_m2"))
    val conc = cells.join(broadcast(other),
        col("_x2") < col("_x") && col("_y2") < col("_y"))
      .agg(coalesce(sum(col("_m") * col("_m2")), lit(0L)).as("p_pairs"))
    val disc = cells.join(broadcast(other),
        col("_x2") < col("_x") && col("_y2") > col("_y"))
      .agg(coalesce(sum(col("_m") * col("_m2")), lit(0L)).as("q_pairs"))
    val margins = cells.agg(sum(col("_m")).as("n")).crossJoin(
        cells.groupBy(col("_x")).agg(sum(col("_m")).as("_tx"))
          .agg(sum(expr("_tx * (_tx - 1L) div 2L")).as("tie_x")))
      .crossJoin(
        cells.groupBy(col("_y")).agg(sum(col("_m")).as("_ty"))
          .agg(sum(expr("_ty * (_ty - 1L) div 2L")).as("tie_y")))
    margins.crossJoin(broadcast(conc)).crossJoin(broadcast(disc))
      .withColumn("_n0", expr("n * (n - 1L) div 2L"))
      .select(col("n"), col("p_pairs"), col("q_pairs"),
        col("tie_x"), col("tie_y"),
        // a constant margin makes τ_b undefined (0/0) — null, not NaN
        when(col("_n0") > col("tie_x") && col("_n0") > col("tie_y"),
          round((col("p_pairs") - col("q_pairs")).cast("double") /
            sqrt((col("_n0") - col("tie_x")).cast("double") *
              (col("_n0") - col("tie_y")).cast("double")) * 1e6)
            .cast("long")).as("tau_b_micro"))
  }

  /** MANN–KENDALL TREND TEST (Mann 1945; Kendall 1975) per group —
    * the nonparametric "is this series monotonically drifting?"
    * readout next to the CUSUM/changepoint family. Input: ONE row
    * per (group, t) with an integer value (the caller pre-aggregates
    * to the day/hour grid, so the per-group series length D is
    * CALENDAR-bounded, not row-bounded). S = Σ_{i<j} sgn(v_j − v_i)
    * from the group-keyed self-join (O(G·D²) pairs — bounded), the
    * tie-corrected variance in its exact INTEGER numerator
    *   var18 = 18·Var(S) = n(n−1)(2n+5) − Σ t(t−1)(2t+5),
    * and the continuity-corrected z = (S∓1)/√(var18/18) as ONE
    * identically-spelled float. Null z when var18 = 0 (n < 2 or all
    * values tied). Output per group: (grp, n, s_stat, var18,
    * z_micro). */
  def mannKendall(df: DataFrame, groupCol: String, tCol: String,
                  vCol: String): DataFrame = {
    val base = df.select(col(groupCol).cast("string").as("grp"),
        col(tCol).as("_t"), col(vCol).cast("long").as("_v"))
      .localCheckpoint() // feeds both join sides AND the tie table
    val a = base.select(col("grp"), col("_t").as("_ta"),
      col("_v").as("_va"))
    val b = base.select(col("grp"), col("_t").as("_tb"),
      col("_v").as("_vb"))
    val sTab = a.join(b, Seq("grp")).where(col("_ta") < col("_tb"))
      .groupBy(col("grp"))
      .agg(sum(signum(col("_vb") - col("_va")).cast("long"))
        .as("s_stat"))
    val ties = base.groupBy(col("grp"), col("_v"))
      .agg(count(lit(1)).as("_tk"))
      .groupBy(col("grp"))
      .agg(sum(col("_tk") * (col("_tk") - 1) *
          (lit(2L) * col("_tk") + 5)).as("_tsum"),
        sum(col("_tk")).as("n"))
    ties.join(sTab, Seq("grp"), "left")
      .withColumn("s_stat", coalesce(col("s_stat"), lit(0L)))
      .withColumn("var18",
        col("n") * (col("n") - 1) * (lit(2L) * col("n") + 5) -
          col("_tsum"))
      .select(col("grp"), col("n"), col("s_stat"), col("var18"),
        when(col("var18") > 0,
          round((when(col("s_stat") > 0, col("s_stat") - 1)
            .when(col("s_stat") < 0, col("s_stat") + 1)
            .otherwise(lit(0L))).cast("double") /
            sqrt(col("var18").cast("double") / lit(18.0)) * 1e6)
            .cast("long")).as("z_micro"))
  }

  /** THEIL–SEN SLOPE (Theil 1950; Sen 1968) per group — the robust
    * trend estimator: the LOWER MEDIAN of all pairwise slopes
    * (v_j − v_i)/(t_j − t_i) over the group's (integer t, integer v)
    * series, each slope fixed to micro by truncating integer
    * division (matches DuckDB via the sign-split `//` CASE). Same
    * calendar-bounded O(G·D²) pair table as [[mannKendall]]; the
    * median rides a per-group rank window over PAIRS (D²/2 rows per
    * group — bounded), rank (P+1) div 2, deterministic under slope
    * ties because the rank selects a VALUE. Groups with < 2 points
    * surface with n_pairs = 0 and a null slope. Output per group:
    * (grp, n_points, n_pairs, sen_slope_micro). */
  def theilSen(df: DataFrame, groupCol: String, tCol: String,
               vCol: String): DataFrame = {
    val base = df.select(col(groupCol).cast("string").as("grp"),
        col(tCol).cast("long").as("_t"), col(vCol).cast("long")
          .as("_v"))
      .localCheckpoint() // feeds both join sides AND the point count
    val a = base.select(col("grp"), col("_t").as("_ta"),
      col("_v").as("_va"))
    val b = base.select(col("grp"), col("_t").as("_tb"),
      col("_v").as("_vb"))
    val pairs = a.join(b, Seq("grp")).where(col("_ta") < col("_tb"))
      .select(col("grp"),
        expr("((_vb - _va) * 1000000L) div (_tb - _ta)").as("_slope"))
    val cnt = pairs.groupBy(col("grp"))
      .agg(count(lit(1)).as("n_pairs"))
    val med = pairs.withColumn("_rn", row_number().over(
        Window.partitionBy(col("grp")).orderBy(col("_slope"))))
      .join(cnt, Seq("grp"))
      .where(col("_rn") === expr("(n_pairs + 1L) div 2L"))
      .select(col("grp"), col("n_pairs"),
        col("_slope").as("sen_slope_micro"))
    base.groupBy(col("grp")).agg(count(lit(1)).as("n_points"))
      .join(med, Seq("grp"), "left")
      .select(col("grp"), col("n_points"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        col("sen_slope_micro"))
  }

  /** DECISION-STUMP SPLIT GAIN (the distributed core of tree
    * induction — CART/ID3's best-split search, Breiman et al. 1984,
    * done relationally): for every candidate threshold t (= every
    * value LEVEL), the information gain of splitting x ≤ t vs x > t
    * on a binary label,
    *   gain(t) = H(parent) − n_l/n·H(left) − n_r/n·H(right),
    * H = −Σ p·ln p. Rows collapse to the (value, label) level table
    * (ONE hash aggregate); left/right counts are prefix sums over
    * LEVELS; every entropy term is an identically-spelled float over
    * exact integer counts, and the gain fixes to nano-nats per level
    * (ln parity Spark ↔ DuckDB — the q195 contract). Zero-count
    * p·ln p terms are 0 by guard, never NaN. The best split (max
    * gain, smallest threshold on ties) is flagged by a LEVEL-bounded
    * rank window. The last level (empty right side) is excluded by
    * construction. Output per threshold: (threshold, n_left,
    * n_right, gain_nano, best). */
  def decisionStumpGain(df: DataFrame, valueCol: String,
                        labelCol: String): DataFrame = {
    val levels = df.select(col(valueCol).cast("long").as("threshold"),
        col(labelCol).cast("boolean").as("_y"))
      .groupBy(col("threshold"))
      .agg(sum(when(col("_y"), 1L).otherwise(0L)).as("_m1"),
        sum(when(!col("_y"), 1L).otherwise(0L)).as("_m0"))
      .localCheckpoint() // feeds the prefix window AND the totals
    val w = Window.orderBy(col("threshold"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val tot = levels.agg(sum(col("_m1")).as("_t1"),
      sum(col("_m0")).as("_t0"))
    def plogp(c: Column, n: Column): Column =
      when(c > 0, c.cast("double") / n.cast("double") *
        log(c.cast("double") / n.cast("double"))).otherwise(lit(0.0))
    val cum = levels
      .withColumn("_c1", sum(col("_m1")).over(w))
      .withColumn("_c0", sum(col("_m0")).over(w))
      .crossJoin(broadcast(tot))
      .withColumn("_nl", col("_c1") + col("_c0"))
      .withColumn("_nr", col("_t1") + col("_t0") - col("_nl"))
      .where(col("_nr") > 0) // the last level splits nothing off
    val nn = (col("_t1") + col("_t0")).cast("double")
    val hParent = -(plogp(col("_t1"), col("_t1") + col("_t0")) +
      plogp(col("_t0"), col("_t1") + col("_t0")))
    val hL = -(plogp(col("_c1"), col("_nl")) +
      plogp(col("_c0"), col("_nl")))
    val hR = -(plogp(col("_t1") - col("_c1"), col("_nr")) +
      plogp(col("_t0") - col("_c0"), col("_nr")))
    cum.withColumn("gain_nano", round((hParent -
        col("_nl").cast("double") / nn * hL -
        col("_nr").cast("double") / nn * hR) * 1e9).cast("long"))
      .withColumn("best", row_number().over(
        Window.orderBy(col("gain_nano").desc, col("threshold"))) === 1)
      .select(col("threshold"), col("_nl").as("n_left"),
        col("_nr").as("n_right"), col("gain_nano"), col("best"))
  }
}
