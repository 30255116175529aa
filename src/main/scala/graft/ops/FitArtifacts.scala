package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted FIT ARTIFACTS (round-12 verdict task 3): the 100 TB
  * pattern is "fit once, ship the artifact" — a quantizer's centroid
  * table, a tokenizer's merge list, a discretizer's cut dictionary are
  * fitted on one (often sampled) pass, PERSISTED, and reloaded by
  * every downstream run, cluster, and engine. The in-JVM [[memo]]
  * amortizes a fit within one session; the saved artifacts are its
  * durable twin across sessions. Both key a fit by the same
  * [[fingerprint]] of the columns it reads.
  *
  * Format: plain parquet, one file (`coalesce(1)` — every artifact
  * here is driver-bounded by construction: O(k·d) centroid longs,
  * O(rounds) merges, O(bins) cuts; the S6 bounded-collect convention
  * applies to the LOAD side for the same reason). Plain parquet keeps
  * the artifact engine-portable — DuckDB reads the same file the
  * oracle side of q276 could, and a Python training job reads it with
  * pyarrow unchanged.
  *
  * Round-trip exactness: centroids are the integer micro-unit longs of
  * [[SimilarityOps.kMeansMicro]] and merges are strings — both
  * lossless in parquet, so `load(save(x)) == x` bit for bit and a
  * loaded fit replays IDENTICAL query results (q276 hash-matches
  * q48's memo-fit chain through a save/load cycle).
  */
object FitArtifacts {

  /** (row count, content xor) of `df`'s `cols`: the data identity of a
    * fit, used in [[memo]] keys and in provenance sidecars. The xor of
    * per-row `hash(cols)` is order-independent and changes when any
    * hashed value changes, so a fixture swap that keeps the row count
    * still shows (Spark's `hash` folds every element of an array
    * column). One column-pruned, partially aggregated scan. */
  def fingerprint(df: DataFrame, cols: String*): (Long, Long) = {
    val r = df.agg(count(lit(1)),
      coalesce(bit_xor(hash(cols.map(col): _*).cast("long")), lit(0L)))
      .head()
    (r.getLong(0), r.getLong(1))
  }

  /** Hit, miss and fit-time counts of one [[memo]] name. */
  final case class FitStats(hits: Long, misses: Long, fitMs: Double) {
    def -(o: FitStats): FitStats =
      FitStats(hits - o.hits, misses - o.misses, fitMs - o.fitMs)
  }
  private final class Counters {
    val hits, misses, fitNanos = new java.util.concurrent.atomic.LongAdder
  }
  private val fits =
    new java.util.concurrent.ConcurrentHashMap[Seq[Any], AnyRef]()
  private val counters =
    new java.util.concurrent.ConcurrentHashMap[String, Counters]()

  /** The in-JVM memo of deterministic fits: the result of `fit` under
    * (`name`, `key`), computed once per JVM and replayed by every
    * later call with an equal key. A registered fit artifact, not a
    * cache of query results: each consumer still runs its own plan
    * over the fit. The key holds the fixture dir, a [[fingerprint]]
    * of the columns the fit reads (so an in-process fixture swap
    * refits instead of replaying a stale fit) and any fit parameters.
    *
    * A miss runs `fit` outside any lock and then `putIfAbsent`s the
    * result, so a fit may itself call `memo` for another key (a
    * `computeIfAbsent` mapping function must not touch its own map).
    * Two racing misses both fit; the first stored value wins and both
    * callers get it. A fit that throws stores nothing, and the next
    * call fits again. Nothing is evicted: every entry is a
    * driver-bounded fit (at most O(k·d) longs), and the key set is
    * fits × fixture dirs. [[stats]] counts hits, misses and fit time
    * per `name`. */
  def memo[T <: AnyRef](name: String, key: Any*)(fit: => T): T = {
    val c = counters.computeIfAbsent(name, _ => new Counters)
    val k = name +: key
    fits.get(k) match {
      case null =>
        c.misses.increment()
        val t0 = System.nanoTime()
        val v = try fit finally c.fitNanos.add(System.nanoTime() - t0)
        fits.putIfAbsent(k, v) match {
          case null => v
          case won => won.asInstanceOf[T]
        }
      case hit =>
        c.hits.increment()
        hit.asInstanceOf[T]
    }
  }

  /** Counts of every [[memo]] name used in this JVM so far. */
  def stats: Map[String, FitStats] = {
    import scala.jdk.CollectionConverters._
    counters.asScala.map { case (n, c) =>
      n -> FitStats(c.hits.sum, c.misses.sum, c.fitNanos.sum / 1e6)
    }.toMap
  }

  /** Provenance sidecar location: UNDER the artifact directory with a
    * leading underscore, so every parquet data-source listing (Spark,
    * DuckDB's `*.parquet` glob, pyarrow dataset) ignores it and the
    * artifact stays readable as plain parquet. Written AFTER the
    * artifact (an overwrite of the artifact wipes the whole dir, so a
    * half-written save can never pair a fresh artifact with a stale
    * sidecar). */
  private def provPath(path: String): String = s"$path/_provenance"

  /** Write the provenance sidecar: a tiny (key, value) string table —
    * source row count, fit parameters, whatever identifies the data
    * and config the artifact was fitted on (round-13 verdict task 4:
    * the durable twin of the [[memo]] key's [[fingerprint]]).
    * All values stringified by the caller so the sidecar schema never
    * varies. */
  def saveProvenance(spark: SparkSession, path: String,
                     provenance: Map[String, String]): Unit = {
    import spark.implicits._
    require(provenance.nonEmpty,
      "refusing to write an empty provenance sidecar")
    provenance.toSeq.toDF("key", "value")
      .coalesce(1).write.mode("overwrite").parquet(provPath(path))
  }

  /** Verify an artifact's provenance sidecar against what the loader
    * EXPECTS (recomputed cheaply from today's source — row count,
    * params): every expected (key, value) must be present and equal,
    * and a missing sidecar fails too — a stale artifact from a
    * regenerated fixture must fail LOUDLY instead of silently
    * replaying old centroids/merges/cuts. No-op when `expect` is
    * empty (opt-in, like the contiguity check is always-on). */
  def checkProvenance(spark: SparkSession, path: String,
                      expect: Map[String, String]): Unit = {
    if (expect.nonEmpty) {
      val saved =
        try spark.read.parquet(provPath(path)).collect()
          .map(r => r.getString(0) -> r.getString(1)).toMap
        catch {
          case e: org.apache.spark.sql.AnalysisException =>
            throw new IllegalArgumentException(
              s"artifact at $path has no provenance sidecar " +
                "(predates provenance, or was written without one) — " +
                "refit and re-save before loading with an expectation",
              e)
        }
      expect.foreach { case (k, v) =>
        require(saved.get(k).contains(v),
          s"STALE ARTIFACT at $path: provenance '$k' is " +
            s"${saved.get(k).getOrElse("<absent>")}, the loader " +
            s"expected '$v' — the source data or fit params changed " +
            "since the artifact was written; refit and re-save")
      }
    }
  }

  /** Persist a [[SimilarityOps.kMeansMicro]] centroid table as
    * `(cell int, centroid_micro array<long>)` parquet, with an
    * optional provenance sidecar ([[saveProvenance]]). */
  def saveCentroids(spark: SparkSession, path: String,
                    cents: Array[Array[Long]],
                    provenance: Map[String, String] = Map.empty): Unit = {
    import spark.implicits._
    require(cents.nonEmpty, "refusing to persist an empty centroid table")
    cents.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cell", "centroid_micro")
      .coalesce(1)
      .write.mode("overwrite").parquet(path)
    if (provenance.nonEmpty) saveProvenance(spark, path, provenance)
  }

  /** Load a [[saveCentroids]] table back into the injectable
    * `Array[Array[Long]]` form ([[SimilarityOps.ivfTopKMicro]]'s
    * `cents` parameter). Cells must be contiguous 0..k−1 — a partial
    * or reordered artifact fails loudly instead of assigning rows to
    * silently shifted cells. Pass `expect` to also verify the
    * provenance sidecar ([[checkProvenance]] — staleness, not just
    * shape). */
  def loadCentroids(spark: SparkSession, path: String,
                    expect: Map[String, String] = Map.empty)
      : Array[Array[Long]] = {
    checkProvenance(spark, path, expect)
    val rows = spark.read.parquet(path).orderBy(col("cell")).collect()
    require(rows.nonEmpty, s"no centroid rows at $path")
    rows.zipWithIndex.foreach { case (r, i) =>
      require(r.getInt(0) == i,
        s"centroid cells at $path are not contiguous: " +
          s"expected cell $i, found ${r.getInt(0)}") }
    rows.map(_.getSeq[Long](1).toArray)
  }

  /** Persist a small fitted dictionary table (quantile/equi-depth cut
    * tables, vocabularies, encoders) as single-file parquet, with an
    * optional provenance sidecar. The caller owns the guarantee that
    * `df` is artifact-sized (O(bins), not O(rows)) — that is what
    * makes `coalesce(1)` safe. */
  def saveTable(df: DataFrame, path: String,
                provenance: Map[String, String] = Map.empty): Unit = {
    df.coalesce(1).write.mode("overwrite").parquet(path)
    if (provenance.nonEmpty)
      saveProvenance(df.sparkSession, path, provenance)
  }

  /** Load a [[saveTable]] artifact (schema as written); `expect`
    * verifies the provenance sidecar first. */
  def loadTable(spark: SparkSession, path: String,
                expect: Map[String, String] = Map.empty): DataFrame = {
    checkProvenance(spark, path, expect)
    spark.read.parquet(path)
  }

  /** Persist a [[TextOps.bpeMerges]] merge table (round, sym_a,
    * sym_b, pair_count) — training order is the artifact's semantics,
    * carried by the `round` column. */
  def saveMerges(merges: DataFrame, path: String,
                 provenance: Map[String, String] = Map.empty): Unit =
    saveTable(merges.orderBy(col("round")), path, provenance)

  /** Load a merge table into [[TextOps.bpeEncode]]'s `merges`
    * parameter — the (a, b) list in training order; `expect` verifies
    * the provenance sidecar first. */
  def loadMerges(spark: SparkSession, path: String,
                 expect: Map[String, String] = Map.empty)
      : Seq[(String, String)] = {
    checkProvenance(spark, path, expect)
    spark.read.parquet(path).orderBy(col("round")).collect()
      .map(r => (r.getAs[String]("sym_a"), r.getAs[String]("sym_b")))
      .toSeq
  }

  /** Persist a fitted GLM β table — the
    * [[graft.ops.EvalOps.logisticOvrBetas]] shape `(label BIGINT,
    * b0_micro, b1_micro, b2_micro)` — as single-file parquet with an
    * optional provenance sidecar. The β integers are EXACT (the
    * deterministic fused-Newton fit), so `load(save(x)) == x` bit for
    * bit and a loaded artifact replays IDENTICAL predictions — this
    * is what makes the batch-fit → persist → stream-score loop
    * oracled (round-16 verdict task 1), where an MLlib model artifact
    * is only property-checkable. K rows, driver-bounded by the label
    * domain. */
  def saveGlmBetas(spark: SparkSession, path: String,
                   betas: Seq[(Long, Long, Long, Long)],
                   provenance: Map[String, String] = Map.empty): Unit = {
    import spark.implicits._
    require(betas.nonEmpty, "refusing to persist an empty beta table")
    require(betas.map(_._1).distinct.size == betas.size,
      "duplicate label in beta table")
    saveTable(betas.toDF("label", "b0_micro", "b1_micro", "b2_micro"),
      path, provenance)
  }

  /** Persist a d-COVARIATE fitted GLM β table — the
    * [[graft.ops.EvalOps.logisticOvrBetasD]] shape, stored TIDY as
    * `(label BIGINT, j BIGINT, b_micro BIGINT)` with j = 0..d
    * (intercept first) so the artifact schema never varies with d —
    * as single-file parquet with an optional provenance sidecar.
    * Same bit-exact round-trip guarantee as [[saveGlmBetas]]:
    * integer micro β replay IDENTICAL predictions through
    * [[graft.ops.EvalOps.ovrPredExprD]]. K·(d+1) rows,
    * driver-bounded. */
  def saveGlmBetasD(spark: SparkSession, path: String,
                    labels: Seq[Long], betas: Array[Array[Long]],
                    provenance: Map[String, String] = Map.empty)
      : Unit = {
    require(betas.nonEmpty, "refusing to persist an empty beta table")
    require(betas.length == labels.size,
      s"betas rows ${betas.length} != labels size ${labels.size}")
    require(labels.distinct == labels, "duplicate label in beta table")
    require(betas.map(_.length).distinct.size == 1,
      "ragged beta rows: every class must have the same (d+1) width")
    saveTable(graft.ops.EvalOps.ovrBetasDFrame(spark, labels, betas),
      path, provenance)
  }

  /** Load a [[saveGlmBetasD]] artifact back into the
    * `Array[Array[Long]]` form [[graft.ops.EvalOps.ovrPredExprD]]
    * consumes, ordered by `expectLabels`. The label set AND the
    * coefficient width are PINNED: a β table fitted on a different
    * label domain or feature count must fail LOUDLY, not silently
    * score with missing classes or truncated margins. Coefficient
    * indices must be contiguous 0..expectDim per label (the
    * loadCentroids contiguity rule). `expect` verifies the
    * provenance sidecar. */
  def loadGlmBetasD(spark: SparkSession, path: String,
                    expectLabels: Seq[Long], expectDim: Int,
                    expect: Map[String, String] = Map.empty)
      : Array[Array[Long]] = {
    require(expectLabels.nonEmpty, "expectLabels must be given")
    require(expectDim >= 1, s"expectDim must be >= 1, got $expectDim")
    checkProvenance(spark, path, expect)
    val rows = spark.read.parquet(path)
      .orderBy(col("label"), col("j")).collect()
      .map(r => (r.getAs[Long]("label"), r.getAs[Long]("j"),
        r.getAs[Long]("b_micro")))
    require(rows.nonEmpty, s"no beta rows at $path")
    val byLabel = rows.groupBy(_._1)
    require(byLabel.keySet == expectLabels.toSet,
      s"beta table at $path has labels ${byLabel.keys.toSeq.sorted}" +
        s", the loader expected ${expectLabels.sorted} — the " +
        "artifact was fitted on a different label domain; refit " +
        "and re-save")
    expectLabels.map { lab =>
      val co = byLabel(lab).sortBy(_._2)
      require(co.map(_._2).toSeq == (0 to expectDim).map(_.toLong),
        s"beta table at $path label $lab has coefficient indices " +
          s"${co.map(_._2).toSeq}, the loader expected 0..$expectDim" +
          " — the artifact was fitted on a different feature list; " +
          "refit and re-save")
      co.map(_._3)
    }.toArray
  }

  /** Load a [[saveGlmBetas]] artifact back into the
    * `(label, (b0, b1, b2))` form [[graft.ops.EvalOps.ovrPredExpr]]
    * consumes, label-ascending. `expectLabels` pins the exact label
    * set (a β table fitted on a different label domain must fail
    * LOUDLY, not silently score with missing classes); `expect`
    * verifies the provenance sidecar ([[checkProvenance]]). */
  def loadGlmBetas(spark: SparkSession, path: String,
                   expectLabels: Seq[Long] = Seq.empty,
                   expect: Map[String, String] = Map.empty)
      : Seq[(Long, (Long, Long, Long))] = {
    checkProvenance(spark, path, expect)
    val rows = spark.read.parquet(path).orderBy(col("label")).collect()
      .map(r => (r.getAs[Long]("label"), (r.getAs[Long]("b0_micro"),
        r.getAs[Long]("b1_micro"), r.getAs[Long]("b2_micro"))))
      .toSeq
    require(rows.nonEmpty, s"no beta rows at $path")
    if (expectLabels.nonEmpty)
      require(rows.map(_._1) == expectLabels.sorted,
        s"beta table at $path has labels ${rows.map(_._1)}, " +
          s"the loader expected ${expectLabels.sorted} — the artifact " +
          "was fitted on a different label domain; refit and re-save")
    rows
  }
}
