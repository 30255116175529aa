package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** ML WALL-TIME BASELINE BENCH (round-12 verdict task 1): the only
  * benchmark numbers the reference actually PUBLISHES are ML
  * train+score wall times on ~1.05 M rows × 80 cols of CIC-IDS-2018
  * (`/root/reference/ISAA_Review_3.ipynb:954,996,1033,1072` — MLP
  * 9 min 26 s, RF 2 min 39 s, DT 2 min 11 s, NB 45 s on a ~2-vCPU
  * Colab runtime, Spark 3.1.2 local[*]). This main reproduces that
  * workload shape like-for-like on a generated CIC-shaped fixture
  * (FIXTURES.md §2 scaled up: 78 numeric features — the reference's
  * MLP layers are [78,4,2,3] — with the NaN / +∞ / null / constant-
  * column pathologies and a skewed 3-class label) and times the SAME
  * region the notebook's `%%time` cells cover: classifier fit +
  * score + accuracy over pre-assembled features (the notebook
  * assembles/scales in earlier, untimed cells).
  *
  * Phases reported separately in the one-line JSON:
  *  - `clean_sec`   — sentinel probe + ∞-replace + median impute +
  *                    stratified 80/20 anti-join split
  *                    (`IdsPipeline.train` steps 1-4), of which
  *                    `clean_probe_sec` is the probe and
  *                    `clean_stage_sec` the imputed table's staging;
  *  - `prep_sec`    — assembler + MinMax scaler + frequency label
  *                    index, fit on the whole cleaned table, applied
  *                    to both splits, persisted (`IdsPipeline.train`
  *                    steps 5-6: the notebook's untimed feature cells);
  *  - per-algo sec  — classifier fit + transform + accuracy agg (the
  *                    published cells' region).
  *
  * Env: SPARK_GRAFT_ML_ROWS (default 1050000), SPARK_GRAFT_ML_ALGOS
  * (default DT,NB,RF,MLP), SPARK_GRAFT_CPUS (default 32),
  * SPARK_GRAFT_ML_OUT (optional JSON sidecar path). The fixture is
  * generated once under target/ and reused.
  */
object BenchMl {
  private val baselineColabSec = Map(
    "DT" -> 131.0, "NB" -> 45.0, "RF" -> 159.0, "MLP" -> 566.0)

  private def algoOf(s: String): graft.ml.IdsPipeline.Algo = s match {
    case "DT" => ids.DT
    case "NB" => ids.NB
    case "RF" => ids.RF
    case "MLP" => ids.MLP
    case other => throw new IllegalArgumentException(
      s"unknown algo $other (expected DT|NB|RF|MLP)")
  }
  private val ids = graft.ml.IdsPipeline

  /** CIC-shaped fixture: 78 numeric features whose regime is decided
    * by a skewed 3-class label (80/15/5), with the real files'
    * pathologies injected — f2 ~2% NaN, f3 ~2% +∞, f4 ~2% null, f5
    * constant-zero (degenerate min=max scaler input). Generated
    * DISTRIBUTED (spark.range + per-column seeded rand — no driver
    * loop) and written once. */
  private def fixture(spark: SparkSession, rows: Long,
                      parts: Int): String = {
    // parts is part of the cache key: rand(seed) draws are
    // per-partition, so the same row count generated at a different
    // parallelism is DIFFERENT data — a reused fixture must match
    // both (round-12 review)
    val path = s"target/ml_fixture_${rows}_p$parts"
    if (!new java.io.File(path).isDirectory) {
      val cls = when(pmod(col("id"), lit(100)) < 80, 0)
        .when(pmod(col("id"), lit(100)) < 95, 1).otherwise(2)
      val feats = (0 until 78).map { j =>
        val regime = (col("cls") + 1) * (10.0 + j * 0.37)
        val v = regime + rand(42L + j) * 5.0
        (j match {
          case 2 => when(rand(1002L) < 0.02, lit(Double.NaN)).otherwise(v)
          case 3 => when(rand(1003L) < 0.02,
            lit(Double.PositiveInfinity)).otherwise(v)
          case 4 => when(rand(1004L) < 0.02,
            lit(null).cast("double")).otherwise(v)
          case 5 => lit(0.0)
          case _ => v
        }).cast("double").as(s"f$j")
      }
      val label = when(col("cls") === 0, "Benign")
        .when(col("cls") === 1, "FTP-BruteForce")
        .otherwise("SSH-BruteForce")
      spark.range(0, rows, 1, parts)
        .withColumn("cls", cls)
        .select(col("id").as("row_id") +: feats :+ label.as("label"): _*)
        .write.mode("overwrite").parquet(path)
    }
    path
  }

  /** Locale-pinned decimal formatting for the JSON line: the `f`
    * interpolator is default-locale-sensitive — under a
    * comma-decimal locale it would emit `"sec":1,234`, invalid JSON
    * (round-13 ADVICE). */
  private def d3(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
  private def d5(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.5f", Double.box(v))

  def main(args: Array[String]): Unit = {
    val rows = sys.env.getOrElse("SPARK_GRAFT_ML_ROWS", "1050000").toLong
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val algos = sys.env.getOrElse("SPARK_GRAFT_ML_ALGOS", "DT,NB,RF,MLP")
      .split(",").map(_.trim).filter(_.nonEmpty)
    val spark = GraftSession.build(cpus)

    // ---- clean + split + feature prep: IdsPipeline.train (untimed by
    // the reference's cells but reported here for completeness); each
    // classifier then reads the persisted prepared features, matching
    // the reference, whose %%time cells read an already-prepared
    // DataFrame ----
    val run = ids.train(spark.read.parquet(fixture(spark, rows, cpus)),
      (0 until 78).map(i => s"f$i"), "label", "row_id", 0.2, 42L,
      s"target/ml_cleaned_$rows")
    val labelNames = run.labels

    val results = algos.map { name =>
      val clf = run.classifier(algoOf(name), Seq(4, 2))
      val t = System.nanoTime()
      val model = clf.fit(run.trainFeatures)
      val scored = model.transform(run.validFeatures)
      val acc = scored.agg(
          avg(when(col("prediction") === col("encoded_label"), 1.0)
            .otherwise(0.0)))
        .head().getDouble(0)
      val sec = (System.nanoTime() - t) / 1e9
      val conf = scored.groupBy("encoded_label", "prediction").count()
        .collect()
        .map(r => ((r.getDouble(0), r.getDouble(1)), r.getLong(2)))
        .toMap
      val perLabel = labelNames.indices.map { l =>
        val li = l.toDouble
        val tp = conf.getOrElse((li, li), 0L)
        val predL = conf.collect { case ((_, p), c) if p == li => c }.sum
        val trueL = conf.collect { case ((tr, _), c) if tr == li => c }.sum
        val prec = if (predL == 0) 0.0 else tp.toDouble / predL
        val rec = if (trueL == 0) 0.0 else tp.toDouble / trueL
        (l, labelNames(l), prec, rec)
      }
      System.err.println(f"[bench-ml] $name%-3s ${sec}%8.2f s  " +
        f"acc=$acc%.5f  (colab baseline ${baselineColabSec(name)}%.0f s)")
      perLabel.foreach { case (l, n2, p, r) =>
        System.err.println(
          s"[bench-ml]   label $l ($n2): precision=${d5(p)} recall=${d5(r)}")
      }
      (name, sec, acc, perLabel)
    }
    val algoJson = results.map { case (n, s, a, pl) =>
      val labelsJson = pl.map { case (l, n2, p, r) =>
        s""""$l":{"label":${GraftSession.jsonString(n2)},""" +
          s""""precision":${d5(p)},""" +
          s""""recall":${d5(r)}}"""
      }.mkString(",")
      s""""$n":{"sec":${d3(s)},"accuracy":${d5(a)},""" +
        s""""baseline_colab_sec":${baselineColabSec(n)},""" +
        s""""ratio_vs_colab":${String.format(java.util.Locale.ROOT,
          "%.4f", Double.box(s / baselineColabSec(n)))},""" +
        s""""by_label":{$labelsJson}}"""
    }.mkString(",")
    val cleanMs = run.probeMs + run.imputeMs + run.splitMs
    val json = s"""{"metric":"ml_train_score","rows":$rows,""" +
      s""""n_features":78,"n_train":${run.nTrain},""" +
      s""""n_valid":${run.nValid},"cpus":$cpus,""" +
      s""""clean_sec":${d3(cleanMs / 1e3)},""" +
      s""""clean_probe_sec":${d3(run.probeMs / 1e3)},""" +
      s""""clean_stage_sec":${d3(run.imputeMs / 1e3)},""" +
      s""""prep_sec":${d3(run.prepMs / 1e3)},"algos":{$algoJson}}"""
    println(json)
    sys.env.get("SPARK_GRAFT_ML_OUT").foreach { p =>
      java.nio.file.Files.write(java.nio.file.Paths.get(p),
        (json + "\n").getBytes("UTF-8"))
    }
    spark.stop()
  }
}
