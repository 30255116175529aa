package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ml.IdsPipeline
import graft.ops.AggOps

/** The reference's whole pipeline on CIC-IDS-shaped data: a dirty flow
  * table (NaN, +∞, nulls, a string label) through clean → sentinel
  * probe → impute → stratified split → featurize → train → confusion
  * matrix, all via library operators (`/root/reference/src/modelling.py`
  * end to end). This is the "switch from the reference" proof.
  */
class IdsEndToEndSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // 3-class flow records: label decides the regime of 6 numeric
  // features; pathologies injected like the real CIC-IDS CSVs
  // (Flow Byts/s NaN, Flow Pkts/s +Infinity)
  private def flows = {
    val rnd = new scala.util.Random(17)
    val labels = Seq("Benign", "FTP-BruteForce", "SSH-BruteForce")
    (0 until 3000).map { i =>
      val cls = i % 3
      val base = (cls + 1) * 10.0
      def f() = base + rnd.nextGaussian()
      val bytsPerS =
        if (rnd.nextDouble() < 0.02) Double.NaN else f() * 100
      val pktsPerS =
        if (rnd.nextDouble() < 0.02) Double.PositiveInfinity else f() * 10
      val durOpt =
        if (rnd.nextDouble() < 0.02) None else Some(f() * 1000)
      (i.toLong, f(), f(), bytsPerS, pktsPerS, durOpt, labels(cls))
    }.toDF("row_id", "fwd_pkts", "bwd_pkts", "flow_byts_s",
      "flow_pkts_s", "flow_duration", "label")
      // NaN → null first, as the reference's Imputer expects
      .withColumn("flow_byts_s",
        when(isnan(col("flow_byts_s")), lit(null)).otherwise(col("flow_byts_s")))
  }

  private val features = Seq("fwd_pkts", "bwd_pkts", "flow_byts_s",
    "flow_pkts_s", "flow_duration")

  // one train call and one tree for every case: the steps are seeded,
  // so the same call would give the same run
  private lazy val run = IdsPipeline.train(flows, features, "label",
    "row_id", validFraction = 0.2, seed = 7L,
    stageDir = SparkTestSession.tmpDir("ids_e2e").toString)
  private lazy val dt = run.classifier(IdsPipeline.DT).fit(run.trainFeatures)

  test("end-to-end: dirty flows → cleaned → trained DT → accuracy > 0.9") {
    val rows = run.metrics(dt).collect()
    assert(rows.length === 3, "one metric row per class")
    val acc = rows.head.getDouble(rows.head.fieldIndex("accuracy"))
    assert(acc > 0.9, s"accuracy $acc")
    // per-class recall present and sane
    rows.foreach { r =>
      assert(r.getDouble(r.fieldIndex("recall")) > 0.8)
    }
    // the fitted model scores new data (streaming-safe transform)
    val scored = run.serveModel(dt).transform(flows.na.fill(0.0, features)
      .select((features.map(col) :+ col("label")): _*))
    assert(scored.columns.contains("prediction"))
  }

  test("confusion matrix of a good model is diagonal-dominant") {
    val scored = run.serveModel(dt).transform(
      graft.ops.CleanOps.medianFillApprox(
        flows.withColumn("flow_pkts_s",
          graft.ops.CleanOps.replaceInf(col("flow_pkts_s"), lit(0.0))),
        features))
    val cm = AggOps.confusionMatrix(scored, "encoded_label", "prediction")
    val rows = cm.collect()
    rows.zipWithIndex.foreach { case (r, i) =>
      val diag = r.getLong(i + 1)
      val offSum = (1 until rows.length + 1)
        .filter(_ != i + 1).map(r.getLong).sum
      assert(diag > offSum, s"class $i diag $diag vs off $offSum")
    }
  }

  // NaiveBayes rejects negative features: a scaler fit on the train
  // split alone leaves valid rows just below 0, so this case pins the
  // scaler to the whole cleaned table
  test("NB and MLP score the valid split: the scaler sees every row") {
    for (algo <- Seq(IdsPipeline.NB, IdsPipeline.MLP)) {
      val model = run.classifier(algo).fit(run.trainFeatures)
      val rows = run.metrics(model).collect()
      assert(rows.length === 3, s"$algo: one metric row per class")
      assert(rows.map(r => r.getLong(r.fieldIndex("support"))).sum ===
        run.nValid, s"$algo: every valid row scored")
    }
  }
}
