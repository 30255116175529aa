package graft.ml

import org.apache.spark.ml.{Pipeline, PipelineModel, Transformer}
import org.apache.spark.ml.classification._
import org.apache.spark.ml.feature.{MinMaxScaler, StringIndexer, StringIndexerModel, VectorAssembler}
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.ops.{AggOps, CleanOps, SplitOps}

/** The reference's ML pipeline re-expressed as `ml.Pipeline` stages
  * (SURVEY.md §2.10 U2/U3): VectorAssembler → MinMaxScaler →
  * StringIndexer → classifier, with the four estimator families the
  * reference trains (`modelling.py:113-150`): DecisionTree,
  * RandomForest, NaiveBayes(multinomial, smoothing=1.0),
  * MultilayerPerceptron(maxIter=100, blockSize=128, seed=1234).
  *
  * Fitting is batch (aggregate passes over the data); the fitted
  * `PipelineModel.transform` is a pure projection — streaming-safe, used
  * by [[graft.streaming.StreamOps]] for scoring.
  */
object IdsPipeline {

  sealed trait Algo
  case object DT extends Algo
  case object RF extends Algo
  case object NB extends Algo
  case object MLP extends Algo

  // The prep stages [[train]] and [[fitOnArray]] share.
  private def assembler(featureCols: Seq[String]) = new VectorAssembler()
    .setInputCols(featureCols.toArray).setOutputCol("features_raw")
    .setHandleInvalid("skip")
  private def scaler = new MinMaxScaler()
    .setInputCol("features_raw").setOutputCol("features")
  private def indexer(labelCol: String) = new StringIndexer()
    .setInputCol(labelCol).setOutputCol("encoded_label")
    .setStringOrderType("frequencyDesc").setHandleInvalid("skip")

  /** The classifier stage alone, reference-matched settings
    * (`modelling.py:113-150`) — public so a caller can time the
    * classifier fit/score in isolation (the reference's published
    * wall times cover exactly that: its notebook assembles features in
    * earlier cells and `%%time`s only the fit/predict/evaluate cells). */
  def classifier(algo: Algo, train: DataFrame, labelCol: String,
                 nFeatures: Int, mlpHidden: Seq[Int]) = algo match {
    case DT => new DecisionTreeClassifier()
      .setLabelCol("encoded_label").setFeaturesCol("features").setSeed(42L)
    case RF => new RandomForestClassifier()
      .setLabelCol("encoded_label").setFeaturesCol("features").setSeed(42L)
    case NB => new NaiveBayes()
      .setLabelCol("encoded_label").setFeaturesCol("features")
      .setModelType("multinomial").setSmoothing(1.0)
    case MLP =>
      val k = train.select(labelCol).distinct().count().toInt
      new MultilayerPerceptronClassifier()
        .setLabelCol("encoded_label").setFeaturesCol("features")
        .setLayers((nFeatures +: mlpHidden :+ k).toArray)
        .setMaxIter(100).setBlockSize(128).setSeed(1234L)
  }

  /** What [[train]] leaves: the prep model fit on the whole cleaned
    * table, the persisted (`features`, `encoded_label`) train and valid
    * frames with their row counts, and each step's wall ms. */
  final class IdsRun private[IdsPipeline] (
      prep: PipelineModel, cleaned: DataFrame,
      val trainFeatures: DataFrame, val validFeatures: DataFrame,
      val nTrain: Long, val nValid: Long, nFeatures: Int,
      val probeMs: Long, val imputeMs: Long, val splitMs: Long,
      val prepMs: Long) {

    /** Label names by encoded index (frequencyDesc: index 0 is the
      * majority class, the reference's "label 0"). */
    def labels: Array[String] =
      prep.stages.last.asInstanceOf[StringIndexerModel].labelsArray(0)

    /** [[IdsPipeline.classifier]] configured for the prepared
      * features: `.fit(trainFeatures)` trains it. */
    def classifier(algo: Algo, mlpHidden: Seq[Int] = Seq(16)) =
      IdsPipeline.classifier(algo, trainFeatures, "encoded_label",
        nFeatures, mlpHidden)

    /** Per-class metrics of `model` on the valid split. */
    def metrics(model: Transformer): DataFrame =
      evaluate(model, validFeatures)

    /** The prep stages plus `model`, which scores flows by their raw
      * feature columns (the indexer skips input without a label). No
      * stage is an estimator, so the fit runs no job. */
    def serveModel(model: Transformer): PipelineModel =
      new Pipeline().setStages(prep.stages :+ model).fit(cleaned)
  }

  private def timed[A](body: => A): (A, Long) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1000000)
  }

  /** The reference's training flow (`modelling.py` entry points 1-3)
    * over a dirty flow table, as staged library operators:
    *
    *  1. probe: one aggregate takes each feature's finite ceiling —
    *     NaN nulled first (Spark's `max` orders NaN above every
    *     double), ∞ masked with −100 (`modelling.py:61-68`, A1/U1);
    *  2. one fused projection nulls NaN and replaces ±∞ with the
    *     ceiling — one select, not a 2×N-deep `withColumn` fold,
    *     whose expression tree Catalyst re-walks per ML stage (minutes
    *     of driver-side analysis at 80 columns);
    *  3. impute: median fill of the nulls (`modelling.py:74-76`, A8),
    *     staged to parquet at `stageDir` so the rest reads a flat scan;
    *  4. split: stratified `validFraction` sample per label = valid,
    *     train = anti-join remainder (`modelling.py:85-98`, R1/R3/J1);
    *  5. prep: ONE assembler → MinMax scaler → frequency label index
    *     model, fit on the whole cleaned table as the reference does
    *     (it scales before splitting) — which also keeps valid
    *     features inside [0, 1], as NaiveBayes requires;
    *  6. the prepared train and valid features are persisted: the
    *     only frames each classifier fit and score reads again.
    *
    * The cleaned table keeps `idCol`, `featureCols` and `labelCol`.
    */
  def train(flows: DataFrame, featureCols: Seq[String], labelCol: String,
            idCol: String, validFraction: Double, seed: Long,
            stageDir: String): IdsRun = {
    def nanNulled(c: String) =
      when(isnan(col(c)), lit(null).cast("double")).otherwise(col(c))
    val (ceilings, probeMs) = timed(flows.select(featureCols.map(c =>
      max(CleanOps.replaceInf(nanNulled(c), lit(-100.0))).as(c)): _*)
      .head())
    val (cleaned, imputeMs) = timed {
      val definite = flows.select(
        col(idCol) +: featureCols.zipWithIndex.map { case (c, i) =>
          (if (ceilings.isNullAt(i)) nanNulled(c)
           else CleanOps.replaceInf(nanNulled(c),
             lit(ceilings.getDouble(i)))).as(c)
        } :+ col(labelCol): _*)
      CleanOps.medianFillApprox(definite, featureCols)
        .write.mode("overwrite").parquet(stageDir)
      flows.sparkSession.read.parquet(stageDir)
    }
    val ((train, valid), splitMs) = timed(SplitOps.antiJoinSplit(
      cleaned, idCol, labelCol, validFraction, seed))
    val ((prep, trainF, validF, nTrain, nValid), prepMs) = timed {
      val prep = new Pipeline().setStages(Array(
        assembler(featureCols), scaler, indexer(labelCol))).fit(cleaned)
      def features(df: DataFrame) = prep.transform(df)
        .select("features", "encoded_label")
        .persist(StorageLevel.MEMORY_AND_DISK)
      val (trainF, validF) = (features(train), features(valid))
      (prep, trainF, validF, trainF.count(), validF.count())
    }
    new IdsRun(prep, cleaned, trainF, validF, nTrain, nValid,
      featureCols.size, probeMs, imputeMs, splitMs, prepMs)
  }

  /** Expand an array<float|double> embedding column into a features
    * DataFrame suitable for [[fitOnArray]] via a single vector column —
    * avoids exploding to N scalar columns. */
  def withArrayFeatures(df: DataFrame, arrayCol: String): DataFrame =
    df.withColumn("features_raw",
      array_to_vector(col(arrayCol).cast("array<double>")))

  /** Fit directly on an array-embedding column (skips the assembler). */
  def fitOnArray(train: DataFrame, arrayCol: String, labelCol: String,
                 algo: Algo, mlpHidden: Seq[Int] = Seq(16)): PipelineModel = {
    val prepared = withArrayFeatures(train, arrayCol)
    val dim = prepared.select(col(arrayCol)).head
      .getAs[scala.collection.Seq[_]](0).size
    val stages = Seq(scaler, indexer(labelCol)) :+ classifier(
      algo, prepared, labelCol, dim, mlpHidden)
    new Pipeline().setStages(stages.toArray).fit(prepared)
  }

  /** Score + evaluate: returns the per-class metric table from
    * [[graft.ops.AggOps.multiclassMetrics]]. */
  def evaluate(model: Transformer, test: DataFrame,
               arrayCol: Option[String] = None): DataFrame = {
    val prepared = arrayCol.map(withArrayFeatures(test, _)).getOrElse(test)
    val scored = model.transform(prepared)
    AggOps.multiclassMetrics(scored, "encoded_label", "prediction")
  }

  /** Score UNLABELED data (the production-stream case): apply every
    * fitted stage except the label indexer, which would demand the
    * label column the stream doesn't have. The classifier only needs
    * `features`; `encoded_label` exists purely for training/eval. */
  def scoreUnlabeled(model: PipelineModel, df: DataFrame,
                     arrayCol: Option[String] = None): DataFrame = {
    val prepared = arrayCol.map(withArrayFeatures(df, _)).getOrElse(df)
    model.stages
      .filterNot(_.isInstanceOf[StringIndexerModel])
      .foldLeft(prepared)((d, stage) => stage.transform(d))
  }
}
