package perfbench

import graft.ml.IdsPipeline
import graft.ops.{CleanOps, SplitOps}
import graft.streaming.StreamOps
import org.apache.spark.ml.{Pipeline, PipelineModel}
import org.apache.spark.ml.feature.{MinMaxScaler, StringIndexer, VectorAssembler}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** The paper's own workload: train four classifiers on a dirty flow
  * table, then serve the decision tree over a file stream into a keyed
  * upsert sink. The inputs are made by `perfbench/gen_flows.py`; this
  * object only reads them.
  *
  * One round is the training phase (probe, impute, split, prep, four
  * fits, score: one operation each) followed by the serve phase (one
  * operation per micro-batch). Checks run after the round, outside its
  * span.
  */
object Ids {
  val featureCols: Seq[String] = (0 until 78).map(j => s"f$j")
  val algos: Seq[(String, IdsPipeline.Algo)] = Seq(
    "DT" -> IdsPipeline.DT, "NB" -> IdsPipeline.NB,
    "RF" -> IdsPipeline.RF, "MLP" -> IdsPipeline.MLP)
  val trainOps: Seq[String] =
    Seq("probe", "impute", "split", "prep") ++ algos.map("fit_" + _._1) :+
      "score"
  /** The reference's MLP hidden layers (`modelling.py`: [78, 4, 2, 3]). */
  val mlpHidden = Seq(4, 2)
  val validFraction = 0.2

  final case class Inputs(flows: String, serveDir: String, serveFiles: Int,
                          labels: Map[String, Long])

  /** What a round leaves for its checks. */
  final class RoundState {
    var cleaned: Option[DataFrame] = None
    var train: Option[DataFrame] = None
    var valid: Option[DataFrame] = None
    var accuracy = Map[String, Double]()
    var serveModel: Option[PipelineModel] = None
    var sinkPath = ""
    def release(): Unit = Seq(train, valid).flatten.foreach(_.unpersist())
  }

  private def nanNulled(c: String) =
    when(isnan(col(c)), lit(null).cast("double")).otherwise(col(c))

  def round(spark: SparkSession, rec: Recorder, in: Inputs, seed: Long,
            roundDir: String, parent: String): RoundState = {
    val st = new RoundState
    val flows = spark.read.parquet(in.flows)
    // Later operations depend on earlier ones: after a failure the rest
    // of the phase is attempted as failed, so every round attempts the
    // same operations.
    var broken = false
    def step(name: String, phase: String)(body: => Unit): Unit =
      if (broken)
        rec.op(name, phase)(_ => throw new IllegalStateException(
          "skipped: an earlier operation of this round failed"))
      else broken = !rec.op(name, phase)(_ => body)

    var ceilings: org.apache.spark.sql.Row = null
    var prepModel: PipelineModel = null
    var trainP: DataFrame = null
    var validP: DataFrame = null
    val models = scala.collection.mutable.LinkedHashMap[String,
      org.apache.spark.ml.Model[_]]()
    rec.span("phase", "train", parent) { phase =>
      // +inf sentinel probe: mask inf with -100, the max is each column's
      // finite ceiling (modelling.py:61-68)
      step("probe", phase) {
        ceilings = flows.select(featureCols.map(c =>
          max(CleanOps.replaceInf(nanNulled(c), lit(-100.0))).as(c)): _*)
          .head()
      }
      step("impute", phase) {
        val definite = flows.select(
          col("row_id") +: featureCols.zipWithIndex.map { case (c, i) =>
            (if (ceilings.isNullAt(i)) nanNulled(c)
             else CleanOps.replaceInf(nanNulled(c),
               lit(ceilings.getDouble(i)))).as(c)
          } :+ col("label"): _*)
        CleanOps.medianFillApprox(definite, featureCols)
          .write.mode("overwrite").parquet(s"$roundDir/cleaned")
        st.cleaned = Some(spark.read.parquet(s"$roundDir/cleaned"))
      }
      step("split", phase) {
        val (train, valid) = SplitOps.antiJoinSplit(
          st.cleaned.get, "row_id", "label", validFraction, seed)
        st.train = Some(train.persist(StorageLevel.MEMORY_AND_DISK))
        st.valid = Some(valid.persist(StorageLevel.MEMORY_AND_DISK))
        st.train.get.count(); st.valid.get.count()
      }
      step("prep", phase) {
        // scaler fit on the whole cleaned table, as the reference does
        // (it scales before splitting); this also keeps valid features
        // inside [0, 1], which NaiveBayes requires
        prepModel = new Pipeline().setStages(Array(
          new VectorAssembler().setInputCols(featureCols.toArray)
            .setOutputCol("features_raw").setHandleInvalid("skip"),
          new MinMaxScaler().setInputCol("features_raw")
            .setOutputCol("features"),
          new StringIndexer().setInputCol("label")
            .setOutputCol("encoded_label")
            .setStringOrderType("frequencyDesc").setHandleInvalid("skip")))
          .fit(st.cleaned.get)
        def prep(df: DataFrame) = prepModel.transform(df)
          .select("features", "encoded_label")
          .persist(StorageLevel.MEMORY_AND_DISK)
        trainP = prep(st.train.get); validP = prep(st.valid.get)
        trainP.count(); validP.count()
      }
      algos.foreach { case (name, algo) =>
        step(s"fit_$name", phase) {
          models(name) = IdsPipeline.classifier(algo, trainP,
            "encoded_label", featureCols.size, mlpHidden).fit(trainP)
        }
      }
      step("score", phase) {
        st.accuracy = models.map { case (name, m) =>
          name -> m.transform(validP).agg(avg(
            when(col("prediction") === col("encoded_label"), 1.0)
              .otherwise(0.0))).head().getDouble(0)
        }.toMap
      }
    }
    Option(trainP).foreach(_.unpersist()); Option(validP).foreach(_.unpersist())

    rec.span("phase", "serve", parent) { phase =>
      if (broken) (0 until in.serveFiles).foreach { b =>
        rec.op("batch", phase, Map("batch_id" -> b.toLong))(_ =>
          throw new IllegalStateException("skipped: training failed"))
      } else serve(spark, rec, in, prepModel, models("DT"), roundDir,
        phase, st)
    }
    st
  }

  /** Serve: the decision tree, behind the prep model's assembler and
    * scaler, scores one flow file per micro-batch into the keyed upsert
    * sink. A closed loop: each batch starts when the previous one has
    * committed (AvailableNow, one file per trigger). */
  private def serve(spark: SparkSession, rec: Recorder, in: Inputs,
                    prep: PipelineModel, dt: org.apache.spark.ml.Model[_],
                    roundDir: String, phase: String, st: RoundState): Unit = {
    // assembler + scaler + tree; the label indexer is left out because
    // served flows carry no label
    st.serveModel = Some(new Pipeline()
      .setStages(Array(prep.stages(0), prep.stages(1), dt))
      .fit(st.cleaned.get))
    st.sinkPath = s"$roundDir/sink"
    val upsert = StreamOps.keyedParquetUpsert(spark, st.sinkPath, "row_id")
    val sink: (DataFrame, Long) => Unit = { (scored, batchId) =>
      val attrs = Map[String, Any]("batch_id" -> batchId)
      val out = rec.span("transform", "transform", phase, attrs)(_ =>
        scored.select("row_id", "prediction").localCheckpoint())
      rec.span("upsert", "upsert", phase, attrs)(_ => upsert(out, batchId))
    }
    val schema = StructType(StructField("row_id", LongType) +:
      featureCols.map(StructField(_, DoubleType)))
    val stream = StreamOps.fileStream(spark, schema, in.serveDir,
      maxFilesPerTrigger = Some(1))
    // scoreStream sets no checkpoint location; the session default puts
    // this round's under its own scratch directory
    spark.conf.set("spark.sql.streaming.checkpointLocation",
      s"$roundDir/checkpoint")
    val query = StreamOps.scoreStream(stream, st.serveModel.get, sink)
    val error = try { query.awaitTermination(); None }
      catch { case e: Throwable => Some(rec.message(e)) }
    // one op per non-empty micro-batch, timed by the engine's own
    // triggerExecution duration
    val progress = query.recentProgress.filter(_.numInputRows > 0)
    progress.foreach { p =>
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val ms = p.durationMs.get("triggerExecution").longValue
      rec.add(Span(rec.freshId("o"), phase, "op", "batch", start, start + ms,
        Map("ok" -> true, "batch_id" -> p.batchId, "rows" -> p.numInputRows,
          "query_id" -> p.id.toString)))
    }
    // a stream that stopped early leaves files unserved: each missing
    // batch is an attempted, failed operation
    (progress.length until in.serveFiles).foreach { b =>
      rec.op("batch", phase, Map("batch_id" -> b.toLong))(_ =>
        throw new IllegalStateException(
          error.getOrElse("stream ended before this file was served")))
    }
  }

  /** Output checks against properties the generator fixes. */
  def checkRound(spark: SparkSession, rec: Recorder, in: Inputs,
                 st: RoundState, round: Int): Unit = {
    def check(name: String, failsOps: Seq[String])(body: => (Boolean, String))
      : Unit = {
      val (ok, detail) =
        try body catch { case e: Throwable => (false, rec.message(e)) }
      rec.check(s"round$round.$name", ok, detail, failsOps)
    }
    st.cleaned.foreach { cleaned =>
      check("label_counts", Seq("impute")) {
        val got = cleaned.groupBy("label").count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        (got == in.labels, s"got $got, expected ${in.labels}")
      }
      check("no_nonfinite", Seq("impute")) {
        val bad = cleaned.select(featureCols.map(c =>
          sum(when(col(c).isNull || isnan(col(c)) ||
            col(c) === Double.PositiveInfinity ||
            col(c) === Double.NegativeInfinity, 1).otherwise(0))): _*)
          .head().toSeq.map(v => Option(v).map(_.toString.toLong).getOrElse(0L)).sum
        (bad == 0L, s"$bad null, NaN or infinite feature values remain")
      }
    }
    for (train <- st.train; valid <- st.valid; cleaned <- st.cleaned)
      check("split", Seq("split")) {
        val overlap = train.select("row_id")
          .intersect(valid.select("row_id")).count()
        val covered = train.select("row_id").union(valid.select("row_id"))
          .distinct().count()
        val total = cleaned.count()
        (overlap == 0 && covered == total,
          s"overlap $overlap, covered $covered of $total row ids")
      }
    val majority = in.labels.values.max.toDouble / in.labels.values.sum
    st.accuracy.foreach { case (name, acc) =>
      check(s"accuracy_$name", Seq(s"fit_$name")) {
        if (name == "DT" || name == "RF")
          (acc >= 0.99, f"accuracy $acc%.5f, floor 0.99")
        else (acc > majority, f"accuracy $acc%.5f, majority $majority%.5f")
      }
    }
    for (model <- st.serveModel)
      check("sink", Seq("batch")) {
        val sink = spark.read.parquet(st.sinkPath)
        val served = spark.read.parquet(in.serveDir)
        val expected = model.transform(served)
          .select(col("row_id"), col("prediction").as("expected")).distinct()
        val dupIds = sink.groupBy("row_id").count()
          .filter(col("count") > 1).count()
        val nExpected = expected.count()
        val nSink = sink.count()
        val agree = sink.join(expected, "row_id")
          .filter(col("prediction") === col("expected")).count()
        (dupIds == 0 && nSink == nExpected && agree == nExpected,
          s"$nSink sink rows, $nExpected served ids, $dupIds duplicated, " +
            s"$agree agree with batch transform")
      }
  }
}
