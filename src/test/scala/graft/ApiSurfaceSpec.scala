package graft

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

// top-level: Catalyst encoders can't capture a test-class inner scope
case class Order(o_orderkey: Long, o_custkey: Long, o_orderstatus: String,
                 o_totalprice: Double)

/** Typed `Aggregator[IN, BUF, OUT]` — the idiomatic user-defined
  * aggregate surface (SURVEY §2.10; the engine's own hot-path
  * aggregates are Catalyst `TypedImperativeAggregate`s, this is the
  * public-API form a library user extends): Welford-style mean over
  * doubles, mergeable across partitions like any builtin. */
object MeanAgg extends Aggregator[Double, (Double, Long), Double] {
  def zero: (Double, Long) = (0.0, 0L)
  def reduce(b: (Double, Long), x: Double): (Double, Long) =
    (b._1 + x, b._2 + 1)
  def merge(a: (Double, Long), b: (Double, Long)): (Double, Long) =
    (a._1 + b._1, a._2 + b._2)
  def finish(b: (Double, Long)): Double =
    if (b._2 == 0) Double.NaN else b._1 / b._2
  def bufferEncoder: Encoder[(Double, Long)] =
    Encoders.tuple(Encoders.scalaDouble, Encoders.scalaLong)
  def outputEncoder: Encoder[Double] = Encoders.scalaDouble
}

/** The two API surfaces beyond the Column DSL that a reference user
  * gets: `spark.sql` over registered views (must agree with the
  * DataFrame formulation of the same query) and typed `Dataset[T]`
  * with case-class encoders. */
class ApiSurfaceSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  test("spark.sql over registered views matches the DataFrame plan") {
    Tables.names.foreach { n =>
      Tables.load(spark, dir, n).createOrReplaceTempView(n)
    }
    val sql = spark.sql(
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty, count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '2000-12-31 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getDouble(2), r.getLong(3)))
    val df = SparkEntry.queries("q01_pricing_summary")(spark, dir)
      .select("l_returnflag", "l_linestatus", "sum_qty", "count_order")
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getDouble(2), r.getLong(3)))
    assert(sql.toSeq === df.toSeq)
  }

  test("typed Dataset[Order] groupByKey agrees with the untyped groupBy") {
    import spark.implicits._
    val ds: Dataset[Order] = Tables.load(spark, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      .as[Order]
    val typed = ds.groupByKey(_.o_orderstatus)
      .mapValues(_.o_totalprice)
      .reduceGroups(_ + _)
      .collect().toMap.map { case (k, v) => k -> BigDecimal(v)
        .setScale(2, BigDecimal.RoundingMode.HALF_UP) }
    val untyped = Tables.load(spark, dir, "orders")
      .groupBy(col("o_orderstatus")).agg(sum(col("o_totalprice")))
      .collect().map(r => r.getString(0) -> BigDecimal(r.getDouble(1))
        .setScale(2, BigDecimal.RoundingMode.HALF_UP)).toMap
    assert(typed === untyped)
  }

  test("the driver smoke entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("registry consistency: every oracle key names a registered " +
       "query, and the no-oracle set is exactly the declared four") {
    val qs = SparkEntry.queries.keySet
    val os = SparkEntry.oracleSql.keySet
    val orphanOracles = os -- qs
    assert(orphanOracles.isEmpty,
      s"oracles without a query (typo?): $orphanOracles")
    // SURVEY §5 convention: only seeded-RNG sampling and ML-training
    // queries may lack an oracle — a NEW query landing here unannounced
    // means someone forgot its oracle entry (q33 left this set in
    // round 9: simhashMd5's bits are engine-portable; q48 left it in
    // round 10: the integer-k-means IVF cells replay in SQL)
    val declaredNoOracle = Set("q20_stratified_sample", "q21_split_sizes",
      "q45_ml_metrics", "q54_stream_scoring")
    assert((qs -- os) === declaredNoOracle,
      s"no-oracle set drifted: ${(qs -- os) -- declaredNoOracle} added, " +
        s"${declaredNoOracle -- (qs -- os)} missing")
  }

  test("typed Aggregator (UDAF surface) matches the builtin avg, both " +
       "as a TypedColumn and registered for SQL") {
    import spark.implicits._
    val ds = Tables.load(spark, dir, "orders")
      .select("o_totalprice").as[Double]
    val typed = ds.select(MeanAgg.toColumn).head()
    val builtin = Tables.load(spark, dir, "orders")
      .agg(avg("o_totalprice")).head().getDouble(0)
    assert(math.abs(typed - builtin) < 1e-6)
    spark.udf.register("mean_agg", udaf(MeanAgg))
    Tables.load(spark, dir, "orders").createOrReplaceTempView("o_udaf")
    val viaSql = spark.sql("SELECT mean_agg(o_totalprice) FROM o_udaf")
      .head().getDouble(0)
    assert(math.abs(viaSql - builtin) < 1e-6)
  }

  test("rate source: the unbounded streaming source wires through the " +
       "same transform surface as the file source") {
    val rows = spark.readStream.format("rate")
      .option("rowsPerSecond", "500").load()
      .withColumn("bucket", pmod(col("value"), lit(5)))
    val q = rows.writeStream.format("memory")
      .queryName("rate_smoke").outputMode("append").start()
    try {
      q.processAllAvailable()
      Thread.sleep(1200)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("rate_smoke")
    assert(got.columns.toSeq ===
      Seq("timestamp", "value", "bucket"))
    assert(got.count() >= 0)   // rows depend on wall clock; schema is the check
  }

  test("observe() metrics: row-count/sum reconciliation piggybacks on " +
       "the action (the production audit surface — no second scan)") {
    val df = Tables.load(spark, dir, "orders")
      .observe("audit", count(lit(1)).as("rows"),
        sum(col("o_totalprice")).as("total"))
      .filter(col("o_totalprice") > 0)
    // metrics attach to THIS QueryExecution — df.count() would plan a
    // new one and the observation would never run
    val kept = df.collect().length.toLong
    val m = df.queryExecution.observedMetrics("audit")
    // the metric sees PRE-filter rows: it observes the scan, so the
    // reconciliation check costs zero extra passes
    assert(m.getAs[Long]("rows") >= kept && m.getAs[Long]("rows") > 0)
    assert(m.getAs[Double]("total") > 0.0)
  }

  test("multi-path CSV scan is an implicit UNION ALL of per-file scans " +
       "(S1, the reference's daily-file ingest)") {
    val nation = Tables.load(spark, dir, "nation")
    val base = SparkTestSession.tmpDir("csv_multi")
    val (d1, d2) = (s"$base/day1", s"$base/day2")
    nation.filter(col("n_nationkey") < 12)
      .write.option("header", "true").csv(d1)
    nation.filter(col("n_nationkey") >= 12)
      .write.option("header", "true").csv(d2)
    val unioned = Tables.loadCsv(spark, nation.schema, Seq(d1, d2))
    assert(unioned.count() === nation.count())
    assert(unioned.select("n_nationkey").exceptAll(
      nation.select("n_nationkey")).count() === 0)
  }
}
