package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GraftFunctions

/** U1 semantics (SURVEY §2.10): the reference UDF's contract —
  * `/root/reference/src/modelling.py:61-68` — re-expressed natively.
  * Pins: null passthrough, 0.0 passthrough, ±∞ → replacement, and the
  * replacement-null corner the round-1 codegen got wrong (finite input
  * must survive a null replacement).
  */
class ExpressionsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def replaceInfOn(values: Seq[Option[Double]],
                           replacement: Option[Double]): Seq[Option[Double]] = {
    val repl = replacement.map(lit(_)).getOrElse(lit(null).cast("double"))
    values.toDF("x")
      .select(GraftFunctions.replace_inf(col("x"), repl).as("y"))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
      .toSeq
  }

  test("ReplaceInf: +inf and -inf replaced, finite/zero/null pass through") {
    val in = Seq(Some(Double.PositiveInfinity), Some(Double.NegativeInfinity),
      Some(1.5), Some(0.0), None)
    assert(replaceInfOn(in, Some(-100.0)) ===
      Seq(Some(-100.0), Some(-100.0), Some(1.5), Some(0.0), None))
  }

  test("ReplaceInf: null replacement nulls only infinite inputs") {
    val in = Seq(Some(Double.PositiveInfinity), Some(2.0), Some(0.0), None)
    assert(replaceInfOn(in, None) === Seq(None, Some(2.0), Some(0.0), None))
  }

  test("ReplaceInf: interpreted eval agrees with codegen path") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.graft.ReplaceInf
    import org.apache.spark.sql.types.DoubleType
    def evalOne(x: Any, r: Any): Any =
      ReplaceInf(Literal(x, DoubleType), Literal(r, DoubleType)).eval(null)
    assert(evalOne(Double.PositiveInfinity, -1.0) === -1.0)
    assert(evalOne(3.0, -1.0) === 3.0)
    assert(evalOne(null, -1.0) === null)
    assert(evalOne(3.0, null) === 3.0)   // finite survives null replacement
    assert(evalOne(Double.PositiveInfinity, null) === null)
  }

  test("CosineSim: identical=1, orthogonal=0, zero-norm=null") {
    val df = Seq(
      (Seq(1.0, 0.0), Seq(1.0, 0.0)),
      (Seq(1.0, 0.0), Seq(0.0, 1.0)),
      (Seq(0.0, 0.0), Seq(1.0, 1.0)))
      .toDF("a", "b")
      .select(GraftFunctions.cosine_sim(col("a"), col("b")).as("sim"))
    val rows = df.collect()
    assert(math.abs(rows(0).getDouble(0) - 1.0) < 1e-12)
    assert(math.abs(rows(1).getDouble(0)) < 1e-12)
    assert(rows(2).isNullAt(0))
  }

  test("FuseReplaceInf rewrites the when-chain into the fused expression") {
    import org.apache.spark.sql.graft.{FuseReplaceInf, ReplaceInf}
    val s2 = spark.newSession()
    s2.experimental.extraOptimizations = Seq(FuseReplaceInf)
    import s2.implicits._
    // must come from a real source: ConvertToLocalRelation folds
    // projections over Seq-backed frames before any optimizer rule runs
    val dir = SparkTestSession.tmpDir("fuse_test")
    Seq(Some(1.0), Some(Double.PositiveInfinity),
      Some(Double.NegativeInfinity), None).toDF("x")
      .write.mode("overwrite").parquet(dir.toString)
    val df = s2.read.parquet(dir.toString)
      .select(ops.CleanOps.replaceInf(col("x"), lit(-1.0)).as("y"))
    assert(df.queryExecution.optimizedPlan.expressions
      .exists(_.exists(_.isInstanceOf[ReplaceInf])),
      "optimized plan should contain the fused ReplaceInf")
    val got = df.collect().map(r =>
      if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    // parquet scan order isn't write order — compare as multiset
    assert(got.toSeq.sortBy(_.getOrElse(Double.MinValue)) ===
      Seq(None, Some(-1.0), Some(-1.0), Some(1.0)))
  }

  test("SQL surface: replace_inf and cosine_sim registered as functions") {
    import org.apache.spark.sql.graft.GraftExtensions
    val s2 = spark.newSession()
    GraftExtensions.register(s2)
    import s2.implicits._
    Seq((Double.PositiveInfinity, Seq(1.0, 0.0), Seq(1.0, 0.0)))
      .toDF("x", "a", "b").createOrReplaceTempView("t")
    val row = s2.sql(
      "SELECT replace_inf(x, -9.0) AS rx, cosine_sim(a, b) AS cs FROM t")
      .head()
    assert(row.getDouble(0) === -9.0)
    assert(math.abs(row.getDouble(1) - 1.0) < 1e-12)
  }

  test("CosineSim matches the composed aggregate/zip_with formulation") {
    val rnd = new scala.util.Random(7)
    val vecs = Seq.fill(20)((Seq.fill(8)(rnd.nextGaussian()),
      Seq.fill(8)(rnd.nextGaussian())))
    val df = vecs.toDF("a", "b")
    val both = df.select(
      GraftFunctions.cosine_sim(col("a"), col("b")).as("fused"),
      ops.SimilarityOps.cosine(col("a"), col("b")).as("lambda"))
    both.collect().foreach { r =>
      assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-12)
    }
  }

  test("collect_top_k equals the rank-window top-k (per group, ordered, " +
       "tie-broken); short groups return all members") {
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(11)
    val rows = Seq.tabulate(200)(i =>
      (s"g${i % 7}", i.toLong, rnd.nextInt(40).toLong))
    val df = rows.toDF("g", "id", "score")
    val viaWindow = df.withColumn("rnk", row_number().over(
        Window.partitionBy(col("g"))
          .orderBy(col("score").desc, col("id"))))
      .filter(col("rnk") <= 5)
      .select(col("g"), col("id"), col("rnk").cast("long").as("rnk"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val viaHeap = df.groupBy(col("g"))
      .agg(GraftFunctions.collect_top_k(
        struct(col("score"), (-col("id")).as("_ni"), col("id")), 5).as("t"))
      .select(col("g"), posexplode(col("t")))
      .select(col("g"), col("col.id").as("id"),
        (col("pos") + 1).cast("long").as("rnk"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(viaHeap === viaWindow)
    // a group smaller than k yields its full membership
    val small = Seq(("a", 1L), ("a", 2L)).toDF("g", "id")
      .groupBy(col("g"))
      .agg(GraftFunctions.collect_top_k(struct(col("id")), 5).as("t"))
      .select(explode(col("t"))).count()
    assert(small === 2L)
  }

  // Expected values below were produced by DuckDB's
  // jaro_winkler_similarity on these exact inputs — the oracle engine
  // the q174 correctness gate compares against.
  test("JaroWinkler: DuckDB-pinned vectors (boost >0.7, prefix<=4, " +
       "empty-vs-empty = 0)") {
    val vectors = Seq(
      ("martha", "marhta", 0.9611111111111111),
      ("dixon", "dicksonx", 0.8133333333333332),
      ("duane", "dwayne", 0.84),
      ("large bolt", "large widget", 0.8566666666666667),
      ("cold widget", "small widget", 0.7146464646464646),
      ("widget", "widgets", 0.9714285714285714),
      ("abc", "abc", 1.0),
      ("ab", "ba", 0.0),   // window 0: adjacent transposes don't match
      ("a", "", 0.0),
      ("", "", 0.0))       // DuckDB's corner: NOT 1.0
    val got = vectors.map(v => (v._1, v._2)).toDF("a", "b")
      .select(GraftFunctions.jaro_winkler(col("a"), col("b")))
      .collect().map(_.getDouble(0))
    vectors.zip(got).foreach { case ((a, b, want), d) =>
      assert(math.abs(d - want) < 1e-12, s"jw($a, $b) = $d, want $want")
    }
  }

  test("JaroWinkler: null on either side is null; interpreted eval " +
       "agrees with the codegen'd column path") {
    val rows = Seq((Some("martha"), Some("marhta")),
      (None: Option[String], Some("x")), (Some("x"), None))
    val out = rows.toDF("a", "b")
      .select(GraftFunctions.jaro_winkler(col("a"), col("b")).as("s"))
      .collect()
    assert(!out(0).isNullAt(0) && out(1).isNullAt(0) && out(2).isNullAt(0))
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.graft.JaroWinkler
    val interp = JaroWinkler(Literal("martha"), Literal("marhta"))
      .eval(null).asInstanceOf[Double]
    assert(math.abs(interp - out(0).getDouble(0)) < 1e-15)
  }

  test("jaro_winkler is registered as a SQL function") {
    org.apache.spark.sql.graft.GraftExtensions.register(spark)
    val r = spark.sql(
      "SELECT round(jaro_winkler('martha', 'marhta'), 6) AS s")
      .head().getDouble(0)
    assert(math.abs(r - 0.961111) < 1e-9)
  }
}
