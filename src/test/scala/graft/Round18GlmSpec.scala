package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{EvalOps, FitArtifacts, LinAlg}

/** Round-18 d-covariate OvR units (round-17 verdict task 1): the
  * straight-line solver against known systems and its cross-engine
  * rounding/freeze semantics, d = 2 consistency with the Cramer
  * ladder's scoring, the d = 6 fit recovering a multi-feature
  * boundary the 2-covariate fit cannot, accuracy on the q399
  * fixture, and the tidy β artifact's loud-failure round trip. */
class Round18GlmSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("LinAlg.gaussSolve: a known 3-unknown system solves exactly; " +
       "a singular matrix poisons (non-finite) instead of throwing") {
    // A·[1,1,1] = [4,9,6]; every elimination step is exact in
    // binary (integer-valued pivot ratios), so the solve is bitwise
    val a = Array(Array(2.0, 1.0, 1.0), Array(4.0, 3.0, 2.0),
      Array(2.0, 1.0, 3.0))
    val x = LinAlg.gaussSolve(a, Array(4.0, 9.0, 6.0))
    assert(LinAlg.allFinite(x))
    assert(x(0) === 1.0 && x(1) === 1.0 && x(2) === 1.0)
    val sing = LinAlg.gaussSolve(
      Array(Array(1.0, 2.0), Array(2.0, 4.0)), Array(1.0, 2.0))
    assert(!LinAlg.allFinite(sing))
  }

  test("LinAlg.rnd: half away from zero on the binary value — the " +
       "DuckDB round(x)::BIGINT semantic, NOT JVM math.round") {
    assert(LinAlg.rnd(2.5) === 3L)
    assert(LinAlg.rnd(-2.5) === -3L) // math.round gives -2
    assert(LinAlg.rnd(0.4) === 0L && LinAlg.rnd(-0.4) === 0L)
    assert(LinAlg.rnd(1e3 * 1.0005) === 1001L)
  }

  test("ovrPredExprD at d = 2 replays ovrPredExpr bit for bit " +
       "(same betas, same argmax tie rule)") {
    val df = Seq((1L, 2L), (10L, -3L), (0L, 0L), (-5L, 7L))
      .toDF("x1", "x2")
    val labels = Seq(0L, 1L, 2L)
    val b3 = Seq((5L, 2L, -1L), (0L, 3L, 1L), (4L, 0L, 0L))
    val got = df.select(
      EvalOps.ovrPredExpr(col("x1"), col("x2"), labels, b3).as("p2"),
      EvalOps.ovrPredExprD(Seq(col("x1"), col("x2")), labels,
        b3.map(t => Seq(t._1, t._2, t._3))).as("pd")).collect()
    got.foreach(r => assert(r.getLong(0) === r.getLong(1)))
  }

  test("logisticOvrBetasD recovers a 3-feature boundary that needs " +
       "ALL features: the fitted argmax separates a label defined " +
       "on x1 + x2 - x3") {
    val rows = for (x1 <- 0L to 9L; x2 <- 0L to 9L; x3 <- 0L to 9L)
      yield {
        val v = x1 + x2 - x3
        (x1, x2, x3, if (v < 3L) 0L else if (v < 9L) 1L else 2L)
      }
    val df = rows.toDF("x1", "x2", "x3", "lab")
    val cols = Seq("x1", "x2", "x3")
    val b = EvalOps.logisticOvrBetasD(df, cols, "lab",
      Seq(0L, 1L, 2L), iters = 8)
    val acc = EvalOps.ovrScoreConfusionD(df, cols, "lab",
        Seq(0L, 1L, 2L), b.map(_.toSeq).toSeq)
      .select(col("acc_ppm")).head().getLong(0)
    assert(acc > 900000L, s"3-feature boundary not recovered: $acc")
    // the coefficient signs carry the boundary: x3 opposes x1/x2 in
    // every class-2-vs-rest margin
    assert(b(2)(1) > 0L && b(2)(2) > 0L && b(2)(3) < 0L)
  }

  test("the d = 6 fixture fit BEATS the 2-covariate q399 class on " +
       "the same threshold labels (the verdict's >= bar)") {
    val dir = "/root/testdata/sf0.001"
    val fx = Tables.load(spark, dir, "lineitem").select(
      col("l_quantity").cast("long").as("x1"),
      round(col("l_discount") * 100, 0).cast("long").as("x2"),
      round(col("l_tax") * 100, 0).cast("long").as("x3"),
      month(col("l_shipdate")).cast("long").as("x4"),
      col("l_linenumber").cast("long").as("x5"),
      round(col("l_extendedprice") / 1000, 0).cast("long").as("x6"),
      when(col("l_quantity") <= 15, 0L)
        .when(col("l_quantity") <= 35, 1L).otherwise(2L).as("lab"))
    val cols = Seq("x1", "x2", "x3", "x4", "x5", "x6")
    val b = EvalOps.logisticOvrBetasD(fx, cols, "lab",
      Seq(0L, 1L, 2L), iters = 6)
    val acc = EvalOps.ovrScoreConfusionD(fx, cols, "lab",
        Seq(0L, 1L, 2L), b.map(_.toSeq).toSeq)
      .select(col("acc_ppm")).head().getLong(0)
    assert(acc >= 958166L,
      s"d=6 acc $acc fell below the q399 2-covariate bar 958166")
  }

  test("saveGlmBetasD/loadGlmBetasD: bit-exact tidy round trip; a " +
       "wrong label domain, a wrong width, and stale provenance all " +
       "fail LOUDLY") {
    val path = SparkTestSession.tmpDir("spec_beta_d3").toString
    val labels = Seq(0L, 1L, 2L)
    val betas = Array(Array(1L, -2L, 3L, 9L), Array(0L, 5L, -6L, 2L),
      Array(7L, 8L, -9L, -1L))
    val prov = Map("rows" -> "42", "dim" -> "3")
    FitArtifacts.saveGlmBetasD(spark, path, labels, betas, prov)
    val back = FitArtifacts.loadGlmBetasD(spark, path, labels, 3, prov)
    assert(back.map(_.toSeq).toSeq === betas.map(_.toSeq).toSeq)
    intercept[IllegalArgumentException] {
      FitArtifacts.loadGlmBetasD(spark, path, Seq(0L, 1L), 3, prov)
    }
    intercept[IllegalArgumentException] {
      FitArtifacts.loadGlmBetasD(spark, path, labels, 5, prov)
    }
    intercept[IllegalArgumentException] {
      FitArtifacts.loadGlmBetasD(spark, path, labels, 3,
        Map("rows" -> "43"))
    }
  }

  test("argument validation fails loudly BEFORE any cluster work: " +
       "mismatched beta/label/width shapes, ragged artifact rows, " +
       "and an ARMA longAr that cannot cover its own lags") {
    intercept[IllegalArgumentException] {
      EvalOps.ovrPredExprD(Seq(col("x1")), Seq(0L, 1L),
        Seq(Seq(1L, 2L))) // 1 beta row for 2 labels
    }
    intercept[IllegalArgumentException] {
      EvalOps.ovrPredExprD(Seq(col("x1")), Seq(0L, 1L),
        Seq(Seq(1L, 2L, 3L), Seq(4L, 5L, 6L))) // width 3 for d = 1
    }
    intercept[IllegalArgumentException] {
      FitArtifacts.saveGlmBetasD(spark, "/tmp/never", Seq(0L, 1L),
        Array(Array(1L, 2L), Array(3L))) // ragged rows
    }
    intercept[IllegalArgumentException] {
      graft.ops.AggOps.armaHr(
        Seq((1L, 2L)).toDF("t", "x"), "t", "x",
        p = 3, q = 1, longAr = 2) // longAr < p
    }
    intercept[IllegalArgumentException] {
      EvalOps.logisticOvrBetasD(Seq((1L, 0L)).toDF("x1", "lab"),
        Seq("x1", "x1"), "lab", Seq(0L, 1L), 2) // duplicate covariate
    }
  }

  test("the d6 memo-style fingerprint re-fits on a content swap: " +
       "the same fit inputs give the same betas, perturbed inputs " +
       "give different ones (determinism + sensitivity)") {
    val rows = (0 until 400).map(i =>
      ((i % 37).toLong, (i % 11).toLong, (i % 5).toLong,
        if (i % 37 < 12) 0L else if (i % 37 < 25) 1L else 2L))
    val df = rows.toDF("x1", "x2", "x3", "lab")
    val cols = Seq("x1", "x2", "x3")
    val b1 = EvalOps.logisticOvrBetasD(df, cols, "lab",
      Seq(0L, 1L, 2L), 4)
    val b2 = EvalOps.logisticOvrBetasD(df, cols, "lab",
      Seq(0L, 1L, 2L), 4)
    assert(b1.map(_.toSeq).toSeq === b2.map(_.toSeq).toSeq,
      "the deterministic fit must replay bit for bit")
    val shifted = rows.map { case (a, b, c, l) => (a + 1L, b, c, l) }
      .toDF("x1", "x2", "x3", "lab")
    val b3 = EvalOps.logisticOvrBetasD(shifted, cols, "lab",
      Seq(0L, 1L, 2L), 4)
    assert(b1.map(_.toSeq).toSeq !== b3.map(_.toSeq).toSeq,
      "a covariate shift must move the fitted betas")
  }

  test("logisticOvrBetasD degenerate freeze: an EMPTY frame leaves " +
       "every class at the zero vector (NULL sums freeze, the " +
       "oracle's isfinite convention)") {
    val empty = Seq.empty[(Long, Long, Long)].toDF("x1", "x2", "lab")
    val b = EvalOps.logisticOvrBetasD(empty, Seq("x1", "x2"), "lab",
      Seq(0L, 1L), iters = 3)
    assert(b.flatten.forall(_ === 0L))
    // and a CONSTANT covariate (singular Gram) freezes too
    val const = (1 to 10).map(i => (5L, 5L, (i % 2).toLong))
      .toDF("x1", "x2", "lab")
    val bc = EvalOps.logisticOvrBetasD(const, Seq("x1", "x2"), "lab",
      Seq(0L, 1L), iters = 3)
    assert(bc.flatten.forall(_ === 0L))
  }
}
