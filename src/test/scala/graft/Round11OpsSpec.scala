package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{AggOps, EvalOps, RelOps}

/** Round-11 operator units: the integer-exact classification report
  * (multiclassMetrics' oracled twin — q270 carries the DuckDB hash
  * check, these pin the hand-checkable arithmetic and the
  * zero-denominator guards) and the multi-attribute SCD2 build
  * (q272/q262 carry the hash check; the null-run spec here is the
  * q254 convention re-proved for the composite change screen). */
class Round11OpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // ------------------------------------------------------------------
  // classificationReport
  // ------------------------------------------------------------------

  test("classificationReport: hand-computed ppm rationals, including " +
       "a prediction-only class (tp+fn=0 ⇒ recall null, never 0/0)") {
    // (label, pred) multiset: a→a ×3, a→b ×1, b→b ×2, b→c ×1
    val preds = (Seq.fill(3)(("a", "a")) ++ Seq(("a", "b")) ++
      Seq.fill(2)(("b", "b")) ++ Seq(("b", "c")))
      .toDF("label", "pred")
    val got = AggOps.classificationReport(preds, "label", "pred")
      .orderBy(col("cls"))
      .as[(String, Long, Option[Long], Option[Long], Option[Long], Long)]
      .collect()
    // a: tp=3 fp=0 fn=1 → p=1e6, r=3e6 div 4=750000, f1=6e6 div 7=857142
    assert(got(0) === (("a", 4L, Some(1000000L), Some(750000L),
      Some(857142L), 714285L)))
    // b: tp=2 fp=1 fn=1 → p=2e6 div 3=666666, r=666666, f1=4e6 div 6=666666
    assert(got(1) === (("b", 3L, Some(666666L), Some(666666L),
      Some(666666L), 714285L)))
    // c: never a label — support 0, precision 0 div 1 = 0, recall NULL
    // (no real positives), f1 = 0 div 1 = 0
    assert(got(2) === (("c", 0L, Some(0L), None, Some(0L), 714285L)))
    // accuracy everywhere: 5 correct of 7 → 714285 ppm (truncating)
  }

  test("classificationReport: perfect predictions hit exactly 1e6 ppm " +
       "on every metric") {
    val preds = Seq(("x", "x"), ("y", "y"), ("y", "y")).toDF("l", "p")
    val got = AggOps.classificationReport(preds, "l", "p")
    assert(got.filter(col("precision_ppm") =!= 1000000L ||
      col("recall_ppm") =!= 1000000L || col("f1_ppm") =!= 1000000L ||
      col("accuracy_ppm") =!= 1000000L).count() === 0)
    assert(got.count() === 2)
  }

  test("classificationReport: partition invariance") {
    val preds = (1 to 200).map(i =>
      (s"c${i % 3}", s"c${(i * 7) % 3}")).toDF("l", "p")
    val a = AggOps.classificationReport(preds.repartition(1), "l", "p")
      .orderBy(col("cls")).collect().toSeq
    val b = AggOps.classificationReport(preds.repartition(7), "l", "p")
      .orderBy(col("cls")).collect().toSeq
    assert(a === b)
  }

  // ------------------------------------------------------------------
  // multi-attribute scd2Build
  // ------------------------------------------------------------------

  private def ts(min: Int) = Timestamp.valueOf(f"2024-01-01 00:$min%02d:00")

  test("scd2Build multi-attr: null-run suppression + composite change " +
       "screen, hand-computed versions and validity") {
    val changes = Seq(
      (1L, null.asInstanceOf[String], Some(1L), ts(1), 10L),
      (1L, null.asInstanceOf[String], Some(1L), ts(2), 11L), // no-op
      (1L, "x", Some(1L), ts(3), 12L),  // attr a changed
      (1L, "x", None: Option[Long], ts(4), 13L), // attr b → null: change
      (1L, "x", None: Option[Long], ts(5), 14L)  // no-op (null == null)
    ).toDF("k", "a", "b", "ts", "tie")
    val hist = RelOps.scd2Build(changes, "k", Seq("a", "b"), "ts", "tie")
      .orderBy(col("version"))
      .collect()
    assert(hist.length === 3)
    // version 1 opens on the FIRST row even with a null attr (the
    // positional guard), closes at the t3 change
    assert(hist(0).getAs[String]("a") === null)
    assert(hist(0).getAs[Long]("b") === 1L)
    assert(hist(0).getAs[Long]("valid_from_us") ===
      ts(1).getTime * 1000)
    assert(hist(0).getAs[Long]("valid_to_us") === ts(3).getTime * 1000)
    assert(!hist(0).getAs[Boolean]("is_current"))
    // version 2: a flipped null→x while b held
    assert(hist(1).getAs[String]("a") === "x")
    assert(hist(1).getAs[Long]("valid_to_us") === ts(4).getTime * 1000)
    // version 3: b flipped 1→null while a held; open-ended
    assert(hist(2).getAs[String]("a") === "x")
    assert(hist(2).isNullAt(hist(2).fieldIndex("b")))
    assert(hist(2).isNullAt(hist(2).fieldIndex("valid_to_us")))
    assert(hist(2).getAs[Boolean]("is_current"))
  }

  // ------------------------------------------------------------------
  // scd2Apply — incremental maintenance
  // ------------------------------------------------------------------

  test("scd2Apply: full-rebuild identity on the fixture — applying " +
       "the tail of the change log to a history built from its head " +
       "equals the one-shot build") {
    val ev = Tables.load(spark, "/root/testdata/sf0.001", "events")
      .withColumn("band",
        expr("cast(round(value * 100) as bigint) div 2000"))
    val attrs = Seq("event_type", "band")
    val cut = ev.agg(date_add(to_date(min(col("ts"))), 20))
      .collect()(0).getDate(0)
    val full = RelOps.scd2Build(ev, "user_id", attrs, "ts", "event_id")
    val applied = RelOps.scd2Apply(
      RelOps.scd2Build(ev.filter(to_date(col("ts")) < lit(cut)),
        "user_id", attrs, "ts", "event_id"),
      ev.filter(to_date(col("ts")) >= lit(cut)),
      "user_id", attrs, "ts", "event_id")
    assert(applied.exceptAll(full).count() === 0)
    assert(full.exceptAll(applied).count() === 0)
    assert(full.count() === applied.count() && full.count() > 0)
  }

  test("scd2Apply: hand cases — no-op delta across the boundary " +
       "extends the open version; a brand-new key builds from " +
       "version 1; untouched keys pass through byte-identical") {
    val base = Seq(
      (1L, "a", 1L, ts(1), 10L), (1L, "b", 1L, ts(2), 11L),
      (2L, "x", 5L, ts(1), 20L)).toDF("k", "a", "b", "ts", "tie")
    val hist = RelOps.scd2Build(base, "k", Seq("a", "b"), "ts", "tie")
    val delta = Seq(
      (1L, "b", 1L, ts(5), 30L), // no-op vs key 1's open (b, 1)
      (1L, "c", 1L, ts(6), 31L), // real change → version 3
      (3L, "z", 9L, ts(7), 40L)  // brand-new key
    ).toDF("k", "a", "b", "ts", "tie")
    val got = RelOps.scd2Apply(hist, delta, "k", Seq("a", "b"),
      "ts", "tie")
    // key 1: v1 (a) closed at ts2, v2 (b) closed at ts6 — NOT ts5
    // (the no-op must not close it), v3 (c) open
    val k1 = got.filter(col("k") === 1).orderBy(col("version")).collect()
    assert(k1.length === 3)
    assert(k1(1).getAs[String]("a") === "b")
    assert(k1(1).getAs[Long]("valid_to_us") === ts(6).getTime * 1000)
    assert(k1(2).getAs[String]("a") === "c" &&
      k1(2).getAs[Boolean]("is_current"))
    // key 2 untouched: identical to its built history
    assert(got.filter(col("k") === 2).exceptAll(
      hist.filter(col("k") === 2)).count() === 0)
    // key 3: single open version 1
    val k3 = got.filter(col("k") === 3).collect()
    assert(k3.length === 1 && k3(0).getAs[Long]("version") === 1L &&
      k3(0).getAs[Boolean]("is_current"))
  }

  // ------------------------------------------------------------------
  // topKOverlap
  // ------------------------------------------------------------------

  test("topKOverlap: hand-computed hits/recall, including a " +
       "zero-overlap query (hits 0, recall 0 — never a null row)") {
    val exact = Seq((1L, 10L), (1L, 11L), (1L, 12L),
      (2L, 20L), (2L, 21L), (2L, 22L)).toDF("q", "item")
    val approx = Seq((1L, 11L), (1L, 12L), (1L, 99L),
      (2L, 98L), (2L, 97L), (2L, 96L)).toDF("q", "item")
    val got = EvalOps.topKOverlap(approx, exact, "q", "item")
      .orderBy(col("q"))
      .as[(Long, Long, Long, Long)].collect()
    assert(got(0) === ((1L, 2L, 3L, 666666L)))
    assert(got(1) === ((2L, 0L, 3L, 0L)))
  }

  test("scd2Build: an all-null deletedCol is exactly the build " +
       "without one on the events fixture (q254's single-attr shape)") {
    val ev = Tables.load(spark, "/root/testdata/sf0.001", "events")
    val a = RelOps.scd2Build(ev, "user_id", Seq("event_type"), "ts",
      "event_id").orderBy(col("user_id"), col("version"))
    val b = RelOps.scd2Build(
        ev.withColumn("deleted", lit(null).cast("boolean")), "user_id",
        Seq("event_type"), "ts", "event_id", Some("deleted"))
      .orderBy(col("user_id"), col("version"))
    assert(a.exceptAll(b).count() === 0)
    assert(a.count() === b.count())
  }

}
