package graft

import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.AvroIO

/** The custom Avro DataSource V2 ([[graft.sources.AvroSource]] +
  * [[graft.sources.AvroIO]]): round-trip identity on a fixture table,
  * the full supported type surface (timestamp-micros + nulls through
  * the union-null encoding), REAL column pruning (the pruned schema
  * reaches the scan and becomes the Avro reader schema), and header
  * -only schema inference. The registered q122 carries the DuckDB
  * oracle on the aggregate; these pin the source mechanics. */
class AvroSourceSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  test("avro round-trip is identity on the part table") {
    val src = Tables.load(spark, dir, "part")
    val path = SparkTestSession.tmpDir("spec_part").toString
    AvroIO.write(src, path)
    val back = spark.read.format("graft-avro").schema(src.schema)
      .load(path)
    assert(back.schema === src.schema)
    val a = src.collect().map(_.toSeq).toSet
    val b = back.collect().map(_.toSeq).toSet
    assert(a === b, "row set changed through the avro round-trip")
  }

  test("timestamps ride as timestamp-micros and nulls survive the " +
       "union-null encoding") {
    val src = Seq(
      (1L, Some("a"), Some(java.sql.Timestamp.valueOf("2024-01-02 03:04:05.123456")),
        Some(1.5)),
      (2L, None, None, None),
      (3L, Some(""), Some(java.sql.Timestamp.valueOf("1969-12-31 23:59:59.999999")),
        Some(-0.0))
    ).toDF("id", "s", "ts", "v")
    val path = SparkTestSession.tmpDir("spec_types").toString
    AvroIO.write(src, path)
    val back = spark.read.format("graft-avro").schema(src.schema)
      .load(path)
    assert(back.schema === src.schema)
    assert(back.collect().map(_.toSeq).toSet ===
      src.collect().map(_.toSeq).toSet)
  }

  test("column pruning reaches the scan: a two-column projection reads " +
       "a two-field avro reader schema") {
    val src = Tables.load(spark, dir, "part")
    val path = SparkTestSession.tmpDir("spec_prune").toString
    AvroIO.write(src, path)
    val q = spark.read.format("graft-avro").schema(src.schema).load(path)
      .select(col("p_brand"), col("p_size"))
    val scans = q.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.scan.readSchema()
    }
    assert(scans.nonEmpty, "expected a DSv2 BatchScan")
    assert(scans.head.fieldNames.toSeq === Seq("p_brand", "p_size"),
      s"scan reads ${scans.head.fieldNames.mkString(",")}")
    // and the pruned read returns the right values
    assert(q.distinct().count() ===
      src.select(col("p_brand"), col("p_size")).distinct().count())
  }

  test("streaming read replays one container file per micro-batch " +
       "under maxFilesPerTrigger=1 (admission control) and delivers " +
       "every row exactly once") {
    val src = Tables.load(spark, dir, "part")
      .select(col("p_partkey"), col("p_size"))
    val path = SparkTestSession.tmpDir("spec_stream").toString
    AvroIO.write(src.repartition(3), path)
    val stream = spark.readStream.format("graft-avro").schema(src.schema)
      .option("maxFilesPerTrigger", "1").load(path)
    val name = s"spec_avro_stream_${System.nanoTime()}"
    val q = stream.groupBy().agg(count(lit(1)).as("n"),
        sum(col("p_size")).as("s"))
      .writeStream.outputMode("complete").format("memory").queryName(name)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val dataBatches = q.recentProgress.count(_.numInputRows > 0)
    assert(dataBatches === 3,
      s"expected 3 one-file micro-batches, saw $dataBatches")
    val (n, s) = spark.table(name).as[(Long, Long)].head()
    val (wantN, wantS) = src.agg(count(lit(1)), sum(col("p_size")))
      .as[(Long, Long)].head()
    assert((n, s) === (wantN, wantS), "rows lost or duplicated")
  }

  test("schema inference reads ONE container header (writer schema is " +
       "file metadata) and matches the written frame") {
    val src = Tables.load(spark, dir, "part")
    val path = SparkTestSession.tmpDir("spec_infer").toString
    AvroIO.write(src, path)
    val inferred = spark.read.format("graft-avro").load(path)
    assert(inferred.schema.fields.map(f => (f.name, f.dataType)).toSeq ===
      src.schema.fields.map(f => (f.name, f.dataType)).toSeq)
    assert(inferred.count() === src.count())
  }

  test("DATE and DECIMAL ride the date / decimal logical types — " +
       "exact values, scale, and nulls back; inference recovers the " +
       "precision/scale from the schema") {
    val src = Seq(
      (1L, Some(java.sql.Date.valueOf("2024-02-29")), Some("1234567890.12")),
      (2L, None, None),
      (3L, Some(java.sql.Date.valueOf("1969-07-20")), Some("-0.01")),
      (4L, Some(java.sql.Date.valueOf("1970-01-01")), Some("0.00"))
    ).toDF("id", "d", "p_raw")
      .withColumn("p", col("p_raw").cast("decimal(12,2)")).drop("p_raw")
    val path = SparkTestSession.tmpDir("spec_datedec").toString
    AvroIO.write(src, path)
    val back = spark.read.format("graft-avro").schema(src.schema)
      .load(path)
    assert(back.schema === src.schema)
    assert(back.collect().map(_.toSeq).toSet ===
      src.collect().map(_.toSeq).toSet)
    // inference must rebuild DecimalType(12,2) / DateType from the
    // logical annotations, not fall back to bytes / int
    val inferred = spark.read.format("graft-avro").load(path)
    assert(inferred.schema("d").dataType ===
      org.apache.spark.sql.types.DateType)
    assert(inferred.schema("p").dataType ===
      org.apache.spark.sql.types.DecimalType(12, 2))
  }

  test("nested structs, arrays, and string-keyed maps round-trip as " +
       "nested records / avro arrays / avro maps — values, nulls, " +
       "and float arrays exact") {
    val src = Seq(
      (1L, Some(("x", 10.0)), Seq(1.5f, -2.25f), Seq(Some(1L), None),
        Map("a" -> 1.0, "b" -> -2.5)),
      (2L, None, Seq.empty[Float], Seq(Some(7L)), Map.empty[String, Double])
    ).toDF("id", "info", "vec", "opts", "feats")
    val path = SparkTestSession.tmpDir("spec_nested").toString
    AvroIO.write(src, path)
    val back = spark.read.format("graft-avro").schema(src.schema)
      .load(path)
    assert(back.schema === src.schema)
    assert(back.collect().map(_.toSeq).toSet ===
      src.collect().map(_.toSeq).toSet)
    // nested-field access through the round-trip
    assert(back.filter(col("info._1") === "x").count() === 1)
  }

  test("an unsupported Spark type fails fast with a clear error on " +
       "write — never a silent drop or a mangled encoding") {
    // Avro maps are string-keyed by definition — int keys must reject
    val src = Seq((1L, Map(1 -> 1))).toDF("id", "m")
    val e = intercept[IllegalArgumentException] {
      AvroIO.write(src, SparkTestSession.tmpDir("spec_bad").toString)
    }
    assert(e.getMessage.contains("graft-avro does not map"))
  }
}
