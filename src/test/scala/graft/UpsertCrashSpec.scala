package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamOps

/** `StreamOps.keyedParquetUpsert` swaps its table by two renames
  * (`path → path_old`, `path_tmp → path`) and a delete. Each test stages
  * the directories a crash at one point of that swap leaves behind, then
  * delivers the next batch: the table must hold exactly one row for
  * every key, and no leftover directory may survive. */
class UpsertCrashSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def batch(keys: Range, v: String) =
    keys.map(k => (k.toLong, v)).toDF("k", "v")

  /** `merged` (the finished a+b merge a crashed swap would have moved
    * in) copied to `to`, without its `_SUCCESS` marker if `partial`. */
  private def copyMerged(merged: Path, to: Path, partial: Boolean): Unit = {
    Files.createDirectories(to)
    Fs.listDir(merged)(_.forEach { f =>
      if (!(partial && f.getFileName.toString == "_SUCCESS"))
        Files.copy(f, to.resolve(f.getFileName),
          StandardCopyOption.REPLACE_EXISTING)
    })
  }

  // (table, tmp, old, merged) → the state a crash leaves; the table at
  // `table` holds batch a, the crashed batch b overlaps it on keys 5..9
  private val states: Seq[(String, (Path, Path, Path, Path) => Unit)] = Seq(
    "merged table still being written" -> { (_, tmp, _, m) =>
      copyMerged(m, tmp, partial = true) },
    "merged table committed, swap not started" -> { (_, tmp, _, m) =>
      copyMerged(m, tmp, partial = false) },
    "table moved aside, new one not yet moved in" -> { (t, tmp, old, m) =>
      Files.move(t, old); copyMerged(m, tmp, partial = false) },
    "table moved aside next to an unfinished write" -> { (t, tmp, old, m) =>
      Files.move(t, old); copyMerged(m, tmp, partial = true) },
    "new table in, old one not deleted" -> { (t, _, old, m) =>
      Files.move(t, old); copyMerged(m, t, partial = false) },
    "new table in, old one half deleted" -> { (t, _, old, m) =>
      Files.move(t, old); copyMerged(m, t, partial = false)
      Files.delete(old.resolve("_SUCCESS")) })

  for ((state, crash) <- states) test(s"recovers from a crash: $state") {
    val dir = Paths.get("target/spec_upsert_crash")
    Fs.deleteRecursively(dir)
    val table = dir.resolve("t")
    val merged = dir.resolve("merged")
    StreamOps.keyedParquetUpsert(spark, table.toString, "k")(
      batch(0 until 10, "a"), 0L)
    val twin = StreamOps.keyedParquetUpsert(spark, merged.toString, "k")
    twin(batch(0 until 10, "a"), 0L); twin(batch(5 until 15, "b"), 1L)
    val tmp = Paths.get(s"${table}_tmp")
    val old = Paths.get(s"${table}_old")
    crash(table, tmp, old, merged)
    StreamOps.keyedParquetUpsert(spark, table.toString, "k")(
      batch(10 until 20, "c"), 2L)
    val keys = spark.read.parquet(table.toString).select("k").as[Long]
      .collect().toSeq
    assert(keys.sorted === (0L until 20L))
    assert(!Files.exists(tmp) && !Files.exists(old))
  }
}
