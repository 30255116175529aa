package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One shared local session for the whole ScalaTest run (suites execute
  * in a single forked JVM; session startup is ~5 s, so per-suite
  * sessions would dominate test time), plus the stream-staging helpers
  * the streaming specs share. No input dir, so AQE keeps Spark's default
  * advisory size: `PlanShapeSpec` pins plans under exactly these
  * settings. */
object SparkTestSession {
  lazy val spark: SparkSession = GraftSession.build(4,
    scratch = Some("target"), logLevel = "ERROR")

  /** Every [[tmpDir]] of this JVM, deleted when it exits (one failed
    * delete does not keep the others). */
  private val tmpDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[Path]()
  sys.addShutdownHook(
    tmpDirs.forEach(d => scala.util.Try(Fs.deleteRecursively(d))))

  /** A fresh directory under target/ for one spec's files, deleted
    * when the test JVM exits. */
  def tmpDir(tag: String): Path = {
    val dir = Files.createTempDirectory(
      Paths.get("target").toAbsolutePath, tag)
    tmpDirs.add(dir)
    dir
  }

  /** Stage per-batch single-file parquets with increasing modtimes so
    * maxFilesPerTrigger=1 replays them in order (q275's staging). */
  def stageBatches(tag: String, batches: Seq[DataFrame]): String = {
    val dir = tmpDir(tag)
    batches.zipWithIndex.foreach { case (b, i) =>
      val tmp = s"$dir/_tmp$i"
      b.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = Fs.listDir(Paths.get(tmp))(
        _.filter(p => p.getFileName.toString.startsWith("part-"))
          .findFirst().get())
      val dest = Paths.get(s"$dir/batch$i.parquet")
      Files.move(part, dest, StandardCopyOption.REPLACE_EXISTING)
      Files.setLastModifiedTime(dest,
        java.nio.file.attribute.FileTime
          .fromMillis(1000000000000L + i * 600000L))
      Fs.deleteRecursively(Paths.get(tmp))
    }
    dir.toString
  }
}
