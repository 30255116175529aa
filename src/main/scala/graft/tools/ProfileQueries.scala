// Per-query profiling harness for the optimization rounds (guide §1):
// runs the named queries once at the target SF after a codegen warmup,
// with a SparkListener capturing per-job wall time, stage shuffle
// bytes, and task counts — the "where is the time actually going"
// readout the bench's single wall number can't give.
//
// Run: SPARK_GRAFT_SF_DIR=... sbt "runMain graft.tools.ProfileQueries q253_curation_e2e ..."
package graft.tools

import org.apache.spark.scheduler._

import scala.collection.mutable

object ProfileQueries {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.GraftSession.build(cpus, inputDir = Some(sfDir),
      logLevel = "ERROR")
    require(args.nonEmpty, "usage: ProfileQueries <query> [query ...]")
    val unknown = args.toSet -- graft.SparkEntry.queries.keySet
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")

    case class JobRec(desc: String, start: Long, var end: Long = 0L,
                      var stages: Int = 0, var tasks: Int = 0,
                      var shuffleReadB: Long = 0L,
                      var shuffleWriteB: Long = 0L,
                      var inputB: Long = 0L)
    val jobs = mutable.LinkedHashMap[Int, JobRec]()
    val stageToJob = mutable.Map[Int, Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.synchronized {
          jobs(e.jobId) = JobRec(
            Option(e.properties)
              .flatMap(p => Option(p.getProperty(
                "spark.job.description"))).getOrElse(""),
            e.time, stages = e.stageIds.size)
          e.stageIds.foreach(sid => stageToJob(sid) = e.jobId)
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.synchronized {
          jobs.get(e.jobId).foreach(_.end = e.time)
        }
      override def onStageCompleted(
          e: SparkListenerStageCompleted): Unit = jobs.synchronized {
        val si = e.stageInfo
        stageToJob.get(si.stageId).flatMap(jobs.get).foreach { j =>
          j.tasks += si.numTasks
          j.shuffleReadB += si.taskMetrics.shuffleReadMetrics.totalBytesRead
          j.shuffleWriteB += si.taskMetrics.shuffleWriteMetrics.bytesWritten
          j.inputB += si.taskMetrics.inputMetrics.bytesRead
        }
      }
    }

    // the bench's warm-ups: codegen at sf0.001, then one untimed
    // target-SF pass (page cache / JIT)
    for (d <- Seq(graft.GraftSession.warmDir(sfDir), sfDir); name <- args)
      graft.SparkEntry.queries(name)(spark, d)
        .write.format("noop").mode("overwrite").save()

    spark.sparkContext.addSparkListener(listener)
    args.foreach { name =>
      jobs.synchronized { jobs.clear(); stageToJob.clear() }
      val t0 = System.nanoTime()
      spark.sparkContext.setJobDescription(name)
      graft.SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.setJobDescription(null)
      // listener events drain asynchronously; give the bus a moment
      Thread.sleep(300)
      println(f"\n=== $name%s wall=$wall%.3f s ===")
      val snap = jobs.synchronized { jobs.values.toVector }
      val totalJob = snap.map(j => (j.end - j.start) / 1e3).sum
      println(f"jobs=${snap.size}%d sum_job_wall=$totalJob%.3f s " +
        f"(gap=${wall - totalJob}%.3f s driver/planning)")
      snap.zipWithIndex.foreach { case (j, i) =>
        println(f"  job$i%-3d ${(j.end - j.start) / 1e3}%7.3f s " +
          f"stages=${j.stages}%-3d tasks=${j.tasks}%-5d " +
          f"in=${j.inputB / 1024}%6d KiB " +
          f"shR=${j.shuffleReadB / 1024}%6d KiB " +
          f"shW=${j.shuffleWriteB / 1024}%6d KiB")
      }
    }
    spark.stop()
  }
}
