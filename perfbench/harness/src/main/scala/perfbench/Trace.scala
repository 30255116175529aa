package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Traced runs only: Spark's public listeners, attached from outside the
  * program, turn jobs, stages, Catalyst phases and stream progress into
  * spans on the run's [[Recorder]].
  *
  *  - job: parent is the harness span open on the submitting thread
  *    (local property); stream jobs also carry their micro-batch id;
  *  - stage: parent is its job; carries task count, summed task time,
  *    max and median task time, and byte counters;
  *  - qe: one per executed query (`QueryExecutionListener`), with the
  *    analysis / optimization / planning phases of `qe.tracker`; its
  *    parent is resolved afterwards by time containment;
  *  - progress: one per stream micro-batch, with `durationMs`.
  */
final class Trace(rec: Recorder, spark: SparkSession) {
  private final class JobRec(val id: Int, val start: Long,
                             val parent: String, val batch: Option[String],
                             val stageIds: Seq[Int])
  private final class StageRec(val job: Int) {
    var submitted = false
    val taskMs = mutable.ArrayBuffer[Long]()
  }
  private val jobs = mutable.Map[Int, JobRec]()
  private val stages = mutable.Map[Int, StageRec]()
  @volatile private var pending = 0

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      jobs(e.jobId) = new JobRec(e.jobId, e.time,
        prop(rec.SpanProperty).getOrElse(""), prop("streaming.sql.batchId"),
        e.stageIds)
      e.stageIds.foreach(s => stages.getOrElseUpdate(s, new StageRec(e.jobId)))
      pending += 1
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      synchronized {
        stages.getOrElseUpdate(e.stageInfo.stageId,
          new StageRec(-1)).submitted = true
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      if (e.taskInfo != null)
        stages.getOrElseUpdate(e.stageId, new StageRec(-1))
          .taskMs += e.taskInfo.duration
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        val si = e.stageInfo
        val st = stages.getOrElseUpdate(si.stageId, new StageRec(-1))
        val tm = Option(si.taskMetrics)
        val sorted = st.taskMs.sorted
        val median =
          if (sorted.isEmpty) 0.0
          else if (sorted.size % 2 == 1) sorted(sorted.size / 2).toDouble
          else (sorted(sorted.size / 2 - 1) + sorted(sorted.size / 2)) / 2.0
        rec.add(Span(s"s${si.stageId}.${si.attemptNumber()}", s"j${st.job}",
          "stage", si.name,
          si.submissionTime.getOrElse(0L).toDouble,
          si.completionTime.getOrElse(0L).toDouble,
          Map(
            "tasks" -> si.numTasks,
            "task_ms" -> sorted.sum,
            "task_max_ms" -> sorted.lastOption.getOrElse(0L),
            "task_median_ms" -> median,
            "input_bytes" -> tm.map(_.inputMetrics.bytesRead).getOrElse(0L),
            "shuffle_read_bytes" ->
              tm.map(_.shuffleReadMetrics.totalBytesRead).getOrElse(0L),
            "shuffle_write_bytes" ->
              tm.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
            "spill_bytes" -> tm.map(m =>
              m.memoryBytesSpilled + m.diskBytesSpilled).getOrElse(0L),
            "failed" -> si.failureReason.isDefined)))
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.remove(e.jobId).foreach { j =>
        val skipped = j.stageIds.count(s => !stages.get(s).exists(_.submitted))
        rec.add(Span(s"j${j.id}", j.parent, "job", s"job ${j.id}",
          j.start.toDouble, e.time.toDouble,
          Map("stages" -> j.stageIds.size, "stages_skipped" -> skipped,
            "ok" -> (e.jobResult == JobSucceeded)) ++
            j.batch.map(b => "batch_id" -> b.toLong)))
      }
      pending -= 1
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(funcName: String, qe: QueryExecution,
                       ok: Boolean): Unit = {
      val phases = qe.tracker.phases
      if (phases.nonEmpty) {
        val start = phases.values.map(_.startTimeMs).min.toDouble
        val end = phases.values.map(_.endTimeMs).max.toDouble
        rec.add(Span(rec.freshId("q"), "", "qe", funcName, start, end,
          phases.map { case (k, p) => s"${k}_ms" -> p.durationMs }
            + ("ok" -> ok)))
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
      record(f, qe, ok = true)
    override def onFailure(f: String, qe: QueryExecution,
                           e: Exception): Unit = record(f, qe, ok = false)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent)
      : Unit = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val d = p.durationMs
      val dur = Option(d.get("triggerExecution")).map(_.longValue).getOrElse(0L)
      rec.add(Span(rec.freshId("p"), s"query:${p.id}", "progress",
        s"batch ${p.batchId}", start, start + dur,
        Map("batch_id" -> p.batchId, "rows" -> p.numInputRows) ++
          d.keySet.toArray.map(k => s"${k}_ms" -> d.get(k).longValue)))
    }
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(qeListener)
  spark.streams.addListener(streamListener)

  /** Listener buses deliver asynchronously. Wait until every started job
    * has ended and no event arrived for a quiet interval, then detach. */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 20L * 1000000000L
    var last = -1
    var quiet = 0
    while (quiet < 3 && System.nanoTime() < deadline) {
      Thread.sleep(100)
      val n = rec.all.size
      if (n == last && pending <= 0) quiet += 1 else quiet = 0
      last = n
    }
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }
}
