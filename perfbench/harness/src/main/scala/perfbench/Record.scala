package perfbench

import org.apache.spark.sql.SparkSession

import scala.collection.mutable.ArrayBuffer

/** One recorded interval. Times are epoch milliseconds with sub-ms
  * precision, on the same clock as Spark's listener events, so harness
  * spans and job/stage spans can be compared directly. `parent` is ""
  * for the root. */
final case class Span(id: String, parent: String, kind: String,
                      name: String, start: Double, end: Double,
                      attrs: Map[String, Any] = Map.empty)

/** In-memory span store for one run. The harness opens spans around its
  * calls into the program; listeners (traced runs only) add job, stage,
  * query-execution and stream-progress spans. Everything is written out
  * once, at the end of the run. */
final class Recorder(val runId: String, spark: SparkSession) {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  private val os = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU time this JVM has used so far, all threads, in ms. */
  def cpuMs: Double = os.getProcessCpuTime / 1e6

  /** Jobs submitted while a span is open carry its id in this local
    * property; the job listener uses it as the job's parent. */
  val SpanProperty = "perfbench.span"

  private val spans = ArrayBuffer[Span]()
  private var nextId = 0L

  def add(s: Span): Unit = synchronized { spans += s }
  def all: Vector[Span] = synchronized { spans.toVector }
  def freshId(prefix: String): String = synchronized {
    nextId += 1; s"$prefix$nextId"
  }

  /** Time `body` as a span of `kind` under `parent`; rethrows what
    * `body` throws. */
  def span[T](kind: String, name: String, parent: String,
              attrs: Map[String, Any] = Map.empty)(body: String => T): T =
    timed(kind, name, parent, attrs)(body) match {
      case Right(v) => v
      case Left(e) => throw e
    }

  /** An operation: a span of kind "op" whose failure is recorded on the
    * span (`ok` = false, `error`) instead of thrown, so one failing
    * operation does not end the run. */
  def op(name: String, parent: String, attrs: Map[String, Any] = Map.empty)(
      body: String => Unit): Boolean = {
    val result = timed("op", name, parent, attrs)(body)
    result.left.foreach(e =>
      System.err.println(s"[perfbench] $name failed: ${message(e)}"))
    result.isRight
  }

  /** Records the span, with its wall and CPU time and whether `body`
    * threw. Jobs submitted meanwhile carry the span's id. */
  private def timed[T](kind: String, name: String, parent: String,
                       attrs: Map[String, Any])(
      body: String => T): Either[Throwable, T] = {
    val id = freshId(kind.take(1))
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(SpanProperty)
    sc.setLocalProperty(SpanProperty, id)
    val t0 = nowMs
    val c0 = cpuMs
    val result =
      try Right(body(id)) catch { case e: Throwable => Left(e) }
    add(Span(id, parent, kind, name, t0, nowMs,
      attrs + ("cpu_ms" -> (cpuMs - c0)) ++ result.fold(
        e => Map("ok" -> false, "error" -> message(e)),
        _ => Map("ok" -> true))))
    sc.setLocalProperty(SpanProperty, prev)
    result
  }

  /** Output checks. A failed check names the operations it fails: every
    * recorded op with one of those names counts as failed. */
  private val checkList = ArrayBuffer[(String, Boolean, String, Seq[String])]()
  def check(name: String, ok: Boolean, detail: String,
            failsOps: Seq[String]): Unit = synchronized {
    if (!ok) System.err.println(s"[perfbench] check $name failed: $detail")
    checkList += ((name, ok, detail, failsOps))
  }
  def checks: Vector[(String, Boolean, String, Seq[String])] =
    synchronized { checkList.toVector }

  def message(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.getClass.getName)
      .linesIterator.take(2).mkString(" | ")
}
