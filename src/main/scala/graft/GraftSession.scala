package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one SparkSession factory behind every graft entry point (`Bench`,
  * `Verify`, `BenchMl`, `tools.ProfileQueries`, the test session), plus
  * the driver-side plumbing those mains share. Every session setting
  * lives here, so `Verify` checks answers under the config `Bench` times.
  */
object GraftSession {
  /** `spark.sql.codegen.cache.maxEntries`, Spark's LRU of compiled
    * classes. A static conf, read once per JVM when `CodeGenerator`
    * first compiles, so it is set here, before any query runs.
    *
    * Spark's default of 100 is below one query's working set: one
    * q253_curation_e2e execution compiles about 170 classes. Each pass
    * visits its classes in the same order, so an LRU smaller than the
    * working set evicts every class just before its reuse and never
    * hits. `Bench` on q30/q33/q180/q253 (sf0.1, local[4]) compiled
    * 303 classes in every timed run at 100 entries and 0–10 at this
    * size, halving their timed total (12.7 s → 6.5 s). One pass of the
    * full 420-query suite at sf0.001 needs about 6,900 distinct
    * classes (its second pass compiled 11,562 at 100 entries, 826 at
    * this size); 8,192 is the smallest power of two that holds them.
    * The cost is retained classes: +1.2 GB peak RSS on that full-suite
    * run at -Xmx4g. */
  val CodegenCacheEntries = 8192

  /** A local session on `cpus` cores. With `inputDir`, the AQE advisory
    * partition size comes from [[advisoryBytes]]; without, Spark's 64 MB
    * default stands. With `scratch`, `spark.local.dir` and the warehouse
    * go to `<scratch>/local` and `<scratch>/warehouse`. */
  def build(cpus: Int, inputDir: Option[String] = None,
            scratch: Option[String] = None,
            logLevel: String = "WARN"): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries",
        CodegenCacheEntries.toString)
    inputDir.foreach(d => b.config(
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      advisoryBytes(d, cpus).toString))
    scratch.map(new java.io.File(_).getAbsolutePath).foreach { root =>
      b.config("spark.local.dir", s"$root/local")
        .config("spark.sql.warehouse.dir", s"$root/warehouse")
    }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** SCALE-ADAPTIVE AQE advisory partition size: the 64 MB default
    * coalesces every post-shuffle stage of a small-byte input to 1-3
    * partitions, which serializes byte-small but CPU-heavy stages
    * (md5 fan-outs, window walks) on a single core. Derive the target
    * from input size over cluster parallelism — bytes/(cores·8) —
    * clamped to [1 MB, 64 MB]: at fixture scale this floors at 1 MB
    * (full parallelism for CPU-bound stages); at production scale the
    * same formula hits the 64 MB ceiling, i.e. Spark's own default —
    * never a constant tuned for either. */
  def advisoryBytes(inputDir: String, cpus: Int): Long = {
    val inputBytes = Option(new java.io.File(inputDir).listFiles())
      .map(_.filter(_.isFile).map(_.length).sum).getOrElse(0L)
    math.min(64L << 20, math.max(1L << 20, inputBytes / (cpus.toLong * 8)))
  }

  /** All of `SparkEntry.queries`, or only the comma-separated names in
    * SPARK_GRAFT_ONLY (a local profiling aid). Unknown names fail
    * loudly: a misspelling would otherwise run zero queries and emit an
    * empty-but-plausible result. */
  def selectedQueries: Map[String, (SparkSession, String) => DataFrame] =
    sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet) match {
      case Some(names) =>
        val unknown = names -- SparkEntry.queries.keySet
        require(unknown.isEmpty,
          s"SPARK_GRAFT_ONLY names not in SparkEntry.queries: " +
            unknown.mkString(", "))
        SparkEntry.queries.filter(kv => names(kv._1))
      case None => SparkEntry.queries
    }

  /** The codegen warm-up dir for a target scale factor: its sf0.001
    * sibling if there is one, else the target itself (which still warms
    * the code paths, just slower). */
  def warmDir(sfDir: String): String = {
    val sibling = new java.io.File(new java.io.File(sfDir).getParent,
      "sf0.001")
    if (sibling.isDirectory) sibling.getPath else sfDir
  }

  /** A quoted JSON string with backslash, quote and ALL control chars
    * escaped — a tab or CR in hand-written SQL or an exception
    * message would otherwise make the reader's json.load fail and
    * silently zero the record. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
