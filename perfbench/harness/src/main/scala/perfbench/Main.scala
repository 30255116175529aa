package perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}

/** One benchmark run in one JVM; started by `perfbench/run.py`, which
  * owns the command line, the inputs and the metrics. This main sets up
  * the session, runs set-up and then whole rounds of the workload until
  * `--seconds` have passed, checks the outputs, and writes every span and
  * check as JSON to `--out`.
  *
  * Arguments (all `--key value`): workload, seed, seconds, trace (0|1),
  * cpus, input (the directory of input tables), scratch, out; for the
  * catalog workloads also warm-input (the small fixture); for
  * ids_pipeline also flows, serve, serve-files and labels
  * (`name:count,...`).
  */
object Main {
  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val workload = o("workload")
    val seed = o("seed").toLong
    val seconds = o("seconds").toDouble
    val traced = o("trace") == "1"
    val cpus = o("cpus").toInt
    val scratch = o("scratch")
    val spark = session(cpus, o("input"), scratch)
    val rec = new Recorder(
      s"$workload-s$seed-${ProcessHandle.current().pid()}", spark)
    val catalogQueries = workload match {
      case "catalog_curation" => Some(Catalog.curation)
      case "ids_pipeline" => None
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // ---- set-up (untimed by the rounds; run.py reports it as setup_s)
    catalogQueries.foreach(qs =>
      Catalog.warmUp(spark, rec, qs, o("warm-input")))
    lazy val ids = Ids.Inputs(o("flows"), o("serve"), o("serve-files").toInt,
      o("labels").split(",").map { kv =>
        val Array(k, v) = kv.split(":"); k -> v.toLong
      }.toMap)
    val trace = if (traced) Some(new Trace(rec, spark)) else None

    // ---- timed region: whole rounds, at least one, until `seconds` have
    // passed
    val timedStart = rec.nowMs
    var rounds = 0
    rec.span("run", workload, "") { runId =>
      while (rounds == 0 || rec.nowMs - timedStart < seconds * 1000) {
        catalogQueries match {
          case Some(qs) =>
            rec.span("round", s"round $rounds", runId)(roundId =>
              Catalog.round(spark, rec, qs, o("input"),
                new scala.util.Random(seed * 1000003L + rounds),
                s"$scratch/out/round$rounds", roundId))
          case None =>
            val dir = s"$scratch/round$rounds"
            val st = rec.span("round", s"round $rounds", runId)(roundId =>
              Ids.round(spark, rec, ids, seed, dir, roundId))
            // checks run outside the round span, so round and phase
            // times leave them out
            Ids.checkRound(spark, rec, ids, st, rounds)
            st.release()
        }
        rounds += 1
      }
    }
    trace.foreach(_.drain())
    val rssKb = peakRssKb()

    val oracle = catalogQueries.map(qs =>
      qs.map(q => q -> graft.SparkEntry.oracleSql.getOrElse(q, "")).toMap)
    val json = Json(Map(
      "run_id" -> rec.runId,
      "workload" -> workload,
      "seed" -> seed,
      "cpus" -> cpus,
      "traced" -> traced,
      "rounds" -> rounds,
      "timed_start_ms" -> timedStart,
      "peak_rss_kb" -> rssKb,
      "checks" -> rec.checks.map { case (n, ok, d, f) =>
        Map("name" -> n, "ok" -> ok, "detail" -> d, "fails_ops" -> f)
      },
      "oracle_sql" -> oracle.getOrElse(Map.empty),
      "spans" -> rec.all.map(s => Map(
        "run" -> rec.runId, "id" -> s.id, "parent" -> s.parent,
        "kind" -> s.kind,
        "name" -> s.name, "start" -> s.start, "end" -> s.end,
        "attrs" -> s.attrs))))
    Files.writeString(Paths.get(o("out")), json)
    spark.stop()
  }

  /** The session `graft.Bench` builds, on `cpus` local cores, including
    * its scale-adaptive AQE advisory partition size (input bytes over
    * cores x 8, clamped to [1 MB, 64 MB]). Shuffle and spill files go to
    * the run's scratch directory. */
  def session(cpus: Int, inputDir: String, scratch: String): SparkSession = {
    val inputBytes = Option(new java.io.File(inputDir).listFiles())
      .map(_.filter(_.isFile).map(_.length).sum).getOrElse(0L)
    val advisory = math.min(64L << 20,
      math.max(1L << 20, inputBytes / (cpus.toLong * 8)))
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes",
        advisory.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$scratch/local")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** The JVM's resident-set high-water mark (`VmHWM`), in kB. */
  def peakRssKb(): Long = {
    val line = scala.util.Using.resource(
      scala.io.Source.fromFile("/proc/self/status"))(
      _.getLines().find(_.startsWith("VmHWM:")))
    line.map(_.split("\\s+")(1).toLong).getOrElse(0L)
  }
}
