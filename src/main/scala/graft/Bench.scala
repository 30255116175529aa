package graft

import org.apache.spark.metrics.source.CodegenMetrics

import graft.ops.FitArtifacts
import graft.ops.FitArtifacts.FitStats

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints one JSON line (driver contract), then
  * a short headline line (see [[render]]).
  * Results are materialized through the `noop` sink so the full plan —
  * not a count-only shortcut — is what's timed.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.build(cpus, inputDir = Some(sfDir))
    val selected = GraftSession.selectedQueries
    // classes Janino compiled in this JVM: per-pass deltas show whether
    // the warm-ups left the codegen cache warm for the timed runs
    def compiled(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    // the fit memo's counters per pass: a fit misses once per dir, in a
    // warm-up, and every timed run replays it
    val passFits = scala.collection.mutable.ArrayBuffer[Map[String, FitStats]]()
    var lastFits = Map.empty[String, FitStats]
    def endPass(): Unit = {
      val now = FitArtifacts.stats
      passFits += now.map { case (n, f) =>
        n -> (f - lastFits.getOrElse(n, FitStats(0, 0, 0))) }
      lastFits = now
    }
    def warm(dir: String, label: String): Int = selected.count {
      case (name, fn) =>
        try { fn(spark, dir).write.format("noop").mode("overwrite").save(); false }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $label $name failed: ${e.getMessage}")
          true
        }
    }
    // Steady-state warmup: run EVERY query once at the smallest scale
    // factor before timing. Generated code is cached by source text, in
    // a cache `GraftSession` sizes to hold the suite's working set, so
    // each query's identical codegen at the target SF hits it — without
    // this, wide-aggregate shapes pay their one-time Janino compile
    // inside the timed loop (q32: 20.5 s cold vs 6 s warm for identical
    // data work). A long-lived cluster pays this once per session;
    // steady-state is the comparable number. A fully-failed warmup means
    // the timings below are cold-codegen numbers mislabeled as
    // steady-state, so failures are counted and reported.
    val warmDir = GraftSession.warmDir(sfDir)
    val c0 = compiled()
    val warmFailures = warm(warmDir, "warmup")
    if (warmFailures > 0)
      System.err.println(s"[bench] $warmFailures warmup failures " +
        s"(dir=$warmDir) — timings may include cold codegen")
    // DISCARDED TARGET-SF PASS (round-13 verdict finding 3): the first
    // interleaved pass on a freshly-started JVM is wildly contended —
    // the driver's independent round-13 run showed q38 51.3 s / q36
    // 40.5 s in run 1 vs ~0.4–2 s in runs 2–3, landing several medians
    // on the polluted pair. One full untimed pass at the TARGET sf
    // (shuffle files, page cache, JIT at real data volume, and the
    // classes whose code differs at the target size, e.g. a join
    // strategy AQE only picks there) before the timed loop makes
    // median-of-3 robust. SPARK_GRAFT_SKIP_TARGET_WARMUP=1 disables it
    // (local single-query profiling where the extra pass just costs
    // time).
    val c1 = compiled()
    endPass()
    if (!sys.env.get("SPARK_GRAFT_SKIP_TARGET_WARMUP").contains("1"))
      warm(sfDir, "target warmup")
    val warmCompiled = Seq(c1 - c0, compiled() - c1)
    endPass()
    // Noise protocol (round-3 verdict: single-run deltas on a shared box
    // are untrustworthy below ~3×): run the WHOLE suite `runs` times in
    // sequence — interleaved across queries, so a host-load spike taxes
    // one run of many queries instead of every run of one query — and
    // report per-query MEDIANS. Raw per-run values go to a side file
    // the driver's tail-parse can't truncate.
    val runs = sys.env.get("SPARK_GRAFT_RUNS").map(_.toInt).getOrElse(3)
    val raw = scala.collection.mutable.Map[String, Vector[Double]]()
      .withDefaultValue(Vector.empty)
    // A run that throws records NO timing: an analysis error "completes"
    // in ~0.07 s, and round 7's artifacts carried 21 such fake entries
    // that read as blazing-fast queries. Failed queries surface as
    // "err" in the output JSON (with the exception in `errors`) instead.
    val failed = scala.collection.mutable.Map[String, String]()
    // classes each query compiled, summed over the timed runs
    val queryCompiled = scala.collection.mutable.Map[String, Long]()
      .withDefaultValue(0L)
    val runCompiled = (1 to runs).map { r =>
      val c = compiled()
      selected.foreach { case (name, fn) =>
        val cq = compiled()
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          raw(name) = raw(name) :+ (System.nanoTime() - t0) / 1e9
        } catch { case e: Throwable =>
          failed(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
            .linesIterator.take(2).mkString(" | ")
          System.err.println(s"[bench] $name (run $r) failed: ${e.getMessage}")
        }
        queryCompiled(name) += compiled() - cq
      }
      endPass()
      compiled() - c
    }
    val (stdout, side) = render(selected.keys.toSeq, raw.toMap,
      failed.toMap, sfDir, runs, warmCompiled, runCompiled, peakRssMb(),
      passFits.toSeq, queryCompiled.toMap)
    val sideFile = sys.env.getOrElse("SPARK_GRAFT_MEDIANS_FILE",
      "BENCH_MEDIANS.json")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(sideFile),
      side + "\n")
    println(stdout)
    spark.stop()
  }

  /** The stdout record and the side-file record of a finished run.
    *
    * stdout is the per-query JSON line, then the headline
    * `{"metric":"total","value":..,"unit":"sec","n_ok":..,"n_err":..}`:
    * a reader that keeps only the output's last few thousand characters
    * loses the long line's head, where its `total` sits, but keeps the
    * short headline whole. `codegen` counts the classes compiled in the
    * two warm-ups and in each timed run; a warm cache shows as timed-run
    * counts near zero. The side file adds each query's compiled classes
    * over the timed runs (`queryCompiled`), and `fits`: per
    * [[FitArtifacts.memo]] name, its hits, misses and fit ms in each
    * pass, the two warm-ups first. A fit's cold cost is its `fit_ms` in
    * the target-sf warm-up; the timed medians are fit-amortized. */
  def render(names: Seq[String], raw: Map[String, Vector[Double]],
             failed: Map[String, String], sfDir: String, runs: Int,
             warmCompiled: Seq[Long], runCompiled: Seq[Long],
             peakRssMb: Double, fits: Seq[Map[String, FitStats]],
             queryCompiled: Map[String, Long]): (String, String) = {
    def median(xs: Vector[Double]): Double = {
      val s = xs.sorted
      if (s.isEmpty) 0.0
      else if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }
    val runsOf = raw.withDefaultValue(Vector.empty[Double])
    // a query is clean only if EVERY run succeeded: a 1-of-3-success
    // query's "median" is a single arbitrary run (quite possibly the
    // noisiest) and must never seed a gate, so any failure — total or
    // partial — reports "err" in both outputs. Surviving raw runs stay
    // visible in the side file (with ok_runs) for diagnosis.
    val ok = names.filter(n => runsOf(n).nonEmpty && !failed.contains(n))
    val med = ok.map(n => n -> median(runsOf(n))).toMap
    val qs = names.map(n => "\"" + n + "\":" + med.getOrElse(n, "\"err\""))
      .mkString("{", ",", "}")
    val total = ok.map(med).sum
    val errJson = failed.toSeq.sortBy(_._1)
      .map { case (k, v) => GraftSession.jsonString(k) + ":" +
        GraftSession.jsonString(v) }
      .mkString("{", ",", "}")
    // CONTENTION MARKER (round-14 verdict finding 1): a polluted run —
    // host load taxing run 1 of a freshly-started suite — shows up as a
    // large max/min spread within a query's raw triple, and the median
    // then lands on a still-contended value. Emitting the per-query
    // min-of-runs and the max/min spread lets an independent rerun
    // self-identify as contended (spread ≫ 1 with min at-or-below the
    // gate ⇒ noise, not a regression) without hand-reading raw triples.
    // Read rule documented in BASELINE.md ("Reading BENCH_MEDIANS").
    val rawJson = names.map { n =>
      val xs = runsOf(n)
      val mn = if (xs.nonEmpty) xs.min else 0.0
      val spread =
        if (xs.nonEmpty && mn > 0) (xs.max / mn).toString else "null"
      "\"" + n + "\":{\"median\":" + med.getOrElse(n, "\"err\"") +
        ",\"min\":" + mn +
        ",\"spread\":" + spread +
        ",\"ok_runs\":" + xs.size +
        ",\"codegen\":" + queryCompiled.getOrElse(n, 0L) +
        ",\"runs\":[" + xs.mkString(",") + "]}"
    }.mkString("{", ",", "}")
    val fitsJson = fits.flatMap(_.keys).distinct.sorted.map { n =>
      val per = fits.map(_.getOrElse(n, FitStats(0, 0, 0)))
      GraftSession.jsonString(n) +
        ":{\"hits\":[" + per.map(_.hits).mkString(",") +
        "],\"misses\":[" + per.map(_.misses).mkString(",") +
        "],\"fit_ms\":[" + per.map(f => math.round(f.fitMs)).mkString(",") +
        "]}"
    }.mkString("{", ",", "}")
    val extra = s""""codegen":{"warmup":[${warmCompiled.mkString(",")}],""" +
      s""""runs":[${runCompiled.mkString(",")}]},"peak_rss_mb":$peakRssMb"""
    val side = s"""{"sf":"$sfDir","runs":$runs,"errors":$errJson,$extra,"fits":$fitsJson,"queries":$rawJson}"""
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir","runs":$runs,"errors":$errJson,$extra}"""
    val headline = s"""{"metric":"total","value":$total,"unit":"sec",""" +
      s""""n_ok":${ok.size},"n_err":${names.size - ok.size}}"""
    (line + "\n" + headline, side)
  }

  /** This JVM's resident-set high-water mark (`VmHWM`) in MB; 0 where
    * /proc is absent. */
  def peakRssMb(): Double = scala.util.Try(scala.util.Using.resource(
      scala.io.Source.fromFile("/proc/self/status"))(_.getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toLong / 1024.0 }.get)).getOrElse(0.0)
}
