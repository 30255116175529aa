#!/usr/bin/env python3
"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1>

Builds the harness and the program from source when either changed
(harness/build.sbt, offline sbt), makes the workload's inputs, runs one
harness JVM on local[nproc] in a fresh scratch directory under
perfbench/.work, checks the outputs, and prints one JSON line:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones (README.md).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HARNESS = os.path.join(HERE, "harness")
WORK = os.path.join(HERE, ".work")
FIXTURE = os.path.join(HERE, "fixture", "sf0.1")
WARM_FIXTURE = os.path.join(HERE, "fixture", "sf0.001")
PROGRAM_SOURCES = os.path.join(ROOT, "src", "main", "scala")
WORKLOADS = ("catalog_curation", "ids_pipeline")
# a fixed heap (-Xms = -Xmx) keeps GC sizing, and with it peak RSS, the
# same from run to run
HEAP = "3g"
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 840

sys.path.insert(0, HERE)
import gen_flows  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _fingerprint():
    """Hash of every file the build reads from the repository."""
    h = hashlib.sha256()
    roots = [PROGRAM_SOURCES, os.path.join(HARNESS, "src"),
             os.path.join(HARNESS, "build.sbt"),
             os.path.join(HARNESS, "project", "build.properties")]
    for root in roots:
        paths = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile program + harness (cached by source fingerprint); returns
    the runtime classpath."""
    if not os.path.isdir(PROGRAM_SOURCES):
        raise SystemExit(
            f"[perfbench] no program sources at {PROGRAM_SOURCES}")
    stamp = os.path.join(HARNESS, "target", "perfbench-build.json")
    fp = _fingerprint()
    if os.path.exists(stamp):
        with open(stamp) as f:
            cached = json.load(f)
        if cached["fingerprint"] == fp:
            return cached["classpath"]
    log("building harness and program (sbt, offline)")
    env = dict(os.environ, COURSIER_MODE="offline")
    cmd = ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        cmd += ["-Dsbt.override.build.repos=true",
                f"-Dsbt.repository.config={repos}"]
    cmd += ["compile", "export Runtime/fullClasspath"]
    out = subprocess.run(cmd, cwd=HARNESS, env=env, stdin=subprocess.DEVNULL,
                         stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                         text=True, timeout=BUILD_LIMIT_S)
    cp = [line for line in out.stdout.splitlines()
          if line.startswith("/") and ".jar" in line]
    if out.returncode != 0 or not cp:
        sys.stderr.write(out.stdout[-4000:])
        raise SystemExit("[perfbench] build failed")
    with open(stamp, "w") as f:
        json.dump({"fingerprint": fp, "classpath": cp[-1]}, f)
    return cp[-1]


def java_cmd(cp, main, tmpdir=None):
    """A bare JVM with tools/run_bench.sh's flags (the JDK 17 module opens
    Spark needs, UI off, UTC)."""
    opens = []
    for p in ["java.lang", "java.lang.invoke", "java.lang.reflect",
              "java.io", "java.net", "java.nio", "java.util",
              "java.util.concurrent", "java.util.concurrent.atomic",
              "sun.nio.ch", "sun.nio.cs", "sun.security.action",
              "sun.util.calendar"]:
        opens += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    extra = [f"-Djava.io.tmpdir={tmpdir}"] if tmpdir else []
    # -XX:-UsePerfData: no hsperfdata file in /tmp, outside the checkout
    flags = ["-XX:-UsePerfData", "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC", f"-Xms{HEAP}", f"-Xmx{HEAP}"]
    return ["java"] + opens + flags + extra + ["-cp", cp, main]


def java_output(cp, main):
    return subprocess.run(java_cmd(cp, main), check=True, text=True,
                          stdout=subprocess.PIPE,
                          stdin=subprocess.DEVNULL).stdout


def snapshot():
    """(path, size, mtime) of every file outside the benchmark's directory:
    a run must leave them all as they were."""
    skip = {os.path.join(ROOT, d) for d in (".git", ".bench_build")}
    skip.add(HERE)
    out = {}
    for d, dirs, files in os.walk(ROOT):
        dirs[:] = [x for x in dirs if os.path.join(d, x) not in skip]
        for f in files:
            p = os.path.join(d, f)
            try:
                st = os.lstat(p)
            except FileNotFoundError:
                continue
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def cpus():
    return len(os.sched_getaffinity(0))


def run_jvm(cp, args, scratch, deadline):
    cmd = java_cmd(cp, "perfbench.Main", os.path.join(scratch, "tmp")) + args
    proc = subprocess.Popen(cmd, stdin=subprocess.DEVNULL,
                            stdout=sys.stderr, stderr=sys.stderr)
    try:
        code = proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        raise SystemExit("[perfbench] run exceeded its time limit")
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if code != 0:
        raise SystemExit(f"[perfbench] harness JVM exited with {code}")


def main():
    # a terminated run still stops its JVM and removes its scratch
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int, default=cpus(),
                    help="local cores (default: all this process may use)")
    a = ap.parse_args()

    cp = build()
    t_setup = time.time()
    deadline = t_setup + RUN_LIMIT_S
    scratch = os.path.join(WORK, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(os.path.join(scratch, "tmp"))
    before = snapshot()
    try:
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--cpus", str(a.cpus), "--scratch", scratch,
                "--out", os.path.join(scratch, "record.json")]
        if a.workload == "ids_pipeline":
            inputs = os.path.join(scratch, "ids")
            os.makedirs(inputs)
            ids = gen_flows.generate(a.seed, inputs)
            args += ["--input", inputs, "--flows", ids["flows"],
                     "--serve", ids["serve"],
                     "--serve-files", str(ids["serve_files"]),
                     "--labels", ",".join(f"{k}:{v}" for k, v in
                                          ids["labels"].items())]
        else:
            args += ["--input", FIXTURE, "--warm-input", WARM_FIXTURE]
        run_jvm(cp, args, scratch, deadline)
        with open(os.path.join(scratch, "record.json")) as f:
            record = json.load(f)
        run = metrics.Run(record)
        setup_s = record["timed_start_ms"] / 1e3 - t_setup

        # every query result each round wrote is compared with the oracle
        oracle_failures = []
        if a.workload != "ids_pipeline":
            want = oracle.expected(record["oracle_sql"], FIXTURE)
            for op in run.kind("op"):
                if not op["attrs"]["ok"]:
                    continue
                q, r = op["name"], run.by_id[op["parent"]]["name"]
                ok, detail = oracle.compare(os.path.join(
                    scratch, "out", r.replace(" ", ""), q), want[q])
                if not ok:
                    log(f"oracle check {q} ({r}) failed: {detail}")
                    oracle_failures.append(q)

        after = snapshot()
        changed = sorted(p for p in before.keys() | after.keys()
                         if before.get(p) != after.get(p))
        if changed:
            log("files outside perfbench/ changed during the run: "
                + ", ".join(os.path.relpath(p, ROOT) for p in changed[:10]))

        ops = run.kind("op")
        failed = metrics.failed_ops(run, oracle_failures)
        # keep the last run's spans for reading after the scratch is gone
        shutil.copy(os.path.join(scratch, "record.json"),
                    os.path.join(WORK, f"record-{a.workload}"
                                       f"{'-traced' if a.trace else ''}.json"))
        if a.trace:
            values = metrics.per_layer(run, gen_flows.live_rows_before,
                                       oracle_failures)
        else:
            values = metrics.end_to_end(run, setup_s)
        result = {
            "correct": not changed,
            "attempted": len(ops),
            "failed": len(failed),
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in values.items()},
        }
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
