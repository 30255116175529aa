"""Span arithmetic and metric derivation for one benchmark run.

A run record (written by the harness JVM) holds spans: dicts with id,
parent, kind, name, start, end (epoch ms) and attrs. The harness opens
run > round > (phase >) op > construct | write | transform | upsert spans;
traced runs add job, stage, qe (Catalyst phases) and progress (stream
micro-batch) spans from Spark's listeners.
"""
import statistics



def percentile(values, pct):
    """Linear-interpolation percentile (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * pct / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def union_ms(intervals):
    """Total length covered by a set of (start, end) intervals; overlapping
    parts count once."""
    total = 0.0
    cur_start = cur_end = None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def clip(intervals, lo, hi):
    """The parts of `intervals` that lie inside [lo, hi]."""
    return [(max(s, lo), min(e, hi)) for s, e in intervals
            if min(e, hi) > max(s, lo)]


def self_ms(span, children):
    """A span's duration minus the part of it its children cover."""
    lo, hi = span["start"], span["end"]
    covered = union_ms(clip([(c["start"], c["end"]) for c in children],
                            lo, hi))
    return (hi - lo) - covered


def dur(span):
    return span["end"] - span["start"]


class Run:
    """Index over one run record's spans."""

    def __init__(self, record):
        self.record = record
        self.spans = record["spans"]
        self.by_id = {s["id"]: s for s in self.spans}
        self.children = {}
        for s in self.spans:
            self.children.setdefault(s["parent"], []).append(s)

    def kind(self, kind):
        return [s for s in self.spans if s["kind"] == kind]

    def rounds(self):
        return sorted(self.kind("round"), key=lambda s: s["start"])

    def round_of(self, span):
        """The round a span belongs to, by its parent chain; None if the
        chain does not reach one (set-up, or a job outside any op)."""
        seen = 0
        while span is not None and seen < 64:
            if span["kind"] == "round":
                return span["id"]
            span = self.by_id.get(span["parent"])
            seen += 1
        return None

    def descendants(self, span_id, kind=None):
        out, stack = [], [span_id]
        while stack:
            for c in self.children.get(stack.pop(), []):
                stack.append(c["id"])
                if kind is None or c["kind"] == kind:
                    out.append(c)
        return out


def failed_ops(run, oracle_failures=()):
    """Ops that failed: they threw, or a check that names them failed."""
    failing = set(oracle_failures)
    for c in run.record["checks"]:
        if not c["ok"]:
            failing.update(c["fails_ops"])
    return [o for o in run.kind("op")
            if not o["attrs"].get("ok", False) or o["name"] in failing]


def timed_ops(run):
    """The operations whose latency run.op_p50_ms describes: each query on
    catalog_curation, each serve micro-batch on ids_pipeline."""
    ops = run.kind("op")
    batches = [o for o in ops if o["name"] == "batch"]
    return batches or ops


def end_to_end(run, setup_s):
    return {
        "setup_s": (setup_s, "s"),
        "cpu_s": (_per_round(run, lambda r: r["attrs"]["cpu_ms"]) / 1e3, "s"),
        "peak_rss_mb": (run.record["peak_rss_kb"] / 1024.0, "MB"),
    }


def _per_round(run, fn):
    """Median over rounds of fn(round_span)."""
    return statistics.median(fn(r) for r in run.rounds())


def per_layer(run, live_rows_per_batch, oracle_failures=()):
    """Every per-layer metric, as (value, unit). A layer the workload does
    not exercise reads 0."""
    bad = {o["id"] for o in failed_ops(run, oracle_failures)}
    jobs = run.kind("job")
    stages = run.kind("stage")
    job_round = {j["id"]: run.round_of(j) for j in jobs}
    stage_job = {s["id"]: s["parent"] for s in stages}
    stage_round = {s["id"]: job_round.get(stage_job[s["id"]])
                   for s in stages}
    qes = run.kind("qe")

    def in_round(items, rid, index):
        return [x for x in items if index.get(x["id"]) == rid]

    def round_ops(r):
        return run.descendants(r["id"], "op")

    def harness(kind, r):
        return run.descendants(r["id"], kind)

    def jobs_under(kind, r):
        ids = {s["id"] for s in harness(kind, r)}
        return [j for j in jobs if j["parent"] in ids]

    def final_write_phase(phase, r):
        ws = [(w["start"], w["end"]) for w in harness("write", r)]
        return sum(q["attrs"].get(phase + "_ms", 0) for q in qes
                   if any(lo <= q["start"] <= hi for lo, hi in ws))

    def gap(r):
        return sum(self_ms(o, jobs) for o in round_ops(r))

    def skew(r):
        # per op: the slowest stage of the op's jobs, max over median task
        ratios = []
        for o in round_ops(r):
            lo, hi = o["start"], o["end"]
            mine = [s for s in stages
                    if stage_round.get(s["id"]) == r["id"]
                    and lo <= s["start"] <= hi]
            mine = [s for s in mine if s["attrs"]["task_median_ms"] > 0]
            if mine:
                slow = max(mine, key=dur)
                ratios.append(slow["attrs"]["task_max_ms"]
                              / slow["attrs"]["task_median_ms"])
        return statistics.median(ratios) if ratios else 0.0

    def stage_sum(attr, r):
        return sum(s["attrs"][attr] for s in in_round(stages, r["id"],
                                                      stage_round))

    def op_ms(name, r):
        return sum(dur(o) for o in round_ops(r) if o["name"] == name)

    def batches(r):
        return [o for o in round_ops(r) if o["name"] == "batch"]

    def progress(r):
        qids = {o["attrs"].get("query_id") for o in batches(r)}
        return [p for p in run.kind("progress")
                if p["parent"].split(":", 1)[-1] in qids]

    def med(xs):
        xs = list(xs)
        return statistics.median(xs) if xs else 0.0

    def progress_ms(key, r):
        return med(p["attrs"].get(key + "_ms", 0) for p in progress(r)
                   if p["attrs"]["rows"] > 0)

    def phase_ms(name, r):
        return sum(dur(p) for p in harness("phase", r) if p["name"] == name)

    def flows_per_s(r):
        secs = phase_ms("serve", r) / 1e3
        rows = sum(o["attrs"].get("rows", 0) for o in batches(r))
        return rows / secs if secs > 0 else 0.0

    m = {
        "run.wall_s": (lambda r: dur(r) / 1e3, "s"),
        "run.op_p50_ms":
            (lambda r: med(dur(o) for o in timed_ops(run)
                           if o["id"] not in bad
                           and run.round_of(o) == r["id"]), "ms"),
        "SparkEntry.construct_ms":
            (lambda r: sum(dur(s) for s in harness("construct", r)), "ms"),
        "SparkEntry.construct_jobs":
            (lambda r: len(jobs_under("construct", r)), "count"),
        "SparkEntry.write_ms":
            (lambda r: sum(dur(s) for s in harness("write", r)), "ms"),
        "SparkEntry.write_jobs":
            (lambda r: len(jobs_under("write", r)), "count"),
        "catalyst.analysis_ms":
            (lambda r: final_write_phase("analysis", r), "ms"),
        "catalyst.optimization_ms":
            (lambda r: final_write_phase("optimization", r), "ms"),
        "catalyst.planning_ms":
            (lambda r: final_write_phase("planning", r), "ms"),
        "exec.jobs":
            (lambda r: len(in_round(jobs, r["id"], job_round)), "count"),
        "exec.stages":
            (lambda r: len(in_round(stages, r["id"], stage_round)), "count"),
        "exec.stages_skipped":
            (lambda r: sum(j["attrs"]["stages_skipped"] for j in
                           in_round(jobs, r["id"], job_round)), "count"),
        "exec.tasks": (lambda r: stage_sum("tasks", r), "count"),
        "exec.task_ms": (lambda r: stage_sum("task_ms", r), "ms"),
        "exec.task_skew": (skew, "ratio"),
        "exec.input_bytes": (lambda r: stage_sum("input_bytes", r), "B"),
        "exec.shuffle_read_bytes":
            (lambda r: stage_sum("shuffle_read_bytes", r), "B"),
        "exec.shuffle_write_bytes":
            (lambda r: stage_sum("shuffle_write_bytes", r), "B"),
        "exec.spill_bytes": (lambda r: stage_sum("spill_bytes", r), "B"),
        "exec.busy_ms":
            (lambda r: sum(dur(o) for o in round_ops(r)) - gap(r), "ms"),
        "exec.gap_ms": (gap, "ms"),
        "CleanOps.probe_ms": (lambda r: op_ms("probe", r), "ms"),
        "CleanOps.impute_ms": (lambda r: op_ms("impute", r), "ms"),
        "SplitOps.split_ms": (lambda r: op_ms("split", r), "ms"),
        "IdsPipeline.prep_ms": (lambda r: op_ms("prep", r), "ms"),
        "IdsPipeline.fit_ms.DT": (lambda r: op_ms("fit_DT", r), "ms"),
        "IdsPipeline.fit_ms.NB": (lambda r: op_ms("fit_NB", r), "ms"),
        "IdsPipeline.fit_ms.RF": (lambda r: op_ms("fit_RF", r), "ms"),
        "IdsPipeline.fit_ms.MLP": (lambda r: op_ms("fit_MLP", r), "ms"),
        "IdsPipeline.score_ms": (lambda r: op_ms("score", r), "ms"),
        "IdsPipeline.train_s": (lambda r: phase_ms("train", r) / 1e3, "s"),
        "IdsPipeline.transform_ms":
            (lambda r: med(dur(s) for s in harness("transform", r)), "ms"),
        "StreamOps.batches": (lambda r: len(batches(r)), "count"),
        "StreamOps.rows":
            (lambda r: sum(o["attrs"].get("rows", 0) for o in batches(r)),
             "count"),
        "StreamOps.empty_batches":
            (lambda r: sum(1 for p in progress(r) if p["attrs"]["rows"] == 0),
             "count"),
        "StreamOps.trigger_ms":
            (lambda r: progress_ms("triggerExecution", r), "ms"),
        "StreamOps.addBatch_ms": (lambda r: progress_ms("addBatch", r), "ms"),
        "StreamOps.queryPlanning_ms":
            (lambda r: progress_ms("queryPlanning", r), "ms"),
        "StreamOps.walCommit_ms":
            (lambda r: progress_ms("walCommit", r), "ms"),
        "StreamOps.commitOffsets_ms":
            (lambda r: progress_ms("commitOffsets", r), "ms"),
        "StreamOps.latestOffset_ms":
            (lambda r: progress_ms("latestOffset", r), "ms"),
        "StreamOps.upsert_ms":
            (lambda r: med(dur(s) for s in harness("upsert", r)), "ms"),
        "StreamOps.upsert_live_rows":
            (lambda r: med(live_rows_per_batch(int(s["attrs"]["batch_id"]))
                           for s in harness("upsert", r)), "count"),
        "StreamOps.flows_per_s": (flows_per_s, "rows/s"),
    }
    return {k: (_per_round(run, fn), unit) for k, (fn, unit) in m.items()}
