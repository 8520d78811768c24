"""Metrics derived from one run's raw output (the JSON the benchmark JVM
writes): end-to-end figures from the timed rounds, per-layer figures from the
traced rounds' spans and counters."""
import statistics

# End-to-end metrics, the same for every workload (BENCHMARK.json).
END_TO_END = {
    "setup_s": "s",
    "round_s": "s",
    "op_p50_s": "s",
}

# Per-layer metrics of a traced run: name -> unit. Sums are per traced round.
PER_LAYER = {
    "queries.build_s": "s", "queries.exec_s": "s", "queries.build_jobs": "count",
    "sched.jobs": "count", "sched.stages": "count", "sched.tasks": "count",
    "driver.outside_jobs_s": "s",
    "catalyst.analysis_s": "s", "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s", "codegen.compile_s": "s",
    "plan.exchanges": "count", "plan.scans": "count", "plan.bnlj": "count",
    "plan.windows": "count", "plan.sort_aggs": "count",
    "task.run_s": "s", "task.cpu_s": "s", "task.busy_frac": "frac",
    "shuffle.write_bytes": "bytes", "shuffle.read_bytes": "bytes",
    "shuffle.spill_bytes": "bytes", "shuffle.skew": "ratio",
    "scan.input_bytes": "bytes", "scan.files_read": "count",
    "jvm.gc_s": "s", "jvm.heap_peak_mb": "MB", "jvm.codecache_mb": "MB", "jvm.peak_rss_mb": "MB",
    "lake.append_s": "s", "lake.upsert_s": "s", "lake.index_s": "s",
    "lake.compact_s": "s", "lake.expire_s": "s", "lake.read_s": "s",
    "lake.commits": "count", "lake.bytes_written": "bytes",
    "lake.files_written": "count", "lake.files_scanned": "count",
    "lake.files_total": "count", "lake.skip_frac": "frac",
    "lake.write_amp": "ratio", "lake.space_amp": "ratio",
    "pipeline.process_file_s": "s", "pipeline.outside_lake_s": "s",
    "pipeline.jobs_per_file": "count", "pipeline.rows_loaded": "count",
    "pipeline.rows_quarantined": "count", "pipeline.load_frac": "frac",
    "pipeline.replays_skipped": "count",
    "ingest.file_p50_s": "s", "ingest.file_tail_s": "s", "ingest.file_tail_pct": "%",
    "ingest.upsert_p50_s": "s", "ingest.skip_read_p50_s": "s",
    "host.steal_jiffies": "jiffies", "host.cal_s": "s", "trace.overhead_s": "s",
}


# Plan and scheduler counters the traced rounds sum, copied per round.
COUNTERS = [
    "queries.build_jobs", "sched.jobs", "sched.stages", "sched.tasks",
    "catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s",
    "plan.exchanges", "plan.scans", "plan.bnlj", "plan.windows", "plan.sort_aggs",
    "task.run_s", "task.cpu_s", "shuffle.write_bytes", "shuffle.read_bytes",
    "shuffle.spill_bytes", "scan.input_bytes", "scan.files_read", "jvm.gc_s",
    "codegen.compile_s",
]


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """(value, percentile, n): the highest percentile with at least ten
    samples beyond it, i.e. the sample ranked n-10 of n. None when n < 11."""
    n = len(xs)
    if n < 11:
        return None
    k = n - 10
    return sorted(xs)[k - 1], 100.0 * k / n, n


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span, children):
    """A span's duration minus the part of its interval its children cover.
    Spans are (start, end) pairs; children are clipped to the parent."""
    s, e = span
    clipped = [(max(s, cs), min(e, ce)) for cs, ce in children if min(e, ce) > max(s, cs)]
    return (e - s) - union_length(clipped)


class SpanTree:
    """Spans as the JVM recorded them: [id, parent, name, start_ns, end_ns]."""

    def __init__(self, rows):
        self.spans = {r[0]: r for r in rows}
        self.children = {}
        for r in rows:
            self.children.setdefault(r[1], []).append(r)

    def named(self, name):
        return [r for r in self.spans.values() if r[2] == name]

    def total_s(self, name):
        return sum(r[4] - r[3] for r in self.named(name)) / 1e9

    def descendants(self, span, name):
        out, todo = [], list(self.children.get(span[0], []))
        while todo:
            c = todo.pop()
            if c[2] == name:
                out.append(c)
            todo += self.children.get(c[0], [])
        return out

    def self_s(self, name, child_prefix):
        """Summed self time of the spans called `name`, counting only direct
        children whose name starts with `child_prefix` as covered."""
        total = 0
        for sp in self.named(name):
            kids = [(c[3], c[4]) for c in self.children.get(sp[0], []) if c[2].startswith(child_prefix)]
            total += self_time((sp[3], sp[4]), kids)
        return total / 1e9

    def outside_jobs_s(self):
        """Op wall time not covered by any Spark job the op submitted."""
        total = 0
        for op in self.named("op"):
            jobs = [(j[3], j[4]) for j in self.descendants(op, "job")]
            total += self_time((op[3], op[4]), jobs)
        return total / 1e9


def phase_ops(raw, phase, kinds=None):
    """Latencies of the successful ops of one phase, optionally of some kinds."""
    return [o["s"] for o in raw["ops"]
            if o["phase"] == phase and o["ok"] and (kinds is None or o["kind"] in kinds)]


def main_ops(raw, truth):
    """Timed latencies of the workload's main op, the one every round runs
    alike: a gate in the gate workloads; in lake_ingest, the load of a clean
    orders CSV (four a round whatever the seed)."""
    if truth is None:
        return phase_ops(raw, "timed", {"gate"})
    clean = {f"inbox/{n}" for n, f in truth["files"].items()
             if f["table"] == "orders" and not f["shifted"] and n.endswith(".csv")}
    return [o["s"] for o in raw["ops"]
            if o["phase"] == "timed" and o["ok"] and o["kind"] == "file" and o["name"] in clean]


def end_to_end(raw, truth, launched_at):
    timed_rounds = [r for r in raw["rounds"] if r["phase"] == "timed"]
    main = main_ops(raw, truth)
    return {
        "setup_s": raw["setup_end_ms"] / 1000.0 - launched_at,
        "round_s": median([r["s"] for r in timed_rounds]),
        "op_p50_s": median(main),
    }


def ingest_figures(raw, phase):
    """Latency figures of lake_ingest's ops in one phase. With fewer than 11
    file loads there is no tail percentile, and the maximum stands in."""
    files = phase_ops(raw, phase, {"file"})
    t = tail(files)
    return {
        "ingest.file_p50_s": median(files),
        "ingest.file_tail_s": t[0] if t else max(files, default=0.0),
        "ingest.file_tail_pct": t[1] if t else 100.0,
        "ingest.file_samples": len(files),
        "ingest.upsert_p50_s": median(phase_ops(raw, phase, {"upsert"})),
        "ingest.skip_read_p50_s": median(phase_ops(raw, phase, {"point", "range"})),
    }


def per_layer(raw, workload, input_bytes, lake_input):
    """Per-layer figures of a traced run. `input_bytes` is what the timed
    rounds offered, `lake_input` what the timed lake holds (set-up included)."""
    traced = [r for r in raw["rounds"] if r["phase"] == "traced"]
    untraced = [r for r in raw["rounds"] if r["phase"] == "timed"]
    n = max(len(traced), 1)
    c = raw.get("counters", {})
    tree = SpanTree(raw.get("spans", []))
    m = {k: 0.0 for k in PER_LAYER}
    for k in COUNTERS:
        m[k] = c.get(k, 0.0) / n
    for k in ("jvm.heap_peak_mb", "jvm.codecache_mb", "shuffle.skew"):
        m[k] = c.get(k, 0.0)
    wall = sum(r["s"] for r in traced)
    m["task.busy_frac"] = c.get("task.run_s", 0.0) / (wall * raw["cores"]) if wall else 0.0
    m["queries.build_s"] = tree.total_s("queries.build") / n
    m["queries.exec_s"] = tree.total_s("queries.exec") / n
    m["driver.outside_jobs_s"] = tree.outside_jobs_s() / n
    for verb in ("append", "upsert", "index", "compact", "expire", "read"):
        m[f"lake.{verb}_s"] = tree.total_s(f"lake.{verb}") / n
    m["pipeline.process_file_s"] = tree.total_s("pipeline.process_file") / n
    m["pipeline.outside_lake_s"] = tree.self_s("pipeline.process_file", "lake.") / n
    loads = tree.named("pipeline.process_file")
    if loads:
        jobs = sum(len(tree.descendants(sp, "job")) for sp in loads)
        m["pipeline.jobs_per_file"] = jobs / len(loads)
    m["host.steal_jiffies"] = sum(r["steal_jiffies"] for r in traced) / n
    m["host.cal_s"] = raw.get("host.cal_s", 0.0)
    m["jvm.peak_rss_mb"] = raw["peak_rss_mb"]
    if traced and untraced:
        m["trace.overhead_s"] = median([r["s"] for r in traced]) - median([r["s"] for r in untraced])
    if workload == "lake_ingest":
        # the lake figures describe the timed phase's lake
        timed_rounds = sum(1 for r in raw["rounds"] if r["phase"] == "timed") or 1
        m.update({k: v for k, v in ingest_figures(raw, "traced").items() if k in PER_LAYER})
        m["lake.commits"] = raw["lake.commits"] / timed_rounds
        m["lake.bytes_written"] = raw["lake.bytes_written"] / timed_rounds
        m["lake.files_written"] = raw["lake.files_written"] / timed_rounds
        m["lake.write_amp"] = raw["lake.bytes_written"] / input_bytes
        m["lake.space_amp"] = raw["lake.live_bytes"] / lake_input
        reads = [r for r in raw.get("reads", []) if r["phase"] == "traced"]
        scanned = sum(r["files_scanned"] for r in reads)
        total = sum(r["files_total"] for r in reads)
        m["lake.files_scanned"] = scanned / n
        m["lake.files_total"] = total / n
        m["lake.skip_frac"] = 1.0 - scanned / total if total else 0.0
        files = [f for f in raw.get("files", []) if f["phase"] == "traced"]
        loaded = sum(f["rows"] for f in files if f["kind"] == "file")
        quarantined = sum(f["quarantined"] for f in files if f["kind"] == "file")
        m["pipeline.rows_loaded"] = loaded / n
        m["pipeline.rows_quarantined"] = quarantined / n
        offered = loaded + quarantined
        m["pipeline.load_frac"] = loaded / offered if offered else 0.0
        m["pipeline.replays_skipped"] = sum(1 for f in files if f["kind"] == "replay" and f["skipped"]) / n
    return m
