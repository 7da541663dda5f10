"""Statistics and the per-layer table.

`percentile` applies the reporting rule (a percentile is reported only when
at least ten samples lie beyond it). `layer_table` turns a traced run's raw
events (spans, jobs, stages, queries; see Tracer.scala) into the per-layer
metrics: every job, stage and query is attributed to the op span whose time
window holds it, so jobs started from the store's own threads count too."""
import math

MIN_BEYOND = 10


def percentile(xs, q, min_beyond=MIN_BEYOND):
    """Linearly interpolated q-quantile of xs, or None when fewer than
    `min_beyond` samples lie above its position."""
    s = sorted(xs)
    if not s:
        return None
    pos = q * (len(s) - 1)
    lo = math.floor(pos)
    if len(s) - 1 - lo < min_beyond:
        return None
    return s[lo] + (s[min(lo + 1, len(s) - 1)] - s[lo]) * (pos - lo)


def self_times(spans):
    """Span id -> its duration minus its children's durations (ms)."""
    own = {s["id"]: s["end"] - s["start"] for s in spans}
    for s in spans:
        if s["parent"] in own:
            own[s["parent"]] -= s["end"] - s["start"]
    return own


def union_ms(intervals):
    """Total length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
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


def _within(t, span):
    return span["start"] <= t <= span["end"]


# metric -> unit; every per-layer metric the traced run reports
PER_LAYER = {
    "entry.build_s": "s", "entry.build_jobs": "count",
    "catalyst.plan_s": "s", "catalyst.plan_nodes": "count",
    "catalyst.exchanges": "count",
    "exec.run_s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.driver_gap_s": "s",
    "exec.task_busy_s": "s", "exec.core_util": "ratio",
    "exec.input_bytes": "bytes", "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes", "exec.spill_bytes": "bytes",
    "exec.gc_s": "s", "exec.codegen_compiles": "count",
    "freqstore.commit_s": "s", "freqstore.retract_s": "s",
    "freqstore.compact_s": "s", "freqstore.store_bytes_ratio": "ratio",
    "freqstore.commit_jobs": "count", "freqstore.commit_stages": "count",
    "freqstore.commit_driver_gap_s": "s", "freqstore.write_amp": "ratio",
    "freqstore.compact_bytes_rewritten": "bytes",
    "freqstore.generations": "count",
    "freqstore.lookup_plan_ms": "ms", "freqstore.lookup_exec_ms": "ms",
    "freqstore.lookup_files": "count",
    "freqstore.rows_examined_per_row": "ratio",
    "sources.plan_ms": "ms", "sources.files_opened": "count",
}

FREQSTORE_LOOKUPS = ("lookupPoints", "lookupRange", "lookupPointsFiltered")
DSV2_READS = ("asOf", "extent")


def layer_table(trace, cpus, store_bytes_ratio=0.0):
    """Per-layer metrics of the measured phase of one traced run: the
    generic layers summed per pass (a store cycle is a pass), the store
    layers averaged per op. Layers a workload never calls report 0."""
    start = trace["marks"]["measure"]
    spans = [s for s in trace["spans"] if s["start"] >= start]
    ops = [s for s in spans if s["layer"] == "op"]
    passes = max(1, sum(1 for s in spans if s["layer"] == "pass"))
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    stages = {st["id"]: st for st in trace["stages"]}

    def op_of(t):
        return next((o for o in ops if _within(t, o)), None)

    jobs_by_op, queries_by_op = {}, {}
    for j in trace["jobs"]:
        o = op_of(j["start"])
        if o is not None:
            jobs_by_op.setdefault(o["id"], []).append(j)
    for q in trace["queries"]:
        o = op_of(q["start"])
        if o is not None:
            queries_by_op.setdefault(o["id"], []).append(q)

    def sub(o, layer):
        return [c for c in children.get(o["id"], []) if c["layer"] == layer]

    def stage_sum(js, field):
        return sum(stages[i][field] for j in js for i in j["stages"] if i in stages)

    def run_ms(js):
        return union_ms([(j["start"], j["end"]) for j in js])

    def jobs_in(o, spans_):
        return [j for j in jobs_by_op.get(o["id"], [])
                if any(_within(j["start"], s) for s in spans_)]

    all_jobs = [j for o in ops for j in jobs_by_op.get(o["id"], [])]
    all_q = [q for o in ops for q in queries_by_op.get(o["id"], [])]
    op_ms = sum(o["end"] - o["start"] for o in ops)
    run = sum(run_ms(jobs_by_op.get(o["id"], [])) for o in ops)
    busy = stage_sum(all_jobs, "run_ms") / 1e3
    m = {
        "entry.build_s": sum(e["end"] - e["start"] for o in ops for e in sub(o, "entry")) / 1e3 / passes,
        "entry.build_jobs": sum(len(jobs_in(o, sub(o, "entry"))) for o in ops) / passes,
        "catalyst.plan_s": sum(q["plan_ms"] for q in all_q) / 1e3 / passes,
        "catalyst.plan_nodes": sum(q["nodes"] for q in all_q) / passes,
        "catalyst.exchanges": sum(q["exchanges"] for q in all_q) / passes,
        "exec.run_s": run / 1e3 / passes,
        "exec.jobs": len(all_jobs) / passes,
        "exec.stages": sum(1 for j in all_jobs for i in j["stages"] if i in stages) / passes,
        "exec.tasks": stage_sum(all_jobs, "tasks") / passes,
        "exec.driver_gap_s": (op_ms - run) / 1e3 / passes,
        "exec.task_busy_s": busy / passes,
        "exec.core_util": busy / (op_ms / 1e3 * cpus) if op_ms else 0.0,
        "exec.gc_s": stage_sum(all_jobs, "gc_ms") / 1e3 / passes,
        "exec.codegen_compiles": sum(o["codegen"] for o in ops) / passes,
    }
    for f in ("input_bytes", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
        m["exec." + f] = stage_sum(all_jobs, f) / passes

    def named(prefix):
        return [o for o in ops if o["name"].startswith(prefix)]

    def mean(xs):
        return sum(xs) / len(xs) if xs else 0.0

    commits, lookups = named("commit:"), [o for o in ops if o["name"].split(":")[-1] in FREQSTORE_LOOKUPS]
    reads = [o for o in ops if o["name"].split(":")[-1] in DSV2_READS]
    compacts = named("compact:")
    dur = lambda o: (o["end"] - o["start"]) / 1e3  # noqa: E731
    m.update({
        "freqstore.commit_s": mean([dur(o) for o in commits]),
        "freqstore.retract_s": mean([dur(o) for o in named("retract:")]),
        "freqstore.compact_s": mean([dur(o) for o in compacts]),
        "freqstore.store_bytes_ratio": store_bytes_ratio,
        "freqstore.commit_jobs": mean([len(jobs_by_op.get(o["id"], [])) for o in commits]),
        "freqstore.commit_stages": mean([
            sum(1 for j in jobs_by_op.get(o["id"], []) for i in j["stages"] if i in stages)
            for o in commits]),
        "freqstore.commit_driver_gap_s": mean([
            dur(o) - run_ms(jobs_by_op.get(o["id"], [])) / 1e3 for o in commits]),
        "freqstore.write_amp": (sum(o["attrs"].get("bytes_written", 0) for o in commits)
                                / max(1, sum(o["attrs"].get("batch_bytes", 0) for o in commits))),
        "freqstore.compact_bytes_rewritten": mean([o["attrs"].get("bytes_written", 0) for o in compacts]),
        "freqstore.generations": mean([o["attrs"].get("generations", 0) for o in commits]),
        "freqstore.lookup_plan_ms": mean([sum(q["plan_ms"] for q in queries_by_op.get(o["id"], []))
                                          for o in lookups]),
        "freqstore.lookup_exec_ms": mean([run_ms(jobs_by_op.get(o["id"], [])) for o in lookups]),
        "freqstore.lookup_files": mean([sum(q["files"] for q in queries_by_op.get(o["id"], []))
                                        for o in lookups]),
        "freqstore.rows_examined_per_row": (
            sum(q["scan_rows"] for o in lookups for q in queries_by_op.get(o["id"], []))
            / max(1, sum(o["attrs"].get("result_rows", 0) for o in lookups))),
        "sources.plan_ms": mean([sum(q["plan_ms"] for q in queries_by_op.get(o["id"], []))
                                 for o in reads]),
        "sources.files_opened": mean([sum(q["dsv2_files"] for q in queries_by_op.get(o["id"], []))
                                      for o in reads]),
    })
    assert set(m) == set(PER_LAYER), set(m) ^ set(PER_LAYER)
    return m


def key_self_times(trace):
    """Per op name (kind:key), the mean self time in seconds of the op span
    and of each layer span under it, over the measured phase."""
    start = trace["marks"]["measure"]
    spans = [s for s in trace["spans"] if s["start"] >= start]
    own = self_times(spans)
    by_id = {s["id"]: s for s in spans}
    table, counts = {}, {}
    for s in spans:
        if s["layer"] == "op":
            table.setdefault(s["name"], {}).setdefault("op", 0.0)
            table[s["name"]]["op"] += own[s["id"]] / 1e3
            counts[s["name"]] = counts.get(s["name"], 0) + 1
        elif s["parent"] in by_id and by_id[s["parent"]]["layer"] == "op":
            row = table.setdefault(by_id[s["parent"]]["name"], {})
            row[s["layer"]] = row.get(s["layer"], 0.0) + own[s["id"]] / 1e3
    return {k: {layer: round(v / counts[k], 6) for layer, v in row.items()}
            for k, row in table.items() if k in counts}

