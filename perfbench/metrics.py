"""Reduce the JSON-line records of one benchmark process to metrics.

Pure functions over plain data, so the percentile rule, the self-time
computation and the per-layer sums can be tested without Spark.
"""
import math
import statistics

MB = 1 << 20
MIN_BEYOND = 10  # a percentile is reported only with this many samples above it


def samples_beyond(n, q):
    """How many of n ranked samples lie above the q-quantile's rank."""
    return n - math.ceil(q * n)


def percentile(values, q, min_beyond=MIN_BEYOND):
    """The q-quantile (linear interpolation between closest ranks), or None
    when fewer than `min_beyond` samples lie beyond it."""
    n = len(values)
    if n == 0 or samples_beyond(n, q) < min_beyond:
        return None
    xs = sorted(values)
    pos = q * (n - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, n - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def min_samples(q, min_beyond=MIN_BEYOND):
    """Smallest sample count for which `percentile` reports the q-quantile."""
    n = 1
    while samples_beyond(n, q) < min_beyond:
        n += 1
    return n


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
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


def self_times(spans):
    """Self time of every span: its length minus the part of it covered by
    its direct children (children are clipped to the parent, and overlapping
    children count once). Spans are dicts with id, parent, start and end.
    Returns {id: self time}, in the unit of start and end."""
    children = {}
    for s in spans:
        if s.get("parent") is not None:
            children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered = union_length(
            (max(c["start"], s["start"]), min(c["end"], s["end"]))
            for c in children.get(s["id"], ())
            if min(c["end"], s["end"]) > max(c["start"], s["start"]))
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def self_time_by_name(spans):
    """Self time summed per span name."""
    by_id = self_times(spans)
    out = {}
    for s in spans:
        out[s["name"]] = out.get(s["name"], 0.0) + by_id[s["id"]]
    return out


def job_spans(jobs):
    """Jobs as spans under the span that started them."""
    return [{"id": f"job{j['id']}", "name": "job", "parent": j["span"],
             "start": j["start"], "end": j["end"]}
            for j in jobs if j["end"] is not None]


def ancestors(span_id, parent_of):
    while span_id is not None:
        yield span_id
        span_id = parent_of.get(span_id)


def layer_metrics(spans, jobs, qes, progress, storage, ops, slots):
    """Per-layer metrics of one traced pass, in seconds / MB / counts.
    `spans` and `jobs` are that pass's records (times in epoch ms)."""
    ms = 1e-3
    by_id = {s["id"]: s for s in spans}
    parent_of = {s["id"]: s["parent"] for s in spans}

    def dur(names):
        return sum(s["end"] - s["start"] for s in spans if s["name"] in names) * ms

    def jobs_under(pred):
        return [j for j in jobs if any(pred(by_id[a]) for a in ancestors(j["span"], parent_of)
                                       if a in by_id)]

    op_spans = [s for s in spans if s["name"] == "op"]
    op_wall = sum(s["end"] - s["start"] for s in op_spans) * ms
    build_s = dur({"build"})
    execute = [s for s in spans if s["name"] == "execute"]
    execute_s = dur({"execute"})
    exec_jobs = jobs_under(lambda s: s["name"] == "execute")
    gap = 0.0
    for e in execute:
        inside = [(max(j["start"], e["start"]), min(j["end"], e["end"]))
                  for j in exec_jobs if j["span"] == e["id"] and j["end"] is not None
                  and min(j["end"], e["end"]) > max(j["start"], e["start"])]
        gap += (e["end"] - e["start"]) - union_length(inside)

    def jsum(key, js=jobs):
        return sum(j[key] for j in js)

    stream_wall = sum(o["wall_s"] for o in ops if o["name"].startswith("q_stream_"))
    trigger_s = sum(p["trigger_ms"] for p in progress) * ms
    view_ops = [s for s in op_spans if s["op"].startswith("VIEW_")]
    by_name = self_time_by_name(spans + job_spans(jobs))
    stage_names = {s["name"] for s in spans
                   if s["parent"] is not None and by_id.get(s["parent"], {}).get("op") == "pipeline"
                   and by_id[s["parent"]]["name"] == "op"}
    m = {
        "registry.build_s": build_s,
        "registry.build_jobs": len(jobs_under(lambda s: s["name"] == "build")),
        "registry.build_share": build_s / op_wall if op_wall else 0.0,
        "catalyst.analysis_s": sum(q["analysis_ms"] for q in qes) * ms,
        "catalyst.optimization_s": sum(q["optimization_ms"] for q in qes) * ms,
        "catalyst.planning_s": sum(q["planning_ms"] for q in qes) * ms,
        "exec.jobs": len(jobs),
        "exec.stages": jsum("stages"),
        "exec.tasks": jsum("tasks"),
        "exec.task_run_s": jsum("run_ms") * ms,
        "exec.task_cpu_s": jsum("cpu_ns") * 1e-9,
        "exec.task_gc_s": jsum("gc_ms") * ms,
        "exec.task_wait_s": jsum("wait_ms") * ms,
        "exec.slot_util": (jsum("run_ms", exec_jobs) * ms / (execute_s * slots)
                           if execute_s else 0.0),
        "exec.driver_gap_s": gap * ms,
        "driver.result_mb": jsum("result_bytes") / MB,
        "shuffle.write_mb": jsum("shuffle_write") / MB,
        "shuffle.read_mb": jsum("shuffle_read") / MB,
        "shuffle.fetch_wait_s": jsum("fetch_wait_ms") * ms,
        "shuffle.spill_disk_mb": jsum("spill_disk") / MB,
        "storage.retained_mb": (statistics.fmean(s["retained_bytes"] for s in storage) / MB
                                if storage else 0.0),
        "streaming.batches": len(progress),
        "streaming.input_rows": sum(p["rows"] for p in progress),
        "streaming.trigger_s": trigger_s,
        "streaming.add_batch_s": sum(p["add_batch_ms"] for p in progress) * ms,
        "streaming.query_planning_s": sum(p["planning_ms"] for p in progress) * ms,
        "streaming.latest_offset_s": sum(p["latest_offset_ms"] for p in progress) * ms,
        "streaming.wal_commit_s": sum(p["wal_commit_ms"] for p in progress) * ms,
        "streaming.state_commit_s": sum(p["state_commit_ms"] for p in progress) * ms,
        "streaming.start_stop_s": max(0.0, stream_wall - trigger_s) if progress else 0.0,
        "ingest.group_by_layout_s": dur({"ingest.group_by_layout"}),
        "ingest.load_grouped_s": dur({"ingest.load_grouped"}),
        "validate.validate_s": dur({"validate.validate"}),
        "validate.save_invalid_s": dur({"validate.save_invalid"}),
        "validate.quarantine_count_s": dur({"validate.quarantine_count"}),
        "sink.to_warehouse_s": dur({"sink.to_warehouse"}),
        "sink.write_s": dur({"sink.write"}),
        "sink.write_mb": jsum("output_bytes",
                              jobs_under(lambda s: s["name"] == "sink.write")) / MB,
        "views.distinct_countries_s": dur({"views.distinct_countries"}),
        "views.register_s": dur({"views.register"}),
        "views.query_s": sum(s["end"] - s["start"] for s in view_ops) * ms,
        "views.query_jobs": len(jobs_under(lambda s: s["name"] == "op"
                                           and s["op"].startswith("VIEW_"))),
        "self.op_s": by_name.get("op", 0.0) * ms,
        "self.build_s": by_name.get("build", 0.0) * ms,
        "self.execute_s": by_name.get("execute", 0.0) * ms,
        "self.job_s": by_name.get("job", 0.0) * ms,
        "self.etl_stage_s": sum(by_name.get(n, 0.0) for n in stage_names) * ms,
    }
    return m


def tracing_overhead(passes):
    """Median over traced passes of the traced pass's wall time minus the mean
    of the untraced passes next to it. Passes alternate, so the pairing
    cancels the JVM's warm-up trend across the run."""
    wall = {p["idx"]: p["wall_s"] for p in passes if p["kind"] == "warm"}
    diffs = []
    for p in passes:
        if p["kind"] == "traced":
            near = [wall[i] for i in (p["idx"] - 1, p["idx"] + 1) if i in wall]
            if near:
                diffs.append(p["wall_s"] - statistics.fmean(near))
    return statistics.median(diffs) if diffs else None


def median_of(dicts):
    """Key-wise median of a list of metric dicts."""
    return {k: statistics.median(d[k] for d in dicts) for k in dicts[0]} if dicts else {}
