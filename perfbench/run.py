#!/usr/bin/env python3
"""Benchmark of the vaccination-pipeline Spark engine.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name|all> --seed <n> --seconds <s> --trace <0|1>
  python3 perfbench/run.py --workload <name> --record-goldens   (refresh query goldens)

One run builds the engine and the benchmark (cached), prepares the
workload's inputs from the seed, and starts one JVM that sets up a Spark
session, runs a cold pass, runs warm passes for --seconds seconds, and then
an untimed verification pass. With --trace 0 it reports the end-to-end
metrics of BENCHMARK.json, with --trace 1 the per-layer ones. The last line
of stdout is the result as one JSON object; the exit code is 0 only when
every output checked out.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen_etl  # noqa: E402
import metrics  # noqa: E402

MB = metrics.MB
RUN_LIMIT_S = 165  # every run ends within 180 s, build time aside


def load(path):
    with open(path) as f:
        return json.load(f)


def cpus():
    """Task slots: half the cores (at most 4 considered), so JIT compiler and
    GC threads do not compete with tasks for the same cores."""
    return max(1, min(4, os.cpu_count() or 1) // 2)


def jvm_command(classes, args):
    jars = os.path.join(build.spark_jars(), "*")
    opens = [x for p in build.JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", "-Xmx2g", "-XX:+UseG1GC"] + opens +
            [f"-Djava.io.tmpdir={args['work']}/tmp",
             f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
             "-Dspark.ui.enabled=false",
             "-cp", f"{classes}{os.pathsep}{jars}", "perfbench.PerfBench"] +
            [x for k, v in args.items() for x in (f"--{k}", str(v))])


def run_jvm(cmd, work, deadline):
    """Run the benchmark JVM in its own process group; kill the group if it
    outlives the deadline, and always wait for it to end."""
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = None
    return rc


def read_records(path):
    recs = {}
    if os.path.exists(path):
        with open(path) as f:
            for line in f:
                r = json.loads(line)
                recs.setdefault(r["type"], []).append(r)
    return recs


def check_query(recs, ops, goldens):
    """Names of ops whose verification record is missing, threw, or does not
    match the golden row count and hash."""
    got = {v["name"]: v for v in recs.get("verify", [])}
    bad = {}
    for name in ops:
        v, g = got.get(name), goldens.get(name)
        if v is None or v.get("err"):
            bad[name] = (v or {}).get("err", "no verification record")
        elif g is None:
            bad[name] = "no golden recorded"
        elif (v["rows"], v["hash"]) != (g["rows"], g["hash"]):
            bad[name] = f"rows/hash {v['rows']}/{v['hash']} != golden {g['rows']}/{g['hash']}"
    return bad


def check_etl(recs, manifest):
    """(bad passes, bad view names) against the generator's manifest."""
    countries = sorted(manifest["countries"])
    views = [f"VIEW_{c}" for c in countries]
    bad_passes = {}
    want = (manifest["valid"], manifest["quarantined"], countries, views)
    for e in recs.get("etl", []):
        if e.get("err"):
            bad_passes[e["pass"]] = e["err"]
            continue
        have = (e["valid"], e["quarantined"], sorted(e["countries"]), sorted(e["views"]))
        if have != want:
            bad_passes[e["pass"]] = f"pipeline result {have} != manifest {want}"
    expect = {f"VIEW_{c}": m["customers"] for c, m in manifest["countries"].items()}
    expect["warehouse"] = manifest["valid"]
    expect["quarantine_file"] = manifest["quarantined"]
    got = {v["name"]: v for v in recs.get("verify", [])}
    bad_views = {}
    for name, rows in expect.items():
        v = got.get(name)
        if v is None or v.get("err") or v["rows"] != rows:
            bad_views[name] = f"expected {rows} rows, got {v}"
    return bad_passes, bad_views


def end_to_end(recs, rows_in=None):
    setup = recs["setup"][0]["reps"]
    passes = recs["pass"]
    cold = [p for p in passes if p["kind"] == "cold"]
    warm = [p for p in passes if p["kind"] == "warm"]
    warm_ids = {p["idx"] for p in warm}
    lat = [o["wall_s"] for o in recs.get("op", []) if o["pass"] in warm_ids]
    out = {
        "setup_s": statistics.median(setup),
        "setup_cold_s": setup[0],
        "first_pass_s": cold[0]["wall_s"] if cold else None,
        "pass_s": statistics.median(p["wall_s"] for p in warm) if warm else None,
        "pass_cpu_s": statistics.median(p["cpu_s"] for p in warm) if warm else None,
        "warm_passes": len(warm),
        "host_steal_s": sum(p["steal_s"] for p in warm),
        "op_p50_s": metrics.percentile(lat, 0.5),
        "op_p90_s": metrics.percentile(lat, 0.9),
        "shuffle_write_mb": (statistics.median(p["shuffle_write"] for p in warm) / MB
                             if warm else None),
        "live_heap_mb": (statistics.median(p["live_heap"] for p in warm) / MB
                         if warm else None),
        "peak_rss_mb": recs["rss"][0]["vmhwm_kb"] / 1024 if "rss" in recs else None,
    }
    etl = [e for e in recs.get("etl", []) if e["pass"] in warm_ids]
    if rows_in and etl:
        out["etl_rows_per_s"] = rows_in / statistics.median(e["pipeline_s"] for e in etl)
    return out, len(lat)


def per_layer(recs, slots):
    passes = recs["pass"]
    traced = [p["idx"] for p in passes if p["kind"] == "traced"]

    def of(kind, i):
        return [r for r in recs.get(kind, []) if r["pass"] == i]

    per_pass = [metrics.layer_metrics(of("span", i), of("job", i), of("qe", i),
                                      of("progress", i), of("storage", i), of("op", i), slots)
                for i in traced]
    out = metrics.median_of(per_pass)
    out["trace.overhead_s"] = metrics.tracing_overhead(passes)
    return out


def trace_checks(recs):
    """Consistency of the traced run; returns {check: (value, ok, rule)}."""
    spans = recs.get("span", [])
    out = {}
    ops = [s for s in spans if s["name"] == "op" and s["op"] != "pipeline"]
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    cover = [sum(c["end"] - c["start"] for c in kids.get(o["id"], ())
                 if c["name"] in ("build", "execute")) / (o["end"] - o["start"])
             for o in ops if o["end"] > o["start"]]
    if cover:
        v = min(cover)
        out["query_span_coverage_min"] = (v, 0.95 <= v <= 1.0 + 1e-9,
                                          "build + execute cover >= 95% of every op")
    pipe = [s for s in spans if s["name"] == "op" and s["op"] == "pipeline"]
    warm = {p["idx"] for p in recs["pass"] if p["kind"] == "warm"}
    untraced = [e["pipeline_s"] for e in recs.get("etl", []) if e["pass"] in warm]
    if pipe and untraced:
        sums = [sum(c["end"] - c["start"] for c in kids.get(p["id"], ())) / 1e3 for p in pipe]
        v = statistics.median(sums) / statistics.median(untraced)
        out["etl_stage_sum_ratio"] = (v, 0.75 <= v <= 1.33,
                                      "stage spans sum to 0.75-1.33x untraced Pipeline.run")
    return out


def run_one(root, spec, bench, name, seed, seconds, trace, record):
    w = spec["workloads"][name]
    classes = build.build(root)
    deadline = time.time() + RUN_LIMIT_S
    work = os.path.join(root, ".bench_work", f"run-{name}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        args = {"kind": w["kind"], "seed": seed, "seconds": seconds, "trace": trace,
                "cpus": cpus(), "work": work, "out": os.path.join(work, "records.jsonl"),
                "ops": os.path.join(work, "ops.txt"),
                "min-samples": metrics.min_samples(0.5)}
        manifest = None
        if w["kind"] == "etl":
            inp, manifest = gen_etl.cached(os.path.join(root, ".bench_work", "etl-input"),
                                           seed, w["rows"])
            ops = [f"VIEW_{c}" for c in sorted(manifest["countries"])]
            args.update({"etl-input": inp, "as-of": w["as_of"]})
        else:
            ops = w["ops"]
            args["data"] = os.path.join(HERE, w["data"])
        with open(args["ops"], "w") as f:
            f.write("\n".join(ops) + "\n")
        rc = run_jvm(jvm_command(classes, args), work, deadline)
        recs = read_records(args["out"])
        if rc != 0 or "rss" not in recs:
            with open(os.path.join(work, "jvm.log")) as f:
                sys.stderr.write(f.read()[-6000:])
            raise SystemExit(f"{name}: benchmark JVM failed (exit {rc})")
        return evaluate(bench, name, w, recs, ops, manifest, trace, record)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def evaluate(bench, name, w, recs, ops, manifest, trace, record):
    op_recs = recs.get("op", [])
    failed_names = {o["name"] for o in op_recs if not o["ok"]}
    problems = {o["name"]: o["err"] for o in op_recs if not o["ok"]}
    bad_passes = {}
    if w["kind"] == "etl":
        bad_passes, bad = check_etl(recs, manifest)
    elif record:
        goldens_path = os.path.join(HERE, "goldens.json")
        goldens = load(goldens_path) if os.path.exists(goldens_path) else {}
        for v in recs.get("verify", []):
            if not v.get("err"):
                goldens[v["name"]] = {"rows": v["rows"], "hash": v["hash"]}
        with open(goldens_path, "w") as f:
            json.dump(dict(sorted(goldens.items())), f, indent=1)
            f.write("\n")
        bad = check_query(recs, ops, goldens)
    else:
        bad = check_query(recs, ops, load(os.path.join(HERE, "goldens.json")))
    problems.update(bad)
    problems.update({f"pass {k}": v for k, v in bad_passes.items()})
    failed_names |= set(bad)
    attempted = len(op_recs)
    failed = sum(1 for o in op_recs
                 if o["name"] in failed_names or o["pass"] in bad_passes)
    if bad and w["kind"] == "etl":  # a wrong warehouse or view fails every view op
        failed = attempted

    e2e, n_lat = end_to_end(recs, manifest["rows"] if manifest else None)
    e2e["failed_frac"] = failed / attempted if attempted else 1.0
    lines = [f"workload {name}: {attempted} ops attempted, {failed} failed"]
    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    units.update(setup_cold_s="s", op_p50_s="s", op_p90_s="s", etl_rows_per_s="1/s",
                 first_pass_s="s", peak_rss_mb="MB", warm_passes="count", pass_cpu_s="s",
                 host_steal_s="s",
                 failed_frac="ratio")
    for k, v in e2e.items():
        pct = k.startswith("op_p")
        if v is not None:
            lines.append(f"  {k} = {v:.6g} {units[k]}" + (f" ({n_lat} warm op samples)" if pct else ""))
        elif pct:
            lines.append(f"  {k}: omitted, fewer than {metrics.MIN_BEYOND} of {n_lat} "
                         "samples lie beyond it")
    correct = attempted > 0 and failed == 0
    if trace:
        layer = per_layer(recs, cpus())
        wanted = [m["name"] for m in bench["per_layer"]]
        out = {k: layer[k] for k in wanted if layer.get(k) is not None}
        for k, (v, ok, rule) in trace_checks(recs).items():
            lines.append(f"  check {k} = {v:.4f} ({'ok' if ok else 'FAILED'}: {rule})")
            correct = correct and ok
        lines += [f"  {k} = {v:.6g} {units[k]}" for k, v in out.items()]
    else:
        wanted = [m["name"] for m in bench["end_to_end"]]
        out = {k: e2e[k] for k in wanted if e2e.get(k) is not None}
    missing = [k for k in wanted if k not in out]
    if missing:
        lines.append(f"  missing metrics: {', '.join(missing)}")
        correct = False
    for k, v in sorted(problems.items()):
        lines.append(f"  FAILED {k}: {str(v)[:300]}")
    result = {"correct": correct, "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": v, "unit": units[k]} for k, v in out.items()}}
    return lines, result


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-goldens", action="store_true")
    a = ap.parse_args()
    root = os.getcwd()
    spec = load(os.path.join(HERE, "workloads.json"))
    bench = load(os.path.join(root, "BENCHMARK.json"))
    names = list(spec["workloads"]) if a.workload == "all" else [a.workload]
    unknown = [n for n in names if n not in spec["workloads"]]
    if unknown:
        raise SystemExit(f"unknown workload {unknown[0]}; known: {', '.join(spec['workloads'])}")
    results = {}
    for n in names:
        lines, res = run_one(root, spec, bench, n, a.seed, a.seconds, a.trace,
                             a.record_goldens)
        print("\n".join(lines), flush=True)
        results[n] = res
    if len(results) == 1:
        final = results[names[0]]
    else:
        for n, r in results.items():
            print(json.dumps({"workload": n, **r}))
        final = {"correct": all(r["correct"] for r in results.values()),
                 "attempted": sum(r["attempted"] for r in results.values()),
                 "failed": sum(r["failed"] for r in results.values()),
                 "metrics": {f"{n}.{k}": v for n, r in results.items()
                             for k, v in r["metrics"].items()}}
    print(json.dumps(final))
    return 0 if final["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
