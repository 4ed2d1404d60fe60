"""Turns one run's raw records into the benchmark's metrics, prints them by
name and unit, writes the full record under <build dir>/results/, and
prints the one-line JSON result ({"correct", "attempted", "failed",
"metrics"}) last."""
import json
import math
import os
import statistics

import build
import workloads

END_TO_END = [("setup_s", "s"), ("pass_s", "s"), ("latency_p50_ms", "ms")]

# Seen by a user too, but too noisy run to run on a 4-core box to carry a
# bound (NOTES.md): printed on every run, and per-layer metrics of the
# traced run.
UNBOUNDED = [("latency.p90_ms", "ms"), ("jvm.peak_rss_mb", "MB"), ("jvm.peak_heap_after_gc_mb", "MB")]

PREBUILDS = ["stats", "streamed_hdr", "streamed_hll", "streamed_stats", "unified_stats",
             "ivf_index", "pq_index", "dpp_catalog"]

# (metric, unit, record field averaged per traced operation)
PER_OP = [
    ("queries.build_ms", "ms/op", "build_ms"), ("queries.build_jobs", "count/op", "build_jobs"),
    ("plans.analysis_ms", "ms/op", "analysis_ms"), ("plans.optimization_ms", "ms/op", "optimization_ms"),
    ("plans.planning_ms", "ms/op", "planning_ms"), ("plans.actions", "count/op", "actions"),
    ("plans.aqe_updates", "count/op", "aqe_updates"),
    ("store.build_ms", "ms/op", "store_build_ms"), ("store.bytes_written", "bytes/op", "bytes_written"),
    ("store.files_written", "count/op", "files_written"),
    ("operators.rounds", "count/op", "rounds"), ("operators.round_ms", "ms/op", "round_ms"),
    ("operators.round_jobs", "count/op", "round_jobs"),
    ("driver.jobs", "count/op", "jobs"), ("driver.stages", "count/op", "stages"),
    ("driver.tasks", "count/op", "tasks"), ("driver.job_active_ms", "ms/op", "job_active_ms"),
    ("driver.idle_ms", "ms/op", "idle_ms"), ("driver.sched_delay_ms", "ms/op", "sched_delay_ms"),
    ("driver.broadcast_jobs", "count/op", "broadcast_jobs"), ("driver.broadcast_ms", "ms/op", "broadcast_ms"),
    ("driver.codegen_ms", "ms/op", "codegen_ms"),
    ("exec.run_ms", "ms/op", "run_ms"), ("exec.cpu_ms", "ms/op", "cpu_ms"), ("exec.gc_ms", "ms/op", "exec_gc_ms"),
    ("exec.input_bytes", "bytes/op", "input_bytes"), ("exec.shuffle_read_bytes", "bytes/op", "shuffle_read_bytes"),
    ("exec.shuffle_write_bytes", "bytes/op", "shuffle_write_bytes"), ("exec.spill_bytes", "bytes/op", "spill_bytes"),
    ("jvm.gc_ms", "ms/op", "jvm_gc_ms"),
    ("self.queries_build_ms", "ms/op", "self.queries.build"), ("self.plans_plan_ms", "ms/op", "self.plans.plan"),
    ("self.exec_collect_ms", "ms/op", "self.exec.collect"), ("self.jobs_ms", "ms/op", "self.jobs"),
]

PER_LAYER = UNBOUNDED + [(m, u) for m, u, _ in PER_OP] + [
    ("store.prebuild_ms." + p, "ms") for p in PREBUILDS] + [
    ("store.disk_mb", "MB"), ("driver.skipped_stage_frac", "ratio"), ("exec.slot_util", "ratio"), ("exec.empty_task_frac", "ratio"),
    ("serve.late_ms", "ms"), ("serve.ttfb_ms", "ms"), ("serve.inflight_max", "count"),
    ("serve.inflight_mean", "count"), ("serve.overlap_frac", "ratio"),
    ("serve.http_4xx", "count"), ("serve.http_5xx", "count"), ("serve.backlog_end", "count"),
    ("serve.max_rps", "1/s"),
    ("trace.pass_s", "s"), ("trace.untraced_pass_s", "s"), ("trace.overhead_s", "s"),
]

# Which end-to-end metric each layer should move, and on which workload.
# store_lifecycle and scaled_scan are not in BENCHMARK.json (NOTES.md); an
# entry that names them says where the layer still shows.
LAYER_MAP = {
    "queries": "pass_s on store_lifecycle (not in the benchmark); here pass_s on adhoc_mix",
    "plans": "latency_p50_ms on adhoc_mix and serve_open (at most their share of wall time)",
    "store": "setup_s on adhoc_mix (lazy store builds in the warm-up) and store.prebuild_ms.* in the traced run; "
             "pass_s, latency.p90_ms and store.disk_mb on store_lifecycle (not in the benchmark)",
    "operators": "latency.p90_ms on adhoc_mix",
    "driver": "latency_p50_ms and pass_s on adhoc_mix and serve_open",
    "exec": "pass_s and latency.p90_ms on scaled_scan (not in the benchmark); here a small share of pass_s "
            "on adhoc_mix",
    "serve": "latency_p50_ms, pass_s, latency.p90_ms and serve.max_rps on serve_open",
    "jvm": "latency.p90_ms, jvm.peak_rss_mb and jvm.peak_heap_after_gc_mb on adhoc_mix and serve_open",
}


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _quantile(xs, p):
    """Harrell-Davis estimate of the p-quantile: a Beta((n+1)p, (n+1)(1-p))
    weighted mean of all order statistics. A mix of few distinct queries
    leaves gaps between their latencies, and a plain sample quantile jumps
    across a gap with the count of samples on either side (NOTES.md)."""
    xs = sorted(xs)
    n = len(xs)
    if n < 2:
        return xs[0] if xs else 0.0
    a, b = p * (n + 1), (1 - p) * (n + 1)
    log_beta = math.lgamma(a) + math.lgamma(b) - math.lgamma(a + b)
    cells = 100  # integration cells per order statistic
    h = 1.0 / (n * cells)
    w = [h * sum(math.exp((a - 1) * math.log(t) + (b - 1) * math.log1p(-t) - log_beta)
                 for t in ((i * cells + k + 0.5) * h for k in range(cells))) for i in range(n)]
    return sum(wi * x for wi, x in zip(w, xs)) / sum(w)


def _ratio(a, b):
    return a / b if b else 0.0


def closed_metrics(res, cores):
    ops = res["ops"]
    untraced = [o for o in ops if not o["traced"]]
    lat = [o["ms"] for o in untraced if o["ok"]]
    passes = [p["ms"] for p in res["passes"] if not p["traced"]]
    traced_passes = [p["ms"] for p in res["passes"] if p["traced"]]
    by_query = {}
    for o in untraced:
        if o["ok"]:
            by_query.setdefault(o["name"], []).append(o["ms"])
    # one pass = every query once; each query at its median over the run
    e2e = {"setup_s": res["setup_s"], "pass_s": sum(_median(v) for v in by_query.values()) / 1e3,
           "latency_p50_ms": _quantile(lat, 0.5), "latency.p90_ms": _quantile(lat, 0.9), "jvm.peak_rss_mb": res["peak_rss_mb"],
           "jvm.peak_heap_after_gc_mb": res["peak_heap_mb"]}
    samples = {"pass_s": len(lat), "latency_p50_ms": len(lat), "latency.p90_ms": len(lat)}
    t = [o for o in ops if o["traced"]]
    layer = {m: _ratio(sum(o[f] for o in t), len(t)) for m, _, f in PER_OP}
    layer.update({m: e2e[m] for m, _ in UNBOUNDED})

    def total(f):
        return sum(o[f] for o in t)
    layer.update({
        "driver.skipped_stage_frac": _ratio(total("stages_skipped"), total("stages_total")) if t else 0.0,
        "exec.slot_util": _ratio(total("run_ms"), total("job_active_ms") * cores) if t else 0.0,
        "exec.empty_task_frac": _ratio(total("empty_tasks"), total("tasks")) if t else 0.0,
        "trace.pass_s": _median(traced_passes) / 1e3, "trace.untraced_pass_s": _median(passes) / 1e3,
        "trace.overhead_s": (_median(traced_passes) - _median(passes)) / 1e3 if traced_passes else 0.0,
    })
    layer.update({k: 0.0 for k, _ in PER_LAYER if k.startswith("serve.")})
    return e2e, layer, samples, len(ops), sum(1 for o in ops if not o["ok"]), ops


def rung_ok(step):
    """A ladder step passes: every request sent and answered correctly, no
    backlog, p90 under the limit."""
    reqs = step["requests"]
    return (step["backlog_end"] == 0 and bool(reqs) and len(reqs) == step["scheduled"] and all(r["ok"] for r in reqs)
            and _quantile([r["latency_ms"] for r in reqs], 0.9) < workloads.SERVE_P90_LIMIT_MS)


def _by_class(reqs):
    by = {}
    for r in reqs:
        if r["ok"]:
            by.setdefault(r["name"], []).append(r["latency_ms"])
    return by


def serve_pass_s(reqs, fallback=None):
    """Open loop: the request-seconds of one pass over the operation list
    (workloads.serve_pass), each statement class at its median latency.
    A class with no sample in `reqs` takes its samples from `fallback`."""
    by, fb = _by_class(reqs), _by_class(fallback or [])
    return sum(n * _median(by.get(c) or fb.get(c, [])) for c, n in workloads.serve_pass().items()) / 1e3


def concurrency(reqs):
    """Time-weighted mean of the requests in flight, and the share of the
    time with two or more in flight, from the first send to the last
    response."""
    ev = sorted([(r["sent"], 1) for r in reqs] + [(r["done"], -1) for r in reqs])
    if not ev:
        return 0.0, 0.0
    area = shared = 0.0
    cur, last = 0, ev[0][0]
    for t, d in ev:
        area += cur * (t - last)
        shared += (t - last) if cur >= 2 else 0.0
        cur += d
        last = t
    span = ev[-1][0] - ev[0][0]
    return _ratio(area, span), _ratio(shared, span)


def serve_metrics(res):
    parts = {k: v for k, v in res["load"].items() if "rate" not in v}
    rungs = [v for v in res["load"].values() if "rate" in v]
    reqs = [r for p in parts.values() for r in p["requests"]]
    base = parts["untraced"]["requests"]
    lat = [r["latency_ms"] for r in base if r["ok"]]
    e2e = {"setup_s": res["setup_s"], "pass_s": serve_pass_s(base),
           "latency_p50_ms": _quantile(lat, 0.5), "latency.p90_ms": _quantile(lat, 0.9), "jvm.peak_rss_mb": res["peak_rss_mb"],
           "jvm.peak_heap_after_gc_mb": res["peak_heap_mb"]}
    samples = {"pass_s": len(base), "latency_p50_ms": len(lat), "latency.p90_ms": len(lat)}
    tr = res.get("traced") or {}
    traced_reqs = parts.get("traced", {}).get("requests", [])
    n = len(traced_reqs)
    layer = {m: _ratio(tr.get(f, 0.0), n) for m, _, f in PER_OP}
    layer.update({m: e2e[m] for m, _ in UNBOUNDED})
    layer["self.jobs_ms"] = _ratio(tr.get("job_active_ms", 0.0), n)
    layer["driver.idle_ms"] = _ratio(sum(r["latency_ms"] for r in traced_reqs) - tr.get("job_active_ms", 0.0), n)
    inflight_mean, overlap = concurrency(base)
    traced_pass = serve_pass_s(traced_reqs, fallback=reqs) if traced_reqs else 0.0
    layer.update({
        "driver.skipped_stage_frac": _ratio(tr.get("stages_skipped", 0), tr.get("stages_total", 0)),
        "exec.slot_util": _ratio(tr.get("run_ms", 0), tr.get("job_active_ms", 0) * res.get("cores", 1)),
        "exec.empty_task_frac": _ratio(tr.get("empty_tasks", 0), tr.get("tasks", 0)),
        "serve.late_ms": _median([r["late_ms"] for r in reqs]),
        "serve.ttfb_ms": _median([r["ttfb_ms"] for r in reqs]),
        "serve.inflight_max": max(p["inflight_max"] for p in parts.values()),
        "serve.inflight_mean": inflight_mean, "serve.overlap_frac": overlap,
        "serve.http_4xx": sum(1 for r in reqs if 400 <= r["status"] < 500),
        "serve.http_5xx": sum(1 for r in reqs if r["status"] >= 500),
        "serve.backlog_end": max(p["backlog_end"] for p in parts.values()),
        "serve.max_rps": max((p["rate"] for p in rungs if rung_ok(p)), default=0.0),
        "trace.pass_s": traced_pass, "trace.untraced_pass_s": e2e["pass_s"],
        "trace.overhead_s": traced_pass - e2e["pass_s"] if traced_reqs else 0.0,
    })
    every = [r for p in res["load"].values() for r in p["requests"]]
    # requests of the measured load left unsent count as failed; a ladder
    # step past the limit leaving some unsent is what the ladder measures
    unsent = sum(p["scheduled"] - len(p["requests"]) for p in parts.values())
    failed = sum(1 for r in every if not r["ok"]) + unsent
    return e2e, layer, samples, len(every) + unsent, failed, every


def job_counts(ops):
    counts = {}
    for o in ops:
        if "jobs" in o and o["ok"]:
            counts.setdefault(o["name"], []).append(o["jobs"])
    return counts


def emit(args, env, res):
    cores = env["cores"]
    res.setdefault("cores", cores)
    if "ops" in res:
        e2e, layer, samples, attempted, failed, ops = closed_metrics(res, cores)
    else:
        e2e, layer, samples, attempted, failed, ops = serve_metrics(res)
    for p in PREBUILDS:
        layer["store.prebuild_ms." + p] = res["prebuild_ms"].get(p, 0.0)
    layer["store.disk_mb"] = res["disk_bytes"] / 1e6
    counts = job_counts(ops)
    unsteady = {n: c for n, c in counts.items() if len(set(c)) > 1}
    units = dict(END_TO_END + PER_LAYER)
    print(f"perfbench env {json.dumps(env, sort_keys=True)}")
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace}: {attempted} operations attempted, "
          f"{failed} failed, failed_frac {_ratio(failed, attempted):.4f}")
    for name, _ in END_TO_END + UNBOUNDED:
        n = samples.get(name)
        print(f"  {name:<34} {e2e[name]:>14.4f} {units[name]:<9}" + (f" n={n}" if n is not None else ""))
    shared = ("serve.inflight_mean", "serve.overlap_frac", "serve.inflight_max")
    if "load" in res:
        print(f"  serve concurrency: mean in flight {layer[shared[0]]:.3f}, share of time with 2+ in flight "
              f"{layer[shared[1]]:.3f}, max in flight {layer[shared[2]]}")
    if args.trace:
        for name, unit in PER_LAYER[len(UNBOUNDED):]:
            print(f"  {name:<34} {layer[name]:>14.4f} {unit}")
        for k, v in LAYER_MAP.items():
            print(f"  layer {k}: moves {v}")
        print(f"  jobs per query: {len(counts)} queries, {len(unsteady)} with a count that does not repeat"
              + "".join(f"; {n} {c}" for n, c in sorted(unsteady.items())))
    failures = sorted({(o.get("name"), o.get("error")) for o in ops if not o["ok"]})
    for n, err in failures[:10]:
        print(f"  FAILED {n}: {err}")
    out_dir = os.path.join(build.build_dir(), "results")
    os.makedirs(out_dir, exist_ok=True)
    record = {"env": env, "end_to_end": {k: {"value": e2e[k], "unit": units[k], "samples": samples.get(k)}
                                         for k, _ in END_TO_END + UNBOUNDED},
              "attempted": attempted, "failed": failed, "failed_frac": _ratio(failed, attempted),
              "serve_concurrency": {k: layer[k] for k in shared} if "load" in res else None,
              "layer_map": LAYER_MAP, "jobs_per_query": counts, "jobs_not_repeating": unsteady,
              "operations": ops, "passes": res.get("passes"), "warm_ms": res.get("warm_ms"), "spans": res.get("spans", [])}
    if args.trace:
        record["per_layer"] = {k: {"value": layer[k], "unit": u} for k, u in PER_LAYER}
    path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as fh:
        json.dump(record, fh)
    print(f"  full record: {os.path.relpath(path, build.ROOT)}")
    chosen = PER_LAYER if args.trace else END_TO_END
    values = layer if args.trace else e2e
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": values[k], "unit": u} for k, u in chosen}}))
