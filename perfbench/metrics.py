"""End-to-end and per-layer metrics from one harness run (see METRICS.md).

Every latency sample comes from an operation whose output matched the
oracle; a failed, timed-out or mismatched operation counts in `failed` and
in no timing, and a pass holding one is dropped from the pass timings.
"""
import statistics
from collections import defaultdict

import numpy as np

# ops that check a result rather than produce one for a user
CHECK_OPS = {"gl_week_check"}
# what each generic end-to-end metric is called on each workload
ALIASES = {
    "commissions": {"cold_s": "gl_first_result_s", "pass_s": "gl_full_s",
                    "step_p50_s": "gl_delta_s", "step_p75_s": "gl_delta_p75_s"},
    "query_mix": {"cold_s": "first_result_s", "pass_s": "pass_s",
                  "step_p50_s": "query_p50_s", "step_p75_s": "query_p75_s"},
}
E2E_UNITS = {"setup_s": "s", "cold_s": "s", "pass_s": "s", "step_p50_s": "s",
             "step_p75_s": "s"}
STAGES = {
    "domain": ["synth", "hash", "route", "proposals", "splits", "hierarchy"],
    "calc": ["enrich", "resolve_proposal", "explode_splits", "resolve_hierarchy",
             "explode_participants", "lookup_rate", "compute", "gl"],
    "export": ["upsert"],
}
MODULES = ["components", "dedup", "similarity", "tokenize"]
COUNTERS = [  # metric, counter, unit
    ("session.jobs", "jobs", "count"), ("session.stages", "stages", "count"),
    ("session.tasks", "tasks", "count"),
    ("session.sched_delay_ms", "sched_delay_ms", "ms"),
    ("session.failed_tasks", "failed_tasks", "count"),
    ("tables.input_bytes", "input_bytes", "bytes"),
    ("tables.input_records", "input_records", "count"),
    ("tables.scan_tasks", "scan_tasks", "count"),
    ("exchange.shuffle_write_bytes", "shuffle_write_bytes", "bytes"),
    ("exchange.shuffle_read_bytes", "shuffle_read_bytes", "bytes"),
    ("exchange.shuffle_records", "shuffle_write_records", "count"),
    ("exchange.spill_disk_bytes", "spill_disk_bytes", "bytes"),
    ("exchange.spill_mem_bytes", "spill_mem_bytes", "bytes"),
    ("executor.run_ms", "run_ms", "ms"), ("executor.cpu_ms", "cpu_ms", "ms"),
    ("executor.gc_ms", "gc_ms", "ms"),
]


def layer_metric_units():
    """Every per-layer metric name with its unit, in report order."""
    out = [(m, u) for m, _, u in COUNTERS]
    out += [("executor.busy_frac", "frac"),
            ("catalyst.build_ms", "ms"), ("catalyst.build_jobs", "count"),
            ("catalyst.analysis_ms", "ms"), ("catalyst.optimization_ms", "ms"),
            ("catalyst.planning_ms", "ms"),
            ("mat.rdds", "count"), ("mat.mb", "MiB"),
            ("process.peak_rss_mb", "MiB")]
    for layer, stages in STAGES.items():
        for s in stages:
            out += [(f"{layer}.{s}_ms", "ms"), (f"{layer}.{s}_shuffle_bytes", "bytes")]
    for m in MODULES:
        out += [(f"{m}.ms", "ms"), (f"{m}.shuffle_bytes", "bytes"), (f"{m}.jobs", "count")]
    out += [("trace.overhead_s", "s")]
    return out


def pct(xs, q):
    """Percentile q (0-100) by the Harrell-Davis estimator: a Beta-weighted
    average of all order statistics. With 7-16 samples and gaps between
    neighbouring latencies, the plain sample median jumps from one side of
    a gap to the other between runs of the same code; this does not."""
    xs = np.sort(np.asarray(xs, dtype=float))
    n = len(xs)
    if n == 0:
        return None
    if n == 1:
        return float(xs[0])
    p = q / 100.0
    a, b = p * (n + 1), (1 - p) * (n + 1)
    # order statistic i weighs the Beta(a, b) mass on [(i-1)/n, i/n]
    u = np.linspace(0.0, 1.0, 20001)
    mid = (u[1:] + u[:-1]) / 2
    dens = np.exp((a - 1) * np.log(mid) + (b - 1) * np.log1p(-mid))
    cdf = np.concatenate([[0.0], np.cumsum(dens)])
    cdf /= cdf[-1]
    weights = np.diff(np.interp(np.arange(n + 1) / n, u, cdf))
    return float(np.dot(weights, xs))


def counted(ops):
    return [o for o in ops if o["op"] not in CHECK_OPS]


def pass_sums(ops):
    """{pass: total secs} over passes whose every op succeeded."""
    by = defaultdict(list)
    for o in ops:
        by[o["pass"]].append(o)
    return {p: sum(o["secs"] for o in os_) for p, os_ in by.items()
            if all(o["ok"] for o in os_)}


def e2e(h, ops):
    w = h["workload"]
    ops = counted(ops)
    good = [o for o in ops if o["ok"]]
    # process start to the first operation's verified result: JVM and
    # session start plus the cold first operation
    first_ok = bool(ops) and ops[0]["ok"]
    cold = [h["first_result_s"]] if first_ok else []
    if w == "commissions":
        full = [o for o in good if o["op"] == "gl_full"]
        warm = [o["secs"] for o in full if o["pass"] >= 1]
        steps = [o["secs"] for o in good if o["op"] == "gl_delta"]
    else:
        warm = list(pass_sums(ops).values())
        steps = [o["secs"] for o in good]
    samples = {
        "setup_s": [h["session_s"] + statistics.median(h["setup_samples_s"])],
        "cold_s": cold, "pass_s": warm, "step_p50_s": steps, "step_p75_s": steps,
        "peak_rss_mb": [h["peak_rss_mb"]],
    }
    value = {
        "setup_s": samples["setup_s"][0],
        "cold_s": cold[0] if cold else None,
        "pass_s": statistics.median(warm) if warm else None,
        "step_p50_s": pct(steps, 50), "step_p75_s": pct(steps, 75),
        "peak_rss_mb": h["peak_rss_mb"],
    }
    # the first operation on its own: gl_cold_s, or the first query
    value["first_op_s"] = ops[0]["secs"] if first_ok else None
    return value, {k: len(v) for k, v in samples.items()}


def layers(h, ops):
    """Per-layer metrics, per pass of the workload (commissions: one full
    GL plus one delta week)."""
    spans = {s["id"]: s for s in h.get("spans", [])}
    kids = defaultdict(list)
    for s in spans.values():
        kids[s["parent"]].append(s["id"])

    def subtree(i):
        out = [i]
        for k in kids.get(i, []):
            out += subtree(k)
        return out

    def total(i, counter):
        return sum(spans[j]["own"].get(counter, 0) for j in subtree(i)) if i in spans else 0

    def self_ms(i):
        s = spans[i]
        iv = sorted((spans[k]["start_ns"], spans[k]["end_ns"]) for k in kids.get(i, []))
        covered, cur = 0, s["start_ns"]
        for a, b in iv:
            a, b = max(a, cur), min(b, s["end_ns"])
            if b > a:
                covered += b - a
                cur = b
        return (s["end_ns"] - s["start_ns"] - covered) / 1e6

    w = h["workload"]
    all_ok = [o for o in counted(ops) if o["ok"]]
    ops = [o for o in all_ok if o["op"] != "gl_full_untraced"]
    weight = {}
    if w == "commissions":
        n_full = sum(1 for o in ops if o["op"] == "gl_full") or 1
        n_week = len({o["group"] for o in ops if o["op"] == "gl_delta"}) or 1
        for o in ops:
            weight[id(o)] = 1.0 / (n_full if o["op"] == "gl_full" else n_week)
    else:
        n_pass = len({o["pass"] for o in ops}) or 1
        for o in ops:
            weight[id(o)] = 1.0 / n_pass
    out = {m: 0.0 for m, _ in layer_metric_units()}
    for o in ops:
        wt, sid = weight[id(o)], o["span"]
        for m, c, _ in COUNTERS:
            out[m] += wt * total(sid, c)
        # the builder call's own work: the traced stage spans forced inside
        # it (domain.*, calc.*) are charged to their own metrics
        bs = o["build_span"]
        if bs in spans:
            out["catalyst.build_ms"] += wt * self_ms(bs)
            out["catalyst.build_jobs"] += wt * spans[bs]["own"].get("jobs", 0)
        for ph in ("analysis", "optimization", "planning"):
            out[f"catalyst.{ph}_ms"] += wt * o["phases_ms"].get(ph, 0.0)
        for j in subtree(sid) if sid in spans else []:
            name = spans[j]["name"]
            layer, _, stage = name.partition(".")
            if stage in STAGES.get(layer, ()):
                out[f"{name}_ms"] += wt * self_ms(j)
                out[f"{name}_shuffle_bytes"] += wt * total(j, "shuffle_write_bytes")
        if o.get("layer") in MODULES:
            m = o["layer"]
            out[f"{m}.ms"] += wt * o["secs"] * 1000.0
            out[f"{m}.shuffle_bytes"] += wt * total(sid, "shuffle_write_bytes")
            out[f"{m}.jobs"] += wt * total(sid, "jobs")
    if ops:
        run_ms = sum(total(o["span"], "run_ms") for o in ops)
        wall_ms = sum(o["secs"] for o in ops) * 1000.0
        out["executor.busy_frac"] = run_ms / (wall_ms * h["cores"]) if wall_ms else 0.0
        out["mat.rdds"] = statistics.mean(o["mat_rdds"] for o in ops)
        out["mat.mb"] = statistics.mean(o["mat_mb"] for o in ops)
    out["process.peak_rss_mb"] = h["peak_rss_mb"]
    if w == "commissions":
        traced = [o["secs"] for o in all_ok if o["op"] == "gl_full" and o["pass"] >= 1]
        plain = [o["secs"] for o in all_ok if o["op"] == "gl_full_untraced"]
        if traced and plain:
            out["trace.overhead_s"] = statistics.median(traced) - statistics.median(plain)
    return out


def summarize(h, checked, traced):
    ops = counted(checked)
    attempted, failed = len(ops), sum(1 for o in ops if not o["ok"])
    value, n = e2e(h, checked)
    result = {"workload": h["workload"], "seed": h["seed"], "trace": traced,
              "attempted": attempted, "failed": failed,
              "failed_frac": failed / attempted if attempted else 1.0,
              "e2e": value, "e2e_samples": n, "probes": h["probes"],
              "failures": [{"op": o["op"], "query": o["query"], "pass": o["pass"],
                            "why": o["why"]} for o in ops if not o["ok"]]}
    if traced:
        lay = layers(h, checked)
        result["layers"] = lay
        metrics = {m: {"value": lay[m], "unit": u} for m, u in layer_metric_units()}
    else:
        metrics = {m: {"value": value[m], "unit": u} for m, u in E2E_UNITS.items()}
    correct = failed == 0 and all(v["value"] is not None for v in metrics.values())
    result["contract"] = {"correct": correct, "attempted": attempted,
                          "failed": failed, "metrics": metrics}
    return result


def report_lines(r):
    al = ALIASES[r["workload"]]
    yield (f"# perfbench {r['workload']} seed={r['seed']} trace={int(r['trace'])} "
           f"attempted={r['attempted']} failed={r['failed']} "
           f"failed_frac={r['failed_frac']:.4f}")
    for m, u in E2E_UNITS.items():
        v = r["e2e"][m]
        shown = "n/a" if v is None else f"{v:.4f}"
        yield f"#   {al.get(m, m):<17} ({m:<11}) = {shown} {u}  n={r['e2e_samples'][m]}"
    yield f"#   {'peak_rss_mb':<17} (per-layer)   = {r['e2e']['peak_rss_mb']:.4f} MiB  n=1"
    first = r["e2e"]["first_op_s"]
    name = "gl_cold_s" if r["workload"] == "commissions" else "first_query_s"
    yield f"#   {name:<17} (first op)    = {'n/a' if first is None else f'{first:.4f}'} s  n=1"
    for when in ("before", "after"):
        p = r["probes"][when]
        yield (f"#   probe {when}: single-thread {p['single_thread_ms']:.1f} ms, "
               f"all-core {p['all_core_ms']:.1f} ms")
    for f in r["failures"][:10]:
        yield f"#   FAILED {f['op']} ({f['query']}, pass {f['pass']}): {f['why'][:200]}"
    for m, v in (r.get("layers") or {}).items():
        yield f"#   layer {m} = {v:.4f}"
