"""Turns one run record (written by perfbench.Main) into metrics.

End-to-end metrics apply to every workload through its unit of work: a
stream drain for ingest_*, a pass over the query list for query_mix; an
"op" is a micro-batch or a query. The gated ones (`E2E`) count CPU time,
which the host's CPU steal moves far less than wall time; the wall-time
ones (`E2E_UNGATED`) and the headline metrics of each workload
(rows_per_s, batch_ms_p50, query_mix_s, ...) are reported beside them.
Per-layer metrics come from the traced run and are normalised per unit
of work, so counts repeat exactly from run to run.
"""
import math
import statistics

E2E = [("setup_s", "s"), ("work_cpu_s", "s")]
# measured end to end on every workload but not gated (see README.md)
E2E_UNGATED = [("op_cpu_ms", "ms"), ("setup_wall_s", "s"), ("work_s", "s"),
               ("op_ms_p50", "ms"), ("op_ms_geomean", "ms"),
               ("rss_peak_mb", "MB")]

LAYERS = ["sources", "streaming", "jdbc_upsert", "lake_upsert",
          "checkpoints", "operators"]
SPARK_COUNTERS = [
    ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
    ("sched_delay_ms", "ms"), ("executor_run_ms", "ms"),
    ("executor_cpu_ms", "ms"), ("gc_ms", "ms"),
    ("shuffle_read_bytes", "B"), ("shuffle_write_bytes", "B"),
    ("spill_bytes", "B"), ("input_bytes", "B"), ("failed_tasks", "count")]
SELF_LAYERS = ["sources", "streaming", "jdbc_upsert", "lake_upsert",
               "operators", "spark"]

PER_LAYER = [
    ("sources.parse_rows_per_s", "rows/s", "higher"),
    ("sources.stage_s", "s", "lower"),
    ("streaming.addbatch_ms", "ms", "lower"),
    ("streaming.plan_ms", "ms", "lower"),
    ("streaming.offsets_ms", "ms", "lower"),
    ("streaming.commit_ms", "ms", "lower"),
    ("streaming.batches", "count", "lower"),
    ("streaming.rows_in", "count", "lower"),
    ("streaming.useful_ratio", "ratio", "higher"),
    ("streaming.restart_ms", "ms", "lower"),
    ("jdbc_upsert.write_ms", "ms", "lower"),
    ("jdbc_upsert.write_ms_p50", "ms", "lower"),
    ("jdbc_upsert.rows_inserted", "count", "lower"),
    ("jdbc_upsert.rows_updated", "count", "lower"),
    ("jdbc_upsert.update_miss_ratio", "ratio", "lower"),
    ("jdbc_upsert.tasks", "count", "lower"),
    ("lake_upsert.sink_ms", "ms", "lower"),
    ("lake_upsert.ms_per_mrow", "ms/Mrow", "lower"),
    ("lake_upsert.write_amp", "ratio", "lower"),
    ("lake_upsert.read_bytes", "B", "lower"),
    ("operators.build_ms", "ms", "lower"),
    ("operators.exec_ms", "ms", "lower"),
    ("operators.plan_ms", "ms", "lower"),
    ("checkpoints.pinned_bytes", "B", "lower"),
    ("checkpoints.build_jobs", "count", "lower"),
] + [(f"self_ms.{layer}", "ms", "lower") for layer in SELF_LAYERS] + [
    (f"spark.{c}", unit, "lower") for c, unit in SPARK_COUNTERS] + [
    (f"spark.{g}.{c}", unit, "lower")
    for g in LAYERS for c, unit in SPARK_COUNTERS]
UNITS = dict(E2E + E2E_UNGATED)
UNITS.update((n, u) for n, u, _ in PER_LAYER)


def median(xs):
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else 0.0


def geomean(xs):
    xs = [x for x in xs if x is not None and x > 0]
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


def tail(samples):
    """The highest percentile with at least ten samples beyond it.

    With the samples sorted ascending, x[k] sits at percentile
    100 * k / (n - 1) and has n - 1 - k samples beyond it, so the answer is
    x[n - 11]. Returns (value, percentile); with fewer than 11 samples no
    percentile qualifies and the maximum is returned with percentile None.
    """
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        return 0.0, None
    if n < 11:
        return xs[-1], None
    k = n - 11
    return xs[k], 100.0 * k / (n - 1)


def slope(xs, ys):
    """Least-squares slope of ys against xs (0 when xs do not vary)."""
    if len(xs) < 2:
        return 0.0
    mx, my = statistics.fmean(xs), statistics.fmean(ys)
    sxx = sum((x - mx) ** 2 for x in xs)
    if sxx == 0:
        return 0.0
    return sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / sxx


def self_times(spans):
    """Span id -> self time in microseconds: the span's duration minus the
    part of its interval that its children cover (children clipped to the
    parent, overlapping children counted once)."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_us"], s["end_us"]
        ivs = sorted((max(lo, c["start_us"]), min(hi, c["end_us"]))
                     for c in children.get(s["id"], []))
        covered, cur_lo, cur_hi = 0, None, None
        for a, b in ivs:
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = max(0, hi - lo) - covered
    return out


def layer_of(name):
    if name == "spark.job":
        return "spark"
    head = name.split(".")[0]
    return head if head in SELF_LAYERS else None


def layer_self_ms(spans):
    """Self time per layer over the measured work (spans under a `warmup`
    span are left out), in milliseconds."""
    by_id = {s["id"]: s for s in spans}
    warm = set()

    def under_warmup(s):
        seen = []
        while s is not None:
            if s["id"] in warm or s["name"] == "warmup":
                warm.update(seen)
                return True
            seen.append(s["id"])
            s = by_id.get(s["parent"])
        return False

    st = self_times(spans)
    out = {layer: 0.0 for layer in SELF_LAYERS}
    for s in spans:
        layer = layer_of(s["name"])
        if layer and not under_warmup(s):
            out[layer] += st[s["id"]] / 1000.0
    return out


def spark_layer_metrics(groups, units):
    out = {}
    for c, _ in SPARK_COUNTERS:
        total = 0
        for g in LAYERS:
            v = groups.get(g, {}).get(c, 0)
            total += v
            out[f"spark.{g}.{c}"] = v / units
        out[f"spark.{c}"] = total / units
    return out


def _ingest(rec, spans):
    drains = rec["drains"]
    params = rec["params"]
    units = len(drains)
    lake = rec["workload"] == "ingest_lake"
    attempted, failed, failures = 0, 0, []
    for d in drains:
        n = len(d["progress"])
        attempted += n
        if d["error"]:
            attempted += 1
            failed += 1
            failures.append(f"{d['tag']}: {d['error']}")
            continue
        bad = [c for c in d["checks"] if not c["ok"]]
        if not d["checks"]:
            bad = [{"check": "checks did not run", "detail": ""}]
        if bad:
            failed += n
            failures += [f"{d['tag']}: {c['check']} ({c['detail']})"
                         for c in bad]
    batches = [p for d in drains for p in d["progress"]]
    batch_ms = [p["trigger_ms"] for p in batches]
    walls = [d["wall_s"] for d in drains]
    distinct = params["distinct_rows"]
    setup_wall = rec["warmup_s"] + median(d["setup_s"] for d in drains)
    setup = rec["warmup_cpu_s"] + median(d["setup_cpu_s"] for d in drains)
    tail_v, tail_p = tail(batch_ms)
    e2e = {"setup_s": setup, "setup_wall_s": setup_wall,
           "work_s": median(walls),
           "work_cpu_s": median(d["cpu_s"] for d in drains),
           "op_cpu_ms": median(1000.0 * d["cpu_s"] /
                               max(1, len(d["progress"])) for d in drains),
           "op_ms_p50": median(batch_ms), "op_ms_geomean": geomean(batch_ms),
           "rss_peak_mb": rec["rss_peak_mb"]}
    named = {
        "setup_s": (setup, "s (CPU)"),
        "setup_wall_s": (setup_wall, "s"),
        "rows_per_s": (median([distinct / w for w in walls]), "rows/s"),
        "batch_ms_p50": (e2e["op_ms_p50"], "ms"),
        f"batch_ms_tail[{pct_label(tail_p)},n={len(batch_ms)}]":
            (tail_v, "ms"),
        "rss_peak_mb": (rec["rss_peak_mb"], "MB"),
        "ops_failed_ratio": (failed / max(1, attempted), "failed/attempted"),
    }
    if lake:
        named["stored_bytes_per_row"] = (median(
            [d["stored_bytes"] / d["landed_rows"] for d in drains
             if d["stored_bytes"]]), "B")

    layer = dict.fromkeys((n for n, _, _ in PER_LAYER), 0.0)
    if rec["trace"]:
        calls = [c for d in drains for c in d["calls"]]
        counters = rec.get("span_counters", {})
        rows_in = [sum(p["rows_in"] for p in d["progress"]) for d in drains]
        layer.update({
            "sources.parse_rows_per_s": params["delivered_rows"] / median(
                [d["parse_s"] for d in drains]),
            "sources.stage_s": median([d["stage_s"] for d in drains]),
            "streaming.addbatch_ms": median(p["addbatch_ms"] for p in batches),
            "streaming.plan_ms": median(p["plan_ms"] for p in batches),
            "streaming.offsets_ms": median(p["offsets_ms"] for p in batches),
            "streaming.commit_ms": median(p["commit_ms"] for p in batches),
            "streaming.batches": median(len(d["progress"]) for d in drains),
            "streaming.rows_in": median(rows_in),
            "streaming.useful_ratio": median(distinct / r for r in rows_in),
            "streaming.restart_ms": median(d["restart_ms"] for d in drains),
        })
        if lake:
            cs = [counters.get(str(c["span"]), {}) for c in calls]
            layer.update({
                "lake_upsert.sink_ms": median(c["ms"] for c in calls),
                "lake_upsert.ms_per_mrow": slope(
                    [c["table_rows_before"] / 1e6 for c in rec["lake_probe"]],
                    [c["ms"] for c in rec["lake_probe"]]),
                "lake_upsert.write_amp":
                    sum(c.get("output_bytes", 0) for c in cs) /
                    max(1, sum(c["file_bytes"] for c in calls)),
                "lake_upsert.read_bytes":
                    median(c.get("input_bytes", 0) for c in cs),
            })
        else:
            per_drain = [(sum(c["ms"] for c in d["calls"]),
                          sum(c["inserted"] for c in d["calls"]),
                          sum(c["rows"] for c in d["calls"]))
                         for d in drains]
            layer.update({
                "jdbc_upsert.write_ms": median(p[0] for p in per_drain),
                "jdbc_upsert.write_ms_p50": median(c["ms"] for c in calls),
                "jdbc_upsert.rows_inserted": median(p[1] for p in per_drain),
                "jdbc_upsert.rows_updated":
                    median(p[2] - p[1] for p in per_drain),
                "jdbc_upsert.update_miss_ratio":
                    median(p[1] / max(1, p[2]) for p in per_drain),
                "jdbc_upsert.tasks":
                    rec["spark_groups"].get("jdbc_upsert", {}).get("tasks", 0)
                    / units,
            })
        layer.update(spark_layer_metrics(rec["spark_groups"], units))
        layer.update({f"self_ms.{k}": v / units
                      for k, v in layer_self_ms(spans).items()})
    return named, e2e, layer, attempted, failed, failures


def _query_mix(rec, spans):
    passes = rec["passes"]
    units = len(passes)
    attempted, failed, failures = 0, 0, []
    for p in passes:
        for q in p:
            attempted += 1
            if q["error"]:
                failed += 1
                failures.append(f"{q['query']}: {q['error']}")
    bad = dict(rec.get("oracle", {}).get("failed", {}))
    bad.update(rec.get("warmup_errors", {}))
    for q, why in sorted(bad.items()):
        failures.append(f"{q}: {why}")
        failed += sum(1 for p in passes for x in p
                      if x["query"] == q and not x["error"])
    walls = [sum(q["wall_ms"] for q in p) / 1000.0 for p in passes]
    op_ms = [q["wall_ms"] for p in passes for q in p]
    geos = [geomean([q["wall_ms"] for q in p]) for p in passes]
    # the fixture is the harness's input, written before the JVM starts:
    # set-up is the JVM's own table resolution and warm-up pass
    setup_wall = rec["resolve_s"] + rec["warmup_s"]
    setup = rec["resolve_cpu_s"] + rec["warmup_cpu_s"]
    tail_v, tail_p = tail(op_ms)
    e2e = {"setup_s": setup, "setup_wall_s": setup_wall,
           "work_s": median(walls),
           "work_cpu_s": median(sum(q["cpu_ms"] for q in p) / 1000.0
                                for p in passes),
           "op_cpu_ms": median(q["cpu_ms"] for p in passes for q in p),
           "op_ms_p50": median(op_ms), "op_ms_geomean": median(geos),
           "rss_peak_mb": rec["rss_peak_mb"]}
    named = {
        "setup_s": (setup, "s (CPU)"),
        "setup_wall_s": (setup_wall, "s"),
        "query_mix_s": (e2e["work_s"], "s"),
        "query_geomean_s": (e2e["op_ms_geomean"] / 1000.0, "s"),
        f"query_ms_tail[{pct_label(tail_p)},n={len(op_ms)}]": (tail_v, "ms"),
        "fixture_s": (rec["fixture_s"], "s"),
        "rss_peak_mb": (rec["rss_peak_mb"], "MB"),
        "ops_failed_ratio": (failed / max(1, attempted), "failed/attempted"),
    }
    layer = dict.fromkeys((n for n, _, _ in PER_LAYER), 0.0)
    if rec["trace"]:
        def per_pass(key):
            return median(sum(q.get(key, 0) or 0 for q in p) for p in passes)
        layer.update({
            "operators.build_ms": per_pass("build_ms"),
            "operators.exec_ms": per_pass("exec_ms"),
            "operators.plan_ms": per_pass("plan_ms"),
            "checkpoints.pinned_bytes": per_pass("pinned_bytes"),
            "checkpoints.build_jobs": per_pass("build_jobs"),
        })
        layer.update(spark_layer_metrics(rec["spark_groups"], units))
        layer.update({f"self_ms.{k}": v / units
                      for k, v in layer_self_ms(spans).items()})
    return named, e2e, layer, attempted, failed, failures


def pct_label(p):
    return "max" if p is None else f"p{p:.0f}"


def evaluate(rec, spans):
    if rec["workload"].startswith("ingest"):
        parts = _ingest(rec, spans)
    else:
        parts = _query_mix(rec, spans)
    named, e2e, layer, attempted, failed, failures = parts
    chosen = layer if rec["trace"] else {n: e2e[n] for n, _ in E2E}
    return {
        "record": rec, "named": named, "e2e": e2e, "layer": layer,
        "metrics": {k: {"value": v, "unit": UNITS[k]}
                    for k, v in chosen.items()},
        "attempted": max(1, attempted), "failed": failed,
        "failures": failures, "correct": failed == 0 and not failures,
    }


def tracing_overhead(traced, untraced_results):
    """Traced end-to-end values against the median of the untraced runs of
    the same workload (ratio > 1 means the traced run read worse)."""
    if not untraced_results:
        return {"note": "no untraced run of this workload in results/"}
    out = {"untraced_runs": len(untraced_results)}
    for name, _ in E2E + E2E_UNGATED:
        base = median(r["e2e"][name] for r in untraced_results)
        out[name] = traced["e2e"][name] / base if base else None
    return out


def fmt(v):
    return f"{v:.6g}" if isinstance(v, float) else str(v)
