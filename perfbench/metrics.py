"""Output checks and metric derivation for the benchmark.

`run.py` hands the JVM's raw record (every operation of every pass,
plus spans when traced) to `check` and `summarize`. Metric names and
units are declared here once; BENCHMARK.json lists the same ones.
"""
import hashlib
import statistics

# end-to-end metrics, reported with tracing off
E2E = [
    ("setup_s", "s"),
    ("pass_s", "s"),
    ("query_p50_s", "s"),
    ("query_p90_s", "s"),
    ("rows_per_s", "1/s"),
]

# per-layer metrics, reported by the traced run
PER_LAYER = [
    ("queries.build_s", "s"),
    ("queries.build_jobs", "count"),
    ("ops.checkpoint_blocks", "count"),
    ("ops.checkpoint_mb", "MB"),
    ("ops.retained_mb", "MB"),
    ("plans.analysis_ms", "ms"),
    ("plans.optimize_ms", "ms"),
    ("plans.planning_ms", "ms"),
    ("plans.exchanges", "count"),
    ("spark.jobs", "count"),
    ("spark.stages", "count"),
    ("spark.tasks", "count"),
    ("spark.tasks_per_job", "count"),
    ("spark.task_run_s", "s"),
    ("spark.task_cpu_s", "s"),
    ("spark.gc_s", "s"),
    ("spark.slot_busy_frac", "frac"),
    ("spark.sched_wait_s", "s"),
    ("spark.shuffle_read_mb", "MB"),
    ("spark.shuffle_write_mb", "MB"),
    ("spark.shuffle_fetch_wait_s", "s"),
    ("spark.spill_disk_mb", "MB"),
    ("spark.spill_mem_mb", "MB"),
    ("spark.failed_tasks", "count"),
    ("spark.retained_storage_mb", "MB"),
    ("tables.input_mb", "MB"),
    ("tables.input_rows", "count"),
    ("tables.rows_in_per_row_out", "ratio"),
    ("sources.fetches", "count"),
    ("pipeline.ingest_s", "s"),
    ("pipeline.report_s", "s"),
    ("pipeline.written_mb", "MB"),
    ("pipeline.files_written", "count"),
    ("pipeline.stored_bytes_per_row", "B"),
    ("bench.self_s", "s"),
    ("queries.self_s", "s"),
    ("plans.self_s", "s"),
    ("pipeline.self_s", "s"),
    ("spark.self_s", "s"),
    ("trace.overhead_frac", "frac"),
]

CORES = 4

# which layer a span's self time belongs to
LAYER_OF = {
    "query": "bench",
    "queries.build": "queries",
    "write": "plans",
    "pipeline.ingest": "pipeline",
    "pipeline.report": "pipeline",
    "spark.job": "spark",
    "spark.stage": "spark",
}


def output_hash(op):
    """Order-independent hash of an operation's output rows, as the
    timed write observed them."""
    key = f"{op.get('rows')}:{op.get('hsum')}:{op.get('hxor')}"
    return hashlib.sha256(key.encode()).hexdigest()[:16]


def check(raw, cfg, oracle, expected):
    """Return one failure record per failed check. Every operation is
    checked: it must not throw; a query's output must hash the same in
    every pass (and be non-empty where the workload demands it); the
    oracle must pass each sql_mix query; the pipeline must land every
    row and write its report only above the threshold."""
    failures = []

    def bad(op, reason):
        failures.append({"pass": op["pass"], "name": op["name"], "reason": reason})

    ops = raw["ops"]
    for op in ops:
        if not op.get("ok"):
            bad(op, op.get("error", "failed"))
    if cfg["mode"] == "queries":
        by_name = {}
        for op in ops:
            by_name.setdefault(op["name"], []).append(op)
        for name, runs in by_name.items():
            warm = runs[0]
            ref = expected.get(name, output_hash(warm))
            for op in runs:
                if not op.get("ok"):
                    continue
                if cfg.get("non_empty") and not op.get("rows"):
                    bad(op, "empty output")
                if output_hash(op) != ref:
                    bad(op, f"output hash {output_hash(op)} != expected {ref}")
            if oracle is not None and oracle.get(warm["key"]) is not True:
                verdict = "no verdict" if warm["key"] not in oracle else "mismatch"
                bad(warm, f"oracle {verdict}")
    else:
        for op in ops:
            if not op.get("ok"):
                continue
            if op["name"] == "ingest":
                if not op.get("rows") or op["rows"] != op["expected_rows"]:
                    bad(op, f"landed {op.get('rows')} rows, expected {op['expected_rows']}")
            elif op.get("written") != op["expect_written"] or \
                    op.get("artifact") != op["expect_written"]:
                bad(op, f"report written={op.get('written')} artifact={op.get('artifact')}"
                        f", expected {op['expect_written']}")
    return failures


def percentile(values, q):
    s = sorted(values)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def tail_quantile(n):
    """p90 when at least 10 samples lie beyond it; otherwise the highest
    percentile that has 10 beyond it (never below the median)."""
    return max(0.5, min(0.9, 1.0 - 10.0 / n)) if n else 0.5


def self_times(spans):
    """Seconds of self time per layer. At every instant the deepest open
    span of an operation owns the time, so the layers partition the
    operation's wall time exactly."""
    by_id = {s["id"]: s for s in spans}
    depth = {}

    def d(s):
        if s["id"] not in depth:
            p = by_id.get(s["parent"])
            depth[s["id"]] = 0 if p is None or p is s else d(p) + 1
        return depth[s["id"]]

    totals = {layer: 0.0 for layer in set(LAYER_OF.values())}
    traces = {}
    for s in spans:
        traces.setdefault(s["trace"], []).append(s)
    for trace, members in traces.items():
        root = by_id.get(trace)
        if root is None:
            continue
        lo, hi = root["start"], root["end"]
        cuts = sorted({min(max(t, lo), hi) for s in members for t in (s["start"], s["end"])})
        for a, b in zip(cuts, cuts[1:]):
            live = [s for s in members if s["start"] <= a and s["end"] >= b]
            if live:
                owner = max(live, key=d)
                totals[LAYER_OF.get(owner["name"], "bench")] += (b - a) / 1e3
    return totals


def fingerprint(ops):
    joined = ",".join(str(op.get("fingerprint")) for op in ops)
    return int(hashlib.sha256(joined.encode()).hexdigest()[:12], 16)


def layer_metrics(all_passes, ops, spans):
    """Per-layer metrics of one traced pass each, then the median over
    traced passes."""
    per_pass = []
    by_index = {p["pass"]: p for p in all_passes}
    for p in (p for p in all_passes if p["traced"]):
        around = [by_index[i]["wall_s"] for i in (p["pass"] - 1, p["pass"] + 1) if i in by_index]
        mine = [op for op in ops if op["pass"] == p["pass"]]
        c = p["counters"]
        rows_out = sum(op.get("rows") or 0 for op in mine)
        ingest = [op for op in mine if op["name"] == "ingest"]
        reports = [op for op in mine if op["name"].startswith("report")]
        landed = sum(op.get("rows") or 0 for op in ingest)
        snap_bytes = sum(op.get("bytes", 0) for op in ingest)
        m = {
            "queries.build_s": sum(op.get("build_s", 0.0) for op in mine),
            "queries.build_jobs": sum(op.get("build_jobs", 0) for op in mine),
            "ops.checkpoint_blocks": c.get("ops.checkpoint_blocks", 0.0),
            "ops.checkpoint_mb": c.get("ops.checkpoint_mb", 0.0),
            "ops.retained_mb": p["ops_retained_mb"],
            "plans.analysis_ms": sum(op.get("analysis_ms", 0) for op in mine),
            "plans.optimize_ms": sum(op.get("optimize_ms", 0) for op in mine),
            "plans.planning_ms": sum(op.get("planning_ms", 0) for op in mine),
            "plans.exchanges": sum(op.get("exchanges", 0) for op in mine),
            "plans.fingerprint": fingerprint(mine),
            "spark.slot_busy_frac": c.get("spark.task_wall_s", 0.0) / (CORES * p["wall_s"]),
            "spark.retained_storage_mb": p["retained_storage_mb"],
            "tables.rows_in_per_row_out":
                c.get("tables.input_rows", 0.0) / rows_out if rows_out else 0.0,
            "sources.fetches": p["fetches"],
            "pipeline.ingest_s": sum(op.get("step_s", 0.0) for op in ingest),
            "pipeline.report_s": sum(op.get("step_s", 0.0) for op in reports),
            "pipeline.written_mb":
                (snap_bytes + sum(op.get("artifact_bytes", 0) for op in reports)) / 1e6,
            "pipeline.files_written":
                sum(op.get("files", 0) for op in ingest) + sum(bool(op.get("artifact"))
                                                             for op in reports),
            "pipeline.stored_bytes_per_row": snap_bytes / landed if landed else 0.0,
            "trace.overhead_frac": p["wall_s"] / statistics.mean(around) - 1.0,
        }
        for k in ("spark.jobs", "spark.stages", "spark.tasks", "spark.task_run_s",
                  "spark.task_cpu_s", "spark.gc_s", "spark.sched_wait_s",
                  "spark.shuffle_read_mb", "spark.shuffle_write_mb",
                  "spark.shuffle_fetch_wait_s", "spark.spill_disk_mb", "spark.spill_mem_mb",
                  "spark.failed_tasks", "tables.input_mb", "tables.input_rows"):
            m[k] = c.get(k, 0.0)
        m["spark.tasks_per_job"] = m["spark.tasks"] / m["spark.jobs"] if m["spark.jobs"] else 0.0
        per_pass.append(m)
    out = {k: statistics.median(m[k] for m in per_pass) for k in per_pass[0]}
    fps = {m["plans.fingerprint"] for m in per_pass}
    out["plans.fingerprint"] = per_pass[0]["plans.fingerprint"]
    for layer, secs in self_times(spans).items():
        out[f"{layer}.self_s"] = secs / len(per_pass)
    return out, len(fps) == 1


def counted(untraced, target):
    """The `target` passes with the least steal time, in run order. The
    JVM runs more than `target` untraced passes only when the hypervisor
    took CPU time from some of them."""
    keep = sorted(untraced, key=lambda p: p.get("steal_frac", 0.0))[:target]
    return sorted(keep, key=lambda p: p["pass"])


def summarize(raw, failures, trace):
    passes = raw["passes"]
    untraced = [p for p in passes if not p["traced"]]
    run = len(untraced)
    if not trace:
        untraced = counted(untraced, raw["target_passes"])
    traced = [p for p in passes if p["traced"]]
    untraced_ids = {p["pass"] for p in untraced}
    plain_ops = [op for op in raw["ops"] if op["pass"] in untraced_ids]
    samples = [op["wall_s"] for op in plain_ops]
    q = tail_quantile(len(samples))
    pass_s = statistics.median(p["wall_s"] for p in untraced)
    rows = {p["pass"]: 0 for p in untraced}
    for op in plain_ops:
        rows[op["pass"]] += op.get("rows") or 0
    e2e = {
        "setup_s": raw["setup_s"],
        "pass_s": pass_s,
        "query_p50_s": statistics.median(samples),
        "query_p90_s": percentile(samples, q),
        "rows_per_s": statistics.median(rows[p["pass"]] / p["wall_s"] for p in untraced),
    }
    report = {
        "attempted": len(raw["ops"]),
        "failed": len({(f["pass"], f["name"]) for f in failures}),
        "failures": failures,
        "end_to_end": e2e,
        "query_samples": len(samples),
        "query_tail_percentile": round(q * 100, 2),
        "passes_untraced": len(untraced),
        "passes_untraced_run": run,
        "pass_steal_frac": {p["pass"]: p.get("steal_frac") for p in passes},
        "passes_traced": len(traced),
        "session_s": raw["session_s"],
        "warmup_passes_s": raw["warmup_passes_s"],
        "queries": per_query(raw["ops"]),
    }
    report["failed_frac"] = report["failed"] / report["attempted"]
    units = dict(E2E)
    if trace:
        layers, stable = layer_metrics(passes, raw["ops"], raw.get("spans", []))
        report["per_layer"] = layers
        report["plans_fingerprint_stable"] = stable
        report["per_query_fingerprint"] = {op["name"]: op.get("fingerprint")
                                           for op in raw["ops"] if "fingerprint" in op}
        units = dict(PER_LAYER)
        values = layers
    else:
        values = e2e
    report["metrics"] = {k: {"value": values[k], "unit": units[k]} for k in units}
    return report


def per_query(ops):
    table = {}
    for op in ops:
        if op["pass"] < 0:
            continue
        t = table.setdefault(op["name"], {"wall_s": [], "rows": op.get("rows")})
        t["wall_s"].append(op["wall_s"])
    for t in table.values():
        t["median_s"] = statistics.median(t["wall_s"])
    return table


def print_human(report):
    print(f"workload {report['workload']} seed {report['seed']} trace {report['trace']}: "
          f"{report['attempted']} operations, {report['failed']} failed "
          f"(failed_frac {report['failed_frac']:.4f})")
    print(f"host {report['host']}")
    print(f"inputs generated in {report['gen_s']:.2f} s (cached: {report['inputs_cached']}); "
          f"warmup passes {', '.join(f'{w:.2f}' for w in report['warmup_passes_s'])} s; "
          f"{report['passes_untraced']} untraced (of {report['passes_untraced_run']} run) + "
          f"{report['passes_traced']} traced passes counted")
    steal = report["jvm"]["steal_frac"]
    print(f"JVM {report['jvm']['wall_s']:.1f} s, CPU stolen by the hypervisor "
          f"{'unknown' if steal is None else f'{steal:.2%}'}; per pass " +
          " ".join(f"{v:.2%}" for v in report["pass_steal_frac"].values()))
    print(f"query samples {report['query_samples']}, query_p90_s is "
          f"p{report['query_tail_percentile']}")
    if "per_layer" in report:
        print(f"plans.fingerprint {report['per_layer']['plans.fingerprint']} "
              f"(same in every traced pass: {report['plans_fingerprint_stable']})")
    for name, m in report["metrics"].items():
        print(f"  {name} = {m['value']:.6g} {m['unit']}")
    for f in report["failures"][:20]:
        print(f"  FAILED pass {f['pass']} {f['name']}: {f['reason']}")
