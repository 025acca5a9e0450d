#!/usr/bin/env python3
"""Compare two sets of benchmark results, workload by workload.

  python3 perfbench/compare.py <before> <after>

Each side is a result file or a directory of them
(perfbench/work/results/*.json, as run.py writes them). For every
workload present on both sides the comparer prints:

  1. structure, from traced results of the seeds both sides traced: the
     plan fingerprint of every query, Spark jobs, exchanges and shuffle
     MB per pass (the median over each side's traced results). These repeat exactly (shuffle
     to within 1%) when the code path is the same; a side whose traced
     results disagree among themselves is reported as unstable.
  2. end-to-end metrics, from untraced results: the median of each
     side, the change, and the verdict against the metric's bound in
     BENCHMARK.json (worse / better / within bound).

An end-to-end metric (all of them derive from wall time) that moved by
more than a third of its bound while every structural counter stayed
the same and task CPU seconds moved by less than a third of that bound
is annotated as probable host drift. The annotation is a hint for the
reader only: exit status is 1 when any metric got worse beyond its
bound, drift or not, else 0.
"""
import json
import statistics
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
STRUCTURAL = ["plans.fingerprint", "spark.jobs", "spark.shuffle_read_mb",
              "spark.shuffle_write_mb", "plans.exchanges"]
CPU = "spark.task_cpu_s"


def load(path):
    p = Path(path)
    files = sorted(p.glob("*.json")) if p.is_dir() else [p]
    out = {}
    for f in files:
        r = json.loads(f.read_text())
        if "workload" in r and not r.get("tiny"):
            out.setdefault(r["workload"], []).append(r)
    return out


def structure(reports):
    """Structural counters and task CPU seconds: the median over the
    traced results, plus whether those results agree among themselves."""
    traced = [r for r in reports if r.get("per_layer")]
    if not traced:
        return None
    s = {k: statistics.median(r["per_layer"][k] for r in traced)
         for k in STRUCTURAL + [CPU] if k != "plans.fingerprint"}
    s["plans.fingerprint"] = traced[0]["per_layer"]["plans.fingerprint"]
    s["queries"] = traced[0].get("per_query_fingerprint", {})
    s["stable"] = all(same(r["per_layer"][k], s[k], k) for r in traced for k in STRUCTURAL) \
        and all(r.get("per_query_fingerprint", {}) == s["queries"] for r in traced)
    s["runs"] = len(traced)
    return s


def same(a, b, key):
    if key.endswith("_mb"):
        return abs(a - b) <= 0.01 * max(abs(a), abs(b), 1e-9)
    return a == b


def e2e_medians(reports):
    plain = [r for r in reports if r["trace"] == 0]
    if not plain:
        return {}, 0
    keys = plain[0]["end_to_end"].keys()
    return {k: statistics.median(r["end_to_end"][k] for r in plain) for k in keys}, len(plain)


def compare_workload(name, before, after, spec):
    print(f"== {name}")
    # plans depend on the inputs (statistics, the etl category list), so
    # structure is compared on the seeds both sides traced, when any
    seeds = {r["seed"] for r in before if r.get("per_layer")} & \
        {r["seed"] for r in after if r.get("per_layer")}
    if seeds:
        sa = structure([r for r in before if r["seed"] in seeds])
        sb = structure([r for r in after if r["seed"] in seeds])
    else:
        print("  note: no seed traced on both sides; plans may differ with the inputs")
        sa, sb = structure(before), structure(after)
    structure_same, cpu_change = None, float("inf")
    if sa and sb:
        for side, st in (("before", sa), ("after", sb)):
            if not st["stable"]:
                print(f"  UNSTABLE structure {side}: its {st['runs']} traced results disagree")
        structure_same = sa["stable"] and sb["stable"]
        for k in STRUCTURAL:
            ok = same(sa[k], sb[k], k)
            structure_same &= ok
            print(f"  {'same   ' if ok else 'CHANGED'} {k}: {sa[k]} -> {sb[k]}")
        for q in sorted(set(sa["queries"]) | set(sb["queries"])):
            fa, fb = sa["queries"].get(q), sb["queries"].get(q)
            if fa != fb:
                structure_same = False
                print(f"  CHANGED plan of {q}: {fa} -> {fb}")
        cpu_change = (sb[CPU] - sa[CPU]) / sa[CPU] if sa[CPU] else float("inf")
        print(f"  {CPU}: {sa[CPU]:.4g} -> {sb[CPU]:.4g} ({cpu_change:+.1%})")
    else:
        print("  structure: no traced result on one side")
    ma, mb = e2e_medians(before), e2e_medians(after)
    worse_found = False
    metrics = {m["name"]: m for m in spec["end_to_end"]}
    for k, m in metrics.items():
        if k not in ma[0] or k not in mb[0]:
            continue
        a, b = ma[0][k], mb[0][k]
        change = (b - a) / a if a else float("inf")
        worse = change > m["bound"] if m["better"] == "lower" else -change > m["bound"]
        better = -change > m["bound"] if m["better"] == "lower" else change > m["bound"]
        verdict = "worse" if worse else "better" if better else "within bound"
        if abs(change) > m["bound"] / 3 and structure_same and \
                abs(cpu_change) < m["bound"] / 3:
            verdict += " (probable host drift: structure and task CPU are the same)"
        worse_found |= worse
        print(f"  {k}: {a:.4g} -> {b:.4g} {m['unit']} ({change:+.1%}, bound "
              f"{m['bound']:.0%}, runs {ma[1]}/{mb[1]}): {verdict}")
    return worse_found


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    spec = json.loads((BENCH.parent / "BENCHMARK.json").read_text())
    before, after = load(sys.argv[1]), load(sys.argv[2])
    worse = False
    for name in sorted(set(before) & set(after)):
        worse |= compare_workload(name, before[name], after[name], spec)
    for name in sorted(set(before) ^ set(after)):
        print(f"== {name}: results on one side only")
    sys.exit(1 if worse else 0)


if __name__ == "__main__":
    main()
