#!/usr/bin/env python3
"""graft benchmark: one command for seeded workloads.

  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The command builds the harness and
graft's sources with sbt (perfbench/build.sbt), generates the seeded
inputs (perfbench/gen.py, cached by seed), and starts one JVM: a single
closed-loop client on local[4] that builds the session the way graft
declares it, runs three untimed warmup passes and then timed passes for
--seconds. It then checks every output and prints, as the last line of
standard output, one JSON object with the keys correct, attempted,
failed and metrics: the end-to-end metrics with --trace 0, the
per-layer metrics with --trace 1. Everything else it measured (host
stamp, per-query table, checks, spans) goes to
perfbench/work/results/<workload>-seed<n>-trace<t>.json.

The exit code is 0 only when every output check passed.

Workloads (see WORKLOADS below and BENCHMARK.json for why each exists):
  graph_fixpoint  iterative graph operators; eager checkpoint loops and
                  jobs per round dominate
  etl_snapshot    the paper's pipeline: graft-api scan, Ingest.run,
                  Report.highVolumeSales, Report.writeReport
  sql_mix         oracle-checked relational, scalar, window, aggregate and
                  join queries; per-query fixed cost dominates. Not in
                  BENCHMARK.json: with a third workload the full schedule
                  of runs would not fit its time budget (README.md).

Options beyond the four above:
  --tiny                  tiny inputs and short query lists (smoke tests)
  --expect-hash Q=H       demand output hash H for query Q (tests the check)

Inputs are derived from the fixture tables in $GRAFT_BENCH_FIXTURE
(default ~/testdata/sf0.01). Spark's jars are read from $SPARK_HOME/jars;
without SPARK_HOME, from the installation that holds spark-submit on PATH.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import gen  # noqa: E402
import metrics as M  # noqa: E402

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORK = BENCH / "work"
CLASSES = BENCH / "target" / "scala-2.13" / "classes"


def find_spark_home():
    """$SPARK_HOME, else the first installation on PATH with a jars dir."""
    if os.environ.get("SPARK_HOME"):
        return Path(os.environ["SPARK_HOME"])
    for d in os.environ.get("PATH", "").split(os.pathsep):
        if (Path(d) / "spark-submit").exists() and (Path(d).parent / "jars").is_dir():
            return Path(d).parent
    return Path("spark")


SPARK_HOME = find_spark_home()
SPARK_JARS = SPARK_HOME / "jars"
FIXTURE = os.environ.get("GRAFT_BENCH_FIXTURE", str(Path.home() / "testdata" / "sf0.01"))
RUN_TIMEOUT_S = 170
MAX_STEAL = 0.01   # share of CPU time the hypervisor may take from a timed pass
EXTRA_PASSES = 2   # passes run at most in place of those above MAX_STEAL

WORKLOADS = {
    "sql_mix": {
        "mode": "queries", "inputs": "tables", "oracle": True, "non_empty": False,
        "nominal_pass_s": 3.5, "min_passes": 3,
        "queries": ["q01", "q07", "q41", "q30", "q34", "q95", "q287", "q20",
                    "q10", "q336"],
    },
    "graph_fixpoint": {
        "mode": "queries", "inputs": "tables", "oracle": False, "non_empty": True,
        "nominal_pass_s": 4.5,
        "queries": ["q347", "q373"],
    },
    "etl_snapshot": {
        "mode": "etl", "inputs": "etl", "pages": 20000, "tiny_pages": 50,
        "nominal_pass_s": 4.0,
        "threshold": 9.5e6, "tiny_threshold": 5e6,
    },
}
TINY_QUERIES = 3
WARMUP_PASSES = 3

JVM_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(code, msg):
    log(msg)
    sys.exit(code)


def source_files():
    files = sorted(f for f in (ROOT / "src" / "main").rglob("*") if f.is_file())
    files += sorted((BENCH / "src").rglob("*.scala"))
    files += [BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    return files


def tree_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def build(stamp):
    """Compile graft and the harness unless this source tree already is."""
    stamp_file = WORK / "build.stamp"
    if CLASSES.is_dir() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return 0.0
    t0 = time.perf_counter()
    env = dict(os.environ)
    env["SPARK_HOME"] = str(SPARK_HOME)
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") +
                       " -Dsbt.override.build.repos=true"
                       " -Dsbt.repository.config=" +
                       str(Path.home() / ".sbt" / "repositories") +
                       " -Dsbt.offline=true -Xmx2g").strip()
    (WORK / "logs").mkdir(parents=True, exist_ok=True)
    with open(WORK / "logs" / "build.log", "w") as out:
        rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "Compile/copyResources"],
                       cwd=BENCH, env=env, stdout=out, timeout=840)
    if rc != 0:
        fail(3, f"build failed (exit {rc}); see {WORK / 'logs' / 'build.log'}")
    stamp_file.write_text(stamp)
    return time.perf_counter() - t0


def run_child(cmd, timeout, **kw):
    """Run a child in its own process group; kill the group on timeout
    and wait for it, so nothing outlives the benchmark."""
    p = subprocess.Popen(cmd, start_new_session=True, stderr=subprocess.STDOUT, **kw)
    try:
        return p.wait(timeout=timeout)
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def cpu_jiffies():
    """(steal, total) CPU time of this host so far, in jiffies, from
    /proc/stat; None where the kernel reports no steal time."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return None
    return (fields[7], sum(fields)) if len(fields) == 8 else None


def host_stamp(load_at_launch):
    commit = None
    if (ROOT / ".git").exists():
        try:
            commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                                    capture_output=True, timeout=10).stdout.strip() or None
        except (OSError, subprocess.SubprocessError):
            commit = None
    return {"nproc": len(os.sched_getaffinity(0)), "load_1m_at_launch": load_at_launch,
            "git_commit": commit, "source_tree": tree_hash()}


def passes(cfg, seconds):
    """Timed passes for a run of about `seconds` of timed work: a fixed
    count for given --seconds, so every run follows the same schedule
    (JIT warm-up keeps shortening passes, and a varying count would
    move the median). sql_mix runs at least three, so that its query
    tail rests on more than 20 samples."""
    return max(cfg.get("min_passes", 1), round(seconds / cfg["nominal_pass_s"]))


def launch_jvm(cfg, args, inputs, run_dir, out_file):
    oracle_out = run_dir / "oracle_out"
    cmd = ["java", "-Xmx3g",
           f"-Djava.io.tmpdir={run_dir / 'tmp'}",
           f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{CLASSES}:{SPARK_JARS}/*", "perfbench.Main",
            "--mode", cfg["mode"], "--inputs", str(inputs), "--work", str(run_dir),
            "--out", str(out_file), "--warmup", str(WARMUP_PASSES),
            "--passes", str(passes(cfg, args.seconds)), "--max-steal", repr(MAX_STEAL),
            "--extra-passes", str(EXTRA_PASSES),
            "--trace", str(args.trace)]
    if cfg["mode"] == "queries":
        qs = cfg["queries"][:TINY_QUERIES] if args.tiny else cfg["queries"]
        cmd += ["--queries", ",".join(qs)]
        if cfg["oracle"]:
            cmd += ["--oracle-out", str(oracle_out)]
    else:
        cmd += ["--etl-pages", str(cfg["tiny_pages"] if args.tiny else cfg["pages"]),
                "--etl-threshold", str(cfg["tiny_threshold"] if args.tiny else cfg["threshold"])]
    cmd += ["--launch-ms", repr(time.time() * 1000.0)]
    with open(run_dir / "jvm.log", "w") as out:
        rc = run_child(cmd, cwd=ROOT, stdout=out,
                       timeout=max(30, RUN_TIMEOUT_S - (time.time() - args.t_start)))
    return rc, oracle_out


def oracle_check(inputs, oracle_out):
    """Hash-compare the first warmup pass's outputs against DuckDB with the
    repo's own checker. Returns {query key: passed?}."""
    p = subprocess.run([sys.executable, str(ROOT / "tools" / "check_oracle.py"),
                        str(inputs), str(oracle_out)], capture_output=True, text=True,
                       timeout=120)
    verdict = {}
    for line in p.stdout.splitlines():
        parts = line.strip().split()
        if len(parts) >= 2 and parts[0] in ("✓", "✗"):
            verdict[parts[1].rstrip(":")] = parts[0] == "✓"
    return verdict, p.stdout


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--tiny", action="store_true")
    ap.add_argument("--expect-hash", action="append", default=[])
    args = ap.parse_args()
    load_at_launch = os.getloadavg()[0]

    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(2, f"graft sources not found under {ROOT / 'src'}: run from a checkout")
    if not Path(FIXTURE).is_dir():
        fail(2, f"fixture directory {FIXTURE} not found")
    if not SPARK_JARS.is_dir():
        fail(2, f"Spark jars not found at {SPARK_JARS}")
    cfg = WORKLOADS[args.workload]
    WORK.mkdir(parents=True, exist_ok=True)

    stamp = tree_hash()
    build_s = build(stamp)
    args.t_start = time.time()  # the run's time limit starts after a build
    inputs, gen_s, cached = gen.generate(cfg["inputs"], args.seed, FIXTURE, str(WORK),
                                         tiny=args.tiny)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}{'-tiny' if args.tiny else ''}"
    run_dir = WORK / "runs" / tag
    out_file = run_dir / "result.json"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    j0, t0 = cpu_jiffies(), time.time()
    rc, oracle_out = launch_jvm(cfg, args, inputs, run_dir, out_file)
    j1 = cpu_jiffies()
    jvm = {"wall_s": time.time() - t0,
           "steal_frac": (j1[0] - j0[0]) / max(1, j1[1] - j0[1]) if j0 and j1 else None}
    if rc != 0 or not out_file.exists():
        fail(4, f"benchmark JVM failed (exit {rc}); see {run_dir / 'jvm.log'}")
    raw = json.loads(out_file.read_text())
    if args.trace:
        raw["spans"] = json.loads(Path(str(out_file) + ".spans.json").read_text())

    oracle = None
    if cfg.get("oracle"):
        oracle, oracle_text = oracle_check(inputs, oracle_out)
        (run_dir / "oracle.txt").write_text(oracle_text)
    expected = dict(e.split("=", 1) for e in args.expect_hash)
    checks = M.check(raw, cfg, oracle, expected)
    report = M.summarize(raw, checks, trace=bool(args.trace))
    report.update({
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "tiny": args.tiny, "build_s": build_s,
        "gen_s": gen_s, "inputs_cached": cached, "jvm": jvm, "max_steal": MAX_STEAL,
        "host": {**host_stamp(load_at_launch), **raw["host"]},
    })
    results = WORK / "results"
    results.mkdir(exist_ok=True)
    (results / f"{tag}.json").write_text(json.dumps(report, indent=1))
    M.print_human(report)
    line = {"correct": report["failed"] == 0, "attempted": report["attempted"],
            "failed": report["failed"], "metrics": report["metrics"]}
    print(json.dumps(line), flush=True)
    sys.exit(0 if line["correct"] else 1)


if __name__ == "__main__":
    main()
