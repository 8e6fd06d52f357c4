#!/usr/bin/env python3
"""Benchmark of the graft engine: one closed-loop client, one query in
flight, driving only the program's public entry points.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name|all> --seed N --seconds S --trace 0|1
  python3 perfbench/run.py --record perfbench/expected/sf0.1.json   # re-derive expectations

The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics` (end-to-end metrics with
--trace 0, per-layer metrics with --trace 1). The line before it carries
the run's context (host load, steal, error rate, exact work counts); the
full report is written to `.bench_out/`. See perfbench/NOTES.md.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.dont_write_bytecode = True
import build  # noqa: E402
import stats  # noqa: E402

EXPECTED = HERE / "expected" / "sf0.1.json"
CONFIG = HERE / "workloads.json"
JVM_TIMEOUT_S = 165

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def sf_dir() -> str:
    """The sf0.1 testdata: $GRAFT_BENCH_SF_DIR, else ~/testdata/sf0.1."""
    return os.environ.get("GRAFT_BENCH_SF_DIR") or str(Path.home() / "testdata" / "sf0.1")


def workload_plan(name, seed, config, seconds):
    """The rows of one pass, in seeded order, the workload's `types`
    table size, its warm-up rows (`warmup_passes` untimed executions,
    default 1, of each distinct row) and the number of timed passes: as
    many as fill `seconds` at the workload's nominal warm pass time
    `pass_s`, at least one. The seed orders the rows (and seeds the
    `types` table); it never changes which rows run or how often."""
    wl = config["workloads"][name]
    rng = random.Random(seed)
    if "rounds" in wl:
        order = []
        for _ in range(wl["rounds"]):
            triple = list(stats.AGGREGATES)
            rng.shuffle(triple)
            order += triple
    else:
        order = list(wl["rows"])
        rng.shuffle(order)
    return {"types_rows": wl["types_rows"], "order": order,
            "warmup": list(dict.fromkeys(order)) * wl.get("warmup_passes", 1),
            "passes": max(1, round(seconds / wl["pass_s"]))}


def hash_rate():
    """Single-core SHA-256 rate (MB/s) over 0.2 s: how fast the host runs
    a fixed piece of work at this instant. Steal counts miss some
    slowdowns of a shared host; this reading shows them."""
    buf = bytes(1 << 20)
    n, t0 = 0, time.perf_counter()
    while time.perf_counter() - t0 < 0.2:
        hashlib.sha256(buf).digest()
        n += 1
    return round(n / (time.perf_counter() - t0), 1)


def host_context():
    """Host load at this instant: not metrics, context for a reader."""
    ctx = {"nproc": os.cpu_count(), "sha256_mb_s": hash_rate()}
    try:
        ctx["loadavg"] = [float(x) for x in Path("/proc/loadavg").read_text().split()[:3]]
        cpu = Path("/proc/stat").read_text().splitlines()[0].split()
        ctx["steal_ticks"] = int(cpu[8]) if len(cpu) > 8 else 0
    except OSError:
        pass
    return ctx


def run_jvm(root, classes, plan, run_dir, timeout=JVM_TIMEOUT_S):
    plan_path, out_path = run_dir / "plan.json", run_dir / "out.json"
    plan_path.write_text(json.dumps(plan))
    cp = os.pathsep.join([str(classes), str(build.spark_home() / "jars" / "*")])
    opens = [a for p in JDK17_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = ["java", *opens, "-Xmx4g", "-Xss8m", "-XX:+UseParallelGC",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Djava.io.tmpdir={run_dir}", "-Dlog4j2.level=error",
           "-cp", cp, "perfbench.Main", str(plan_path), str(out_path)]
    env = dict(os.environ, SPARK_GRAFT_CPUS="4", SPARK_LOCAL_DIRS=str(run_dir / "spark-local"))
    log = open(run_dir / "jvm.log", "w")
    proc = subprocess.Popen(cmd, cwd=root, env=env, stdout=log, stderr=subprocess.STDOUT,
                            start_new_session=True)
    try:
        proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise RuntimeError(f"harness exceeded {timeout}s")
    finally:
        log.close()
    if proc.returncode != 0 or not out_path.is_file():
        tail = (run_dir / "jvm.log").read_text(errors="replace")[-3000:]
        raise RuntimeError(f"harness exited {proc.returncode}:\n{tail}")
    return json.loads(out_path.read_text())


def run_workload(root, classes, config, expected, name, seed, seconds, trace):
    plan = workload_plan(name, seed, config, seconds)
    run_dir = root / ".bench_run" / f"{name}-{seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    ctx_before = host_context()
    try:
        plan.update({"mode": "run", "trace": bool(trace), "seed": seed, "sf": sf_dir(), "run_dir": str(run_dir),
                     "setups": config["setups"], "expected": expected})
        out = run_jvm(root, classes, plan, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    queries = out["queries"]
    failed = [q for q in queries if not q["ok"]]
    report = {"workload": name, "seed": seed, "trace": trace,
              "context": {"before": ctx_before, "after": host_context()},
              "attempted": len(queries), "failed": len(failed),
              "error_rate": len(failed) / max(1, len(queries)),
              "errors": sorted({f"{q['name']}: {q.get('err', '')}" for q in failed})[:20],
              "setups": out["setups"], "warmup_s": out["warmup_ms"] / 1000.0,
              "loop_s": out["loop_ms"] / 1000.0}
    if trace:
        metrics = stats.per_layer(out)
        report["self_ms"] = {}
        for q in queries:
            if q["traced"]:
                for k, v in stats.span_self_times(q.get("spans", [])).items():
                    report["self_ms"][k] = report["self_ms"].get(k, 0.0) + v
        out_dir = root / ".bench_out"
        prev = out_dir / f"{name}-s{seed}-trace.json"
        if prev.is_file():
            report["exact"] = stats.exact_counts(
                json.loads(prev.read_text()).get("metrics", {}), metrics)
    else:
        metrics = stats.end_to_end(out)
        report["row_median_ms"] = stats.row_medians(
            [q for q in queries if not q.get("warmup")])
    report["metrics"] = metrics
    return report


def final_line(reports):
    metrics = {}
    for r in reports:
        prefix = "" if len(reports) == 1 else r["workload"] + "."
        for k, v in r["metrics"].items():
            metrics[prefix + k] = {"value": v, "unit": stats.unit(k)}
    attempted = sum(r["attempted"] for r in reports)
    failed = sum(r["failed"] for r in reports)
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def record(root, classes):
    """Re-derive the expected fingerprints from the current program: every
    registry row twice, in opposite orders; a row whose two results differ
    is checked by schema and row count only."""
    run_dir = root / ".bench_run" / f"record-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    base = {"seed": 42, "sf": sf_dir(), "run_dir": str(run_dir), "types_rows": 1024,
            "setups": 1, "trace": False, "warmup": [], "expected": {}}
    try:
        listing = run_jvm(root, classes, dict(base, mode="list", order=[]), run_dir)
        names = sorted(n for rows in listing.values() for n in rows)
        out = run_jvm(root, classes, dict(base, mode="record", order=names), run_dir,
                      timeout=3600)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    rows = {}
    for module, module_rows in listing.items():
        for n in module_rows:
            f = out["fingerprints"][n]
            if "err" in f:
                raise RuntimeError(f"{n} failed while recording: {f['err']}")
            stable = f["stable"]
            rows[n] = {"module": module, "check": "fp" if stable else "rows",
                       "fp": f["fp"] if stable else f["shape"]}
    return {"sf": Path(sf_dir()).name, "rows": dict(sorted(rows.items()))}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", metavar="OUT",
                    help="re-derive the expected fingerprints of every row into OUT")
    args = ap.parse_args(argv)
    root = Path.cwd()
    try:
        classes = build.build(root)
    except build.BuildError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    if args.record:
        Path(args.record).write_text(json.dumps(record(root, classes), indent=1))
        return 0
    if not EXPECTED.is_file():
        print(f"perfbench: missing {EXPECTED}", file=sys.stderr)
        return 2
    if not Path(sf_dir()).is_dir():
        print(f"perfbench: no testdata at {sf_dir()}", file=sys.stderr)
        return 2
    config = json.loads(CONFIG.read_text())
    expected = json.loads(EXPECTED.read_text())["rows"]
    names = list(config["workloads"]) if args.workload == "all" else [args.workload]
    if not args.workload or any(n not in config["workloads"] for n in names):
        print(f"perfbench: --workload must be one of {list(config['workloads'])} or all",
              file=sys.stderr)
        return 2
    reports = []
    for n in names:
        t0 = time.monotonic()
        r = run_workload(root, classes, config, expected, n, args.seed, args.seconds, args.trace)
        r["wall_s"] = round(time.monotonic() - t0, 3)
        out_dir = root / ".bench_out"
        out_dir.mkdir(exist_ok=True)
        suffix = "trace" if args.trace else "e2e"
        (out_dir / f"{n}-s{args.seed}-{suffix}.json").write_text(json.dumps(r, indent=1))
        reports.append(r)
        print(json.dumps({"workload": n, **{k: r[k] for k in r if k not in ("metrics", "setups")}}))
    print(json.dumps(final_line(reports)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
