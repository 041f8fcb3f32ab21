#!/usr/bin/env python3
"""graft benchmark: one command for the `serve` and `batch` workloads (see
perfbench/README.md).

    python3 perfbench/run.py --workload serve --seed 1 --trace 0
    python3 perfbench/run.py --smoke          # every workload and gate, small

Builds the program from source (perfbench/build.py), runs one workload in a
fresh JVM, prints each metric with its unit and sample count, then, as the
last line of stdout, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are BENCHMARK.json's `end_to_end` list; with
--trace 1 they are its `per_layer` list. Exits non-zero when a correctness
gate fails or the run cannot complete.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.dont_write_bytecode = True
sys.path.insert(0, str(HERE))
import build  # noqa: E402

WORKLOADS = ("serve", "batch")
RUN_TIMEOUT_S = 170
# JDK 17 module openings Spark needs outside spark-submit (as in build.sbt)
ADD_OPENS = [x for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")
    for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


def workload_args(workload, smoke):
    """Sizes per workload; smoke shrinks every one of them."""
    if workload == "serve":
        return ["--streams", "300" if smoke else "2000", "--events", "10",
                "--setups", "1" if smoke else "3", "--warmup", "1" if smoke else "8"]
    sf = "sf0.001" if smoke else "sf0.01"
    args = ["--data", str(HERE / "tables" / sf), "--expected", str(HERE / "expected" / f"{sf}.json"),
            "--setups", "1" if smoke else "15"]
    return args + (["--passes", "1"] if smoke else [])


def run_workload(classpath, workload, seed, seconds, trace, smoke=False, extra=()):
    """One JVM run; returns the parsed report (None if the run broke)."""
    out = build.build_dir()
    work = out / "work" / f"{workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    logs = out / "logs"
    logs.mkdir(parents=True, exist_ok=True)
    log_path = logs / f"{workload}-seed{seed}-trace{trace}.log"
    # C1 only: Spark loads newly generated classes for most jobs, so a C2 JVM
    # spends half of a warm batch pass's CPU compiling, less with every pass,
    # and its walls and CPU drift through the run; C1 compiles a fraction of
    # that and settles sooner. C1 alone reserves a 48 MB code cache, which
    # Spark's generated classes fill within a serve run; the JVM then stops
    # compiling and runs all later code interpreted, at a point that differs
    # from run to run, so the cache is sized to hold a whole run. A fixed
    # heap: no run resizes it at its own time. No perf-data file in /tmp.
    cmd = (["java", "-Xms3g", "-Xmx3g", "-Xss4m", "-XX:TieredStopAtLevel=1",
            "-XX:ReservedCodeCacheSize=256m", "-XX:-UsePerfData"] + ADD_OPENS +
           [f"-Djava.io.tmpdir={work / 'tmp'}", "-Dspark.callstack.depth=200",
            "-cp", os.pathsep.join(classpath), "graftbench.Main",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--work", str(work), "--out", str(work / "report.json")] +
           workload_args(workload, smoke) + list(extra))
    # every Spark scratch file stays inside the run's work directory, and
    # Spark takes the loopback address instead of resolving the host's name
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"), SPARK_LOCAL_IP="127.0.0.1")
    try:
        with open(log_path, "w") as log:
            r = subprocess.run(cmd, stdout=sys.stdout, stderr=log, timeout=RUN_TIMEOUT_S, cwd=ROOT,
                               env=env)
        report_path = work / "report.json"
        if not report_path.is_file():
            log_tail(log_path, f"[run] {workload} exited {r.returncode} without a report")
            return None
        report = json.loads(report_path.read_text())
        if not report["correct"]:
            failing = [g["gate"] + ": " + g["detail"] for g in report["gates"] if not g["ok"]]
            log_tail(log_path, f"[run] {workload} failed a gate: " + "; ".join(failing))
        return report
    except subprocess.TimeoutExpired:
        log_tail(log_path, f"[run] {workload} exceeded {RUN_TIMEOUT_S} s and was stopped")
        return None
    finally:
        shutil.rmtree(work, ignore_errors=True)


def log_tail(log_path, why):
    """Say on stderr why a run failed, with its phase marks and the end of its log."""
    lines = log_path.read_text(errors="replace").splitlines()
    phases = [x for x in lines if x.startswith("[phase]")]
    print(why, "phases:", *phases, "log tail:", *lines[-25:], sep="\n", file=sys.stderr)


def record_untraced(workload, report):
    """Keep untraced end-to-end results so a traced run can state its overhead."""
    d = build.build_dir() / "results"
    d.mkdir(parents=True, exist_ok=True)
    with open(d / f"{workload}.jsonl", "a") as f:
        f.write(json.dumps({k: v["value"] for k, v in report["e2e"].items()}) + "\n")


def tracing_overhead(workload, report):
    path = build.build_dir() / "results" / f"{workload}.jsonl"
    rows = [json.loads(x) for x in path.read_text().splitlines()] if path.is_file() else []
    for name, m in report["e2e"].items():
        base = [r[name] for r in rows if r.get(name) is not None]
        if base and m["value"] is not None:
            med = statistics.median(base)
            print(f"[trace] {workload} {name}: traced {m['value']:.6g} vs untraced median "
                  f"{med:.6g} over {len(base)} runs ({(m['value'] / med - 1) * 100:+.1f}%)")
        else:
            print(f"[trace] {workload} {name}: traced {m['value']}; no untraced run recorded "
                  "in this checkout to compare with")


def result_line(bench, report, trace):
    """The contract line: BENCHMARK.json's metric list, values from the report."""
    if trace:
        values = dict(report["layer"])
        values.update({f"traced.{k}": v for k, v in report["e2e"].items()})
        absent = [m["name"] for m in bench["per_layer"] if m["name"] not in values]
        if absent:
            print(f"[trace] not produced by {report['workload']}, reported as 0: {' '.join(absent)}",
                  file=sys.stderr)
        metrics = {m["name"]: {"value": (values.get(m["name"]) or {}).get("value") or 0.0,
                               "unit": m["unit"]} for m in bench["per_layer"]}
    else:
        metrics = {}
        for m in bench["end_to_end"]:
            v = report["e2e"].get(m["name"])
            if v is None or v["value"] is None:
                raise SystemExit(f"[run] end-to-end metric {m['name']} missing from the run")
            metrics[m["name"]] = {"value": v["value"], "unit": m["unit"]}
    return {"correct": report["correct"], "attempted": report["attempted"],
            "failed": report["failed"], "metrics": metrics}


def smoke(classpath):
    """Every workload and every gate at the smallest sizes, traced."""
    ok = True
    for w in WORKLOADS:
        t0 = time.time()
        report = run_workload(classpath, w, seed=1, seconds=2, trace=1, smoke=True)
        good = bool(report and report["correct"] and report["failed"] == 0)
        print(f"[smoke] {w}: {'ok' if good else 'FAILED'} ({time.time() - t0:.0f} s)")
        ok &= good
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, help="measured seconds (default: BENCHMARK.json's run_seconds)")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="run every workload small, with every gate")
    ap.add_argument("--capture", help="batch: one pass, observed digests to this file")
    ap.add_argument("--dump", help="batch: also write results as parquet for tools/check.py")
    ap.add_argument("--sf", choices=("sf0.001", "sf0.01"), help="batch: data tier")
    args = ap.parse_args()
    if not args.smoke and not args.workload:
        ap.error("--workload is required (or --smoke)")

    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    seconds = bench["run_seconds"] if args.seconds is None else args.seconds
    try:
        classpath = build.build()
    except build.BuildError as e:
        sys.exit(f"[build] {e}")
    if args.smoke:
        sys.exit(smoke(classpath))

    extra = []
    if args.capture:
        extra += ["--capture", str(Path(args.capture).resolve()), "--passes", "1"]
    if args.dump:
        Path(args.dump).mkdir(parents=True, exist_ok=True)
        extra += ["--dump", str(Path(args.dump).resolve())]
    if args.sf:
        extra += ["--data", str(HERE / "tables" / args.sf),
                  "--expected", str(HERE / "expected" / f"{args.sf}.json")]
    report = run_workload(classpath, args.workload, args.seed, seconds, args.trace, extra=extra)
    if report is None:
        sys.exit(1)
    if args.trace:
        tracing_overhead(args.workload, report)
    elif report["correct"] and not extra:
        record_untraced(args.workload, report)
    print(json.dumps(result_line(bench, report, args.trace)), flush=True)
    sys.exit(0 if report["correct"] else 1)


if __name__ == "__main__":
    main()
