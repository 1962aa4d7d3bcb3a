#!/usr/bin/env python3
"""The benchmark: crawl throughput and query latency, with checked outputs.

    python3 perfbench/run.py --workload crawl_wide|queries \\
        --seed N --seconds S --trace 0|1

Builds the program from source if needed (perfbench/build.py), runs one
workload in one JVM (local[nproc], one closed-loop client), checks every
output, and prints one JSON object as the last line of stdout:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}.

--trace 0 prints the end-to-end metrics, --trace 1 the per-layer ones of a
separate traced run; perfbench/README.md lists them all and what each
should move. Everything the run writes stays under .bench_build/.
"""
import argparse
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True  # nothing written outside .bench_build/
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

ROOT = build.ROOT
DATA = ROOT / "perfbench" / "data"
ORACLE = ROOT / "tools" / "check_oracle.py"
WORKLOADS = ("crawl_wide", "queries")
JVM_TIMEOUT_S = 170

# Spark 4 on JDK 17 outside spark-submit needs these (as build.sbt sets).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def run_jvm(classes, out, workload, seed, seconds, trace):
    """Run one workload in a fresh JVM; return its parsed PERFBENCH record."""
    work = out / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    cp = os.pathsep.join([str(classes), str(build.spark_jars() / "*")])
    cmd = ["java", *ADD_OPENS, "-Xmx3g", f"-Djava.io.tmpdir={work / 'tmp'}",
           "-cp", cp, "perfbench.PerfBench", workload, str(seed),
           str(seconds), "1" if trace else "0", str(work), str(DATA),
           str(out / "refcache")]
    log = work.parent / f"{work.name}.log"
    try:
        with open(log, "w") as err:
            r = subprocess.run(cmd, cwd=work, stdout=subprocess.PIPE,
                               stderr=err, text=True, timeout=JVM_TIMEOUT_S)
        lines = [l for l in r.stdout.splitlines() if l.startswith("PERFBENCH ")]
        if r.returncode != 0 or not lines:
            tail = log.read_text(errors="replace")[-3000:]
            fail(f"{workload} JVM exited {r.returncode} without a result:\n{tail}")
        rec = json.loads(lines[-1][len("PERFBENCH "):])
        if rec.get("checks"):
            check_queries(rec)
        return rec
    except subprocess.TimeoutExpired:
        fail(f"{workload} JVM ran past {JVM_TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
        log.unlink(missing_ok=True)


def check_queries(rec):
    """Compare each written query result with its DuckDB oracle, using
    tools/check_oracle.py unchanged; a mismatch counts as failed."""
    c = rec["checks"]
    results = Path(c["results"])
    expected = json.loads((results / "oracle_sql.json").read_text())
    r = subprocess.run([sys.executable, str(ORACLE), c["data"], str(results)],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=JVM_TIMEOUT_S)
    passed = set(re.findall(r"^(?:PASS|APPROX) (\S+)", r.stdout, re.M))
    bad = [n for n in expected if n not in passed]
    for line in r.stdout.splitlines():
        if line.startswith(("FAIL", "APPROX")):
            rec["notes"].append(f"oracle: {line}")
    rec["failed"] += len(bad)
    rec["notes"].append(f"oracle: {len(passed)}/{len(expected)} results match DuckDB")


def record(hist, seed, rec):
    """Keep an untraced run's throughput for the traced runs to compare."""
    hist.parent.mkdir(parents=True, exist_ok=True)
    with open(hist, "a") as f:
        f.write(json.dumps({"seed": seed, "throughput":
                            rec["metrics"]["throughput"]["value"]}) + "\n")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    for need in (DATA / "sf0.01" / "lineitem.parquet",
                 DATA / "sf0.001" / "lineitem.parquet", ORACLE):
        if not need.exists():
            fail(f"missing {need.relative_to(ROOT)}")
    try:
        classes, out = build.build()
    except build.BuildError as e:
        fail(f"build failed: {e}")

    rec = run_jvm(classes, out, a.workload, a.seed, a.seconds, a.trace)
    hist = out / "results" / f"{a.workload}.jsonl"
    if not a.trace:
        record(hist, a.seed, rec)
    else:
        # Tracing overhead: this traced run's throughput against the median
        # of the untraced runs of the same workload made with this build.
        base = [json.loads(l)["throughput"] for l in
                (hist.read_text().splitlines() if hist.exists() else []) if l]
        traced = rec["metrics"]["trace.throughput"]["value"]
        overhead = 0.0
        if base and traced > 0:
            overhead = (statistics.median(base) / traced - 1.0) * 100.0
        else:
            rec["notes"].append("no untraced run on record for this build: "
                                "trace.overhead_pct reads 0")
        rec["metrics"]["trace.overhead_pct"] = {"value": overhead, "unit": "%"}

    for n in rec["notes"]:
        print(f"[perfbench] {n}", file=sys.stderr)
    spec = ROOT / "BENCHMARK.json"
    if spec.exists():
        want = [m["name"] for m in json.loads(spec.read_text())[
            "per_layer" if a.trace else "end_to_end"]]
        if sorted(want) != sorted(rec["metrics"]):
            fail(f"metrics {sorted(rec['metrics'])} are not those BENCHMARK.json "
                 f"lists: {sorted(want)}")
    for name, m in rec["metrics"].items():
        print(f"{a.workload:>10} {name:<32} {m['value']:>14.6g} {m['unit']}")
    print(json.dumps({
        "correct": rec["failed"] == 0,
        "attempted": rec["attempted"],
        "failed": rec["failed"],
        "metrics": rec["metrics"],
    }))


if __name__ == "__main__":
    main()
