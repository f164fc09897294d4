#!/usr/bin/env python3
"""remapspark benchmark: one seeded workload, one result line.

Usage, from the repository root:
    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see BENCHMARK.json): remap-mr, pregel-powerlaw, dedup-nearcopies,
job-stream. Every run builds the library from source on first use
(perfbench/build.py), starts one JVM on local[<cores>], generates the
seeded inputs under .bench_work/, and checks every output.

--trace 0 measures the end-to-end metrics; --trace 1 alternates untraced and
traced cycles and reports the per-layer metrics, the tracing overhead and a
per-span table. The last line of standard output is one JSON object with
the keys correct, attempted, failed and metrics. The exit code is 0 only
when every output check passed.
"""
import argparse
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ["remap-mr", "pregel-powerlaw", "dedup-nearcopies", "job-stream"]
RUN_LIMIT_S = 170
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(code)


def oracle_check(root, verify_dir, tables_dir):
    """Runs the repository's DuckDB oracle compare on the verification pass
    output; returns (passed, total, failure lines)."""
    tool = os.path.join(root, "tools", "check_oracle.py")
    proc = subprocess.run([sys.executable, tool, verify_dir, tables_dir, "--only-present"],
                          stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                          timeout=120)
    passed = len(re.findall(r"^PASS ", proc.stdout, re.M))
    failures = [ln for ln in proc.stdout.splitlines() if ln.startswith("FAIL ")]
    if proc.returncode != 0 and not failures:
        failures = [f"check_oracle exited {proc.returncode}: {proc.stdout[-500:]}"]
    return passed, passed + len(failures), failures


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    args = ap.parse_args()
    started = time.monotonic()

    root = os.getcwd()
    for need in ("BENCHMARK.json", "build.sbt", os.path.join("src", "main", "scala"),
                 os.path.join("tools", "check_oracle.py")):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"{need} not found under {root}: run from the repository root")
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    wanted = spec["per_layer"] if args.trace == "1" else spec["end_to_end"]

    classes, jars = build.build(root)
    deadline = time.monotonic() + RUN_LIMIT_S - min(10.0, time.monotonic() - started)

    bench_work = os.path.join(root, ".bench_work")
    work = os.path.join(bench_work, f"{args.workload}-s{args.seed}-p{os.getpid()}")
    traces = os.path.join(bench_work, "traces")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, d))
    os.makedirs(traces, exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    env = dict(os.environ, GRAFT_SCRATCH_DIR=tmp,
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    out = os.path.join(work, "result.json")
    cmd = (["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:+UseParallelGC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={tmp}",
              f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
              f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-cp", os.pathsep.join([classes] + jars), "graft.bench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", args.trace,
              "--cores", str(cores), "--work", work, "--out", out,
              "--spans", os.path.join(traces, f"{args.workload}-s{args.seed}.spans.jsonl")])
    log_path = os.path.join(bench_work, f"{args.workload}-s{args.seed}.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env, cwd=work)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    if code != 0 or not os.path.exists(out):
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-4000:])
        shutil.rmtree(work, ignore_errors=True)
        fail(f"{args.workload}: JVM ended with {code} and no result (log: {log_path})", 1)
    with open(out) as fh:
        res = json.load(fh)

    attempted, failed = res["attempted"], res["failed"]
    expected, matched = res["expected"], res["matched"]
    failures = list(res["failures"])
    if args.workload == "job-stream":
        data = os.path.join(work, "data")
        passed, total, bad = oracle_check(root, os.path.join(data, "verify"),
                                          os.path.join(data, "tables"))
        attempted += total
        failed += len(bad)
        expected += total
        matched += passed
        failures += [f"job-stream/oracle: {b}" for b in bad]
    shutil.rmtree(work, ignore_errors=True)

    metrics = res["metrics"]
    if args.trace == "0":
        metrics["recall"] = matched / expected if expected else 0.0
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    units["recall"] = "ratio"
    # layers a workload does not exercise report 0
    result = {m["name"]: {"value": metrics.get(m["name"]) or 0.0, "unit": m["unit"]}
              for m in wanted}
    for line in res["report"]:
        print(line)
    for f in failures:
        print(f"FAILED {f}")
    for name, v in {**{k: r["value"] for k, r in result.items()}, **metrics}.items():
        print(f"{name:32s} {v:>16.6g} {units.get(name, 's' if name.endswith('_s') else '')}")
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": result}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
