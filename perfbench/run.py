#!/usr/bin/env python3
"""The graft benchmark: one run of one workload.

Usage (from the repository root):
  python3 perfbench/run.py --workload <extract_large|batch_resume|ops_suite>
                           --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the Scala runner if needed (perfbench/build.py), runs the
workload in one JVM (perfbench/src), checks its outputs, and prints a record
of the run (weather, source, the workload's own named metrics) followed by,
as the last line, one JSON object with the keys correct, attempted, failed
and metrics. With --trace 0 the metrics are the end_to_end metrics of
BENCHMARK.json, with --trace 1 its per_layer metrics. The traced run's spans
are written to .bench_out/. Exits non-zero when an output is wrong or an
operation failed.
"""
import argparse
import json
import os
import re
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("extract_large", "batch_resume", "ops_suite")
RUN_LIMIT_S = 180
BUILD_LIMIT_S = 900
ORACLE_ALLOWANCE_S = 25

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def git_commit(root):
    if not os.path.isdir(os.path.join(root, ".git")):
        return None
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def oracle_check(root, oracle_dir, sf_dir, timeout):
    """Runs tools/oracle_check.py; returns {query: matched?}."""
    out = subprocess.run([sys.executable, os.path.join(root, "tools", "oracle_check.py"),
                          oracle_dir, sf_dir], capture_output=True, text=True, timeout=timeout)
    verdicts = {}
    for line in out.stdout.splitlines():
        m = re.match(r"^(OK|FAIL)\s+(\S+?):", line)
        if m:
            verdicts[m.group(2)] = m.group(1) == "OK"
    if out.returncode not in (0, 1):
        print(out.stderr[-2000:], file=sys.stderr)
    return verdicts


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    start = time.monotonic()
    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    declared = spec["per_layer" if a.trace else "end_to_end"]

    classpath, source, built = build.ensure_built(root)
    deadline = start + (BUILD_LIMIT_S if built else RUN_LIMIT_S) - 10

    work = os.path.join(root, ".bench_work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out_dir = os.path.join(root, ".bench_out")
    os.makedirs(out_dir, exist_ok=True)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    result_file = os.path.join(work, "result.json")
    sf_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.1")

    cmd = ["java", f"-Xmx{os.environ.get('SPARK_DRIVER_MEM', '3g')}",
           f"-Djava.io.tmpdir={work}/tmp"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", ":".join(classpath), "graftbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--result", result_file,
            "--trace-file", os.path.join(out_dir, f"trace-{tag}.jsonl"), "--sf", sf_dir]
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(deadline - ORACLE_ALLOWANCE_S - time.monotonic(), 1))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    if rc != 0 or not os.path.exists(result_file):
        with open(log_path) as f:
            print("".join(f.readlines()[-40:]), file=sys.stderr)
        sys.exit(f"perfbench: the {a.workload} run ended with {rc}")
    with open(result_file) as f:
        res = json.load(f)

    attempted, failed = res["attempted"], res["failed"]
    checked, matched = res["checked"], res["matched"]
    info = res["info"]
    if a.workload == "ops_suite":
        oracle_dir = os.path.join(work, "oracle")
        with open(os.path.join(oracle_dir, "oracle_sql.json")) as f:
            queries = sorted(json.load(f))
        verdicts = oracle_check(root, oracle_dir, sf_dir, max(deadline - time.monotonic(), 1))
        ok = [q for q in queries if verdicts.get(q)]
        checked += len(queries)
        matched += len(ok)
        failed += len(queries) - len(ok)
        info["oracle"] = {q: ("match" if verdicts.get(q) else "MISMATCH") for q in queries}

    metrics = res["metrics"]
    metrics["correct_frac"] = {"value": matched / checked if checked else 0.0, "unit": "ratio"}
    metrics["success_frac"] = {"value": 1.0 - failed / max(attempted, 1), "unit": "ratio"}
    info["failed_frac"] = failed / max(attempted, 1)
    missing = [m["name"] for m in declared if m["name"] not in metrics]
    if missing:
        sys.exit(f"perfbench: the run did not measure {missing}")
    units = [m["name"] for m in declared if metrics[m["name"]]["unit"] != m["unit"]]
    if units:
        sys.exit(f"perfbench: units differ from BENCHMARK.json for {units}")
    correct = failed == 0 and checked > 0 and matched == checked
    unmeasured = [m["name"] for m in declared if metrics[m["name"]]["value"] is None]
    if unmeasured and correct:
        sys.exit(f"perfbench: no value for {unmeasured}")
    for name in unmeasured:  # no operation of this run succeeded
        metrics[name]["value"] = 0.0

    record = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
              "git_commit": git_commit(root), "source_sha256": source, "info": info,
              "metrics": metrics}
    with open(os.path.join(out_dir, f"run-{tag}.json"), "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps({"perfbench_run": record}))
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {m["name"]: metrics[m["name"]] for m in declared}}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
