#!/usr/bin/env python3
"""Checks that the benchmark's counts repeat exactly for one seed.

Usage (from the repository root):
  python3 perfbench/check_counts.py [--seed N] [--seconds S] [workload ...]

Runs each workload (default: all three) twice with the same seed and
--trace 1, and compares the counts that must not depend on timing:
spark.htmludfs.parses_per_doc, spark.pipeline.lineage_docs_ratio,
spark.pipeline.scan_amplification, and each operator query's jobs and
stages. Exits 1 if any differs.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("extract_large", "batch_resume", "ops_suite")
FIXED = ("spark.htmludfs.parses_per_doc", "spark.pipeline.lineage_docs_ratio",
         "spark.pipeline.scan_amplification")


def counts(workload, seed, seconds):
    out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                          "--seed", str(seed), "--seconds", str(seconds), "--trace", "1"],
                         capture_output=True, text=True)
    if out.returncode != 0:
        sys.exit(f"check_counts: {workload} run failed\n{out.stderr[-3000:]}")
    metrics = json.loads(out.stdout.strip().splitlines()[-1])["metrics"]
    return {k: v["value"] for k, v in metrics.items()
            if k in FIXED or (k.startswith("ops.") and k.endswith((".jobs", ".stages")))}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("workloads", nargs="*", default=list(WORKLOADS))
    a = ap.parse_args()
    bad = 0
    for w in a.workloads:
        first, second = counts(w, a.seed, a.seconds), counts(w, a.seed, a.seconds)
        diff = {k: (first[k], second.get(k)) for k in first if first[k] != second.get(k)}
        print(f"{w}: {len(first)} counts, {'identical' if not diff else 'DIFFER ' + json.dumps(diff)}")
        bad += bool(diff)
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
