#!/usr/bin/env python3
"""The benchmark's own test: declared exact-repeat counts must repeat.

    python3 perfbench/test_repeat.py [--seconds 15] [workload ...]

For each workload (default: the two in BENCHMARK.json) it makes two traced runs with the
same seed and asserts that every count the harness declares exact
(queries.build_jobs, exec.tasks, exec.shuffle_write_bytes,
plancache.hits, plancache.misses, store.files_written) is identical
between them, and that neither run flagged one as varying between its
own passes. Exits 1 on any mismatch, listing it.
"""
import argparse
import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
EXACT = ["queries.build_jobs", "exec.tasks", "exec.shuffle_write_bytes",
         "plancache.hits", "plancache.misses", "store.files_written"]


def traced_run(workload, seed, seconds):
    out = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "1"],
        check=True, stdout=subprocess.PIPE, text=True).stdout.splitlines()
    report = json.loads(out[-2])["report"]
    metrics = json.loads(out[-1])["metrics"]
    return report, {k: metrics[k]["value"] for k in EXACT}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("workloads", nargs="*",
                    default=["suite_warm", "admin_service"])
    a = ap.parse_args()
    problems = []
    for w in a.workloads:
        (r1, c1), (r2, c2) = (traced_run(w, a.seed, a.seconds) for _ in range(2))
        print(f"{w}: {json.dumps(c1)}")
        for name in EXACT:
            if c1[name] != c2[name]:
                problems.append(f"{w}: {name} {c1[name]} != {c2[name]}")
        for r in (r1, r2):
            problems += [f"{w}: {name} varies between passes" for name in r.get("varying", [])]
    for p in problems:
        print("MISMATCH", p)
    print("ok" if not problems else f"{len(problems)} mismatches")
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
