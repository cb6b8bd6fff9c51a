#!/usr/bin/env python3
"""Self-test of the benchmark: two traced runs with one seed must give
exactly the same counts, so a later change can rest a claim on a count.

    python3 perfbench/selftest.py --workload blocked_corpus --seed 7

Exits 0 when every count below repeats exactly, 1 otherwise.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

COUNTS = (
    "spark.jobs",
    "spark.stages",
    "spark.tasks",
    "spark.shuffle_read_bytes",
    "spark.shuffle_write_bytes",
    "similarity_join.candidate_rows",
    "streaming.jobs_per_epoch",
)
RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")


def _traced(workload: str, seed: int) -> dict:
    # a traced run measures a fixed number of ops, whatever --seconds says
    cmd = [sys.executable, RUN, "--workload", workload, "--seed", str(seed), "--seconds", "1", "--trace", "1"]
    res = subprocess.run(cmd, capture_output=True, text=True, timeout=600, check=True)
    return json.loads(res.stdout.strip().splitlines()[-1])["metrics"]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    a = ap.parse_args()
    first, second = (_traced(a.workload, a.seed) for _ in range(2))
    bad = 0
    for name in COUNTS:
        x, y = first[name]["value"], second[name]["value"]
        same = x == y
        bad += not same
        print(f"{name}: {x:g} vs {y:g} {'same' if same else 'DIFFERENT'}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
