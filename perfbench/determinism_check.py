#!/usr/bin/env python3
"""Check that two same-seed traced runs of etl_daily repeat the work
counters exactly, so a change in them is the code's doing, not the host's.

    python3 perfbench/determinism_check.py [--seed N]   # from the repo root

Compares ``spark.jobs``, ``sinks.acid.files_written`` and
``sinks.acid.bytes_written_per_row`` (the first traced pass's counters;
each run seeds its table in a fresh scratch directory). Exit code 0 when
they match, 1 otherwise.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

COUNTERS = ("spark.jobs", "sinks.acid.files_written", "sinks.acid.bytes_written_per_row")


def traced_counters(seed: int) -> dict[str, float]:
    run = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")
    out = subprocess.run(
        [sys.executable, run, "--workload", "etl_daily", "--seed", str(seed),
         "--seconds", "1", "--trace", "1"],
        check=True, capture_output=True, text=True, timeout=300,
    ).stdout
    result = json.loads(out.strip().splitlines()[-1])
    if not result["correct"] or result["failed"]:
        raise SystemExit(f"seed {seed}: run reported wrong output: {result}")
    return {k: result["metrics"][k]["value"] for k in COUNTERS}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=7)
    seed = ap.parse_args().seed
    a, b = traced_counters(seed), traced_counters(seed)
    print(json.dumps({"first": a, "second": b}))
    if a != b:
        print("counters differ between same-seed runs", file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
