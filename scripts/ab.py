#!/usr/bin/env python
"""Interleaved A/B timing harness (ROADMAP round-4 item: first-class script).

Sequential fresh-JVM runs on this host drift by up to ±2.2x across minutes
(doc_minhash_lsh at the 100x tier measured 143/221/312 s in back-to-back
isolated runs — SCALING.md round 4), so back-to-back one-arm-then-the-other
comparisons are untrustworthy. INTERLEAVING is the fix: run A B A B ... so
both arms sample the same drift, then compare per-rep and by median. This
script is the first-class version of the ad-hoc harnesses that found the
round-4 LSH geometry inversion.

Usage:
  python scripts/ab.py --arm doc_simhash_pairs --arm doc_simhash128_pairs \
      [--sf-dir /root/testdata/sf0.1] [--reps 5] [--isolate]

Arm syntax: ``[label=]query[:KEY=VAL,KEY=VAL]`` — optional label (defaults
to the query name), optional environment overrides applied only while that
arm runs (e.g. an engine knob like SPARK_GRAFT_VERIFY_CC=1). Two arms may
name the SAME query with different env to A/B a knob.

``--isolate`` gives every (rep, arm) cell a fresh subprocess/JVM via
scripts/soak.py --run-one (warm-up included there), still interleaved.
In-process mode (default) shares one session and clears the cache before
every timed run — cheaper, and drift-fair because of the interleaving.

Output: one JSON line per cell, then a per-arm summary (min / median / all
reps) and each arm's median ratio vs the FIRST arm. Medians, not means:
drift spikes are one-sided.

Whole-benchmark mode, two checkouts (the AB_TREE idea at the granularity
of ``perfbench/run.py``):

  python scripts/ab.py --perfbench etl_daily --tree parent=../base \
      --tree change=. --seeds 71-80 [--seconds 8] [--trace 0]

Each seed is one pair: both trees run ``python3 perfbench/run.py
--workload W --seed N`` from their own root, and the side that runs first
flips on every pair, so host drift lands on both sides alike. Only the
runs' two result lines are read. Output: one JSON line per run (its
metrics plus the summary line's raw pass time ``wall_raw_s`` and mean
``host_ref_s``, ``correct``, ``failed``/``attempted``), then per metric
each tree's median and quartiles, the second tree's wins out of the pairs
(direction from the first tree's BENCHMARK.json, lower otherwise) and
whether the medians differ by more than the first tree's quartile spread.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def parse_arm(text: str) -> dict:
    env = {}
    if ":" in text:
        text, env_part = text.split(":", 1)
        for kv in env_part.split(","):
            k, _, v = kv.partition("=")
            env[k] = v
    label, _, query = text.rpartition("=")
    return {"label": label or query, "query": query or text, "env": env}


def run_cell_isolated(arm: dict, sf_dir: str) -> float:
    # AB_TREE=<path> is a pseudo-env consumed HERE, not by the child: it
    # points the cell at another checkout's scripts/soak.py (e.g. a git
    # worktree of a prior round's commit), so two arms can be r4-code vs
    # r5-code paired deltas under the same interleaved drift sampling.
    env = dict(arm["env"])
    tree = env.pop("AB_TREE", None) or os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))
    )
    soak = os.path.join(tree, "scripts", "soak.py")
    cmd = [sys.executable, soak, "--run-one", arm["query"], "--tier-dir", sf_dir]
    child_env = {**os.environ, **env}
    res = subprocess.run(cmd, capture_output=True, text=True, env=child_env)
    marker = [ln for ln in res.stdout.splitlines() if ln.startswith('{"query"')]
    if res.returncode != 0 or not marker:
        sys.stderr.write(res.stdout[-2000:] + res.stderr[-2000:])
        raise SystemExit(f"arm {arm['label']} failed (rc={res.returncode})")
    return float(json.loads(marker[-1])["sec"])


def run_cell_inproc(spark, registry, arm: dict, sf_dir: str) -> float:
    saved = {k: os.environ.get(k) for k in arm["env"]}
    os.environ.update(arm["env"])
    try:
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        registry[arm["query"]].fn(spark, sf_dir).write.mode("overwrite").format(
            "noop"
        ).save()
        return round(time.perf_counter() - t0, 2)
    finally:
        for k, v in saved.items():
            if v is None:
                os.environ.pop(k, None)
            else:
                os.environ[k] = v


def parse_seeds(text: str) -> list[int]:
    seeds = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        seeds.extend(range(int(lo), int(hi or lo) + 1))
    return seeds


def run_perfbench(tree: str, workload: str, seed: int, seconds: str, trace: str) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", seconds, "--trace", trace]
    res = subprocess.run(cmd, capture_output=True, text=True, cwd=tree, timeout=900)
    lines = res.stdout.strip().splitlines()
    try:
        out, summary = json.loads(lines[-1]), json.loads(lines[-2])
    except (IndexError, ValueError):
        sys.stderr.write(res.stdout[-2000:] + res.stderr[-2000:])
        return {"correct": False, "attempted": 0, "failed": None, "metrics": {},
                "rc": res.returncode}
    # wall_s / op_p50_s are scaled by the run's host reference; the raw
    # pass time and the reference itself tell a code change from a ruler
    # swing
    out["metrics"]["wall_raw_s"] = {"value": summary["wall_raw_s"]}
    out["metrics"]["host_ref_s"] = {"value": statistics.mean(summary["host_ref_s"])}
    return {**out, "rc": res.returncode}


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def perfbench_main(argv: list[str]) -> int:
    import argparse

    ap = argparse.ArgumentParser(prog="ab.py --perfbench")
    ap.add_argument("--perfbench", required=True, metavar="WORKLOAD")
    ap.add_argument("--tree", action="append", required=True,
                    help="[label=]path of a checkout; give exactly two")
    ap.add_argument("--seeds", required=True, help="e.g. 71-80 or 71,73,75")
    ap.add_argument("--seconds", default="8")
    ap.add_argument("--trace", default="0")
    args = ap.parse_args(argv[1:])
    if len(args.tree) != 2:
        raise SystemExit("--perfbench needs exactly two --tree entries")
    trees = []
    for t in args.tree:
        label, _, path = t.rpartition("=")
        path = os.path.abspath(path)
        trees.append((label or os.path.basename(path), path))
    if trees[0][0] == trees[1][0]:
        raise SystemExit(f"duplicate tree labels: {trees[0][0]} (use label=path)")
    better = {}
    bench = os.path.join(trees[0][1], "BENCHMARK.json")
    if os.path.exists(bench):
        with open(bench) as f:
            better = {m["name"]: m["better"] for m in json.load(f)["end_to_end"]}

    runs: dict[str, list[dict]] = {label: [] for label, _ in trees}
    for i, seed in enumerate(parse_seeds(args.seeds)):
        for pos, (label, path) in enumerate(trees if i % 2 == 0 else trees[::-1]):
            out = run_perfbench(path, args.perfbench, seed, args.seconds, args.trace)
            vals = {k: m["value"] for k, m in out["metrics"].items()}
            runs[label].append({"correct": out["correct"], **vals})
            print(json.dumps({
                "pair": i, "seed": seed, "tree": label, "pos": pos,
                "correct": out["correct"], "failed": out["failed"],
                "attempted": out["attempted"], "rc": out["rc"], **vals,
            }), flush=True)

    (la, _), (lb, _) = trees
    for label in (la, lb):
        ok = sum(r["correct"] for r in runs[label])
        print(f"{label}: {ok}/{len(runs[label])} runs correct")
    names = sorted({k for r in runs[la] for k in r if k != "correct"})
    print(f"\n{'metric':28s} {la + ' median (q1-q3)':>30s} {lb + ' median (q1-q3)':>30s}"
          f" {'change':>8s} {'wins':>6s}  beyond-spread")
    for name in names:
        pairs = [(a[name], b[name]) for a, b in zip(runs[la], runs[lb])
                 if name in a and name in b]
        if not pairs:
            continue
        lower = better.get(name, "lower") == "lower"
        qa, qb = quartiles([a for a, _ in pairs]), quartiles([b for _, b in pairs])
        wins = sum((b < a) if lower else (b > a) for a, b in pairs)
        delta = (qb[1] - qa[1]) / qa[1] * 100 if qa[1] else float("nan")
        beyond = abs(qb[1] - qa[1]) > qa[2] - qa[0]
        print(f"{name:28s} {qa[1]:12.4f} ({qa[0]:.4f}-{qa[2]:.4f})"
              f" {qb[1]:12.4f} ({qb[0]:.4f}-{qb[2]:.4f}) {delta:+7.1f}%"
              f" {wins:3d}/{len(pairs):<2d}  {beyond}")
    return 0


def main() -> int:
    argv = sys.argv
    if "--perfbench" in argv:
        return perfbench_main(argv)
    arms = [parse_arm(argv[i + 1]) for i, a in enumerate(argv) if a == "--arm"]
    if len(arms) < 2:
        raise SystemExit("need at least two --arm entries")
    labels = [a["label"] for a in arms]
    if len(set(labels)) != len(labels):
        raise SystemExit(f"duplicate arm labels: {labels} (use label=query)")
    sf_dir = (
        argv[argv.index("--sf-dir") + 1]
        if "--sf-dir" in argv
        else "/root/testdata/sf0.1"
    )
    reps = int(argv[argv.index("--reps") + 1]) if "--reps" in argv else 5
    isolate = "--isolate" in argv

    from stock_etl_pipeline_spark.workload import load_all

    registry = load_all()
    unknown = [a["query"] for a in arms if a["query"] not in registry]
    if unknown:
        raise SystemExit(f"--arm queries not in registry: {unknown}")

    spark = None
    if not isolate:
        from stock_etl_pipeline_spark.session import get_spark

        spark = get_spark(app_name="ab")
        # one untimed warm-up (same policy as bench.py): JVM + codegen
        registry["source_report"].fn(spark, sf_dir).write.mode("overwrite").format(
            "noop"
        ).save()

    times: dict[str, list[float]] = {a["label"]: [] for a in arms}
    for rep in range(reps):
        for arm in arms:
            sec = (
                run_cell_isolated(arm, sf_dir)
                if isolate
                else run_cell_inproc(spark, registry, arm, sf_dir)
            )
            times[arm["label"]].append(sec)
            print(
                json.dumps(
                    {"rep": rep, "arm": arm["label"], "sec": sec, "sf_dir": sf_dir}
                ),
                flush=True,
            )

    print(f"\n{'arm':32s} {'min':>8s} {'median':>8s}  reps")
    med0 = statistics.median(times[labels[0]])
    for label in labels:
        ts = times[label]
        med = statistics.median(ts)
        ratio = f"  ({med / med0:.2f}x vs {labels[0]})" if label != labels[0] else ""
        print(
            f"{label:32s} {min(ts):8.2f} {med:8.2f}  "
            + " ".join(f"{t:.2f}" for t in ts)
            + ratio
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
