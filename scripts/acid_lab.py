#!/usr/bin/env python
"""ACID-table cost lab (round 12, VERDICT r11 items 3 + 7).

Two studies over sinks/acid.py:

--cow    Commit-cost scaling: seed tables at 4x/16x/64x the sf0.1
         lineitem row count (key-range-partitioned so file bounds prune;
         override with --mults), then merge a CONSTANT-size update batch
         touching a narrow key range.
         table-COW rewrites the whole table per commit (cost grows with
         table size); file-COW rewrites only the touched files (cost
         ~flat). The VERDICT r11 item-3 acceptance measurement.

--churn  Long-stream churn: N file-COW merge commits in sequence (the
         stream_acid_merge shape — foreachBatch serializes commits, so a
         driver-side loop over acid_merge_upsert measures the same path
         without streaming-engine overhead). Records, at checkpoints,
         the per-commit wall and Spark jobs (one job group per commit,
         so work moved shows beside wall time), the _commits/ marker
         count + listStatus time (paid by EVERY commit's ordinal
         resolution), manifest entries + JSON bytes, and data/ file
         count. Arms:
           none         no maintenance — every fixed cost grows with N
           maintained   vacuum_every=50 keep=2 + compact_every=50
         The VERDICT r11 item-7 soak; the retention-policy numbers in
         SCALING round 12 come from here.

--oslab  The --churn loop under SIMULATED OBJECT-STORE semantics
         (sinks/objectstore.SimulatedObjectStore: claim-first publish,
         conditional-PUT markers, copy-based renames) — reports
         per-commit REQUEST counts by class (paged LIST / HEAD / GET /
         PUT / COPY / DELETE) instead of local wall-clock, plus the
         isolated cost of one ordinal resolution at each checkpoint's
         marker count. The round-13 object-store acceptance study.

Usage:
  python scripts/acid_lab.py --cow  [--sf /root/testdata/sf0.1]
  python scripts/acid_lab.py --churn [--commits 1000] [--batch-rows 200]
                             [--scale 10] [--arm none|maintained|both]
  python scripts/acid_lab.py --oslab [--commits 1000] [--scale 2]

Output: one JSON line per measurement row, then a summary block.
Run on an idle host; commit costs are wall-clock.
"""
from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _spark():
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master(
            f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]"
        )
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .appName("acid-lab")
        .getOrCreate()
    )


def _base_rows(spark, sf_dir, mult: int):
    """lineitem keyed by a unique BIGINT id, replicated ``mult`` times into
    disjoint key ranges (same row width at every size — only length grows)."""
    from pyspark.sql import functions as F

    li = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .select(
            (F.col("l_orderkey") * 8 + F.col("l_linenumber")).alias("id"),
            "l_partkey", "l_quantity", "l_extendedprice", "l_shipdate",
        )
    )
    span = li.agg(F.max("id")).collect()[0][0] + 1
    parts = [li.withColumn("id", F.col("id") + F.lit(i * span)) for i in range(mult)]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out, span * mult


def run_cow(sf_dir: str, mults=(4, 16, 64), files_per_mult=2, batch_rows=1000):
    """Per (size, mode): seed once, then TWO timed merges of different
    constant-size batches — the second (warm) rep is the headline (the
    first carries plan/codegen warm-up). File size is held constant
    (files_per_mult x sf0.1-lineitem rows per x) so only file COUNT and
    total bytes grow with the table."""
    from pyspark.sql import functions as F

    from stock_etl_pipeline_spark.sinks import acid

    spark = _spark()
    spark.sparkContext.setLogLevel("ERROR")
    root = tempfile.mkdtemp(prefix="acid_cow_")
    results = []
    try:
        for mult in mults:
            base, _ = _base_rows(spark, sf_dir, mult)
            n_files = files_per_mult * mult  # constant file SIZE across sizes
            seeded = base.repartitionByRange(n_files, "id")
            n_rows = base.count()
            # two constant-size update batches, each in ONE narrow key range
            batches = []
            for lo in (0, 7 * batch_rows):
                b = (
                    base.filter(
                        (F.col("id") >= lo * 8) & (F.col("id") < (lo + batch_rows) * 8)
                    )
                    .limit(batch_rows)
                    .withColumn("l_quantity", F.col("l_quantity") + 1)
                ).cache()
                b.count()
                batches.append(b)
            for mode, flag in (("table_cow", False), ("file_cow", True)):
                tbl = f"{root}/{mode}_{mult}x"
                acid.acid_merge_upsert(spark, tbl, seeded, ["id"], file_cow=flag)
                walls = []
                rep = {}
                for b in batches:
                    t0 = time.monotonic()
                    rep = acid.acid_merge_upsert(spark, tbl, b, ["id"], file_cow=flag)
                    walls.append(round(time.monotonic() - t0, 3))
                row = {
                    "study": "cow", "mode": mode, "mult": mult,
                    "rows": n_rows, "files": n_files,
                    "batch_rows": batch_rows,
                    "commit_sec_cold": walls[0], "commit_sec_warm": walls[-1],
                    "files_rewritten": rep.get("files_rewritten"),
                    "files_total": rep.get("files_total"),
                }
                print(json.dumps(row), flush=True)
                results.append(row)
                shutil.rmtree(tbl, ignore_errors=True)
            for b in batches:
                b.unpersist()
    finally:
        shutil.rmtree(root, ignore_errors=True)
    by = {(r["mode"], r["mult"]): r["commit_sec_warm"] for r in results}
    summary = {
        "study": "cow_summary",
        "table_cow_warm_sec_by_mult": {m: by.get(("table_cow", m)) for m in mults},
        "file_cow_warm_sec_by_mult": {m: by.get(("file_cow", m)) for m in mults},
    }
    print(json.dumps(summary), flush=True)


def _churn_batch(spark, b: int, batch_rows: int, key_span: int):
    """One churn micro-batch (shared by --churn and --oslab so the two
    studies measure the SAME workload): alternates upserts into existing
    ranges and fresh inserts — the daily-feed mix (some files rewrite,
    table grows slowly)."""
    from pyspark.sql import functions as F

    lo = (b * 7919 * batch_rows) % key_span
    return spark.range(lo, lo + batch_rows).select(
        F.col("id"),
        F.lit(1).alias("l_partkey"),
        F.lit(float(b)).alias("l_quantity"),
        F.lit(1.0).alias("l_extendedprice"),
        F.lit("1996-01-01").cast("date").alias("l_shipdate"),
    )


def _churn_arm(spark, root, arm: str, n_commits: int, batch_rows: int,
               scale: int, checkpoints: set[int]):
    """One churn arm: sequential file-COW merges, maintenance per the arm."""
    from pyspark.sql import functions as F

    from stock_etl_pipeline_spark.sinks import acid

    tbl = f"{root}/churn_{arm}"
    base, key_span = _base_rows(spark, SF, scale)
    seeded = base.repartitionByRange(8 * scale, "id")
    acid.acid_merge_upsert(spark, tbl, seeded, ["id"], file_cow=True)
    rows_out = []
    win: list[float] = []
    jobs: list[int] = []
    fs, jvm = acid._fs(spark, tbl)
    sc = spark.sparkContext
    for b in range(1, n_commits + 1):
        batch = _churn_batch(spark, b, batch_rows, key_span)
        # one job group per commit: the Spark work it did, beside its wall
        group = f"churn-{arm}-{b}"
        sc.setJobGroup(group, f"churn commit {b}")
        t0 = time.monotonic()
        rep = acid.acid_merge_upsert(spark, tbl, batch, ["id"], file_cow=True)
        win.append(time.monotonic() - t0)
        jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
        if arm == "maintained" and b % 50 == 0:
            acid.acid_compact(spark, tbl, target_rows=1_000_000)
            acid.acid_vacuum(spark, tbl, keep=2)
        if b in checkpoints:
            t1 = time.monotonic()
            markers = acid._marker_ordinals(spark, tbl)
            list_sec = time.monotonic() - t1
            cur = acid._current_ordinal(spark, tbl)
            man = acid._manifest(spark, tbl, cur)
            mpath = f"{tbl}/snap-{cur:020d}/_manifest.json"
            dfiles = len(list(fs.listStatus(acid._hpath(jvm, acid._data_dir(tbl)))))
            row = {
                "study": "churn", "arm": arm, "commit": b,
                "commit_sec_median_win": round(sorted(win)[len(win) // 2], 3),
                "commit_sec_last": round(win[-1], 3),
                "commit_jobs_median_win": sorted(jobs)[len(jobs) // 2],
                "commit_jobs_last": jobs[-1],
                "n_markers": len(markers),
                "markers_list_sec": round(list_sec, 4),
                "manifest_files": len(man["files"]),
                "manifest_bytes": os.path.getsize(mpath),
                "data_files_on_disk": dfiles,
                "files_rewritten_last": rep.get("files_rewritten"),
            }
            print(json.dumps(row), flush=True)
            rows_out.append(row)
            win, jobs = [], []
    total = acid.acid_read(spark, tbl).count()
    print(json.dumps({"study": "churn", "arm": arm, "final_rows": total}),
          flush=True)
    shutil.rmtree(tbl, ignore_errors=True)
    return rows_out


def _oslab_arm(spark, root, arm: str, n_commits: int, batch_rows: int,
               scale: int, checkpoints: set[int]):
    """Churn under SIMULATED OBJECT-STORE semantics (claim-first publish,
    conditional-PUT markers, copy-based renames): the metadata cost of
    every commit measured in the store's native unit — REQUESTS —
    instead of local-disk wall-clock. The headline cell is paged LIST
    requests per commit for marker/ordinal resolution: S3-class stores
    return ≤1000 keys per LIST, so an unmaintained table crosses to
    2 LIST requests per resolution past 1000 accumulated markers and
    keeps climbing; the maintained arm's vacuum holds the marker count
    (and so the page count) flat. (VERDICT r12 item 1 acceptance row.)"""
    from pyspark.sql import functions as F

    from stock_etl_pipeline_spark.sinks import acid
    from stock_etl_pipeline_spark.sinks.objectstore import SimulatedObjectStore

    be = SimulatedObjectStore()
    tbl = f"{root}/oslab_{arm}"
    base, key_span = _base_rows(spark, SF, scale)
    seeded = base.repartitionByRange(8 * scale, "id")
    acid.acid_merge_upsert(spark, tbl, seeded, ["id"], file_cow=True,
                           backend=be)
    prev = dict(be.counts)
    prev_commit = 0
    rows_out = []
    for b in range(1, n_commits + 1):
        batch = _churn_batch(spark, b, batch_rows, key_span)
        acid.acid_merge_upsert(spark, tbl, batch, ["id"], file_cow=True,
                               backend=be)
        if arm == "maintained" and b % 50 == 0:
            acid.acid_compact(spark, tbl, target_rows=1_000_000, backend=be)
            acid.acid_vacuum(spark, tbl, keep=2, backend=be)
        if b in checkpoints:
            window = b - prev_commit
            delta = {k: be.counts[k] - prev[k] for k in be.counts}
            n_markers = len(acid._marker_ordinals(spark, tbl, be))
            # isolate ONE ordinal resolution's cost at this marker count
            snap0 = dict(be.counts)
            acid._current_ordinal(spark, tbl, be)
            resolve = {k: be.counts[k] - snap0[k]
                       for k in ("list_requests", "head")}
            row = {
                "study": "oslab", "arm": arm, "commit": b,
                "n_markers": n_markers,
                "resolve_list_requests": resolve["list_requests"],
                "resolve_heads": resolve["head"],
                **{f"{k}_per_commit": round(delta[k] / window, 2)
                   for k in ("list_requests", "head", "get", "put",
                             "copy", "delete", "conditional_put")},
            }
            print(json.dumps(row), flush=True)
            rows_out.append(row)
            prev = dict(be.counts)
            prev_commit = b
    shutil.rmtree(tbl, ignore_errors=True)
    return rows_out


def run_oslab(n_commits: int, batch_rows: int, scale: int, arm: str):
    spark = _spark()
    spark.sparkContext.setLogLevel("ERROR")
    root = tempfile.mkdtemp(prefix="acid_oslab_")
    cps = {1, 10, 50, 100, 250, 500, 750, 1000}
    cps = {c for c in cps if c <= n_commits} | {n_commits}
    try:
        arms = ["none", "maintained"] if arm == "both" else [arm]
        for a in arms:
            _oslab_arm(spark, root, a, n_commits, batch_rows, scale, cps)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def run_manifest(sizes=(1_000, 10_000, 100_000), batch_rows=200):
    """Manifest-scale sweep (VERDICT r12 item 2): per-commit metadata cost
    at 10^3..10^5 manifest entries, DECOMPOSED. A tiny real table gets its
    manifest padded with synthetic entries carrying disjoint bounds (fake
    files are never read: the merge batch touches only the one real
    file's key range, so bounds pruning excludes every synthetic entry —
    the metadata path exercised is the REAL one: whole-manifest JSON
    read, driver-side bounds loop over all N entries, whole-manifest JSON
    write). Reported per size: manifest JSON read sec, bounds-loop sec,
    JSON write sec, manifest bytes, and the full merge-commit wall —
    versus the ~constant data-rewrite term."""
    from pyspark.sql import functions as F

    from stock_etl_pipeline_spark.sinks import acid

    spark = _spark()
    spark.sparkContext.setLogLevel("ERROR")
    root = tempfile.mkdtemp(prefix="acid_manifest_")
    try:
        for n in sizes:
            tbl = f"{root}/man_{n}"
            be = acid._backend(spark, tbl)
            seed = spark.range(0, 1000).select(
                F.col("id"), (F.col("id") * 2).alias("v")
            ).coalesce(1)
            acid.acid_merge_upsert(spark, tbl, seed, ["id"], file_cow=True)
            cur = acid._current_ordinal(spark, tbl, be)
            man = acid._manifest(spark, tbl, cur, be)
            # pad with synthetic entries in disjoint key ranges FAR above
            # the real file's [0, 999] — never candidates, never read
            pad = {
                f"synthetic-{i:07d}.parquet": {
                    "rows": 1_000_000,
                    "bounds": {"id": [10_000 + i * 2_000,
                                      10_000 + i * 2_000 + 999]},
                }
                for i in range(n - len(man["files"]))
            }
            man = {**man, "files": {**man["files"], **pad}}
            acid._commit_manifest(
                spark, tbl, man, parent=cur, operation="inject",
                rows=sum(s["rows"] for s in man["files"].values()), be=be,
            )
            cur = acid._current_ordinal(spark, tbl, be)

            # decomposed metadata terms (3 reps, median)
            def med(f, reps=3):
                walls = []
                for _ in range(reps):
                    t0 = time.monotonic()
                    f()
                    walls.append(time.monotonic() - t0)
                return sorted(walls)[1]

            read_sec = med(lambda: acid._manifest(spark, tbl, cur, be))
            live = acid._manifest(spark, tbl, cur, be)

            def bounds_loop():
                lo, hi = 100, 100 + batch_rows  # the real file's range
                cands = []
                for name, s in live["files"].items():
                    b = s.get("bounds") or {}
                    if "id" in b and (b["id"][1] < lo or b["id"][0] > hi):
                        continue
                    cands.append(name)
                return cands

            loop_sec = med(bounds_loop)
            write_sec = med(
                lambda: be.write_json(f"{tbl}/__probe.json", live)
            )
            be.delete(f"{tbl}/__probe.json")
            mpath = f"{tbl}/snap-{cur:020d}/_manifest.json"
            mbytes = os.path.getsize(mpath)

            # full merge wall, warm (2 reps), batch touches ONLY real keys
            batch = spark.range(100, 100 + batch_rows).select(
                F.col("id"), F.lit(7).cast("long").alias("v")
            )
            walls = []
            for _ in range(2):
                t0 = time.monotonic()
                rep = acid.acid_merge_upsert(spark, tbl, batch, ["id"],
                                             file_cow=True)
                walls.append(time.monotonic() - t0)
            row = {
                "study": "manifest", "entries": n,
                "manifest_bytes": mbytes,
                "read_sec": round(read_sec, 4),
                "bounds_loop_sec": round(loop_sec, 4),
                "write_sec": round(write_sec, 4),
                "merge_commit_sec_warm": round(walls[-1], 3),
                "files_rewritten": rep.get("files_rewritten"),
            }
            print(json.dumps(row), flush=True)
            shutil.rmtree(tbl, ignore_errors=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def run_zorder_trade(rows=400_000, n_batches=16, batch_rows=2_000,
                     target_rows=50_000):
    """Measure the documented z-order compaction trade (VERDICT r12 item
    6): acid_compact(zorder_cols=[x, y]) clusters packed files on the
    Z-curve — multi-column SCAN pruning improves (measured for the plain
    zorder sink, SCALING round 10) at the cost of per-file bounds on the
    single MERGE key becoming boxes. This quantifies the cost side: the
    same narrow-key-range churn batch merged into a range-packed vs a
    z-ordered table — touched-file count, merge wall, and the manifest's
    key-bounds overlap factor (sum of per-file key spans / table key
    span; ~1.0 = disjoint range layout, >>1 = boxy)."""
    from pyspark.sql import functions as F

    from stock_etl_pipeline_spark.sinks import acid

    spark = _spark()
    spark.sparkContext.setLogLevel("ERROR")
    root = tempfile.mkdtemp(prefix="acid_ztrade_")
    base = spark.range(rows).select(
        F.col("id").alias("k"),
        (F.pmod(F.col("id") * 2654435761, 100_000) / 1000.0).alias("x"),
        (F.pmod(F.col("id") * 40503 + 7, 100_000) / 1000.0).alias("y"),
    )
    per = rows // n_batches
    try:
        for arm, zcols in (("range_pack", None), ("zorder", ["x", "y"])):
            tbl = f"{root}/{arm}"
            for b in range(n_batches):  # small-file insert tail
                acid.acid_merge_upsert(
                    spark, tbl,
                    base.filter(
                        (F.col("k") >= b * per) & (F.col("k") < (b + 1) * per)
                    ).coalesce(1),
                    ["k"], file_cow=True,
                )
            acid.acid_compact(spark, tbl, target_rows=target_rows,
                              zorder_cols=zcols)
            be = acid._backend(spark, tbl)
            man = acid._manifest(spark, tbl, acid._current_ordinal(spark, tbl, be), be)
            spans = [s["bounds"]["k"][1] - s["bounds"]["k"][0] + 1
                     for s in man["files"].values() if "k" in (s.get("bounds") or {})]
            overlap = round(sum(spans) / rows, 2)
            walls, reps = [], {}
            for lo in (rows // 3, 2 * rows // 3):  # two narrow k ranges
                batch = base.filter(
                    (F.col("k") >= lo) & (F.col("k") < lo + batch_rows)
                ).withColumn("x", F.col("x") + 1000.0)
                t0 = time.monotonic()
                reps = acid.acid_merge_upsert(spark, tbl, batch, ["k"],
                                              file_cow=True)
                walls.append(round(time.monotonic() - t0, 3))
            row = {
                "study": "zorder_trade", "arm": arm, "rows": rows,
                "files_after_compact": len(man["files"]),
                "key_bounds_overlap_factor": overlap,
                "batch_rows": batch_rows,
                "files_rewritten_warm": reps.get("files_rewritten"),
                "merge_sec_cold": walls[0], "merge_sec_warm": walls[-1],
            }
            print(json.dumps(row), flush=True)
            shutil.rmtree(tbl, ignore_errors=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def run_churn(n_commits: int, batch_rows: int, scale: int, arm: str):
    spark = _spark()
    spark.sparkContext.setLogLevel("ERROR")
    root = tempfile.mkdtemp(prefix="acid_churn_")
    cps = {1, 10, 50, 100, 250, 500, 750, 1000}
    cps = {c for c in cps if c <= n_commits} | {n_commits}
    try:
        arms = ["none", "maintained"] if arm == "both" else [arm]
        for a in arms:
            _churn_arm(spark, root, a, n_commits, batch_rows, scale, cps)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--cow", action="store_true")
    ap.add_argument("--churn", action="store_true")
    ap.add_argument("--oslab", action="store_true",
                    help="churn under simulated OBJECT-STORE semantics; "
                         "reports per-commit request counts by class")
    ap.add_argument("--manifest", action="store_true",
                    help="manifest-scale sweep: per-commit metadata cost "
                         "decomposed at 1k/10k/100k manifest entries")
    ap.add_argument("--zorder-trade", action="store_true",
                    help="merge cost on a range-packed vs z-order-clustered "
                         "table: touched files, wall, bounds overlap")
    ap.add_argument("--sf", default=SF)
    ap.add_argument("--commits", type=int, default=1000)
    ap.add_argument("--batch-rows", type=int, default=200)
    ap.add_argument("--scale", type=int, default=10,
                    help="table size as a multiple of sf0.1 lineitem (10 = the 10x tier)")
    ap.add_argument("--arm", default="both", choices=["none", "maintained", "both"])
    ap.add_argument("--mults", type=lambda s: tuple(int(x) for x in s.split(",")),
                    default=(4, 16, 64),
                    help="--cow table sizes as multiples of sf0.1 lineitem")
    args = ap.parse_args()
    if args.cow:
        run_cow(args.sf, mults=args.mults)
    if args.churn:
        run_churn(args.commits, args.batch_rows, args.scale, args.arm)
    if args.oslab:
        run_oslab(args.commits, args.batch_rows, args.scale, args.arm)
    if args.manifest:
        run_manifest()
    if args.zorder_trade:
        run_zorder_trade()
    if not (args.cow or args.churn or args.oslab or args.manifest
            or args.zorder_trade):
        print("pick --cow, --churn, --oslab, --manifest and/or "
              "--zorder-trade", file=sys.stderr)
        sys.exit(2)


if __name__ == "__main__":
    main()
