#!/usr/bin/env python3
"""Benchmark the package end to end on one workload.

    python3 perfbench/run.py --workload etl_daily --seed 1 --seconds 8 --trace 0

Run from the repository root (the package is imported from the current
directory). One process, one client, ``local[4]``. The run:

1. times set-up (``setup_s``): session start, input/table preparation in
   an empty scratch directory, and one discarded warm-up pass;
2. runs the host ruler (``perfbench/probes.py``): the CPU loop, the Spark
   reference (``spark_ref_s``), and with ``--trace 1`` the two Spark
   sentinels, which cost about 4 s a run;
3. runs whole passes of the workload's fixed op list until ``--seconds``
   have elapsed (and at least three with ``--trace 1``), timing every op;
4. runs the ruler again, checks every op's output and the final state;
5. prints a human summary line, then, as the last line, one JSON object
   ``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
   metrics with ``--trace 0`` (``wall_s`` and ``op_p50_s`` at the reference
   host speed, see ``REF_S``), the per-layer metrics with ``--trace 1``.

An op fails when it raises, returns a wrong output, or passes its
deadline (its Spark jobs are then cancelled). ``error_rate`` is
``failed / attempted``. A traced run alternates untraced and traced passes,
starting untraced; ``trace.overhead_s`` is the difference of their median
pass times, so the untraced passes bracket the traced one.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback

import inputs
import probes
import tracing
from workloads import CALLS, WORKLOADS, CorpusDedup

HERE = os.path.dirname(os.path.abspath(__file__))
OP_DEADLINE_S = 60.0
RUN_DEADLINE_S = 170.0
RULER_ROWS = 100_000  # lineitem rows under the sentinels, from a fixed seed
# The session's own driver option, plus C1-only JIT. With the default
# tiered JIT, C2 keeps compiling for five or more passes (the JVM's CPU
# time per etl_daily pass fell from 26 s to 10 s over nine passes), so the
# passes a one-minute run can measure sit on that tail, and how much it
# slows them depends on how busy the host is. C1 settles within the
# warm-up pass; the steady pass is about 10 % slower. C1-only shrinks the
# default code cache to 48 MB, which a run fills (the JIT is then disabled,
# or the JVM fails), so the tiered default of 240 MB is set back.
DRIVER_JAVA_OPTIONS = (
    "-Duser.timezone=UTC -XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m")
# ``wall_s`` and ``op_p50_s`` are reported at a reference host speed: the
# raw seconds times REF_S / the run's ``probes.spark_ref_s``, measured just
# before and just after the measured loop. Other guests on a shared host
# slow every Spark job of a run alike, by up to 2x within minutes; over 16
# runs the raw pass time correlated 0.88-0.93 with the reference. REF_S is
# about the reference's time on an idle 4-vCPU host.
REF_S = 1.5


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def op_p50_s(results, kinds) -> float:
    """Geometric mean over the workload's op kinds (``kinds``) of each
    kind's median op time: every kind weighs the same, however long it
    takes."""
    by_kind: dict[str, list[float]] = {}
    for r in results:
        if r[2].kind in kinds:
            by_kind.setdefault(r[2].kind, []).append(r[4])
    return statistics.geometric_mean([statistics.median(v) for v in by_kind.values()])


class Watchdog(threading.Thread):
    """Cancels the current op's Spark jobs at its deadline; kills the run
    (no result line, non-zero exit) at the run deadline."""

    def __init__(self, t_start: float, kill) -> None:
        super().__init__(daemon=True)
        self.t_start, self.kill = t_start, kill
        self.sc = None
        self.op_start: float | None = None
        self.expired = False
        self.done = threading.Event()

    def begin(self) -> None:
        self.expired = False
        self.op_start = time.perf_counter()

    def end(self) -> bool:
        self.op_start = None
        return not self.expired

    def run(self) -> None:
        while not self.done.wait(0.5):
            now = time.perf_counter()
            if now - self.t_start > RUN_DEADLINE_S:
                print(f"run deadline {RUN_DEADLINE_S}s passed", file=sys.stderr)
                self.kill()
                os._exit(3)
            start = self.op_start
            if start is not None and now - start > OP_DEADLINE_S and not self.expired:
                self.expired = True
                if self.sc is not None:
                    self.sc.cancelAllJobs()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    t_start = time.perf_counter()
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "stock_etl_pipeline_spark")):
        print("run from the repository root: stock_etl_pipeline_spark/ not found",
              file=sys.stderr)
        return 2
    # Python workers are forked by the JVM and must import the package too;
    # they inherit this environment.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, HERE, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, root)

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    scratch = os.path.join(root, ".perfbench_run", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)
    procs: list = []

    def kill_jvm() -> None:
        for p in procs:
            if p.poll() is None:
                p.kill()
                p.wait()

    def stop_jvm() -> None:
        # the JVM exits at end of stdin once its context has stopped
        for p in procs:
            try:
                p.stdin.close()
                p.wait(timeout=30)
            except (OSError, subprocess.TimeoutExpired):
                pass  # killed below
        kill_jvm()

    def abort() -> None:
        kill_jvm()
        shutil.rmtree(scratch, ignore_errors=True)

    dog = Watchdog(t_start, abort)
    dog.start()
    try:
        return _run(args, root, scratch, procs, dog)
    finally:
        dog.done.set()
        stop_jvm()
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(scratch))
        except OSError:
            pass  # another run's scratch is still there


def _run(args, root, scratch, procs, dog) -> int:
    ruler = os.path.join(scratch, "ruler")
    if args.trace:
        os.makedirs(ruler)
        inputs.write_lineitem(os.path.join(ruler, "lineitem.parquet"), 0, RULER_ROWS)
    cpu = [probes.cpu_loop_s()]

    conf = {
        "spark.local.dir": os.path.join(scratch, "local"),
        "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
        "spark.driver.extraJavaOptions": DRIVER_JAVA_OPTIONS,
    }
    events = os.path.join(scratch, "events")
    if args.trace:
        os.makedirs(events)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + events,
                     "spark.eventLog.compress": "false"})

    from stock_etl_pipeline_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}", master="local[4]",
                      shuffle_partitions=4, extra_conf=conf)
    session_start_s = time.perf_counter() - t0
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    procs.append(sc._gateway.proc)
    dog.sc = sc

    tr = tracing.Tracer(False)
    if args.trace:
        _instrument(tr)
    wl = WORKLOADS[args.workload](spark, scratch, args.seed, tr)

    results = []  # (pass index, traced, op, op id, seconds, result, in time)

    def run_pass(k: int, traced: bool) -> float:
        tr.enabled = traced
        busy = 0.0
        for j, op in enumerate(wl.next_pass()):
            op_id = f"p{k}-{j}-{op.name}"
            if op.before is not None:
                op.before()
            sc.setJobGroup(op_id, op.name, interruptOnCancel=True)
            tr.op = op_id
            dog.begin()
            t = time.perf_counter()
            try:
                res = op.run()
            except Exception:
                traceback.print_exc(file=sys.stderr)
                res = None
            dt = time.perf_counter() - t
            busy += dt
            in_time = dog.end()
            tr.op = None
            if res is not None:
                wl.after_op(op, res)
            if traced:
                jobs, stages, tasks = tracing.status_counts(sc, op_id)
                tr.counts[f"{op_id}:jobs"] = jobs
                tr.counts[f"{op_id}:stages"] = stages
                tr.counts[f"{op_id}:tasks"] = tasks
            results.append((k, traced, op, op_id, dt, res, in_time))
        tr.enabled = False
        return busy  # the ops' own time; bookkeeping between ops excluded

    t1 = time.perf_counter()
    wl.setup()
    t2 = time.perf_counter()
    run_pass(0, False)  # warm-up, discarded
    setup_s = time.perf_counter() - t0
    prepare_s, warmup_s = t2 - t1, t0 + setup_s - t2
    warm = [r for r in results if r[0] == 0]
    del results[:]

    sent = [probes.sentinels(spark, ruler)] if args.trace else []
    probes.spark_ref_s(spark)  # warms the reference's plan; not timed
    ref = [probes.spark_ref_s(spark)]

    passes: list[tuple[bool, float]] = []
    steal0 = probes.steal_s()
    t_loop = time.perf_counter()
    k = 1
    while True:
        traced = bool(args.trace) and k % 2 == 0
        passes.append((traced, run_pass(k, traced)))
        k += 1
        enough = time.perf_counter() - t_loop >= args.seconds
        if enough and (not args.trace or len(passes) >= 3):
            break

    steal_loop_s = probes.steal_s() - steal0
    ref.append(probes.spark_ref_s(spark))
    scale = REF_S / statistics.mean(ref)
    if args.trace:
        sent.append(probes.sentinels(spark, ruler))
    cpu.append(probes.cpu_loop_s())

    def ok(r) -> bool:
        k, traced, op, op_id, dt, res, in_time = r
        try:
            good = res is not None and in_time and wl.check(op, res)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            good = False
        if not good:
            print(f"op {op_id} failed", file=sys.stderr)
        return good

    t_check = time.perf_counter()
    wl.prepare_checks()
    failed = sum(not ok(r) for r in results)
    warm_ok = all([ok(r) for r in warm])
    final_ok = wl.verify()
    attempted = len(results)
    check_s = time.perf_counter() - t_check

    metrics: dict[str, tuple[float, str]]
    if not args.trace:
        metrics = {
            "setup_s": (setup_s, "s"),
            "wall_s": (_median([s for _, s in passes]) * scale, "s"),
            "op_p50_s": (op_p50_s(results, wl.OP_KINDS) * scale, "s"),
        }
    else:
        rss = _peak_rss_mb(sc._gateway.proc.pid)
        traced_ops = {r[3] for r in results if r[1]}
        first = min(r[0] for r in results if r[1])
        first_ops = [r for r in results if r[0] == first]
        metrics = _layer_metrics(
            tr, wl, passes, traced_ops, first_ops, first,
            session_start_s, rss, cpu, sent, ref)

    spark.stop()
    sc._gateway.shutdown()
    if args.trace:
        # the event log is complete once the context has stopped
        metrics.update({
            k: (v, "bytes" if k.endswith("bytes") else "ratio")
            for k, v in tracing.event_log_counts(events, {r[3] for r in first_ops}).items()
        })
        tr.unwrap_all()
        out_dir = os.path.join(root, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        tr.dump(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-spans.jsonl"))

    summary = {
        "workload": args.workload, "seed": args.seed, "passes": len(passes),
        "ops_per_pass": len(results) // max(len(passes), 1),
        "error_rate": failed / max(attempted, 1),
        "setup_s": round(setup_s, 4), "session_start_s": round(session_start_s, 4),
        "prepare_s": round(prepare_s, 4), "warmup_s": round(warmup_s, 4),
        "before_setup_s": round(t0 - dog.t_start, 4),
        "check_s": round(check_s, 4),
        "run_s": round(time.perf_counter() - dog.t_start, 4),
        "pass_s": [round(s, 4) for _, s in passes],
        "op_s": [[r[2].name, round(r[4], 4)] for r in results],
        "host_cpu_loop_s": [round(x, 4) for x in cpu],
        "host_steal_loop_s": round(steal_loop_s, 2),
        "host_ref_s": [round(x, 4) for x in ref],
        "wall_raw_s": round(_median([s for _, s in passes]), 4),
        "host_sentinel_jvm_s": [round(s[0], 4) for s in sent],
        "host_sentinel_arrow_s": [round(s[1], 4) for s in sent],
    }
    if hasattr(wl, "pass_stats") and len(wl.pass_stats) > 1:
        summary["bytes_written_per_row"] = round(wl.bytes_per_row(1), 4)
    print(json.dumps(summary))
    print(json.dumps({
        "correct": failed == 0 and warm_ok and final_ok,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def _instrument(tr) -> None:
    """Spans and counters at layer boundaries inside the program, by
    patching the module attributes it looks up at call time."""
    from stock_etl_pipeline_spark import caching
    from stock_etl_pipeline_spark.sinks import acid

    tr.wrap(caching, "eager_cache", "caching.eager_fill")

    # A file-COW merge retries when its pre-write probe or its commit
    # raises CommitConflict; the commit runs the probe's check again, so a
    # conflict inside it counts once. With one client nothing else writes
    # the table, so this stays 0 unless a commit races itself.
    in_commit = [False]

    def counting(orig, is_commit):
        def call(*a, **kw):
            if is_commit:
                in_commit[0] = True
            try:
                return orig(*a, **kw)
            except acid.CommitConflict:
                if is_commit or not in_commit[0]:
                    tr.count("sinks.acid.commit_retries")
                raise
            finally:
                if is_commit:
                    in_commit[0] = False
        return call

    tr.patch(acid, "_commit_manifest", counting(acid._commit_manifest, True))
    tr.patch(acid, "_resolve_commit_ordinal",
             counting(acid._resolve_commit_ordinal, False))


def _peak_rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _layer_metrics(tr, wl, passes, traced_ops, first_ops, first, session_start_s,
                   rss, cpu, sent, ref) -> dict:
    """Per-layer metrics. Times are self seconds per traced pass (median
    over traced passes), so they add up to about ``wall_s``; counters are
    totals over the first traced pass, which the seed fixes."""
    by_pass: dict[int, set] = {}
    for op_id in traced_ops:
        by_pass.setdefault(op_id.split("-")[0], set()).add(op_id)
    per_pass = [tr.self_times(ops) for ops in by_pass.values()]

    def t(name: str) -> float:
        return _median([p.get(name, 0.0) for p in per_pass])

    m: dict[str, tuple[float, str]] = {
        "session.start_s": (session_start_s, "s"),
        "session.jvm_peak_rss_mb": (rss, "MB"),
        "host.cpu_loop_s": (_median(cpu), "s"),
        "host.sentinel_jvm_s": (_median([s[0] for s in sent]), "s"),
        "host.sentinel_arrow_s": (_median([s[1] for s in sent]), "s"),
        "host.spark_ref_s": (statistics.mean(ref), "s"),
        "sources.extract_s": (t("sources.extract"), "s"),
        "operators.transform_merge_s": (t("operators.transform_merge"), "s"),
        "quality.validate_s": (t("quality.validate"), "s"),
        "sinks.acid.upsert_s": (t("sinks.acid.upsert"), "s"),
        "sinks.acid.read_s": (t("sinks.acid.read"), "s"),
        "sinks.acid.read_resolve_s": (t("sinks.acid.read_resolve"), "s"),
        "sinks.acid.compact_s": (t("sinks.acid.compact"), "s"),
        "caching.eager_fill_s": (t("caching.eager_fill"), "s"),
    }
    for c in CALLS:
        m[f"operators.{c}_s"] = (t(f"operators.{c}"), "s")
    queries = CorpusDedup.QUERIES
    for q in queries:
        m[f"workload.{q}.build_s"] = (t(f"workload.{q}.build"), "s")
        m[f"workload.{q}.exec_s"] = (t(f"workload.{q}.exec"), "s")
    m["workload.build_s"] = (sum(m[f"workload.{q}.build_s"][0] for q in queries), "s")
    m["workload.exec_s"] = (sum(m[f"workload.{q}.exec_s"][0] for q in queries), "s")

    first_ids = {r[3] for r in first_ops}
    first_spans = [s for s in tr.spans if s[4] in first_ids]
    m["caching.eager_fills"] = (
        sum(1 for s in first_spans if s[0] == "caching.eager_fill"), "count")
    n = max(len(first_ops), 1)
    for kind in ("jobs", "stages", "tasks"):
        total = sum(tr.counts.get(f"{r[3]}:{kind}", 0) for r in first_ops)
        m[f"spark.{kind}"] = (total / n, "count/op")

    st = getattr(wl, "pass_stats", None)
    st = st[first] if st else {}
    m["sinks.acid.commit_retries"] = (tr.counts.get("sinks.acid.commit_retries", 0), "count")
    m["sinks.acid.files_written"] = (st.get("files", 0), "count")
    m["sinks.acid.bytes_written"] = (st.get("bytes", 0), "bytes")
    m["sinks.acid.bytes_written_per_row"] = (
        st["bytes"] / st["rows"] if st.get("rows") else 0.0, "bytes/row")
    m["sinks.acid.compact_bytes_rewritten"] = (st.get("compact_bytes", 0), "bytes")
    m["sinks.acid.manifest_files"] = (st.get("manifest_files", 0), "count")

    traced = [s for on, s in passes if on]
    plain = [s for on, s in passes if not on]
    m["trace.wall_s"] = (_median(traced), "s")
    m["trace.overhead_s"] = (_median(traced) - _median(plain), "s")
    return m


if __name__ == "__main__":
    raise SystemExit(main())
