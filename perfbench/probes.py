"""Host-speed ruler: a fixed Python loop and the two Spark sentinels.

None of these touch code that a change to the package could move; they
exist to tell "the host was slower" apart from "the code got slower". The
two sentinel plans are copied verbatim from ``bench.py`` (where they are
nested in ``main()`` and cannot be imported), timed cold-plan.
"""

from __future__ import annotations

import os
import time

CPU_LOOP_N = 3_000_000
REF_JOBS = 15


def spark_ref_s(spark) -> float:
    """Seconds for ``REF_JOBS`` tiny Spark SQL jobs that run no package
    code. Like the workloads' ops, their time is mostly per-job overhead
    (planning, scheduling, thread hand-offs), so it moves with a busy host
    the way the ops do, which the single-thread CPU loop does not."""
    spark.catalog.clearCache()
    t0 = time.perf_counter()
    for _ in range(REF_JOBS):
        spark.range(200).selectExpr("id % 7 AS k").groupBy("k").count().collect()
    return time.perf_counter() - t0


def steal_s() -> float:
    """CPU seconds the hypervisor has given to other guests since boot,
    summed over this machine's CPUs (``/proc/stat``); 0 where not
    reported."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def cpu_loop_s() -> float:
    """Seconds for a fixed pure-Python loop (no Spark, no I/O)."""
    t0 = time.perf_counter()
    s = 0
    for i in range(CPU_LOOP_N):
        s += i ^ (i >> 3)
    return time.perf_counter() - t0


def sentinels(spark, sf_dir: str) -> tuple[float, float]:
    """(jvm_s, arrow_s): wall seconds of bench.py's JVM and Python-worker
    sentinel plans over ``sf_dir``/lineitem.parquet."""

    def run(df) -> None:
        df.write.mode("overwrite").format("noop").save()

    def sentinel_probe():
        """Fixed host-speed probe — NEVER change this plan across rounds.

        Registry-independent on purpose: a registered query's plan can be
        (and has been) optimized between rounds, which would silently bend
        the normalization baseline. A lineitem scan + two-key hash agg
        exercises scan, shuffle, and codegen — the same machinery host
        drift acts on.
        """
        from pyspark.sql import functions as F

        return (
            spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(
                F.sum("l_quantity").alias("s_qty"),
                F.avg("l_extendedprice").alias("a_price"),
                F.count("*").alias("n"),
            )
        )

    def sentinel_arrow_probe():
        """Fixed Python-worker probe — NEVER change this plan across rounds.

        Same registry-independence contract as ``sentinel_probe`` but for
        the tier that probe cannot see: the Arrow/Python-worker path.
        Lineitem scan -> two int64 columns over Arrow IPC -> numpy combine
        + md5 fold per record batch -> one-row aggregate. Exercises Python
        daemon fork/reuse, Arrow (de)serialization throughput, and numpy —
        the machinery the mapInPandas signature/GEMM kernels run on.
        """
        import hashlib

        import pandas as pd
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType, StructField, StructType

        out_schema = StructType(
            [StructField("n", LongType()), StructField("h", LongType())]
        )

        def fold(batches):
            for pdf in batches:
                keys = (
                    pdf["l_orderkey"].to_numpy().astype("int64") * 1000003
                    + pdf["l_partkey"].to_numpy().astype("int64")
                )
                digest = hashlib.md5(keys.tobytes()).digest()
                # 32-bit per-batch hash: the one-row SUM stays far below
                # int64 under ANSI mode at any batch count.
                yield pd.DataFrame(
                    {
                        "n": [len(pdf)],
                        "h": [int.from_bytes(digest[:4], "big")],
                    }
                )

        return (
            spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
            .select("l_orderkey", "l_partkey")
            .mapInPandas(fold, out_schema)
            .groupBy()
            .agg(F.sum("n").alias("rows"), F.sum("h").alias("hsum"))
        )

    out = []
    for probe in (sentinel_probe, sentinel_arrow_probe):
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        run(probe())
        out.append(time.perf_counter() - t0)
    return out[0], out[1]
