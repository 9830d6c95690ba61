"""The benchmark's workloads. Each one is a closed loop with one client.

A workload prepares its inputs in ``setup`` (timed into ``setup_s``), then
hands out passes: a pass is a fixed list of ops, and an op is one trading
day, one compaction, one analytics call or one corpus query. Ops of the
same ``kind`` do like work. An op returns a raw result; ``check`` compares
it with an independently computed expectation after the timed loop, so
checking costs no op time.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import math
import os
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import functions as F

import inputs

FROZEN = dt.datetime(2024, 1, 2, 3, 4, 5)


def digest(columns, rows) -> str:
    """Order-insensitive hash of a result: columns sorted by lower-cased
    name, floats by ``repr`` (the repository's oracle comparison rule)."""

    def norm(v):
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else repr(v + 0.0)
        return str(v)

    order = sorted(range(len(columns)), key=lambda i: columns[i].lower())
    lines = sorted("\x1f".join(norm(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\x1f".join(sorted(c.lower() for c in columns)).encode())
    for line in lines:
        h.update(b"\x1e" + line.encode())
    return h.hexdigest()


def tree_bytes(path: str) -> dict[str, int]:
    out = {}
    for root, _, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            out[p] = os.path.getsize(p)
    return out


class Op:
    __slots__ = ("name", "kind", "run", "before")

    def __init__(self, name, kind, run, before=None) -> None:
        self.name, self.kind, self.run, self.before = name, kind, run, before


def _analytics_calls():
    """name -> fn(prices, as_of): the analytics SQL library, called on the
    warehouse table the daily commits write."""
    from stock_etl_pipeline_spark import quality
    from stock_etl_pipeline_spark.operators import analytics, asof, sketches, window

    def asof_close(df, as_of):
        def side(src):
            return df.filter(F.col("data_source") == src).select(
                "symbol", "date", "close")
        return asof.asof_join(side("alpha_vantage"), side("yahoo_finance"),
                              on=["symbol"], ts="date", value_cols=["close"])

    return {
        "daily_metrics": lambda df, as_of: analytics.daily_metrics(df),
        "rolling_moving_averages":
            lambda df, as_of: analytics.rolling_moving_averages(df),
        "cross_source_comparison":
            lambda df, as_of: analytics.cross_source_comparison(df),
        "data_profile": lambda df, as_of: analytics.data_profile(df, as_of),
        "top_k_per_group": lambda df, as_of: window.top_k_per_group(
            df, "symbol", "volume", 3, ("date", "data_source")),
        "asof_join": asof_close,
        "quality_metrics_df": lambda df, as_of: quality.quality_metrics_df(df, as_of),
        "histogram_quantiles": lambda df, as_of: sketches.histogram_quantiles(
            df, "close", [0.5, 0.9, 0.99]),
    }


CALLS = (
    "daily_metrics", "rolling_moving_averages", "cross_source_comparison",
    "data_profile", "top_k_per_group", "asof_join", "quality_metrics_df",
    "histogram_quantiles",
)


class EtlDaily:
    """The reference DAG replayed one trading day per op: two in-memory
    provider fetchers -> transform -> merge -> validate -> file-COW MERGE
    -> one read. Each pass of ``DAYS_PER_PASS`` days ends with one
    ``acid_compact`` op and one op per analytics call over ``acid_read``
    of the table. Ops run in a fixed order, so that a call's time does not
    change with the op that ran before it.

    Every analytics call reads the snapshot the first compaction (in the
    warm-up pass) published, through ``acid_read(..., ordinal=...)``: the
    layout the seeding, one daily commit and one compaction leave. One
    snapshot needs one set of expected results, so checking costs the
    same however many passes a run measures."""

    name = "etl_daily"
    # The op ``op_p50_s`` times is the trading day. Compaction and the
    # analytics calls count in ``wall_s`` and in their own spans: on a
    # table this small each call is a few sub-second Spark jobs whose time
    # swings with the host far more than the day's does.
    OP_KINDS = ("day",)
    SEED_DAYS = 30
    DAYS_PER_PASS = 1
    # Files under this many rows count as small and are packed: with the
    # default (1M) the whole table folds into one file that every later
    # restatement rewrites, and compaction never runs again.
    COMPACT_TARGET_ROWS = 1024

    def __init__(self, spark, root: str, seed: int, tracer) -> None:
        self.spark, self.tr = spark, tracer
        self.days = inputs.EtlDays(seed)
        self.table = os.path.join(root, "etl_table")
        self.calls = _analytics_calls()
        self.expected: dict[tuple, tuple] = {}
        # (ordinal, expected rows, as_of) of the snapshot the calls read
        self.read_at: tuple[int, dict, str] | None = None
        self._call_expected: dict[str, str] = {}
        self.next_day = 0
        self.seen_bytes: dict[str, int] = {}
        self.pass_stats: list[dict] = []

    def _apply(self, i: int) -> None:
        for src, name in (("alpha", "alpha_vantage"), ("yahoo", "yahoo_finance")):
            for d, s, *vals in self.days.rows(i, src):
                self.expected[(d, s, name)] = tuple(vals)

    def _frame(self, state: dict):
        """The transformed table a merge of ``state`` should hold."""
        from stock_etl_pipeline_spark.operators.transform import transform_stock_data
        from stock_etl_pipeline_spark.schemas import RAW_SCHEMA

        raw = [
            (d, s, o, h, lo, c, v, src, FROZEN)
            for (d, s, src), (o, h, lo, c, v) in sorted(state.items())
        ]
        return transform_stock_data(
            self.spark.createDataFrame(raw, RAW_SCHEMA), processed_at=FROZEN)

    def setup(self) -> None:
        from stock_etl_pipeline_spark.sinks.acid import acid_merge_upsert

        for i in range(self.SEED_DAYS):
            self._apply(i)
        acid_merge_upsert(
            self.spark, self.table, self._frame(self.expected),
            ["date", "symbol", "data_source"], file_cow=True,
        )
        self.next_day = self.SEED_DAYS
        self.seen_bytes = tree_bytes(self.table)

    def next_pass(self) -> list[Op]:
        first = self.next_day
        self.next_day += self.DAYS_PER_PASS
        self.pass_stats.append({"rows": 0, "bytes": 0, "files": 0})
        return (
            [Op(f"day{i}", "day", self._day_op(i)) for i in range(first, self.next_day)]
            + [Op("compact", "compact", self._compact_op())]
            + [Op(c, c, self._call_op(c)) for c in CALLS]
        )

    def _day_op(self, i: int):
        from stock_etl_pipeline_spark import sources
        from stock_etl_pipeline_spark.operators.merge import MERGE_KEYS, merge_datasets
        from stock_etl_pipeline_spark.operators.transform import transform_stock_data
        from stock_etl_pipeline_spark.quality import validate_prices
        from stock_etl_pipeline_spark.sinks import acid

        spark, tr, days = self.spark, self.tr, self.days
        fetch_a, fetch_y = days.fetch_alpha(i), days.fetch_yahoo(i)
        day = days.date(i)

        def run():
            with tr.span("sources.extract"):
                a = sources.extract_alpha_vantage(
                    spark, days.alpha, fetch_a, extracted_at=FROZEN)
                y = sources.extract_yahoo_finance(
                    spark, days.yahoo, fetch_y, extracted_at=FROZEN)
            with tr.span("operators.transform_merge"):
                merged = merge_datasets([
                    transform_stock_data(a, processed_at=FROZEN),
                    transform_stock_data(y, processed_at=FROZEN),
                ])
            with tr.span("quality.validate"):
                report = validate_prices(merged, as_of=day.isoformat())
            with tr.span("sinks.acid.upsert"):
                res = acid.acid_merge_upsert(
                    spark, self.table, merged, MERGE_KEYS, file_cow=True)
            with tr.span("sinks.acid.read_resolve"):
                current = acid.acid_read(spark, self.table)
            with tr.span("sinks.acid.read"):
                n_day = current.filter(F.col("date") == F.lit(day)).count()
            return {"report": report.passed, "rows": res["rows_loaded"],
                    "files_total": res.get("files_total"), "n_day": n_day}

        return run

    def _compact_op(self):
        from stock_etl_pipeline_spark.sinks import acid

        def run():
            with self.tr.span("sinks.acid.compact"):
                res = acid.acid_compact(
                    self.spark, self.table, target_rows=self.COMPACT_TARGET_ROWS)
            with self.tr.span("sinks.acid.read_resolve"):
                current = acid.acid_read(self.spark, self.table)
            with self.tr.span("sinks.acid.read"):
                return {"rows": current.count(), "ordinal": res["ordinal"]}

        return run

    def _call_op(self, call: str):
        from stock_etl_pipeline_spark.sinks import acid

        fn, tr = self.calls[call], self.tr

        def run():
            ordinal, _, as_of = self.read_at
            with tr.span("sinks.acid.read_resolve"):
                prices = acid.acid_read(self.spark, self.table, ordinal=ordinal)
            with tr.span(f"operators.{call}"):
                out = fn(prices, as_of)
                rows = out.collect()
            return {"columns": out.columns, "rows": rows}

        return run

    def after_op(self, op: Op, result) -> None:
        """Untimed bookkeeping: apply the day to the independent merge,
        count what the commit or compaction wrote, and pin the snapshot the
        analytics calls read at the first compaction."""
        if op.kind == "day":
            i = int(op.name[3:])
            self._apply(i)
            result["want_day"] = sum(
                1 for k in self.expected if k[0] == self.days.date(i))
        if op.kind not in ("day", "compact"):
            return
        if op.kind == "compact" and self.read_at is None:
            as_of = self.days.date(self.next_day - 1).isoformat()
            self.read_at = (result["ordinal"], dict(self.expected), as_of)
        result["want_rows"] = len(self.expected)
        now = tree_bytes(self.table)
        new = {p: b for p, b in now.items() if p not in self.seen_bytes}
        self.seen_bytes = now
        st = self.pass_stats[-1]
        st["bytes"] += sum(new.values())
        st["files"] += sum(1 for p in new if p.endswith(".parquet"))
        if op.kind == "compact":
            st["compact_bytes"] = sum(new.values())
        else:
            st["rows"] += len(self.days.rows(i, "alpha")) + len(self.days.rows(i, "yahoo"))
            st["manifest_files"] = result["files_total"]

    def check(self, op: Op, result) -> bool:
        if op.kind == "day":
            return (
                result["report"]
                and result["rows"] == result["want_rows"]
                and result["n_day"] == result["want_day"]
            )
        if op.kind == "compact":
            return result["rows"] == result["want_rows"]
        return digest(result["columns"], result["rows"]) == self._call_expected[op.kind]

    def prepare_checks(self) -> None:
        """Compute the expected result of every analytics call: the same
        call over a frame of the independent merge as of the snapshot the
        calls read, four at a time (each is a few small Spark jobs whose
        time is mostly per-job overhead, so they overlap). Without a
        snapshot (the first compaction failed) every call fails its check."""
        if self.read_at is None:
            return
        _, state, as_of = self.read_at
        frame = self._frame(state)

        def expect(call):
            want = self.calls[call](frame, as_of)
            return digest(want.columns, want.collect())

        with ThreadPoolExecutor(4) as pool:
            self._call_expected.update(zip(CALLS, pool.map(expect, CALLS)))

    def verify(self) -> bool:
        """Final table == an independent Python merge of every payload."""
        from stock_etl_pipeline_spark.sinks.acid import acid_read

        df = acid_read(self.spark, self.table).select(
            "date", "symbol", "data_source", "open", "high", "low", "close",
            "volume", "daily_change_pct", "daily_volatility",
        )
        got = digest(df.columns, df.collect())

        def pround2(x: float) -> float:
            return math.floor(x * 100.0 + 0.5) / 100.0

        want_rows = [
            (d, s, src, o, h, lo, c, v,
             pround2((c - o) / o * 100), pround2((h - lo) / o * 100))
            for (d, s, src), (o, h, lo, c, v) in self.expected.items()
        ]
        return got == digest(df.columns, want_rows)

    def bytes_per_row(self, k: int = 0) -> float:
        st = self.pass_stats[k]
        return st["bytes"] / st["rows"]


class CorpusDedup:
    """The LLM-curation queries, each built and executed cold-plan."""

    name = "corpus_dedup"
    QUERIES = (
        "doc_exact_dedup", "doc_minhash_lsh", "doc_simhash_pairs",
        "doc_text_stats", "embedding_semantic_dedup", "embedding_ivf_topk",
    )
    OP_KINDS = QUERIES
    # the sizes of the repository's sf0.1 test corpus
    N_DOCS = 5000
    N_VECS = 2000
    # The embedding set is fixed: the semantic-dedup oracle is an O(n^2)
    # DuckDB self-join that takes about 30 s at 2000 vectors, so its
    # result is pinned (pinned.json, written by pin_oracles.py).
    EMBED_SEED = 0

    def __init__(self, spark, root: str, seed: int, tracer) -> None:
        self.spark, self.tr = spark, tracer
        self.seed = seed
        self.sf = os.path.join(root, "corpus")
        self._expected: dict[str, tuple] | None = None
        from stock_etl_pipeline_spark.workload import load_all

        self.registry = load_all()

    def setup(self) -> None:
        os.makedirs(self.sf, exist_ok=True)
        inputs.write_documents(
            os.path.join(self.sf, "documents.parquet"), self.seed, self.N_DOCS)
        inputs.write_embeddings(
            os.path.join(self.sf, "embeddings.parquet"), self.EMBED_SEED, self.N_VECS)

    def next_pass(self) -> list[Op]:
        spark, tr = self.spark, self.tr

        def op(q):
            fn = self.registry[q].fn

            def run():
                with tr.span(f"workload.{q}.build"):
                    df = fn(spark, self.sf)
                with tr.span(f"workload.{q}.exec"):
                    rows = df.collect()
                return q, df.columns, rows

            return Op(q, q, run, before=spark.catalog.clearCache)

        return [op(q) for q in self.QUERIES]

    def after_op(self, op, result) -> None:
        pass

    def expected(self) -> dict[str, tuple]:
        """(rows, digest) per query: the registry's DuckDB oracle twin over
        the same parquet files, or the pinned value for the fixed
        embedding set."""
        if self._expected is None:
            import duckdb

            with open(os.path.join(os.path.dirname(__file__), "pinned.json")) as f:
                pinned = json.load(f)
            if (pinned["n_vecs"], pinned["embed_seed"]) != (self.N_VECS, self.EMBED_SEED):
                raise RuntimeError("pinned.json is stale: rerun pin_oracles.py")
            out = {q: tuple(v) for q, v in pinned["queries"].items()}
            con = duckdb.connect()
            try:
                for t in ("documents", "embeddings"):
                    path = os.path.join(self.sf, f"{t}.parquet")
                    con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
                for q in self.QUERIES:
                    if q not in out:
                        rel = con.sql(self.registry[q].oracle)
                        rows = rel.fetchall()
                        out[q] = (len(rows), digest(rel.columns, rows))
            finally:
                con.close()
            self._expected = out
        return self._expected

    def prepare_checks(self) -> None:
        self.expected()

    def check(self, op, result) -> bool:
        q, columns, rows = result
        return (len(rows), digest(columns, rows)) == self.expected()[q]

    def verify(self) -> bool:
        return True  # every op is checked against its oracle


WORKLOADS = {w.name: w for w in (EtlDaily, CorpusDedup)}
