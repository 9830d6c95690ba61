"""Unit tests for source connectors (S1-S6, mock-backed like the reference's
tests/extractors.py) and sink writers (K1-K11) against tmp paths."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from stock_etl_pipeline_spark import sinks, sources
from stock_etl_pipeline_spark.schemas import RAW_SCHEMA

STAMP = dt.datetime(2024, 6, 1, 12, 0, 0)

# Alpha Vantage provider shape (reference tests/extractors.py:22-30).
AV_PAYLOAD = {
    "2024-05-31": {"1. open": "100.0", "2. high": "101.5", "3. low": "99.0",
                   "4. close": "101.0", "5. volume": "1000"},
    "2024-05-30": {"1. open": "98.0", "2. high": "100.0", "3. low": "97.5",
                   "4. close": "99.5", "5. volume": "2000"},
}

# Yahoo provider shape incl. columns the extractor must drop
# (reference tests/extractors.py:33-42).
YF_RECORDS = [
    {"Date": "2024-05-31", "Open": 100.0, "High": 101.5, "Low": 99.0,
     "Close": 101.2, "Volume": 1500, "Dividends": 0.0, "Stock Splits": 0.0},
    {"Date": "2024-05-30", "Open": 98.5, "High": 99.9, "Low": 98.0,
     "Close": 99.0, "Volume": 1800, "Dividends": 0.0, "Stock Splits": 0.0},
]


def test_alpha_vantage_source_canonicalizes(spark):
    df = sources.extract_alpha_vantage(
        spark, ["AAPL"], lambda s: AV_PAYLOAD, extracted_at=STAMP
    )
    assert df.schema == RAW_SCHEMA
    rows = {r["date"].isoformat(): r for r in df.collect()}
    assert set(rows) == {"2024-05-31", "2024-05-30"}
    r = rows["2024-05-31"]
    assert (r["open"], r["close"], r["volume"]) == (100.0, 101.0, 1000)
    assert r["data_source"] == "alpha_vantage" and r["symbol"] == "AAPL"


def test_alpha_vantage_per_symbol_failure_skips(spark):
    failures = []

    def fetch(symbol):
        if symbol == "BAD":
            raise RuntimeError("boom")
        return AV_PAYLOAD

    df = sources.extract_alpha_vantage(
        spark, ["AAPL", "BAD", "MSFT"], fetch, extracted_at=STAMP,
        on_error=lambda s, e: failures.append(s),
    )
    assert failures == ["BAD"]
    assert {r["symbol"] for r in df.collect()} == {"AAPL", "MSFT"}


def test_yahoo_source_drops_provider_extras(spark):
    df = sources.extract_yahoo_finance(
        spark, ["AAPL"], lambda s: YF_RECORDS, extracted_at=STAMP
    )
    assert df.schema == RAW_SCHEMA  # Dividends / Stock Splits projected away
    assert df.count() == 2
    assert df.filter(F.col("data_source") != "yahoo_finance").count() == 0


def test_from_records_coerces_dict(spark):
    schema = T.StructType([T.StructField("a", T.LongType()), T.StructField("b", T.StringType())])
    df = sources.from_records(spark, lambda: {"a": 1, "b": "x"}, schema)
    assert df.collect() == [(1, "x")]
    with pytest.raises(TypeError):
        sources.from_records(spark, lambda: "not-records")


def test_csv_roundtrip_with_schema(spark, tmp_path):
    df = sources.extract_alpha_vantage(spark, ["AAPL"], lambda s: AV_PAYLOAD, extracted_at=STAMP)
    report = sinks.write_csv(df, str(tmp_path / "out_csv"))
    assert report["rows_loaded"] == 2
    back = sources.scan_csv(spark, str(tmp_path / "out_csv"), RAW_SCHEMA)
    assert back.count() == 2
    assert back.schema["volume"].dataType == T.LongType()


def test_jsonl_and_parquet_sinks(spark, tmp_path):
    df = sources.extract_yahoo_finance(spark, ["AAPL"], lambda s: YF_RECORDS, extracted_at=STAMP)
    assert sinks.write_jsonl(df, str(tmp_path / "out_json"))["rows_loaded"] == 2
    assert sinks.write_parquet(df, str(tmp_path / "out_parq"))["rows_loaded"] == 2
    assert sources.scan(spark, str(tmp_path / "out_parq"), "parquet").count() == 2
    back = sources.scan_json(spark, str(tmp_path / "out_json"), RAW_SCHEMA)
    assert back.count() == 2


def test_partitioned_layout(spark, tmp_path):
    df = sources.extract_alpha_vantage(spark, ["AAPL", "MSFT"], lambda s: AV_PAYLOAD, extracted_at=STAMP)
    path = str(tmp_path / "warehouse")
    sinks.write_partitioned(df, path, partition_col="date", cluster_col="symbol")
    # hive-style partition dirs exist → partition pruning works
    parts = {p.name for p in (tmp_path / "warehouse").iterdir() if p.is_dir()}
    assert {"date=2024-05-30", "date=2024-05-31"} <= parts
    back = spark.read.parquet(path)
    pruned = back.filter(F.col("date") == "2024-05-31")
    assert pruned.count() == 2  # 2 symbols × 1 date


def test_merge_write_upserts_partitions(spark, tmp_path):
    path = str(tmp_path / "gold")
    base = sources.extract_alpha_vantage(spark, ["AAPL"], lambda s: AV_PAYLOAD, extracted_at=STAMP)
    keys = ["date", "symbol", "data_source"]
    rep = sinks.merge_write(spark, path, base, keys)
    assert rep["mode"] == "create" and rep["rows_loaded"] == 2

    # New batch: updated close for 05-31, new date 06-01.
    update_payload = {
        "2024-05-31": {"1. open": "100.0", "2. high": "103.0", "3. low": "99.0",
                       "4. close": "102.5", "5. volume": "1100"},
        "2024-06-01": {"1. open": "102.0", "2. high": "104.0", "3. low": "101.0",
                       "4. close": "103.0", "5. volume": "900"},
    }
    batch = sources.extract_alpha_vantage(spark, ["AAPL"], lambda s: update_payload, extracted_at=STAMP)
    rep2 = sinks.merge_write(spark, path, batch, keys)
    assert rep2["mode"] == "merge-dynamic"

    final = spark.read.parquet(path)
    assert final.count() == 3  # 05-30 untouched, 05-31 replaced, 06-01 inserted
    updated = final.filter(F.col("date") == "2024-05-31").collect()[0]
    assert updated["close"] == 102.5
    untouched = final.filter(F.col("date") == "2024-05-30").collect()[0]
    assert untouched["close"] == 99.5


def test_merge_write_unpartitioned_swap(spark, tmp_path):
    path = str(tmp_path / "flat")
    base = sources.extract_alpha_vantage(spark, ["AAPL"], lambda s: AV_PAYLOAD, extracted_at=STAMP)
    keys = ["date", "symbol", "data_source"]
    sinks.merge_write(spark, path, base, keys, partition_col=None)
    batch = sources.extract_alpha_vantage(
        spark, ["MSFT"], lambda s: {"2024-05-31": AV_PAYLOAD["2024-05-31"]}, extracted_at=STAMP
    )
    rep = sinks.merge_write(spark, path, batch, keys, partition_col=None)
    assert rep["mode"] == "merge-full" and rep["rows_loaded"] == 3
    assert spark.read.parquet(path).count() == 3


def test_create_table_if_not_exists(spark):
    schema = T.StructType([T.StructField("k", T.LongType(), False), T.StructField("v", T.StringType())])
    name = "tmp_engine_table"
    try:
        assert sinks.create_table_if_not_exists(spark, name, schema) is True
        assert sinks.create_table_if_not_exists(spark, name, schema) is False  # idempotent
        assert spark.catalog.tableExists(name)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_create_view(spark):
    df = spark.range(3).withColumnRenamed("id", "n")
    sinks.create_or_replace_view(spark, "v_engine_test", df)
    assert spark.sql("SELECT sum(n) AS s FROM v_engine_test").collect()[0]["s"] == 3


def test_permissive_json_quarantines_corrupt_rows(spark, tmp_path):
    p = tmp_path / "feed.jsonl"
    p.write_text(
        '{"a": 1, "b": "ok"}\n'
        'this is not json\n'
        '{"a": 2, "b": "also ok"}\n'
        '{"a": "not-a-number", "b": 3}\n'
    )
    schema = T.StructType([T.StructField("a", T.LongType()), T.StructField("b", T.StringType())])
    # Spark refuses corrupt-column-only queries on a raw JSON scan — cache
    # first (per the scan_json_permissive docstring; a real pipeline writes
    # clean/bad to sinks instead of counting them).
    df = sources.scan_json_permissive(spark, str(p), schema).cache()
    clean = df.filter(F.col("_corrupt_record").isNull())
    bad = df.filter(F.col("_corrupt_record").isNotNull())
    assert clean.count() == 2 and {r["a"] for r in clean.collect()} == {1, 2}
    assert bad.count() == 2  # malformed line + type-mismatched row


def test_compact_parquet_reduces_files(spark, tmp_path):
    path = str(tmp_path / "fragmented")
    df = spark.range(10_000).withColumnRenamed("id", "n")
    df.repartition(40).write.parquet(path)  # 40 tiny files
    import glob
    before = len(glob.glob(f"{path}/*.parquet"))
    assert before >= 40
    rep = sinks.compact_parquet(spark, path, target_file_mb=256)
    after = len(glob.glob(f"{path}/*.parquet"))
    assert after < before and after <= 2
    assert rep["rows_loaded"] == 10_000
    back = spark.read.parquet(path)
    assert back.agg(F.sum("n")).collect()[0][0] == sum(range(10_000))


def test_upload_report_lists_files(spark, tmp_path):
    path = str(tmp_path / "up")
    df = spark.range(100).selectExpr("id", "id * 2 AS v")
    sinks.write_parquet(df, path)
    rep = sinks.upload_report(spark, path)
    assert rep["destination"] == path
    assert rep["n_files"] >= 1
    assert rep["total_bytes"] > 0
    for f in rep["files"]:
        assert f["name"].endswith(".parquet")
        assert f["size_bytes"] > 0
        assert f["uri"].endswith(f["name"])
    # marker files excluded from the listing
    assert not any(f["name"].startswith("_") for f in rep["files"])


def test_swap_into_place_recovers_from_leftover_old(spark, tmp_path):
    """A crashed previous swap leaves a __old sibling; the next swap must
    clear it and still land the staged data, and the target always exists
    under some path during the dance."""
    target = str(tmp_path / "tbl")
    spark.range(10).write.parquet(target)
    # leftover from a simulated prior crash
    spark.range(3).write.parquet(target + "__old")
    staging = target + "__staging"
    spark.range(77).write.parquet(staging)
    sinks._swap_into_place(spark, staging, target)
    assert spark.read.parquet(target).count() == 77
    import os
    assert not os.path.exists(target + "__old")
    assert not os.path.exists(staging)


def test_swap_into_place_without_existing_target(spark, tmp_path):
    target = str(tmp_path / "fresh_tbl")
    staging = target + "__staging"
    spark.range(5).write.parquet(staging)
    sinks._swap_into_place(spark, staging, target)
    assert spark.read.parquet(target).count() == 5


def test_create_table_with_cluster_fields(spark):
    schema = T.StructType(
        [
            T.StructField("date", T.DateType(), False),
            T.StructField("symbol", T.StringType(), False),
            T.StructField("close", T.DoubleType(), True),
        ]
    )
    try:
        assert sinks.create_table_if_not_exists(
            spark, "t_clustered", schema,
            partition_field="date", cluster_fields=["symbol"], n_buckets=8,
        )
        desc = {
            r["col_name"]: r["data_type"]
            for r in spark.sql("DESCRIBE TABLE EXTENDED t_clustered").collect()
        }
        assert desc.get("Num Buckets") == "8"
        assert "symbol" in desc.get("Bucket Columns", "")
        # second call: exists → False, no error
        assert not sinks.create_table_if_not_exists(spark, "t_clustered", schema)
    finally:
        spark.sql("DROP TABLE IF EXISTS t_clustered")


# --- Delta MERGE branch, exercised via a sys.modules-injected fake ----------
# The image carries no delta-spark jar, so the transactional branch of
# merge_write (_delta_merge) would otherwise never execute anywhere. The
# fake records the builder call chain; sinks._read_delta is the seam for
# the post-merge readback.


class _FakeMergeBuilder:
    def __init__(self, log):
        self._log = log

    def merge(self, source, cond):
        self._log.append(("merge", cond))
        return self

    def whenMatchedUpdateAll(self):
        self._log.append(("whenMatchedUpdateAll",))
        return self

    def whenNotMatchedInsertAll(self):
        self._log.append(("whenNotMatchedInsertAll",))
        return self

    def execute(self):
        self._log.append(("execute",))


def _install_fake_delta(monkeypatch, *, is_delta, log, forpath_raises=False):
    import sys
    import types

    class FakeDeltaTable:
        @staticmethod
        def isDeltaTable(spark, path):
            log.append(("isDeltaTable", path))
            return is_delta

        @staticmethod
        def forPath(spark, path):
            if forpath_raises:
                raise RuntimeError("corrupt delta log")
            log.append(("forPath", path))
            b = _FakeMergeBuilder(log)
            b.alias = lambda a: (log.append(("alias", a)), b)[1]
            return b

    tables_mod = types.ModuleType("delta.tables")
    tables_mod.DeltaTable = FakeDeltaTable
    delta_mod = types.ModuleType("delta")
    delta_mod.tables = tables_mod
    monkeypatch.setitem(sys.modules, "delta", delta_mod)
    monkeypatch.setitem(sys.modules, "delta.tables", tables_mod)


def test_delta_merge_happy_path_builder_sequence(spark, tmp_path, monkeypatch):
    """With a Delta target: exactly one MERGE with the key-equality ON
    condition, matched-update-all BEFORE not-matched-insert-all, one
    execute — and no parquet fall-through write."""
    log = []
    _install_fake_delta(monkeypatch, is_delta=True, log=log)
    readback = spark.createDataFrame(
        [("AAPL", dt.date(2024, 1, 2), 101.0)], "symbol string, date date, close double"
    )
    monkeypatch.setattr(sinks, "_read_delta", lambda sp, p: readback)

    target = str(tmp_path / "delta_tbl")
    source = spark.createDataFrame(
        [("AAPL", dt.date(2024, 1, 2), 101.0)], "symbol string, date date, close double"
    )
    report = sinks.merge_write(spark, target, source, ["symbol", "date"])

    assert report == {"rows_loaded": 1, "destination": target, "mode": "merge-delta"}
    assert log == [
        ("isDeltaTable", target),
        ("forPath", target),
        ("alias", "t"),
        ("merge", "t.`symbol` = s.`symbol` AND t.`date` = s.`date`"),
        ("whenMatchedUpdateAll",),
        ("whenNotMatchedInsertAll",),
        ("execute",),
    ]
    import os

    assert not os.path.exists(target)  # transactional branch, no parquet write


def test_delta_merge_falls_through_when_not_delta(spark, tmp_path, monkeypatch):
    """isDeltaTable=False -> _delta_merge returns None and merge_write runs
    the plain-parquet path (create on a fresh target)."""
    log = []
    _install_fake_delta(monkeypatch, is_delta=False, log=log)
    target = str(tmp_path / "plain_tbl")
    source = spark.createDataFrame(
        [("AAPL", dt.date(2024, 1, 2), 101.0)], "symbol string, date date, close double"
    )
    report = sinks.merge_write(spark, target, source, ["symbol", "date"])
    assert report["mode"] == "create"
    assert ("isDeltaTable", target) in log
    assert not any(e[0] == "merge" for e in log)
    assert spark.read.parquet(target).count() == 1


def test_delta_merge_falls_through_when_forpath_raises(spark, tmp_path, monkeypatch):
    """A raising DeltaTable (corrupt log, version skew) must not break the
    sink: merge_write falls through to parquet."""
    log = []
    _install_fake_delta(monkeypatch, is_delta=True, log=log, forpath_raises=True)
    target = str(tmp_path / "raises_tbl")
    source = spark.createDataFrame(
        [("AAPL", dt.date(2024, 1, 2), 101.0)], "symbol string, date date, close double"
    )
    report = sinks.merge_write(spark, target, source, ["symbol", "date"])
    assert report["mode"] == "create"
    assert spark.read.parquet(target).count() == 1


# --- ORC / text / binaryFile sources ----------------------------------------


def test_orc_roundtrip(spark, tmp_path):
    df = spark.range(5).withColumn("v", F.col("id") * 2)
    report = sinks.write_orc(df, str(tmp_path / "out_orc"))
    assert report["rows_loaded"] == 5
    back = sources.scan_orc(spark, str(tmp_path / "out_orc"))
    assert sorted((r["id"], r["v"]) for r in back.collect()) == [
        (i, 2 * i) for i in range(5)
    ]
    # dispatch path + footer-derived schema
    assert sources.scan(spark, str(tmp_path / "out_orc"), "orc").schema == back.schema


def test_orc_scan_pushes_filters(spark, tmp_path):
    from stock_etl_pipeline_spark.plans import explain_formatted

    df = spark.range(100).withColumn("v", F.col("id") % 7)
    sinks.write_orc(df, str(tmp_path / "orc_pf"))
    scanned = sources.scan_orc(spark, str(tmp_path / "orc_pf")).filter(F.col("id") > 90)
    p = explain_formatted(scanned.select("id"))
    assert "PushedFilters" in p and "GreaterThan(id,90)" in p


def test_text_scan_lines_and_wholetext(spark, tmp_path):
    d = tmp_path / "txt"
    d.mkdir()
    (d / "a.txt").write_text("alpha\nbeta\n")
    (d / "b.txt").write_text("gamma\n")
    lines = sources.scan_text(spark, str(d))
    assert sorted(r["value"] for r in lines.collect()) == ["alpha", "beta", "gamma"]
    whole = sources.scan_text(spark, str(d), wholetext=True)
    assert sorted(r["value"] for r in whole.collect()) == ["alpha\nbeta\n", "gamma\n"]


def test_binary_files_scan_and_glob(spark, tmp_path):
    d = tmp_path / "blobs"
    d.mkdir()
    (d / "x.bin").write_bytes(b"\x00\x01\x02")
    (d / "y.bin").write_bytes(b"\xff" * 10)
    (d / "skip.dat").write_bytes(b"nope")
    df = sources.scan_binary_files(spark, str(d), path_glob="*.bin")
    rows = {r["path"].rsplit("/", 1)[-1]: r for r in df.collect()}
    assert set(rows) == {"x.bin", "y.bin"}
    assert rows["x.bin"]["length"] == 3 and bytes(rows["x.bin"]["content"]) == b"\x00\x01\x02"
    assert set(df.columns) == {"path", "modificationTime", "length", "content"}


def test_media_from_binary_files_decodes_real_png(spark, tmp_path):
    """End-to-end multimodal ingestion: real PNG bytes on disk → binaryFile
    scan → MEDIA_SCHEMA bridge → the stdlib PNG decode branch."""
    from tests.test_multimodal import _png_bytes
    from stock_etl_pipeline_spark import multimodal

    d = tmp_path / "imgs"
    d.mkdir()
    px = bytes(range(2 * 2 * 3))
    (d / "a.png").write_bytes(_png_bytes(px, 2, 2, 3))
    (d / "b.png").write_bytes(_png_bytes(bytes(9), 3, 1, 3))
    (d / "notes.txt").write_text("not an image")

    media = sources.media_from_binary_files(
        spark, str(d), "image", path_glob="*.png"
    )
    rows = media.collect()
    assert len(rows) == 2
    assert {r["media_type"] for r in rows} == {"image"}
    assert len({r["doc_id"] for r in rows}) == 2  # xxhash64(path) distinct

    feats = multimodal.extract_media_features(media).collect()
    dims = sorted((r["width"], r["height"]) for r in feats)
    assert dims == [(2, 2), (3, 1)]


# --- snapshot-committed ACID table (sinks/acid.py, round 11) -----------------


def test_acid_table_merge_snapshot_isolation_and_conflict(spark, tmp_path):
    """Transactional MERGE without a lakehouse jar: commits publish via an
    atomic marker (current = max ordinal), a reader resolved BEFORE a
    commit keeps returning its snapshot AFTER the commit (isolation), the
    optimistic check raises CommitConflict on a raced parent, and the
    merge loop retries and wins."""
    from stock_etl_pipeline_spark.sinks import acid

    table = str(tmp_path / "acid_tbl")
    rows = lambda df: sorted((r["k"], r["v"]) for r in df.collect())
    d1 = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")

    rep1 = acid.acid_merge_upsert(spark, table, d1, ["k"])
    assert rep1["ordinal"] == 1 and rep1["rows_loaded"] == 2
    assert rows(acid.acid_read(spark, table)) == [(1, "a"), (2, "b")]

    # resolve a reader at ordinal 1, then commit ordinal 2
    reader_v1 = acid.acid_read(spark, table)
    d2 = spark.createDataFrame([(2, "B"), (3, "c")], "k long, v string")
    rep2 = acid.acid_merge_upsert(spark, table, d2, ["k"])
    assert rep2["ordinal"] == 2
    assert rows(acid.acid_read(spark, table)) == [(1, "a"), (2, "B"), (3, "c")]
    # SNAPSHOT ISOLATION: the v1 reader still sees the v1 table
    assert rows(reader_v1) == [(1, "a"), (2, "b")]

    # optimistic check: a commit expecting a stale parent must NOT publish
    import pytest as _pt

    with _pt.raises(acid.CommitConflict):
        acid.acid_commit(spark, table, d1, expected_parent=1)
    assert acid._current_ordinal(spark, table) == 2

    # raced marker: pre-publish ordinal 3 out from under a commit — the
    # direct commit conflicts, the merge loop retries against the winner.
    # The winner's meta carries NO commit_uuid/rows: acid_history still
    # lists it, flagged nonconforming below.
    fs, jvm = acid._fs(spark, table)
    winner = spark.createDataFrame([(9, "w")], "k long, v string")
    winner.write.parquet(acid._snap_dir(table, 3))
    acid._write_json_file(
        fs, jvm, acid._snap_dir(table, 3) + "/_meta.json",
        {"ordinal": 3, "parent": 2, "operation": "merge"},
    )
    fs.createNewFile(
        jvm.org.apache.hadoop.fs.Path(
            f"{acid._commits_dir(table)}/{3:020d}"
        )
    )
    d3 = spark.createDataFrame([(4, "d")], "k long, v string")
    rep3 = acid.acid_merge_upsert(spark, table, d3, ["k"])
    assert rep3["ordinal"] == 4 and rep3["parent"] == 3
    assert (9, "w") in rows(acid.acid_read(spark, table))  # merged ON TOP
    assert (4, "d") in rows(acid.acid_read(spark, table))

    hist = acid.acid_history(spark, table)
    assert [h["ordinal"] for h in hist] == [1, 2, 3, 4]
    assert "commit_uuid" not in hist[2]  # the out-of-band race winner
    assert hist[-1]["operation"] == "merge" and hist[-1]["parent"] == 3

    # time travel: any published ordinal reads; an unpublished one refuses
    assert rows(acid.acid_read(spark, table, ordinal=1)) == [(1, "a"), (2, "b")]
    with _pt.raises(FileNotFoundError, match="never"):
        acid.acid_read(spark, table, ordinal=7)


def test_acid_vacuum_sweeps_old_stages_and_dangling(spark, tmp_path):
    """Vacuum removes published snapshots beyond the keep window, leftover
    __stage- dirs from crashed pre-marker commits, and dangling markers
    from crashed post-marker commits (readers skip those ordinals; their
    numbers stay burned) — never the current snapshot."""
    from stock_etl_pipeline_spark.sinks import acid

    table = str(tmp_path / "acid_vac")
    for i in range(4):
        acid.acid_commit(
            spark, table,
            spark.createDataFrame([(i,)], "k long"),
        )
    # crashed BEFORE its marker: an orphan staging dir
    spark.createDataFrame([(99,)], "k long").write.parquet(
        f"{table}/__stage-deadbeef"
    )
    # crashed AFTER its marker (ordinal 2's dir lost): dangling marker —
    # simulate by deleting the snapshot dir
    fs, jvm = acid._fs(spark, table)
    fs.delete(jvm.org.apache.hadoop.fs.Path(acid._snap_dir(table, 2)), True)
    assert acid._current_ordinal(spark, table) == 4  # reader skips 2

    rep = acid.acid_vacuum(spark, table, keep=2)
    assert rep["removed"] == [1] and rep["removed_stage_dirs"] == 1
    assert acid._current_ordinal(spark, table) == 4
    assert [h["ordinal"] for h in acid.acid_history(spark, table)] == [3, 4]
    assert [r["k"] for r in acid.acid_read(spark, table).collect()] == [3]
    # the next commit does not reuse burned ordinal space below max marker
    acid.acid_commit(spark, table, spark.createDataFrame([(7,)], "k long"))
    assert acid._current_ordinal(spark, table) == 5


def test_acid_file_cow_merge_rewrites_only_touched_files(spark, tmp_path):
    """File-level COW (VERDICT r11 item 3): a manifest-snapshot merge
    rewrites ONLY the data files containing merged keys — untouched files
    carry forward by reference (same physical name) — and the resulting
    table is pinned equal to the table-COW merge at every step."""
    from stock_etl_pipeline_spark.sinks import acid

    rows = lambda df: sorted((r["k"], r["v"]) for r in df.collect())
    base = spark.createDataFrame(
        [(i, f"v{i}") for i in range(40)], "k long, v string"
    ).repartitionByRange(4, "k")  # 4 files with disjoint key ranges

    cow, tbl = str(tmp_path / "cow"), str(tmp_path / "tbl")
    rep0 = acid.acid_merge_upsert(spark, cow, base, ["k"], file_cow=True)
    acid.acid_merge_upsert(spark, tbl, base, ["k"])
    assert rep0["files_new"] == 4 and rep0["files_total"] == 4
    assert rows(acid.acid_read(spark, cow)) == rows(acid.acid_read(spark, tbl))

    man1 = acid._manifest(spark, cow, 1)
    assert man1 is not None and len(man1["files"]) == 4
    assert sum(s["rows"] for s in man1["files"].values()) == 40
    # every file carries key bounds for the merge key
    assert all("k" in s["bounds"] for s in man1["files"].values())

    # merge touching keys in ONE range only: exactly one file rewrites
    up = spark.createDataFrame([(2, "UP2"), (5, "UP5")], "k long, v string")
    rep1 = acid.acid_merge_upsert(spark, cow, up, ["k"], file_cow=True)
    acid.acid_merge_upsert(spark, tbl, up, ["k"])
    assert rep1["files_rewritten"] == 1
    assert rows(acid.acid_read(spark, cow)) == rows(acid.acid_read(spark, tbl))
    man2 = acid._manifest(spark, cow, 2)
    # the 3 untouched files carry forward by NAME (no rewrite, no copy)
    carried = set(man1["files"]) & set(man2["files"])
    assert len(carried) == 3
    assert all(man2["files"][n] == man1["files"][n] for n in carried)
    assert rep1["rows_loaded"] == 40  # upserts, no inserts

    # pure INSERT (keys beyond every file's bounds): zero files rewritten
    ins = spark.createDataFrame([(100, "new")], "k long, v string")
    rep2 = acid.acid_merge_upsert(spark, cow, ins, ["k"], file_cow=True)
    acid.acid_merge_upsert(spark, tbl, ins, ["k"])
    assert rep2["files_rewritten"] == 0 and rep2["files_new"] >= 1
    assert rep2["rows_loaded"] == 41
    assert rows(acid.acid_read(spark, cow)) == rows(acid.acid_read(spark, tbl))

    # SNAPSHOT ISOLATION + time travel on manifest snapshots: immutable
    # data files mean ordinal 1 still reads exactly the base table
    assert rows(acid.acid_read(spark, cow, ordinal=1)) == rows(base)
    hist = acid.acid_history(spark, cow)
    assert [h["ordinal"] for h in hist] == [1, 2, 3]
    assert hist[1]["files_rewritten"] == 1 and hist[2]["files_rewritten"] == 0


def test_acid_file_cow_conversion_vacuum_and_conflict_cleanup(spark, tmp_path):
    """(a) the first file_cow merge onto a table-COW parent converts it
    (one-time full rewrite into data/); (b) vacuum sweeps data files no
    surviving manifest references — crashed-commit orphans and files whose
    last referencing snapshot aged out — never files a kept snapshot still
    needs; (c) a conflicted file-COW attempt unreferences its own files."""
    import pytest as _pt

    from stock_etl_pipeline_spark.sinks import acid

    table = str(tmp_path / "cvt")
    rows = lambda df: sorted((r["k"], r["v"]) for r in df.collect())
    base = spark.createDataFrame(
        [(i, f"v{i}") for i in range(20)], "k long, v string"
    ).repartitionByRange(2, "k")
    acid.acid_merge_upsert(spark, table, base, ["k"])  # table-COW parent
    assert acid._manifest(spark, table, 1) is None

    up = spark.createDataFrame([(3, "U")], "k long, v string")
    rep = acid.acid_merge_upsert(spark, table, up, ["k"], file_cow=True)
    assert rep["ordinal"] == 2 and acid._manifest(spark, table, 2)
    want = {(i, "U" if i == 3 else f"v{i}") for i in range(20)}
    assert set(rows(acid.acid_read(spark, table))) == want

    # conflicted attempt: pre-claim ordinal 3's marker mid-race — the
    # file-COW loop must drop the attempt's data files before retrying
    fs, jvm = acid._fs(spark, table)
    ddir = acid._data_dir(table)
    n_before = len(list(fs.listStatus(jvm.org.apache.hadoop.fs.Path(ddir))))
    fs.createNewFile(
        jvm.org.apache.hadoop.fs.Path(f"{acid._commits_dir(table)}/{3:020d}")
    )
    up2 = spark.createDataFrame([(4, "W")], "k long, v string")
    with _pt.raises(acid.CommitConflict):
        acid.acid_merge_upsert(spark, table, up2, ["k"],
                               file_cow=True, max_retries=0)
    n_after = len(list(fs.listStatus(jvm.org.apache.hadoop.fs.Path(ddir))))
    assert n_after == n_before  # attempt's files unreferenced and removed

    # reclaim the injected marker, land more merges, then vacuum
    acid.acid_vacuum(spark, table, keep=10)
    rep3 = acid.acid_merge_upsert(spark, table, up2, ["k"], file_cow=True)
    assert rep3["ordinal"] == 3
    rep4 = acid.acid_merge_upsert(
        spark, table,
        spark.createDataFrame([(5, "X")], "k long, v string"),
        ["k"], file_cow=True,
    )
    assert rep4["ordinal"] == 4

    vac = acid.acid_vacuum(spark, table, keep=1)
    assert vac["removed"] == [1, 2, 3]
    # every data file still on disk is referenced by the kept manifest,
    # and the kept snapshot reads intact
    man = acid._manifest(spark, table, 4)
    on_disk = {
        st.getPath().getName()
        for st in fs.listStatus(jvm.org.apache.hadoop.fs.Path(ddir))
    }
    assert on_disk == set(man["files"])
    got = set(rows(acid.acid_read(spark, table)))
    assert (3, "U") in got and (4, "W") in got and (5, "X") in got
    assert len(got) == 20


def test_acid_table_cow_merge_onto_manifest_parent(spark, tmp_path):
    """The layouts interoperate both ways: a table-COW merge whose parent
    is a file-COW manifest snapshot reads the parent through its manifest
    (the snapshot dir holds no parquet) and publishes a full snapshot."""
    from stock_etl_pipeline_spark.sinks import acid

    table = str(tmp_path / "tcow_on_man")
    rows = lambda df: sorted((r["k"], r["v"]) for r in df.collect())
    base = spark.createDataFrame(
        [(i, f"v{i}") for i in range(6)], "k long, v string"
    ).repartitionByRange(2, "k")
    acid.acid_merge_upsert(spark, table, base, ["k"], file_cow=True)
    up = spark.createDataFrame([(1, "U"), (9, "N")], "k long, v string")
    rep = acid.acid_merge_upsert(spark, table, up, ["k"])
    assert rep["ordinal"] == 2 and acid._manifest(spark, table, 2) is None
    want = [(i, "U" if i == 1 else f"v{i}") for i in range(6)] + [(9, "N")]
    assert rows(acid.acid_read(spark, table)) == want


def test_acid_inflight_marker_blocks_conditional_commit(spark, tmp_path):
    """Lost-update race (ADVICE r11): while a commit holds marker N but has
    not renamed its snapshot yet, a conditional commit reading parent=N-1
    must CONFLICT, not slide in above at N+1 (which would silently drop
    the in-flight commit once it resolves). Once the in-flight rename
    lands, the retry merges ON TOP of it."""
    import pytest as _pt

    from stock_etl_pipeline_spark.sinks import acid

    table = str(tmp_path / "acid_race")
    acid.acid_commit(spark, table, spark.createDataFrame([(1, "a")], "k long, v string"))
    assert acid._current_ordinal(spark, table) == 1

    # committer A mid-flight: marker 2 claimed, snapshot staged but NOT
    # renamed yet (simulate the marker→rename window). A conforming
    # committer writes _meta.json INTO its stage before claiming — the
    # published meta is the visibility bit readers gate on.
    fs, jvm = acid._fs(spark, table)
    stage = f"{table}/__stage-inflight"
    # A's staged snapshot is its MERGE result (old rows + its upsert)
    spark.createDataFrame(
        [(1, "a"), (2, "inflight")], "k long, v string"
    ).write.parquet(stage)
    acid._write_json_file(
        fs, jvm, stage + "/_meta.json",
        {"ordinal": 2, "parent": 1, "operation": "merge", "rows": 2},
    )
    assert fs.createNewFile(
        jvm.org.apache.hadoop.fs.Path(f"{acid._commits_dir(table)}/{2:020d}")
    )
    assert acid._current_ordinal(spark, table) == 1  # readers skip bare marker

    # committer B, conditional on parent 1: must conflict, never claim 3
    d = spark.createDataFrame([(3, "b")], "k long, v string")
    with _pt.raises(acid.CommitConflict, match="in flight|crashed"):
        acid.acid_commit(spark, table, d, expected_parent=1)
    assert acid._next_ordinal(spark, table) == 3  # B claimed nothing
    # the merge loop exhausts retries while the marker stays unresolved —
    # it must NOT publish a snapshot that drops A
    with _pt.raises(acid.CommitConflict):
        acid.acid_merge_upsert(spark, table, d, ["k"], max_retries=1)

    # A's rename lands: the marker resolves, B's retry merges on top of A
    assert fs.rename(
        jvm.org.apache.hadoop.fs.Path(stage),
        jvm.org.apache.hadoop.fs.Path(acid._snap_dir(table, 2)),
    )
    rep = acid.acid_merge_upsert(spark, table, d, ["k"])
    assert rep["ordinal"] == 3 and rep["parent"] == 2
    got = sorted((r["k"], r["v"]) for r in acid.acid_read(spark, table).collect())
    assert got == [(1, "a"), (2, "inflight"), (3, "b")]  # nothing dropped


def test_acid_vacuum_reclaims_crashed_marker_above_current(spark, tmp_path):
    """A commit that crashed between marker and rename leaves a dangling
    marker ABOVE current; conditional commits refuse to build past it, so
    vacuum (run under its no-commit-in-flight contract) must reclaim it —
    sweeping the crashed stage dir first so a zombie rename cannot land."""
    import pytest as _pt

    from stock_etl_pipeline_spark.sinks import acid

    table = str(tmp_path / "acid_reclaim")
    acid.acid_commit(spark, table, spark.createDataFrame([(1,)], "k long"))

    fs, jvm = acid._fs(spark, table)
    crash_stage = f"{table}/__stage-crashed"
    spark.createDataFrame([(9,)], "k long").write.parquet(crash_stage)
    fs.createNewFile(
        jvm.org.apache.hadoop.fs.Path(f"{acid._commits_dir(table)}/{2:020d}")
    )

    d = spark.createDataFrame([(5,)], "k long")
    with _pt.raises(acid.CommitConflict):
        acid.acid_merge_upsert(spark, table, d, ["k"], max_retries=0)

    rep = acid.acid_vacuum(spark, table, keep=2)
    assert rep["reclaimed_ordinals"] == [2]
    assert rep["removed_stage_dirs"] == 1  # zombie's rename target is gone
    # merges unblocked; the reclaimed ordinal is safe to reuse
    rep2 = acid.acid_merge_upsert(spark, table, d, ["k"])
    assert rep2["ordinal"] == 2 and rep2["parent"] == 1
    got = sorted(r["k"] for r in acid.acid_read(spark, table).collect())
    assert got == [1, 5]


def test_acid_compact_bin_packs_small_files_content_identical(spark, tmp_path):
    """acid_compact (round 12): after a run of small file-COW merges the
    manifest carries one small file per batch; compaction folds them into
    ~target_rows files published as a normal snapshot — content pinned
    byte-identical, untouched big files carried by name, swept small files
    reclaimed by vacuum, and the table still merges afterwards."""
    from stock_etl_pipeline_spark.sinks import acid

    table = str(tmp_path / "cpk")
    rows = lambda df: sorted((r["k"], r["v"]) for r in df.collect())
    base = spark.createDataFrame(
        [(i, f"v{i}") for i in range(400)], "k long, v string"
    ).repartitionByRange(2, "k")  # 2 big files (200 rows each)
    acid.acid_merge_upsert(spark, table, base, ["k"], file_cow=True)

    # 6 insert batches -> 6 one-file manifests entries of 5 rows each
    for b in range(6):
        ins = spark.createDataFrame(
            [(1000 + b * 10 + j, f"n{b}_{j}") for j in range(5)],
            "k long, v string",
        ).coalesce(1)
        acid.acid_merge_upsert(spark, table, ins, ["k"], file_cow=True)
    man = acid._manifest(spark, table, acid._current_ordinal(spark, table))
    assert len(man["files"]) == 8  # 2 big + 6 small
    before = rows(acid.acid_read(spark, table))

    rep = acid.acid_compact(spark, table, target_rows=100)
    assert rep["mode"] == "compact"
    assert rep["files_compacted"] == 6  # the 200-row files are left alone
    assert rep["files_new"] == 1  # 30 rows bin-pack into one file
    assert rep["files_total"] == 3
    man2 = acid._manifest(spark, table, rep["ordinal"])
    big = {n for n, s in man.get("files").items() if s["rows"] >= 100}
    assert big <= set(man2["files"])  # big files carried by NAME
    assert rows(acid.acid_read(spark, table)) == before  # content identical
    # the new packed file carries key bounds (stays prunable)
    new_names = set(man2["files"]) - set(man["files"])
    assert all("k" in man2["files"][n]["bounds"] for n in new_names)

    # history records the compact; vacuum reclaims the 6 swept files
    hist = acid.acid_history(spark, table)
    assert hist[-1]["operation"] == "compact"
    fs, jvm = acid._fs(spark, table)
    acid.acid_vacuum(spark, table, keep=1)
    on_disk = {
        st.getPath().getName()
        for st in fs.listStatus(jvm.org.apache.hadoop.fs.Path(acid._data_dir(table)))
    }
    assert on_disk == set(man2["files"])
    assert rows(acid.acid_read(spark, table)) == before

    # a merge on the compacted table behaves exactly as before
    up = spark.createDataFrame([(1000, "UP")], "k long, v string")
    acid.acid_merge_upsert(spark, table, up, ["k"], file_cow=True)
    got = dict(rows(acid.acid_read(spark, table)))
    assert got[1000] == "UP" and len(got) == 430


def test_acid_compact_noop_and_table_cow_guard(spark, tmp_path):
    """Compaction is a no-op (no commit) below min_group small files, and
    refuses a table-COW snapshot (one directory — nothing to compact)."""
    import pytest as _pt

    from stock_etl_pipeline_spark.sinks import acid

    tcow = str(tmp_path / "tcow")
    d = spark.createDataFrame([(1, "a")], "k long, v string")
    acid.acid_merge_upsert(spark, tcow, d, ["k"])
    with _pt.raises(ValueError, match="table-COW"):
        acid.acid_compact(spark, tcow)

    fcow = str(tmp_path / "fcow")
    acid.acid_merge_upsert(spark, fcow, d, ["k"], file_cow=True)
    rep = acid.acid_compact(spark, fcow, target_rows=100)
    assert rep["files_compacted"] == 0
    assert acid._current_ordinal(spark, fcow) == 1  # no commit happened


def test_acid_file_cow_pure_insert_keeps_merge_semantics(spark, tmp_path):
    """Code-review r12: the pure-insert branch (no file holds the batch's
    keys) must keep MERGE semantics identical to table-COW — intra-batch
    duplicate keys dedupe to one row, and a schema-mismatched batch fails
    BEFORE committing instead of null-filling the table."""
    import pytest as _pt

    from stock_etl_pipeline_spark.sinks import acid

    rows = lambda df: sorted((r["k"], r["v"]) for r in df.collect())
    base = spark.createDataFrame(
        [(i, f"v{i}") for i in range(10)], "k long, v string"
    ).coalesce(1)
    cow, tbl = str(tmp_path / "pi_cow"), str(tmp_path / "pi_tbl")
    acid.acid_merge_upsert(spark, cow, base, ["k"], file_cow=True)
    acid.acid_merge_upsert(spark, tbl, base, ["k"])

    # intra-batch duplicate key, keys OUTSIDE every file's bounds
    dup = spark.createDataFrame(
        [(100, "a"), (100, "b")], "k long, v string"
    )
    acid.acid_merge_upsert(spark, cow, dup, ["k"], file_cow=True)
    acid.acid_merge_upsert(spark, tbl, dup, ["k"])
    got_cow, got_tbl = rows(acid.acid_read(spark, cow)), rows(acid.acid_read(spark, tbl))
    assert got_cow == got_tbl  # pinned equal, including the dedupe
    assert sum(1 for k, _ in got_cow if k == 100) == 1

    # schema-mismatched insert batch: fails before any commit, both modes
    bad = spark.createDataFrame([(300,)], "k long")
    before = acid._current_ordinal(spark, cow)
    with _pt.raises(Exception):
        acid.acid_merge_upsert(spark, cow, bad, ["k"], file_cow=True)
    assert acid._current_ordinal(spark, cow) == before  # nothing committed
    with _pt.raises(Exception):
        acid.acid_merge_upsert(spark, tbl, bad, ["k"])


def test_acid_schema_evolution_allow_new_columns(spark, tmp_path):
    """allow_new_columns=True (round 12): a merge batch carrying a column
    the table lacks widens the schema — existing rows (including
    untouched carried-forward files on a manifest table) read NULL, both
    COW modes stay pinned equal, time travel keeps the at-commit schema,
    and the strict default still drops extra source columns."""
    from stock_etl_pipeline_spark.sinks import acid

    rows = lambda df: sorted(tuple(r) for r in df.collect())
    base = spark.createDataFrame(
        [(i, f"v{i}") for i in range(20)], "k long, v string"
    ).repartitionByRange(2, "k")
    cow, tbl = str(tmp_path / "ev_cow"), str(tmp_path / "ev_tbl")
    acid.acid_merge_upsert(spark, cow, base, ["k"], file_cow=True)
    acid.acid_merge_upsert(spark, tbl, base, ["k"])

    # strict default: the extra column is dropped by the MERGE projection
    up0 = spark.createDataFrame([(0, "V0", 9.5)], "k long, v string, w double")
    acid.acid_merge_upsert(spark, cow, up0, ["k"], file_cow=True)
    acid.acid_merge_upsert(spark, tbl, up0, ["k"])
    assert acid.acid_read(spark, cow).columns == ["k", "v"]
    assert rows(acid.acid_read(spark, cow)) == rows(acid.acid_read(spark, tbl))

    # evolution: w lands nullable; only ONE file rewrites on the manifest
    # table — the untouched file reads NULL through the widened schema
    up = spark.createDataFrame(
        [(1, "V1", 1.5), (100, "new", 2.5)], "k long, v string, w double"
    )
    rep = acid.acid_merge_upsert(
        spark, cow, up, ["k"], file_cow=True, allow_new_columns=True
    )
    acid.acid_merge_upsert(spark, tbl, up, ["k"], allow_new_columns=True)
    assert rep["files_rewritten"] == 1
    got_cow, got_tbl = acid.acid_read(spark, cow), acid.acid_read(spark, tbl)
    assert set(got_cow.columns) == {"k", "v", "w"}
    assert rows(got_cow.select("k", "v", "w")) == rows(got_tbl.select("k", "v", "w"))
    by_k = {r["k"]: r["w"] for r in got_cow.collect()}
    assert by_k[1] == 1.5 and by_k[100] == 2.5
    assert all(by_k[k] is None for k in by_k if k not in (1, 100))

    # time travel: the pre-evolution snapshot keeps its 2-column schema
    assert acid.acid_read(spark, cow, ordinal=2).columns == ["k", "v"]

    # subsequent strict merges speak the widened schema; compaction
    # preserves content across the evolution boundary
    up2 = spark.createDataFrame([(2, "V2", 3.5)], "k long, v string, w double")
    acid.acid_merge_upsert(spark, cow, up2, ["k"], file_cow=True)
    acid.acid_merge_upsert(spark, tbl, up2, ["k"])
    before = rows(acid.acid_read(spark, cow).select("k", "v", "w"))
    acid.acid_compact(spark, cow, target_rows=1000)
    assert rows(acid.acid_read(spark, cow).select("k", "v", "w")) == before

    # a case-only respelling of an existing column is NOT evolution: it
    # resolves to the existing column (Spark analyzes case-insensitively;
    # a case-sensitive newness check would have NULLed 'v' table-wide —
    # code-review r12) and the schema gains no duplicate-modulo-case field
    upc = spark.createDataFrame([(3, "VC", 4.5)], "k long, V string, w double")
    acid.acid_merge_upsert(spark, cow, upc, ["k"], file_cow=True,
                           allow_new_columns=True)
    acid.acid_merge_upsert(spark, tbl, upc, ["k"], allow_new_columns=True)
    got = acid.acid_read(spark, cow)
    assert [c.lower() for c in got.columns].count("v") == 1
    by_k = {r["k"]: (r["v"], r["w"]) for r in got.collect()}
    assert by_k[3] == ("VC", 4.5)      # the respelled batch merged into v
    assert by_k[5] == ("v5", None)     # untouched rows keep their v data
    assert rows(got.select("k", "v", "w")) == rows(
        acid.acid_read(spark, tbl).select("k", "v", "w")
    )


def test_acid_file_cow_pinned_schema_type_conformance(spark, tmp_path):
    """ADVICE r12: file-COW pins the parent manifest schema but used to
    write the merge output's ACTUAL types — merge_upsert's unionByName
    coerces a double batch column against a long table column to double,
    so the commit could publish parquet whose physical type disagrees
    with the pinned read schema, and the failure surfaced at acid_read
    time AFTER the commit. Now: a lossy type drift fails loudly BEFORE
    any file is written; a safe widening (int batch into a long pin)
    casts silently and the committed files read through the pin."""
    import pytest as _pt

    from stock_etl_pipeline_spark.sinks import acid

    rows = lambda df: sorted(tuple(r) for r in df.collect())
    table = str(tmp_path / "pin_types")
    base = spark.createDataFrame(
        [(i, i * 10) for i in range(10)], "k long, v long"
    ).coalesce(1)
    acid.acid_merge_upsert(spark, table, base, ["k"], file_cow=True)

    # lossy drift (double into a long pin): ValueError before ANY commit
    # or data-file write — on BOTH the touched-file and pure-insert paths
    bad_touch = spark.createDataFrame([(1, 1.5)], "k long, v double")
    bad_insert = spark.createDataFrame([(100, 1.5)], "k long, v double")
    before = acid._current_ordinal(spark, table)
    for bad in (bad_touch, bad_insert):
        with _pt.raises(ValueError, match="pinned"):
            acid.acid_merge_upsert(spark, table, bad, ["k"], file_cow=True)
    assert acid._current_ordinal(spark, table) == before
    fs, jvm = acid._fs(spark, table)
    n_data = len(list(fs.listStatus(acid._hpath(jvm, acid._data_dir(table)))))
    man = acid._manifest(spark, table, before)
    assert n_data == len(man["files"])  # no orphan files from the refusals

    # safe widening: int batch casts up to the pinned long, both paths
    up = spark.createDataFrame([(1, 111), (200, 222)], "k int, v int")
    acid.acid_merge_upsert(
        spark, table, up.select(up.k.cast("long"), up.v), ["k"], file_cow=True
    )
    got = acid.acid_read(spark, table)
    assert dict(got.dtypes)["v"] == "bigint"  # pin holds, read succeeds
    by_k = {r["k"]: r["v"] for r in got.collect()}
    assert by_k[1] == 111 and by_k[200] == 222 and by_k[2] == 20
    assert len(rows(got)) == 11


def test_acid_compact_zorder_clusters_and_preserves_content(spark, tmp_path):
    """acid_compact(zorder_cols=...): the packed files are z-order
    clustered (multi-column row-group pruning beats the single-key range
    layout on a 2-column box), content pinned identical, and the
    manifest's per-key bounds still present."""
    from stock_etl_pipeline_spark import sinks
    from stock_etl_pipeline_spark.sinks import acid

    table = str(tmp_path / "zc")
    # two independent dimensions so single-key clustering is blind on the
    # second — 5k rows in 10 insert batches of 500
    base = spark.range(0, 5000).selectExpr(
        "id AS k", "CAST(id % 71 AS DOUBLE) AS x", "CAST(id % 113 AS DOUBLE) AS y"
    ).coalesce(1)
    acid.acid_merge_upsert(spark, table, base.filter("k < 500"), ["k"],
                           file_cow=True)
    for b in range(1, 10):
        acid.acid_merge_upsert(
            spark, table,
            base.filter(f"k >= {b * 500} AND k < {(b + 1) * 500}"),
            ["k"], file_cow=True,
        )
    rows = lambda: sorted(tuple(r) for r in acid.acid_read(spark, table).collect())
    before = rows()

    rep = acid.acid_compact(
        spark, table, target_rows=1000, zorder_cols=["x", "y"],
    )
    assert rep["files_compacted"] == 10 and rep["files_new"] == 5
    assert rows() == before  # content identical
    man = acid._manifest(spark, table, rep["ordinal"])
    assert all("k" in s["bounds"] for s in man["files"].values())

    # the packed layout prunes a 2-col box: vacuum first so data/ holds
    # ONLY the manifest's packed files (the superseded pre-compaction
    # files never prune — auditing them would floor the fraction at
    # their share), then require real multi-file pruning, not one lucky
    # file
    acid.acid_vacuum(spark, table, keep=1)
    stats = sinks.scan_pruning_stats(
        acid._data_dir(table), {"x": (0.0, 7.0), "y": (0.0, 11.0)}
    )
    assert stats["n_files"] == 5
    assert stats["candidate_fraction"] <= 0.6
    assert rows() == before  # still intact post-vacuum


def _counting_jobs(spark):
    """Context manager counting the Spark jobs its block runs (one job
    group, cleared again on exit); the count lands in the yielded dict."""
    import contextlib
    import uuid

    @contextlib.contextmanager
    def ctx():
        sc = spark.sparkContext
        group = f"count-{uuid.uuid4().hex}"
        out: dict = {}
        sc.setJobGroup(group, "job count")
        try:
            yield out
        finally:
            for prop in ("spark.jobGroup.id", "spark.job.description",
                         "spark.job.interruptOnCancel"):
                sc.setLocalProperty(prop, None)
            out["jobs"] = len(sc.statusTracker().getJobIdsForGroup(group))

    return ctx()


def _persisted_rdds(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def test_acid_file_cow_merge_job_budget_and_cache_hygiene(
    spark, tmp_path, monkeypatch
):
    """A file-COW merge commit evaluates its batch ONCE: one key collect
    feeds the bounds pruning and the broadcast probe, the probe collects
    file names without a shuffle, and the new files' stats come from
    their parquet footers — 7 Spark jobs for a batch with a dedup shuffle
    in its lineage (13 before). The call persists the batch only when the
    caller has not, and never leaves a persisted RDD behind — after a
    normal merge, a lost-then-won commit race, and an exhausted one."""
    from pyspark import StorageLevel

    from stock_etl_pipeline_spark.sinks import acid

    rows = lambda df: sorted((r["k"], r["v"]) for r in df.collect())
    base = spark.createDataFrame(
        [(i, f"v{i}") for i in range(40)], "k long, v string"
    ).repartitionByRange(4, "k")
    cow, tbl = str(tmp_path / "jb_cow"), str(tmp_path / "jb_tbl")
    acid.acid_merge_upsert(spark, cow, base, ["k"], file_cow=True)
    acid.acid_merge_upsert(spark, tbl, base, ["k"])

    def batch(*ks):
        # the daily batch's lineage shape: parallelized rows + dedup shuffle
        return spark.createDataFrame(
            [(k, f"u{k}") for k in ks], "k long, v string"
        ).dropDuplicates(["k"])

    def merge_both(src, **kw):
        rep = acid.acid_merge_upsert(spark, cow, src, ["k"], file_cow=True, **kw)
        acid.acid_merge_upsert(spark, tbl, src, ["k"])
        assert rows(acid.acid_read(spark, cow)) == rows(acid.acid_read(spark, tbl))
        return rep

    held = _persisted_rdds(spark)
    with _counting_jobs(spark) as n:
        rep = acid.acid_merge_upsert(spark, cow, batch(2, 5), ["k"], file_cow=True)
    acid.acid_merge_upsert(spark, tbl, batch(2, 5), ["k"])
    assert rep["files_probed"] == 1 and rep["files_rewritten"] == 1
    assert n["jobs"] == 7
    assert _persisted_rdds(spark) == held

    # a caller's own cache is used as-is and stays persisted
    mine = batch(12, 15).persist()
    mine.count()
    held_mine = _persisted_rdds(spark)
    merge_both(mine)
    assert mine.storageLevel != StorageLevel.NONE
    assert _persisted_rdds(spark) == held_mine
    mine.unpersist()
    assert _persisted_rdds(spark) == held

    # lost race, then won: the retry reuses the persisted batch and the
    # call still drops it
    real = acid._commit_manifest
    lost = []

    def lose_once(*a, **kw):
        if not lost:
            lost.append(1)
            raise acid.CommitConflict("injected")
        return real(*a, **kw)

    monkeypatch.setattr(acid, "_commit_manifest", lose_once)
    rep = merge_both(batch(22, 100))
    monkeypatch.undo()
    assert lost and rep["files_rewritten"] == 1
    assert _persisted_rdds(spark) == held

    # exhausted retries (a dangling marker above current): nothing held
    fs, jvm = acid._fs(spark, cow)
    nxt = acid._next_ordinal(spark, cow)
    fs.createNewFile(acid._hpath(jvm, f"{acid._commits_dir(cow)}/{nxt:020d}"))
    with pytest.raises(acid.CommitConflict):
        acid.acid_merge_upsert(
            spark, cow, batch(33), ["k"], file_cow=True, max_retries=1
        )
    assert _persisted_rdds(spark) == held


def test_acid_file_cow_date_keys_prune_to_one_file(spark, tmp_path):
    """Date merge keys carry manifest bounds (ISO strings): on a table of
    four date-disjoint files, a one-date merge probes exactly one file.
    A manifest written without date bounds still merges correctly — it
    just probes every file whose other bounds overlap."""
    from stock_etl_pipeline_spark.sinks import acid

    days = [dt.date(2024, 5, d) for d in (1, 2, 3, 4)]
    schema = "date date, symbol string, close double"
    rows = lambda df: sorted(tuple(r) for r in df.select(
        "date", "symbol", "close").collect())
    base = spark.createDataFrame(
        [(d, s, float(i)) for i, d in enumerate(days) for s in ("A", "B", "C")],
        schema,
    ).repartitionByRange(4, "date")
    keys = ["date", "symbol"]
    cow, tbl = str(tmp_path / "dk_cow"), str(tmp_path / "dk_tbl")
    acid.acid_merge_upsert(spark, cow, base, keys, file_cow=True)
    acid.acid_merge_upsert(spark, tbl, base, keys)
    man = acid._manifest(spark, cow, 1)
    assert sorted(s["bounds"]["date"] for s in man["files"].values()) == [
        [d.isoformat(), d.isoformat()] for d in days
    ]

    up = spark.createDataFrame(
        [(days[2], "B", 99.0), (days[2], "Z", 1.0)], schema
    )
    rep = acid.acid_merge_upsert(spark, cow, up, keys, file_cow=True)
    acid.acid_merge_upsert(spark, tbl, up, keys)
    assert rep["files_probed"] == 1 and rep["files_rewritten"] == 1
    assert rows(acid.acid_read(spark, cow)) == rows(acid.acid_read(spark, tbl))

    # an older manifest without date bounds: every file is probed (the
    # symbol bounds all overlap the batch), one still rewrites
    fs, jvm = acid._fs(spark, cow)
    cur = acid._current_ordinal(spark, cow)
    path = acid._snap_dir(cow, cur) + "/_manifest.json"
    old = acid._read_json_file(fs, jvm, path)
    for s in old["files"].values():
        s["bounds"].pop("date", None)
    acid._write_json_file(fs, jvm, path, old)
    up2 = spark.createDataFrame([(days[0], "A", 7.0)], schema)
    rep2 = acid.acid_merge_upsert(spark, cow, up2, keys, file_cow=True)
    acid.acid_merge_upsert(spark, tbl, up2, keys)
    assert rep2["files_probed"] == len(old["files"])
    assert rep2["files_rewritten"] == 1
    assert rows(acid.acid_read(spark, cow)) == rows(acid.acid_read(spark, tbl))


def test_acid_footer_stats_match_aggregate(spark, tmp_path):
    """New-file stats come from parquet footers: per file, the row count
    and the long / string / date / double key bounds equal the
    groupBy(input_file_name) min/max aggregate the footers replaced,
    wherever the footer has statistics. An all-NULL chunk and a chunk
    holding NaN (parquet-mr writes no min/max for it) give no bound —
    absent, never wrong."""
    from stock_etl_pipeline_spark.sinks import acid

    schema = T.StructType([
        T.StructField("k", T.LongType()),
        T.StructField("s", T.StringType()),
        T.StructField("d", T.DateType()),
        T.StructField("x", T.DoubleType()),
        T.StructField("n", T.LongType()),
    ])
    keys = ["k", "s", "d", "x", "n"]
    files = [
        [(1, "apple", dt.date(2024, 1, 5), 1.5, None),
         (7, "kiwi", dt.date(2023, 12, 31), -2.25, None),
         (None, "fig", None, None, None)],
        [(3, "über", dt.date(2024, 2, 1), float("nan"), None),
         (-4, "zeta", dt.date(1999, 1, 1), 0.5, None)],
        [(None, "q", dt.date(2030, 6, 6), 3.0, None)],
    ]
    d = str(tmp_path / "footers")
    for rows in files:
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append").parquet(d)

    aggs = [F.count(F.lit(1)).alias("_rows")]
    for k in keys:
        aggs += [F.min(k).alias(f"_lo_{k}"), F.max(k).alias(f"_hi_{k}")]
    old = {
        r["_file"].rsplit("/", 1)[-1]: r
        for r in spark.read.parquet(d)
        .groupBy(F.input_file_name().alias("_file")).agg(*aggs).collect()
    }
    new = acid._footer_stats(spark, d, keys, schema)
    assert set(new) == set(old) and len(new) == 3

    n_bounds = 0
    for name, st in new.items():
        r = old[name]
        assert st["rows"] == r["_rows"]
        for k, b in st["bounds"].items():
            assert b == [acid._bound_value(r[f"_lo_{k}"]),
                         acid._bound_value(r[f"_hi_{k}"])]
            n_bounds += 1
    by_rows = {st["rows"]: st["bounds"] for st in new.values()}
    assert set(by_rows[3]) == {"k", "s", "d", "x"}  # "n" is all-NULL
    assert by_rows[3]["d"] == ["2023-12-31", "2024-01-05"]
    assert set(by_rows[2]) == {"k", "s", "d"}  # NaN chunk: no "x" bound
    assert by_rows[2]["s"] == ["zeta", "über"]  # UTF-8 byte order
    assert set(by_rows[1]) == {"s", "d", "x"}  # all-NULL "k"
    assert n_bounds == 10


def test_acid_maintenance_lease_mutual_exclusion(spark, tmp_path):
    """VERDICT r12 item 8: the single-maintainer contract as CHECKED
    behavior. The lease is the same atomic create-if-absent primitive as
    commit markers: exactly one holder; a leased compact/vacuum raises
    MaintenanceBusy without touching the table; release requires the
    owner token; a crashed holder's lease is broken only with
    force=True."""
    import pytest as _pt

    from stock_etl_pipeline_spark.sinks import acid

    table = str(tmp_path / "lease_tbl")
    base = spark.createDataFrame(
        [(i, f"v{i}") for i in range(10)], "k long, v string"
    ).coalesce(1)
    acid.acid_merge_upsert(spark, table, base, ["k"], file_cow=True)
    for i in range(3):  # small-file tail so compact has work
        acid.acid_merge_upsert(
            spark, table,
            spark.createDataFrame([(100 + i, "x")], "k long, v string"),
            ["k"], file_cow=True,
        )

    token = acid.acid_acquire_maintenance(spark, table)
    with _pt.raises(acid.MaintenanceBusy):
        acid.acid_acquire_maintenance(spark, table)
    hist_before = len(acid.acid_history(spark, table))
    with _pt.raises(acid.MaintenanceBusy):
        acid.acid_compact(spark, table, target_rows=1000, lease=True)
    with _pt.raises(acid.MaintenanceBusy):
        acid.acid_vacuum(spark, table, keep=1, lease=True)
    assert len(acid.acid_history(spark, table)) == hist_before  # untouched

    with _pt.raises(acid.MaintenanceBusy):  # wrong token cannot release
        acid.acid_release_maintenance(spark, table, "not-the-token")
    acid.acid_release_maintenance(spark, table, token)

    # released: leased maintenance proceeds, and the lease is freed after
    rep = acid.acid_compact(spark, table, target_rows=1000, lease=True)
    assert rep["files_compacted"] >= 2
    token2 = acid.acid_acquire_maintenance(spark, table)

    # crashed-holder path: break requires force, then reacquire works
    with _pt.raises(ValueError):
        acid.acid_break_maintenance_lease(spark, table)
    assert acid.acid_break_maintenance_lease(spark, table, force=True)
    acid.acid_release_maintenance(
        spark, table, acid.acid_acquire_maintenance(spark, table)
    )
    del token2


def test_acid_maintenance_lease_corrupt_and_force_broken(spark, tmp_path):
    """Lease robustness (code-review r13): the owner token travels INSIDE
    the atomic create (no ownerless two-step window); a corrupt/empty
    lease left by a nonconforming writer surfaces as MaintenanceBusy
    (never a raw JSON error) and is recoverable via force-break; a lease
    force-broken while a leased compact runs does not mask the completed
    compact's result."""
    import os

    import pytest as _pt

    from stock_etl_pipeline_spark.sinks import acid

    table = str(tmp_path / "lease_rob")
    acid.acid_merge_upsert(
        spark, table,
        spark.createDataFrame([(i, "v") for i in range(6)],
                              "k long, v string").coalesce(1),
        ["k"], file_cow=True,
    )
    for i in range(3):
        acid.acid_merge_upsert(
            spark, table,
            spark.createDataFrame([(50 + i, "x")], "k long, v string"),
            ["k"], file_cow=True,
        )

    # the token is readable directly from the lease object (single-step
    # create-with-content: no window where the lease exists ownerless)
    token = acid.acid_acquire_maintenance(spark, table)
    be = acid._backend(spark, table)
    assert be.read_json(acid._lease_path(table))["owner"] == token
    acid.acid_release_maintenance(spark, table, token)

    # corrupt lease (simulating a nonconforming/legacy writer): release
    # and acquire both speak MaintenanceBusy, force-break recovers
    with open(acid._lease_path(table), "w") as f:
        f.write("")  # empty — unreadable as JSON
    with _pt.raises(acid.MaintenanceBusy, match="unreadable"):
        acid.acid_release_maintenance(spark, table, "whatever")
    with _pt.raises(acid.MaintenanceBusy):
        acid.acid_acquire_maintenance(spark, table)
    assert acid.acid_break_maintenance_lease(spark, table, force=True)

    # force-break racing a leased compact: compact still returns its result
    real_impl = acid._compact_impl

    def breaking_impl(*a, **kw):
        out = real_impl(*a, **kw)
        acid.acid_break_maintenance_lease(spark, table, force=True)
        return out

    acid._compact_impl = breaking_impl
    try:
        rep = acid.acid_compact(spark, table, target_rows=1000, lease=True)
    finally:
        acid._compact_impl = real_impl
    assert rep["files_compacted"] >= 2  # result not masked by the release
    assert not os.path.exists(acid._lease_path(table))


# Values createDataFrame's list path stores in odd ways: NULLs in nullable
# fields, NaN / -0.0 / extreme doubles and longs, a pre-1970 date,
# non-ASCII symbols, naive and UTC-aware timestamps, and a naive timestamp
# in America/New_York's 2024 spring-forward gap.
_ODD_RAW_ROWS = [
    (dt.date(2024, 5, 31), "AAPL", 1.5, None, float("nan"), -0.0, 2**62,
     "alpha_vantage", STAMP),
    (dt.date(1950, 1, 2), "Ünï€ 株", 1e308, -1e308, None, 5e-324, None,
     "yahoo_finance", dt.datetime(2024, 3, 10, 2, 30)),
    (dt.date(1969, 12, 31), "x", -0.0, 0.0, float("-inf"), 0.1, -(2**63),
     "alpha_vantage", dt.datetime(2024, 6, 1, 12, 0, 0, 7, tzinfo=dt.timezone.utc)),
    (dt.date(2024, 11, 3), "", None, None, None, float("inf"), 0,
     "yahoo_finance", dt.datetime(1960, 1, 1, 0, 0)),
]


def _lineage(df) -> str:
    """The executed RDD lineage of ``df`` (shuffle map sides included)."""
    return df._jdf.queryExecution().toRdd().toDebugString()


@pytest.mark.parametrize("zone", ["process", "session"])
def test_frame_from_rows_matches_create_dataframe(spark, zone):
    """``schemas.frame_from_rows`` stores exactly the values the list path
    of ``createDataFrame(rows, schema)`` does (repr-exact), under a
    non-UTC process TZ and under a non-UTC session time zone: RAW_SCHEMA
    rows with odd values, Row objects of the daily merge-key schema, and
    an empty row list."""
    import os
    import time

    from stock_etl_pipeline_spark.operators.merge import MERGE_KEYS
    from stock_etl_pipeline_spark.schemas import frame_from_rows

    saved_tz = os.environ.get("TZ")
    saved_session = spark.conf.get("spark.sql.session.timeZone")
    if zone == "process":
        os.environ["TZ"] = "America/New_York"
        time.tzset()
    else:
        spark.conf.set("spark.sql.session.timeZone", "Asia/Kolkata")
    try:
        def same(rows, schema):
            want = spark.createDataFrame(rows, schema)
            got = frame_from_rows(spark, rows, schema)
            assert got.schema == want.schema == schema
            assert repr(got.collect()) == repr(want.collect())
            assert "PythonRDD" not in _lineage(got)

        same(_ODD_RAW_ROWS, RAW_SCHEMA)
        raw = spark.createDataFrame(_ODD_RAW_ROWS, RAW_SCHEMA)
        key_rows = raw.select(*MERGE_KEYS).collect()
        same(key_rows, raw.select(*MERGE_KEYS).schema)
        same([], RAW_SCHEMA)
    finally:
        if saved_tz is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = saved_tz
        time.tzset()
        spark.conf.set("spark.sql.session.timeZone", saved_session)


def test_extract_null_symbol_raises_before_any_job(spark):
    """A None symbol in a NOT NULL field fails on the driver with a
    ValueError, as createDataFrame's schema check did, and no Spark job
    runs."""
    with _counting_jobs(spark) as n:
        with pytest.raises(ValueError):
            sources.extract_alpha_vantage(
                spark, [None], lambda s: AV_PAYLOAD, extracted_at=STAMP
            )
    assert n["jobs"] == 0


def test_daily_path_starts_no_python_worker(spark, tmp_path, monkeypatch):
    """Driver-side rows on the daily path enter Spark through Arrow, so no
    lineage on it holds a PythonRDD (a Python worker per partition per
    evaluation): both extractors' outputs, the transformed and merged
    batch, the file-COW probe's broadcast key relation, and the empty
    pinned-schema relation a pure-insert merge reads."""
    from stock_etl_pipeline_spark.operators.merge import MERGE_KEYS, merge_datasets
    from stock_etl_pipeline_spark.operators.transform import transform_stock_data
    from stock_etl_pipeline_spark.sinks import acid

    def day(payload, records):
        a = sources.extract_alpha_vantage(
            spark, ["AAPL", "MSFT"], lambda s: payload, extracted_at=STAMP)
        y = sources.extract_yahoo_finance(
            spark, ["AAPL"], lambda s: records, extracted_at=STAMP)
        assert "PythonRDD" not in _lineage(a)
        assert "PythonRDD" not in _lineage(y)
        merged = merge_datasets([
            transform_stock_data(a, processed_at=STAMP),
            transform_stock_data(y, processed_at=STAMP),
        ])
        assert "PythonRDD" not in _lineage(merged)
        return merged

    first = day(AV_PAYLOAD, YF_RECORDS)
    built = []
    real = acid.frame_from_rows

    def recording(*a, **kw):
        built.append(real(*a, **kw))
        return built[-1]

    monkeypatch.setattr(acid, "frame_from_rows", recording)
    table = str(tmp_path / "daily")
    acid.acid_merge_upsert(spark, table, first, MERGE_KEYS, file_cow=True)
    assert built == []  # the first commit neither probes nor merges

    # a restatement of the same days: the probe's key relation
    restated = {d: {**r, "4. close": "1.0"} for d, r in AV_PAYLOAD.items()}
    rep = acid.acid_merge_upsert(
        spark, table, day(restated, YF_RECORDS), MERGE_KEYS, file_cow=True)
    assert rep["files_rewritten"] == 1
    (keys,) = built
    assert keys.columns == MERGE_KEYS and keys.count() == 6
    assert "PythonRDD" not in _lineage(keys)

    # a later day outside every file's bounds: the pure-insert relation
    built.clear()
    later = [{**r, "Date": "2024-06-03"} for r in YF_RECORDS[:1]]
    rep = acid.acid_merge_upsert(
        spark, table, day({"2024-06-03": AV_PAYLOAD["2024-05-31"]}, later),
        MERGE_KEYS, file_cow=True)
    assert rep["files_rewritten"] == 0 and rep["rows_loaded"] == 9
    (empty,) = built
    assert empty.count() == 0
    assert "PythonRDD" not in _lineage(empty)
