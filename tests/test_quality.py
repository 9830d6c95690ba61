"""Unit tests for the fused data-quality suite (quality/) — the reference's
Q1-Q12 checks (dags/utils/validators.py) as report-contract assertions over
small in-memory frames."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from stock_etl_pipeline_spark.quality import (
    QualityReport,
    cross_source_consistency,
    validate_prices,
    validate_sink_schema,
)

AS_OF = "2024-06-30"

SCHEMA = T.StructType(
    [
        T.StructField("date", T.DateType()),
        T.StructField("symbol", T.StringType()),
        T.StructField("open", T.DoubleType()),
        T.StructField("high", T.DoubleType()),
        T.StructField("low", T.DoubleType()),
        T.StructField("close", T.DoubleType()),
        T.StructField("volume", T.LongType()),
        T.StructField("data_source", T.StringType()),
    ]
)


def mk(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def row(d="2024-06-01", sym="AAA", o=10.0, h=11.0, lo=9.0, c=10.5, v=100, src="alpha"):
    return (dt.date.fromisoformat(d), sym, o, h, lo, c, v, src)


def test_clean_data_passes(spark):
    rep = validate_prices(mk(spark, [row(), row(d="2024-06-02")]), as_of=AS_OF)
    assert rep.passed and not rep.errors
    assert rep.metrics["row_count"] == 2
    assert rep.metrics["n_duplicate_rows"] == 0


def test_negative_close_hard_error(spark):
    rep = validate_prices(mk(spark, [row(c=-5.0)]), as_of=AS_OF)
    assert not rep.passed and any("negative close" in e for e in rep.errors)


def test_future_dates_hard_error(spark):
    rep = validate_prices(mk(spark, [row(d="2030-01-01")]), as_of=AS_OF)
    assert not rep.passed and any("dated after" in e for e in rep.errors)


def test_duplicate_keys_warn_not_fail(spark):
    rep = validate_prices(mk(spark, [row(), row()]), as_of=AS_OF)
    assert rep.passed
    assert rep.metrics["n_duplicate_rows"] == 1
    assert any("duplicate" in w for w in rep.warnings)


def test_duplicate_rows_count_null_key_as_a_key(spark):
    """Rows with a NULL dedup-key part form one key group: two NULL-symbol
    rows on the same date and source are one duplicate (the flat
    count_distinct before round 14 dropped both and reported two)."""
    rep = validate_prices(
        mk(spark, [row(sym=None), row(sym=None), row(sym="AAA")]), as_of=AS_OF
    )
    assert rep.metrics["row_count"] == 3
    assert rep.metrics["n_duplicate_rows"] == 1


def test_sanity_warnings(spark):
    rep = validate_prices(
        mk(spark, [row(c=20000.0, h=20000.0, v=2_000_000_000)]), as_of=AS_OF
    )
    assert rep.passed
    assert any("max close" in w for w in rep.warnings)
    assert any("max volume" in w for w in rep.warnings)


def test_volatility_warn(spark):
    # (high-low)/open*100 = 50 > 20
    rep = validate_prices(mk(spark, [row(o=10.0, h=14.0, lo=9.0)]), as_of=AS_OF)
    assert rep.metrics["n_high_volatility"] == 1
    assert any("volatility" in w for w in rep.warnings)


def test_freshness_gate(spark):
    rep = validate_prices(mk(spark, [row(d="2024-01-01")]), as_of=AS_OF, max_age_days=30)
    assert not rep.passed and any("behind" in e for e in rep.errors)
    assert rep.metrics["days_behind"] == 181


def test_staleness_warning(spark):
    rows = [row(d="2022-01-01"), row(d="2024-06-29")]
    rep = validate_prices(mk(spark, rows), as_of=AS_OF)
    assert rep.passed and any("days old" in w for w in rep.warnings)


def test_symbol_coverage(spark):
    rep = validate_prices(
        mk(spark, [row(sym="AAA"), row(sym="ZZZ")]),
        as_of=AS_OF,
        required_symbols=["AAA", "BBB"],
    )
    assert not rep.passed
    assert rep.metrics["missing_symbols"] == ["BBB"]
    assert rep.metrics["extra_symbols"] == ["ZZZ"]


def test_missing_required_column_short_circuits(spark):
    df = mk(spark, [row()]).drop("close")
    rep = validate_prices(df, as_of=AS_OF)
    assert not rep.passed and "missing required columns" in rep.errors[0]
    assert rep.metrics == {}  # no scan ran


def test_empty_dataset_fails(spark):
    rep = validate_prices(mk(spark, []), as_of=AS_OF)
    assert not rep.passed and any("empty" in e for e in rep.errors)


def test_cross_source_consistency(spark):
    rows = [
        row(src="alpha", c=10.0),
        row(src="yahoo", c=11.0),  # 10% spread > 5% → flagged
        row(d="2024-06-02", src="alpha", c=10.0),
        row(d="2024-06-02", src="yahoo", c=10.1),  # 1% spread → ok
        row(d="2024-06-03", src="alpha", c=99.0),  # single source → skipped
    ]
    out = cross_source_consistency(mk(spark, rows)).collect()
    assert len(out) == 1
    assert out[0]["date"] == dt.date(2024, 6, 1)
    assert out[0]["spread_pct"] == pytest.approx(0.1)


def test_sink_schema_check(spark):
    df = mk(spark, [row()])
    df = df.withColumn("extra", df["close"])
    target = T.StructType(
        [
            T.StructField("date", T.DateType(), nullable=False),
            T.StructField("close", T.DoubleType(), nullable=False),
            T.StructField("required_missing", T.StringType(), nullable=False),
            T.StructField("optional_missing", T.StringType(), nullable=True),
        ]
    )
    rep = validate_sink_schema(df, target)
    assert not rep.passed
    assert any("required_missing" in e for e in rep.errors)
    assert any("optional_missing" in w for w in rep.warnings)
    assert any("extra columns" in w for w in rep.warnings)


def test_report_tuple_contract():
    rep = QualityReport()
    rep.warn("w")
    rep.error("e")
    passed, payload = rep.as_tuple()
    assert passed is False
    assert payload["errors"] == ["e"] and payload["warnings"] == ["w"]
    assert set(payload) == {"passed", "errors", "warnings", "metrics"}


def test_metrics_rollup_arm_equality(spark, monkeypatch):
    """Round 14: quality_metrics_df's dedup-key rollup (Expand over the
    key relation instead of the scan) must reproduce the flat
    quality_metrics_agg row EXACTLY — same column names, same order, same
    values — on the real prices relation, including duplicate keys and a
    NULL metric column (nulls in non-key columns; the dedup keys are
    non-null by the prices-view construction)."""
    from stock_etl_pipeline_spark.datasets import AS_OF_DATE, load_prices
    from stock_etl_pipeline_spark.quality import quality_metrics_df

    prices = load_prices(spark, "/root/testdata/sf0.01")
    # exercise duplicates and nulls: double a slice, null some closes
    p = prices.unionAll(prices.limit(500)).withColumn(
        "close",
        F.when(F.col("volume") % 7 == 0, F.lit(None)).otherwise(F.col("close")),
    )
    rollup = quality_metrics_df(p, AS_OF_DATE)
    monkeypatch.setenv("SPARK_GRAFT_QS_EXPAND", "1")
    flat = quality_metrics_df(p, AS_OF_DATE)
    monkeypatch.delenv("SPARK_GRAFT_QS_EXPAND")
    assert rollup.columns == flat.columns
    a, b = rollup.collect()[0].asDict(), flat.collect()[0].asDict()
    assert a == b
    # the prices view has inherent duplicate keys; the union adds 500 more
    assert a["n_duplicate_rows"] >= 500 and a["n_null_close"] > 0
