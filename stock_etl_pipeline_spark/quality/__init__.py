"""Data-quality suite: the reference's Q1–Q13 validation surface
(SURVEY.md §2.8) re-expressed as ONE fused Spark aggregation per suite.

The reference runs each check as its own full-table pandas scan
(``dags/utils/validators.py:64-458``: raw suite :64-170, transformed suite
:173-251, freshness :254-309, coverage :312-370, sink-schema :373-458), and
every check re-reads the frame. Here all count-style checks of a suite are
fused into a single ``df.agg(...)`` — one job, one scan, partial aggregation
map-side — which is the difference between O(checks) and O(1) passes at
100 TB. Schema-shaped checks (Q1, Q2 dtypes, Q12) are metadata-only and run
no job at all.

Every suite returns the reference's uniform result contract
(``dags/utils/validators.py:75-80``): ``(passed, {passed, errors[],
warnings[], metrics{}})`` — modeled as :class:`QualityReport`.

Thresholds mirror the reference: negative close hard-fails (:117-121),
future dates hard-fail (:124-136), stale data > 365 d warns (:146-150),
duplicate keys warn (:152-155), close > 10 000 warns (:199-203), volume >
1e9 warns (:204-208), daily_volatility > 20 warns (:210-215), cross-source
spread > 5 % warns (:231-244), freshness gate errors past ``max_age_days``
(:254-309), missing required symbols error / extras warn (:312-370).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from datetime import date

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

REQUIRED_COLUMNS = ("date", "symbol", "close", "data_source")
DEDUP_KEYS = ("date", "symbol", "data_source")

MAX_CLOSE_SANE = 10_000.0
MAX_VOLUME_SANE = 1_000_000_000
VOLATILITY_WARN = 20.0
STALE_DAYS = 365
CROSS_SOURCE_SPREAD_WARN = 0.05


@dataclass
class QualityReport:
    """Uniform check-result contract (dags/utils/validators.py:75-80)."""

    passed: bool = True
    errors: list[str] = field(default_factory=list)
    warnings: list[str] = field(default_factory=list)
    metrics: dict = field(default_factory=dict)

    def error(self, msg: str) -> None:
        self.errors.append(msg)
        self.passed = False

    def warn(self, msg: str) -> None:
        self.warnings.append(msg)

    def as_tuple(self) -> tuple[bool, dict]:
        return self.passed, {
            "passed": self.passed,
            "errors": self.errors,
            "warnings": self.warnings,
            "metrics": self.metrics,
        }


def _null_count(c: str) -> F.Column:
    return F.count_if(F.col(c).isNull()).alias(f"n_null_{c}")


def quality_metrics_agg(as_of: str) -> list[F.Column]:
    """The fused metric set: every count-style check of the raw+transformed
    suites as aggregate expressions for ONE ``df.agg(...)`` pass."""
    volatility = (F.col("high") - F.col("low")) / F.col("open") * 100.0
    return [
        F.count("*").alias("row_count"),
        *[_null_count(c) for c in ("open", "high", "low", "close", "volume")],
        F.count_if(F.col("close") < 0).alias("n_negative_close"),  # Q3
        F.count_if(F.col("date") > F.lit(as_of).cast("date")).alias("n_future_dates"),  # Q4
        F.min("date").alias("min_date"),  # Q5 staleness input
        F.max("date").alias("max_date"),  # Q10 freshness input
        (F.count("*") - F.count_distinct(*[F.col(k) for k in DEDUP_KEYS])).alias(
            "n_duplicate_rows"
        ),  # Q6 (excess rows beyond distinct keys)
        F.max("close").alias("max_close"),  # Q7
        F.max("volume").alias("max_volume"),  # Q7
        F.count_if(volatility > VOLATILITY_WARN).alias("n_high_volatility"),  # Q8
        F.count_distinct(F.col("symbol")).alias("n_symbols"),  # Q11 input
        F.count_distinct(F.col("data_source")).alias("n_sources"),
    ]


def quality_metrics_df(df: DataFrame, as_of: str) -> DataFrame:
    """The one-row metric relation, as a dedup-key ROLLUP (round 14,
    guide §2.3 — shuffle/expand fewer rows).

    ``quality_metrics_agg`` in one flat ``df.agg`` carries THREE distinct
    groups, so RewriteDistinctAggregates plans an Expand(4): every input
    row is copied four times before the partial aggregate (600k → 2.4M
    expanded rows at sf0.1). But every non-distinct metric is decomposable
    over the dedup key (date, symbol, data_source): pre-aggregate partials
    per key (map-side combine; the exchange carries |distinct keys| rows),
    then finish on that ~keys-sized relation where
    ``count(*)`` IS the distinct-key count and the two remaining distinct
    aggregates expand |keys| rows instead of the corpus. Same metric row
    bit-for-bit (integer counts, min/max of the same values); the one
    semantic seam — ``count_distinct`` drops NULL-key rows while a
    groupBy keeps a NULL group — cannot fire on the prices relation, whose
    dedup keys are non-null by construction (and the DuckDB oracle's
    ``count(DISTINCT (row))`` sides with the groupBy on that seam anyway).
    Measured (7-rep interleaved A/B, sf0.1): 1.147 → 0.848 s median,
    plan Expand(4) over the scan → Expand(3) over the key relation.
    ``SPARK_GRAFT_QS_EXPAND=1`` keeps the flat-agg arm for A/B."""
    import os

    if os.environ.get("SPARK_GRAFT_QS_EXPAND") == "1":
        return df.agg(*quality_metrics_agg(as_of))
    volatility = (F.col("high") - F.col("low")) / F.col("open") * 100.0
    g = df.groupBy(*DEDUP_KEYS).agg(
        F.count("*").alias("_n"),
        *[
            F.count_if(F.col(c).isNull()).alias(f"_null_{c}")
            for c in ("open", "high", "low", "close", "volume")
        ],
        F.count_if(F.col("close") < 0).alias("_neg"),
        F.count_if(F.col("date") > F.lit(as_of).cast("date")).alias("_fut"),
        F.min("date").alias("_mind"),
        F.max("date").alias("_maxd"),
        F.max("close").alias("_maxc"),
        F.max("volume").alias("_maxv"),
        F.count_if(volatility > VOLATILITY_WARN).alias("_hv"),
    )
    # coalesce(sum, 0): over an EMPTY relation sum is NULL while the flat
    # arm's count_if/count(*) are 0 — the arms must agree there too
    # (test_empty_dataset_fails relies on row_count == 0).
    z = F.lit(0)

    def s(col: str):
        return F.coalesce(F.sum(col), z).cast("long")

    return g.agg(
        s("_n").alias("row_count"),
        *[
            s(f"_null_{c}").alias(f"n_null_{c}")
            for c in ("open", "high", "low", "close", "volume")
        ],
        s("_neg").alias("n_negative_close"),
        s("_fut").alias("n_future_dates"),
        F.min("_mind").alias("min_date"),
        F.max("_maxd").alias("max_date"),
        (s("_n") - F.count("*")).cast("long").alias("n_duplicate_rows"),
        F.max("_maxc").alias("max_close"),
        F.max("_maxv").alias("max_volume"),
        s("_hv").alias("n_high_volatility"),
        F.count_distinct(F.col("symbol")).alias("n_symbols"),
        F.count_distinct(F.col("data_source")).alias("n_sources"),
    )


def validate_prices(
    df: DataFrame,
    *,
    as_of: str,
    max_age_days: int | None = None,
    required_symbols: list[str] | None = None,
) -> QualityReport:
    """Full price-table quality suite — Q1–Q12 with at most TWO jobs:
    the fused aggregate, plus (only if ``required_symbols``) one tiny
    distinct-symbols job for coverage. Schema checks run no job.

    Rows whose dedup key (``DEDUP_KEYS``) has a NULL part count as a key
    of their own in ``n_duplicate_rows``: the metrics come from a
    groupBy over the key (``quality_metrics_df``), which keeps a NULL
    group, so two rows with a NULL ``symbol`` and the same date and
    source are one duplicate. The flat ``count_distinct`` used before
    round 14 dropped NULL-key rows, so each of them counted as a
    duplicate. The DuckDB oracle's ``count(DISTINCT (row))`` agrees with
    the groupBy.
    """
    report = QualityReport()

    # Q1: required columns present (metadata-only — dags/utils/validators.py:92-98).
    missing_cols = [c for c in REQUIRED_COLUMNS if c not in df.columns]
    if missing_cols:
        report.error(f"missing required columns: {missing_cols}")
        return report

    # Q2: dtype conformance (metadata-only). Nullability is counted below.
    expected = {
        "date": T.DateType(),
        "close": T.DoubleType(),
        "symbol": T.StringType(),
        "data_source": T.StringType(),
    }
    for name, want in expected.items():
        got = df.schema[name].dataType
        if got != want:
            report.warn(f"column {name} has type {got.simpleString()}, expected {want.simpleString()}")

    # The ONE fused scan (Q3-Q8, Q10 inputs, profile metrics).
    row = quality_metrics_df(df, as_of).collect()[0]
    m = row.asDict()
    report.metrics.update(m)

    if m["row_count"] == 0:  # empty-relation guard (dags/utils/validators.py:86-89)
        report.error("dataset is empty")
        return report
    if m["n_null_close"] > 0:
        report.error(f"{m['n_null_close']} null close values")
    if m["n_negative_close"] > 0:  # Q3 hard error
        report.error(f"{m['n_negative_close']} negative close prices")
    if m["n_future_dates"] > 0:  # Q4 hard error
        report.error(f"{m['n_future_dates']} rows dated after {as_of}")
    if m["n_duplicate_rows"] > 0:  # Q6 warning
        report.warn(f"{m['n_duplicate_rows']} duplicate rows by {DEDUP_KEYS}")
    if m["max_close"] is not None and m["max_close"] > MAX_CLOSE_SANE:  # Q7
        report.warn(f"max close {m['max_close']} exceeds {MAX_CLOSE_SANE}")
    if m["max_volume"] is not None and m["max_volume"] > MAX_VOLUME_SANE:  # Q7
        report.warn(f"max volume {m['max_volume']} exceeds {MAX_VOLUME_SANE}")
    if m["n_high_volatility"] > 0:  # Q8
        report.warn(f"{m['n_high_volatility']} rows with daily volatility > {VOLATILITY_WARN}%")

    as_of_d = date.fromisoformat(as_of)
    if m["min_date"] is not None:  # Q5 staleness warning
        age = (as_of_d - m["min_date"]).days
        if age > STALE_DAYS:
            report.warn(f"oldest data is {age} days old (> {STALE_DAYS})")
    if max_age_days is not None and m["max_date"] is not None:  # Q10 freshness gate
        behind = (as_of_d - m["max_date"]).days
        report.metrics["days_behind"] = behind
        if behind > max_age_days:
            report.error(f"newest data is {behind} days behind (max {max_age_days})")

    # Q11: symbol coverage (one extra tiny job — distinct symbols).
    if required_symbols is not None:
        actual = {r[0] for r in df.select("symbol").distinct().collect()}
        missing = sorted(set(required_symbols) - actual)
        extras = sorted(actual - set(required_symbols))
        report.metrics["missing_symbols"] = missing
        report.metrics["extra_symbols"] = extras
        if missing:
            report.error(f"missing required symbols: {missing}")
        if extras:
            report.warn(f"unexpected symbols present: {extras}")

    return report


def cross_source_consistency(
    df: DataFrame, spread_threshold: float = CROSS_SOURCE_SPREAD_WARN
) -> DataFrame:
    """Q9 (dags/utils/validators.py:231-244) as a grouped aggregation instead
    of the reference's nested Python loop: per (symbol, date) groups seen by
    >1 source, relative close spread above threshold."""
    g = df.groupBy("symbol", "date").agg(
        F.min("close").alias("min_close"),
        F.max("close").alias("max_close"),
        F.count_distinct("data_source").alias("n_sources"),
    )
    spread = (F.col("max_close") - F.col("min_close")) / F.col("min_close")
    return (
        g.filter(F.col("n_sources") > 1)
        .withColumn("spread_pct", spread)
        .filter(F.col("spread_pct") > spread_threshold)
    )


def validate_sink_schema(df: DataFrame, target: T.StructType) -> QualityReport:
    """Q12 (dags/utils/validators.py:373-458): DataFrame columns vs. a target
    schema — required-present errors, type-coercibility warnings, extra
    columns warned. Metadata-only, no job."""
    report = QualityReport()
    df_types = {f.name: f.dataType for f in df.schema.fields}
    for f in target.fields:
        if f.name not in df_types:
            if not f.nullable:
                report.error(f"required sink column {f.name} missing")
            else:
                report.warn(f"nullable sink column {f.name} missing")
            continue
        got = df_types[f.name]
        if got != f.dataType and not _coercible(got, f.dataType):
            report.warn(
                f"column {f.name}: {got.simpleString()} not directly coercible to "
                f"{f.dataType.simpleString()}"
            )
    extras = [c for c in df.columns if c not in {f.name for f in target.fields}]
    if extras:
        report.warn(f"extra columns not in sink schema: {extras}")
    report.metrics["n_extra_columns"] = len(extras)
    return report


_NUMERIC = (T.ByteType, T.ShortType, T.IntegerType, T.LongType, T.FloatType, T.DoubleType)


def _coercible(got: T.DataType, want: T.DataType) -> bool:
    if isinstance(got, _NUMERIC) and isinstance(want, _NUMERIC):
        return True
    if isinstance(want, T.StringType):
        return True
    if isinstance(got, (T.StringType, T.TimestampType)) and isinstance(
        want, (T.DateType, T.TimestampType)
    ):
        return True
    return False
