"""Source connectors: the reference's extract surface (SURVEY.md §2.1 S1-S6)
as driver-side fetchers that land in DataFrames with explicit schemas.

Design: API fetching is inherently driver-side at reference scale (a handful
of symbols, rate-limited HTTP — reference dags/utils/extractors.py:13-144);
the fetch callable is injected so tests mock it exactly like the reference's
unit tests (tests/extractors.py:51-65,88-96). The Spark boundary is
``schemas.frame_from_rows(spark, rows, RAW_SCHEMA)`` — explicit schema, never
inferred (SURVEY.md §1.4) — which hands the rows to the JVM as an Arrow
table. ``spark.createDataFrame(rows, schema)`` would hold the same values,
but its list path reserializes the parallelized rows with an identity map
(pyspark ``RDD._reserialize``), so the batch's lineage carries a
``PythonRDD`` and every job over it — validation, the MERGE's persist and
probe — starts Python workers. At real scale the same canonicalization
functions feed a ``foreachPartition`` fetcher or a custom DataSource; the
per-source row shape stays identical.

File scans (S3-S5) are thin wrappers that force an explicit schema, because
``inferSchema`` costs an extra full read and type drift breaks parity.
"""

from __future__ import annotations

import datetime as dt
import time
from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..schemas import RAW_SCHEMA, frame_from_rows

# Alpha Vantage raw column names → canonical (reference dags/utils/extractors.py:43-50).
ALPHA_VANTAGE_RENAMES = {
    "1. open": "open",
    "2. high": "high",
    "3. low": "low",
    "4. close": "close",
    "5. volume": "volume",
}

# Yahoo Finance raw column names → canonical (reference dags/utils/extractors.py:109-116);
# Dividends / Stock Splits are dropped by projection (reference :135-136).
YAHOO_RENAMES = {
    "Date": "date",
    "Open": "open",
    "High": "high",
    "Low": "low",
    "Close": "close",
    "Volume": "volume",
}


def _as_date(value) -> dt.date:
    if isinstance(value, dt.datetime):
        return value.date()
    if isinstance(value, dt.date):
        return value
    return dt.date.fromisoformat(str(value)[:10])


def _raw_row(
    date, symbol: str, rec: dict, source: str, extracted_at: dt.datetime
) -> tuple:
    vol = rec.get("volume")
    return (
        _as_date(date),
        symbol,
        None if rec.get("open") is None else float(rec["open"]),
        None if rec.get("high") is None else float(rec["high"]),
        None if rec.get("low") is None else float(rec["low"]),
        float(rec["close"]),
        None if vol is None else int(float(vol)),
        source,
        extracted_at,
    )


def extract_alpha_vantage(
    spark: SparkSession,
    symbols: Iterable[str],
    fetch_daily: Callable[[str], dict],
    *,
    extracted_at: dt.datetime | None = None,
    rate_limit_seconds: float = 0.0,
    on_error: Callable[[str, Exception], None] | None = None,
) -> DataFrame:
    """S1 (reference dags/utils/extractors.py:13-78): per-symbol daily OHLCV.

    ``fetch_daily(symbol)`` returns the provider's shape: ``{date_str:
    {'1. open': v, ..., '5. volume': v}}``. Per-symbol failures are skipped
    (reference :58-60); ``rate_limit_seconds`` mirrors the provider's
    5-calls/min free tier (reference sleeps 12 s, :54-56 — keep 0 in tests).
    """
    stamp = extracted_at or dt.datetime.now()
    rows: list[tuple] = []
    for i, symbol in enumerate(symbols):
        if i and rate_limit_seconds:
            time.sleep(rate_limit_seconds)
        try:
            payload = fetch_daily(symbol)
        except Exception as exc:  # per-symbol skip, pipeline continues
            if on_error:
                on_error(symbol, exc)
            continue
        for date_key, rec in payload.items():
            canon = {ALPHA_VANTAGE_RENAMES.get(k, k): v for k, v in rec.items()}
            rows.append(_raw_row(date_key, symbol, canon, "alpha_vantage", stamp))
    return frame_from_rows(spark, rows, RAW_SCHEMA)


def extract_yahoo_finance(
    spark: SparkSession,
    symbols: Iterable[str],
    fetch_history: Callable[[str], list[dict]],
    *,
    extracted_at: dt.datetime | None = None,
    on_error: Callable[[str, Exception], None] | None = None,
) -> DataFrame:
    """S2 (reference dags/utils/extractors.py:81-144): per-symbol history.

    ``fetch_history(symbol)`` returns provider-shaped records
    (capitalized columns, possibly extra ``Dividends``/``Stock Splits`` —
    dropped here by projection, reference :135-136).
    """
    stamp = extracted_at or dt.datetime.now()
    rows: list[tuple] = []
    for symbol in symbols:
        try:
            records = fetch_history(symbol)
        except Exception as exc:
            if on_error:
                on_error(symbol, exc)
            continue
        for rec in records:
            canon = {YAHOO_RENAMES.get(k, k): v for k, v in rec.items()}
            rows.append(_raw_row(canon["date"], symbol, canon, "yahoo_finance", stamp))
    return frame_from_rows(spark, rows, RAW_SCHEMA)


def from_records(
    spark: SparkSession,
    fetch_callable: Callable[[], object],
    schema: T.StructType | None = None,
) -> DataFrame:
    """S6 (reference plugins/custom_operators/api_gcs.py:13-118): arbitrary
    fetch → DataFrame, coercing dict / list-of-dicts like the reference's
    operator (:68-79). Explicit schema recommended; without one Spark infers
    from the driver-side records (fine for small control-plane fetches)."""
    data = fetch_callable()
    if isinstance(data, dict):
        data = [data]
    if not isinstance(data, list):
        raise TypeError(f"fetch_callable must return dict or list, got {type(data)}")
    if schema is not None:
        return spark.createDataFrame(data, schema)
    return spark.createDataFrame(data)


def scan_csv(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """S3: schema-enforced CSV scan (header skipped like the reference's
    ``skip_leading_rows=1``, dags/utils/loaders.py:41)."""
    return spark.read.schema(schema).option("header", True).csv(path)


def scan_parquet(spark: SparkSession, path: str) -> DataFrame:
    """S4: parquet scan (schema from footer — self-describing)."""
    return spark.read.parquet(path)


def scan_json(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """S5: schema-enforced JSON-lines scan."""
    return spark.read.schema(schema).json(path)


def scan_json_permissive(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    corrupt_col: str = "_corrupt_record",
) -> DataFrame:
    """S5 with corrupt-input tolerance: malformed lines land in
    ``corrupt_col`` instead of failing the job — the engine's analogue of
    the reference's per-file error skip (dags/utils/transformers.py:98-100),
    but row-granular and quarantine-able. Split the result with
    ``filter(col(corrupt_col).isNull())`` / ``.isNotNull()`` to route clean
    rows onward and corrupt ones to a dead-letter sink.

    Note: Spark disallows queries that reference ONLY the corrupt column of
    a raw JSON scan (count()-style pruned probes) — ``cache()`` the frame
    first, or just write both splits to sinks (full-row actions are fine).
    """
    full = T.StructType(
        [*schema.fields, T.StructField(corrupt_col, T.StringType(), True)]
    )
    return (
        spark.read.schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
        .json(path)
    )


def scan_orc(spark: SparkSession, path: str) -> DataFrame:
    """S4b: ORC scan — the other self-describing columnar core format
    (schema from the file footer, predicate pushdown and column pruning via
    Spark's native ORC reader, same as parquet)."""
    return spark.read.orc(path)


def scan_text(
    spark: SparkSession, path: str, *, wholetext: bool = False
) -> DataFrame:
    """S7: line-oriented text scan → one ``value`` string column per line
    (``wholetext=True``: one row per FILE — the shape raw-document corpus
    ingestion wants before the documents table exists). Lines never split
    across partitions; files split on line boundaries, so the scan
    parallelizes like any other splittable source."""
    return spark.read.text(path, wholetext=wholetext)


def scan_binary_files(
    spark: SparkSession, path: str, *, path_glob: str | None = None
) -> DataFrame:
    """S8: opaque-file scan via Spark's ``binaryFile`` source — one row per
    file: (path, modificationTime, length, content binary). The multimodal
    ingestion entry point: media bytes enter the engine as a binary column
    with metadata and (by design) never shuffle — see multimodal/.

    ``path_glob`` filters files at LISTING time (pathGlobFilter), so
    non-matching files are never opened. Note binaryFile is non-splittable
    (one file = one task input); parallelism comes from the file COUNT,
    which is the natural unit for media corpora."""
    reader = spark.read.format("binaryFile")
    if path_glob is not None:
        reader = reader.option("pathGlobFilter", path_glob)
    return reader.load(path)


def media_from_binary_files(
    spark: SparkSession,
    path: str,
    media_type: str = "image",
    *,
    path_glob: str | None = None,
) -> DataFrame:
    """Bridge a ``binaryFile`` scan into the multimodal MEDIA_SCHEMA shape:
    doc_id = xxhash64(path) (stable, content-independent — re-ingesting a
    changed file keeps its id), media_type as given, content = file bytes,
    source = the file path. Feed the result straight to
    ``multimodal.extract_media_features`` / ``decode_media``."""
    from pyspark.sql import functions as F

    return scan_binary_files(spark, path, path_glob=path_glob).select(
        F.xxhash64("path").alias("doc_id"),
        F.lit(media_type).alias("media_type"),
        F.col("content"),
        F.col("path").alias("source"),
    )


# Format dispatch mirroring the quality operator's reader
# (reference plugins/custom_operators/data_quality.py:63-72).
def scan(spark: SparkSession, path: str, file_format: str, schema: T.StructType | None = None) -> DataFrame:
    fmt = file_format.lower()
    if fmt == "csv":
        if schema is None:
            raise ValueError("CSV scan requires an explicit schema")
        return scan_csv(spark, path, schema)
    if fmt == "parquet":
        return scan_parquet(spark, path)
    if fmt == "json":
        if schema is None:
            raise ValueError("JSON scan requires an explicit schema")
        return scan_json(spark, path, schema)
    if fmt == "orc":
        return scan_orc(spark, path)
    if fmt == "text":
        return scan_text(spark, path)
    if fmt in ("binary", "binaryfile"):
        return scan_binary_files(spark, path)
    raise ValueError(f"unsupported format: {file_format}")
