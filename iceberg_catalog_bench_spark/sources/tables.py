"""Parquet table sources for the driver-generated testdata.

The reference reads Iceberg tables through engine catalogs
(``iceberg-tests/framework/engines/spark.py:63-71``); our local
substrate is the driver's parquet star schema (TESTDATA.md). This
module is the single place that maps logical table names to storage,
so swapping in an Iceberg/REST catalog later is a one-file change.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Schema cache (r15 optimization round, guide §6): ``spark.read.parquet``
# infers the schema by reading parquet footers on the DRIVER on every
# call — measured 100-230 ms per call at sf0.1 vs 22 ms with an
# explicit schema. The composite bench phases issue ~100+ load_table
# calls per run, so footer re-inference alone costs seconds of pure
# driver time. A real deployment gets the schema from the catalog
# (Iceberg metadata), not from data-file footers; this cache is that
# catalog lookup, keyed on (path, mtime_ns, size) so any rewrite of
# the file invalidates it. METADATA only — never rows.
_SCHEMA_CACHE: dict[tuple[str, int, int], object] = {}


def _schema_cache_key(path: str) -> tuple:
    """Cache key for ``path``'s parquet schema. For a single file:
    (mtime_ns, size). For a DIRECTORY: a dir inode's mtime only moves
    on entry add/delete/rename, so an in-place rewrite of a part file
    — at any depth, e.g. inside a partition subdirectory — would serve
    a stale schema silently. Key on the sorted (relative path,
    mtime_ns, size) listing of every file below ``path`` instead (a
    walk of a local table dir is far cheaper than the 100-230 ms
    footer inference the cache avoids)."""
    st = os.stat(path)
    if not os.path.isdir(path):
        return (path, st.st_mtime_ns, st.st_size)
    entries = []
    for root, _dirs, files in os.walk(path):
        for name in files:
            full = os.path.join(root, name)
            fs = os.stat(full)
            entries.append(
                (os.path.relpath(full, path), fs.st_mtime_ns, fs.st_size))
    return (path, tuple(sorted(entries)))


def _read_parquet_cached(spark: SparkSession, path: str) -> DataFrame:
    try:
        key = _schema_cache_key(path)
    except OSError:
        return spark.read.parquet(path)
    schema = _SCHEMA_CACHE.get(key)
    if schema is None:
        df = spark.read.parquet(path)
        _SCHEMA_CACHE[key] = df.schema
        return df
    return spark.read.schema(schema).parquet(path)


def load_table(spark: SparkSession, name: str, sf_dir: str | None = None) -> DataFrame:
    """Load one logical table as a DataFrame (parquet scan, pruned by Catalyst).

    ``events.parquet`` has shipped ``ts`` as either parquet
    TIMESTAMP(NANOS) (which Spark's vectorized reader rejects —
    PARQUET_TYPE_ILLEGAL — so we read it via the ``nanosAsLong`` legacy
    path and convert) or plain TIMESTAMP(MICROS) (read natively). The
    reader adapts to whichever physical type the file carries and
    always presents a session-TZ TimestampType column. Time-range
    filters that must push down to the parquet scan should use
    :func:`load_events_ts_range`, which filters on the raw column
    BEFORE any conversion.
    """
    sf_dir = sf_dir or DEFAULT_SF_DIR
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    # timestamps must render in UTC for oracle parity regardless of the
    # caller's session defaults (the driver builds its own session)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        return _events_normalize_ts(_load_events_raw(spark, path))
    return _read_parquet_cached(spark, path)


def _load_events_raw(spark: SparkSession, path: str) -> DataFrame:
    # the legacy flag must be set BEFORE schema inference; with a cached
    # schema it still governs how the vectorized reader materializes a
    # TIMESTAMP(NANOS) column declared bigint
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return _read_parquet_cached(spark, path)


def _events_normalize_ts(raw: DataFrame) -> DataFrame:
    """Present ``ts`` as TimestampType whatever the file stored:
    int64 nanos (legacy nanosAsLong read) → µs; TIMESTAMP_NTZ /
    TIMESTAMP → cast (wall-clock preserved, session TZ is UTC)."""
    if dict(raw.dtypes)["ts"] == "bigint":
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def load_events_ts_range(
    spark: SparkSession,
    sf_dir: str | None,
    ts_lo: str | None = None,
    ts_hi: str | None = None,
) -> DataFrame:
    """events with a [ts_lo, ts_hi) filter applied on the RAW stored column.

    Filtering on the physical column (int64 nanos or timestamp micros,
    whichever the file carries) keeps the predicate eligible for parquet
    row-group pruning (PushedFilters shows GreaterThanOrEqual/LessThan
    on ts) — the equivalent of Iceberg days(ts) partition pruning in the
    reference (blob-dfs_bench.py:117-122). The column is normalized to
    TimestampType only after the pushed filter.
    """
    import datetime as _dt

    sf_dir = sf_dir or DEFAULT_SF_DIR
    raw = _load_events_raw(spark, os.path.join(sf_dir, "events.parquet"))
    ts_is_long = dict(raw.dtypes)["ts"] == "bigint"

    def _bound(ts: str):
        if ts_is_long:
            dt = _dt.datetime.fromisoformat(ts).replace(tzinfo=_dt.timezone.utc)
            return F.lit(int(dt.timestamp() * 1_000_000) * 1000)
        # timestamp/ntz column: an untyped string literal comparison
        # coerces to the column type and still pushes down
        return F.lit(ts).cast(dict(raw.dtypes)["ts"])

    if ts_lo is not None:
        raw = raw.filter(F.col("ts") >= _bound(ts_lo))
    if ts_hi is not None:
        raw = raw.filter(F.col("ts") < _bound(ts_hi))
    return _events_normalize_ts(raw)


def register_all_views(spark: SparkSession, sf_dir: str | None = None) -> None:
    """Register every testdata table as a temp view for spark.sql queries."""
    for name in TABLES:
        load_table(spark, name, sf_dir).createOrReplaceTempView(name)
