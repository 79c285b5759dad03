"""Table catalog: loaders for the 10 driver tables + the canonical series view.

Schemas/domains: FIXTURES.md (measured from /root/testdata parquet).
The ``series`` view reproduces catena's exact row model
``(source STRING, metric STRING, ts TIMESTAMP, value DOUBLE)``
(SURVEY.md §1.1 [R point.go · Point/Row]) on the driver's events table:
user_id plays catena's *source*, event_type its *metric*. Every
time-series operator (operators/timeseries.py) is written against this
view, so the same code serves any conforming table.

Schema cache: ``load`` reads ``spark.read.schema(s).parquet(path)``,
where ``s`` is the table's inferred parquet schema. Inference runs its
own footer-reading Spark job per call (~0.1 s per table at sf0.01 on
4 cores, a third of a cold analytic query), so ``parquet_schema``
infers once per table version and process and keeps the ``StructType``
in ``_SCHEMA_CACHE``, one entry per path. The entry's key is

- the file's ``(mtime_ns, size)``, or for a directory table the sorted
  ``(relpath, mtime_ns, size)`` of every file under it, so a rewritten
  file or part file misses and re-infers;
- the values of the session confs that change what inference returns
  (``_INFERENCE_CONFS``), since the session is the caller's.

This is the metastore's job (table -> schema), not data caching: no rows
or plans are kept, every ``load`` lists the files and builds a fresh
plan, and the ts/NTZ fixups below still run after every read. The
streaming events reader (streaming/ops.py) takes its schema from the
same cache.

Scale note: at 100 TB the same read covers a partitioned-directory
dataset and Catalyst handles partition pruning + row-group predicate
pushdown; nothing here materializes or collects.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .session import ensure_runtime_conf

#: All tables the driver pre-registers as DuckDB views (__spark_entry__.py:33-35).
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


def parquet_path(sf_dir: str, name: str) -> str:
    """THE definition of the on-disk table layout. Shared by ``load``
    and by split-count estimators (operators/llm.py `_spread_input`)
    so the path convention cannot drift between the reader and an
    estimator that silently no-ops on a miss (ADVICE r17 item 2)."""
    return f"{sf_dir}/{name}.parquet"


#: Session confs whose values change the schema parquet inference returns.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
)

#: abspath -> (version key, inferred schema); see the module docstring.
#: Entries are replaced whole and the key is taken before inference, so
#: concurrent loads can at worst infer twice, never pair a key with a
#: schema inferred from older files.
_SCHEMA_CACHE: dict[str, tuple[tuple, StructType]] = {}


def file_version(path: str) -> tuple | None:
    """``(mtime_ns, size)`` of a file, or the sorted ``(relpath,
    mtime_ns, size)`` of every file under a directory; None when the
    path is not on the local filesystem or changes under the walk (such
    reads infer every time)."""
    try:
        st = os.stat(path)
        if not stat.S_ISDIR(st.st_mode):
            return (st.st_mtime_ns, st.st_size)
        leaves = []
        for root, _, files in os.walk(path):
            for f in files:
                fp = os.path.join(root, f)
                fst = os.stat(fp)
                leaves.append(
                    (os.path.relpath(fp, path), fst.st_mtime_ns, fst.st_size)
                )
    except OSError:
        return None
    return tuple(sorted(leaves))


def parquet_schema(spark: SparkSession, path: str) -> StructType:
    """The schema ``spark.read.parquet(path)`` infers, inferred once per
    file version and inference conf; a new version of ``path`` replaces
    its entry."""
    version = file_version(path)
    if version is None:
        return spark.read.parquet(path).schema
    key = (version, tuple(spark.conf.get(k) for k in _INFERENCE_CONFS))
    slot = os.path.abspath(path)
    hit = _SCHEMA_CACHE.get(slot)
    if hit is not None and hit[0] == key:
        return hit[1]
    schema = spark.read.parquet(path).schema
    _SCHEMA_CACHE[slot] = (key, schema)
    return schema


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver table; applies parity conf (UTC tz) on the session.

    events.ts is TIMESTAMP(NANOS) in parquet, which Spark reads as raw
    nanos (legacy.parquet.nanosAsLong); convert to a µs TimestampType by
    integer-truncation — bit-identical to DuckDB's TIMESTAMP_NS->TIMESTAMP
    cast, so downstream ordering/formatting agree.
    """
    ensure_runtime_conf(spark)
    path = parquet_path(sf_dir, name)
    if os.environ.get("CATENA_SCHEMA_DRIFT_SAFE") == "1":
        # Opt-in drift-safe read (r15): pin the footer-derived superset
        # schema so part-files written by older writer generations
        # (missing columns, narrower integer types) surface NULLs /
        # widen on decode instead of vanishing columns or failing on
        # footer-sampling luck. Off by default — on undrifted data it
        # is schema- and plan-identical to the plain read below, but
        # costs a footer sweep per load. Doctrine + empirical matrix:
        # sources/encodings.py; exercised by the permute probe's
        # CATENA_PERMUTE_DRIFT axis. Bypasses the schema cache.
        from .sources.encodings import read_drifted

        df = read_drifted(spark, path)
    else:
        df = spark.read.schema(parquet_schema(spark, path)).parquet(path)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # Naive parquet timestamps (isAdjustedToUTC=false, read as
    # TIMESTAMP_NTZ since the round-3 testdata regen) are interpreted as
    # UTC instants — ensure_runtime_conf pins the session tz to UTC
    # before this cast, so the wall-clock digits are preserved exactly,
    # matching DuckDB reading the same column as TIMESTAMP.
    for c, t in df.dtypes:
        if t == "timestamp_ntz":
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register all tables as temp views so ``spark.sql`` queries read
    identically to the DuckDB oracle SQL (SURVEY.md §3.2 entry point 2)."""
    for t in TABLES:
        load(spark, sf_dir, t).createOrReplaceTempView(t)


def series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical catena row model over events (FIXTURES.md 'series' view)."""
    return load(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("source"),
        F.col("event_type").alias("metric"),
        F.col("ts"),
        F.col("value"),
    )


#: DuckDB-side equivalent of ``series`` for embedding into oracle SQL CTEs.
SERIES_SQL = (
    "SELECT CAST(user_id AS VARCHAR) AS source, event_type AS metric, "
    "CAST(ts AS TIMESTAMP) AS ts, value FROM events"
)
