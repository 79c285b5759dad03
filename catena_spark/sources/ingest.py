"""Batch + streaming ingest and storage maintenance (SURVEY.md §2-A).

Catena's storage layer mapped 1:1 (SURVEY.md §1.2 table):

| catena                                  | here                          |
|-----------------------------------------|-------------------------------|
| InsertRows -> memory partition + WAL    | writeStream parquet + checkpoint (A1/A2) |
| fixed time-window partition rotation    | partitionBy(dt) derived column (A3) |
| maxPartitions retention drop            | retain_latest() dir deletes (A4) |
| compaction to sorted, indexed extents   | compact(): repartition + sortWithinPartitions (A5) |

The sort-within-partitions on (source, metric, ts) is the one physical-
design obligation we carry from catena: it makes Parquet row-group
min/max stats selective for per-series time-range scans — the same role
as catena's extent index (SURVEY.md §4). Every writer here sorts by
(dt, source, metric, ts): a partitioned write sorts by ``dt`` itself,
and Spark drops a sort that does not lead with ``dt`` under that one,
which left the files unsorted by series.

Scale: the dt layout makes retention and compaction per-window
directory operations. Reads filter on ``ts``, not on ``dt``, so they do
not prune windows; what they skip is row groups, by the INT64 ``ts``
statistics of sorted files (session.py writes TIMESTAMP_MICROS, since
INT96 columns carry no usable statistics). Compaction bin-packs small
streaming output files so scans at 100 TB see large, sorted row groups,
not micro-batch confetti.
"""

from __future__ import annotations

import os
import shutil
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

from .. import tables
from ..registry import query

#: canonical series schema for streamed ingest (events-shaped).
EVENTS_DDL = (
    "event_id bigint, ts timestamp, user_id bigint, "
    "event_type string, value double, props string"
)


def dt_sql(ts_col: str = "ts") -> str:
    """SQL text of the time-bucket (dt window) of ``ts_col``."""
    return f"date_format({ts_col}, 'yyyy-MM-dd')"


def with_dt(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    """A3 partition rotation: derive the time-bucket partition column."""
    return df.withColumn("dt", F.expr(dt_sql(ts_col)))


def write_partitioned(df: DataFrame, path: str, ts_col: str = "ts") -> None:
    """A1 batch insert path: time-bucketed, series-clustered parquet.

    sortWithinPartitions(dt, source-key, metric-key, ts) == catena
    clustering points by series inside a partition file; row-group stats
    become the extent index. The sort leads with the partition column
    ``dt`` so the write's own sort by ``dt`` does not replace it.
    """
    cluster = [c for c in ("user_id", "event_type", "source", "metric") if c in df.columns]
    (
        with_dt(df, ts_col)
        .repartition("dt")
        .sortWithinPartitions("dt", *cluster, ts_col)
        .write.mode("overwrite")
        .partitionBy("dt")
        .parquet(path)
    )


#: staging directory of a running ``compact``, inside the store: the
#: leading "_" hides it from Spark's partition discovery and from the
#: ``dt=*`` globs of retention and CatenaDB
_COMPACT_DIR = "_compact"


def _data_files(window: Path) -> list[Path]:
    return [
        f
        for f in window.iterdir()
        if f.name.endswith(".parquet") and not f.name.startswith((".", "_"))
    ]


def compact(
    spark: SparkSession,
    path: str,
    target_files_per_partition: int = 1,
    schema: str | StructType | None = None,
) -> None:
    """A5 compaction: rewrite each dt window that holds more than
    ``target_files_per_partition`` parquet files into that many large,
    sorted files (streaming sinks leave one file per micro-batch). Clean
    windows are neither read nor written, so compacting a compacted
    store starts no Spark job. Query results are invariant
    (tests/test_sources.py).

    The dirty windows are read with ``schema`` when the caller knows
    it, else with the ``tables`` schema cache. A bare
    ``repartition(N, "dt")`` hash-partitions on dt alone, so every dt
    collapses into ONE task/file no matter what N says (ADVICE r1); a
    per-row hash bucket in the key is what actually fans each dt out to
    N files. At 100 TB this is also the skew fix: one hot day no longer
    serializes through a single writer.

    Swap, per window, after the rewrite of all dirty windows into
    ``_compact/tmp`` has committed: rename live -> ``_compact/old``,
    rename tmp -> live; then delete ``_compact``. A crash at any point
    leaves every row in exactly one visible place once
    ``recover_compaction`` has run (``CatenaDB.open`` and the next
    ``compact`` run it). Between a window's two renames a concurrent
    reader does not see that window.

    A streaming file sink (``_spark_metadata``) is refused: its readers
    list files from the sink log, which a rewrite cannot update. After
    the sink's next batch the log lacks the earlier batches, and a read
    of the sink fails (``_spark_metadata/0 doesn't exist``).
    """
    root = Path(path)
    if (root / "_spark_metadata").exists():
        raise ValueError(
            f"{path} is a streaming file sink (_spark_metadata): a rewrite "
            "cannot update its sink log, which readers list files from"
        )
    recover_compaction(path)
    n = max(1, int(target_files_per_partition))
    dirty = sorted(
        p for p in root.glob("dt=*") if p.is_dir() and len(_data_files(p)) > n
    )
    if not dirty:
        return
    if schema is None:
        schema = tables.parquet_schema(spark, path)
    df = (
        spark.read.schema(schema)
        .option("basePath", path)
        .parquet(*(str(p) for p in dirty))
    )
    cluster = [c for c in ("user_id", "event_type", "source", "metric") if c in df.columns]
    bucket = (F.abs(F.xxhash64(*cluster, "ts")) % n) if n > 1 else F.lit(0)
    stage = root / _COMPACT_DIR
    tmp, old = stage / "tmp", stage / "old"
    (
        df.withColumn("_bucket", bucket)
        .repartition(len(dirty) * n, "dt", "_bucket")
        .drop("_bucket")
        .sortWithinPartitions("dt", *cluster, "ts")
        .write.partitionBy("dt")
        .parquet(str(tmp))
    )
    names = {p.name for p in dirty}
    strays = sorted(p.name for p in tmp.iterdir() if p.is_dir() and p.name not in names)
    if strays:
        # a partition value that does not round-trip to its directory
        # name: swapping would drop the window's rows
        raise RuntimeError(f"compaction of {path} wrote unexpected windows {strays}")
    old.mkdir()
    for live in dirty:
        new = tmp / live.name
        new.mkdir(exist_ok=True)  # a window of empty files has no output
        live.rename(old / live.name)
        new.rename(live)
    shutil.rmtree(stage)


def recover_compaction(path: str) -> None:
    """Undo what an interrupted ``compact`` left in ``path``: a window
    it moved aside and did not replace goes back, then the staging
    directory goes. A window already replaced keeps its compacted
    files; the rewrite holds the same rows either way."""
    stage = Path(path) / _COMPACT_DIR
    if not stage.exists():
        return
    old = stage / "old"
    if old.is_dir():
        for moved in old.iterdir():
            live = Path(path) / moved.name
            if not live.exists():
                moved.rename(live)
    shutil.rmtree(stage)


def partition_stats(spark: SparkSession, path: str) -> DataFrame:
    """Partition inventory (catena's partition-list metadata walk)."""
    return (
        spark.read.parquet(path)
        .groupBy("dt")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("ts").alias("min_ts"),
            F.max("ts").alias("max_ts"),
        )
    )


def retain_latest(path: str, max_partitions: int) -> list[str]:
    """A4 retention: keep the newest ``max_partitions`` dt directories,
    delete the rest (catena: oldest partition destroyed beyond
    maxPartitions). Returns dropped partition names."""
    root = Path(path)
    parts = sorted(p for p in root.glob("dt=*") if p.is_dir())
    drop = parts[: max(0, len(parts) - max_partitions)]
    for p in drop:
        shutil.rmtree(p)
    return [p.name for p in drop]


def stream_ingest_events(
    spark: SparkSession,
    src_dir: str,
    dest_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """A1/A2/F6: file-source streaming ingest with exactly-once sink.

    The SS checkpoint (offsets+commits) IS the WAL: kill the query, add
    files, restart with the same checkpoint -> each input file applied
    exactly once (tests/test_streaming.py::test_restart_recovery).

    Late-data contract (r5 correction, self-review finding): a
    withWatermark on this stateless append query was a NO-OP — the
    parquet sink has no state to evict, so late rows were written
    anyway and the old docstring's rejection claim was false. Catena's
    actual contract (writes into rotated-out windows rejected) is
    enforced where catena enforces it: the client API layer
    (api.py InsertRows late-window rejection, tests/test_api.py), and
    retention itself drops whole dt partitions. Stateful downstream
    queries (F1) attach their own watermarks — see streaming/ops.py.
    """
    reader = spark.readStream.schema(EVENTS_DDL)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(src_dir)
    return (
        with_dt(stream)
        .writeStream.format("parquet")
        .option("path", dest_dir)
        .option("checkpointLocation", checkpoint_dir)
        .partitionBy("dt")
        .trigger(availableNow=True)
        .start()
    )


# ---------------------------------------------------------------- continuous aggregate

#: rollup grain: hourly per (dt, source-key, metric-key).
def _rollup(df: DataFrame) -> DataFrame:
    keys = [c for c in ("user_id", "event_type", "source", "metric") if c in df.columns]
    return (
        with_dt(df)
        .groupBy("dt", *keys, F.date_trunc("hour", "ts").alias("hour"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("sum_v"),
            F.min("value").alias("min_v"),
            F.max("value").alias("max_v"),
        )
    )


def materialize_rollup(spark: SparkSession, src_path: str, dest_path: str) -> None:
    """Continuous-aggregate materialization (the TSDB feature catena's
    consumers layer on top): hourly per-series rollup, stored partitioned
    by dt so refreshes are partition-granular."""
    df = spark.read.parquet(src_path)
    _rollup(df).write.mode("overwrite").partitionBy("dt").parquet(dest_path)


def refresh_rollup(
    spark: SparkSession, src_path: str, dest_path: str, changed_dts: list[str]
) -> None:
    """Incremental refresh: recompute ONLY the given dt partitions and
    swap them in via dynamic partition overwrite — the other partitions'
    files are untouched.

    Scale: a day of new/late data re-aggregates one partition directory,
    not the table; this plus the watermark (late data beyond the horizon
    is dropped before it gets here) bounds refresh cost at any history
    length. sum/min/max/count are all decomposable, so a future
    merge-with-existing refinement needs no schema change.
    """
    df = spark.read.parquet(src_path)
    # the dt predicate sits on a grouping key, so Catalyst pushes it
    # below the aggregate: only the changed days' rows are re-aggregated
    changed = _rollup(df).where(F.col("dt").isin(changed_dts))
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        changed.write.mode("overwrite").partitionBy("dt").parquet(dest_path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


# ---------------------------------------------------------------- A6 depth: non-parquet sources

@query(
    "src_csv_json_roundtrip",
    "A6",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
               AS sum_cents,
           CAST(min(epoch_us(CAST(ts AS TIMESTAMP))) AS BIGINT) AS min_ts_us,
           CAST(max(epoch_us(CAST(ts AS TIMESTAMP))) AS BIGINT) AS max_ts_us,
           CAST(sum(epoch_us(CAST(ts AS TIMESTAMP)) % 1000000) AS BIGINT)
               AS sum_us_frac,
           CAST(sum(event_id) AS BIGINT) AS sum_event_id,
           CAST(sum(user_id) AS BIGINT) AS sum_user_id,
           CAST(sum(length(props)) AS BIGINT) AS sum_props_len
    FROM events
    GROUP BY event_type
    """,
)
def src_csv_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV and JSON-lines source connectors (SURVEY.md §2-A6 depth):
    events round-trip parquet -> CSV -> JSON -> aggregate, proving the
    schema'd text-format read paths carry timestamps and doubles without
    loss — the oracle aggregates the ORIGINAL parquet, so any connector
    corruption hash-mismatches.

    r5 hardening (self-review finding): the previous form read the raw
    parquet (ts as timestamp_ntz), whose CSV write used the
    timestampNTZFormat DEFAULT — not the timestampFormat option set —
    so the read-back pattern matched nothing and PERMISSIVE mode nulled
    the entire ts column; the old aggregate (event_type/value only)
    could not see it. Now the source goes through tables.load (LTZ
    normalization, so timestampFormat applies on both legs) and the
    checked aggregate covers EVERY column: microsecond-exact ts extremes
    + the sub-second digit sum (catches truncated fractions), event/user
    id sums, and props length sum (catches CSV quote/escape damage).

    Both reads use EXPLICIT schemas (EVENTS_DDL): at 100 TB, schema
    inference is a full extra pass over the data and is never acceptable;
    timestampFormat is pinned so the CSV path is locale/tz-independent.
    """
    import tempfile

    ev = tables.load(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    tmp = Path(tempfile.mkdtemp(prefix="catena_src_rt_"))
    try:
        csv_dir, json_dir = str(tmp / "csv"), str(tmp / "json")
        tsfmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
        (
            ev.write.mode("overwrite")
            .option("header", "true")
            .option("timestampFormat", tsfmt)
            .csv(csv_dir)
        )
        csv_df = (
            spark.read.schema(EVENTS_DDL)
            .option("header", "true")
            .option("timestampFormat", tsfmt)
            .csv(csv_dir)
        )
        csv_df.write.mode("overwrite").option("timestampFormat", tsfmt).json(json_dir)
        json_df = (
            spark.read.schema(EVENTS_DDL)
            .option("timestampFormat", tsfmt)
            .json(json_dir)
        )
        us = F.unix_micros("ts")
        out = json_df.groupBy("event_type").agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.round(F.col("value") * 100, 0).cast("long")).cast("long").alias(
                "sum_cents"
            ),
            F.min(us).cast("long").alias("min_ts_us"),
            F.max(us).cast("long").alias("max_ts_us"),
            F.sum(us % 1000000).cast("long").alias("sum_us_frac"),
            F.sum("event_id").cast("long").alias("sum_event_id"),
            F.sum("user_id").cast("long").alias("sum_user_id"),
            F.sum(F.length("props")).cast("long").alias("sum_props_len"),
        )
        return out.localCheckpoint(eager=True)  # materialize before tmp cleanup
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "src_orc_partitioned_pruning",
    "A6",
    oracle="""
    SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS dt, event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
               AS sum_cents
    FROM events
    WHERE CAST(ts AS DATE) >= DATE '2024-01-03'
      AND CAST(ts AS DATE) <  DATE '2024-01-05'
    GROUP BY 1, 2
    """,
)
def src_orc_partitioned_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC source + hive-style dt partition layout (SURVEY.md §2-A6
    depth, A3's partition-rotation layout made queryable): events are
    written as ORC partitioned by derived dt, then read back with a dt
    range predicate — the partition-pruned scan path a catena-style
    retention/rotation layout serves. The oracle aggregates the original
    parquet under the same predicate, so pruning must be lossless.

    Parity: dt derives from the UTC calendar date of ts on both sides
    (ensure_runtime_conf pins session tz); cents sums are exact ints.

    Scale: the read applies the dt filter at PLANNING time — the scan's
    PartitionFilters (asserted in tests/test_plans.py) mean non-matching
    dt directories are never listed or opened; at 100 TB with daily
    partitions this is the difference between reading 2 days and 365.
    ORC itself is columnar + predicate-pushdown capable like parquet, so
    the connector keeps column pruning too.
    """
    import tempfile

    ev = tables.load(spark, sf_dir, "events").withColumn("dt", F.to_date("ts"))
    tmp = Path(tempfile.mkdtemp(prefix="catena_src_orc_"))
    try:
        orc_dir = str(tmp / "orc")
        ev.write.mode("overwrite").partitionBy("dt").orc(orc_dir)
        back = spark.read.orc(orc_dir).where(
            (F.col("dt") >= F.lit("2024-01-03").cast("date"))
            & (F.col("dt") < F.lit("2024-01-05").cast("date"))
        )
        out = back.groupBy(
            F.date_format("dt", "yyyy-MM-dd").alias("dt"), "event_type"
        ).agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.round(F.col("value") * 100, 0).cast("long")).cast("long").alias(
                "sum_cents"
            ),
        )
        return out.localCheckpoint(eager=True)  # materialize before tmp cleanup
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# ------------------------------------------------- A6 depth: bucketed co-located join

def bucket_table_names() -> tuple[str, str]:
    """Catalog names for the bucketed fact tables, pid-suffixed so two
    concurrent sessions sharing a metastore/warehouse cannot clobber
    each other's tables mid-query (same rule as the memory-sink names in
    streaming/ops.py)."""
    pid = os.getpid()
    return (f"catena_b_orders_{pid}", f"catena_b_lineitem_{pid}")


def bucketed_join(spark: SparkSession, sf_dir: str, warehouse: str) -> DataFrame:
    """Write orders+lineitem bucketed-and-sorted by the join key into
    ``warehouse``, then join-and-aggregate reading the bucketed tables.
    With matching bucket counts the SortMergeJoin needs NO Exchange, and
    because the aggregate groups by the bucket key the WHOLE plan runs
    shuffle-free (asserted in tests/test_bucketing.py) — the queryable
    form of SCALE.md's extent-index claim.
    """
    n_orders, n_lineitem = bucket_table_names()
    specs = (
        (n_orders, tables.load(spark, sf_dir, "orders"), "o_orderkey"),
        (n_lineitem, tables.load(spark, sf_dir, "lineitem"), "l_orderkey"),
    )
    for name, df, key in specs:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (
            df.write.mode("overwrite")
            .option("path", f"{warehouse}/{name}")
            .bucketBy(8, key)
            .sortBy(key)
            .format("parquet")
            .saveAsTable(name)
        )
    bo = spark.table(n_orders)
    bl = spark.table(n_lineitem)
    # merge hint: fixture-size tables would broadcast, which discards the
    # bucket partitioning the downstream aggregate reuses; at real scale
    # two facts this size pick SortMergeJoin unhinted anyway
    return (
        bo.join(bl.hint("merge"), bo.o_orderkey == bl.l_orderkey)
        .groupBy("o_orderkey", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_items"),
            F.sum(F.round(F.col("l_extendedprice") * 100, 0).cast("long"))
            .cast("long")
            .alias("revenue_cents"),
        )
    )


@query(
    "src_bucketed_join_no_shuffle",
    "A6",
    oracle="""
    SELECT o.o_orderkey, o.o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum(CAST(round(l.l_extendedprice * 100, 0) AS BIGINT))
                AS BIGINT) AS revenue_cents
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY 1, 2
    """,
)
def src_bucketed_join_no_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed-table source + shuffle-free co-located join (SURVEY.md
    §2-A6 depth; r2 VERDICT item 7): orders and lineitem are written
    ``bucketBy(8, <orderkey>)`` + ``sortBy``, read back through the
    catalog, joined on the bucket key, and aggregated BY the bucket key
    — zero Exchange operators anywhere in the plan, because bucketing
    satisfies both the join's and the aggregate's required distribution.

    Parity: the oracle runs the plain join+aggregate on the raw parquet;
    bucketing must be a pure physical-layout change, so any row lost or
    duplicated by the bucketed write/read path hash-mismatches.

    Scale: THE pattern for repeated fact-fact joins at 100 TB — pay the
    layout shuffle once at ingest, then every subsequent join/agg on the
    bucket key is exchange-free; at 1000 executors that removes the
    all-to-all network step entirely.
    """
    import tempfile

    tmp = Path(tempfile.mkdtemp(prefix="catena_bucketed_"))
    try:
        return bucketed_join(spark, sf_dir, str(tmp)).localCheckpoint(eager=True)
    finally:
        for name in bucket_table_names():
            spark.sql(f"DROP TABLE IF EXISTS {name}")
        shutil.rmtree(tmp, ignore_errors=True)
