"""User-facing facade mirroring catena's client API (SURVEY.md §1.1,
§3.1), so a reference user can switch 1:1:

| catena (Go)                          | here                              |
|--------------------------------------|-----------------------------------|
| ``NewDB(dir, partitionSize, maxPartitions)`` | ``CatenaDB.create(...)``  |
| ``OpenDB(dir)`` (WAL replay)         | ``CatenaDB.open(...)`` (files ARE the recovered state) |
| ``db.InsertRows([]Row)``             | ``db.insert_rows(df)``            |
| late write into rotated window ⇒ error | same: rejected + counted        |
| ``db.NewIterator(src, m)``           | ``db.iterator(src, m)``           |
| ``it.Seek(ts)`` / ``it.Next()``      | ``it.seek(ts)`` / the DataFrame   |
| retention beyond maxPartitions       | ``db.enforce_retention()``        |
| compaction                           | ``db.compact()``                  |

Design stance (SURVEY.md §3.2): the *DataFrame is the iterator*. catena's
``Next()`` walks one point at a time because its storage is a local mmap;
at 100 TB a per-point cursor is the wrong contract, so ``iterator()``
returns the DataFrame of the series and ``seek`` is a filter, not a
stateful cursor. The extent-index role is played by the Parquet scan:
the series equality and ``ts`` filters push into it, and files sorted by
(source, metric, ts) with INT64 ``ts`` statistics let it skip row
groups. No read prunes dt windows: every read's scan covers them all.

A read is cheap to build: the store is listed once per store version
(``CatenaDB._all``), and each read is one ``spark.sql`` statement over
that relation with the series and seek bounds as named parameters, so
building it is a few dozen py4j round-trips, not a Column-API tree of
hundreds. ``points()`` sorts the series in one reducer (``REPARTITION(1)``
+ ``SORT BY``): two Spark jobs and one scan, where a global ``ORDER BY``
adds a sampling job that scans the files again.
Durability maps WAL→parquet commit: a batch is durable when its files
land (object-store rename), replay-on-open is free because the files are
the state.

Value parity with catena's model: points are ``(source str, metric str,
ts timestamp, value float64)`` — the exact Row shape [R point.go — H,
SURVEY.md §1.1].
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from . import tables
from .sources import ingest

#: canonical point-row schema (catena Row).
ROW_DDL = "source string, metric string, ts timestamp, value double"
#: schema of the store: the rows plus their dt window
_STORED_DDL = ROW_DDL + ", dt string"


@dataclass
class InsertResult:
    """InsertRows outcome: catena errors the whole batch on a late
    window; here late rows are split out and counted so the caller can
    dead-letter them (the streaming watermark does the same, F1).
    ``rejected_invalid`` counts NULL-ts rows (r5, self-review): they
    have no window, so they are neither writable nor late — previously
    they could vanish uncounted or create a junk
    __HIVE_DEFAULT_PARTITION__ directory that corrupted the rotation
    horizon."""

    inserted: int
    rejected_late: int
    rejected_invalid: int = 0


class SeriesIterator:
    """catena ``Iterator`` equivalent over one (source, metric) series.

    An iterator is a filter, not a cursor: the series and the ``seek``
    bounds are named parameters of one SQL statement over the store's
    relation. ``df`` is the points DataFrame; ``seek`` returns a new
    (immutable) iterator — cursors are state, filters are plans, and
    only plans distribute. No value is pasted into SQL text: Spark binds
    the parameters as typed literals.
    """

    def __init__(self, db: "CatenaDB", args: dict):
        self._db = db
        self._args = args

    def _sql(self, select: str, tail: str = "") -> DataFrame:
        """``SELECT select ... tail`` over the store relation ``{r}``,
        filtered to the series and seek bounds."""
        where = " AND ".join(
            ["source = :source", "metric = :metric"]
            + [f"ts >= :{k}" for k in self._args if k.startswith("since")]
        )
        return self._db.spark.sql(
            f"SELECT {select} FROM {{r}} WHERE {where} {tail}", args=self._args, r=self._db._all()
        )

    @property
    def df(self) -> DataFrame:
        """The series' points, unordered."""
        return self._sql("source, metric, ts, value")

    def seek(self, ts) -> "SeriesIterator":
        """Position at the first point with ``ts >= given`` (catena
        ``Seek``): a pushdown filter, not a scan-and-skip. Seeks stack;
        ``seek(None)`` matches no point."""
        return SeriesIterator(self._db, {**self._args, f"since{len(self._args)}": ts})

    def first(self):
        """The point under the cursor (catena ``Point()`` after Seek)."""
        rows = self._sql("source, metric, ts, value", "ORDER BY ts, value LIMIT 1").collect()
        return rows[0] if rows else None

    def points(self) -> DataFrame:
        """All remaining points, ordered by (ts, value) in one partition:
        one shuffle into a single reducer that sorts the series (two
        Spark jobs and one scan; a global ORDER BY adds a sampling job
        that scans the files a second time). One series is one reducer's
        work; a read of many series belongs on ``df``."""
        return self._sql("/*+ REPARTITION(1) */ source, metric, ts, value", "SORT BY ts, value")


class CatenaDB:
    """A catena DB over dt-partitioned parquet (SURVEY.md §1.2 mapping:
    partition dir = catena partition, parquet row groups sorted by
    (source, metric, ts) = extents, their INT64 ts statistics = extent
    index)."""

    def __init__(self, spark: SparkSession, base_dir: str, writable_partitions: int = 2):
        if writable_partitions < 1:
            # parts[-0] would silently mean parts[0] and accept
            # EVERYTHING — the inverse of "zero writable windows"
            raise ValueError("writable_partitions must be >= 1")
        self.spark = spark
        self.base_dir = str(base_dir)
        #: newest-N dt windows accept writes (catena: memory partitions);
        #: older windows are rotated out and reject inserts.
        self.writable_partitions = writable_partitions
        #: (store version, relation) of the last listing, see ``_all``
        self._relation: tuple | None = None

    # ------------------------------------------------------------ lifecycle

    @classmethod
    def create(
        cls, spark: SparkSession, base_dir: str, writable_partitions: int = 2
    ) -> "CatenaDB":
        """``NewDB``: initialize an empty base dir."""
        Path(base_dir).mkdir(parents=True, exist_ok=True)
        return cls(spark, base_dir, writable_partitions)

    @classmethod
    def open(
        cls, spark: SparkSession, base_dir: str, writable_partitions: int = 2
    ) -> "CatenaDB":
        """``OpenDB``: recovery is free — committed parquet files ARE the
        state (no WAL replay step; the streaming checkpoint plays WAL
        for the ingest path, tests/test_streaming.py). The one repair is
        a ``compact()`` that was cut short: its swap is rolled back."""
        if not Path(base_dir).exists():
            raise FileNotFoundError(base_dir)
        ingest.recover_compaction(base_dir)
        return cls(spark, base_dir, writable_partitions)

    # ------------------------------------------------------------ write path

    _DT_RE = re.compile(r"^\d{4}-\d{2}-\d{2}$")

    def _partitions(self) -> list[str]:
        """Sorted dt partition names (catena: partition list). Only
        date-shaped names count — a stray directory (e.g. Hive's NULL
        partition __HIVE_DEFAULT_PARTITION__, which sorts after every
        date) must not shift the rotation horizon (r5, self-review)."""
        root = Path(self.base_dir)
        return sorted(
            name
            for p in root.glob("dt=*")
            if p.is_dir() and self._DT_RE.match(name := p.name.split("=", 1)[1])
        )

    def insert_rows(self, rows: DataFrame) -> InsertResult:
        """``InsertRows``: route rows to dt windows; windows older than
        the writable set reject their rows (late-data policy, §2-F1).
        New windows are created on first insert, as in catena — but only
        while the window count is below the writable capacity: at
        capacity, a row older than every existing window would create a
        born-rotated window, so it is late (>=, not >, r5 fix — the old
        check accepted it and the re-insert was then rejected,
        non-idempotent). NULL-ts rows have no window: counted as
        rejected_invalid, never written.

        One pass: the write counts the batch through an ``Observation``,
        so the input is evaluated once (a shuffle job and the write job)
        and the counts describe the rows that were routed. The
        observation sits on top of the dt shuffle, which carries every
        row: AQE replaces a shuffle stage that wrote nothing by an empty
        relation, and metrics observed inside it would be lost whenever
        no row is writable. A batch with no writable row writes no data
        file and no dt directory.

        The plan is built from SQL text (each Column-API call is a dozen
        or more py4j round-trips). The sort leads with ``dt``: the
        planned write sorts by its partition column, and a sort that
        does not start with ``dt`` is dropped under it, leaving files
        unsorted by series."""
        parts = self._partitions()
        if len(parts) >= self.writable_partitions:
            # a dt name, so _DT_RE has checked what goes into the text
            late = f"dt < '{parts[-self.writable_partitions]}'"
        else:
            late = "false"
        obs = Observation()
        (
            rows.selectExpr("source", "metric", "ts", "value", f"{ingest.dt_sql()} AS dt")
            .repartition("dt")
            .observe(
                obs,
                F.expr("count(1) AS n"),
                F.expr("count_if(dt IS NULL) AS invalid"),
                F.expr(f"count_if({late}) AS late"),
            )
            .where(f"dt IS NOT NULL AND NOT ({late})")
            .sortWithinPartitions("dt", "source", "metric", "ts")
            .write.mode("append")
            .partitionBy("dt")
            .parquet(self.base_dir)
        )
        m = obs.get
        return InsertResult(
            inserted=m["n"] - m["invalid"] - m["late"],
            rejected_late=m["late"],
            rejected_invalid=m["invalid"],
        )

    # ------------------------------------------------------------ read path

    def _all(self) -> DataFrame:
        """The store as one relation, listed once per store version.

        The version (every file's relative path, mtime and size) is
        taken before the listing, so a write that lands during it makes
        the next read list again: a concurrent write can cost a miss,
        never a stale hit. A path off the local filesystem has no
        version and is listed on every read."""
        # explicit schema makes reads total on a freshly created (empty)
        # DB — schema inference over zero files raises (r5, self-review)
        version = tables.file_version(self.base_dir)
        if version is not None and self._relation and self._relation[0] == version:
            return self._relation[1]
        df = self.spark.read.schema(_STORED_DDL).parquet(self.base_dir)
        self._relation = None if version is None else (version, df)
        return df

    def iterator(self, source: str, metric: str) -> SeriesIterator:
        """``NewIterator``: the series equality filters, and the ``ts``
        filters of ``seek`` and range reads, push into the Parquet scan;
        row-group statistics of files sorted by (source, metric, ts) are
        the extent index. Every dt window is scanned (no dt pruning)."""
        return SeriesIterator(self, {"source": source, "metric": metric})

    def list_series(self) -> DataFrame:
        """Series enumeration (B4)."""
        return self._all().select("source", "metric").distinct()

    def latest(self, source: str, metric: str):
        """Newest point of a series (B3) as a ``Row(ts, value)``, or None.
        A top-1 (one ``TakeOrderedAndProject`` job), with the order of
        ``max_by(struct(ts, value), ...)``: a ``ts`` tie goes to the
        higher value, NaN is the largest value, NULL the smallest."""
        rows = (
            self.iterator(source, metric)
            ._sql("ts, value", "ORDER BY ts DESC, value DESC LIMIT 1")
            .collect()
        )
        return rows[0] if rows else None

    # ------------------------------------------------------------ maintenance

    def compact(self, files_per_partition: int = 1) -> None:
        """A5 compaction (sorted large files per window): only windows
        with more than ``files_per_partition`` files are rewritten."""
        ingest.compact(self.spark, self.base_dir, files_per_partition, schema=_STORED_DDL)

    def enforce_retention(self, max_partitions: int) -> list[str]:
        """A4 retention: drop oldest windows beyond ``max_partitions``."""
        return ingest.retain_latest(self.base_dir, max_partitions)
