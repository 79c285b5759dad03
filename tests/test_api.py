"""CatenaDB facade contract tests (SURVEY.md §1.1/§3.1 parity): the
reference's user-visible behaviors — insert routing, late-window
rejection, iterator seek, recovery-by-open, retention, compaction
invariance — exercised end-to-end on the Spark implementation."""

from __future__ import annotations

import datetime
import itertools
import os
import pathlib
import threading

import pytest
from pyspark.sql import functions as F

from catena_spark.api import CatenaDB, SeriesIterator


def _rows(spark, day_offsets):
    base = datetime.datetime(2026, 1, 10, 12, 0, 0)
    data = [
        (
            "cpu0",
            "util",
            base + datetime.timedelta(days=d, minutes=i),
            float(10 * d + i),
        )
        for d in day_offsets
        for i in range(3)
    ]
    return spark.createDataFrame(
        data, "source string, metric string, ts timestamp, value double"
    )


@pytest.fixture()
def db(spark, tmp_path):
    return CatenaDB.create(spark, str(tmp_path / "db"), writable_partitions=2)


def test_insert_creates_partitions_and_roundtrips(spark, db):
    res = db.insert_rows(_rows(spark, [0, 1]))
    assert res.inserted == 6 and res.rejected_late == 0
    assert db._partitions() == ["2026-01-10", "2026-01-11"]
    pts = db.iterator("cpu0", "util").points().collect()
    assert [p["value"] for p in pts] == [0.0, 1.0, 2.0, 10.0, 11.0, 12.0]


def test_late_window_writes_rejected(spark, db):
    db.insert_rows(_rows(spark, [0, 1, 2]))  # windows 10..12; writable: 11,12
    res = db.insert_rows(_rows(spark, [0]))  # day 10 is rotated out
    assert res.inserted == 0 and res.rejected_late == 3
    res2 = db.insert_rows(_rows(spark, [2]))  # newest window still writable
    assert res2.inserted == 3 and res2.rejected_late == 0


def test_iterator_seek_first(spark, db):
    db.insert_rows(_rows(spark, [0]))
    it = db.iterator("cpu0", "util")
    assert isinstance(it.seek(datetime.datetime(2026, 1, 10, 12, 1)), SeriesIterator)
    first = it.seek(datetime.datetime(2026, 1, 10, 12, 1)).first()
    assert first["value"] == 1.0
    assert it.seek(datetime.datetime(2027, 1, 1)).first() is None


def test_latest_and_list_series(spark, db):
    db.insert_rows(_rows(spark, [0, 1]))
    assert db.latest("cpu0", "util")["value"] == 12.0
    assert db.list_series().collect()[0]["source"] == "cpu0"


def test_open_recovers_state(spark, db):
    db.insert_rows(_rows(spark, [0]))
    db2 = CatenaDB.open(spark, db.base_dir)
    assert db2.iterator("cpu0", "util").points().count() == 3
    with pytest.raises(FileNotFoundError):
        CatenaDB.open(spark, db.base_dir + "-missing")


def test_retention_drops_oldest(spark, db):
    db.insert_rows(_rows(spark, [0, 1, 2]))
    dropped = db.enforce_retention(max_partitions=2)
    assert dropped == ["dt=2026-01-10"]
    assert db._partitions() == ["2026-01-11", "2026-01-12"]
    # queries never see dropped data
    assert db.iterator("cpu0", "util").points().count() == 6


def test_compaction_preserves_results(spark, db):
    db.insert_rows(_rows(spark, [0]))
    db.insert_rows(_rows(spark, [1]))  # second append: extra files per window
    before = sorted(
        (r["ts"], r["value"])
        for r in db.iterator("cpu0", "util").points().collect()
    )
    db.compact()
    after = sorted(
        (r["ts"], r["value"])
        for r in db.iterator("cpu0", "util").points().collect()
    )
    assert before == after


def test_empty_db_reads_are_total(spark, tmp_path):
    """r5 self-review: reads on a freshly created DB must return empty
    results, not raise UNABLE_TO_INFER_SCHEMA."""
    db = CatenaDB.create(spark, str(tmp_path / "fresh"))
    assert db.list_series().count() == 0
    assert db.iterator("cpu0", "util").points().count() == 0
    assert db.iterator("cpu0", "util").first() is None


def test_null_ts_rows_counted_invalid_not_written(spark, db):
    """r5 self-review: NULL-ts rows have no window — they must be
    counted (rejected_invalid), never written, and never create a
    __HIVE_DEFAULT_PARTITION__ dir that shifts the rotation horizon."""
    good = _rows(spark, [0])
    bad = spark.createDataFrame(
        [("cpu0", "util", None, 1.0)],
        "source string, metric string, ts timestamp, value double",
    )
    res = db.insert_rows(good.unionAll(bad))
    assert res.inserted == 3 and res.rejected_late == 0
    assert res.rejected_invalid == 1
    assert db._partitions() == ["2026-01-10"]
    assert db.iterator("cpu0", "util").points().count() == 3


def test_junk_partition_dir_ignored(spark, db):
    """A non-date dt directory (e.g. Hive's NULL partition) sorts after
    every date string and previously shifted the horizon."""
    import pathlib

    db.insert_rows(_rows(spark, [0, 1]))
    (pathlib.Path(db.base_dir) / "dt=__HIVE_DEFAULT_PARTITION__").mkdir()
    assert db._partitions() == ["2026-01-10", "2026-01-11"]
    # day-11 inserts still writable (horizon not shifted by the junk dir)
    res = db.insert_rows(_rows(spark, [1]))
    assert res.inserted == 3 and res.rejected_late == 0


def test_at_capacity_older_than_all_is_late_and_idempotent(spark, db):
    """r5 self-review (>= fix): with exactly writable_partitions
    windows, a row older than ALL of them must be rejected — the old >
    check accepted it into a born-rotated window once, then rejected
    the identical re-insert (non-idempotent policy)."""
    db.insert_rows(_rows(spark, [1, 2]))  # exactly 2 windows, writable=2
    res1 = db.insert_rows(_rows(spark, [0]))
    res2 = db.insert_rows(_rows(spark, [0]))
    assert (res1.inserted, res1.rejected_late) == (0, 3)
    assert (res2.inserted, res2.rejected_late) == (0, 3)


def test_zero_writable_partitions_rejected():
    with pytest.raises(ValueError, match="writable_partitions"):
        CatenaDB(None, "/tmp/x", writable_partitions=0)


def test_env_int_tolerates_empty_and_names_bad_values(monkeypatch):
    """ADVICE r10: integer env knobs must treat unset/empty/whitespace
    as the default and name the variable on garbage."""
    import pytest

    from catena_spark.session import env_int

    monkeypatch.delenv("CATENA_X_TEST", raising=False)
    assert env_int("CATENA_X_TEST", 42) == 42
    monkeypatch.setenv("CATENA_X_TEST", "")
    assert env_int("CATENA_X_TEST", 42) == 42
    monkeypatch.setenv("CATENA_X_TEST", "  ")
    assert env_int("CATENA_X_TEST", 42) == 42
    monkeypatch.setenv("CATENA_X_TEST", " 7 ")
    assert env_int("CATENA_X_TEST", 42) == 7
    monkeypatch.setenv("CATENA_X_TEST", "seven")
    with pytest.raises(ValueError, match="CATENA_X_TEST"):
        env_int("CATENA_X_TEST", 42)


# ------------------------------------------------------- one-pass write path


_GROUPS = itertools.count()


def _jobs(spark, fn):
    """(result of fn(), Spark jobs it ran), counted by job group."""
    sc = spark.sparkContext
    group = f"test-api-jobs-{next(_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _stored(db):
    """Every stored (dt, ts, value), duplicates kept."""
    return sorted(
        (r["dt"], r["ts"], r["value"])
        for r in db._all().select("dt", "ts", "value").collect()
    )


def _file_stats(root):
    """{path: (inode, mtime_ns)} of every file under ``root``."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            st = os.stat(os.path.join(d, f))
            out[os.path.join(d, f)] = (st.st_ino, st.st_mtime_ns)
    return out


def _data_files(db):
    return sorted(pathlib.Path(db.base_dir).glob("dt=*/*.parquet"))


def test_insert_is_one_observed_pass(spark, db):
    """One evaluation of the batch: a shuffle job and the write job, with
    the late/invalid counts observed on the way (not 3 counts + persist)."""
    db.insert_rows(_rows(spark, [0, 1, 2]))  # windows 10..12; writable: 11,12
    null_ts = spark.createDataFrame(
        [("cpu0", "util", None, 1.0)],
        "source string, metric string, ts timestamp, value double",
    )
    res, jobs = _jobs(spark, lambda: db.insert_rows(_rows(spark, [0, 2, 3]).unionAll(null_ts)))
    assert (res.inserted, res.rejected_late, res.rejected_invalid) == (6, 3, 1)
    assert jobs == 2
    counts = {d: n for d, n in db._all().groupBy("dt").count().collect()}
    assert counts == {"2026-01-10": 3, "2026-01-11": 3, "2026-01-12": 6, "2026-01-13": 3}


def test_insert_with_no_writable_row_writes_nothing(spark, db):
    db.insert_rows(_rows(spark, [1, 2]))
    before = _data_files(db)
    res = db.insert_rows(_rows(spark, [0]))
    assert (res.inserted, res.rejected_late, res.rejected_invalid) == (0, 3, 0)
    assert _data_files(db) == before
    assert db._partitions() == ["2026-01-11", "2026-01-12"]
    empty = spark.createDataFrame([], "source string, metric string, ts timestamp, value double")
    res = db.insert_rows(empty)
    assert (res.inserted, res.rejected_late, res.rejected_invalid) == (0, 0, 0)


def test_failed_insert_raises_promptly(spark, tmp_path):
    """A write that fails raises out of insert_rows (no wait on the
    observation) and writes nothing: the base dir is a regular file."""
    base = tmp_path / "db"
    base.write_text("not a directory")
    db = CatenaDB(spark, str(base))
    out = {}

    def run():
        try:
            out["res"] = db.insert_rows(_rows(spark, [0, 1]))
        except Exception as e:  # noqa: BLE001 - any failure is the point
            out["err"] = e

    t = threading.Thread(target=run, daemon=True)
    t.start()
    t.join(120)
    assert not t.is_alive(), "insert_rows blocked after its write failed"
    assert "err" in out and "res" not in out
    assert base.read_text() == "not a directory"
    assert sorted(p.name for p in tmp_path.iterdir()) == ["db"]


def test_latest_is_one_job_with_max_by_order(spark, db):
    """latest() is a top-1 with the order max_by(struct(ts, value))
    had: a ts tie goes to the higher value, NaN is the largest value,
    NULL loses to a non-null value; a missing series is None."""
    t0 = datetime.datetime(2026, 1, 10, 12, 0, 0)
    t1 = t0 + datetime.timedelta(minutes=1)
    nan = float("nan")
    data = [
        ("tie", "m", t0, 9.0), ("tie", "m", t1, 1.0), ("tie", "m", t1, 2.0),
        ("nan", "m", t1, 5.0), ("nan", "m", t1, nan), ("nan", "m", t0, 7.0),
        ("null", "m", t1, None), ("null", "m", t1, 3.0),
        ("onlynull", "m", t0, 4.0), ("onlynull", "m", t1, None),
    ]
    db.insert_rows(
        spark.createDataFrame(data, "source string, metric string, ts timestamp, value double")
    )
    for src in ("tie", "nan", "null", "onlynull"):
        want = (
            db.iterator(src, "m")
            .df.agg(F.max_by(F.struct("ts", "value"), F.struct("ts", "value")).alias("p"))
            .collect()[0]["p"]
        )
        got, jobs = _jobs(spark, lambda: db.latest(src, "m"))
        assert jobs == 1
        assert got["ts"] == want["ts"] == t1
        assert repr(got["value"]) == repr(want["value"])
    assert db.latest("tie", "m")["value"] == 2.0
    assert repr(db.latest("nan", "m")["value"]) == "nan"
    assert db.latest("null", "m")["value"] == 3.0
    assert db.latest("onlynull", "m")["value"] is None
    assert db.latest("missing", "m") is None


# ------------------------------------------------------- INT64 timestamps


def _ts_columns(db):
    """(physical type, logical type) of ts in every stored data file."""
    import pyarrow.parquet as pq

    out = []
    for f in _data_files(db):
        col = pq.ParquetFile(f).schema.column(2)
        assert col.name == "ts"
        out.append((col.physical_type, str(col.logical_type)))
    return out


def test_insert_writes_ts_as_int64_micros(spark, db):
    db.insert_rows(_rows(spark, [0]))
    cols = _ts_columns(db)
    assert cols and all(
        phys == "INT64" and "timeUnit=microseconds" in logical for phys, logical in cols
    ), cols


def test_window_mixing_int96_and_int64_reads_back_exactly(spark, db):
    """A window written before the store switched to INT64 (INT96 files)
    and after it reads back exactly, before and after compaction."""
    key = "spark.sql.parquet.outputTimestampType"
    prev = spark.conf.get(key)
    spark.conf.set(key, "INT96")
    try:
        db.insert_rows(_rows(spark, [0]))
    finally:
        spark.conf.set(key, prev)
    shifted = _rows(spark, [0]).withColumn("ts", F.col("ts") + F.expr("INTERVAL 30 SECONDS"))
    db.insert_rows(shifted)
    assert sorted(phys for phys, _ in _ts_columns(db)) == ["INT64", "INT96"]
    want = sorted(
        (r["ts"], r["value"])
        for df in (_rows(spark, [0]), shifted)
        for r in df.collect()
    )
    got = sorted((r["ts"], r["value"]) for r in db.iterator("cpu0", "util").points().collect())
    assert got == want
    db.compact()
    assert [phys for phys, _ in _ts_columns(db)] == ["INT64"]
    got = sorted((r["ts"], r["value"]) for r in db.iterator("cpu0", "util").points().collect())
    assert got == want


# ------------------------------------------------------- compaction


def test_compact_rewrites_only_dirty_windows(spark, db):
    db.insert_rows(_rows(spark, [0, 1]))
    db.compact()  # both windows: one file each
    db.insert_rows(_rows(spark, [1]))  # window 11 is dirty again
    clean = pathlib.Path(db.base_dir, "dt=2026-01-10")
    clean_stats = _file_stats(clean)
    before = _stored(db)
    db.compact()
    assert _file_stats(clean) == clean_stats
    assert len(list(pathlib.Path(db.base_dir, "dt=2026-01-11").glob("*.parquet"))) == 1
    assert _stored(db) == before
    assert not pathlib.Path(db.base_dir, "_compact").exists()


def test_compacting_a_clean_store_touches_nothing(spark, db):
    db.insert_rows(_rows(spark, [0, 1]))
    db.compact()
    stats = _file_stats(db.base_dir)
    _, jobs = _jobs(spark, db.compact)
    assert jobs == 0
    assert _file_stats(db.base_dir) == stats


@pytest.mark.parametrize("crash_at", ["rename0", "rename1", "rename2", "rename3", "rmtree"])
def test_compact_cut_short_recovers_on_open(spark, db, monkeypatch, crash_at):
    """Cut compact() after each step of its swap (write tmp, live->old,
    tmp->live for each of two windows, delete the staging dir): open()
    then restores a store in which every row is visible exactly once,
    and a later compact() completes."""
    from catena_spark.sources import ingest

    db.insert_rows(_rows(spark, [0, 1]))
    db.insert_rows(_rows(spark, [0, 1]))  # two files in each window
    before = _stored(db)

    class Cut(Exception):
        pass

    with monkeypatch.context() as m:
        if crash_at == "rmtree":
            def rmtree(path, *a, **k):
                raise Cut(path)

            m.setattr(ingest.shutil, "rmtree", rmtree)
        else:
            budget = [int(crash_at[-1])]
            real = pathlib.Path.rename

            def rename(self, target):
                if budget[0] == 0:
                    raise Cut(self)
                budget[0] -= 1
                return real(self, target)

            m.setattr(pathlib.Path, "rename", rename)
        with pytest.raises(Cut):
            db.compact()
    assert pathlib.Path(db.base_dir, "_compact").exists()
    db2 = CatenaDB.open(spark, db.base_dir)
    assert not pathlib.Path(db.base_dir, "_compact").exists()
    assert db2._partitions() == ["2026-01-10", "2026-01-11"]
    assert _stored(db2) == before
    db2.compact()
    assert _stored(db2) == before
    assert [len(list(p.glob("*.parquet"))) for p in sorted(pathlib.Path(db.base_dir).glob("dt=*"))] == [1, 1]


# ------------------------------------------------------- sorted files


def _random_rows(spark, n=20000, seed=7):
    """``n`` points over 2 days and 100 series, in random order."""
    import random

    rnd = random.Random(seed)
    t0 = datetime.datetime(2026, 1, 10)
    data = [
        (
            f"s{rnd.randrange(20)}",
            f"m{rnd.randrange(5)}",
            t0 + datetime.timedelta(seconds=rnd.randrange(2 * 86400)),
            float(i),
        )
        for i in range(n)
    ]
    return spark.createDataFrame(data, "source string, metric string, ts timestamp, value double")


def _assert_files_sorted(root):
    """Every parquet file under ``root`` holds its rows sorted by
    (source, metric, ts): the row groups' statistics are the extent
    index only then."""
    import pyarrow.parquet as pq

    files = sorted(pathlib.Path(root).glob("dt=*/*.parquet"))
    assert files
    for f in files:
        t = pq.read_table(f, columns=["source", "metric", "ts"]).to_pydict()
        keys = list(zip(t["source"], t["metric"], t["ts"]))
        assert keys == sorted(keys), f"{f} is not sorted by (source, metric, ts)"


def test_insert_and_compact_write_series_sorted_files(spark, db):
    db.insert_rows(_random_rows(spark))
    _assert_files_sorted(db.base_dir)
    db.insert_rows(_random_rows(spark, seed=8))
    db.compact()
    assert [len(list(p.glob("*.parquet"))) for p in sorted(pathlib.Path(db.base_dir).glob("dt=*"))] == [1, 1]
    _assert_files_sorted(db.base_dir)


def test_write_partitioned_writes_series_sorted_files(spark, tmp_path):
    from catena_spark.sources import ingest

    ingest.write_partitioned(_random_rows(spark), str(tmp_path / "store"))
    _assert_files_sorted(tmp_path / "store")


# ------------------------------------------------------- lean reads


def _py4j_commands(spark, fn):
    """Fewest py4j commands ``fn()`` sent in three warm calls (cyclic GC
    off while counting: a collection can free Java handles of earlier
    work in the middle of a call)."""
    import gc

    client = spark.sparkContext._gateway._gateway_client
    sent = [0]
    orig = client.send_command

    def counting(*a, **k):
        sent[0] += 1
        return orig(*a, **k)

    fn()
    counts = []
    gc.collect()
    gc.disable()
    client.send_command = counting
    try:
        for _ in range(3):
            sent[0] = 0
            fn()
            counts.append(sent[0])
    finally:
        del client.send_command
        gc.enable()
    return min(counts)


def test_warm_point_reads_send_few_py4j_commands(spark, db):
    """A read is one parameterized statement over a cached relation, not
    a tree of Column-API calls (each one a dozen or more round-trips)."""
    db.insert_rows(_rows(spark, [0, 1]))
    seek = datetime.datetime(2026, 1, 10, 12, 1)
    assert _py4j_commands(spark, lambda: db.iterator("cpu0", "util").seek(seek).first()) <= 40
    assert _py4j_commands(spark, lambda: db.latest("cpu0", "util")) <= 40


def test_points_is_two_jobs_in_ts_then_value_order(spark, db):
    t0 = datetime.datetime(2026, 1, 10, 12, 0, 0)
    data = [
        ("s", "m", t0 + datetime.timedelta(minutes=m), v)
        for m, v in [(2, 5.0), (1, 9.0), (2, 1.0), (0, 3.0), (1, 2.0), (2, 3.0)]
    ]
    db.insert_rows(spark.createDataFrame(data, "source string, metric string, ts timestamp, value double"))
    db.insert_rows(_rows(spark, [0]))  # another series, another file
    rows, jobs = _jobs(spark, lambda: db.iterator("s", "m").points().collect())
    assert jobs == 2
    assert [(r["ts"], r["value"]) for r in rows] == sorted((t, v) for _, _, t, v in data)
    pts = db.iterator("s", "m").seek(t0 + datetime.timedelta(minutes=1)).points().collect()
    assert [r["value"] for r in pts] == [2.0, 9.0, 1.0, 3.0, 5.0]


def test_unchanged_store_reuses_its_relation(spark, db, monkeypatch):
    from pyspark.sql.readwriter import DataFrameReader

    db.insert_rows(_rows(spark, [0]))
    db.iterator("cpu0", "util").first()
    listed = []
    real = DataFrameReader.parquet
    monkeypatch.setattr(DataFrameReader, "parquet", lambda self, *p, **k: listed.append(p) or real(self, *p, **k))
    assert db.iterator("cpu0", "util").seek(datetime.datetime(2026, 1, 10)).first()["value"] == 0.0
    assert db.latest("cpu0", "util")["value"] == 2.0
    assert db.iterator("cpu0", "util").points().count() == 3
    assert listed == []
    db.insert_rows(_rows(spark, [1]))
    assert db.latest("cpu0", "util")["value"] == 12.0
    assert len(listed) == 1


def test_reads_see_every_change_to_the_store(spark, db):
    """The cached relation never serves a stale listing: a write by
    another CatenaDB on the same dir, a compaction swap and a retention
    drop are each seen by the next read."""
    def values():
        return sorted(r["value"] for r in db.iterator("cpu0", "util").points().collect())

    db.insert_rows(_rows(spark, [0]))
    assert values() == [0.0, 1.0, 2.0]
    other = CatenaDB.open(spark, db.base_dir)
    other.insert_rows(_rows(spark, [1]))
    assert values() == [0.0, 1.0, 2.0, 10.0, 11.0, 12.0]
    assert db.latest("cpu0", "util")["value"] == 12.0
    other.insert_rows(_rows(spark, [1]))  # a second file in window 11
    want = sorted([0.0, 1.0, 2.0] + 2 * [10.0, 11.0, 12.0])
    assert values() == want
    db.compact()  # window 11's files are replaced
    assert values() == want
    assert db.enforce_retention(max_partitions=1) == ["dt=2026-01-10"]
    assert values() == [10.0, 10.0, 11.0, 11.0, 12.0, 12.0]
    assert db.iterator("cpu0", "util").first()["value"] == 10.0


def test_seek_none_matches_no_point(spark, db):
    db.insert_rows(_rows(spark, [0]))
    it = db.iterator("cpu0", "util")
    assert it.seek(None).first() is None
    assert it.seek(None).points().count() == 0
    assert it.seek(None).df.count() == 0


def test_read_values_are_bound_not_pasted(spark, db):
    """A series name is a bound value, never SQL text."""
    db.insert_rows(_rows(spark, [0]))
    quote = "cpu0' OR '1'='1"
    assert db.latest(quote, "util") is None
    assert db.iterator(quote, "util").df.count() == 0
    rows = spark.createDataFrame(
        [(quote, "util", datetime.datetime(2026, 1, 10, 13), 7.0)],
        "source string, metric string, ts timestamp, value double",
    )
    db.insert_rows(rows)
    assert db.latest(quote, "util")["value"] == 7.0
    assert db.iterator("cpu0", "util").points().count() == 3
