"""Storage-layer semantics tests (SURVEY.md §2-A): write round-trip,
compaction invariance + file-count reduction, retention drop."""

from __future__ import annotations

import contextlib
import glob
import logging
import re

import pytest

from pyspark.sql import functions as F

from catena_spark import tables
from catena_spark.sources import (
    compact,
    partition_stats,
    retain_latest,
    write_partitioned,
)
from tests.conftest import SF_SMALL


def _events(spark):
    return tables.load(spark, SF_SMALL, "events")


@contextlib.contextmanager
def _catena_log(caplog, match=None):
    """Assert the block logs a ``catena_spark`` WARNING matching
    ``match`` (the library's fallback channel); ``match=None`` asserts
    the block logs none."""
    caplog.clear()
    with caplog.at_level(logging.WARNING, logger="catena_spark"):
        yield
    msgs = [r.getMessage() for r in caplog.records if r.name == "catena_spark"]
    if match is None:
        assert msgs == []
    else:
        assert any(re.search(match, m) for m in msgs), msgs


def test_write_roundtrip_and_pruning(spark, tmp_path):
    path = str(tmp_path / "store")
    ev = _events(spark)
    write_partitioned(ev, path)
    back = spark.read.parquet(path)
    assert back.count() == ev.count()
    assert "dt" in back.columns  # A3 rotation column materialized
    # partition pruning: one dt predicate touches one directory
    one_day = back.where(F.col("dt") == "2024-01-05")
    batch = one_day.count()
    expect = ev.where(F.date_format("ts", "yyyy-MM-dd") == "2024-01-05").count()
    assert batch == expect and batch > 0


def test_compaction_reduces_files_keeps_results(spark, tmp_path):
    path = str(tmp_path / "store")
    ev = _events(spark)
    # simulate micro-batch confetti: 8 small writes per partition
    ev8 = ev.repartition(8)
    from catena_spark.sources.ingest import with_dt

    with_dt(ev8).write.partitionBy("dt").parquet(path)
    files_before = len(glob.glob(f"{path}/dt=*/*.parquet"))
    before = spark.read.parquet(path).groupBy("event_type").count().collect()
    compact(spark, path)
    files_after = len(glob.glob(f"{path}/dt=*/*.parquet"))
    after = spark.read.parquet(path).groupBy("event_type").count().collect()
    assert files_after < files_before
    assert sorted(map(tuple, before)) == sorted(map(tuple, after))


def test_compact_refuses_streaming_sink(spark, tmp_path):
    """A streaming file sink lists its files in _spark_metadata; a
    rewrite cannot update that log, and once the sink commits its next
    batch a read of it fails. compact fails loud instead."""
    import datetime

    from catena_spark.sources.ingest import EVENTS_DDL, stream_ingest_events

    src, dest = tmp_path / "src", tmp_path / "sink"
    t0 = datetime.datetime(2024, 1, 5, 12)
    for i in range(2):
        rows = [(10 * i + j, t0, j, "click", 1.0, "") for j in range(3)]
        spark.createDataFrame(rows, EVENTS_DDL).coalesce(1).write.parquet(str(src / f"b{i}"))
    for i in range(2):  # two input files, two micro-batches
        (src / f"b{i}").rename(tmp_path / f"b{i}")
        part = next((tmp_path / f"b{i}").glob("*.parquet"))
        part.rename(src / f"part-{i}.parquet")
    q = stream_ingest_events(spark, str(src), str(dest), str(tmp_path / "ckpt"), 1)
    q.awaitTermination()
    assert len(glob.glob(f"{dest}/dt=*/*.parquet")) == 2
    with pytest.raises(ValueError, match="_spark_metadata"):
        compact(spark, str(dest))
    assert len(glob.glob(f"{dest}/dt=*/*.parquet")) == 2


def test_retention_drops_oldest(spark, tmp_path):
    path = str(tmp_path / "store")
    write_partitioned(_events(spark), path)
    stats = partition_stats(spark, path).collect()
    n_parts = len(stats)
    assert n_parts > 3
    dropped = retain_latest(path, n_parts - 2)
    assert len(dropped) == 2
    kept = spark.read.parquet(path).select("dt").distinct().count()
    assert kept == n_parts - 2
    # dropped data is gone; newest data intact (catena drops OLDEST first)
    remaining_min_dt = min(r.dt for r in partition_stats(spark, path).collect())
    assert all(d < f"dt={remaining_min_dt}" for d in dropped)


def test_rollup_incremental_refresh_matches_full(spark, tmp_path):
    """refresh_rollup on changed days == full rematerialization."""
    import pyspark.sql.functions as F

    from catena_spark.sources.ingest import materialize_rollup, refresh_rollup

    src = str(tmp_path / "events_src")
    dest = str(tmp_path / "rollup")
    ev = tables.load(spark, SF_SMALL, "events")
    # initial state: everything before Jan 20
    ev.where(F.col("ts") < "2024-01-20").write.parquet(src)
    materialize_rollup(spark, src, dest)
    before = spark.read.parquet(dest).count()
    # late/new data arrives for Jan 18-25; append + incremental refresh
    ev.where(F.col("ts") >= "2024-01-18").write.mode("append").parquet(src)
    changed = sorted(
        r["dt"]
        for r in spark.read.parquet(src)
        .where(F.col("ts") >= "2024-01-18")
        .select(F.date_format("ts", "yyyy-MM-dd").alias("dt"))
        .distinct()
        .collect()
    )
    refresh_rollup(spark, src, dest, changed)
    incremental = spark.read.parquet(dest)
    # oracle: full recompute from the same source
    full_dest = str(tmp_path / "rollup_full")
    materialize_rollup(spark, src, full_dest)
    full = spark.read.parquet(full_dest)
    assert incremental.count() == full.count() > 0
    assert incremental.count() != before  # refresh actually changed rows
    key = ["dt", "user_id", "event_type", "hour"]
    assert incremental.select(*key, "n", "sum_v").exceptAll(
        full.select(*key, "n", "sum_v")
    ).count() == 0


def test_dt_partition_layout_prunes(spark, tmp_path):
    """Time predicates on the dt-partitioned layout prune whole partition
    directories at plan time (SCALE.md storage claim)."""
    import pyspark.sql.functions as F

    from catena_spark.sources.ingest import write_partitioned

    dest = str(tmp_path / "events_dt")
    write_partitioned(tables.load(spark, SF_SMALL, "events"), dest)
    df = spark.read.parquet(dest).where(
        (F.col("dt") >= "2024-01-10") & (F.col("dt") < "2024-01-12")
    )
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "PartitionFilters" in plan
    # only the two selected days' rows come back
    days = {str(r["dt"]) for r in df.select("dt").distinct().collect()}
    assert days == {"2024-01-10", "2024-01-11"}  # dt inferred as DATE


def test_kafka_source_gated_with_actionable_error(spark):
    """No Kafka classpath in this container: the connector must fail
    fast with deploy instructions, not at first micro-batch."""
    from catena_spark.sources.connectors import kafka_events_stream

    with pytest.raises(NotImplementedError, match="spark-sql-kafka"):
        kafka_events_stream(spark, "localhost:9092", "events")


def test_has_jvm_class_tells_missing_from_present(spark):
    from catena_spark.sources.connectors import _has_jvm_class

    assert _has_jvm_class(spark, "java.lang.String")
    assert not _has_jvm_class(spark, "org.example.catena.NoSuchConnector")


def test_lakehouse_sinks_gated_parquet_works(spark, tmp_path):
    """delta/iceberg sinks fail loudly without their runtimes; the
    parquet dispatch path round-trips."""
    from catena_spark.sources.connectors import write_table

    df = tables.load(spark, SF_SMALL, "nation")
    p = str(tmp_path / "nation_pq")
    write_table(df, p, fmt="parquet", mode="overwrite")
    assert spark.read.parquet(p).count() == df.count()
    for fmt in ("delta", "iceberg"):
        with pytest.raises(NotImplementedError):
            write_table(df, str(tmp_path / fmt), fmt=fmt)
    with pytest.raises(ValueError):
        write_table(df, p, fmt="orc2")


def test_no_ntz_timestamp_escapes_load(spark):
    """Regression guard for the round-3 testdata regen: naive parquet
    timestamps must be normalized to UTC-instant TimestampType inside
    tables.load — a TIMESTAMP_NTZ column escaping the loader breaks
    every unix_micros call and silently shifts oracle hashes."""
    from catena_spark import tables

    for t in tables.TABLES:
        bad = {
            c: ty
            for c, ty in tables.load(spark, SF_SMALL, t).dtypes
            if ty == "timestamp_ntz"
        }
        assert not bad, f"{t}: NTZ columns escaped load(): {bad}"


def test_bss_detect_and_mitigate(spark, tmp_path, caplog):
    """VERDICT r14 item 5: the BYTE_STREAM_SPLIT mitigation must be
    discoverable in the package, not only in the ops log. Pins the full
    doctrine end-to-end: (1) footer scan finds BSS chunks and names the
    columns, (2) a BSS-free directory is a strict no-op (conf untouched
    -> the fast vectorized reader stays on), (3) the vectorized reader
    really does reject BSS bytes fail-loud on this Spark build, and
    (4) after mitigation the same bytes decode to the right values."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from catena_spark.sources import encodings

    clean = tmp_path / "clean"
    dirty = tmp_path / "dirty" / "t.parquet"  # part-file directory shape
    clean.mkdir()
    dirty.mkdir(parents=True)
    vals = [float(i) / 7 for i in range(500)]
    tbl = pa.table({"k": list(range(500)), "v": pa.array(vals, pa.float64())})
    pq.write_table(tbl, str(clean / "a.parquet"))
    pq.write_table(tbl.slice(0, 250), str(dirty / "part-0.parquet"),
                   use_dictionary=False, use_byte_stream_split=["v"])
    pq.write_table(tbl.slice(250), str(dirty / "part-1.parquet"))

    hits = encodings.detect_byte_stream_split(str(tmp_path / "dirty"))
    assert len(hits) == 1 and list(hits.values()) == [["v"]]
    assert encodings.detect_byte_stream_split(str(clean)) == {}

    orig = spark.conf.get(encodings.VECTORIZED_READER_CONF)
    try:
        # BSS-free: no-op, conf untouched, no warning
        with _catena_log(caplog):
            assert not encodings.mitigate_byte_stream_split(
                spark, str(clean)
            )
        assert spark.conf.get(encodings.VECTORIZED_READER_CONF) == orig

        # the r14 platform finding, re-pinned at the package surface:
        # vectorized read of BSS bytes fails LOUD (never wrong values)
        if orig == "true":
            with pytest.raises(Exception, match="BYTE_STREAM_SPLIT"):
                spark.read.parquet(str(dirty)).orderBy("k").collect()

        with _catena_log(caplog, match="BYTE_STREAM_SPLIT"):
            assert encodings.mitigate_byte_stream_split(spark, str(dirty))
        assert (
            spark.conf.get(encodings.VECTORIZED_READER_CONF) == "false"
        )
        got = [
            r.v for r in spark.read.parquet(str(dirty)).orderBy("k").collect()
        ]
        assert got == vals, "row-based decode of BSS bytes must be exact"
    finally:
        spark.conf.set(encodings.VECTORIZED_READER_CONF, orig)


def _write_drift_fixtures(tmp_path):
    """Two-generation parquet directories: widen (int32+int64 parts of
    one column) and missing (a column absent from the older part)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    wd = tmp_path / "widen.parquet"
    md = tmp_path / "missing.parquet"
    wd.mkdir()
    md.mkdir()
    pq.write_table(
        pa.table({"k": pa.array([1, 2, 3], pa.int32()),
                  "v": pa.array([1.0, 2.0, 3.0])}),
        str(wd / "part-0.parquet"),
    )
    pq.write_table(
        pa.table({"k": pa.array([4, 5, 6], pa.int64()),
                  "v": pa.array([4.0, 5.0, 6.0])}),
        str(wd / "part-1.parquet"),
    )
    pq.write_table(
        pa.table({"k": pa.array([1, 2, 3], pa.int64()),
                  "extra": pa.array(["a", "b", "c"])}),
        str(md / "part-0.parquet"),
    )
    pq.write_table(
        pa.table({"k": pa.array([4, 5, 6], pa.int64())}),
        str(md / "part-1.parquet"),
    )
    return str(wd), str(md)


def test_schema_drift_unmitigated_is_never_silently_wrong(spark, tmp_path):
    """The r15 drift doctrine's load-bearing clause, pinned against the
    live Spark build: a PLAIN read of a multi-generation directory may
    fail loud or may succeed (footer-sampling luck decides), but a
    SUCCESSFUL read must return exactly the right values — and a read
    with an explicitly narrow schema must fail loud on wider files,
    never truncate. If an upgrade ever turns either into silent
    corruption, this test is the tripwire."""
    wd, md = _write_drift_fixtures(tmp_path)

    # widen dir, plain read: loud, or exactly right (today: loud —
    # PARQUET_COLUMN_DATA_TYPE_MISMATCH — because the int32 footer of
    # part-0 wins inference; both outcomes are within doctrine)
    try:
        got = sorted(
            (r.k, r.v) for r in spark.read.parquet(wd).collect()
        )
        assert got == [(i, float(i)) for i in range(1, 7)]
    except Exception as e:
        assert "PARQUET_COLUMN_DATA_TYPE_MISMATCH" in str(e) or (
            "SchemaColumnConvertNotSupportedException" in str(e)
        )

    # explicitly NARROW schema over int64 files: must fail loud
    with pytest.raises(Exception, match="MISMATCH|ConvertNotSupported"):
        spark.read.schema("k int, v double").parquet(wd).collect()

    # explicitly WIDENED schema: Spark 4 widening reads decode int32
    # pages into bigint exactly — THE widen mitigation
    got = sorted(
        (r.k, r.v)
        for r in spark.read.schema("k bigint, v double").parquet(wd).collect()
    )
    assert got == [(i, float(i)) for i in range(1, 7)]

    # missing dir, plain read: the column either surfaces (null-filled)
    # or VANISHES with the rows still correct — never wrong values; a
    # query referencing a vanished column fails loud at analysis
    df = spark.read.parquet(md)
    rows = sorted((tuple(r) for r in df.collect()), key=str)
    if "extra" in df.columns:
        assert rows == [(1, "a"), (2, "b"), (3, "c"),
                        (4, None), (5, None), (6, None)]
    else:
        assert rows == [(1,), (2,), (3,), (4,), (5,), (6,)]


def test_read_drifted_pins_superset_schema(spark, tmp_path):
    """read_drifted (r15): the footer-derived superset schema makes both
    drift shapes deterministic — int32 parts widen on decode, missing
    columns surface as NULL — and on UNDRIFTED fixtures it is
    schema-identical to the plain read (the zero-behavior-change
    claim behind the CATENA_SCHEMA_DRIFT_SAFE gate)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from catena_spark.sources import encodings

    wd, md = _write_drift_fixtures(tmp_path)

    ws = encodings.merged_drifted_schema(wd)
    assert ws.field("k").type == pa.int64()
    got = sorted((r.k, r.v) for r in encodings.read_drifted(spark, wd).collect())
    assert got == [(i, float(i)) for i in range(1, 7)]

    ms = encodings.merged_drifted_schema(md)
    assert ms.names == ["k", "extra"]
    got = sorted(
        (tuple(r) for r in encodings.read_drifted(spark, md).collect()),
        key=str,
    )
    assert got == [(1, "a"), (2, "b"), (3, "c"),
                   (4, None), (5, None), (6, None)]

    # irreconcilable drift (int vs string) fails loud, naming the column
    bad = tmp_path / "bad.parquet"
    bad.mkdir()
    pq.write_table(pa.table({"x": pa.array([1], pa.int64())}),
                   str(bad / "part-0.parquet"))
    pq.write_table(pa.table({"x": pa.array(["s"])}),
                   str(bad / "part-1.parquet"))
    with pytest.raises(ValueError, match="irreconcilable schema drift.*'x'"):
        encodings.merged_drifted_schema(str(bad))

    # zero-behavior-change: superset read == plain read on every fixture
    for t in tables.TABLES:
        p = f"{SF_SMALL}/{t}.parquet"
        assert encodings.read_drifted(spark, p).schema == (
            spark.read.parquet(p).schema
        ), f"{t}: drift-safe read changed the surfaced schema"


def test_tables_load_drift_safe_env_gate(spark, tmp_path, monkeypatch):
    """CATENA_SCHEMA_DRIFT_SAFE=1 routes tables.load through the
    superset-schema read: a two-generation orders directory loads with
    o_orderpriority present and null-filled for older-writer rows —
    including the events ts/NTZ normalization the loader applies after
    the read (the gate must compose with it, not bypass it)."""
    import shutil

    import pyarrow.parquet as pq

    sf = tmp_path / "sfdrift"
    sf.mkdir()
    for t in tables.TABLES:
        src = f"{SF_SMALL}/{t}.parquet"
        if t == "orders":
            full = pq.read_table(src)
            d = sf / "orders.parquet"
            d.mkdir()
            half = full.num_rows // 2
            pq.write_table(full.slice(0, half), str(d / "part-0.parquet"))
            pq.write_table(
                full.slice(half).drop_columns(["o_orderpriority"]),
                str(d / "part-1.parquet"),
            )
        else:
            shutil.copy(src, str(sf / f"{t}.parquet"))
    monkeypatch.setenv("CATENA_SCHEMA_DRIFT_SAFE", "1")
    df = tables.load(spark, str(sf), "orders")
    assert "o_orderpriority" in df.columns
    n_total = df.count()
    n_null = df.filter("o_orderpriority IS NULL").count()
    assert n_total == pq.read_table(f"{SF_SMALL}/orders.parquet").num_rows
    assert n_null == n_total - n_total // 2
    # events still loads with the ts normalization intact under the gate
    ev = tables.load(spark, str(sf), "events")
    assert dict(ev.dtypes)["ts"] == "timestamp"


def test_read_drifted_int96_timestamps(spark, tmp_path):
    """r15 capstone finding: pyarrow reports BOTH deprecated INT96
    physical timestamps AND modern INT64 TIMESTAMP(NANOS) as
    timestamp[ns] — but Spark decodes INT96 as TimestampType while
    (under the session's nanosAsLong pin) INT64 nanos surface as
    bigint. read_drifted must tell them apart by PHYSICAL type from the
    footers, or every timestamp column breaks the moment drift composes
    with INT96-era part-files (exactly the mix a lake with old
    Hive/Impala partitions contains)."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from catena_spark.sources import encodings

    d = tmp_path / "t.parquet"
    d.mkdir()
    ts = [datetime.datetime(2024, 1, 1, 12, 0, i) for i in range(4)]
    full = pa.table({
        "k": pa.array([0, 1, 2, 3], pa.int64()),
        "when": pa.array(ts, pa.timestamp("us")),
        "tag": pa.array(["a", "b", "c", "d"]),
    })
    # older INT96-writer generation, ALSO missing the newer column
    pq.write_table(full.slice(0, 2).drop_columns(["tag"]),
                   str(d / "part-0.parquet"),
                   use_deprecated_int96_timestamps=True)
    pq.write_table(full.slice(2), str(d / "part-1.parquet"),
                   use_deprecated_int96_timestamps=True)
    _, int96, _ = encodings._merged_footer_info(str(d))
    assert "when" in int96
    df = encodings.read_drifted(spark, str(d))
    assert dict(df.dtypes)["when"] == "timestamp"
    rows = sorted((tuple(r) for r in df.collect()), key=str)
    assert [r[1] for r in rows] == ts  # exact decode through INT96
    assert [r[2] for r in rows] == [None, None, "c", "d"]


def test_read_drifted_mixed_int96_and_us_generations(spark, tmp_path):
    """A table spanning old Hive/Impala INT96 partitions AND modern
    naive-µs ones — the timestamp mix a long-lived lake actually has.
    read_drifted resolves it to TimestampType (both generations decode
    exactly; µs-naive under an LTZ schema equals the NTZ-read+UTC-cast
    path the loaders apply). A ns/µs mix WITHOUT an INT96 sighting
    stays fail-loud: INT64 nanos surface as bigint under nanosAsLong
    and cannot share a read schema with timestamp."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from catena_spark.sources import encodings

    ts = [datetime.datetime(2024, 3, 1, 6, 30, i) for i in range(4)]
    t = pa.table({
        "k": pa.array([0, 1, 2, 3], pa.int64()),
        "when": pa.array(ts, pa.timestamp("us")),
    })
    mix = tmp_path / "mix.parquet"
    mix.mkdir()
    pq.write_table(t.slice(0, 2), str(mix / "part-0.parquet"),
                   use_deprecated_int96_timestamps=True)
    pq.write_table(t.slice(2), str(mix / "part-1.parquet"))
    df = encodings.read_drifted(spark, str(mix))
    assert dict(df.dtypes)["when"] == "timestamp"
    rows = sorted((tuple(r) for r in df.collect()), key=str)
    assert [r[1] for r in rows] == ts

    # INT64-ns next to µs, no INT96 anywhere: fail loud, name the column
    bad = tmp_path / "nsmix.parquet"
    bad.mkdir()
    pq.write_table(
        t.slice(0, 2).cast(pa.schema([("k", pa.int64()),
                                      ("when", pa.timestamp("ns"))])),
        str(bad / "part-0.parquet"), store_schema=False,
    )
    pq.write_table(t.slice(2), str(bad / "part-1.parquet"))
    with pytest.raises(ValueError, match="irreconcilable.*'when'"):
        encodings.merged_drifted_schema(str(bad))


def test_int96_detection_uses_schema_descriptor(spark, tmp_path):
    """ADVICE r15: INT96 physical-type detection must come from the
    footer's schema DESCRIPTOR, not row_group(0) — a timestamp column
    whose only INT96 sighting lives in a ZERO-row-group part-file (the
    shape the probe's empty layout writes) must still map to
    TimestampType in the superset schema. Pinned empirically: a
    ParquetWriter closed without writing carries 0 row groups yet its
    descriptor records INT96."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from catena_spark.sources import encodings

    d = tmp_path / "t.parquet"
    d.mkdir()
    sch = pa.schema([("k", pa.int64()), ("when", pa.timestamp("us"))])
    w = pq.ParquetWriter(
        str(d / "part-0.parquet"), sch, use_deprecated_int96_timestamps=True
    )
    w.close()  # schema-only: zero row groups, INT96 descriptor
    assert pq.ParquetFile(str(d / "part-0.parquet")).metadata.num_row_groups == 0
    ts = [datetime.datetime(2024, 5, 1, 8, 0, i) for i in range(3)]
    pq.write_table(
        pa.table({"k": pa.array([0, 1, 2], pa.int64()),
                  "when": pa.array(ts, pa.timestamp("us"))}),
        str(d / "part-1.parquet"),
    )
    _, int96, _ = encodings._merged_footer_info(str(d))
    assert "when" in int96, "descriptor-only INT96 sighting missed"
    df = encodings.read_drifted(spark, str(d))
    assert dict(df.dtypes)["when"] == "timestamp"
    assert sorted(r.when for r in df.collect()) == ts


def test_footer_sample_bounds_are_loud(spark, tmp_path, caplog):
    """ADVICE r15 sampling semantics: max_files=0 is rejected (it used
    to silently mean 'scan everything'), a truncating bound on the
    superset-schema derivation WARNS (a column only in unsampled files
    is otherwise silently dropped), and a truncated no-hit BSS
    mitigation sample WARNS that unsampled files may still carry BSS."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    from catena_spark.sources import encodings

    d = tmp_path / "t.parquet"
    d.mkdir()
    for i in range(3):
        cols = {"k": pa.array([i], pa.int64())}
        if i == 2:  # a column only the LAST (unsampled) file carries
            cols["late"] = pa.array(["x"])
        pq.write_table(pa.table(cols), str(d / f"part-{i:04d}.parquet"))

    with pytest.raises(ValueError, match="max_files"):
        encodings.detect_byte_stream_split(str(d), max_files=0)
    with pytest.raises(ValueError, match="max_files"):
        encodings.merged_drifted_schema(str(d), max_files=-1)

    with _catena_log(caplog, match="truncated at max_files"):
        sch = encodings.merged_drifted_schema(str(d), max_files=2)
    assert "late" not in sch.names  # documented bounded-sample gap
    with _catena_log(caplog):
        full = encodings.merged_drifted_schema(str(d))  # default: all
    assert "late" in full.names

    with _catena_log(caplog, match="sample bound reached"):
        assert not encodings.mitigate_byte_stream_split(
            spark, str(d), max_files=2
        )
    with _catena_log(caplog):  # unbounded no-hit scan is silent
        assert not encodings.mitigate_byte_stream_split(
            spark, str(d), max_files=None
        )


def test_read_drifted_nested_float_widening_and_array_null_fill(
    spark, tmp_path
):
    """r16 (VERDICT r15 item 4) runtime side of the nested-drift axis:
    a directory mixing list<float> and list<double> writer generations
    merges to list<double> and Spark's widening read decodes the FLOAT
    pages under the double schema EXACTLY; and a part-file missing an
    ARRAY column NULL-fills it under the superset schema."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from catena_spark.sources import encodings

    wd = tmp_path / "wide.parquet"
    wd.mkdir()
    pq.write_table(
        pa.table({"id": pa.array([1, 2], pa.int64()),
                  "v": pa.array([[1.5, 2.25], [3.125, 4.0]],
                                pa.list_(pa.float32()))}),
        str(wd / "part-0.parquet"),
    )
    pq.write_table(
        pa.table({"id": pa.array([3], pa.int64()),
                  "v": pa.array([[5.5, 6.75]], pa.list_(pa.float64()))}),
        str(wd / "part-1.parquet"),
    )
    sch = encodings.merged_drifted_schema(str(wd))
    assert sch.field("v").type == pa.list_(pa.float64())
    df = encodings.read_drifted(spark, str(wd))
    assert dict(df.dtypes)["v"] == "array<double>"
    got = {r.id: r.v for r in df.collect()}
    assert got == {1: [1.5, 2.25], 2: [3.125, 4.0], 3: [5.5, 6.75]}

    md = tmp_path / "miss.parquet"
    md.mkdir()
    pq.write_table(
        pa.table({"id": pa.array([1], pa.int64()),
                  "v": pa.array([[9.5]], pa.list_(pa.float32()))}),
        str(md / "part-0.parquet"),
    )
    pq.write_table(
        pa.table({"id": pa.array([2], pa.int64())}),
        str(md / "part-1.parquet"),
    )
    df = encodings.read_drifted(spark, str(md))
    got = {r.id: r.v for r in df.collect()}
    assert got == {1: [9.5], 2: None}, "ArrayType NULL-fill broken"


def test_decimal_generation_drift_fails_loud(tmp_path):
    """VERDICT r15 item 5 doctrine: a writer generation that wrote a
    price column as DECIMAL(12,2) beside double part-files is NOT a
    widening — double cannot represent every decimal exactly and the
    reverse cast changes comparison/rounding semantics — so the merge
    must FAIL LOUD naming the column, never silently widen. The 100 TB
    remediations are (a) rewrite the minority generation, or (b) an
    explicit per-generation cast view where the exactness loss is a
    deliberate, named decision (SCALE.md r16)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    from catena_spark.sources import encodings

    d = tmp_path / "t.parquet"
    d.mkdir()
    pq.write_table(
        pa.table({"k": pa.array([1], pa.int64()),
                  "price": pa.array([901.0], pa.float64())}),
        str(d / "part-0.parquet"),
    )
    pq.write_table(
        pa.table({"k": pa.array([2], pa.int64()),
                  "price": pa.array([1], pa.decimal128(12, 2))}),
        str(d / "part-1.parquet"),
    )
    with pytest.raises(ValueError, match="irreconcilable.*'price'"):
        encodings.merged_drifted_schema(str(d))
    # decimal PRECISION drift is likewise refused (12,2 vs 18,2): scale
    # rules differ per engine — no silent precision unification either
    d2 = tmp_path / "t2.parquet"
    d2.mkdir()
    pq.write_table(
        pa.table({"price": pa.array([1], pa.decimal128(12, 2))}),
        str(d2 / "part-0.parquet"),
    )
    pq.write_table(
        pa.table({"price": pa.array([2], pa.decimal128(18, 2))}),
        str(d2 / "part-1.parquet"),
    )
    with pytest.raises(ValueError, match="irreconcilable.*'price'"):
        encodings.merged_drifted_schema(str(d2))


def test_brotli_parquet_is_fail_loud(spark, tmp_path):
    """r16 platform finding (caught by widening the mixed-codec probe
    cycle): Spark 4.1.2 ships NO BrotliCodec — reading VALUES from a
    brotli-compressed parquet file fails LOUD with
    ClassNotFoundException — while count(*) silently SUCCEEDS, because
    count-star is answered from footer row-group metadata without
    decoding a single page. Never wrong values, but a pipeline that
    smoke-tests a third-party partition with count() will pass and
    then fail at first real read; pyarrow and DuckDB both write and
    read brotli happily, so such partitions WILL occur at 100 TB. No
    conf mitigates it on this build (unlike BSS's row-based reader) —
    the remediation is rewriting the partition (pyarrow round-trip) or
    adding a brotli codec jar to the cluster."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    p = str(tmp_path / "b.parquet")
    vals = [float(i) / 3 for i in range(200)]
    pq.write_table(
        pa.table({"k": list(range(200)), "v": vals}), p, compression="brotli"
    )
    # count-star: metadata-only, succeeds — the trap half of the finding
    assert spark.read.parquet(p).count() == 200
    # any value read: fail LOUD naming the missing codec
    with pytest.raises(Exception, match="[Bb]rotli"):
        spark.read.parquet(p).agg({"v": "sum"}).collect()
    # the pyarrow rewrite remediation restores readability exactly
    rw = str(tmp_path / "rw.parquet")
    pq.write_table(pq.read_table(p), rw)
    got = [r.v for r in spark.read.parquet(rw).orderBy("k").collect()]
    assert got == vals


def test_bitrot_detection_requires_verify_conf(spark, tmp_path):
    """r16 bitrot doctrine (encodings.py): a single flipped byte in a
    parquet data page is SILENT corruption on a default session — the
    read succeeds and returns wrong values — even though the file
    carries page CRCs, because Spark's parquet.page.verify-checksum
    verification is OFF by default. enable_bitrot_detection turns the
    same bytes fail-LOUD. Also pins the trap half: compression is not
    integrity (a corrupted zstd page decodes to garbage 'successfully'
    at this offset)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    from catena_spark.sources import encodings

    vals = [float(i) for i in range(2000)]
    t = pa.table({"k": pa.array(range(2000), pa.int64()),
                  "v": pa.array(vals, pa.float64())})

    def corrupted(name, **kw):
        p = str(tmp_path / name)
        pq.write_table(t, p, use_dictionary=False, **kw)
        size = (tmp_path / name).stat().st_size
        off = (size - 2000) // 2  # mid data pages, clear of the footer
        with open(p, "r+b") as f:
            f.seek(off)
            b = f.read(1)
            f.seek(off)
            f.write(bytes([b[0] ^ 0xFF]))
        return p

    crc = corrupted("crc.parquet", compression="none",
                    write_page_checksum=True)
    zstd = corrupted("zstd.parquet", compression="zstd",
                     write_page_checksum=False)

    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    orig = hconf.get(encodings.PAGE_VERIFY_CONF)
    try:
        encodings.enable_bitrot_detection(spark, enabled=False)
        got = [r.v for r in spark.read.parquet(crc).orderBy("k").collect()]
        n_bad = sum(1 for g, w in zip(got, vals) if g != w)
        assert n_bad > 0, (
            "expected SILENT corruption on the default session — if "
            "this build started verifying CRCs by default, the bitrot "
            "doctrine in encodings.py needs rewriting (good news)"
        )
        zgot = [r.v for r in spark.read.parquet(zstd).orderBy("k").collect()]
        assert sum(1 for g, w in zip(zgot, vals) if g != w) > 0, (
            "compressed-page corruption decoded clean — offset drifted; "
            "adjust the flip offset so the trap half stays pinned"
        )

        encodings.enable_bitrot_detection(spark)
        # read BOTH columns: column pruning means a scan that never
        # touches the corrupted column's pages cannot raise (pinned the
        # hard way: an agg(sum(v)) here passed while the flip sat in
        # k's pages — verification is per page READ, not per file)
        with pytest.raises(Exception):
            spark.read.parquet(crc).orderBy("k").collect()
        # CRC-less files stay undetectable even with verification on —
        # the writer-asymmetry half of the doctrine (pyarrow default)
        zgot2 = [r.v for r in spark.read.parquet(zstd).orderBy("k").collect()]
        assert zgot2 == zgot
    finally:
        if orig is None:
            hconf.unset(encodings.PAGE_VERIFY_CONF)
        else:
            hconf.set(encodings.PAGE_VERIFY_CONF, orig)


def test_uint_parquet_generations(spark, tmp_path):
    """r17 platform matrix: UNSIGNED parquet integers (Arrow pipelines
    write real uint columns; a signed/unsigned generation mix is the
    natural successor to int widening). Empirically pinned:

    - Spark's native inference maps each uintN to the CONTAINING signed
      type (uint8->smallint, uint16->int, uint32->bigint) and uint64 to
      DECIMAL(20,0) — values exact to the extremes.
    - The one SILENT-WRONG-VALUES integer shape on this build: unsigned
      pages under a too-NARROW signed schema bit-reinterpret (uint16's
      65535 under smallint reads back as -1). The merge lattice exists
      so no generated schema is ever under-sized.
    - read_drifted reconciles int32+uint32 generations to bigint and
      int64+uint64 to DECIMAL(20,0), both value-exact; uint64 beside a
      smaller unsigned generation refuses loud (uint32 pages cannot
      decode under decimal — no common read type exists).
    - DuckDB union_by_name reads the same mixes exactly (BIGINT /
      HUGEINT), so drifted-bytes oracle parity holds.
    """
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    from catena_spark.sources import encodings

    # native inference + extremes
    singles = {
        "uint8": (pa.uint8(), [0, 255], "smallint"),
        "uint16": (pa.uint16(), [0, 65535], "int"),
        "uint32": (pa.uint32(), [0, 2**32 - 1], "bigint"),
        "uint64": (pa.uint64(), [0, 2**64 - 1], "decimal(20,0)"),
    }
    for name, (t, vals, want) in singles.items():
        p = str(tmp_path / f"{name}.parquet")
        pq.write_table(pa.table({"x": pa.array(vals, t)}), p)
        df = spark.read.parquet(p)
        assert dict(df.dtypes)["x"] == want, name
        assert sorted(int(r.x) for r in df.collect()) == vals, name
        # read_drifted on a single-generation uint dir mirrors inference
        rd = encodings.read_drifted(spark, p)
        assert rd.schema == df.schema, name

    # the silent-wrap hazard (documented, not mitigated by Spark):
    # 65535 under an explicitly narrow smallint schema wraps to -1
    wrapped = sorted(
        r.x
        for r in spark.read.schema("x smallint")
        .parquet(str(tmp_path / "uint16.parquet"))
        .collect()
    )
    assert wrapped == [-1, 0], (
        "uint16-under-smallint no longer silently wraps — if this "
        "build started failing loud, celebrate and update the doctrine"
    )

    # mixed generations
    m32 = tmp_path / "m32.parquet"
    m32.mkdir()
    pq.write_table(pa.table({"x": pa.array([-7, 3], pa.int32())}),
                   str(m32 / "part-0.parquet"))
    pq.write_table(pa.table({"x": pa.array([0, 2**32 - 1], pa.uint32())}),
                   str(m32 / "part-1.parquet"))
    ms = encodings.merged_drifted_schema(str(m32))
    assert ms.field("x").type == pa.int64()
    got = sorted(int(r.x) for r in encodings.read_drifted(spark, str(m32)).collect())
    assert got == [-7, 0, 3, 2**32 - 1]

    m64 = tmp_path / "m64.parquet"
    m64.mkdir()
    pq.write_table(pa.table({"x": pa.array([-5, 7], pa.int64())}),
                   str(m64 / "part-0.parquet"))
    pq.write_table(pa.table({"x": pa.array([0, 2**64 - 1], pa.uint64())}),
                   str(m64 / "part-1.parquet"))
    ms = encodings.merged_drifted_schema(str(m64))
    assert ms.field("x").type == pa.decimal128(20, 0)
    got = sorted(int(r.x) for r in encodings.read_drifted(spark, str(m64)).collect())
    assert got == [-5, 0, 7, 2**64 - 1]

    # DuckDB reads the same mixed bytes exactly — oracle parity holds
    con = duckdb.connect()
    assert sorted(
        int(v[0])
        for v in con.execute(
            f"SELECT x FROM read_parquet('{m32}/*.parquet', union_by_name=true)"
        ).fetchall()
    ) == [-7, 0, 3, 2**32 - 1]
    assert sorted(
        int(v[0])
        for v in con.execute(
            f"SELECT x FROM read_parquet('{m64}/*.parquet', union_by_name=true)"
        ).fetchall()
    ) == [-5, 0, 7, 2**64 - 1]

    # wider-unsigned merge: uint8 + uint32 -> uint32 (-> bigint read,
    # under which uint8 pages decode exactly)
    mu = tmp_path / "mu.parquet"
    mu.mkdir()
    pq.write_table(pa.table({"x": pa.array([0, 255], pa.uint8())}),
                   str(mu / "part-0.parquet"))
    pq.write_table(pa.table({"x": pa.array([0, 2**32 - 1], pa.uint32())}),
                   str(mu / "part-1.parquet"))
    assert encodings.merged_drifted_schema(str(mu)).field("x").type == pa.uint32()
    got = sorted(int(r.x) for r in encodings.read_drifted(spark, str(mu)).collect())
    assert got == [0, 0, 255, 2**32 - 1]

    # uint64 beside a smaller unsigned generation: no common read type
    bad = tmp_path / "bad.parquet"
    bad.mkdir()
    pq.write_table(pa.table({"x": pa.array([1], pa.uint32())}),
                   str(bad / "part-0.parquet"))
    pq.write_table(pa.table({"x": pa.array([2], pa.uint64())}),
                   str(bad / "part-1.parquet"))
    with pytest.raises(ValueError, match="irreconcilable.*'x'.*uint64"):
        encodings.merged_drifted_schema(str(bad))


def test_encrypted_parquet_is_fail_loud_with_count_trap(spark, tmp_path):
    """r17 platform finding (probed alongside the codec cycle): parquet
    MODULAR ENCRYPTION — the format third-party secure pipelines write
    (pyarrow/parquet-mr both support it; this Spark has no KMS conf).

    - Encrypted FOOTER: both engines fail loud immediately
      (ParquetCryptoRuntimeException 'No keys available' /
      DuckDB 'encryption_config was not set') — even count(*).
    - PLAINTEXT-FOOTER mode (a real mode: footer readable, pages
      encrypted): the brotli trap shape EXACTLY — count(*) silently
      SUCCEEDS on BOTH Spark and DuckDB (answered from footer
      metadata, zero pages decoded) while the first VALUE read fails
      loud ('Null File Decryptor'). A pipeline that smoke-tests
      partitions with count() passes and dies at first real scan.
    Never wrong values on either engine — fail-loud class, pinned so
    an upgrade changing either half (or worse, making it silent) is
    caught."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    pe = pytest.importorskip("pyarrow.parquet.encryption")
    import base64

    class Kms(pe.KmsClient):
        def __init__(self, config=None):
            pe.KmsClient.__init__(self)

        def wrap_key(self, key_bytes, master_key_identifier):
            return base64.b64encode(key_bytes)

        def unwrap_key(self, wrapped_key, master_key_identifier):
            return base64.b64decode(wrapped_key)

    t = pa.table({"k": pa.array(range(50), pa.int64()),
                  "v": pa.array([float(i) for i in range(50)])})
    factory = pe.CryptoFactory(lambda config: Kms(config))
    kc = pe.KmsConnectionConfig()

    def write(name, plaintext_footer):
        conf = pe.EncryptionConfiguration(
            footer_key="master", column_keys={"master": ["k", "v"]},
            plaintext_footer=plaintext_footer,
        )
        p = str(tmp_path / name)
        fep = factory.file_encryption_properties(kc, conf)
        with pq.ParquetWriter(p, t.schema, encryption_properties=fep) as w:
            w.write_table(t)
        return p

    enc = write("enc.parquet", False)
    enc_pf = write("enc_pf.parquet", True)
    con = duckdb.connect()

    # encrypted footer: loud everywhere, immediately
    with pytest.raises(Exception, match="(?i)encrypt|keys"):
        spark.read.parquet(enc).count()
    with pytest.raises(Exception, match="(?i)encrypt"):
        con.execute(f"SELECT count(*) FROM read_parquet('{enc}')").fetchone()

    # plaintext footer: the count trap on BOTH engines...
    assert spark.read.parquet(enc_pf).count() == 50
    assert con.execute(
        f"SELECT count(*) FROM read_parquet('{enc_pf}')"
    ).fetchone() == (50,)
    # ...and loud on the first value read
    with pytest.raises(Exception, match="(?i)decrypt"):
        spark.read.parquet(enc_pf).agg({"v": "sum"}).collect()
    with pytest.raises(Exception):
        con.execute(f"SELECT sum(v) FROM read_parquet('{enc_pf}')").fetchone()


def test_nan_stats_pruning_drops_rows_on_foreign_writers(spark, tmp_path):
    """r17 NaN-statistics doctrine (encodings.py): both engines order
    NaN greater than every number, but pyarrow writes row-group
    min/max EXCLUDING NaN — so under predicate pushdown a comparison
    filter prunes the NaN row's group and the row silently vanishes.
    Pins all three writers and the within-Spark pushdown divergence
    (the only observable symptom — engine-vs-engine hashes agree on
    the wrong answer)."""
    import glob
    import math

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    nan = float("nan")
    # pyarrow-written: NaN in row group 0, stats exclude it
    pya = str(tmp_path / "pya.parquet")
    pq.write_table(
        pa.table({"k": list(range(8)),
                  "v": pa.array([nan, 1.0, 2.0, 3.0,
                                 10.0, 11.0, 12.0, 13.0], pa.float64())}),
        pya, row_group_size=4,
    )
    st = pq.ParquetFile(pya).metadata.row_group(0).column(1).statistics
    assert st.has_min_max and st.max == 3.0, (
        "pyarrow started writing NaN-aware stats — the doctrine in "
        "encodings.py needs rewriting (good news)"
    )

    orig = spark.conf.get("spark.sql.parquet.filterPushdown")
    try:
        spark.conf.set("spark.sql.parquet.filterPushdown", "true")
        pushed = sorted(
            r.k for r in spark.read.parquet(pya).where("v > 5.0").collect()
        )
        spark.conf.set("spark.sql.parquet.filterPushdown", "false")
        full = sorted(
            r.k for r in spark.read.parquet(pya).where("v > 5.0").collect()
        )
    finally:
        spark.conf.set("spark.sql.parquet.filterPushdown", orig)
    assert full == [0, 4, 5, 6, 7], "NaN must satisfy v > 5.0 (NaN greatest)"
    assert pushed == [4, 5, 6, 7], (
        "pushdown no longer drops the NaN row on pyarrow stats — "
        "doctrine needs rewriting (good news)"
    )
    # DuckDB prunes the same way on the same bytes (cross-engine
    # agreement on the wrong answer — why contract hashes never flip)
    con = duckdb.connect()
    assert con.execute(
        f"SELECT k FROM read_parquet('{pya}') WHERE v > 5.0 ORDER BY k"
    ).fetchall() == [(4,), (5,), (6,), (7,)]

    # Spark's own writer: NaN lands in max -> no wrong pruning
    sw = str(tmp_path / "spark_w")
    spark.createDataFrame(
        [(0, nan), (1, 1.0), (2, 2.0), (3, 3.0)], "k int, v double"
    ).coalesce(1).write.parquet(sw)
    f = glob.glob(f"{sw}/part-*.parquet")[0]
    st = pq.ParquetFile(f).metadata.row_group(0).column(1).statistics
    assert st.has_min_max and math.isnan(st.max)
    assert sorted(
        r.k for r in spark.read.parquet(sw).where("v > 5.0").collect()
    ) == [0]

    # DuckDB's writer: omits min/max entirely for NaN chunks -> safe
    dw = str(tmp_path / "duck_w.parquet")
    con.execute(
        f"COPY (SELECT * FROM (VALUES (0, 'nan'::DOUBLE), (1, 1.0), "
        f"(2, 2.0), (3, 3.0)) t(k, v)) TO '{dw}' (FORMAT PARQUET)"
    )
    st = pq.ParquetFile(dw).metadata.row_group(0).column(1).statistics
    assert st is None or not st.has_min_max
    assert sorted(
        r.k for r in spark.read.parquet(dw).where("v > 5.0").collect()
    ) == [0]


def test_timestamp_annotation_drift_resolves_tz_aware(spark, tmp_path):
    """r17 annotation drift: naive (pandas/pyarrow) beside UTC-adjusted
    (Spark-writer) timestamp generations of one column. The int64
    ticks are identical — only isAdjustedToUTC differs — and a plain
    Spark read resolves the column TYPE by footer-sampling luck (NTZ
    or LTZ; never wrong ticks). The merge lattice resolves to tz-aware
    (naive-as-UTC), which reads both generations' ticks as the same
    UTC instants — matching DuckDB's union_by_name TIMESTAMPTZ choice,
    pinned by epoch equality."""
    import datetime

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from catena_spark.sources import encodings

    m = tmp_path / "mix.parquet"
    m.mkdir()
    pq.write_table(
        pa.table({
            "k": pa.array([0], pa.int64()),
            "t": pa.array([datetime.datetime(2024, 1, 1, 12, 0, 0)],
                          pa.timestamp("us")),
        }),
        str(m / "part-0000.parquet"),
    )
    pq.write_table(
        pa.table({
            "k": pa.array([1], pa.int64()),
            "t": pa.array([datetime.datetime(2024, 1, 1, 18, 30, 0)],
                          pa.timestamp("us", tz="UTC")),
        }),
        str(m / "part-0001.parquet"),
    )
    ms = encodings.merged_drifted_schema(str(m))
    assert ms.field("t").type == pa.timestamp("us", "UTC")
    got = sorted(
        (r.k, r.u)
        for r in encodings.read_drifted(spark, str(m))
        .selectExpr("k", "unix_timestamp(t) AS u")
        .collect()
    )
    want = [(0, 1704110400), (1, 1704133800)]  # both ticks read as UTC
    assert got == want
    con = duckdb.connect()
    assert sorted(
        (k, int(e))
        for k, e in con.execute(
            f"SELECT k, epoch(t) FROM read_parquet('{m}/*.parquet', "
            "union_by_name=true)"
        ).fetchall()
    ) == want
    # plain Spark read: type decided by footer luck, ticks never wrong
    plain = spark.read.parquet(str(m))
    assert dict(plain.dtypes)["t"] in ("timestamp", "timestamp_ntz")
    assert sorted(
        (r.k, r.u)
        for r in plain.selectExpr(
            "k",
            "unix_timestamp(CAST(t AS TIMESTAMP)) AS u",
        ).collect()
    ) == want


def _fid(name, typ, i):
    import pyarrow as pa

    return pa.field(
        name, typ, metadata={b"PARQUET:field_id": str(i).encode()}
    )


def test_rename_drift_heals_by_field_id(spark, tmp_path, caplog):
    """Rename drift (r17, doctrine class 3 in encodings.py): gen A
    writes ``price`` under parquet field id 2, gen B — after an
    Iceberg/Delta-style rename — writes ``unit_price`` under the SAME
    id. Cells:
    1. the hazard: a plain name-based read surfaces BOTH names, each
       NULL for the other generation's rows (on-disk data silently
       reads as NULL);
    2. read_drifted heals by field id: ONE canonical column, every
       generation's values, zero nulls — and composes with the widen
       lattice when the renamed generation also widened the column;
    3. canonical name = majority-of-files (tie -> first sighting in
       sorted-file order);
    4. a rename collision where some generation lacks field ids
       refuses loud (id-healing on a partially-stamped directory
       would silently NULL id-less sightings);
    5. no collision => no id metadata, and the fieldId session conf
       is never touched (default-path safety)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from catena_spark.sources import encodings

    d = tmp_path / "ren.parquet"
    d.mkdir()
    genA = pa.table(
        {"k": pa.array([1, 2, 3], pa.int64()),
         "price": pa.array([10, 20, 30], pa.int32())},
        schema=pa.schema(
            [_fid("k", pa.int64(), 1), _fid("price", pa.int32(), 2)]
        ),
    )
    # the renamed generation ALSO widened the column (renames ride
    # schema evolutions in real lakes) — the alias types must merge
    # through the same lattice
    genB = pa.table(
        {"k": pa.array([4, 5], pa.int64()),
         "unit_price": pa.array([40, 50], pa.int64())},
        schema=pa.schema(
            [_fid("k", pa.int64(), 1), _fid("unit_price", pa.int64(), 2)]
        ),
    )
    pq.write_table(genA, str(d / "part-0000.parquet"))
    pq.write_table(genB, str(d / "part-0001.parquet"))

    # cell 1 — the hazard. A PLAIN read resolves by footer-sampling
    # luck: whichever generation's footer wins, the OTHER name's data
    # silently vanishes (here: 'unit_price' never surfaces, rows 4-5
    # read NULL). mergeSchema pins the deterministic variant — both
    # names surface, each NULL for the other generation's rows. Either
    # way: on-disk data reads as NULL with no error.
    plain = spark.read.parquet(str(d))
    assert set(plain.columns) < {"k", "price", "unit_price"}
    merged = spark.read.option("mergeSchema", "true").parquet(str(d))
    assert sorted(merged.columns) == ["k", "price", "unit_price"]
    rows = {r.k: (r.price, r.unit_price) for r in merged.collect()}
    assert rows[1] == (10, None) and rows[4] == (None, 40)

    # cell 2/3 — healed: canonical name 'price' (tie at one file each
    # -> first sighting in sorted order), widened to bigint, no nulls
    with _catena_log(caplog, match="rename drift healed.*id 2"):
        df = encodings.read_drifted(spark, str(d))
    assert df.columns == ["k", "price"]
    assert dict(df.dtypes)["price"] == "bigint"
    assert sorted((r.k, r.price) for r in df.collect()) == [
        (1, 10), (2, 20), (3, 30), (4, 40), (5, 50)
    ]

    # cell 3b — majority beats sighting order: a third file under the
    # NEW name makes 'unit_price' canonical
    pq.write_table(genB, str(d / "part-0002.parquet"))
    with _catena_log(caplog, match="rename drift healed"):
        sch = encodings.merged_drifted_schema(str(d))
    assert sch.names == ["k", "unit_price"]

    # cell 4 — a partially-stamped directory refuses loud
    mixed = tmp_path / "mixed.parquet"
    mixed.mkdir()
    pq.write_table(genA, str(mixed / "part-0000.parquet"))
    noid = pa.table(
        {"k": pa.array([9], pa.int64()),
         "unit_price": pa.array([90], pa.int64())}
    )
    pq.write_table(genB, str(mixed / "part-0001.parquet"))
    pq.write_table(noid, str(mixed / "part-0002.parquet"))
    with pytest.raises(ValueError, match="rename drift detected.*field ids"):
        encodings.merged_drifted_schema(str(mixed))

    # cell 5 — ids present, no collision: plain name-based path, conf
    # untouched (read_drifted's zero-behavior-change claim holds even
    # on an id-stamped Iceberg-style directory)
    spark.conf.unset("spark.sql.parquet.fieldId.read.enabled")
    clean = tmp_path / "clean.parquet"
    clean.mkdir()
    pq.write_table(genA, str(clean / "part-0000.parquet"))
    df = encodings.read_drifted(spark, str(clean))
    assert [f.metadata for f in df.schema.fields] == [{}, {}]
    assert (
        spark.conf.get(
            "spark.sql.parquet.fieldId.read.enabled", "false"
        )
        == "false"
    )


def test_drop_recreate_same_name_different_ids_fails_loud(spark, tmp_path):
    """Doctrine class 4 (r17): the same NAME under two distinct field
    ids is a dropped-and-recreated column — semantically TWO columns. A
    name-based read silently MERGES them (the silent wrong-VALUES shape,
    pinned here as the hazard); no single read schema is correct for
    both generations, so the merge lattice must refuse loud."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from catena_spark.sources import encodings

    d = tmp_path / "dr.parquet"
    d.mkdir()
    old = pa.table(
        {"k": pa.array([1, 2], pa.int64()),
         "score": pa.array([0.1, 0.2], pa.float64())},
        schema=pa.schema(
            [_fid("k", pa.int64(), 1), _fid("score", pa.float64(), 2)]
        ),
    )
    new = pa.table(
        {"k": pa.array([3, 4], pa.int64()),
         "score": pa.array([9.9, 8.8], pa.float64())},
        schema=pa.schema(
            [_fid("k", pa.int64(), 1), _fid("score", pa.float64(), 7)]
        ),
    )
    pq.write_table(old, str(d / "part-0000.parquet"))
    pq.write_table(new, str(d / "part-0001.parquet"))

    # the hazard: a plain read happily merges both generations' values
    # into one column — nothing distinguishes old 'score' cells from
    # recreated ones
    assert sorted(
        (r.k, r.score) for r in spark.read.parquet(str(d)).collect()
    ) == [(1, 0.1), (2, 0.2), (3, 9.9), (4, 8.8)]

    with pytest.raises(
        ValueError, match="drift on column 'score'.*field ids \\[2, 7\\]"
    ):
        encodings.merged_drifted_schema(str(d))


def test_exotic_logical_types_matrix(spark, tmp_path):
    """Exotic-logical-type sightings (r17): parquet types a lake's
    foreign partitions can carry, pinned per engine (value reads, never
    count — the count-trap doctrine). The headline is the program's
    first SILENT WRONG-VALUES oracle cell: DuckDB reads
    DECIMAL256(p>38) as DOUBLE with garbage values while Spark refuses
    loud — so an oracle over such bytes lies silently. Full matrix in
    the encodings.py doctrine block; rewrite-before-ingest is the
    mitigation for every non-exact row."""
    import datetime
    from decimal import Decimal

    import duckdb
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    def w(name, arr, typ):
        p = str(tmp_path / f"{name}.parquet")
        pq.write_table(
            pa.table(
                {"k": pa.array([1, 2], pa.int64()),
                 "v": pa.array(arr, typ)}
            ),
            p,
        )
        return p

    def spark_read(p):
        try:
            df = spark.read.parquet(p)
            return ("OK", dict(df.dtypes)["v"],
                    [r.v for r in df.orderBy("k").collect()])
        except Exception as ex:
            return ("LOUD", str(ex))

    def duck_read(p):
        con = duckdb.connect()
        try:
            rows = con.execute(
                f"SELECT v FROM read_parquet('{p}') ORDER BY k"
            ).fetchall()
            ty = con.execute(
                f"SELECT typeof(v) FROM read_parquet('{p}') LIMIT 1"
            ).fetchone()[0]
            return ("OK", ty, [r[0] for r in rows])
        except Exception as ex:
            return ("LOUD", str(ex))
        finally:
            con.close()

    # DECIMAL256 precision>38: Spark LOUD; DuckDB SILENTLY decodes to
    # DOUBLE with WRONG values (the only silent-wrong-values cell on
    # either engine across the whole foreign-bytes program)
    big = Decimal("123456789012345678901234567890.1234567890")
    p = w("d50", [big, Decimal("-1.5")], pa.decimal256(50, 10))
    st = spark_read(p)
    assert st[0] == "LOUD" and "PRECISION_EXCEEDS_MAX_PRECISION" in st[1]
    dk = duck_read(p)
    assert dk[0] == "OK" and dk[1] == "DOUBLE"
    assert abs(dk[2][0] - float(big)) > 1e30 and dk[2][1] != -1.5

    # DECIMAL256 precision<=38: EXACT on both engines (the FLBA width
    # alone is harmless; only p>38 is the hazard)
    ok = Decimal("1234567890123456789012345.12345")
    p = w("d30", [ok, Decimal("-2.5")], pa.decimal256(30, 5))
    st, dk = spark_read(p), duck_read(p)
    assert st[0] == "OK" and st[1] == "decimal(30,5)" and st[2][0] == ok
    assert dk[0] == "OK" and dk[1] == "DECIMAL(30,5)" and dk[2][0] == ok

    # FLOAT16 (FLBA2, ML-pipeline embeddings): Spark LOUD; DuckDB
    # silently surfaces raw BYTES as BLOB — silent wrong-TYPE
    p = w("f16", [np.float16(1.5), np.float16(-0.25)], pa.float16())
    st = spark_read(p)
    assert st[0] == "LOUD" and "PARQUET_TYPE_ILLEGAL" in st[1]
    dk = duck_read(p)
    assert dk[0] == "OK" and dk[1] == "BLOB" and dk[2][0] == b"\x00>"

    # TIME: Spark 4.1.2's parquet reader rejects TIME(MICROS|MILLIS)
    # loud even though TimeType exists in its API; DuckDB decodes the
    # micros flavor exactly (TIMETZ — pyarrow stamps isAdjustedToUTC)
    # and dies on an internal stats bug for millis. Never silent.
    p = w("t64", [datetime.time(23, 59, 59, 123456),
                  datetime.time(0, 0, 1)], pa.time64("us"))
    st = spark_read(p)
    assert st[0] == "LOUD" and "PARQUET_TYPE_ILLEGAL" in st[1]
    dk = duck_read(p)
    assert dk[0] == "OK" and dk[2][0].replace(tzinfo=None) == (
        datetime.time(23, 59, 59, 123456)
    )
    p = w("t32", [datetime.time(12, 30, 15)] * 2, pa.time32("ms"))
    assert spark_read(p)[0] == "LOUD"
    assert duck_read(p)[0] == "LOUD"

    # arrow duration: parquet has NO logical type for it — both engines
    # agree on the raw INT64 ticks (unit context lives only in arrow
    # metadata; value-consistent, unit-blind)
    p = w("dur", [datetime.timedelta(seconds=90),
                  datetime.timedelta(days=1)], pa.duration("us"))
    st, dk = spark_read(p), duck_read(p)
    assert st[0] == "OK" and st[2] == [90000000, 86400000000]
    assert dk[0] == "OK" and dk[2] == [90000000, 86400000000]

    # arrow null type: both engines surface an all-NULL int column
    p = w("nul", [None, None], pa.null())
    st, dk = spark_read(p), duck_read(p)
    assert st[0] == "OK" and st[2] == [None, None]
    assert dk[0] == "OK" and dk[2] == [None, None]


def test_partial_write_leftovers_matrix(spark, tmp_path):
    """Failed-write leftovers (r17): the two shapes a crashed writer
    leaves in a directory. (a) ZERO-BYTE part-file: Spark silently
    SKIPS it — every real row still reads correctly — while DuckDB
    fails loud on the whole glob (engine asymmetry: a DuckDB oracle
    dies on a directory Spark serves fine; values never wrong).
    (b) TRUNCATED part-file (tail cut mid-footer): LOUD on both
    engines, and — unlike the brotli/plaintext-footer-encryption
    count-trap — even count(*) fails, because the footer itself is
    unreadable."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    import os

    t = pa.table(
        {"k": pa.array(range(100), pa.int64()),
         "v": pa.array([float(i) for i in range(100)])}
    )
    for name in ("zero", "trunc"):
        d = tmp_path / f"{name}.parquet"
        d.mkdir()
        pq.write_table(t.slice(0, 50), str(d / "part-0000.parquet"))
        pq.write_table(t.slice(50, 50), str(d / "part-0001.parquet"))

    z = tmp_path / "zero.parquet"
    (z / "part-0002.parquet").write_bytes(b"")
    df = spark.read.parquet(str(z))
    assert df.count() == 100  # zero-byte file silently skipped
    assert sorted(r.k for r in df.collect()) == list(range(100))
    con = duckdb.connect()
    with pytest.raises(Exception, match="too small to be a Parquet"):
        con.execute(
            f"SELECT count(*) FROM read_parquet('{z}/*.parquet')"
        ).fetchall()

    tr = tmp_path / "trunc.parquet"
    p = str(tr / "part-0001.parquet")
    with open(p, "r+b") as f:
        f.truncate(os.path.getsize(p) - 37)
    # count(*) AND value reads both loud on both engines
    with pytest.raises(Exception, match="magic number|Parquet"):
        spark.read.parquet(str(tr)).count()
    with pytest.raises(Exception, match="No magic bytes"):
        con.execute(
            f"SELECT count(*) FROM read_parquet('{tr}/*.parquet')"
        ).fetchall()
    con.close()


def test_binstr_annotation_drift(spark, tmp_path):
    """String-annotation drift (r17, doctrine class 5): ancient writers
    wrote textual BYTE_ARRAY without the UTF8/STRING annotation — the
    legacy shape behind spark.sql.parquet.binaryAsString and DuckDB's
    read_parquet(binary_as_string). Cells:
    1. plain read: column TYPE decided by footer-sampling luck (string
       or binary — bytes never wrong, type nondeterministic);
    2. read_drifted resolves the mix to STRING deterministically,
       values exact;
    3. DuckDB union_by_name is loud on the mix and exact under
       binary_as_string=true — the same verdict;
    4. invalid-UTF-8 bytes under the string resolution: byte-faithful
       on Spark (rendering lossy, cast back returns the exact bytes),
       LOUD on DuckDB — never silently wrong on either engine."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql import functions as F

    from catena_spark.sources import encodings

    gs = pa.table(
        {"k": pa.array([1, 2], pa.int64()),
         "s": pa.array(["alpha", "béta"], pa.string())}
    )
    gb = pa.table(
        {"k": pa.array([3, 4], pa.int64()),
         "s": pa.array([b"gamma", "délta".encode()], pa.binary())}
    )
    sfirst = tmp_path / "sfirst.parquet"
    bfirst = tmp_path / "bfirst.parquet"
    for d, order in ((sfirst, (gs, gb)), (bfirst, (gb, gs))):
        d.mkdir()
        pq.write_table(order[0], str(d / "part-0000.parquet"))
        pq.write_table(order[1], str(d / "part-0001.parquet"))

    # cell 1 — footer luck decides the TYPE; values byte-correct both ways
    assert dict(spark.read.parquet(str(sfirst)).dtypes)["s"] == "string"
    assert dict(spark.read.parquet(str(bfirst)).dtypes)["s"] == "binary"

    # cell 2 — deterministic resolution to string, both sighting orders
    want = [(1, "alpha"), (2, "béta"), (3, "gamma"), (4, "délta")]
    for d in (sfirst, bfirst):
        df = encodings.read_drifted(spark, str(d))
        assert dict(df.dtypes)["s"] == "string"
        assert sorted((r.k, r.s) for r in df.collect()) == want

    # cell 3 — DuckDB: loud on the mix, exact under the legacy knob
    con = duckdb.connect()
    with pytest.raises(Exception, match="VARCHAR|BLOB|cast"):
        con.execute(
            f"SELECT k, s FROM read_parquet('{sfirst}/*.parquet', "
            "union_by_name=true) ORDER BY k"
        ).fetchall()
    got = con.execute(
        f"SELECT k, s FROM read_parquet('{sfirst}/*.parquet', "
        "union_by_name=true, binary_as_string=true) ORDER BY k"
    ).fetchall()
    assert got == want

    # cell 4 — invalid UTF-8 under the string resolution
    bad = tmp_path / "bad.parquet"
    bad.mkdir()
    pq.write_table(gs.slice(0, 1), str(bad / "part-0000.parquet"))
    pq.write_table(
        pa.table(
            {"k": pa.array([9], pa.int64()),
             "s": pa.array([b"\xff\xfe\x00raw"], pa.binary())}
        ),
        str(bad / "part-0001.parquet"),
    )
    rt = encodings.read_drifted(spark, str(bad)).select(
        "k", F.col("s").cast("binary").alias("b")
    )
    assert sorted((r.k, bytes(r.b)) for r in rt.collect()) == [
        (1, b"alpha"), (9, b"\xff\xfe\x00raw")
    ]
    with pytest.raises(Exception, match="not valid UTF8"):
        con.execute(
            f"SELECT s FROM read_parquet('{bad}/*.parquet', "
            "union_by_name=true, binary_as_string=true)"
        ).fetchall()
    con.close()


def test_struct_member_evolution_drift(spark, tmp_path):
    """Struct-member evolution (r17, doctrine class 6): a field added
    inside a struct column across generations, with a member widening
    in the same step — the event-payload drift. Cells:
    1. plain Spark read: footer luck (fail-loud mismatch or the
       sampled generation's shape) — never wrong values;
    2. read_drifted pins the superset struct: missing member NULL,
       int32 pages widened under the bigint member, members resolved
       by NAME — exact on the same bytes;
    3. DuckDB is LOUD even under union_by_name (no healing knob —
       parity over evolved structs needs the struct exploded first);
    4. struct vs non-struct stays irreconcilable-loud."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from catena_spark.sources import encodings

    d = tmp_path / "evo.parquet"
    d.mkdir()
    old = pa.table(
        {"k": pa.array([1, 2], pa.int64()),
         "p": pa.array([{"a": 10}, {"a": 20}],
                       pa.struct([("a", pa.int32())]))}
    )
    new = pa.table(
        {"k": pa.array([3, 4], pa.int64()),
         "p": pa.array([{"a": 30, "b": "x"}, {"a": 40, "b": "y"}],
                       pa.struct([("a", pa.int64()), ("b", pa.string())]))}
    )
    pq.write_table(old, str(d / "part-0000.parquet"))
    pq.write_table(new, str(d / "part-0001.parquet"))

    # cell 1 — loud, or exactly the sampled generation's shape
    try:
        rows = spark.read.parquet(str(d)).collect()
        assert {r.k for r in rows} == {1, 2, 3, 4}
    except Exception as e:
        assert "MISMATCH" in str(e) or "ConvertNotSupported" in str(e)

    # cell 2 — superset struct, exact on the drifted bytes
    sch = encodings.merged_drifted_schema(str(d))
    assert sch.field("p").type == pa.struct(
        [("a", pa.int64()), ("b", pa.string())]
    )
    df = encodings.read_drifted(spark, str(d))
    assert dict(df.dtypes)["p"] == "struct<a:bigint,b:string>"
    got = sorted(
        (r.k, r.p.a, r.p.b) for r in df.collect()
    )
    assert got == [(1, 10, None), (2, 20, None),
                   (3, 30, "x"), (4, 40, "y")]

    # cell 3 — the oracle engine has no healing knob for this class
    con = duckdb.connect()
    with pytest.raises(Exception, match="STRUCT"):
        con.execute(
            f"SELECT p FROM read_parquet('{d}/*.parquet', "
            "union_by_name=true)"
        ).fetchall()
    con.close()

    # cell 4 — struct vs scalar refuses loud
    bad = tmp_path / "bad.parquet"
    bad.mkdir()
    pq.write_table(old, str(bad / "part-0000.parquet"))
    pq.write_table(
        pa.table({"k": pa.array([9], pa.int64()),
                  "p": pa.array([1.5], pa.float64())}),
        str(bad / "part-0001.parquet"),
    )
    with pytest.raises(ValueError, match="irreconcilable.*'p'"):
        encodings.merged_drifted_schema(str(bad))


def test_map_value_widening_drift(spark, tmp_path):
    """Map-generation widening (r17): map<string,int32> part-files
    beside map<string,int64> ones. The lattice widens through the
    key/value types; Spark decodes the widened map schema exactly on
    the drifted bytes, and a key/value family clash refuses loud."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from catena_spark.sources import encodings

    d = tmp_path / "map.parquet"
    d.mkdir()
    pq.write_table(
        pa.table({"k": pa.array([1, 2], pa.int64()),
                  "m": pa.array([{"x": 1}, {"y": 2}],
                                pa.map_(pa.string(), pa.int32()))}),
        str(d / "part-0000.parquet"),
    )
    pq.write_table(
        pa.table({"k": pa.array([3, 4], pa.int64()),
                  "m": pa.array([{"z": 3}, {"w": 4}],
                                pa.map_(pa.string(), pa.int64()))}),
        str(d / "part-0001.parquet"),
    )
    sch = encodings.merged_drifted_schema(str(d))
    assert sch.field("m").type.equals(pa.map_(pa.string(), pa.int64()))
    df = encodings.read_drifted(spark, str(d))
    assert dict(df.dtypes)["m"] == "map<string,bigint>"
    assert sorted(
        (r.k, dict(r.m)) for r in df.collect()
    ) == [(1, {"x": 1}), (2, {"y": 2}), (3, {"z": 3}), (4, {"w": 4})]

    bad = tmp_path / "bad.parquet"
    bad.mkdir()
    pq.write_table(
        pa.table({"m": pa.array([{"x": 1}],
                                pa.map_(pa.string(), pa.int32()))}),
        str(bad / "part-0000.parquet"),
    )
    pq.write_table(
        pa.table({"m": pa.array([{"x": "s"}],
                                pa.map_(pa.string(), pa.string()))}),
        str(bad / "part-0001.parquet"),
    )
    with pytest.raises(ValueError, match="irreconcilable.*key_value.value"):
        encodings.merged_drifted_schema(str(bad))


def _jobs_run_by(spark, fn) -> int:
    """Number of Spark jobs ``fn()`` starts. The status tracker is fed
    asynchronously, so a marker job in a second group is awaited first:
    once it is visible, every job started before it is too."""
    import time
    import uuid

    sc = spark.sparkContext
    group, marker = (f"catena-test-{uuid.uuid4().hex}" for _ in range(2))
    try:
        sc.setJobGroup(group, group)
        fn()
        sc.setJobGroup(marker, marker)
        spark.range(1).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    deadline = time.monotonic() + 60
    while not sc.statusTracker().getJobIdsForGroup(marker):
        assert time.monotonic() < deadline, "marker job never reported"
        time.sleep(0.05)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _row_hash(df) -> str:
    """Order-insensitive value hash, as in drive_contract.py's value_hash."""
    import hashlib

    from catena_spark.parity import norm_cell

    h = hashlib.sha256()
    for line in sorted("\x01".join(map(norm_cell, r)) for r in df.collect()):
        h.update(line.encode() + b"\n")
    return h.hexdigest()


def test_load_schema_cache_is_result_identical(spark):
    """tables.load infers a table's schema once: the second load of every
    table in tables.TABLES starts no Spark job (the inference job is
    skipped) and returns the same dtypes and rows as the inferring first
    load."""
    import os

    for t in tables.TABLES:
        path = os.path.abspath(tables.parquet_path(SF_SMALL, t))
        tables._SCHEMA_CACHE.pop(path, None)
        dfs = []
        load = lambda: dfs.append(tables.load(spark, SF_SMALL, t))  # noqa: E731
        assert _jobs_run_by(spark, load) > 0, f"{t}: first load did not infer"
        assert _jobs_run_by(spark, load) == 0, f"{t}: second load re-inferred"
        first, second = dfs
        assert second.dtypes == first.dtypes, t
        assert _row_hash(second) == _row_hash(first), t


def test_load_rewritten_file_reinfers_schema(spark, tmp_path):
    """A table rewritten under the same path with an added column loads
    with the new schema: for a single-file table, and for a part file
    rewritten inside a directory whose own mtime is unchanged."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    sf = str(tmp_path)
    single = tmp_path / "t1.parquet"
    pq.write_table(pa.table({"k": [1, 2]}), str(single))
    d = tmp_path / "t2.parquet"
    d.mkdir()
    (d / "_SUCCESS").touch()
    pq.write_table(pa.table({"k": [1, 2]}), str(d / "part-0.parquet"))

    for name in ("t1", "t2"):
        assert tables.load(spark, sf, name).columns == ["k"]
        assert tables.load(spark, sf, name).columns == ["k"]  # cached
    pq.write_table(pa.table({"k": [3], "extra": ["x"]}), str(single))
    dir_stat = os.stat(d)
    pq.write_table(pa.table({"k": [3], "extra": ["x"]}), str(d / "part-0.parquet"))
    os.utime(d, ns=(dir_stat.st_atime_ns, dir_stat.st_mtime_ns))
    for name in ("t1", "t2"):
        df = tables.load(spark, sf, name)
        assert df.columns == ["k", "extra"], name
        assert [tuple(r) for r in df.collect()] == [(3, "x")], name
    assert len(
        [p for p in tables._SCHEMA_CACHE if p.startswith(sf + os.sep)]
    ) == 2, "one cache entry per path"


def test_load_drift_safe_bypasses_schema_cache(spark, tmp_path, monkeypatch):
    """With a plain-load entry cached for a two-generation directory,
    CATENA_SCHEMA_DRIFT_SAFE=1 still returns read_drifted's superset
    schema (the older part lacks ``extra``), not the cached one."""
    from catena_spark.sources import encodings

    _, md = _write_drift_fixtures(tmp_path)
    tables.load(spark, str(tmp_path), "missing")
    monkeypatch.setenv("CATENA_SCHEMA_DRIFT_SAFE", "1")
    df = tables.load(spark, str(tmp_path), "missing")
    assert df.schema == encodings.read_drifted(spark, md).schema
    assert df.columns == ["k", "extra"]


def test_stream_events_sees_rewritten_events_schema(spark, tmp_path):
    """The streaming events reader takes its schema from tables' cache,
    keyed on the file's version: after events.parquet is rewritten with
    an added column, the next stream read carries it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from catena_spark.streaming.ops import _stream_events

    ev = pq.read_table(f"{SF_SMALL}/events.parquet")
    path = str(tmp_path / "events.parquet")
    pq.write_table(ev, path)
    before = _stream_events(spark, str(tmp_path))
    assert before.isStreaming and "extra" not in before.columns
    pq.write_table(ev.append_column("extra", pa.array(["x"] * ev.num_rows)), path)
    after = _stream_events(spark, str(tmp_path))
    assert after.columns == before.columns + ["extra"]
    assert dict(after.dtypes)["ts"] == "timestamp"


def test_package_ship_failure_logs_once(spark, monkeypatch, caplog):
    """A failed package ship is not fatal (our own sessions import the
    package from cwd) but is logged on the catena_spark logger, once per
    process although every load retries the ship."""
    import logging

    from catena_spark import session

    def fail(_spark):
        raise OSError("no space left for the package zip")

    monkeypatch.setattr(session, "_ship_package", fail)
    monkeypatch.setattr(session, "_ship_failure_logged", False)
    with caplog.at_level(logging.WARNING, logger="catena_spark"):
        tables.load(spark, SF_SMALL, "region")
        tables.load(spark, SF_SMALL, "nation")
    records = [r for r in caplog.records if r.name == "catena_spark"]
    assert len(records) == 1
    assert records[0].levelno == logging.WARNING
    assert "OSError: no space left for the package zip" in records[0].getMessage()


def test_refused_runtime_conf_logs_once_per_key(spark, monkeypatch, caplog):
    """A runtime conf key the session refuses (here a static SQL conf)
    is not fatal, but is logged on the catena_spark logger once per
    process, naming the key; the other keys are still applied."""
    import logging

    from catena_spark import session

    key = "spark.sql.catalogImplementation"
    monkeypatch.setitem(session._RUNTIME_CONF, key, "hive")
    monkeypatch.setattr(session, "_refused_logged", set())
    with caplog.at_level(logging.WARNING, logger="catena_spark"):
        session.ensure_runtime_conf(spark)
        session.ensure_runtime_conf(spark)
    records = [r for r in caplog.records if r.name == "catena_spark"]
    assert len(records) == 1
    assert key in records[0].getMessage()
    assert spark.conf.get(key) != "hive"
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
