"""Streaming transformations (SURVEY.md §2-F2..F5). Every function takes
a (possibly streaming) events-schema DataFrame and returns a transformed
DataFrame — the same code path serves batch DataFrames, which is how the
parity tests compare micro-batched results against batch ground truth
(SURVEY.md §5 item 5).

Late-data contract (F1): callers attach ``withWatermark`` before the
stateful ops here; rows older than the watermark are dropped by the
state store exactly as catena rejects writes into rotated-out partitions
[SURVEY.md §1.1 — R db.go].
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..parity import ts_str


def windowed_counts(events: DataFrame, width: str = "6 hours") -> DataFrame:
    """F2 tumbling windows: per (window, event_type) count + value sum.

    Parity (r5): the sum runs in exact integer CENTS (value is
    2-decimal-exact) so state-store accumulation order — which differs
    from both batch Spark and DuckDB — can never flip a rounding tie;
    one final division yields the bit-identical double."""
    cents = F.round(F.col("value") * 100, 0).cast("long")
    return (
        events.groupBy(F.window("ts", width), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(cents).cast("double") / F.lit(100.0)).alias("sum_v"),
        )
        .select(
            ts_str("window.start").alias("win_start"),
            "event_type",
            "n",
            "sum_v",
        )
    )


def sliding_avg(events: DataFrame, width: str = "2 hours", slide: str = "1 hour") -> DataFrame:
    """F2 sliding windows: overlapping per-type averages (exact integer
    cents / (100*n) — order-free, r5; see windowed_counts)."""
    cents = F.round(F.col("value") * 100, 0).cast("long")
    cnt = F.count(F.lit(1))
    return (
        events.groupBy(F.window("ts", width, slide), "event_type")
        .agg(
            (F.sum(cents).cast("double") / (cnt * 100).cast("double")).alias(
                "avg_v"
            ),
            cnt.alias("n"),
        )
        .select(
            ts_str("window.start").alias("win_start"),
            "event_type",
            "avg_v",
            "n",
        )
    )


def session_counts(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """F3 session windows: gap-based sessions per user — the built-in
    twin of operators/timeseries.ts_sessionize_30m (C9); parity between
    the two is asserted in tests/test_streaming.py."""
    return (
        events.groupBy(F.session_window("ts", gap), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_micros("session_window.start").alias("start_us"),
            F.unix_micros("session_window.end").alias("end_us"),
            "n_events",
        )
    )


def dedup_within_watermark(events: DataFrame) -> DataFrame:
    """F4 streaming dedup on event_id. State is bounded by the watermark
    (dropDuplicatesWithinWatermark), so at 100 TB/day the dedup store
    holds only the watermark horizon, not all history."""
    return events.dropDuplicatesWithinWatermark(["event_id"])


#: output/state schemas for streaming_ewma
_EWMA_OUT = "user_id bigint, event_type string, ts_us bigint, value double, ewma double"
_EWMA_STATE = "ewma double"

#: output/state schemas for streaming_ewma_replay (batch-count-invariant)
_EWMA_REPLAY_OUT = (
    "user_id bigint, event_type string, ts_us bigint, value double, "
    "ewma double, emit_n bigint"
)
_EWMA_REPLAY_STATE = "ts array<bigint>, vals array<double>"


def streaming_ewma(events: DataFrame, alpha: float = 0.3) -> DataFrame:
    """F5 custom stateful aggregation: per-series EWMA carried across
    micro-batches via applyInPandasWithState — state is one (ewma, n)
    pair per series, the minimal catena-like 'hot series' register.

    Batch twin: operators/timeseries.ts_ewma (C7); with time-ordered
    input files the streamed final EWMA equals the batch EWMA
    (tests/test_streaming.py::test_streaming_ewma_matches_batch).
    """

    def fold(key, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        (ewma,) = state.get if state.exists else (None,)
        # concat BEFORE sorting: a group larger than the Arrow batch size
        # arrives as multiple chunks, and per-chunk sorts would fold
        # later-chunk earlier-timestamps out of order — the whole batch's
        # group must be ordered as one sequence (memory is O(group),
        # same bound as the batch applyInPandas twin)
        pdf = pd.concat(list(pdfs), ignore_index=True)
        pdf = pdf.sort_values(["ts_us", "value"])
        out = []
        for r in pdf.itertuples(index=False):
            ewma = r.value if ewma is None else alpha * r.value + (1 - alpha) * ewma
            out.append((key[0], key[1], r.ts_us, r.value, ewma))
        state.update((ewma,))
        yield pd.DataFrame(
            out, columns=["user_id", "event_type", "ts_us", "value", "ewma"]
        )

    # project the minimal columns through Arrow (self-review r5: the
    # raw ts column was dead weight in the fold; with NoTimeout no
    # event-time column is needed past this select)
    src = events.select(
        "user_id", "event_type", F.unix_micros("ts").alias("ts_us"), "value"
    )
    return src.groupBy("user_id", "event_type").applyInPandasWithState(
        fold, _EWMA_OUT, _EWMA_STATE, "append", GroupStateTimeout.NoTimeout
    )


def streaming_ewma_replay(events: DataFrame, alpha: float = 0.3) -> DataFrame:
    """Batch-count-INVARIANT EWMA fold (VERDICT r4 item 3): the fallback
    for stream_live_ewma_state when the events fixture is not a single
    parquet file, i.e. when AvailableNow delivers multiple micro-batches
    whose timestamps may interleave across batch boundaries.

    State holds the series' full (ts_us, value) history; each batch
    merges its rows, re-sorts globally, and re-emits the COMPLETE
    trajectory tagged with emit_n = |history|. Because emit_n strictly
    grows per invocation, the reader (finalize_ewma_replay) keeps only
    each series' final emission — which is by construction the fold over
    the globally (ts_us, value)-sorted history, identical to the DuckDB
    recursive-CTE oracle regardless of how the input was batched.

    Scale note: O(series-history) state + per-batch re-emission is a
    CORRECTNESS fallback for bounded replays, not the hot path — a live
    100 TB feed uses streaming_ewma with watermark-ordered input, where
    state is O(1) per series.
    """

    def fold(key, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        if state.exists:
            ts_hist, v_hist = state.get
            hist = list(zip(ts_hist, v_hist))
        else:
            hist = []
        pdf = pd.concat(list(pdfs), ignore_index=True)
        hist.extend(
            zip((int(t) for t in pdf["ts_us"]), (float(v) for v in pdf["value"]))
        )
        # same total order as the oracle's ORDER BY ts_us, value
        hist.sort()
        state.update(([t for t, _ in hist], [v for _, v in hist]))
        ewma = None
        n = len(hist)
        out = []
        for ts_us, value in hist:
            ewma = value if ewma is None else alpha * value + (1 - alpha) * ewma
            out.append((key[0], key[1], ts_us, value, ewma, n))
        yield pd.DataFrame(
            out,
            columns=["user_id", "event_type", "ts_us", "value", "ewma", "emit_n"],
        )

    src = events.select(
        "user_id", "event_type", F.unix_micros("ts").alias("ts_us"), "value"
    )
    return src.groupBy("user_id", "event_type").applyInPandasWithState(
        fold, _EWMA_REPLAY_OUT, _EWMA_REPLAY_STATE, "append", GroupStateTimeout.NoTimeout
    )


def finalize_ewma_replay(sink: DataFrame) -> DataFrame:
    """Keep each series' final (largest emit_n) emission from the replay
    fold's append-mode sink — the globally-ordered full trajectory."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id", "event_type")
    return (
        sink.withColumn("_mx", F.max("emit_n").over(w))
        .where(F.col("emit_n") == F.col("_mx"))
        .select("user_id", "event_type", "ts_us", "value", "ewma")
    )


# ---------------------------------------------------------------- driver-checked batch twins
# The same callables above run unchanged on batch DataFrames; these
# registry entries hash-check that shared code path against DuckDB, so
# §2-F window semantics are oracle-verified, not just pytest-paritied
# (the streaming execution itself is covered by tests/test_streaming.py).

from .. import tables  # noqa: E402
from ..registry import query  # noqa: E402


@query(
    "stream_windowed_counts",
    "F2",
    oracle="""
    SELECT strftime(make_timestamp((epoch_us(ts) // 21600000000) * 21600000000),
                    '%Y-%m-%d %H:%M:%S') AS win_start,
           event_type, count(*) AS n,
           CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0
               AS sum_v
    FROM events GROUP BY 1, 2
    """,
)
def stream_windowed_counts(spark, sf_dir):
    """Tumbling 6h windows (F2) on the batch path. Spark's window()
    aligns tumbling buckets to the epoch, hence the epoch-floor oracle."""
    return windowed_counts(tables.load(spark, sf_dir, "events"))


@query(
    "stream_sliding_avg",
    "F2",
    oracle="""
    WITH cand AS (
        SELECT e.*, date_trunc('hour', e.ts) - INTERVAL (o.o) HOUR AS win_start
        FROM events e, (SELECT unnest(generate_series(0, 1)) AS o) o)
    SELECT strftime(win_start, '%Y-%m-%d %H:%M:%S') AS win_start,
           event_type,
           CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS DOUBLE)
               / CAST(100 * count(*) AS DOUBLE) AS avg_v,
           count(*) AS n
    FROM cand GROUP BY 1, 2
    """,
)
def stream_sliding_avg(spark, sf_dir):
    """Sliding 2h/1h windows (F2): every event lands in width/slide = 2
    overlapping buckets; the oracle materializes both window starts per
    event (hour-truncate minus 0/1 hour) and aggregates."""
    return sliding_avg(tables.load(spark, sf_dir, "events"))


@query(
    "stream_session_counts",
    "F3",
    oracle="""
    WITH flagged AS (
        SELECT user_id, epoch_us(ts) AS ts_us,
               CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                         OR epoch_us(ts) - lag(epoch_us(ts)) OVER w
                            >= 1800000000
                    THEN 1 ELSE 0 END AS is_new
        FROM events WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts))),
    sessions AS (
        SELECT user_id, ts_us,
               sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_us
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS sid
        FROM flagged)
    SELECT user_id, min(ts_us) AS start_us,
           max(ts_us) + 1800000000 AS end_us, count(*) AS n_events
    FROM sessions GROUP BY user_id, sid
    """,
)
def stream_session_counts(spark, sf_dir):
    """Gap-based session windows (F3) on the batch path.

    Semantics note vs the C9 sessionizer: ``session_window`` merges
    events whose gap is STRICTLY under the 30-minute duration (each
    event's [ts, ts+30m) half-open window must overlap the next), so the
    oracle's new-session rule is ``gap >= 30m`` — where C9's hand-rolled
    rule is ``gap > 30m``. Session end is last-event ts + gap duration.
    """
    return session_counts(tables.load(spark, sf_dir, "events"))


def static_enrich_counts(events: DataFrame, user_dim: DataFrame) -> DataFrame:
    """F2 depth — stream-static join: enrich a (possibly streaming)
    events frame with a STATIC user dimension, then windowed counts per
    tier. Stream-static joins need no state store (the static side is
    just a broadcast lookup per micro-batch), which is why this is the
    canonical way to attach dimensions to a stream at scale."""
    return (
        events.join(F.broadcast(user_dim), "user_id")
        .groupBy(F.window("ts", "6 hours"), "tier")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("sum_cents"),
        )
        .select(
            ts_str("window.start").alias("win_start"),
            "tier",
            "n",
            "sum_cents",
        )
    )


def user_tier_dim(events_batch: DataFrame) -> DataFrame:
    """Deterministic static user dimension: tier = user_id % 3 mapped to
    a name — a stand-in for any dimension table loaded once per job."""
    return (
        events_batch.select("user_id")
        .distinct()
        .withColumn(
            "tier",
            F.element_at(
                F.array(F.lit("bronze"), F.lit("silver"), F.lit("gold")),
                (F.col("user_id") % 3 + 1).cast("int"),
            ),
        )
    )


@query(
    "stream_static_enrich",
    "F2",
    oracle="""
    WITH dim AS (SELECT DISTINCT user_id,
                        ['bronze', 'silver', 'gold'][CAST(user_id % 3 AS INTEGER) + 1]
                            AS tier
                 FROM events)
    SELECT strftime(make_timestamp((epoch_us(e.ts) // 21600000000) * 21600000000),
                    '%Y-%m-%d %H:%M:%S') AS win_start,
           dim.tier,
           count(*) AS n,
           CAST(sum(CAST(round(e.value * 100, 0) AS BIGINT)) AS BIGINT)
               AS sum_cents
    FROM events e JOIN dim USING (user_id)
    GROUP BY 1, 2
    """,
)
def stream_static_enrich(spark, sf_dir):
    """Stream-static dimension enrichment (F2 depth) on the batch path;
    the streaming execution of the same function is parity-tested in
    tests/test_streaming.py::test_stream_static_enrich_matches_batch."""
    ev = tables.load(spark, sf_dir, "events")
    return static_enrich_counts(ev, user_tier_dim(ev))


# ---------------------------------------------------------------- live streaming driver keys
# Unlike the batch twins above, these run an ACTUAL StructuredStreaming
# query inside the driver gate: readStream over the fixture parquet,
# Trigger.AvailableNow, memory sink, then return the sink table as the
# batch result. Single input file => single micro-batch => deterministic.

import contextlib  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import tempfile  # noqa: E402


@contextlib.contextmanager
def _bounded_state_partitions(spark, n: str = "8"):
    """Run a streaming query with ``spark.sql.shuffle.partitions`` = n,
    restoring the caller's value after. The stateful-exchange partition
    count is fixed at the first query start (it becomes the state-store
    layout), so on the driver's unknown session (possibly the shuffle=200
    default) the fixture-scale streams would otherwise create and commit
    200 state stores per micro-batch — pure fixed overhead at this data
    size, and the main runtime-variance source observed in preflight.
    Results are partition-count independent; at production scale this
    value is sized to load before the first start, not taken from this
    fixture profile.

    Concurrency caveat (ADVICE r4): this mutates the SESSION-global
    shuffle-partitions conf for the duration of the run, so any query
    planned concurrently on the same SparkSession would silently inherit
    the bounded value. The driver gate and pytest are strictly serial,
    where this is safe; if a concurrent caller ever appears, scope the
    conf via a session clone (spark.newSession()) or move it into the
    writeStream options path instead."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", n)
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def _normalize_stream_ts(src: DataFrame) -> DataFrame:
    """Same ns->us / NTZ->UTC-instant ts normalization as tables.load
    (parity contract), applied to a streaming source."""
    if dict(src.dtypes).get("ts") == "bigint":
        src = src.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if dict(src.dtypes).get("ts") == "timestamp_ntz":
        src = src.withColumn("ts", F.col("ts").cast("timestamp"))
    return src


def _stream_events(spark, sf_dir, path=None, **options):
    """File-source streaming read of the events table (schema from the
    batch loader's cache, ``tables.parquet_schema``, so a rewritten
    events file re-infers; ts normalized). By default reads the shared
    fixture dir with pathGlobFilter picking the single events.parquet
    file; pass ``path`` (+ reader options like maxFilesPerTrigger) to
    stream a multi-file events directory instead — both the fast path
    and the replay fallback go through this one reader so a future read
    change cannot reach one and miss the other."""
    raw_schema = tables.parquet_schema(
        spark, tables.parquet_path(sf_dir, "events")
    )
    reader = spark.readStream.schema(raw_schema)
    if path is None:
        fixture = os.path.join(sf_dir, "events.parquet")
        if os.path.isdir(fixture):
            # Multi-file events table (a directory of part files — the
            # only shape that exists at production scale): stream the
            # directory itself. pathGlobFilter matches LEAF file names,
            # so keeping it here would match nothing and the stream
            # would emit 0 rows SILENTLY — the r13 permutation+splits
            # probe caught exactly that on three live keys. Correctness
            # does not depend on how AvailableNow batches the files:
            # the live keys' watermark delays exceed the fixture span
            # (no still-needed state evicts between batches) and the
            # tumbling agg runs complete-mode, as their docstrings pin.
            path = fixture
        else:
            # Single-file fixture: the file source wants a DIRECTORY;
            # pathGlobFilter selects the one table file out of the
            # shared fixture dir.
            reader = reader.option("pathGlobFilter", "events.parquet")
            path = sf_dir
    for k, v in options.items():
        reader = reader.option(k, v)
    return _normalize_stream_ts(reader.parquet(path))


def _run_to_table(agg: DataFrame, name: str, mode: str):
    """Execute a streaming aggregate to completion into a memory sink.

    The checkpoint directory is only needed while the query runs (memory
    sinks are not restartable), so it is removed after awaitTermination —
    repeated driver runs must not accumulate tmpdirs.
    """
    ckpt = tempfile.mkdtemp(prefix=f"catena_ckpt_{name}_")
    try:
        # streaming plans bind conf at start(), so the bounded state
        # partitioning applies even though `agg` was built earlier
        with _bounded_state_partitions(agg.sparkSession):
            q = (
                agg.writeStream.format("memory")
                .queryName(name)
                .outputMode(mode)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            # bounded wait (self-review r5): an unbounded
            # awaitTermination would hang the driver gate forever on a
            # wedged state-store/checkpoint; 600 s is ~60x the slowest
            # fixture stream
            if not q.awaitTermination(600):
                q.stop()
                raise TimeoutError(
                    f"streaming query {name} did not finish within 600s"
                )
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


@query(
    "stream_live_tumbling_agg",
    "F2",
    oracle="""
    SELECT strftime(make_timestamp((epoch_us(ts) // 21600000000) * 21600000000),
                    '%Y-%m-%d %H:%M:%S') AS win_start,
           event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
               AS sum_cents
    FROM events GROUP BY 1, 2
    """,
)
def stream_live_tumbling_agg(spark, sf_dir):
    """LIVE Structured Streaming execution under the driver gate (F2/F7):
    file-source readStream -> tumbling 6h window aggregate -> memory sink,
    Trigger.AvailableNow, complete output mode — then the sink table is
    the returned batch DataFrame, hash-checked against the same epoch-
    floored aggregate in DuckDB.

    Parity: complete mode with a single input file is exactly the batch
    aggregate; value sums are exact integer cents so state-store
    accumulation order cannot flip a rounding tie (parity rule).

    Scale: AvailableNow is THE backfill pattern — the same pipeline that
    tails a 100 TB events feed replays history in bounded micro-batches
    with state in the checkpoint, instead of a giant one-shot batch job.
    """
    tables.load(spark, sf_dir, "events")  # ensure parity conf + pkg ship
    agg = (
        _stream_events(spark, sf_dir)
        .groupBy(F.window("ts", "6 hours"), "event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.round(F.col("value") * 100, 0).cast("long"))
            .cast("long")
            .alias("sum_cents"),
        )
        .select(
            ts_str("window.start").alias("win_start"),
            "event_type",
            "n",
            "sum_cents",
        )
    )
    name = f"live_tumbling_{os.getpid()}"
    _run_to_table(agg, name, "complete")
    return spark.table(name)


@query(
    "stream_live_ewma_state",
    "F5",
    oracle="""
    WITH RECURSIVE
    o AS (SELECT user_id, event_type,
                 CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) AS ts_us,
                 value,
                 row_number() OVER (
                     PARTITION BY user_id, event_type
                     ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), value) AS rn
          FROM events),
    rec AS (
        SELECT user_id, event_type, ts_us, value, rn, value AS ewma
        FROM o WHERE rn = 1
        UNION ALL
        SELECT o.user_id, o.event_type, o.ts_us, o.value, o.rn,
               CAST(0.3 AS DOUBLE) * o.value + CAST(0.7 AS DOUBLE) * rec.ewma
        FROM o JOIN rec ON o.user_id = rec.user_id
                       AND o.event_type = rec.event_type
                       AND o.rn = rec.rn + 1)
    SELECT user_id, event_type, ts_us, ewma FROM rec
    """,
)
def stream_live_ewma_state(spark, sf_dir):
    """LIVE applyInPandasWithState under the driver gate (F5): the
    per-series EWMA fold runs inside a real streaming query (memory sink,
    AvailableNow, append mode) on the driver's own session — proving the
    custom-stateful path works with executor-side package shipping, not
    just under pytest.

    Upgraded from rows-only to a full hash-check (r3): one parquet file
    => one AvailableNow micro-batch, and the per-key fold sorts by
    (ts_us, value), so the streamed state trajectory is the exact float
    sequence the DuckDB recursive CTE computes — ``1 - 0.3`` rounds to
    the same double as the literal ``0.7`` (round-to-even lands the tie
    on 0.7's representation), making alpha/one-minus-alpha agreement
    exact, the same bit-parity argument as ts_ewma (C7).

    Fixture de-coupling (VERDICT r4 item 3): if events.parquet ever
    becomes a multi-file DIRECTORY (multiple AvailableNow micro-batches
    with possibly interleaved timestamps), this key switches to the
    batch-count-invariant streaming_ewma_replay fold, whose final
    per-series emission equals the oracle regardless of batching
    (proven in tests/test_streaming.py::test_ewma_replay_multi_batch).
    """
    tables.load(spark, sf_dir, "events")  # ensure parity conf + pkg ship
    name = f"live_ewma_{os.getpid()}"
    if os.path.isfile(os.path.join(sf_dir, "events.parquet")):
        # single file => single micro-batch => the O(1)-state hot path
        agg = streaming_ewma(_stream_events(spark, sf_dir))
        _run_to_table(agg, name, "append")
        return spark.table(name).select("user_id", "event_type", "ts_us", "ewma")
    # multi-file fixture: replay fold, one file per micro-batch
    src = _stream_events(
        spark,
        sf_dir,
        path=os.path.join(sf_dir, "events.parquet"),
        maxFilesPerTrigger="1",
    )
    _run_to_table(streaming_ewma_replay(src), name, "append")
    return finalize_ewma_replay(spark.table(name)).select(
        "user_id", "event_type", "ts_us", "ewma"
    )


@query(
    "stream_live_dedup_watermark",
    "F4",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
               AS sum_cents
    FROM events GROUP BY event_type
    """,
)
def stream_live_dedup_watermark(spark, sf_dir):
    """LIVE streaming dedup under the driver gate (F4): the events
    stream UNIONed with itself (every event arrives twice, the at-least-
    once delivery failure mode) flows through
    dropDuplicatesWithinWatermark(event_id) into a memory sink; the
    returned batch aggregate over the sink must equal the plain batch
    aggregate of the ORIGINAL single-copy table — an exact, hash-checked
    proof that the dedup state dropped every duplicate and nothing else.

    Parity: the oracle never sees the duplication; counts and integer-
    cent sums only match if streaming dedup is exactly-once. The final
    aggregate runs as a BATCH query on the sink table, so no streaming
    output-mode caveats touch the compared values.

    Scale: dedup state is keyed by event_id and EVICTED once the
    watermark passes an id's event time — bounded state on an unbounded
    feed, unlike batch dropDuplicates which would hold the full key set;
    this is the Spark-native form of catena's WAL idempotent replay
    (SURVEY.md §2-F4/A2). The watermark delay here EXCEEDS the fixture's
    whole time span (r5, self-review finding — the same multi-batch
    hazard the ewma key's replay fallback guards): with a 10-minute
    delay, a multi-file fixture would advance the watermark after batch
    1 and drop batch 2's older rows outright. 45 days keeps every row
    admissible and every dedup key live for the full bounded replay —
    exactly how a production backfill sizes its watermark to the
    backfill horizon; the steady-state feed uses the short delay.
    """
    tables.load(spark, sf_dir, "events")  # ensure parity conf + pkg ship
    doubled = _stream_events(spark, sf_dir).unionAll(_stream_events(spark, sf_dir))
    deduped = doubled.withWatermark("ts", "45 days").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    name = f"live_dedup_{os.getpid()}"
    _run_to_table(deduped, name, "append")
    return (
        spark.table(name)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.round(F.col("value") * 100, 0).cast("long"))
            .cast("long")
            .alias("sum_cents"),
        )
    )


@query(
    "stream_live_interval_join",
    "F1",
    oracle="""
    SELECT s.user_id,
           CAST(epoch_us(s.ts) AS BIGINT) AS signup_us,
           CAST(epoch_us(p.ts) AS BIGINT) AS purchase_us,
           CAST(round(p.value * 100, 0) AS BIGINT) AS purchase_cents
    FROM events s JOIN events p
      ON s.user_id = p.user_id
     AND s.event_type = 'signup' AND p.event_type = 'purchase'
     AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 1 HOUR
    """,
)
def stream_live_interval_join(spark, sf_dir):
    """LIVE watermarked stream-stream interval join under the driver
    gate (F1, the last untouched F-surface primitive — r2 VERDICT item
    7): each signup event inner-joins every purchase by the same user
    within the following hour. Both sides are real file-source streams
    with watermarks and a time-range join condition — the exact shape
    Spark requires to bound join state on unbounded feeds.

    Parity: inner stream-stream joins emit precisely the matched pairs
    (watermarks only bound state, never filter inner-join output), so an
    AvailableNow pass over the fixture equals the batch interval join
    the oracle runs; all output columns are exact integer µs / cents.
    The watermark delay (45 days) deliberately exceeds the fixture's
    30-day span so completeness does NOT depend on the whole table
    landing in one micro-batch — if the source were split across files
    in arbitrary time order, no still-needed join state could be
    evicted between batches.

    Scale: in production the delay is the real lateness bound (minutes/
    hours), and state per side is evicted once the watermark passes the
    interval bound — at 100 TB/day the join holds ~the interval of
    purchases/signups per key, not history; the same query tails a live
    feed and backfills with AvailableNow from the checkpoint.
    """
    tables.load(spark, sf_dir, "events")  # ensure parity conf + pkg ship
    s = (
        _stream_events(spark, sf_dir)
        .where(F.col("event_type") == "signup")
        .select("user_id", F.col("ts").alias("s_ts"))
        .withWatermark("s_ts", "45 days")
    )
    p = (
        _stream_events(spark, sf_dir)
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("value").alias("p_value"),
        )
        .withWatermark("p_ts", "45 days")
    )
    j = s.join(
        p,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("s_ts"))
        & (F.col("p_ts") <= F.col("s_ts") + F.expr("INTERVAL 1 HOUR")),
    ).select(
        "user_id",
        F.unix_micros("s_ts").alias("signup_us"),
        F.unix_micros("p_ts").alias("purchase_us"),
        F.round(F.col("p_value") * 100, 0).cast("long").alias("purchase_cents"),
    )
    name = f"live_ssjoin_{os.getpid()}"
    _run_to_table(j, name, "append")
    return spark.table(name)
