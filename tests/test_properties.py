"""Property-based invariants (SURVEY.md §5 item 4, hypothesis).

Each test generates an arbitrary small events/documents table, writes it
as a parquet dir shaped like the driver fixtures, and runs the REAL
operator callables against it — so the invariants exercise the same code
path the driver checks, not a reimplementation.

Invariants (SURVEY.md §5): resample preserves counts and extrema;
gap-fill produces a complete per-series grid and never invents values;
sessionization conserves events and matches the gap-count definition;
exact dedup is idempotent and partition-complete; linear interpolation
stays within each series' observed value envelope.
"""

from __future__ import annotations

import datetime
import shutil
import tempfile

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from catena_spark.operators import llm, timeseries as ts

T0 = datetime.datetime(2024, 1, 1)

#: (user_id, event_type, minutes-offset, value) — small domains force
#: collisions (same series, same hour, duplicate ts) that shrink well.
points = st.lists(
    st.tuples(
        st.integers(0, 2),
        st.sampled_from(["click", "view"]),
        st.integers(0, 5000),
        st.floats(0.0, 1000.0, allow_nan=False, allow_infinity=False, width=32),
    ),
    min_size=1,
    max_size=60,
)

docs = st.lists(
    st.tuples(st.sampled_from(["spark join", "filter window", "Spark  Join "]),
              st.sampled_from(["en", "de"])),
    min_size=1,
    max_size=30,
)

PROP_SETTINGS = settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _write_events(spark, rows) -> str:
    tmp = tempfile.mkdtemp(prefix="catena-prop-")
    pdf = pd.DataFrame(
        {
            "event_id": range(len(rows)),
            "ts": [T0 + datetime.timedelta(minutes=m) for _, _, m, _ in rows],
            "user_id": [u for u, _, _, _ in rows],
            "event_type": [m for _, m, _, _ in rows],
            "value": [float(v) for _, _, _, v in rows],
            "props": ['{"k": 1}'] * len(rows),
        }
    )
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(f"{tmp}/events.parquet")
    return tmp


def _write_docs(spark, rows) -> str:
    tmp = tempfile.mkdtemp(prefix="catena-prop-")
    pdf = pd.DataFrame(
        {
            "doc_id": range(len(rows)),
            "text": [t for t, _ in rows],
            "lang": [lang for _, lang in rows],
            "source": ["src0"] * len(rows),
            "n_chars": [len(t) for t, _ in rows],
        }
    )
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(
        f"{tmp}/documents.parquet"
    )
    return tmp


@PROP_SETTINGS
@given(rows=points)
def test_resample_conserves_counts_and_extrema(spark, rows):
    tmp = _write_events(spark, rows)
    try:
        out = ts.ts_resample_1h(spark, tmp).collect()
        assert sum(r["n"] for r in out) == len(rows)
        vals = [v for _, _, _, v in rows]
        assert min(r["min_v"] for r in out) == min(vals)
        assert max(r["max_v"] for r in out) == max(vals)
        # buckets are (hour, metric)-unique
        keys = [(r["hour_s"], r["metric"]) for r in out]
        assert len(keys) == len(set(keys))
    finally:
        shutil.rmtree(tmp)


@PROP_SETTINGS
@given(rows=points)
def test_gapfill_grid_complete_and_never_invents(spark, rows):
    tmp = _write_events(spark, rows)
    try:
        out = ts.ts_gapfill_ffill(spark, tmp).collect()
        per_series: dict[tuple, list] = {}
        for r in out:
            per_series.setdefault((r["source"], r["metric"]), []).append(r)
        observed: dict[tuple, set] = {}
        for u, m, mins, _ in rows:
            h = (T0 + datetime.timedelta(minutes=mins)).replace(
                minute=0, second=0, microsecond=0
            )
            observed.setdefault((str(u), m), set()).add(h.strftime("%Y-%m-%d %H:%M:%S"))
        assert set(per_series) == set(observed)
        for key, rs in per_series.items():
            hours = sorted(r["hour_s"] for r in rs)
            # complete hourly grid between the series' own bounds
            t_lo = datetime.datetime.strptime(hours[0], "%Y-%m-%d %H:%M:%S")
            t_hi = datetime.datetime.strptime(hours[-1], "%Y-%m-%d %H:%M:%S")
            assert len(rs) == int((t_hi - t_lo).total_seconds()) // 3600 + 1
            assert len(hours) == len(set(hours))
            # non-gap rows == observed buckets; fill never invents values
            assert {r["hour_s"] for r in rs if not r["was_gap"]} == observed[key]
            filled = {r["v_filled"] for r in rs if r["was_gap"]}
            seeded = {r["v_filled"] for r in rs if not r["was_gap"]}
            assert filled <= seeded
            assert all(r["v_filled"] is not None for r in rs)
    finally:
        shutil.rmtree(tmp)


@PROP_SETTINGS
@given(rows=points)
def test_sessionize_conserves_events_and_gap_rule(spark, rows):
    tmp = _write_events(spark, rows)
    try:
        out = ts.ts_sessionize_30m(spark, tmp).collect()
        assert sum(r["n_events"] for r in out) == len(rows)
        # expected session count per source = 1 + (#gaps > 30 min)
        by_source: dict[str, list] = {}
        for u, _, mins, _ in rows:
            by_source.setdefault(str(u), []).append(mins)
        for src, minutes in by_source.items():
            minutes.sort()
            expected = 1 + sum(
                1 for a, b in zip(minutes, minutes[1:]) if (b - a) > 30
            )
            got = len([r for r in out if r["source"] == src])
            assert got == expected, (src, minutes)
    finally:
        shutil.rmtree(tmp)


@PROP_SETTINGS
@given(rows=points)
def test_linear_interp_within_series_envelope(spark, rows):
    tmp = _write_events(spark, rows)
    try:
        out = ts.ts_gapfill_linear(spark, tmp).collect()
        env: dict[tuple, list] = {}
        for r in out:
            if not r["was_gap"]:
                env.setdefault((r["source"], r["metric"]), []).append(
                    r["v_interp_micro"]
                )
        for r in out:
            lo, hi = min(env[(r["source"], r["metric"])]), max(
                env[(r["source"], r["metric"])]
            )
            assert lo <= r["v_interp_micro"] <= hi
    finally:
        shutil.rmtree(tmp)


@PROP_SETTINGS
@given(rows=docs)
def test_exact_dedup_idempotent_and_complete(spark, rows):
    tmp = _write_docs(spark, rows)
    try:
        out = llm.llm_exact_dedup(spark, tmp).collect()
        # partition-complete: every doc is counted exactly once
        assert sum(r["n_copies"] for r in out) == len(rows)
        # one survivor per normalized (lower/trim) text
        normed = {t.lower().strip() for t, _ in rows}
        assert len(out) == len(normed)
        # idempotent: dedup of the survivors is the survivors
        survivors = [rows[int(r["keep_id"])] for r in out]
        tmp2 = _write_docs(spark, survivors)
        try:
            out2 = llm.llm_exact_dedup(spark, tmp2).collect()
            assert len(out2) == len(out)
            assert all(r["n_copies"] == 1 for r in out2)
        finally:
            shutil.rmtree(tmp2)
    finally:
        shutil.rmtree(tmp)


def test_sketch_error_bounds(spark):
    """agg_approx_sketches contract (the one rows-only driver key —
    VERDICT r4 item 7 asks for a quantitative check): HLL distinct
    within 5% of exact (rsd=0.02 => ~2sigma headroom), approx
    percentiles within 2% relative error of the EXACT percentiles and
    inside the exact value range, monotone across quantiles. Runs at
    BOTH sf0.001 and the driver's sf0.01 so the bound is checked at the
    gate's own scale."""
    import pyspark.sql.functions as F

    from catena_spark import tables
    from catena_spark.operators.relational import agg_approx_sketches
    from tests.conftest import SF_DRIVER, SF_SMALL

    for sf_dir in (SF_SMALL, SF_DRIVER):
        li = tables.load(spark, sf_dir, "lineitem")
        exact = {
            r["l_returnflag"]: r
            for r in li.groupBy("l_returnflag")
            .agg(
                F.countDistinct("l_orderkey").alias("d"),
                F.min("l_extendedprice").alias("lo"),
                F.max("l_extendedprice").alias("hi"),
                F.expr(
                    "percentile(l_extendedprice, array(0.5, 0.95, 0.99))"
                ).alias("pe"),
            )
            .collect()
        }
        for r in agg_approx_sketches(spark, sf_dir).collect():
            e = exact[r["l_returnflag"]]
            assert abs(r["approx_orders"] - e["d"]) / e["d"] <= 0.05
            for i, c in enumerate(("p50_price", "p95_price", "p99_price")):
                assert e["lo"] <= r[c] <= e["hi"]
                assert abs(r[c] - e["pe"][i]) / e["pe"][i] <= 0.02, (
                    f"{sf_dir} {r['l_returnflag']} {c}: approx {r[c]} vs "
                    f"exact {e['pe'][i]}"
                )
            assert r["p50_price"] <= r["p95_price"] <= r["p99_price"]


#: >64 points on one metric so the LTTB recurrence genuinely executes;
#: unique minute offsets keep the (ts_us, cents) sort total.
lttb_points = st.lists(
    st.tuples(
        st.integers(0, 500000),
        st.floats(0.0, 1000.0, allow_nan=False, allow_infinity=False, width=32),
    ),
    min_size=70,
    max_size=200,
    unique_by=lambda t: t[0],
)


def _lttb_ref(xs: list, ys: list, n_out: int = 64) -> list:
    """Pure-Python reference of the exact-integer LTTB spec (same
    bucket-edge and triangle-area definitions as the operator and its
    DuckDB oracle)."""
    n = len(xs)
    if n <= n_out:
        return list(zip(xs, ys))
    m = n - 2
    edges = [1 + (i * m) // 62 for i in range(63)]
    chosen, prev = [0], 0
    for b in range(62):
        lo, hi = edges[b], edges[b + 1]
        nlo = edges[b + 1]
        nhi = edges[b + 2] if b + 2 < 63 else n
        cnt = nhi - nlo
        sx, sy = sum(xs[nlo:nhi]), sum(ys[nlo:nhi])
        ax, ay = xs[prev], ys[prev]
        best, best_area = lo, -1
        for i in range(lo, hi):
            area = abs((ax * cnt - sx) * (ys[i] - ay) - (ax - xs[i]) * (sy - cnt * ay))
            if area > best_area:
                best_area, best = area, i
        chosen.append(best)
        prev = best
    chosen.append(n - 1)
    return [(xs[i], ys[i]) for i in chosen]


@PROP_SETTINGS
@given(rows=lttb_points)
def test_lttb_matches_reference_and_invariants(spark, rows):
    from pyspark.sql import functions as F

    tmp = _write_events(spark, [(0, "click", m, v) for m, v in rows])
    try:
        got = sorted(
            (r["ts_us"], r["cents"])
            for r in ts.ts_lttb_downsample(spark, tmp).collect()
        )
        # reference consumes the engine's own (ts_us, cents) projection so
        # the property isolates the SELECTION algorithm, not rounding
        src = sorted(
            (r["ts_us"], r["cents"])
            for r in ts._series(spark, tmp)
            .select(
                "ts_us",
                F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
            )
            .collect()
        )
        xs = [t for t, _ in src]
        ys = [c for _, c in src]
        exp = sorted(_lttb_ref(xs, ys))
        assert got == exp
        assert len(got) == min(64, len(rows))
        assert got[0] == src[0] and got[-1] == src[-1], "endpoints kept"
        assert set(got) <= set(src), "no fabricated points"
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


#: click/purchase mix for the as-of join property; dedupe on the series
#: key + ts so the at-or-before match is uniquely defined.
asof_points = st.lists(
    st.tuples(
        st.integers(0, 2),
        st.sampled_from(["click", "purchase"]),
        st.integers(0, 5000),
        st.floats(0.0, 1000.0, allow_nan=False, allow_infinity=False, width=32),
    ),
    min_size=1,
    max_size=60,
    unique_by=lambda t: (t[0], t[1], t[2]),
)


@PROP_SETTINGS
@given(rows=asof_points)
def test_asof_join_matches_bruteforce(spark, rows):
    """Every click row carries the value of the same user's latest
    purchase at-or-before it (inclusive), NULL when none exists — checked
    against a brute-force scan of the generated rows."""
    tmp = _write_events(spark, rows)
    try:
        out = {
            (r["source"], r["ts_us"]): r["last_purchase_value"]
            for r in ts.ts_asof_join(spark, tmp).collect()
        }
        purchases = [
            (str(u), m * 60_000_000 + int(T0.timestamp()) * 1_000_000, v)
            for u, met, m, v in rows
            if met == "purchase"
        ]
        clicks = [
            (str(u), m * 60_000_000 + int(T0.timestamp()) * 1_000_000, v)
            for u, met, m, v in rows
            if met == "click"
        ]
        assert len(out) == len(clicks)
        for u, t, _ in clicks:
            cands = [(tt, pv) for uu, tt, pv in purchases if uu == u and tt <= t]
            exp = max(cands)[1] if cands else None
            got = out[(u, t)]
            if exp is None:
                assert got is None, (u, t)
            else:
                assert got == exp, (u, t, got, exp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@PROP_SETTINGS
@given(
    vals=st.lists(
        st.tuples(st.integers(0, 100000), st.integers(0, 1000)),
        min_size=1,
        max_size=200,
        unique_by=lambda t: t[0],
    )
)
def test_two_phase_running_sum_equals_global_window(spark, vals):
    """twophase.global_running_sum must equal the single-partition
    global window it replaces, for any data and any range-boundary
    placement (guards the shared helper under PageRank rank and token
    packing)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from catena_spark.twophase import global_running_sum

    df = spark.createDataFrame(vals, "k long, v long")
    got = {
        r["k"]: r["run"]
        for r in global_running_sum(df, [F.col("k")], F.col("v"), "run").collect()
    }
    w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
    exp = {
        r["k"]: r["run"]
        for r in df.withColumn("run", F.sum("v").over(w).cast("long")).collect()
    }
    assert got == exp


def test_two_phase_rejects_tied_sort_keys(spark):
    """assert_total_order must catch sort keys that are not a total
    order (ties straddling a range boundary would make the output
    nondeterministic relative to the global window it replaces)."""
    import pytest
    from pyspark.sql import functions as F

    from catena_spark.twophase import global_running_sum

    tied = spark.createDataFrame([(1, 10), (1, 20), (2, 30)], "k long, v long")
    with pytest.raises(ValueError, match="not a total order"):
        global_running_sum(
            tied, [F.col("k")], F.col("v"), "run", assert_total_order=True
        )
    unique = spark.createDataFrame([(1, 10), (2, 20)], "k long, v long")
    got = {
        r["k"]: r["run"]
        for r in global_running_sum(
            unique, [F.col("k")], F.col("v"), "run", assert_total_order=True
        ).collect()
    }
    assert got == {1: 10, 2: 30}


def test_two_phase_assert_edge_cases(spark):
    """ADVICE r4 hardening: a sort key literally named 'count' must not
    collide with the assertion's own aggregate alias, and passing a
    SortOrder (non-groupable) with assert_total_order=True must raise
    the explanatory ValueError instead of an opaque analysis error."""
    import pytest
    from pyspark.sql import functions as F

    from catena_spark.twophase import global_running_sum

    named_count = spark.createDataFrame(
        [(1, 10), (2, 20)], "count long, v long"
    )
    got = {
        r["count"]: r["run"]
        for r in global_running_sum(
            named_count, [F.col("count")], F.col("v"), "run",
            assert_total_order=True,
        ).collect()
    }
    assert got == {1: 10, 2: 30}

    unique = spark.createDataFrame([(1, 10), (2, 20)], "k long, v long")
    with pytest.raises(ValueError, match="plain column expressions"):
        global_running_sum(
            unique, [F.col("k").desc()], F.col("v"), "run",
            assert_total_order=True,
        )


def test_two_phase_partitions_scale_with_cluster(spark):
    """VERDICT r11 item 1: the two-phase helpers' parallelism must
    follow the cluster, not a constant. Default = max(defaultParallelism,
    MIN_PARTITIONS); session conf catena.twophase.partitions overrides
    the derivation; an explicit argument overrides both; nonsense values
    fail loud."""
    import pytest

    from catena_spark import twophase

    df = spark.createDataFrame([(1, 10)], "k long, v long")
    dp = int(spark.sparkContext.defaultParallelism)
    assert twophase.resolve_partitions(df, None) == max(
        dp, twophase.MIN_PARTITIONS
    )
    assert twophase.resolve_partitions(df, 3) == 3
    spark.conf.set("catena.twophase.partitions", "12")
    try:
        assert twophase.resolve_partitions(df, None) == 12
        # explicit argument still wins over the conf
        assert twophase.resolve_partitions(df, 5) == 5
        spark.conf.set("catena.twophase.partitions", "0")
        with pytest.raises(ValueError, match="catena.twophase.partitions"):
            twophase.resolve_partitions(df, None)
        # ADVICE r12: a non-numeric value must name the conf key, not
        # surface int()'s bare "invalid literal"; whitespace-only (and
        # padded-numeric) values are treated as unset (resp. stripped)
        spark.conf.set("catena.twophase.partitions", "lots")
        with pytest.raises(ValueError, match="catena.twophase.partitions"):
            twophase.resolve_partitions(df, None)
        spark.conf.set("catena.twophase.partitions", "   ")
        assert twophase.resolve_partitions(df, None) == max(
            dp, twophase.MIN_PARTITIONS
        )
        spark.conf.set("catena.twophase.partitions", " 12 ")
        assert twophase.resolve_partitions(df, None) == 12
    finally:
        spark.conf.unset("catena.twophase.partitions")
    with pytest.raises(ValueError, match="partitions must be"):
        twophase.resolve_partitions(df, 0)


def test_two_phase_values_invariant_to_partition_count(spark):
    """The scale knob must be value-free: offsets come from ACTUAL
    per-partition totals and the total-order contract fixes tie
    placement, so ANY partition count (1, 3, the dynamic default, or
    way more partitions than rows) yields identical rows. This is the
    hash-invariance argument for flipping the default from 8 to
    defaultParallelism without driver re-verification risk."""
    from pyspark.sql import functions as F

    from catena_spark.twophase import global_running_sum, grouped_positions

    rows = [(i % 5, i, (i * 37) % 11) for i in range(101)]
    df = spark.createDataFrame(rows, "g int, k long, v long")

    runs = [
        {
            r["k"]: r["run"]
            for r in global_running_sum(
                df, [F.col("k")], F.col("v"), "run", partitions=p
            ).collect()
        }
        for p in (1, 3, None, 256)
    ]
    assert all(r == runs[0] for r in runs[1:])

    poss = [
        {
            r["k"]: (r["_pos"], r["_n"])
            for r in grouped_positions(
                df, ["g"], [F.col("v").desc(), F.col("k")], partitions=p
            ).collect()
        }
        for p in (1, 3, None, 256)
    ]
    assert all(p == poss[0] for p in poss[1:])


def test_duckdb_list_sum_is_sequential_left_fold(duck):
    """Executable form of the parity assumption behind fn_array_suite /
    llm_vector_quantize_int8 (SCALE.md known-artifacts): DuckDB's
    list_sum over doubles must equal the sequential left fold Spark's
    F.aggregate performs — bit-for-bit, on every fixture embedding.
    Four driver rounds relied on this empirically; this test pins it so
    an engine upgrade that switches list_sum to pairwise/SIMD summation
    fails HERE, not in the driver gate."""
    import math

    rows = duck.execute(
        """
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
               list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS s,
               list_sum(list_transform(embedding,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS sq
        FROM embeddings
        """
    ).fetchall()
    assert len(rows) > 0
    for _vid, v, s, sq in rows:
        acc = 0.0
        acc2 = 0.0
        for x in v:
            acc += x
            acc2 += x * x
        assert acc == s and math.isfinite(s)
        assert acc2 == sq


def test_decimal_threshold_predicate_exact_within_envelope(spark):
    """The ANN/near-dup 0.4-threshold comparison runs in DECIMAL(38,0)
    (Spark) / HUGEINT (DuckDB). Under non-ANSI Spark a decimal OVERFLOW
    would yield NULL and silently drop the row, so this pins the
    predicate against exact Python integer arithmetic across the
    documented envelope — fixture magnitudes (dot,|v|^2 <= ~6.4e13 for
    |x|<=1 micro-unit vectors) up to a 100x safety margin, including
    exact-boundary ties where 25*dot^2 == 4*n2a*n2b."""
    from pyspark.sql import functions as F

    cases = []
    base = [0, 1, 7, 10**6, 64 * 10**12, 6 * 10**15]  # up to ~100x fixtures
    for dot in base:
        for n2a in base[1:]:
            for n2b in base[1:]:
                cases.append((dot, n2a, n2b))
    # exact boundary: 25*dot^2 == 4*n2a*n2b  (dot=2k, n2a=5k, n2b=5k)
    for k in (1, 10**6, 10**12):
        cases.append((2 * k, 5 * k, 5 * k))
    df = spark.createDataFrame(cases, "dot_i long, n2a long, n2b long")
    dec = "decimal(38,0)"
    got = {
        (r["dot_i"], r["n2a"], r["n2b"]): r["keep"]
        for r in df.withColumn(
            "keep",
            (F.col("dot_i") > 0)
            & (
                F.lit(25).cast(dec)
                * F.col("dot_i").cast(dec)
                * F.col("dot_i").cast(dec)
                >= F.lit(4).cast(dec)
                * F.col("n2a").cast(dec)
                * F.col("n2b").cast(dec)
            ),
        ).collect()
    }
    for dot, n2a, n2b in cases:
        exact = dot > 0 and 25 * dot * dot >= 4 * n2a * n2b
        assert got[(dot, n2a, n2b)] == exact, (dot, n2a, n2b)


def _limb_double(x: int) -> float:
    """The retired base-1e9 limb kernel: exact limbs recombined as
    ``((l3*1e9 + l2)*1e9 + l1)*1e9 + l0`` — deterministic but not
    correctly rounded past 2^53."""
    a = abs(x)
    l3, l2 = a // 10**27, (a % 10**27) // 10**18
    l1, l0 = (a % 10**18) // 10**9, a % 10**9
    mag = ((float(l3) * 1e9 + float(l2)) * 1e9 + float(l1)) * 1e9 + float(l0)
    return -mag if x < 0 else mag


def test_det_double_bit_identical_across_engines(spark, duck):
    """parity.det_double is ONE SQL text for both engines and must return
    the correctly rounded double ``float(x)`` in Spark and in DuckDB at
    every magnitude of the decimal(38,0) range: exact below 2^53, the
    same double across 2^53 +/- k, and ties-to-even on built half-way
    points past 2^64 — where DuckDB's native HUGEINT cast rounds twice.
    That is what lets usum/usum_long/agg_stats_suite keep their
    bit-identity claim at any magnitude.

    Inputs are exact: Python ``Decimal`` values in a decimal(38,0)
    column for Spark (Spark's string->decimal cast rounds to 34
    digits) and HUGEINT literals for DuckDB."""
    import decimal
    import random

    from pyspark.sql import functions as F

    from catena_spark.parity import det_double

    P = 2**53
    rng = random.Random(20260814)
    cases = [0, 1, -1, 42, 2**63 - 1, 2**63, 2**63 + 2**11, -(2**63),
             10**24, -(10**24), 10**30 + 7, -(10**30 + 7), 10**38 - 1,
             -(10**38) + 1]
    cases += [P + k for k in range(-3, 4)] + [-(P + k) for k in range(-2, 3)]
    cases += [P + 111, -(P + 111)]
    cases += [rng.randrange(P - 50, P + 50) * s for _ in range(30) for s in (1, -1)]
    for bits in (40, 52, 53, 54, 62, 63, 64, 70, 80, 100, 126):
        cases += [rng.randrange(-(2**bits), 2**bits) for _ in range(20)]
    # half-way ties between adjacent doubles m*2^(e-52) and (m+1)*2^(e-52)
    # (m odd and even, so ties-to-even goes both ways), and one unit either
    # side of each tie
    for e in (64, 65, 70, 80, 100, 125):
        for m in (2**52, 2**52 + 1, 2**53 - 2, 2**53 - 1,
                  rng.randrange(2**52, 2**53)):
            tie = m * 2 ** (e - 52) + 2 ** (e - 53)
            cases += [tie - 1, tie, tie + 1, -tie]
    assert all(abs(x) < 10**38 for x in cases)

    sdf = spark.createDataFrame(
        [(decimal.Decimal(x),) for x in cases], "v decimal(38,0)"
    )
    got_spark = [
        r["d"] for r in sdf.select(F.expr(det_double("v")).alias("d")).collect()
    ]
    got_duck = [
        duck.execute(f"SELECT {det_double(f'CAST({str(x)!r} AS HUGEINT)')}").fetchone()[0]
        for x in cases
    ]
    for x, ds, dd in zip(cases, got_spark, got_duck):
        assert ds == dd == float(x), (x, ds, dd, float(x))

    # teeth: the fixture reaches values where DuckDB's native cast and the
    # old limb kernel each miss the correctly rounded double
    native = [
        duck.execute(f"SELECT CAST(CAST({str(x)!r} AS HUGEINT) AS DOUBLE)").fetchone()[0]
        for x in cases
    ]
    assert any(n != float(x) for x, n in zip(cases, native)), (
        "fixture lost its teeth: DuckDB's native cast is right on every case"
    )
    assert any(_limb_double(x) != float(x) for x in cases), (
        "fixture lost its teeth: the limb kernel is right on every case"
    )


def test_integer_halfup_avg_threshold_matches_reference(duck):
    """subq_q22_idle_wealthy's threshold (r6): HALF_UP(sum_cents/n) as
    the pure-integer ``(2s + n) // (2n)`` must equal decimal HALF_UP
    rounding for every positive (sum, n) — including exact .5 ties,
    where the old float round(avg, 2) could flip per engine. Pinned
    against Python's Fraction-exact reference in both the Python formula
    and DuckDB's `//` rendering used by the oracle."""
    import random
    from fractions import Fraction

    rng = random.Random(20260814)
    cases = [(1, 2), (3, 2), (5, 2), (7, 2), (1, 3), (2, 3), (10**18, 7)]
    cases += [(rng.randrange(0, 10**12), rng.randrange(1, 10**6)) for _ in range(500)]
    # forced .5 ties: s = k*n + n/2 for even n
    for k in (0, 1, 17, 10**9):
        cases.append((k * 4 + 2, 4))
    for s, n in cases:
        want_fr = Fraction(s, n)
        floor = want_fr.numerator // want_fr.denominator
        frac = want_fr - floor
        want = floor + (1 if frac >= Fraction(1, 2) else 0)  # HALF_UP, s >= 0
        got_py = (2 * s + n) // (2 * n)
        got_duck = duck.execute(
            f"SELECT (2 * CAST({s} AS HUGEINT) + {n}) // (2 * CAST({n} AS HUGEINT))"
        ).fetchone()[0]
        assert got_py == want == got_duck, (s, n, got_py, got_duck, want)


@pytest.mark.parametrize("kernel", ["usum", "usum_long"])
def test_usum_long_matches_duck_usum_past_2pow53(spark, duck, kernel):
    """usum/usum_long ≡ duck_usum over the FULL BIGINT unit-sum range:
    both Spark sums and duck_usum end in the same det_double text, so
    each must be bit-identical to duck_usum and equal to the correctly
    rounded ``float(unit_sum) / 100`` at every magnitude. Inputs are
    multiples of 10^13 so value*10^scale round-trips exactly through
    double in both engines."""
    import random

    from catena_spark import parity
    from catena_spark.parity import duck_usum

    usum_fn = getattr(parity, kernel)

    rng = random.Random(20260814)

    # per-group lists of scale-2 UNIT integers; value = u / 100. Each
    # gap-range group pairs one huge multiple-of-10^16 unit (value a
    # multiple of 10^14 — an exact double) with one cents-scale unit
    # (< 2^53; value/100 round-trips through round(v*100) like every
    # production money column), so the group sum lands in [2^53, 2^63)
    # at an integer no double represents exactly (asserted below).
    groups = {
        "below53": [100, 250, 512345, 2**52],
        "gap_a": [5040000000000000000, 7190709584],
        "gap_b": [5290000000000000000, 73734014884],
        "gap_c": [6930000000000000000, 63652167133],
        "gap_many": [8000000000000000000]
        + [rng.randrange(10**8, 10**11) for _ in range(40)],
    }
    rows = [(g, u / 100.0) for g, items in groups.items() for u in items]
    gap_sums = [sum(items) for g, items in groups.items() if g != "below53"]
    assert all(int(float(u)) != u for u in gap_sums), (
        "fixture lost its teeth: a gap sum is exactly representable, so "
        "it cannot tell a rounding kernel from the exact conversion"
    )
    sdf = spark.createDataFrame(rows, "g string, v double")
    got_spark = {
        r["g"]: r["s"]
        for r in sdf.groupBy("g").agg(usum_fn("v", 2).alias("s")).collect()
    }
    duck.execute("CREATE OR REPLACE TABLE t_usum_long(g VARCHAR, v DOUBLE)")
    duck.executemany("INSERT INTO t_usum_long VALUES (?, ?)", rows)
    got_duck = {
        g: s
        for g, s in duck.execute(
            f"SELECT g, {duck_usum('v', 2)} AS s FROM t_usum_long GROUP BY g"
        ).fetchall()
    }
    for g, items in groups.items():
        unit_sum = sum(items)
        assert unit_sum < 2**63, (g, unit_sum)  # stays a valid BIGINT
        want = float(unit_sum) / 100
        assert got_spark[g] == got_duck[g] == want, (
            g, unit_sum, got_spark[g], got_duck[g], want,
        )


def test_agg_stats_suite_matches_oracle_past_2pow64(spark, tmp_path):
    """agg_stats_suite on a synthetic lineitem equals its DuckDB oracle
    exactly once the price moment ``n*spc2 - spc*spc`` passes 2^64,
    where DuckDB's native HUGEINT->DOUBLE cast rounds twice.

    Group 'A' is built: 1,000 rows at two cent prices a and b (k of
    them at a), so its moment is k*(n-k)*(a-b)^2 ~ 1.9e19. The price gap
    is one where the native cast misses the correctly rounded double
    and the miss survives into corr_qty_price, so the same oracle with
    det_double swapped for the native cast gives a different row (the
    teeth). Groups 'N' and 'R' are random prices near 1e5."""
    import random

    import duckdb

    from catena_spark import registry
    from catena_spark.parity import det_double, norm_cell

    n, k, a, b = 1000, 499, 10_490_000, 1_789_971  # cent prices
    rows = [
        ("A", float(1 + (i * 7) % 50), (a if i < k else b) / 100, (i % 11) / 100)
        for i in range(n)
    ]
    rng = random.Random(20260814)
    rows += [
        (rng.choice("NR"), float(rng.randint(1, 50)),
         rng.randint(9_000_000, 10_500_000) / 100, rng.randint(0, 10) / 100)
        for _ in range(200)
    ]
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE lineitem(l_returnflag VARCHAR, l_quantity DOUBLE,"
        " l_extendedprice DOUBLE, l_discount DOUBLE)"
    )
    con.executemany("INSERT INTO lineitem VALUES (?, ?, ?, ?)", rows)
    con.execute(f"COPY lineitem TO '{tmp_path}/lineitem.parquet' (FORMAT PARQUET)")

    def duck_rows(sql):
        cur = con.execute(sql)
        names = [d[0] for d in cur.description]
        order = sorted(range(len(names)), key=lambda i: names[i])
        return sorted(tuple(norm_cell(r[i]) for i in order) for r in cur.fetchall())

    spec = registry.specs()["agg_stats_suite"]
    df = spec.fn(spark, str(tmp_path))
    cols = sorted(df.columns)
    got = sorted(tuple(norm_cell(r[c]) for c in cols) for r in df.collect())
    assert got == duck_rows(spec.oracle)

    assert k * (n - k) * (a - b) ** 2 >= 2**64
    head, tail = det_double("@").split("@")
    assert spec.oracle.count(head) == spec.oracle.count(tail) > 0
    native = spec.oracle.replace(head, "CAST((").replace(tail, ") AS DOUBLE)")
    assert duck_rows(native) != duck_rows(spec.oracle), (
        "fixture lost its teeth: the native cast gives the same rows"
    )
    con.close()


@PROP_SETTINGS
@given(
    vals=st.lists(
        st.tuples(
            st.integers(0, 3),          # group (few values, like nation)
            st.integers(-1000, 1000),   # order value (ties ACROSS ids ok)
            st.integers(0, 100000),     # unique id (total-order tiebreak)
        ),
        min_size=1,
        max_size=200,
        unique_by=lambda t: t[2],
    )
)
def test_grouped_positions_equals_partitioned_window(spark, vals):
    """twophase.grouped_positions must equal the per-group ordered
    window it replaces (row_number + count PARTITION BY g ORDER BY
    v DESC, id) for any data and any range-boundary placement — guards
    the shared helper under win_ntile_dense / win_percent_rank_cume,
    including the descending order direction those keys use."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from catena_spark.twophase import grouped_positions

    df = spark.createDataFrame(vals, "g long, v long, id long")
    got = {
        r["id"]: (r["_pos"], r["_n"])
        for r in grouped_positions(
            df, ["g"], [F.col("v").desc(), F.col("id")]
        ).collect()
    }
    w = Window.partitionBy("g").orderBy(F.col("v").desc(), "id")
    exp = {
        r["id"]: (r["p"], r["n"])
        for r in df.withColumn("p", F.row_number().over(w))
        .withColumn(
            "n", F.count(F.lit(1)).over(Window.partitionBy("g")).cast("long")
        )
        .collect()
    }
    assert got == exp


@PROP_SETTINGS
@given(n=st.integers(1, 40))
def test_ntile_arithmetic_matches_window_ntile(spark, n):
    """The closed-form ntile(4) arithmetic in win_ntile_dense must
    reproduce Spark's NTile for every group size (first n%k buckets
    get the extra row), including n < k where the ELSE's div-by-zero
    branch must never evaluate."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    df = spark.range(1, n + 1).withColumnRenamed("id", "_pos").withColumn(
        "_n", F.lit(n).cast("long")
    )
    ntile4 = (
        "CASE WHEN _pos <= (_n % 4) * ((_n div 4) + 1)"
        "     THEN 1 + (_pos - 1) div ((_n div 4) + 1)"
        "     ELSE (_n % 4) + 1 + (_pos - (_n % 4) * ((_n div 4) + 1) - 1)"
        "          div (_n div 4) END"
    )
    got = {
        r["_pos"]: r["q"]
        for r in df.withColumn("q", F.expr(ntile4).cast("long")).collect()
    }
    exp = {
        r["_pos"]: r["q"]
        for r in df.withColumn(
            "q",
            F.ntile(4)
            .over(Window.partitionBy(F.lit(1)).orderBy("_pos"))
            .cast("long"),
        ).collect()
    }
    assert got == exp


def test_grouped_positions_rejects_tied_order_keys(spark):
    """Same contract as global_running_sum: tied (group, order) keys
    straddling a range boundary would make positions nondeterministic —
    the opt-in assertion must catch them, and must reject SortOrder
    inputs with the explanatory error."""
    import pytest
    from pyspark.sql import functions as F

    from catena_spark.twophase import grouped_positions

    tied = spark.createDataFrame(
        [(1, 10, 1), (1, 10, 2), (2, 30, 3)], "g long, v long, id long"
    )
    with pytest.raises(ValueError, match="not a total order"):
        grouped_positions(
            tied.drop("id"), ["g"], [F.col("v")], assert_total_order=True
        )
    with pytest.raises(ValueError, match="plain column expressions"):
        grouped_positions(
            tied, ["g"], [F.col("v").desc()], assert_total_order=True
        )
    got = {
        r["id"]: (r["_pos"], r["_n"])
        for r in grouped_positions(
            tied, ["g"], [F.col("v"), F.col("id")], assert_total_order=True
        ).collect()
    }
    assert got == {1: (1, 2), 2: (2, 2), 3: (1, 1)}


# ---------------------------------------------------------------- r16:
# the schema-merge lattice's algebraic contract. merged_drifted_schema
# folds _merge_arrow_types over footers in WALK ORDER — for the superset
# schema to be deterministic regardless of which writer generation's
# file is listed first (the whole point of the mitigation), the merge
# must be commutative, associative, and idempotent over every type pair
# it accepts, and must refuse (ValueError) symmetrically. Enumerating
# the full closure of the fixture-relevant flat types plus their
# list-nestings is exhaustive, not sampled — the lattice is small.

def _lattice_types():
    import pyarrow as pa

    flat = [
        pa.int8(), pa.int16(), pa.int32(), pa.int64(),
        # r17: unsigned sightings + their uint64 container type
        pa.uint8(), pa.uint16(), pa.uint32(), pa.uint64(),
        pa.decimal128(20, 0),
        pa.float16(), pa.float32(), pa.float64(),
        # r17: unannotated-BYTE_ARRAY generations (string-annotation
        # drift) live in one family with the annotated strings
        pa.string(), pa.large_string(), pa.binary(), pa.large_binary(),
        pa.bool_(), pa.date32(),
        pa.timestamp("us"), pa.timestamp("ns"),
        # r17: the UTC-adjusted writer generations
        pa.timestamp("us", "UTC"), pa.timestamp("ns", "UTC"),
        pa.decimal128(12, 2), pa.decimal128(18, 2),
        # r17 struct-member evolution: member-set growth + member
        # widening + member-order permutation, all in one family
        pa.struct([("a", pa.int32())]),
        pa.struct([("a", pa.int64()), ("b", pa.string())]),
        pa.struct([("b", pa.string()), ("a", pa.int32())]),
        pa.struct([("c", pa.float64())]),
        # r17 map-generation widening (key/value through the lattice)
        pa.map_(pa.string(), pa.int32()),
        pa.map_(pa.string(), pa.int64()),
    ]
    return flat + [pa.list_(t) for t in flat]


def _merge_or_none(a, b, int96=frozenset()):
    from catena_spark.sources.encodings import _merge_arrow_types

    try:
        return _merge_arrow_types(a, b, "c", int96)
    except ValueError:
        return None


def test_merge_lattice_commutative_and_symmetric_refusal():
    types = _lattice_types()
    for a in types:
        for b in types:
            ab, ba = _merge_or_none(a, b), _merge_or_none(b, a)
            if ab is None:
                assert ba is None, f"asymmetric refusal: {a} vs {b}"
            else:
                assert ab.equals(ba), f"non-commutative: {a} vs {b}"


def test_merge_lattice_idempotent_and_absorbing():
    # merge(a, a) == a, and the merged result absorbs both inputs:
    # merge(m, a) == m == merge(m, b) — so footer ORDER cannot matter
    types = _lattice_types()
    for a in types:
        m = _merge_or_none(a, a)
        assert m is not None and m.equals(a), f"not idempotent: {a}"
    for a in types:
        for b in types:
            m = _merge_or_none(a, b)
            if m is None:
                continue
            for x in (a, b):
                mx = _merge_or_none(m, x)
                assert mx is not None and mx.equals(m), (
                    f"not absorbing: merge({a},{b})={m} then {x} -> {mx}"
                )


def test_merge_lattice_associative():
    types = _lattice_types()
    for a in types:
        for b in types:
            for c in types:
                ab = _merge_or_none(a, b)
                bc = _merge_or_none(b, c)
                left = _merge_or_none(ab, c) if ab is not None else None
                right = _merge_or_none(a, bc) if bc is not None else None
                # a refusal anywhere must not let a different
                # association order produce a value the other refuses
                # UNLESS the intermediate itself refused (fail-loud
                # beats order-dependence: both orders either agree on
                # the value or at least one path fails loud — never two
                # different silent values)
                if left is not None and right is not None:
                    assert left.equals(right), (
                        f"associativity value-split: ({a},{b},{c}) -> "
                        f"{left} vs {right}"
                    )


def test_merge_lattice_never_crosses_families():
    # int stays int, float stays float, timestamps never merge with
    # either (absent the INT96 flag), decimals never widen to double
    import pyarrow as pa

    types = _lattice_types()
    for a in types:
        for b in types:
            m = _merge_or_none(a, b)
            if m is None or a.equals(b):
                continue
            fams = set()
            for t in (a, b):
                base = t.value_type if pa.types.is_list(t) else t
                if str(base) in (
                    "int8", "int16", "int32", "int64",
                    # r17: unsigned sightings live in the integer
                    # family, and decimal128(20,0) is uint64's
                    # deliberate container — int-family by design
                    "uint8", "uint16", "uint32", "uint64",
                    "decimal128(20, 0)",
                ):
                    fams.add("int")
                elif str(base) in ("halffloat", "float", "double"):
                    fams.add("float")
                elif str(base) in (
                    "string", "large_string", "binary", "large_binary"
                ):
                    # r17 string-annotation drift: BYTE_ARRAY pages
                    # decode exactly under either read type; the
                    # lattice resolves mixes to string
                    fams.add("bytes")
                elif pa.types.is_map(base):
                    fams.add("map")
                elif pa.types.is_struct(base):
                    # r17 struct-member evolution: all structs are one
                    # family (members union by name, null-filled)
                    fams.add("struct")
                elif pa.types.is_timestamp(base):
                    # r17: naive + UTC-adjusted at one unit are the
                    # SAME family (annotation drift); units differ
                    fams.add(f"ts-{base.unit}")
                else:
                    fams.add(str(base))
            assert len(fams) == 1, (
                f"cross-family merge slipped through: {a} + {b} -> {m}"
            )


def test_merge_lattice_int96_flagged_branch():
    # with the column flagged INT96-physical, naive ns/us timestamps
    # merge to ns (both generations decode exactly as TimestampType);
    # the flag must not leak into any OTHER pair. Since r17 the
    # ANNOTATION drift resolves instead of refusing: naive beside
    # UTC-adjusted at the SAME non-ns unit merges to tz-aware
    # (naive-as-UTC — tick-exact on both engines, see
    # test_timestamp_annotation_drift_resolves_tz_aware); ns-aware
    # mixes and cross-unit annotation mixes still refuse.
    import pyarrow as pa

    flagged = frozenset({"c", "c.list.element"})
    ns, us = pa.timestamp("ns"), pa.timestamp("us")
    m = _merge_or_none(ns, us, flagged)
    assert m is not None and m.equals(ns)
    m = _merge_or_none(us, ns, flagged)
    assert m is not None and m.equals(ns)
    lm = _merge_or_none(pa.list_(us), pa.list_(ns), flagged)
    assert lm is not None and lm.equals(pa.list_(ns))
    assert _merge_or_none(ns, us, frozenset()) is None
    # r17 annotation rule: naive + UTC-adjusted, same non-ns unit
    for pair in ((pa.timestamp("us", "UTC"), us),
                 (us, pa.timestamp("us", "UTC"))):
        m = _merge_or_none(*pair, flagged)
        assert m is not None and m.equals(pa.timestamp("us", "UTC"))
    # ns-aware and cross-unit annotation mixes stay refused
    assert _merge_or_none(pa.timestamp("ns", "UTC"), ns, flagged) is None
    assert _merge_or_none(pa.timestamp("us", "UTC"), ns, flagged) is None
    for other in (pa.int64(), pa.string(), pa.date32()):
        assert _merge_or_none(ns, other, flagged) is None
