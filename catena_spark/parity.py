"""Oracle-parity conventions, centralized (SURVEY.md §7 step 2, FIXTURES.md).

The driver hash-compares Spark results against DuckDB exactly
(order-insensitive, columns sorted by name), so every driver-checked query
follows these rules — on BOTH sides:

1. UTC session timezone (session.ensure_runtime_conf) and timestamps
   **leave query outputs as strings** (``ts_str``/``DUCK_TS``) or epoch
   BIGINT — sidesteps Spark-µs vs DuckDB-ns representation entirely.
2. Alias every computed column identically in Spark and SQL.
3. Aggregates of decimal-exact quantities run in EXACT INTEGER UNITS
   (usum/usum_long + duck_usum): quantize to cents / 1e-4 / 1e-6
   units, sum exactly (order-free), ONE final deterministic
   cast+division — bit-identical doubles with no round() at all.
   r6: the final cast is spark_det_double/duck_det_double
   (limb-split), so bit-identity survives past 2^63 where the engines'
   native big-integer casts round differently. Both are SQL text:
   spark_det_double is the ONE Spark-side kernel (usum/usum_long take
   SQL text too and return a single ``F.expr``), so each kernel is
   parsed server-side in one py4j call instead of being built as a
   Column tree, and the Spark and DuckDB forms read side by side.
   r5 superseded the old round-at-the-exact-scale rule, which breaks
   two ways at scale: (a) once |sum| * 2^-52 approaches the round grid
   (a 2.8e9 sum has ulp 4.8e-7, above half of 1e-6), engines summing
   floats in different orders round to different values — and Spark's
   partial-agg order varies run-to-run with scheduling; (b) integer
   ratios tie EXACTLY at the grid when the denominator has a 2^7
   factor (333/640 = .5203125) and Spark's HALF_UP disagrees with
   DuckDB's scaled-multiply round. Corollaries: deterministic
   arithmetic on bit-identical inputs (division, subtraction, IEEE
   sqrt, greatest/least) is emitted RAW — rounding it only adds risk;
   thresholds on ratios are pure-integer predicates (10*i >= 9*u, not
   round(i/u, 6) >= 0.9); only engine-divergent transcendentals
   (ln, pow) keep a parity round.
4. Division: Spark ``/`` is always double; DuckDB 1.0 ``/`` likewise, but
   integer-result intent must use explicit casts on both sides.
5. Any LIMIT/top-k carries a deterministic total ORDER BY (key tiebreaks).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Spark: timestamp -> 'yyyy-MM-dd HH:mm:ss' string (UTC session tz).
def ts_str(col: Column | str) -> Column:
    return F.date_format(col, "yyyy-MM-dd HH:mm:ss")


def duck_ts(expr: str) -> str:
    """DuckDB: same formatting for a timestamp expression (ns-safe)."""
    return f"strftime(CAST(({expr}) AS TIMESTAMP), '%Y-%m-%d %H:%M:%S')"


def usum(expr: str, scale: int) -> Column:
    """ORDER-FREE exact sum of a decimal-exact SQL expression (r5).

    ``expr``'s true value must be decimal-exact at ``scale`` (e.g. a
    2-dec price at 2; price*(1-disc) at 4; *(1+tax) at 6). Rounding
    expr*10^scale to integer units is unambiguous (float noise ~1e-9 ulp
    vs a 0.5 margin), the unit sum in decimal(38,0) is exact in ANY
    accumulation order (no long wraparound at 1e-6-unit 100 TB sums;
    DuckDB's BIGINT sum auto-promotes to HUGEINT), and the single final
    cast+division is deterministic in both engines — bit-identical
    doubles with no round() tie to break. SQL twin: duck_usum, which
    takes the same ``expr`` text.

    The final cast goes through spark_det_double, so the bit-identity
    claim holds even once the unit sum passes 2^63 (the 100 TB regime
    where DuckDB's double-rounded HUGEINT cast and Spark's correctly
    rounded decimal cast can differ by 1 ulp near a boundary); below
    2^53 it equals the exact conversion.

    Returns ONE ``F.expr`` Column (an aggregate, for ``.agg()``): the
    whole kernel is parsed server-side in a single py4j call. The scale
    factor is written ``{float(10**scale)!r}D`` because Spark SQL reads
    a bare ``100.0`` as a DECIMAL literal; the ``D`` suffix makes it the
    DOUBLE the unit rounding and final division need.
    """
    m = f"{float(10**scale)!r}D"
    units = f"CAST(round(({expr}) * {m}, 0) AS BIGINT)"
    total = spark_det_double(f"sum(CAST({units} AS DECIMAL(38,0)))")
    return F.expr(f"{total} / {m}")


def usum_long(expr: str, scale: int) -> Column:
    """usum variant ACCUMULATING in BIGINT instead of decimal(38,0) —
    ~10% cheaper per Spark row (A/B-measured on TPC-H Q3 at sf0.1).
    ONLY for groups whose row count is schema-bounded and does not grow
    with data volume (e.g. lineitems per order <= 7, orders per customer
    ~constant), so the unit sum stays far from the 9.2e18 long limit at
    ANY scale factor (ANSI mode makes a violated bound fail loud, not
    wrap). Unbounded groups (per-nation, per-supplier, global) must use
    usum. The DuckDB twin is the same duck_usum — DuckDB always sums
    BIGINT into HUGEINT.

    The BIGINT sum is widened to decimal(38,0) once per group and then
    goes through spark_det_double like usum's, so bit-parity with
    duck_usum holds over the FULL long range, not just below 2^53. Same
    text contract and ``D`` literal as usum."""
    m = f"{float(10**scale)!r}D"
    units = f"CAST(round(({expr}) * {m}, 0) AS BIGINT)"
    total = spark_det_double(f"CAST(sum({units}) AS DECIMAL(38,0))")
    return F.expr(f"{total} / {m}")


def duck_usum(expr: str, scale: int) -> str:
    """DuckDB twin of usum and usum_long — identical unit/divide
    structure; the final cast goes through duck_det_double, matching
    both Spark forms bit-for-bit at any magnitude."""
    m = 10**scale
    s = f"sum(CAST(round(({expr}) * {m}, 0) AS BIGINT))"
    return f"({duck_det_double(s)} / {m}.0)"


#: |x| <= 2^53 is exactly representable in an IEEE double, so BOTH
#: engines' native integer->double casts equal the mathematically exact
#: conversion below it — the shared fast-path predicate of
#: spark_det_double and duck_det_double (one constant interpolated into
#: both kernels so the branch predicates can never drift apart).
DOUBLE_EXACT_MAX = 2**53


def spark_det_double(expr: str) -> str:
    """Deterministic exact-integer -> DOUBLE conversion as Spark SQL
    text, bit-identical to duck_det_double over the FULL
    decimal(38,0)/HUGEINT range (r6). The ONE Spark-side kernel: usum,
    usum_long, agg_pricing_summary and agg_stats_suite all route their
    big-integer casts through it; wrap it in ``F.expr``/``selectExpr``.

    Why: beyond 2^63 the engines' native big-integer->double casts round
    differently — DuckDB converts HUGEINT as (double)lower +
    (double)upper*2^64 (double rounding), Spark's decimal(38,0)->double
    is correctly rounded — so near a rounding boundary they can differ
    by 1 ulp. That is exactly the rare-systematic divergence class the
    integer-unit doctrine eliminates, reintroduced at the very last
    cast. (The squared price moments in agg_stats_suite reach 1e23–1e24
    at sf0.1; 1e-6-unit money sums pass 2^63 around the 100 TB mark.)

    How: split |x| into four base-1e9 limbs (11+9+9+9 = 38 digits; every
    limb < 2^53 so each limb->double cast is EXACT in any engine), then
    recombine with the identical IEEE-754 multiply/add sequence
    ``((l3*1e9 + l2)*1e9 + l1)*1e9 + l0`` — correctly-rounded primitives
    on bit-identical inputs, hence bit-identical results. Beyond 2^53
    the result may differ from the correctly-rounded conversion by ~1
    ulp but is the SAME double in both engines — determinism is the
    parity requirement, not last-ulp accuracy. Limbs come from the
    decimal's digit string (decimal(38,0) renders as plain digits); the
    absolute value strips the '-' from that string instead of abs(),
    because Spark's decimal negate/abs round through a 34-digit
    DECIMAL128 MathContext, which mangles (or ANSI-errors on) wider
    values.

    Fast path (r9): |x| <= DOUBLE_EXACT_MAX takes the native cast —
    below 2^53 both the native cast and the limb combine equal the
    exact conversion, so the branch cannot change a result, and the
    limb kernel runs only in the regime it exists for. The predicate is
    spelled ``x >= -2^53L AND x <= 2^53L``, not ``BETWEEN``: Spark 4.1
    rewrites SQL BETWEEN into a ``With``/``_common_expr_N`` projection,
    an extra plan node the two comparisons do not need. The ``L``
    suffix makes the bounds BIGINT literals.
    """
    xd = f"CAST(({expr}) AS DECIMAL(38,0))"
    digits = f"lpad(regexp_replace(CAST({xd} AS STRING), '^-', ''), 38, '0')"
    l3 = f"CAST(CAST(substring({digits}, 1, 11) AS BIGINT) AS DOUBLE)"
    l2 = f"CAST(CAST(substring({digits}, 12, 9) AS BIGINT) AS DOUBLE)"
    l1 = f"CAST(CAST(substring({digits}, 21, 9) AS BIGINT) AS DOUBLE)"
    l0 = f"CAST(CAST(substring({digits}, 30, 9) AS BIGINT) AS DOUBLE)"
    mag = f"((({l3} * 1.0E9 + {l2}) * 1.0E9 + {l1}) * 1.0E9 + {l0})"
    limb = f"(CASE WHEN ({expr}) < 0 THEN -{mag} ELSE {mag} END)"
    return (
        f"(CASE WHEN {xd} >= -{DOUBLE_EXACT_MAX}L AND {xd} <= {DOUBLE_EXACT_MAX}L "
        f"THEN CAST({xd} AS DOUBLE) ELSE {limb} END)"
    )


def duck_det_double(expr: str) -> str:
    """DuckDB twin of spark_det_double — same limbs via HUGEINT
    ``//``/``%``, same IEEE combine sequence. Valid over the full
    HUGEINT range.

    r9: branches on the identical |x| <= 2^53 predicate as
    spark_det_double's fast path; DuckDB's HUGEINT->DOUBLE cast is exact
    below 2^53, so both twins' fast branches equal the exact conversion
    and parity is preserved by construction."""
    a = f"abs(CAST(({expr}) AS HUGEINT))"
    l3 = f"CAST(({a} // 1000000000000000000000000000) AS DOUBLE)"
    l2 = f"CAST((({a} % 1000000000000000000000000000) // 1000000000000000000) AS DOUBLE)"
    l1 = f"CAST((({a} % 1000000000000000000) // 1000000000) AS DOUBLE)"
    l0 = f"CAST(({a} % 1000000000) AS DOUBLE)"
    mag = f"((({l3} * 1e9 + {l2}) * 1e9 + {l1}) * 1e9 + {l0})"
    limb = f"(CASE WHEN ({expr}) < 0 THEN -{mag} ELSE {mag} END)"
    return (
        f"(CASE WHEN {a} <= {DOUBLE_EXACT_MAX} "
        f"THEN CAST(CAST(({expr}) AS HUGEINT) AS DOUBLE) ELSE {limb} END)"
    )


def norm_cell(v):
    """Canonicalize one result cell for exact cross-engine comparison —
    the single definition shared by the local mirror
    (tests/test_driver_parity.py) and the driver-gate rehearsal
    (scripts/preflight_driver.py), so a parity-rule change can never
    land in one and not the other.

    Floats use ``repr`` (exact bits — the parity rules above must make
    them identical, not merely close); -0.0 folds into 0.0; NaN is its
    own token; temporals use ISO format; lists/bytes get stable
    serializations.
    """
    import datetime
    import math

    if v is None:
        return "<null>"
    if isinstance(v, float):
        if math.isnan(v):
            return "<nan>"
        if v == 0.0:
            return repr(0.0)  # -0.0 == 0.0
        return repr(v)
    if isinstance(v, bool):
        return repr(v)
    if isinstance(v, int):
        return repr(v)
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)
