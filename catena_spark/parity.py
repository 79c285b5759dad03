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
   The final cast is det_double, the ONE big-integer->double kernel:
   the same SQL text in both engines, correctly rounded at any
   magnitude, so bit-identity survives past 2^53 without a second
   Spark/DuckDB form. usum/usum_long take SQL text and return a single
   ``F.expr``, so each kernel is parsed server-side in one py4j call.
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
    det_double + division is the same correctly rounded double in both
    engines — bit-identical with no round() tie to break, at any
    magnitude. SQL twin: duck_usum, which takes the same ``expr`` text.

    Returns ONE ``F.expr`` Column (an aggregate, for ``.agg()``): the
    whole kernel is parsed server-side in a single py4j call. The scale
    factor is written ``{float(10**scale)!r}D`` because Spark SQL reads
    a bare ``100.0`` as a DECIMAL literal; the ``D`` suffix makes it the
    DOUBLE the unit rounding and final division need.
    """
    m = f"{float(10**scale)!r}D"
    units = f"CAST(round(({expr}) * {m}, 0) AS BIGINT)"
    total = det_double(f"sum(CAST({units} AS DECIMAL(38,0)))")
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

    The BIGINT sum goes straight into det_double, whose decimal(38,0)
    cast is exact for every long, so bit-parity with duck_usum holds
    over the FULL long range. Same text contract and ``D`` literal as
    usum."""
    m = f"{float(10**scale)!r}D"
    units = f"CAST(round(({expr}) * {m}, 0) AS BIGINT)"
    return F.expr(f"{det_double(f'sum({units})')} / {m}")


def duck_usum(expr: str, scale: int) -> str:
    """DuckDB twin of usum and usum_long — identical unit/divide
    structure and the same det_double text, so it matches both Spark
    forms bit-for-bit at any magnitude. The sums really differ: Spark
    needs the decimal(38,0) (or schema-bounded BIGINT) sum, while
    DuckDB's BIGINT sum promotes to HUGEINT by itself."""
    m = 10**scale
    s = f"sum(CAST(round(({expr}) * {m}, 0) AS BIGINT))"
    return f"({det_double(s)} / {m}.0)"


def det_double(expr: str) -> str:
    """Exact integer -> correctly rounded DOUBLE, as SQL text that is
    the SAME string for Spark and DuckDB. The one big-integer cast
    kernel: usum, usum_long, duck_usum, agg_pricing_summary and
    agg_stats_suite route every integer->double conversion through it;
    wrap it in ``F.expr``/``selectExpr`` on the Spark side.

    Why: past 2^64 DuckDB's native HUGEINT->DOUBLE cast rounds twice
    ((double)lower + (double)upper*2^64), while Spark's decimal->double
    is correctly rounded, so near a rounding boundary the native casts
    differ by 1 ulp. (The squared price moments in agg_stats_suite reach
    1e23–1e24 at sf0.1; 1e-6-unit money sums pass 2^63 around the 100 TB
    mark.)

    How: render the integer as its decimal(38,0) digit string and parse
    that string as a double. Both engines' string->double parsers are
    correctly rounded, so both return float(int(x)) exactly — equal to
    the native cast below 2^53, and the same correctly rounded double
    above it. The digit string needs no abs()/negate: Spark's decimal
    negate/abs round through a 34-digit DECIMAL128 context. Range:
    |x| < 10^38, the decimal(38,0) range (DuckDB fails loud on a wider
    HUGEINT, as Spark's ANSI decimal overflow does).
    """
    return f"CAST(CAST(CAST(({expr}) AS DECIMAL(38,0)) AS STRING) AS DOUBLE)"


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
