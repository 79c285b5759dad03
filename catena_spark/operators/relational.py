"""Relational core (SURVEY.md §2-D) — pure Catalyst built-ins.

Catena has no relational layer at all (SURVEY.md §2 exhaustiveness note);
these operators are mandated by the driver's oracle harness and are
deliberately zero-custom-engine-code: declare the plan, let Catalyst pick
pushdown / broadcast / sort-merge / TakeOrderedAndProject (SURVEY.md §4).

Common scale properties (verified in tests/test_plans.py):
- Filters sit directly on scans so they push into Parquet row-group stats.
- Dimension joins broadcast (Catalyst threshold or explicit hint).
- Aggregates are partial (map-side combine) before the exchange.
- Top-k runs as TakeOrderedAndProject — no global sort at scale.

Parity conventions: catena_spark/parity.py. Integer-producing scalar
functions are cast to BIGINT on both sides (Spark int vs DuckDB bigint);
timestamps leave queries as formatted strings or epoch seconds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import tables
from ..parity import det_double, duck_usum, usum, usum_long
from ..registry import query
from ..twophase import grouped_positions


# ---------------------------------------------------------------- A6: scan

@query(
    "scan_lineitem_count",
    "A6",
    oracle="SELECT count(*) AS n FROM lineitem",
)
def scan_lineitem_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bare parquet scan + count. Scale: count(*) answers from row-group
    metadata + partial counts; no shuffle beyond the final 1-row reduce."""
    return tables.load(spark, sf_dir, "lineitem").agg(F.count(F.lit(1)).alias("n"))


# ---------------------------------------------------------------- D7: flagship

@query(
    "agg_pricing_summary",
    "D7",
    oracle=f"""
    WITH u AS (
        SELECT l_returnflag, l_linestatus,
               CAST(l_quantity AS BIGINT)                   AS qi,
               CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS pc,
               CAST(round(l_discount      * 100, 0) AS BIGINT) AS dc,
               CAST(round(l_tax           * 100, 0) AS BIGINT) AS tc
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00')
    SELECT l_returnflag, l_linestatus,
           {det_double("sum(qi)")}                         AS sum_qty,
           {det_double("sum(pc)")} / 100.0                 AS sum_base,
           {det_double("sum(pc * (100 - dc))")} / 10000.0  AS sum_disc_price,
           {det_double("sum(pc * (100 - dc) * (100 + tc))")} / 1000000.0
                                                           AS sum_charge,
           {det_double("sum(qi)")} / CAST(count(*) AS DOUBLE)   AS avg_qty,
           {det_double("sum(pc)")} / CAST(100 * count(*) AS DOUBLE) AS avg_price,
           {det_double("sum(dc)")} / CAST(100 * count(*) AS DOUBLE) AS avg_disc,
           count(*)                                        AS cnt
    FROM u GROUP BY l_returnflag, l_linestatus
    """,
)
def agg_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLAGSHIP (TPC-H Q1 shape): multi-key hash aggregate over the fact
    table with a pushed-down date filter.

    Parity (r5 hardening — the sf0.1 mirror caught a round-boundary tie):
    rounding a FLOAT sum is order-sensitive once |sum|*2^-52 approaches
    the round grid (sum_charge ~2.8e9 at sf0.1 has ulp 4.8e-7 > half of
    1e-6), so engines summing in different orders can round to different
    values. All monetary inputs are 2-decimal-exact, so sums are exact
    BIGINT integer-unit arithmetic (cents / 1e-4 / 1e-6 units) in BOTH
    engines — order-free — with ONE final deterministic conversion +
    division producing bit-identical doubles. Spark sums in decimal(38,0)
    (long would wrap around 9.2e18 — reachable for the 1e-6-unit charge
    sum near ~1e12 rows); DuckDB's BIGINT sum auto-promotes to HUGEINT.
    That final conversion is parity.det_double, the same SQL text in
    both engines: the sum's decimal digit string parsed as a double,
    correctly rounded in both, so the bit-identity survives past 2^64,
    where DuckDB's native HUGEINT cast rounds twice; below 2^53 it
    equals the exact conversion.

    Scale: map-side partial aggregation, 6-group shuffle; the shipdate
    predicate reaches the Parquet scan (PushedFilters) so at 100 TB only
    qualifying row groups are read.
    """
    li = tables.load(spark, sf_dir, "lineitem")
    # SQL text, like the oracle: each aggregate is one server-side parse
    # instead of a py4j Column tree.
    qi = "CAST(l_quantity AS BIGINT)"
    pc = "CAST(round(l_extendedprice * 100, 0) AS BIGINT)"
    dc = "CAST(round(l_discount * 100, 0) AS BIGINT)"
    tc = "CAST(round(l_tax * 100, 0) AS BIGINT)"
    dec_sum = lambda e: f"sum(CAST(({e}) AS DECIMAL(38,0)))"  # noqa: E731
    sq, spc, sdc = dec_sum(qi), dec_sum(pc), dec_sum(dc)
    sdp = dec_sum(f"({pc}) * (100 - {dc})")
    sch = dec_sum(f"({pc}) * (100 - {dc}) * (100 + {tc})")
    dd = det_double
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.expr(dd(sq)).alias("sum_qty"),
            F.expr(f"{dd(spc)} / CAST(100.0 AS DOUBLE)").alias("sum_base"),
            F.expr(f"{dd(sdp)} / CAST(10000.0 AS DOUBLE)").alias(
                "sum_disc_price"
            ),
            F.expr(f"{dd(sch)} / CAST(1000000.0 AS DOUBLE)").alias("sum_charge"),
            F.expr(f"{dd(sq)} / CAST(count(1) AS DOUBLE)").alias("avg_qty"),
            F.expr(f"{dd(spc)} / CAST(count(1) * 100 AS DOUBLE)").alias(
                "avg_price"
            ),
            F.expr(f"{dd(sdc)} / CAST(count(1) * 100 AS DOUBLE)").alias(
                "avg_disc"
            ),
            F.expr("count(1)").alias("cnt"),
        )
    )


# ---------------------------------------------------------------- D2: filter

@query(
    "filter_pushdown_dates",
    "D2",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity, l_discount,
           strftime(CAST(l_shipdate AS TIMESTAMP), '%Y-%m-%d') AS ship_day
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      AND l_returnflag IN ('A', 'R')
      AND l_discount BETWEEN 0.02 AND 0.08
    """,
)
def filter_pushdown_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive range + IN + BETWEEN filter.

    Scale: all four predicates push to the parquet scan; with a dt
    partition layout (sources/ingest.py) the date range also prunes whole
    partition directories before any task launches.
    """
    li = tables.load(spark, sf_dir, "lineitem")
    return li.where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        & F.col("l_returnflag").isin("A", "R")
        & F.col("l_discount").between(0.02, 0.08)
    ).select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        "l_quantity",
        "l_discount",
        F.date_format("l_shipdate", "yyyy-MM-dd").alias("ship_day"),
    )


# ---------------------------------------------------------------- D3-D6: joins

@query(
    "join_orders_customer",
    "D3",
    oracle=f"""
    SELECT c_mktsegment, o_orderstatus,
           count(*) AS n_orders,
           {duck_usum("o_totalprice", 2)} AS sum_total
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment, o_orderstatus
    """,
)
def join_orders_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner equi-join fact->dim then aggregate.

    Scale: customer is the smaller side; Catalyst broadcasts it under the
    threshold, else AQE converts to broadcast at runtime. No hint needed —
    at 100 TB customer may exceed broadcast size and SMJ is then correct.
    """
    o = tables.load(spark, sf_dir, "orders")
    c = tables.load(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey, "inner")
        .groupBy("c_mktsegment", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            usum("o_totalprice", 2).alias("sum_total"),
        )
    )


@query(
    "join_left_orders_lineitem",
    "D4",
    oracle=f"""
    SELECT o.o_orderkey, o.o_orderstatus,
           count(l.l_orderkey) AS n_big_items,
           coalesce({duck_usum("l.l_extendedprice", 2)}, 0.0) AS sum_big
    FROM orders o
    LEFT JOIN (SELECT * FROM lineitem WHERE l_quantity > 45) l
      ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderkey, o.o_orderstatus
    """,
)
def join_left_orders_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join with a filtered right side; unmatched rows keep
    count 0 / sum 0.0 (null-semantics check).

    Scale: the quantity filter applies below the join (pushed to the
    scan), shrinking the shuffled right side ~10x before the SMJ.
    """
    o = tables.load(spark, sf_dir, "orders")
    li = tables.load(spark, sf_dir, "lineitem").where(F.col("l_quantity") > 45)
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left")
        .groupBy("o_orderkey", "o_orderstatus")
        .agg(
            F.count("l_orderkey").alias("n_big_items"),
            # usum_long: <= 7 lineitems per order at ANY scale factor
            F.coalesce(usum_long("l_extendedprice", 2), F.lit(0.0)).alias("sum_big"),
        )
    )


@query(
    "join_semi_customers_purchasers",
    "D5",
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
    """,
)
def join_semi_customers_purchasers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (EXISTS): customers with at least one 400k+ order.

    Scale: semi-join shuffles only the distinct keys of the filtered
    orders side — never multiplies rows.
    """
    c = tables.load(spark, sf_dir, "customer")
    o = tables.load(spark, sf_dir, "orders").where(F.col("o_totalprice") > 400000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


@query(
    "join_anti_customers_no_orders",
    "D5",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
    """,
)
def join_anti_customers_no_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (NOT EXISTS): customers with no urgent orders.

    (The priority filter keeps the result non-degenerate — every customer
    has *some* order in the fixtures.)
    """
    c = tables.load(spark, sf_dir, "customer")
    o = tables.load(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@query(
    "join_theta_nation_pairs",
    "D6",
    oracle="""
    SELECT a.n_name AS nation_a, b.n_name AS nation_b, a.n_regionkey AS regionkey
    FROM nation a JOIN nation b
      ON a.n_regionkey = b.n_regionkey AND a.n_nationkey < b.n_nationkey
    """,
)
def join_theta_nation_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta join: unordered same-region nation pairs (equi part on
    regionkey + inequality residual).

    Scale: the equi component keys the shuffle/broadcast; the inequality
    stays a post-join filter — never a nested-loop cross product.
    """
    n = tables.load(spark, sf_dir, "nation")
    a, b = n.alias("a"), n.alias("b")
    return a.join(
        b,
        (F.col("a.n_regionkey") == F.col("b.n_regionkey"))
        & (F.col("a.n_nationkey") < F.col("b.n_nationkey")),
        "inner",
    ).select(
        F.col("a.n_name").alias("nation_a"),
        F.col("b.n_name").alias("nation_b"),
        F.col("a.n_regionkey").alias("regionkey"),
    )


# ---------------------------------------------------------------- D8-D9: aggs

@query(
    "agg_count_distinct",
    "D8",
    oracle="""
    SELECT l_returnflag,
           count(DISTINCT l_partkey) AS n_parts,
           count(DISTINCT l_suppkey) AS n_supps,
           count(*) AS cnt
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi count-distinct in one aggregate (Catalyst expand + partial
    distinct). approx_count_distinct is the 100 TB variant — exact here
    for oracle parity; the approx twin lives in tests."""
    li = tables.load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.count(F.lit(1)).alias("cnt"),
    )


@query(
    "agg_rollup_nation_region",
    "D9",
    oracle=f"""
    SELECT r_name, n_name, count(*) AS n_cust,
           {duck_usum("c_acctbal", 2)} AS sum_bal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
)
def agg_rollup_nation_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over a 3-way dim join (grouping-sets machinery).

    Scale: nation/region broadcast (25/5 rows at any SF); rollup expands
    rows 3x pre-shuffle but group count stays tiny.
    """
    c = tables.load(spark, sf_dir, "customer")
    n = tables.load(spark, sf_dir, "nation")
    r = tables.load(spark, sf_dir, "region")
    joined = c.join(
        F.broadcast(n), c.c_nationkey == n.n_nationkey
    ).join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    return joined.rollup("r_name", "n_name").agg(
        F.count(F.lit(1)).alias("n_cust"),
        usum("c_acctbal", 2).alias("sum_bal"),
    )


# ---------------------------------------------------------------- D10-D12: windows, top-k

@query(
    "win_rank_orders_per_cust",
    "D10",
    oracle="""
    SELECT o_custkey, o_orderkey, CAST(rn AS BIGINT) AS rn, CAST(rnk AS BIGINT) AS rnk
    FROM (SELECT o_custkey, o_orderkey,
                 row_number() OVER (PARTITION BY o_custkey
                                    ORDER BY o_orderdate, o_orderkey) AS rn,
                 rank() OVER (PARTITION BY o_custkey
                              ORDER BY o_totalprice DESC) AS rnk
          FROM orders)
    WHERE rn <= 3
    """,
)
def win_rank_orders_per_cust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking windows: first 3 orders per customer by date (row_number
    with deterministic orderkey tiebreak) + spend rank.

    Scale: one shuffle on o_custkey serves both windows (same partition
    key); skewed customers are handled by AQE.
    """
    o = tables.load(spark, sf_dir, "orders")
    w_date = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_spend = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc())
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            F.row_number().over(w_date).cast("long").alias("rn"),
            F.rank().over(w_spend).cast("long").alias("rnk"),
        )
        .where(F.col("rn") <= 3)
    )


@query(
    "win_running_revenue",
    "D11",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) OVER w_cum
                AS DOUBLE) / 100.0 AS running_total,
           CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) OVER w_ma3
                AS DOUBLE)
               / CAST(100 * count(*) OVER w_ma3 AS DOUBLE) AS ma3,
           lag(o_totalprice, 1)  OVER w_ord AS prev_total,
           lead(o_totalprice, 1) OVER w_ord AS next_total
    FROM orders
    WINDOW w_ord AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
           w_cum AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
           w_ma3 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                     ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
    """,
)
def win_running_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic windows: running sum, 3-row moving average, lag/lead —
    frames spelled out explicitly (engine frame defaults differ).

    Parity (r5): windowed float sums are NOT order-identical across
    engines (DuckDB aggregates window frames via segment trees, Spark
    accumulates) and a 150k-row cumulative sum reaches ~2e10 where ulp
    (~4e-6) can cross a 2dp round boundary — so both engines sum exact
    integer CENTS over the frame and divide once, bit-identically."""
    o = tables.load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    w_cum = w.rowsBetween(Window.unboundedPreceding, 0)
    w_ma3 = w.rowsBetween(-2, 0)
    return o.select(
        "o_custkey",
        "o_orderkey",
        (F.sum(cents).over(w_cum).cast("double") / F.lit(100.0)).alias(
            "running_total"
        ),
        (
            F.sum(cents).over(w_ma3).cast("double")
            / (F.count(F.lit(1)).over(w_ma3) * 100).cast("double")
        ).alias("ma3"),
        F.lag("o_totalprice", 1).over(w).alias("prev_total"),
        F.lead("o_totalprice", 1).over(w).alias("next_total"),
    )


@query(
    "topk_revenue_q3",
    "D12",
    oracle=f"""
    SELECT o.o_orderkey,
           {duck_usum("l.l_extendedprice * (1 - l.l_discount)", 4)} AS revenue,
           strftime(CAST(o.o_orderdate AS TIMESTAMP), '%Y-%m-%d') AS order_day
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING' AND o.o_orderstatus = 'O'
    GROUP BY o.o_orderkey, o.o_orderdate
    ORDER BY revenue DESC, o.o_orderkey
    LIMIT 10
    """,
)
def topk_revenue_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter -> 3-way join -> agg -> top-10.

    Scale: segment filter pushes below the join; the final ORDER BY+LIMIT
    compiles to TakeOrderedAndProject (per-partition top-k then merge of
    10-row heaps — no global sort). Ordering is on the exact-unit revenue
    (bit-identical across engines, r5) with an orderkey tiebreak so both
    engines pick identical top-10 sets.
    """
    c = tables.load(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = tables.load(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "O")
    li = tables.load(spark, sf_dir, "lineitem")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(
            # usum_long: <= 7 lineitems per order at ANY scale factor
            usum_long("l_extendedprice * (1 - l_discount)", 4).alias("revenue")
        )
        .select(
            "o_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_day"),
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
    )


# ---------------------------------------------------------------- D13: set ops

@query(
    "setop_union_intersect",
    "D13",
    oracle="""
    WITH a AS (SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'),
         b AS (SELECT DISTINCT o_custkey AS k FROM orders WHERE o_totalprice > 300000)
    SELECT 'union' AS op, k FROM (SELECT k FROM a UNION SELECT k FROM b)
    UNION ALL
    SELECT 'intersect' AS op, k FROM (SELECT k FROM a INTERSECT SELECT k FROM b)
    UNION ALL
    SELECT 'except' AS op, k FROM (SELECT k FROM a EXCEPT SELECT k FROM b)
    """,
)
def setop_union_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION (distinct) / INTERSECT / EXCEPT over two key sets, tagged and
    stacked so one result exercises all three.

    Scale: each set op is a shuffle on the full row; distinct inputs are
    pre-shrunk by their filters.
    """
    c = tables.load(spark, sf_dir, "customer")
    o = tables.load(spark, sf_dir, "orders")
    a = c.where(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("k")
    )
    b = (
        o.where(F.col("o_totalprice") > 300000)
        .select(F.col("o_custkey").alias("k"))
        .distinct()
    )
    tag = lambda df, t: df.select(F.lit(t).alias("op"), "k")  # noqa: E731
    return (
        tag(a.union(b).distinct(), "union")
        .unionAll(tag(a.intersect(b), "intersect"))
        .unionAll(tag(a.subtract(b), "except"))
    )


# ---------------------------------------------------------------- D14: subqueries

@query(
    "subq_above_avg_price",
    "D14",
    oracle=f"""
    SELECT p.p_brand, count(*) AS n_small,
           {duck_usum("l.l_extendedprice", 2)} AS sum_price
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE l.l_quantity < (SELECT 0.5 * avg(l2.l_quantity)
                          FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)
    GROUP BY p.p_brand
    """,
)
def subq_above_avg_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (TPC-H Q17 shape) via the SQL entry
    point — Catalyst decorrelates it into an aggregate + join.

    Parity note: l_quantity is integer-valued (verified), so the
    0.5*avg threshold is IEEE-exact on both engines and the comparison
    cannot flip on float noise. sum_price is an exact cents sum (r5,
    order-free — mirrors parity.usum in SQL form).
    """
    for t in ("lineitem", "part"):
        tables.load(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(
        """
        SELECT p.p_brand, count(*) AS n_small,
               CAST(sum(CAST(CAST(round(l.l_extendedprice * 100, 0) AS BIGINT)
                             AS DECIMAL(38,0))) AS DOUBLE) / 100.0 AS sum_price
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        WHERE l.l_quantity < (SELECT 0.5 * avg(l2.l_quantity)
                              FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)
        GROUP BY p.p_brand
        """
    )


# ---------------------------------------------------------------- D15-D21: scalar function suites

@query(
    "fn_string_suite",
    "D15",
    oracle="""
    SELECT p_partkey,
           upper(p_name)                            AS up_name,
           lower(p_brand)                           AS lo_brand,
           substring(p_name, 1, 5)                  AS pre5,
           concat_ws(':', p_brand, p_type)          AS label,
           CAST(length(p_name) AS BIGINT)           AS name_len,
           replace(p_name, ' ', '_')                AS und_name,
           regexp_extract(p_name, '^(\\w+)', 1)     AS first_word,
           regexp_extract(p_name, '(\\w+)$', 1)     AS last_word,
           (p_name LIKE '%red%')                    AS has_red,
           lpad(p_brand, 10, '*')                   AS pad_brand,
           CASE WHEN p_size > 25 THEN 'big' ELSE 'small' END AS size_class,
           CAST(greatest(p_size, 10) AS BIGINT)     AS size_floor10
    FROM part
    """,
)
def fn_string_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String function battery (D15 + folded D21 CASE/greatest) over part."""
    p = tables.load(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("up_name"),
        F.lower("p_brand").alias("lo_brand"),
        F.substring("p_name", 1, 5).alias("pre5"),
        F.concat_ws(":", "p_brand", "p_type").alias("label"),
        F.length("p_name").cast("long").alias("name_len"),
        F.regexp_replace("p_name", " ", "_").alias("und_name"),
        F.regexp_extract("p_name", r"^(\w+)", 1).alias("first_word"),
        F.regexp_extract("p_name", r"(\w+)$", 1).alias("last_word"),
        F.col("p_name").like("%red%").alias("has_red"),
        F.lpad("p_brand", 10, "*").alias("pad_brand"),
        F.when(F.col("p_size") > 25, "big").otherwise("small").alias("size_class"),
        F.greatest("p_size", F.lit(10)).cast("long").alias("size_floor10"),
    )


@query(
    "fn_date_suite",
    "D16",
    oracle="""
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS BIGINT)    AS od_year,
           CAST(month(o_orderdate) AS BIGINT)   AS od_month,
           CAST(day(o_orderdate) AS BIGINT)     AS od_day,
           CAST(quarter(o_orderdate) AS BIGINT) AS od_quarter,
           CAST(isodow(CAST(o_orderdate AS DATE)) AS BIGINT) AS iso_dow,
           strftime(date_trunc('month', CAST(o_orderdate AS TIMESTAMP)), '%Y-%m-%d') AS month_start,
           strftime(CAST(o_orderdate AS TIMESTAMP) + INTERVAL 30 DAY, '%Y-%m-%d')    AS plus30,
           strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d')                 AS month_end,
           CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2000-01-01') AS BIGINT) AS days_to_y2k,
           CAST(epoch(CAST(o_orderdate AS TIMESTAMP)) AS BIGINT) AS epoch_s
    FROM orders
    """,
)
def fn_date_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time function battery over orders (UTC both engines).

    iso_dow uses Spark weekday()+1 == DuckDB isodow (Monday=1) — the
    engines' native dayofweek numberings disagree (FIXTURES.md trap).
    """
    o = tables.load(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").cast("long").alias("od_year"),
        F.month("o_orderdate").cast("long").alias("od_month"),
        F.dayofmonth("o_orderdate").cast("long").alias("od_day"),
        F.quarter("o_orderdate").cast("long").alias("od_quarter"),
        (F.weekday("o_orderdate") + 1).cast("long").alias("iso_dow"),
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM-dd").alias(
            "month_start"
        ),
        F.date_format(
            F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"), "yyyy-MM-dd"
        ).alias("plus30"),
        F.date_format(F.last_day("o_orderdate"), "yyyy-MM-dd").alias("month_end"),
        F.datediff(F.lit("2000-01-01").cast("date"), F.col("o_orderdate"))
        .cast("long")
        .alias("days_to_y2k"),
        F.unix_timestamp("o_orderdate").alias("epoch_s"),
    )


@query(
    "fn_math_suite",
    "D17",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_extendedprice / l_quantity            AS unit_price,
           CAST(floor(l_extendedprice) AS BIGINT)  AS price_floor,
           CAST(ceil(l_extendedprice) AS BIGINT)   AS price_ceil,
           abs(l_discount - 0.05)                  AS disc_dev,
           round(pow(l_quantity, 2), 4)            AS qty_sq,
           sqrt(l_extendedprice)                   AS price_root,
           round(ln(l_extendedprice), 6)           AS price_ln,
           l_orderkey // 100                       AS okey_div100,
           l_orderkey % 7                          AS okey_mod7,
           greatest(l_tax, l_discount)             AS max_rate,
           least(l_tax, l_discount)                AS min_rate,
           coalesce(nullif(l_tax, 0.0), -1.0)      AS tax_or_neg
    FROM lineitem WHERE l_linenumber = 1
    """,
)
def fn_math_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math function battery (D17 + folded D21 coalesce/nullif/least).

    Division: Spark ``/`` is always double-division — DuckDB 1.0 matches;
    integer division is explicit (`div` / `//`) on both sides.

    Parity (r5): operations that are DETERMINISTIC on bit-identical
    inputs — division, subtraction/abs, IEEE-correctly-rounded sqrt,
    greatest/least selection — are emitted RAW: both engines produce the
    same double, and rounding them only ADDS risk (the sf0.1 mirror
    caught round(p/q, 6) landing in the window where Spark's
    exact-decimal HALF_UP and DuckDB's scaled-multiply round disagree).
    Only transcendentals whose libm may differ by an ulp across engines
    (ln, pow) keep a parity round.
    """
    li = tables.load(spark, sf_dir, "lineitem").where(F.col("l_linenumber") == 1)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_price"),
        F.floor("l_extendedprice").cast("long").alias("price_floor"),
        F.ceil("l_extendedprice").cast("long").alias("price_ceil"),
        F.abs(F.col("l_discount") - 0.05).alias("disc_dev"),
        F.round(F.pow("l_quantity", F.lit(2)), 4).alias("qty_sq"),
        F.sqrt("l_extendedprice").alias("price_root"),
        F.round(F.log("l_extendedprice"), 6).alias("price_ln"),
        F.expr("l_orderkey div 100").alias("okey_div100"),
        (F.col("l_orderkey") % 7).alias("okey_mod7"),
        F.greatest("l_tax", "l_discount").alias("max_rate"),
        F.least("l_tax", "l_discount").alias("min_rate"),
        F.coalesce(F.nullif("l_tax", F.lit(0.0)), F.lit(-1.0)).alias("tax_or_neg"),
    )


@query(
    "fn_array_suite",
    "D18",
    oracle="""
    SELECT vec_id, label,
           CAST(len(embedding) AS BIGINT) AS dim,
           CAST(embedding[1] AS DOUBLE)   AS first_v,
           CAST(list_aggregate(embedding, 'max') AS DOUBLE) AS max_v,
           round(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE))), 6) AS sum_v,
           round(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), 6) AS norm_sq,
           CAST(len(list_filter(embedding, x -> x > 0)) AS BIGINT) AS n_pos
    FROM embeddings
    """,
)
def fn_array_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array higher-order functions over the embedding column (dim-64
    float32): size / index / max / fold-sum / squared-norm / filter-count.

    All JVM-side HOFs (aggregate/filter) — the pattern E-ops build on; no
    Python crossing. Elements cast to double BEFORE summation on both
    engines so the fold is the same IEEE sequence.
    """
    e = tables.load(spark, sf_dir, "embeddings")
    acc0 = F.lit(0.0)
    return e.select(
        "vec_id",
        "label",
        F.size("embedding").cast("long").alias("dim"),
        F.element_at("embedding", 1).cast("double").alias("first_v"),
        F.array_max("embedding").cast("double").alias("max_v"),
        F.round(
            F.aggregate("embedding", acc0, lambda a, x: a + x.cast("double")), 6
        ).alias("sum_v"),
        F.round(
            F.aggregate(
                "embedding", acc0, lambda a, x: a + x.cast("double") * x.cast("double")
            ),
            6,
        ).alias("norm_sq"),
        F.size(F.filter("embedding", lambda x: x > 0)).cast("long").alias("n_pos"),
    )


@query(
    "fn_json_props",
    "D20",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
           CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_bucket
    FROM events
    """,
)
def fn_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction from events.props ('{"k": <int>}') — both the
    path-extract and typed-map parse produce the same value; the map
    parse (from_json) is what a 100 TB pipeline would use (single parse,
    typed access)."""
    ev = tables.load(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.select(
        "event_id",
        k.alias("k"),
        (k % 10).alias("k_bucket"),
    )


# ---------------------------------------------------------------- D9: cube

@query(
    "agg_cube_flag_status",
    "D9",
    oracle="""
    SELECT l_returnflag, l_linestatus, count(*) AS n,
           round(sum(l_quantity), 2) AS sum_qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def agg_cube_flag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over the fact table (all 2^2 grouping sets in one pass).

    Scale: like rollup, the expansion happens before the partial
    aggregate, so the shuffle still carries only (tiny) group rows —
    4x the group count, not 4x the data.
    """
    li = tables.load(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


# ---------------------------------------------------------------- D3 depth: Q5-shape 6-way join

@query(
    "join_q5_local_supplier",
    "D3",
    oracle=f"""
    SELECT n_name, {duck_usum("l_extendedprice * (1 - l_discount)", 4)} AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n_name
    """,
)
def join_q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way join (2 facts + 4 dims) with the
    "local supplier" theta condition c_nationkey = s_nationkey.

    Scale: nation/region broadcast at any SF (25/5 rows, hinted);
    supplier and customer carry NO hint — they grow with SF (1B+ rows
    at 100 TB, where a forced broadcast is a driver OOM), so Catalyst
    auto-broadcasts them under the threshold and AQE keeps them on
    shuffle joins at scale;
    the only unavoidable big shuffle is orders<->lineitem on orderkey —
    bucketing both facts on orderkey at write time removes even that.
    The date filter pushes to the orders scan before the join.
    """
    c = tables.load(spark, sf_dir, "customer")
    o = tables.load(spark, sf_dir, "orders")
    li = tables.load(spark, sf_dir, "lineitem")
    s = tables.load(spark, sf_dir, "supplier")
    n = tables.load(spark, sf_dir, "nation")
    r = tables.load(spark, sf_dir, "region")
    o = o.where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    j = (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .join(
            s,
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .where(F.col("r_name") == "ASIA")
    )
    return j.groupBy("n_name").agg(
        usum("l_extendedprice * (1 - l_discount)", 4).alias("revenue")
    )


# ---------------------------------------------------------------- D19: map/struct

@query(
    "fn_map_struct_suite",
    "D19",
    oracle="""
    SELECT n_nationkey,
           struct_pack(name := n_name, rk := n_regionkey).name AS s_name,
           CAST(struct_pack(name := n_name, rk := n_regionkey).rk AS BIGINT) * 10
               AS s_rk10,
           map_extract(MAP(['nation', 'region'],
                           [CAST(n_nationkey AS BIGINT), CAST(n_regionkey AS BIGINT)]),
                       'region')[1] AS m_region,
           CAST(cardinality(MAP(['nation', 'region'],
                                [CAST(n_nationkey AS BIGINT),
                                 CAST(n_regionkey AS BIGINT)])) AS BIGINT) AS m_size,
           array_to_string(map_keys(MAP(['nation', 'region'], [1, 2])), ',')
               AS m_key_names
    FROM nation
    """,
)
def fn_map_struct_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map/struct construction and access (SURVEY.md §2-D19): struct_pack
    + field access, create_map + key lookup / cardinality / key list.

    All columnar JVM expressions — nested types stay in Tungsten rows;
    nothing crosses to Python.
    """
    nt = tables.load(spark, sf_dir, "nation")
    st = F.struct(F.col("n_name").alias("name"), F.col("n_regionkey").alias("rk"))
    m = F.create_map(
        F.lit("nation"), F.col("n_nationkey").cast("long"),
        F.lit("region"), F.col("n_regionkey").cast("long"),
    )
    return nt.select(
        "n_nationkey",
        st.getField("name").alias("s_name"),
        (st.getField("rk").cast("long") * 10).alias("s_rk10"),
        F.element_at(m, F.lit("region")).alias("m_region"),
        F.size(m).cast("long").alias("m_size"),
        # array_join, not the raw array: the driver's pandas-based hash
        # canonicalization can't factorize ndarray cells (ADVICE r1).
        F.array_join(
            F.map_keys(
                F.create_map(F.lit("nation"), F.lit(1), F.lit("region"), F.lit(2))
            ),
            ",",
        ).alias("m_key_names"),
    )


# ---------------------------------------------------------------- D21: conditional

@query(
    "fn_conditional_suite",
    "D21",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 'high'
                WHEN o_orderpriority = '3-MEDIUM' THEN 'med'
                ELSE 'low' END AS pri_bucket,
           coalesce(nullif(o_orderstatus, 'P'), 'PENDING') AS status_norm,
           round(least(greatest(o_totalprice, 1000.0), 400000.0), 2) AS clamped,
           CASE WHEN o_totalprice >= 300000 THEN 'jumbo'
                WHEN o_totalprice >= 100000 THEN 'large'
                WHEN o_totalprice >= 10000  THEN 'mid'
                ELSE 'small' END AS size_bucket
    FROM orders
    """,
)
def fn_conditional_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE/coalesce/nullif/greatest/least (SURVEY.md §2-D21): priority
    buckets, status normalization, value clamping, threshold chains —
    all single-pass codegen'd expressions, no shuffle."""
    o = tables.load(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), "high")
        .when(F.col("o_orderpriority") == "3-MEDIUM", "med")
        .otherwise("low")
        .alias("pri_bucket"),
        F.coalesce(F.nullif("o_orderstatus", F.lit("P")), F.lit("PENDING"))
            .alias("status_norm"),
        F.round(
            F.least(F.greatest("o_totalprice", F.lit(1000.0)), F.lit(400000.0)), 2
        ).alias("clamped"),
        F.when(F.col("o_totalprice") >= 300000, "jumbo")
        .when(F.col("o_totalprice") >= 100000, "large")
        .when(F.col("o_totalprice") >= 10000, "mid")
        .otherwise("small")
        .alias("size_bucket"),
    )


# ---------------------------------------------------------------- D10 depth: distribution ranks

@query(
    "win_ntile_dense",
    "D10",
    oracle="""
    SELECT c_custkey, c_nationkey,
           CAST(ntile(4) OVER w AS BIGINT)    AS quartile,
           CAST(dense_rank() OVER w AS BIGINT) AS drnk,
           percent_rank() OVER w               AS prank,
           cume_dist() OVER w                  AS cdist
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey)
    """,
)
def win_ntile_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution ranking windows (SURVEY.md §2-D10): ntile / dense_rank
    / percent_rank / cume_dist of customers by balance within nation.

    percent_rank and cume_dist are exact rationals (k/n) — one IEEE
    division of identical integers, bit-identical across engines — and
    are emitted RAW (r5: rounding them is what BROKE parity; at sf0.1 a
    nation partition hit cume_dist = 333/640 = 0.5203125, a real
    6-decimal tie that Spark's HALF_UP and DuckDB's scaled-multiply
    round broke differently).

    Scale (r11, closes the r10 window-skew audit): the shared
    `PARTITION BY c_nationkey` window spec put ~1/25 of ALL customers
    on one WindowExec task — linear-in-SF straggler (spill keeps it
    alive, stress conf 28 proved that, but never fast). Now computed
    via twophase.grouped_positions: range-partition on (nation,
    balance desc, custkey), local per-(partition, nation) row numbers,
    driver-side per-nation prefix offsets (partitions x 25 rows, never
    data rows) broadcast back. Under the total order (custkey breaks
    ties) dense_rank = rank = position p, and all four functions are
    arithmetic in (p, n): ntile by Spark/DuckDB's shared
    first-(n mod k)-buckets-get-the-extra-row rule; percent_rank =
    (p-1)/(n-1); cume_dist = p/n — the SAME long-over-long IEEE
    divisions WindowExec performs, so values are bit-identical (driver
    hash unchanged).
    """
    c = tables.load(spark, sf_dir, "customer")
    d = grouped_positions(
        c.select("c_custkey", "c_nationkey", "c_acctbal"),
        ["c_nationkey"],
        [F.col("c_acctbal").desc(), F.col("c_custkey")],
    )
    # Spark's NTile(k): first (n % k) buckets hold (n div k)+1 rows,
    # the rest (n div k); q=0 (n<k) falls entirely in the WHEN branch
    # (r*(q+1) = n), so the div-by-q ELSE never evaluates.
    ntile4 = (
        "CASE WHEN _pos <= (_n % 4) * ((_n div 4) + 1)"
        "     THEN 1 + (_pos - 1) div ((_n div 4) + 1)"
        "     ELSE (_n % 4) + 1 + (_pos - (_n % 4) * ((_n div 4) + 1) - 1)"
        "          div (_n div 4) END"
    )
    return d.select(
        "c_custkey",
        "c_nationkey",
        F.expr(ntile4).cast("long").alias("quartile"),
        F.col("_pos").cast("long").alias("drnk"),
        F.when(F.col("_n") == 1, F.lit(0.0))
        .otherwise((F.col("_pos") - 1).cast("double") / (F.col("_n") - 1))
        .alias("prank"),
        (F.col("_pos").cast("double") / F.col("_n")).alias("cdist"),
    )


# ---------------------------------------------------------------- D3 scale: salted skew join

@query(
    "join_skew_salted",
    "D3",
    oracle=f"""
    SELECT s_name, count(*) AS n_items,
           {duck_usum("l_extendedprice * (1 - l_discount)", 4)} AS revenue
    FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
    GROUP BY s_name
    """,
)
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted join (SURVEY.md §4 skew handling), oracle-checked against
    the plain join it must be equivalent to: the dim side is exploded
    over SALT replicas and the fact side picks a deterministic salt, so
    one hot supplier key fans out over SALT reducers instead of one.

    When it matters at 100 TB: dim too big to broadcast AND fact keys
    Zipf-skewed — the alternatives are AQE's skew-join split (handles
    storage skew, not single-key hash skew) or this, which handles both.
    At test scale Catalyst will still broadcast the tiny salted dim;
    the salting is inert but the plan stays correct at any size.
    """
    salt_n = 8
    li = tables.load(spark, sf_dir, "lineitem")
    s = tables.load(spark, sf_dir, "supplier")
    s_exp = s.withColumn(
        "salt", F.explode(F.array(*[F.lit(i) for i in range(salt_n)]))
    )
    li_s = li.withColumn("salt", (F.col("l_orderkey") % salt_n).cast("int"))
    return (
        li_s.join(
            s_exp,
            (li_s.l_suppkey == s_exp.s_suppkey) & (li_s.salt == s_exp.salt),
        )
        .groupBy("s_name")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            usum("l_extendedprice * (1 - l_discount)", 4).alias("revenue"),
        )
    )


# ---------------------------------------------------------------- D14 depth: correlated EXISTS

@query(
    "subq_exists_urgent_big",
    "D14",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderpriority = '1-URGENT'
                    AND o.o_totalprice > 200000)
    """,
)
def subq_exists_urgent_big(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS with extra predicates (SURVEY.md §2-D14) via the
    SQL entry point — Catalyst rewrites it to a left-semi join with the
    filters pushed into the subquery scan."""
    for t in ("customer", "orders"):
        tables.load(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(
        """
        SELECT c_custkey, c_name
        FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT'
                        AND o.o_totalprice > 200000)
        """
    )


# ---------------------------------------------------------------- D22: deterministic sampling

@query(
    "sample_hash_bernoulli",
    "D22",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity
    FROM lineitem
    WHERE CAST(('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || '-'
                                   || CAST(l_linenumber AS VARCHAR)), 1, 8))
               AS BIGINT) % 10 = 0
    """,
)
def sample_hash_bernoulli(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~10% Bernoulli sample via content hashing
    (SURVEY.md §2-D22). ``df.sample`` is engine-seeded and can never
    hash-match an oracle; keying the coin flip on md5(row id) gives the
    same sample on any engine, any partitioning, any run — which is
    also the property a reproducible 100 TB pipeline actually wants
    (resumable, audit-stable samples).
    """
    li = tables.load(spark, sf_dir, "lineitem")
    key = F.concat_ws(
        "-", F.col("l_orderkey").cast("string"), F.col("l_linenumber").cast("string")
    )
    bucket = F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("long") % 10
    return li.where(bucket == 0).select("l_orderkey", "l_linenumber", "l_quantity")


# ---------------------------------------------------------------- D3 depth: Q7-shape dim self-join

@query(
    "join_q7_nation_pairs",
    "D3",
    oracle=f"""
    SELECT n1.n_name AS cust_nation, n2.n_name AS supp_nation,
           count(*) AS n_items,
           {duck_usum("l_extendedprice * (1 - l_discount)", 4)} AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation n1 ON c_nationkey = n1.n_nationkey
    JOIN nation n2 ON s_nationkey = n2.n_nationkey
    WHERE n1.n_regionkey <> n2.n_regionkey
    GROUP BY n1.n_name, n2.n_name
    """,
)
def join_q7_nation_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: cross-region trade flows — the nation dimension
    joins TWICE under different roles (customer's vs supplier's nation),
    which exercises alias resolution and double-broadcast of one table.

    Scale: both nation copies broadcast; the region inequality filters
    post-join (25x25 pairs — trivial); the fact-side joins are the same
    orderkey/custkey/suppkey shuffles as Q5.
    """
    li = tables.load(spark, sf_dir, "lineitem")
    o = tables.load(spark, sf_dir, "orders")
    c = tables.load(spark, sf_dir, "customer")
    s = tables.load(spark, sf_dir, "supplier")
    n1 = tables.load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"),
        F.col("n_name").alias("cust_nation"),
        F.col("n_regionkey").alias("n1_region"),
    )
    n2 = tables.load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"),
        F.col("n_name").alias("supp_nation"),
        F.col("n_regionkey").alias("n2_region"),
    )
    # r18 (same at-scale shape fix as join_q8_market_share): joining
    # customer onto ORDERS before the fact join keeps the scale plan
    # from reshuffling the joined FACT stream by o_custkey — the custkey
    # exchange now carries the narrow pre-join orders table instead (2
    # fact exchanges instead of 3 under auto-broadcast off). Inner joins
    # commute, so the row set is identical. Only c_nationkey (one int)
    # rides through the fact join; the nation NAME attaches via the
    # broadcast n1 afterwards — a first variant that carried
    # cust_nation/region strings through o_cust lost its local A/B
    # 0.81x on the wider broadcast build (OPTIMIZATION_r18.md).
    o_cust = o.join(c, o.o_custkey == c.c_custkey).select(
        "o_orderkey", "c_nationkey"
    )
    j = (
        li.join(o_cust, li.l_orderkey == o_cust.o_orderkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), s.s_nationkey == F.col("n2_key"))
        .where(F.col("n1_region") != F.col("n2_region"))
    )
    return j.groupBy("cust_nation", "supp_nation").agg(
        F.count(F.lit(1)).alias("n_items"),
        usum("l_extendedprice * (1 - l_discount)", 4).alias("revenue"),
    )


# ---------------------------------------------------------------- D2/D3 depth: Q19-shape disjunctive join

@query(
    "join_q19_disjunctive",
    "D2",
    oracle=f"""
    SELECT count(*) AS n,
           {duck_usum("l_extendedprice * (1 - l_discount)", 4)} AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 20)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 10 AND 30
           AND l_quantity BETWEEN 10 AND 35)
       OR (p_brand = 'Brand#5' AND p_size BETWEEN 20 AND 50
           AND l_quantity BETWEEN 20 AND 50)
    """,
)
def join_q19_disjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: a disjunction of conjunctive branches spanning
    both join sides. Catalyst extracts the common join key, pushes the
    per-side residuals (brand/size to the part scan, quantity bounds to
    lineitem via OR-simplification) and evaluates the full predicate
    post-join — the classic test that disjunctions don't defeat pushdown.
    """
    li = tables.load(spark, sf_dir, "lineitem")
    p = tables.load(spark, sf_dir, "part")
    j = li.join(p, li.l_partkey == p.p_partkey)
    branch = lambda brand, s1, s2, q1, q2: (  # noqa: E731
        (F.col("p_brand") == brand)
        & F.col("p_size").between(s1, s2)
        & F.col("l_quantity").between(q1, q2)
    )
    return (
        j.where(
            branch("Brand#1", 1, 15, 1, 20)
            | branch("Brand#3", 10, 30, 10, 35)
            | branch("Brand#5", 20, 50, 20, 50)
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            usum("l_extendedprice * (1 - l_discount)", 4).alias("revenue"),
        )
    )


# ---------------------------------------------------------------- D9 depth: explicit grouping sets

@query(
    "agg_grouping_sets",
    "D9",
    oracle="""
    SELECT l_returnflag, l_linestatus, count(*) AS n,
           round(sum(l_quantity), 2) AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (SURVEY.md §2-D9) — the shapes rollup and
    cube can't express (per-flag and per-status marginals plus the grand
    total, but NOT the 2-key cells), via the SQL entry point."""
    tables.load(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus, count(*) AS n,
               round(sum(l_quantity), 2) AS sum_qty
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


# ---------------------------------------------------------------- D7 depth: pivot / unpivot

@query(
    "pivot_flag_by_status",
    "D7",
    oracle="""
    SELECT l_returnflag,
           round(sum(l_quantity) FILTER (l_linestatus = 'F'), 2) AS qty_F,
           round(sum(l_quantity) FILTER (l_linestatus = 'O'), 2) AS qty_O,
           count(*) FILTER (l_linestatus = 'F') AS n_F,
           count(*) FILTER (l_linestatus = 'O') AS n_O
    FROM lineitem GROUP BY l_returnflag
    """,
)
def pivot_flag_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (SURVEY.md §2-D7 depth): linestatus values become columns.
    With the pivot values listed explicitly, Catalyst compiles this to
    one pass of conditional aggregates — no extra shuffle vs plain
    groupBy, and no driver-side distinct-values scan."""
    li = tables.load(spark, sf_dir, "lineitem")
    p = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("qty"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    # counts coalesce to 0 (r5, self-review): a missing pivot cell is
    # NULL from Spark's pivot but 0 from the oracle's count(*) FILTER —
    # latent here because every (flag, status) cell is populated at the
    # fixture SFs; qty stays NULL-for-empty on BOTH sides (sum FILTER
    # over no rows is NULL), so it needs no coalesce
    return p.select(
        "l_returnflag",
        F.col("F_qty").alias("qty_F"),
        F.col("O_qty").alias("qty_O"),
        F.coalesce(F.col("F_n"), F.lit(0)).cast("long").alias("n_F"),
        F.coalesce(F.col("O_n"), F.lit(0)).cast("long").alias("n_O"),
    )


@query(
    "unpivot_order_measures",
    "D7",
    oracle="""
    SELECT o_orderkey, 'total_price' AS measure, o_totalprice AS val FROM orders
    UNION ALL
    SELECT o_orderkey, 'custkey' AS measure, CAST(o_custkey AS DOUBLE) AS val
    FROM orders
    """,
)
def unpivot_order_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot/melt (SURVEY.md §2-D7 depth): wide measures to long
    (measure, value) rows — the shape feature stores and metric
    pipelines ingest. Narrow-side scan, no shuffle at all."""
    o = tables.load(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey", "o_totalprice", F.col("o_custkey").cast("double").alias("custkey")
    ).unpivot(
        ids=["o_orderkey"],
        values=["o_totalprice", "custkey"],
        variableColumnName="measure",
        valueColumnName="val",
    ).withColumn(
        "measure",
        F.when(F.col("measure") == "o_totalprice", "total_price").otherwise("custkey"),
    )


# ---------------------------------------------------------------- D21 depth: null semantics

@query(
    "fn_null_semantics",
    "D21",
    oracle="""
    WITH x AS (SELECT o_orderkey,
                      nullif(o_orderstatus, 'P') AS maybe_status,
                      CASE WHEN o_totalprice > 200000 THEN o_totalprice END
                          AS big_price
               FROM orders)
    SELECT o_orderkey,
           (maybe_status IS NOT DISTINCT FROM 'F') AS nsafe_eq_f,
           (maybe_status IS NULL)                  AS is_pending,
           coalesce(big_price, -1.0)               AS big_or_sentinel,
           count(big_price) OVER ()                AS n_big_nonnull
    FROM x
    """,
)
def fn_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null semantics (SURVEY.md §2-D21 depth): null-safe equality
    (Spark ``<=>`` == SQL IS NOT DISTINCT FROM), NULL-generating CASE,
    null-skipping count — the three-valued-logic corners that silently
    corrupt pipelines when engines disagree.

    Scale (r10): the oracle's ``count(big_price) OVER ()`` was first
    expressed as an unpartitioned Spark window — WindowExec then moves
    the ENTIRE orders table to one partition (the lone row-scale
    single-partition window the r9 audit missed, since it greps
    ``Window.orderBy``, not ``Window.partitionBy()``). Re-expressed as
    the house pattern for global scalars: a 1-row aggregate
    broadcast-crossJoined onto the rows — two jobs' metadata, zero
    extra shuffle of row-scale data, identical result (count is exact
    either way)."""
    o = tables.load(spark, sf_dir, "orders")
    x = o.select(
        "o_orderkey",
        F.nullif("o_orderstatus", F.lit("P")).alias("maybe_status"),
        F.when(F.col("o_totalprice") > 200000, F.col("o_totalprice")).alias(
            "big_price"
        ),
    )
    tot = x.agg(F.count("big_price").alias("n_big_nonnull"))
    return x.crossJoin(F.broadcast(tot)).select(
        "o_orderkey",
        F.col("maybe_status").eqNullSafe(F.lit("F")).alias("nsafe_eq_f"),
        F.col("maybe_status").isNull().alias("is_pending"),
        F.coalesce("big_price", F.lit(-1.0)).alias("big_or_sentinel"),
        "n_big_nonnull",
    )


# ---------------------------------------------------------------- D17 depth: ANSI-safe arithmetic

@query(
    "fn_try_arithmetic",
    "D17",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_quantity / nullif(l_tax, 0)      AS qty_per_tax,
           CAST(floor(l_extendedprice) AS BIGINT)
               % nullif(CAST(floor(l_quantity) AS BIGINT), 0) AS price_mod_qty,
           (l_tax = 0)                        AS tax_free
    FROM lineitem
    """,
)
def fn_try_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-safe arithmetic (SURVEY.md §2-D17 depth): Spark 4 runs ANSI
    mode by default, where bare division/modulo by zero THROWS at
    runtime — on a 1000-executor job, one zero denominator kills the
    stage. try_divide/try_mod return NULL instead (DuckDB oracle:
    nullif-guarded denominators). l_tax is genuinely zero on a slice of
    every SF, so the NULL branch is exercised, not theoretical.
    """
    li = tables.load(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.try_divide("l_quantity", "l_tax").alias("qty_per_tax"),
        # floor-then-cast on BOTH engines: DuckDB's double->BIGINT cast
        # rounds half-up while Spark's truncates
        F.try_mod(
            F.floor("l_extendedprice"), F.floor("l_quantity")
        ).alias("price_mod_qty"),
        (F.col("l_tax") == 0).alias("tax_free"),
    )


# ---------------------------------------------------------------- D13 depth: EXCEPT ALL

@query(
    "setop_except_all",
    "D13",
    oracle="""
    SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'A'
    EXCEPT ALL
    SELECT l_orderkey FROM lineitem WHERE l_linestatus = 'F'
    """,
)
def setop_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL (SURVEY.md §2-D13 depth): bag-semantics difference —
    each duplicate subtracts one occurrence, unlike EXCEPT's set
    semantics. The multiplicity bookkeeping is exactly what silently
    breaks when an engine rewrites it as an anti-join."""
    li = tables.load(spark, sf_dir, "lineitem")
    a = li.where(F.col("l_returnflag") == "A").select("l_orderkey")
    b = li.where(F.col("l_linestatus") == "F").select("l_orderkey")
    return a.exceptAll(b)


# ---------------------------------------------------------------- D7 depth: statistical aggregates

@query(
    "agg_stats_suite",
    "D7",
    oracle=f"""
    WITH m AS (
        SELECT l_returnflag,
               count(*) AS n,
               sum(CAST(l_quantity AS BIGINT)) AS sq,
               sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS sq2,
               sum(CAST(round(l_discount * 100, 0) AS BIGINT)) AS sdc,
               sum(CAST(round(l_discount * 100, 0) AS BIGINT)
                   * CAST(round(l_discount * 100, 0) AS BIGINT)) AS sdc2,
               sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS spc,
               sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
                   * CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS spc2,
               sum(CAST(l_quantity AS BIGINT)
                   * CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS sqp
        FROM lineitem GROUP BY l_returnflag)
    SELECT l_returnflag,
           sqrt({det_double("n * sq2 - sq * sq")}
                / {det_double("n * (n - 1)")})             AS sd_qty,
           {det_double("n * sq2 - sq * sq")}
               / {det_double("n * (n - 1)")}               AS var_qty,
           sqrt({det_double("n * sdc2 - sdc * sdc")}
                / {det_double("n * n * 10000")})           AS sdp_disc,
           {det_double("n * sqp - sq * spc")}
               / (sqrt({det_double("n * sq2 - sq * sq")})
                  * sqrt({det_double("n * spc2 - spc * spc")})) AS corr_qty_price,
           {det_double("n * sqp - sq * spc")}
               / {det_double("n * (n - 1)")} / 100.0       AS covar_qty_price
    FROM m
    """,
)
def agg_stats_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates (SURVEY.md §2-D7 depth): sample/population
    stddev + variance, correlation, covariance.

    Parity (r5): NOT the engines' stddev/corr aggregates — Spark and
    DuckDB merge (n, mean, M2) states in different orders, so their
    results differ beyond an ulp and the old round(.,6) only masked it
    up to the tie window. Instead both sides compute the EXACT integer
    moment sums (quantity is integral; discount/price are 2-dec exact
    cents — squares and cross products stay exact in decimal/HUGEINT)
    and apply the identical closed-form expressions, so every output is
    deterministic double arithmetic on bit-identical inputs: cast,
    subtract, IEEE sqrt, divide — no round, no engine internals.

    The moment->double casts go through parity.det_double because the
    squared price moments reach 1e23–1e24 at sf0.1 — far past 2^64,
    where DuckDB's double-rounded native HUGEINT cast and Spark's
    correctly rounded decimal cast can differ by 1 ulp near a rounding
    boundary. det_double is the same digit-string cast in both engines
    and correctly rounded in both, so every moment is the same double
    at any magnitude. The outer select is SQL text, so it reads line
    for line like the oracle.

    Scale: the moment sums are plain partial-aggregatable SUMs — same
    single-pass shuffle shape as the built-in aggregates they replace.
    """
    li = tables.load(spark, sf_dir, "lineitem")
    dec = "decimal(38,0)"
    qi = F.col("l_quantity").cast("long")
    dc = F.round(F.col("l_discount") * 100, 0).cast("long")
    pc = F.round(F.col("l_extendedprice") * 100, 0).cast("long")
    # r18 (guide §1.2 per-task work): the four moments whose PER-ROW
    # terms are schema-domain-bounded — quantity <= 50, discount cents
    # <= 100, so qi*qi <= 2500 and dc*dc <= 1e4 — accumulate in BIGINT
    # and convert to decimal(38,0) once per group AFTER the aggregate:
    # the integer is identical, so every downstream det_double bit is
    # too (A/B: 1.85 -> 1.33 s, 1.39x, result rows tuple-identical).
    # Scale safety: sum(qi*qi) <= 2500N stays under 2^63 past 3.6e15
    # rows (~3600x the 100 TB row count); ANSI mode (pinned by
    # ensure_runtime_conf) fails loud, not wraps, if that bound is ever
    # violated. The price moments (pc <= ~1e7, pc*pc <= ~1e14) overflow
    # BIGINT within the 100 TB regime and MUST stay decimal — same
    # usum-vs-usum_long boundary parity.py documents.
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum(qi).cast(dec).alias("sq"),
        F.sum(qi * qi).cast(dec).alias("sq2"),
        F.sum(dc).cast(dec).alias("sdc"),
        F.sum(dc * dc).cast(dec).alias("sdc2"),
        F.sum(pc.cast(dec)).alias("spc"),
        F.sum((pc * pc).cast(dec)).alias("spc2"),
        F.sum((qi * pc).cast(dec)).alias("sqp"),
    )
    dd = det_double
    var_qty = f"{dd('n * sq2 - sq * sq')} / {dd('n * (n - 1)')}"
    return m.selectExpr(
        "l_returnflag",
        f"sqrt({var_qty}) AS sd_qty",
        f"{var_qty} AS var_qty",
        f"sqrt({dd('n * sdc2 - sdc * sdc')} / {dd('n * n * 10000')}) AS sdp_disc",
        f"{dd('n * sqp - sq * spc')}"
        f" / (sqrt({dd('n * sq2 - sq * sq')}) * sqrt({dd('n * spc2 - spc * spc')}))"
        " AS corr_qty_price",
        f"{dd('n * sqp - sq * spc')} / {dd('n * (n - 1)')} / 100.0D AS covar_qty_price",
    )


# ---------------------------------------------------------------- D7 depth: collect to array

@query(
    "agg_collect_sorted",
    "D7",
    oracle="""
    SELECT c_mktsegment,
           array_to_string(list_sort(list(DISTINCT o_orderstatus)), ',') AS statuses,
           CAST(len(list(DISTINCT o_orderstatus)) AS BIGINT) AS n_statuses
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def agg_collect_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collect-to-array aggregation (SURVEY.md §2-D7 depth): per group,
    the DISTINCT values as a SORTED array — collect_set's order is
    nondeterministic under parallelism, so the sort is what makes the
    result well-defined on any cluster (and hash-comparable at all)."""
    o = tables.load(spark, sf_dir, "orders")
    c = tables.load(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        # collect the set ONCE per group and derive both outputs from it
        # (r5, self-review: two collect_set aggregates doubled the
        # aggregation state and shuffle payload for the same set)
        .agg(F.array_sort(F.collect_set("o_orderstatus")).alias("_set"))
        .select(
            "c_mktsegment",
            # joined string, not the raw array: the driver's pandas hash
            # canonicalization can't factorize ndarray cells (ADVICE r1).
            F.array_join("_set", ",").alias("statuses"),
            F.size("_set").cast("long").alias("n_statuses"),
        )
    )


# ================================================================ round 2:
# TPC-H query shapes adapted to the fixture star schema (FIXTURES.md; no
# partsupp table exists, so Q2/Q11/Q20 cost lookups use p_retailprice as
# the cost proxy where needed). Each shape exercises a distinct plan
# pattern the 100 TB target cares about; plan assertions in
# tests/test_plans.py.

# ---------------------------------------------------------------- D3/D12 depth: Q10 returned-item revenue

@query(
    "join_q10_returned_revenue",
    "D3",
    oracle=f"""
    SELECT c_custkey, c_name, n_name,
           {duck_usum("l_extendedprice * (1 - l_discount)", 4)} AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def join_q10_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: who returned the most revenue last year.

    Scale: lineitem (fact) filters on l_returnflag at the scan
    (pushed), joins orders (filtered by date, pushed) then broadcasts
    customer-side dims; top-20 is TakeOrderedAndProject, never a global
    sort. Revenue is an exact 1e-4-unit sum (r5 usum — order-free,
    bit-identical across engines), so the DESC order + LIMIT can never
    flip on float noise.
    """
    c = tables.load(spark, sf_dir, "customer")
    o = tables.load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    li = tables.load(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    n = tables.load(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            # usum_long: returned items per customer-year is ~constant
            # per the schema (orders/customer and items/order are both
            # bounded), so the 1e-4-unit sum stays ~1e11 at any SF
            usum_long("l_extendedprice * (1 - l_discount)", 4).alias("revenue")
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


# ---------------------------------------------------------------- D4/D7 depth: Q13 order-count distribution

@query(
    "agg_q13_order_distribution",
    "D7",
    oracle="""
    SELECT c_count, count(*) AS custdist
    FROM (
        SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
        FROM customer LEFT JOIN orders
          ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
        GROUP BY c_custkey
    )
    GROUP BY c_count
    """,
)
def agg_q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: distribution of orders-per-customer, with the
    join predicate in the LEFT JOIN's ON clause (not a post-filter —
    moving it would silently drop order-less customers).

    Scale: double aggregation where the second groupBy key (c_count) has
    tiny cardinality — the first agg does the heavy lifting map-side;
    the second is a near-free re-shuffle of one row per customer.
    """
    c = tables.load(spark, sf_dir, "customer")
    o = tables.load(spark, sf_dir, "orders")
    per_cust = (
        c.join(
            o,
            (c.c_custkey == o.o_custkey) & (o.o_orderpriority != "5-LOW"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("long").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


# ---------------------------------------------------------------- D7 depth: Q14 promo revenue share

@query(
    "join_q14_promo_share",
    "D7",
    oracle=f"""
    WITH agg AS (
        SELECT
            {duck_usum(
                "CASE WHEN p_type LIKE 'PROMO%' "
                "THEN l_extendedprice * (1 - l_discount) ELSE 0 END", 4
            )} AS promo_rev,
            {duck_usum("l_extendedprice * (1 - l_discount)", 4)} AS total_rev
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1997-06-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1997-07-01 00:00:00')
    SELECT promo_rev, total_rev,
           100.0 * promo_rev / total_rev AS promo_pct
    FROM agg
    """,
)
def join_q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional-aggregate revenue share of PROMO
    parts in one ship-month.

    Parity (r5): both sums are exact 1e-4-unit sums (usum — order-free),
    and the percentage is arithmetic on those bit-identical doubles in
    the same operation order, so it needs no round at all. Scale: date
    filter pushes to the fact scan; part joins unhinted (auto-broadcast when small, shuffle at the
    100 TB SF where part is 20B rows); single-row
    result via partial aggregation.
    """
    li = tables.load(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1997-06-01") & (F.col("l_shipdate") < "1997-07-01")
    )
    p = tables.load(spark, sf_dir, "part")
    rev = "l_extendedprice * (1 - l_discount)"
    promo = f"CASE WHEN p_type LIKE 'PROMO%' THEN {rev} ELSE 0.0D END"
    out = li.join(p, li.l_partkey == p.p_partkey).agg(
        usum(promo, 4).alias("promo_rev"),
        usum(rev, 4).alias("total_rev"),
    )
    return out.select(
        "promo_rev",
        "total_rev",
        (F.lit(100.0) * F.col("promo_rev") / F.col("total_rev")).alias("promo_pct"),
    )


# ---------------------------------------------------------------- D7/D14 depth: Q18 large-volume orders

@query(
    "agg_q18_large_orders",
    "D7",
    oracle="""
    SELECT c_custkey, c_name, o_orderkey,
           round(o_totalprice, 2) AS o_price,
           round(sum(l_quantity), 2) AS total_qty
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY c_custkey, c_name, o_orderkey, o_totalprice
    HAVING round(sum(l_quantity), 2) > 300
    """,
)
def agg_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: orders whose total line quantity exceeds a
    threshold (fixture l_quantity is integral 1..50, so the sum is
    float-exact and the HAVING comparison can't tie across engines; the
    round(.,2) guard keeps that true even if quantities went decimal).

    Scale: aggregate lineitem by orderkey FIRST (map-side partials on
    the fact), then join the two slim tables up — never the raw fact
    through a 3-way join.
    """
    c = tables.load(spark, sf_dir, "customer")
    o = tables.load(spark, sf_dir, "orders")
    li = tables.load(spark, sf_dir, "lineitem")
    qty = (
        li.groupBy("l_orderkey")
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
        .where(F.col("total_qty") > 300)
    )
    return (
        qty.join(o, qty.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("o_price"),
            "total_qty",
        )
    )


# ---------------------------------------------------------------- D14 depth: Q22 idle wealthy customers

@query(
    "subq_q22_idle_wealthy",
    "D14",
    oracle=f"""
    SELECT c_nationkey,
           CAST(count(*) AS BIGINT) AS numcust,
           {duck_usum("c_acctbal", 2)} AS totacctbal
    FROM customer
    WHERE CAST(round(c_acctbal * 100, 0) AS BIGINT) > (
            SELECT (2 * sum(CAST(round(c_acctbal * 100, 0) AS BIGINT))
                    + count(*)) // (2 * count(*))
            FROM customer WHERE c_acctbal > 0.0
          )
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
    GROUP BY c_nationkey
    """,
)
def subq_q22_idle_wealthy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: above-average-balance customers with no RECENT
    order (none since 2000-01-01), by nation. Scalar subquery (global
    avg) + anti join with a pushed-down date predicate on the anti side.

    Parity (r6, ADVICE r5 item 3): the old round(avg(..), 2) threshold
    was a float-sum round — accumulation-order-sensitive, and an exact
    .xx5 tie breaks differently under Spark's HALF_UP vs DuckDB's
    scaled-multiply round, flipping boundary customers. Now the
    threshold is derived in exact integer cents on both sides —
    HALF_UP(sum_cents / n) as the pure-integer ``(2s + n) div (2n)``
    (sound for the positive-balance filter) — and membership is the
    integer predicate balance_cents > t_cents. No float touches the
    decision.
    Scale: the scalar threshold is a 1-row broadcast; the NOT EXISTS is
    a left_anti shuffle join on custkey; both sides prune to 2 columns.
    """
    c = tables.load(spark, sf_dir, "customer")
    o = tables.load(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= "2000-01-01"
    )
    cents = F.round(F.col("c_acctbal") * 100, 0).cast("long")
    threshold = (
        c.where(F.col("c_acctbal") > 0.0)
        .agg(
            F.sum(cents.cast("decimal(38,0)")).alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(F.expr("(2 * s + n) div (2 * n)").alias("t_cents"))
    )
    return (
        c.join(F.broadcast(threshold))
        .where(cents > F.col("t_cents"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("numcust"),
            usum("c_acctbal", 2).alias("totacctbal"),
        )
    )


# ---------------------------------------------------------------- D3/D7 depth: Q9 profit by supplier nation x year

@query(
    "join_q9_profit_by_nation",
    "D3",
    oracle=f"""
    SELECT n_name AS nation,
           CAST(year(o_orderdate) AS BIGINT) AS o_year,
           {duck_usum(
               "l_extendedprice * (1 - l_discount) - p_retailprice * l_quantity", 4
           )} AS profit
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN part     ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    WHERE p_name LIKE '%gear%'
    GROUP BY n_name, year(o_orderdate)
    """,
)
def join_q9_profit_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (p_retailprice stands in for ps_supplycost — no
    partsupp in the fixture schema): profit per supplier-nation per
    order-year over a part-name pattern.

    Scale: the 5-way join keeps lineitem as the single streamed fact;
    nation broadcasts (hinted, 25 rows at any SF); part/supplier join
    unhinted — both scale with SF, so the join strategy must be
    Catalyst/AQE's size-based choice, not a pinned hint; orders arrives
    pre-projected to (key, year). profit is decimal-exact at 4dp
    (2dp x 2dp products), parity rule #3.
    """
    li = tables.load(spark, sf_dir, "lineitem")
    o = tables.load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    p = tables.load(spark, sf_dir, "part").where(F.col("p_name").like("%gear%"))
    s = tables.load(spark, sf_dir, "supplier")
    n = tables.load(spark, sf_dir, "nation")
    profit = "l_extendedprice * (1 - l_discount) - p_retailprice * l_quantity"
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(usum(profit, 4).alias("profit"))
    )


# ---------------------------------------------------------------- D3/D7 depth: Q8 market share

@query(
    "join_q8_market_share",
    "D7",
    oracle=f"""
    SELECT o_year, nation_rev, total_rev,
           nation_rev / total_rev AS mkt_share
    FROM (
        SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
               {duck_usum(
                   "CASE WHEN sn.n_name = 'NATION_5' "
                   "THEN l_extendedprice * (1 - l_discount) ELSE 0 END", 4
               )} AS nation_rev,
               {duck_usum("l_extendedprice * (1 - l_discount)", 4)} AS total_rev
        FROM lineitem
        JOIN orders    ON l_orderkey = o_orderkey
        JOIN customer  ON o_custkey = c_custkey
        JOIN nation cn ON c_nationkey = cn.n_nationkey
        JOIN region    ON cn.n_regionkey = r_regionkey
        JOIN supplier  ON l_suppkey = s_suppkey
        JOIN nation sn ON s_nationkey = sn.n_nationkey
        WHERE r_name = 'ASIA'
        GROUP BY year(o_orderdate)
    )
    """,
)
def join_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: NATION_5 suppliers' share of revenue sold to
    ASIA-region customers, per order year. Two aliases of nation join
    different sides (customer's vs supplier's) — the classic
    self-join-of-a-dim pattern.

    Scale: one pass over the fact; nation/region broadcast (hinted,
    domain-bounded); supplier joins unhinted (SF-scaling); the share
    divides two exact 1e-4-unit sums (r5 usum — order-free and
    bit-identical across engines), so it needs no round.
    """
    li = tables.load(spark, sf_dir, "lineitem")
    o = tables.load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    c = tables.load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    cn = tables.load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_region")
    )
    r = tables.load(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    s = tables.load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    sn = tables.load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("sn_name")
    )
    rev = "l_extendedprice * (1 - l_discount)"
    # r18 (guide §3.2 — shrink before the big join): the ASIA-region
    # customer filter is the query's only selective predicate (~1 of 5
    # regions), but it used to apply AFTER lineitem⋈orders, so the
    # joined FACT stream was reshuffled by o_custkey at scale (where
    # customer outgrows the broadcast threshold) just to apply it.
    # Filtering orders FIRST — a left-semi against the ASIA custkeys,
    # row-identical to the inner join because c_custkey is unique and
    # customer contributes no columns — moves that custkey shuffle onto
    # the narrow pre-join orders table and shrinks the fact-join output
    # ~5x before the supplier join. The semi join keeps the orders-side
    # size estimate, so the fixture-scale broadcast of orders into the
    # fact join survives (the first inner-join variant of this reorder
    # lost its local A/B 0.78x precisely because the join output's
    # inflated estimate forced a sort-merge fact join; see
    # OPTIMIZATION_r18.md). Plan evidence under auto-broadcast OFF:
    # `git show cc731cb:plans/r18/join_q8_market_share_noautobc_old.txt`
    # (and `_new.txt`) — the fact stream crosses 2 exchanges instead of 3.
    c_asia = (
        c.join(F.broadcast(cn), c.c_nationkey == F.col("cn_key"))
        .join(F.broadcast(r), F.col("cn_region") == r.r_regionkey)
        .select("c_custkey")
    )
    o_asia = o.join(c_asia, o.o_custkey == c_asia.c_custkey, "left_semi").select(
        "o_orderkey", "o_orderdate"
    )
    base = (
        li.join(o_asia, li.l_orderkey == o_asia.o_orderkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(sn), s.s_nationkey == F.col("sn_key"))
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            usum(f"CASE WHEN sn_name = 'NATION_5' THEN {rev} ELSE 0.0D END", 4)
                .alias("nation_rev"),
            usum(rev, 4).alias("total_rev"),
        )
    )
    return base.select(
        "o_year",
        "nation_rev",
        "total_rev",
        (F.col("nation_rev") / F.col("total_rev")).alias("mkt_share"),
    )


# ---------------------------------------------------------------- D14 depth: Q15 top supplier

@query(
    "subq_q15_top_supplier",
    "D14",
    oracle=f"""
    WITH rev AS (
        SELECT l_suppkey,
               {duck_usum("l_extendedprice * (1 - l_discount)", 4)} AS total_rev
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
        GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_rev
    FROM supplier JOIN rev ON s_suppkey = l_suppkey
    WHERE total_rev = (SELECT max(total_rev) FROM rev)
    """,
)
def subq_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: supplier(s) with maximum quarterly revenue —
    the view + scalar-max-subquery pattern (NOT a LIMIT 1: ties must
    all surface, which is also why equality on the exact-unit revenue
    (r5 usum — bit-identical across engines) is cross-engine safe).

    Scale: revenue agg is one partial-agg pass over the date-pruned
    fact; the max is a 1-row broadcast back onto the tiny agg result.
    """
    li = tables.load(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1997-04-01")
    )
    s = tables.load(spark, sf_dir, "supplier")
    rev = li.groupBy("l_suppkey").agg(
        usum("l_extendedprice * (1 - l_discount)", 4).alias("total_rev")
    )
    mx = rev.agg(F.max("total_rev").alias("mx"))
    return (
        rev.join(F.broadcast(mx))
        .where(F.col("total_rev") == F.col("mx"))
        .join(s, rev.l_suppkey == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_rev")
    )


# ---------------------------------------------------------------- D7 depth: Q6 forecast revenue

@query(
    "agg_q6_forecast_revenue",
    "D7",
    oracle=f"""
    SELECT {duck_usum("l_extendedprice * l_discount", 4)} AS revenue,
           CAST(count(*) AS BIGINT) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def agg_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan-filter-aggregate, the query every
    columnar engine must run at IO speed.

    Scale: all three predicates are scan-level (PushedFilters: shipdate
    range + discount range + quantity bound prune row groups via parquet
    min/max stats); the aggregate is a partial-combine down to ONE row —
    zero shuffle beyond the final reduce. The plan IS the benchmark:
    anything between scan and agg is overhead.
    """
    li = tables.load(spark, sf_dir, "lineitem")
    return li.where(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
        & F.col("l_discount").between(0.05, 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        usum("l_extendedprice * l_discount", 4).alias("revenue"),
        F.count(F.lit(1)).cast("long").alias("n_items"),
    )


# ---------------------------------------------------------------- D14 depth: Q4 priority counts

@query(
    "subq_q4_priority_count",
    "D14",
    oracle="""
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
    FROM orders o
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate)
    GROUP BY o_orderpriority
    """,
)
def subq_q4_priority_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (fixture-adapted: no commit/receipt dates, so the
    EXISTS tests late shipping, l_shipdate > o_orderdate): priority mix
    of orders with at least one late lineitem.

    Scale: the correlated EXISTS is a LEFT SEMI join on l_orderkey with
    the date comparison as join residual — one shuffle keyed on
    orderkey, no row multiplication (semi stops at first match), then a
    5-group aggregate. The date filter on orders is pushed to its scan.
    """
    o = tables.load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-07-01")
    )
    li = tables.load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        o.join(
            li,
            (o.o_orderkey == li.l_orderkey) & (li.l_shipdate > o.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).cast("long").alias("order_count"))
    )


# ---------------------------------------------------------------- D3 depth: Q12 priority-by-class

@query(
    "join_q12_priority_by_class",
    "D3",
    oracle="""
    SELECT l_linestatus,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY l_linestatus
    """,
)
def join_q12_priority_by_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (fixture-adapted: l_linestatus stands in for the
    absent l_shipmode): per line class, how many shipped items belonged
    to high- vs low-priority orders — the join + conditional-aggregate
    pattern.

    Scale: lineitem is date-pruned at the scan, then ONE shuffle join on
    orderkey against orders; the CASE counts are partial-aggregated
    map-side to 2 groups. No second shuffle: groupBy key is tiny.
    """
    o = tables.load(spark, sf_dir, "orders")
    li = tables.load(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).cast("long").alias("low_line_count"),
        )
    )


# ---------------------------------------------------------------- D5 depth: Q21 sole-blame supplier

@query(
    "join_q21_sole_blame_supplier",
    "D5",
    oracle="""
    SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
    FROM supplier, lineitem l1
    WHERE s_suppkey = l1.l_suppkey
      AND l1.l_returnflag = 'R'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_returnflag = 'R')
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 20
    """,
)
def join_q21_sole_blame_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (fixture-adapted: l_returnflag='R' stands in for
    the absent receipt-after-commit lateness test): suppliers solely to
    blame in multi-supplier orders — the hardest TPC-H join composition,
    a semi join AND an anti join against the same fact table.

    Scale: both EXISTS branches key on l_orderkey, so Catalyst plans
    them as LeftSemi/LeftAnti joins sharing the orderkey shuffle
    partitioning of l1 — three co-partitioned passes over lineitem,
    no row blow-up, then an unhinted supplier name join (SF-scaling
    side — auto-broadcast when small) and a top-20
    TakeOrderedAndProject.
    """
    li = tables.load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_returnflag"
    )
    s = tables.load(spark, sf_dir, "supplier")
    l1 = li.where(F.col("l_returnflag") == "R")
    # r18 MEASURED AND REJECTED (OPTIMIZATION_r18.md): replacing the
    # semi+anti self-joins with a per-order distinct-supplier aggregate
    # (groupBy(l_orderkey, l_suppkey).agg(has_r) -> groupBy(l_orderkey)
    # counts -> semi join l1) was output-identical (multiset diff 0/0 at
    # sf0.1, oracle hash-exact at sf0.01) but LOST the interleaved
    # same-session A/B 1.07 -> 2.07 s (0.52x, quantum 37 ms): the full
    # (orderkey, suppkey) aggregate shuffles every fact row where the
    # semi/anti pair shares l1's orderkey partitioning and short-circuits
    # on the first match per key. The committed shape is also the
    # at-scale winner: both EXISTS branches stay co-partitioned passes
    # with no row blow-up.
    l2 = li.select(
        F.col("l_orderkey").alias("o2"), F.col("l_suppkey").alias("s2")
    )
    l3 = li.where(F.col("l_returnflag") == "R").select(
        F.col("l_orderkey").alias("o3"), F.col("l_suppkey").alias("s3")
    )
    blamed = (
        l1.join(
            l2, (l1.l_orderkey == F.col("o2")) & (l1.l_suppkey != F.col("s2")), "left_semi"
        ).join(
            l3, (l1.l_orderkey == F.col("o3")) & (l1.l_suppkey != F.col("s3")), "left_anti"
        )
    )
    return (
        blamed.join(s, blamed.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).cast("long").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(20)
    )


# ---------------------------------------------------------------- D11 depth: time-range window frame

@query(
    "win_time_range_trailing_1h",
    "D11",
    oracle="""
    SELECT event_id, user_id,
           CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec,
           CAST(count(*) OVER w AS BIGINT) AS cnt_1h,
           CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) OVER w AS BIGINT)
               AS sum_cents_1h
    FROM events
    WINDOW w AS (PARTITION BY user_id
                 ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
                 RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW)
    """,
)
def win_time_range_trailing_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-RANGE window frame (SURVEY.md §2-D11 depth): per user, the
    trailing-1-hour event count and value sum at every event — the frame
    is defined by a TIME interval (rangeBetween on epoch seconds), not a
    row count, so same-timestamp peers enter the frame together on both
    engines.

    Parity: values are summed as exact integer cents (2-decimal fixture
    domain), sidestepping float accumulation-order divergence inside the
    frame (parity rule: integer micro-units for order-dependent sums).

    Scale: one shuffle on user_id, one sort by ts within partitions;
    the running frame is computed in a single pass per partition.
    """
    ev = tables.load(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.unix_timestamp("ts").alias("ts_sec"),
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_sec")
        .rangeBetween(-3599, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts_sec",
        F.count(F.lit(1)).over(w).cast("long").alias("cnt_1h"),
        F.sum("cents").over(w).cast("long").alias("sum_cents_1h"),
    )


# ---------------------------------------------------------------- D17 depth: bitwise suite

@query(
    "fn_bitwise_suite",
    "D17",
    oracle="""
    SELECT o_orderkey,
           CAST(o_orderkey & 255 AS BIGINT)        AS k_and,
           CAST(o_orderkey | 4096 AS BIGINT)       AS k_or,
           CAST(xor(o_orderkey, o_custkey) AS BIGINT) AS k_xor,
           CAST(o_orderkey << 2 AS BIGINT)         AS k_shl,
           CAST(o_orderkey >> 3 AS BIGINT)         AS k_shr,
           CAST(bit_count(o_orderkey) AS BIGINT)   AS k_pop
    FROM orders
    """,
)
def fn_bitwise_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise operator suite (SURVEY.md §2-D17 depth): and/or/xor,
    shifts, popcount — the primitives the SimHash/bucketing operators
    build on, exercised standalone. Integer-exact on both engines;
    pure codegen, zero shuffle."""
    o = tables.load(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    return o.select(
        "o_orderkey",
        k.bitwiseAND(F.lit(255)).cast("long").alias("k_and"),
        k.bitwiseOR(F.lit(4096)).cast("long").alias("k_or"),
        k.bitwiseXOR(F.col("o_custkey")).cast("long").alias("k_xor"),
        F.shiftleft(k, 2).cast("long").alias("k_shl"),
        F.shiftright(k, 3).cast("long").alias("k_shr"),
        F.bit_count(k).cast("long").alias("k_pop"),
    )


# ---------------------------------------------------------------- D11 depth: value-position windows

@query(
    "win_first_last_nth",
    "D11",
    oracle="""
    SELECT o_orderkey, o_custkey,
           first_value(o_orderkey) OVER w AS first_key,
           last_value(o_orderkey)  OVER w AS last_key,
           nth_value(o_orderkey, 2) OVER w AS second_key,
           CAST(round(o_totalprice - first_value(o_totalprice) OVER w, 2)
                AS DOUBLE) AS delta_vs_first
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def win_first_last_nth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first/last/nth_value window suite (SURVEY.md §2-D11 depth) with
    the frame SPELLED OUT (unbounded-unbounded): the default frame for
    last_value is RANGE..CURRENT ROW on both engines — a classic silent
    semantic trap — so the explicit frame is the only portable form.
    Tiebreak (o_orderdate, o_orderkey) is total => deterministic under
    any partitioning. One shuffle on o_custkey serves all four windows.
    delta_vs_first rounds at 2 (prices are 2dp; difference of 2dp values
    is 2dp-exact, no tie risk)."""
    o = tables.load(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.first("o_orderkey").over(w).alias("first_key"),
        F.last("o_orderkey").over(w).alias("last_key"),
        F.nth_value("o_orderkey", 2).over(w).alias("second_key"),
        F.round(
            F.col("o_totalprice") - F.first("o_totalprice").over(w), 2
        ).alias("delta_vs_first"),
    )


# ---------------------------------------------------------------- D7 depth: exact median + mode

@query(
    "agg_median_mode",
    "D7",
    oracle="""
    WITH counts AS (
      SELECT l_returnflag, l_quantity, count(*) AS c
      FROM lineitem GROUP BY 1, 2
    ),
    md AS (SELECT l_returnflag, median(l_quantity) AS median_qty,
                  CAST(count(*) AS BIGINT) AS n_items
           FROM lineitem GROUP BY 1),
    mo AS (SELECT l_returnflag, l_quantity AS mode_qty
           FROM (SELECT l_returnflag, l_quantity, c,
                        row_number() OVER (PARTITION BY l_returnflag
                                           ORDER BY c DESC, l_quantity) AS rn
                 FROM counts)
           WHERE rn = 1)
    SELECT md.l_returnflag, md.median_qty, mo.mode_qty, md.n_items
    FROM md JOIN mo ON md.l_returnflag = mo.l_returnflag
    """,
)
def agg_median_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact median + deterministic mode per group (SURVEY.md §2-D7
    depth). Median is the exact continuous median (both engines average
    the two middle values — an IEEE-identical (a+b)/2 on 2dp inputs).
    Mode is computed MANUALLY (count + row_number with a min-value
    tiebreak): built-in mode() tiebreaking is engine-defined and can
    never hash-match, so the portable form is the explicit one.

    Scale: the count-distinct-ish (flag, quantity) pre-aggregate is
    partial-combined map-side; the window runs over ~50 rows per flag.
    Exact median at 100 TB would use percentile_approx instead — the
    sketch variant is agg_approx_sketches (rows-only by nature).
    """
    li = tables.load(spark, sf_dir, "lineitem")
    counts = li.groupBy("l_returnflag", "l_quantity").agg(
        F.count(F.lit(1)).alias("c")
    )
    w = Window.partitionBy("l_returnflag").orderBy(F.desc("c"), "l_quantity")
    mo = (
        counts.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("l_returnflag", F.col("l_quantity").alias("mode_qty"))
    )
    md = li.groupBy("l_returnflag").agg(
        F.median("l_quantity").alias("median_qty"),
        F.count(F.lit(1)).cast("long").alias("n_items"),
    )
    return md.join(mo, "l_returnflag").select(
        "l_returnflag", "median_qty", "mode_qty", "n_items"
    )


# ---------------------------------------------------------------- D14 depth: correlated scalar subquery

@query(
    "subq_corr_above_nation_avg",
    "D14",
    oracle="""
    SELECT c.c_custkey, c.c_name, n.n_name
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE CAST(round(c.c_acctbal * 100, 0) AS BIGINT)
          * (SELECT count(*) FROM customer c2
             WHERE c2.c_nationkey = c.c_nationkey)
          > (SELECT sum(CAST(round(c2.c_acctbal * 100, 0) AS BIGINT))
             FROM customer c2 WHERE c2.c_nationkey = c.c_nationkey)
    """,
)
def subq_corr_above_nation_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (SURVEY.md §2-D14 depth): customers
    whose balance beats their nation's average. The comparison is the
    integer CROSS-MULTIPLY ``cents * n > sum_cents`` — algebraically
    identical to ``bal > avg`` but exact, where a float avg's last bit
    depends on each engine's summation order and flips boundary rows
    (parity rule: never compare against an order-dependent float).

    Spark side decorrelates explicitly: per-nation (count, sum) aggregate
    broadcast back onto customer — the same plan Catalyst derives for
    the correlated SQL form, stated declaratively.
    """
    c = tables.load(spark, sf_dir, "customer")
    n = tables.load(spark, sf_dir, "nation")
    cents = F.round(F.col("c_acctbal") * 100, 0).cast("long")
    per_nation = (
        c.select("c_nationkey", cents.alias("cents"))
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n_cust"), F.sum("cents").alias("sum_cents"))
    )
    return (
        c.withColumn("cents", cents)
        .join(F.broadcast(per_nation), "c_nationkey")
        .where(F.col("cents") * F.col("n_cust") > F.col("sum_cents"))
        .join(F.broadcast(n), F.col("c_nationkey") == n.n_nationkey)
        .select("c_custkey", "c_name", "n_name")
    )


# ---------------------------------------------------------------- D8 depth: sketch aggregates

@query("agg_approx_sketches", "D8", oracle=None)
def agg_approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch aggregates (SURVEY.md §2-D8/C10 scale path): HyperLogLog++
    distinct counts and approximate percentiles per l_returnflag — the
    estimators that replace exact distinct/median at 100 TB (fixed-size
    state, partial-mergeable, one pass). Rows-only by nature: sketch
    internals are engine-specific and can never hash-match an oracle;
    the error-bound contract vs exact values is pytest-enforced
    (tests/test_properties.py::test_sketch_error_bounds).
    """
    li = tables.load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey", rsd=0.02).alias("approx_orders"),
        F.percentile_approx("l_extendedprice", [0.5, 0.95, 0.99], 10000).alias("p"),
        F.count(F.lit(1)).cast("long").alias("n_items"),
    ).select(
        "l_returnflag",
        "approx_orders",
        F.col("p")[0].alias("p50_price"),
        F.col("p")[1].alias("p95_price"),
        F.col("p")[2].alias("p99_price"),
        "n_items",
    )


# ---------------------------------------------------------------- D15 depth: edit distance

@query(
    "fn_edit_distance_pairs",
    "D15",
    oracle="""
    WITH t AS (SELECT doc_id, substr(lower(trim(text)), 1, 40) AS t40
               FROM documents)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(levenshtein(a.t40, b.t40) AS BIGINT) AS edit_dist,
           round(1.0 - CAST(levenshtein(a.t40, b.t40) AS DOUBLE)
                       / greatest(length(a.t40), length(b.t40)), 6) AS sim
    FROM t a JOIN t b ON b.doc_id = a.doc_id + 1
    """,
)
def fn_edit_distance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Levenshtein edit distance + normalized similarity for adjacent doc
    prefixes (SURVEY.md §2-D15 depth): the fuzzy-matching kernel
    (record linkage, OCR dedup) as a built-in JVM expression on both
    engines — never a Python UDF.

    The 40-char prefix bounds the O(len^2) DP per pair; at 100 TB
    the pair GENERATOR is LSH banding (llm_minhash_pairs), with edit
    distance as the verify kernel exactly as exercised here.
    """
    d = tables.load(spark, sf_dir, "documents").select(
        "doc_id", F.substring(F.lower(F.trim("text")), 1, 40).alias("t40")
    )
    a = d.select(F.col("doc_id").alias("doc_a"), F.col("t40").alias("ta"))
    b = d.select(F.col("doc_id").alias("doc_b"), F.col("t40").alias("tb"))
    ed = F.levenshtein("ta", "tb")
    return (
        a.join(b, F.col("doc_b") == F.col("doc_a") + 1)
        .select(
            "doc_a",
            "doc_b",
            ed.cast("long").alias("edit_dist"),
            F.round(
                1.0 - ed.cast("double") / F.greatest(F.length("ta"), F.length("tb")),
                6,
            ).alias("sim"),
        )
    )


# ---------------------------------------------------------------- D3 depth: null-safe join

@query(
    "join_null_safe",
    "D3",
    oracle="""
    WITH a AS (SELECT o_orderkey, nullif(o_orderstatus, 'P') AS k FROM orders),
    b AS (SELECT DISTINCT nullif(o_orderstatus, 'P') AS k FROM orders)
    SELECT b.k AS status_key, CAST(count(*) AS BIGINT) AS n_orders
    FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
    GROUP BY b.k
    """,
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join (SURVEY.md §2-D3 depth): Spark's <=>
    (eqNullSafe) vs SQL IS NOT DISTINCT FROM — NULL keys match each
    other instead of vanishing, the semantics entity-resolution joins
    need for optional keys.

    Plan note: eqNullSafe keys still hash-partition (NULL hashes to a
    bucket like any value), so this stays a proper hash join — no
    fallback to nested-loop.
    """
    o = tables.load(spark, sf_dir, "orders")
    a = o.select("o_orderkey", F.nullif("o_orderstatus", F.lit("P")).alias("k"))
    b = a.select("k").distinct().select(F.col("k").alias("kb"))
    return (
        a.join(b, a.k.eqNullSafe(F.col("kb")))
        .groupBy(F.col("kb").alias("status_key"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
    )


# ---------------------------------------------------------------- D7 depth: exact decimal aggregation

@query(
    "agg_decimal_exact",
    "D7",
    oracle="""
    SELECT l_returnflag,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR)
               AS sum_price_dec,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS sum_qty_dec,
           CAST(count(*) AS BIGINT) AS n
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_decimal_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact DECIMAL aggregation (SURVEY.md §2-D7 depth): money sums in
    DECIMAL(18,2) — associative, commutative, and ORDER-INDEPENDENT,
    unlike float sums whose last bit depends on partitioning. This is
    the type a financial pipeline must aggregate in at 100 TB, where
    any reduction order is possible; emitted as canonical strings so
    the comparison is representation-exact.
    """
    li = tables.load(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("sp"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("sq"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
        .select(
            "l_returnflag",
            F.col("sp").cast("decimal(18,2)").cast("string").alias("sum_price_dec"),
            F.col("sq").cast("decimal(18,2)").cast("string").alias("sum_qty_dec"),
            "n",
        )
    )


# ---------------------------------------------------------------- D16 depth: interval arithmetic

@query(
    "fn_interval_suite",
    "D16",
    oracle="""
    SELECT o_orderkey,
           strftime(o_orderdate + INTERVAL 90 DAY, '%Y-%m-%d %H:%M:%S') AS due_ts,
           strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS month_end,
           CAST(date_part('quarter', o_orderdate) AS BIGINT) AS q,
           CAST(date_part('doy', o_orderdate) AS BIGINT) AS doy,
           CAST(date_diff('day', TIMESTAMP '1995-01-01 00:00:00', o_orderdate)
                AS BIGINT) AS days_since_95,
           strftime(o_orderdate - INTERVAL 6 HOUR, '%Y-%m-%d %H:%M:%S')
               AS minus_6h
    FROM orders
    """,
)
def fn_interval_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval arithmetic + calendar parts (SURVEY.md §2-D16 depth):
    timestamp ± INTERVAL, month-end, quarter/day-of-year extraction,
    day difference vs an epoch — the due-date/SLA math of every orders
    pipeline. Calendar functions chosen for the cross-engine-identical
    subset (week numbering and months_between differ by dialect and are
    deliberately excluded). All codegen'd; zero shuffle.
    """
    o = tables.load(spark, sf_dir, "orders")
    fmt = "yyyy-MM-dd HH:mm:ss"
    return o.select(
        "o_orderkey",
        F.date_format(F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"), fmt).alias(
            "due_ts"
        ),
        F.date_format(F.last_day("o_orderdate"), "yyyy-MM-dd").alias("month_end"),
        F.quarter("o_orderdate").cast("long").alias("q"),
        F.dayofyear("o_orderdate").cast("long").alias("doy"),
        F.datediff(F.to_date("o_orderdate"), F.lit("1995-01-01")).cast("long").alias(
            "days_since_95"
        ),
        F.date_format(F.col("o_orderdate") - F.expr("INTERVAL 6 HOURS"), fmt).alias(
            "minus_6h"
        ),
    )


# ---------------------------------------------------------------- D13 depth: INTERSECT ALL

@query(
    "setop_intersect_all",
    "D13",
    oracle="""
    SELECT c_nationkey FROM (
      SELECT c_nationkey FROM customer WHERE c_mktsegment = 'BUILDING'
      INTERSECT ALL
      SELECT c_nationkey FROM customer WHERE c_acctbal > 0
    ) t
    """,
)
def setop_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL (SURVEY.md §2-D13 depth): bag-semantics
    intersection — each nation key survives min(count_left, count_right)
    times, which DISTINCT-based intersect destroys. Physical plan is a
    single hash aggregate per side + join on the key with count
    arithmetic — no row explosion.
    """
    c = tables.load(spark, sf_dir, "customer")
    a = c.where(F.col("c_mktsegment") == "BUILDING").select("c_nationkey")
    b = c.where(F.col("c_acctbal") > 0).select("c_nationkey")
    return a.intersectAll(b)


# ---------------------------------------------------------------- D8 depth: Q16 supplier count per part attrs

@query(
    "agg_q16_supplier_cnt",
    "D8",
    oracle="""
    WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
    SELECT p_brand, p_type, p_size,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM ps JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1'
      AND p_type <> 'MEDIUM'
      AND p_size IN (1, 4, 7, 10, 13, 16, 19, 22, 25)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    """,
)
def agg_q16_supplier_cnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (fixture-adapted: the part-supplier link is the
    DISTINCT (l_partkey, l_suppkey) pairs of lineitem — the fixtures have
    no partsupp table — and "complaint" suppliers are those with negative
    account balance): how many distinct suppliers can deliver each
    surviving (brand, type, size) bucket.

    Scale: lineitem is projected to 2 columns at the scan, the distinct
    and the count-distinct share one shuffle keyed on l_partkey-group
    attrs; part and the complaint list join unhinted (both scale with
    SF — size-based strategy, not a pinned hint). The NOT IN is a
    left_anti join (fixture keys are non-null, so semantics coincide).
    """
    ps = (
        tables.load(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    p = tables.load(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "MEDIUM")
        & F.col("p_size").isin(1, 4, 7, 10, 13, 16, 19, 22, 25)
    )
    bad = tables.load(spark, sf_dir, "supplier").where(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    return (
        ps.join(bad, ps.l_suppkey == bad.s_suppkey, "left_anti")
        .join(p, ps.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").cast("long").alias("supplier_cnt"))
    )


# ---------------------------------------------------------------- D14 depth: Q11 important stock value

@query(
    "agg_q11_important_parts",
    "D14",
    oracle="""
    WITH nsup AS (
      SELECT s_suppkey FROM supplier, nation
      WHERE s_nationkey = n_nationkey
        AND n_name IN ('NATION_3', 'NATION_7', 'NATION_11')
    ),
    v AS (
      SELECT l_partkey AS partkey,
             CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
                  AS BIGINT) AS val_cents
      FROM lineitem
      WHERE l_suppkey IN (SELECT s_suppkey FROM nsup)
      GROUP BY l_partkey
    )
    SELECT partkey, val_cents
    FROM v
    WHERE val_cents * 1000 > (SELECT sum(val_cents) FROM v)
    """,
)
def agg_q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (fixture-adapted: "stock value" is the summed
    extended price of lineitems shipped by suppliers from a 3-nation
    bloc; no partsupp/availqty in the fixtures): parts whose value
    exceeds 0.1% of the bloc's total — the group-by + HAVING-against-
    global-scalar-subquery composition.

    Parity: exact integer cents on both engines (2-decimal price
    domain), and the 0.1% threshold is integer arithmetic
    (val*1000 > total), so no float tie can flip membership.

    Scale: the nation-bloc supplier list semi-joins at the scan
    (unhinted: it is ~40% of supplier, an SF-scaling table),
    the scan, one shuffle aggregates per-part value, and the grand total
    is a 1-row broadcast joined back — no second pass over lineitem.
    """
    s = tables.load(spark, sf_dir, "supplier")
    n = tables.load(spark, sf_dir, "nation").where(
        F.col("n_name").isin("NATION_3", "NATION_7", "NATION_11")
    )
    nsup = s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey).select("s_suppkey")
    li = tables.load(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice"
    )
    v = (
        li.join(nsup, li.l_suppkey == nsup.s_suppkey, "left_semi")
        .groupBy(F.col("l_partkey").alias("partkey"))
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100, 0).cast("long"))
            .alias("val_cents")
        )
    )
    total = v.agg(F.sum("val_cents").alias("total_cents"))
    return (
        v.crossJoin(F.broadcast(total))
        .where(F.col("val_cents") * 1000 > F.col("total_cents"))
        .select("partkey", "val_cents")
    )


# ---------------------------------------------------------------- D14 depth: Q2 min-cost supplier

@query(
    "join_q2_min_cost_supplier",
    "D14",
    oracle="""
    WITH cost AS (
      SELECT l_partkey, l_suppkey,
             min(l_extendedprice / l_quantity) AS unit_cost
      FROM lineitem GROUP BY l_partkey, l_suppkey
    ),
    eur AS (
      SELECT s_suppkey, s_name, s_acctbal, n_name
      FROM supplier, nation, region
      WHERE s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        AND r_name = 'EUROPE'
    )
    SELECT s_acctbal, s_name, n_name, p_partkey, p_type, unit_cost
    FROM part, cost, eur
    WHERE p_partkey = l_partkey AND l_suppkey = s_suppkey
      AND p_size < 10 AND p_type IN ('LARGE', 'SMALL')
      AND unit_cost = (SELECT min(c2.unit_cost)
                       FROM cost c2, eur e2
                       WHERE c2.l_partkey = p_partkey
                         AND c2.l_suppkey = e2.s_suppkey)
    """,
)
def join_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (fixture-adapted: "supply cost" of a (part,
    supplier) pair is the minimum unit price ever shipped on that pair's
    lineitems; no partsupp in the fixtures): for each small LARGE/SMALL
    part, the European supplier(s) offering it cheapest — the classic
    correlated-min subquery, decorrelated here into a per-part min +
    self-join.

    Parity: unit_cost is a single IEEE division selected by min() — both
    engines pick the identical bit pattern, so the equality join against
    the per-part min is exact (no rounding needed, per the parity rule:
    never round, either integer units or bit-identical floats).

    Scale: one shuffle aggregates the (part, supplier) cost table;
    nation/region broadcast (hinted); supplier and the per-part min
    table join unhinted — both scale with SF (the min table has one row
    PER PART), so their strategy stays size-based —
    lineitem is scanned once.

    r17 (guide §3.2): the selective part predicate (p_size < 10 AND
    p_type IN (LARGE, SMALL) — ~6% of parts) used to join LAST, after
    the full-fact aggregation; a semi-join on the filtered part keys
    now sits BELOW the (part, supplier) min aggregate, so only
    qualifying parts' lineitems reach the shuffle (600k -> ~36k rows at
    sf0.1). Output-identical: the per-(part, supplier) min and the
    per-part best never read other parts' rows, and every output row
    already carried the part filter via the final join. The semi-join
    is unhinted — size-based broadcast at fixture scale, SMJ/Bloom at
    100 TB where part scales with SF.
    """
    li = tables.load(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_quantity"
    )
    pk = (
        tables.load(spark, sf_dir, "part")
        .where((F.col("p_size") < 10) & F.col("p_type").isin("LARGE", "SMALL"))
        .select("p_partkey")
    )
    li = li.join(pk, li.l_partkey == pk.p_partkey, "left_semi")
    cost = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost")
    )
    s = tables.load(spark, sf_dir, "supplier")
    n = tables.load(spark, sf_dir, "nation")
    r = tables.load(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    eur = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    ec = cost.join(eur, cost.l_suppkey == eur.s_suppkey)
    # r17 (guide §2.4): the per-part best used to be a groupBy + self-
    # join, which re-derives the whole ec subtree in the build arm — the
    # before plan scanned lineitem/supplier/nation/region TWICE. A
    # min() window over l_partkey computes best_cost in the SAME pass
    # (the cost table is already keyed by part; per-part groups are
    # supplier-bounded, no skew), so every table is scanned once and the
    # decorrelating join disappears. Row set identical: keep rows whose
    # unit_cost equals their part's min — the same float compare on the
    # same bit-identical values.
    wbest = Window.partitionBy("l_partkey")
    ec = ec.withColumn("best_cost", F.min("unit_cost").over(wbest)).where(
        F.col("unit_cost") == F.col("best_cost")
    )
    p = tables.load(spark, sf_dir, "part").where(
        (F.col("p_size") < 10) & F.col("p_type").isin("LARGE", "SMALL")
    )
    return (
        ec.join(p, ec.l_partkey == p.p_partkey)
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_type", "unit_cost")
    )


# ---------------------------------------------------------------- D5 depth: Q20 dominant suppliers

@query(
    "join_q20_dominant_suppliers",
    "D5",
    oracle="""
    WITH w AS (
      SELECT l_partkey, l_suppkey,
             sum(CAST(round(l_quantity, 0) AS BIGINT)) AS qty
      FROM lineitem
      WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1998-01-01'
        AND l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
      GROUP BY l_partkey, l_suppkey
    ),
    tot AS (SELECT l_partkey AS tk, sum(qty) AS tot_qty FROM w GROUP BY 1)
    SELECT DISTINCT s_suppkey, s_name
    FROM supplier
    WHERE s_suppkey IN (
      SELECT l_suppkey FROM w, tot
      WHERE l_partkey = tk AND qty * 2 > tot_qty)
    """,
)
def join_q20_dominant_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (fixture-adapted: with no availqty, "excess"
    becomes dominance — suppliers who shipped more than half of a red
    part's 1996-97 volume): name-prefix part filter -> per-(part,
    supplier) quantity -> compare against the part total -> semi join
    back to supplier.

    Parity: quantities are integer-valued in the fixture domain, summed
    as BIGINT, and the half test is qty*2 > tot — pure integer
    arithmetic on both engines.

    Scale: the red-part key list semi-joins under the
    date-pruned scan (unhinted: ~1/9 of part, an SF-scaling table);
    one shuffle keys (partkey, suppkey); the per-part
    total is a windowed sum over the already-aggregated (tiny) table, so
    lineitem is read once and shuffled once.
    """
    red = (
        tables.load(spark, sf_dir, "part")
        .where(F.col("p_name").like("red%"))
        .select("p_partkey")
    )
    li = tables.load(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    w = (
        li.join(red, li.l_partkey == red.p_partkey, "left_semi")
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(F.round("l_quantity", 0).cast("long")).alias("qty"))
    )
    tot = Window.partitionBy("l_partkey")
    dominant = (
        w.withColumn("tot_qty", F.sum("qty").over(tot))
        .where(F.col("qty") * 2 > F.col("tot_qty"))
        .select("l_suppkey")
        .distinct()
    )
    s = tables.load(spark, sf_dir, "supplier")
    return (
        s.join(dominant, s.s_suppkey == dominant.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name")
    )


# ---------------------------------------------------------------- D6: range theta

_PRICE_BANDS = [
    ("b900", 900.0, 920.0),
    ("b920", 920.0, 940.0),
    ("b940", 940.0, 960.0),
    ("b960", 960.0, 980.0),
    ("b980", 980.0, 1000.0),
]


@query(
    "join_theta_range",
    "D6",
    oracle="""
    SELECT b.band,
           count(*) AS n_parts,
           CAST(sum(CAST(round(p.p_retailprice * 100, 0) AS BIGINT))
                AS BIGINT) AS sum_price_cents
    FROM part p
    JOIN (VALUES ('b900', 900.0, 920.0), ('b920', 920.0, 940.0),
                 ('b940', 940.0, 960.0), ('b960', 960.0, 980.0),
                 ('b980', 980.0, 1000.0)) AS b(band, lo, hi)
      ON p.p_retailprice >= b.lo AND p.p_retailprice < b.hi
    GROUP BY b.band
    """,
)
def join_theta_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure range theta join (SURVEY D6): bucket parts into price bands
    held in a tiny dimension, joined on lo <= price < hi with no equi
    component at all.

    Scale: a no-equi-key join can only be a nested loop; the correct
    plan is BroadcastNestedLoopJoin with the band table broadcast (5
    rows) so the fact side streams without a shuffle. Parity: per-row
    cents rounding then BIGINT sum keeps the money total exact on both
    engines (float-sum ties are impossible on integers).
    """
    p = tables.load(spark, sf_dir, "part")
    bands = spark.createDataFrame(_PRICE_BANDS, "band string, lo double, hi double")
    return (
        p.join(
            F.broadcast(bands),
            (p.p_retailprice >= bands.lo) & (p.p_retailprice < bands.hi),
            "inner",
        )
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum(F.round(F.col("p_retailprice") * 100, 0).cast("long")).alias(
                "sum_price_cents"
            ),
        )
    )


# ------------------------------------------------- D10: distribution ranks

@query(
    "win_percent_rank_cume",
    "D10",
    oracle="""
    SELECT c_nationkey, c_custkey,
           percent_rank() OVER w AS pct_rank,
           cume_dist() OVER w AS cume
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey)
    """,
)
def win_percent_rank_cume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank + cume_dist per nation over account balance (SURVEY
    D10 distribution ranks). Order key includes c_custkey so ranks are
    total-order deterministic.

    Parity: both are small-integer ratios (rank-1)/(n-1), rank_le/n —
    one IEEE division, bit-identical across engines — emitted RAW (r5:
    the old 6dp rounding HIT a real tie at sf0.1, where nation
    partitions reach 640 = 2^7*5 rows and 41/640 = 0.0640625 rounds
    differently under Spark's HALF_UP vs DuckDB's scaled multiply).

    Scale (r11): same grouped_positions two-phase rewrite as
    win_ntile_dense — the 25-value nation window was a linear-in-SF
    single-task sort; under the total order rank = position p and both
    ratios are arithmetic in (p, n) with the identical long-over-long
    IEEE divisions WindowExec performs (driver hash unchanged).
    """
    c = tables.load(spark, sf_dir, "customer")
    d = grouped_positions(
        c.select("c_custkey", "c_nationkey", "c_acctbal"),
        ["c_nationkey"],
        [F.col("c_acctbal"), F.col("c_custkey")],
    )
    return d.select(
        "c_nationkey",
        "c_custkey",
        F.when(F.col("_n") == 1, F.lit(0.0))
        .otherwise((F.col("_pos") - 1).cast("double") / (F.col("_n") - 1))
        .alias("pct_rank"),
        (F.col("_pos").cast("double") / F.col("_n")).alias("cume"),
    )


# ------------------------------------------------------- D15: regexp suite

@query(
    "fn_regexp_suite",
    "D15",
    oracle="""
    SELECT doc_id,
           regexp_extract(text, '([a-z]{5,})', 1) AS first_long_word,
           regexp_extract(text, '\\b(sp[a-z]*)', 1) AS first_sp_word,
           len(regexp_extract_all(text, '[aeiou]')) AS n_vowels,
           regexp_matches(text, '[0-9]') AS has_digit,
           regexp_replace(substring(text, 1, 40), '[aeiou]', '_', 'g')
             AS head_devoweled
    FROM documents
    """,
)
def fn_regexp_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regexp scalar-function suite (SURVEY D15): extract / count /
    boolean-match / replace, patterns restricted to the regex subset
    where Java (Spark) and RE2 (DuckDB) agree.

    Scale: all JVM-codegen'd expressions over a projected 2-column
    scan -- no shuffle, no UDF.
    """
    d = tables.load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.regexp_extract("text", r"([a-z]{5,})", 1).alias("first_long_word"),
        F.regexp_extract("text", r"\b(sp[a-z]*)", 1).alias("first_sp_word"),
        F.regexp_count("text", F.lit(r"[aeiou]")).alias("n_vowels"),
        F.col("text").rlike(r"[0-9]").alias("has_digit"),
        F.regexp_replace(F.substring("text", 1, 40), r"[aeiou]", "_").alias(
            "head_devoweled"
        ),
    )


# ------------------------------------------- D18: lateral positional explode

@query(
    "fn_lateral_posexplode",
    "D18",
    oracle="""
    SELECT doc_id,
           unnest(range(0, len(toks))) AS pos,
           unnest(toks) AS tok
    FROM (SELECT doc_id, string_split(text, ' ') AS toks
          FROM documents WHERE doc_id < 20)
    """,
)
def fn_lateral_posexplode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional explode (SURVEY D18 / G4 lateral-view shape): token
    stream with ordinal position, the row-per-token layout every
    downstream NLP stage (n-gram, windowed context) builds on.

    Scale: posexplode is a Generate node -- pipelined, no shuffle; the
    doc_id predicate prunes before generation so the blow-up factor
    applies only to selected rows.
    """
    d = tables.load(spark, sf_dir, "documents").where(F.col("doc_id") < 20)
    return d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok")
    )


# --------------------------------------------- D14 depth: LATERAL subquery join

@query(
    "subq_lateral_top2_orders",
    "D14",
    oracle="""
    SELECT c.c_custkey, c.c_name, t.o_orderkey, t.o_totalprice, t.rnk
    FROM customer c,
         LATERAL (
           SELECT o_orderkey, o_totalprice,
                  CAST(row_number() OVER (ORDER BY o_totalprice DESC,
                                          o_orderkey) AS BIGINT) AS rnk
           FROM orders o
           WHERE o.o_custkey = c.c_custkey
           ORDER BY o_totalprice DESC, o_orderkey
           LIMIT 2
         ) t
    WHERE c.c_acctbal > 9000
    """,
)
def subq_lateral_top2_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery (SURVEY.md §2-D14 depth): each
    wealthy customer joined laterally to its own top-2 orders by price —
    the SQL-standard per-row derived table (Spark >= 3.4 LATERAL
    support), the one correlated-subquery shape the D14 scalar/IN/EXISTS
    suite didn't cover.

    Parity: o_totalprice is a fixture decimal-as-double compared, never
    arithmetized; ordering ties break on o_orderkey on both engines.

    Scale: Catalyst decorrelates the LATERAL into a ranked window over
    the orders side joined back on custkey — no per-row re-execution of
    the inner query (which is how a naive nested-loop engine runs
    LATERAL); the filter on c_acctbal prunes the driving side before
    the join.
    """
    for t in ("customer", "orders"):
        tables.load(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(
        """
        SELECT c.c_custkey, c.c_name, t.o_orderkey, t.o_totalprice, t.rnk
        FROM customer c,
             LATERAL (
               SELECT o_orderkey, o_totalprice,
                      CAST(row_number() OVER (ORDER BY o_totalprice DESC,
                                              o_orderkey) AS BIGINT) AS rnk
               FROM orders o
               WHERE o.o_custkey = c.c_custkey
               ORDER BY o_totalprice DESC, o_orderkey
               LIMIT 2
             ) t
        WHERE c.c_acctbal > 9000
        """
    )


# ------------------------------------------------ D9 depth: multi-measure pivot

@query(
    "pivot_multi_measures",
    "D9",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS F_n,
           CAST(coalesce(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                         FILTER (WHERE o_orderstatus = 'F'), 0) AS BIGINT)
               AS F_cents,
           CAST(count(*) FILTER (WHERE o_orderstatus = 'O') AS BIGINT) AS O_n,
           CAST(coalesce(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                         FILTER (WHERE o_orderstatus = 'O'), 0) AS BIGINT)
               AS O_cents,
           CAST(count(*) FILTER (WHERE o_orderstatus = 'P') AS BIGINT) AS P_n,
           CAST(coalesce(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                         FILTER (WHERE o_orderstatus = 'P'), 0) AS BIGINT)
               AS P_cents
    FROM orders GROUP BY o_orderpriority
    """,
)
def pivot_multi_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-measure pivot (SURVEY.md §2-D9 depth): orders pivoted on
    status with TWO aggregates per pivot value (count + cent sum) —
    the wide-report shape pivot_flag_by_status's single measure didn't
    cover; Spark names the generated columns {value}_{alias}, mirrored
    as FILTER-ed conditional aggregates in the oracle.

    Parity: counts and integer-cent sums; empty cells coalesce to 0 on
    both engines (Spark count never nulls; sums are coalesced).

    Scale: pivot with an EXPLICIT value list compiles to one pass of
    conditional aggregation (no extra distinct-values job, no second
    shuffle) — always enumerate pivot values in production; the
    implicit-list form scans the data twice.
    """
    o = tables.load(spark, sf_dir, "orders")
    piv = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long"))
            .cast("long")
            .alias("cents"),
        )
    )
    return piv.select(
        "o_orderpriority",
        *[
            F.coalesce(F.col(f"{v}_{m}"), F.lit(0)).cast("long").alias(f"{v}_{m}")
            for v in ("F", "O", "P")
            for m in ("n", "cents")
        ],
    )
