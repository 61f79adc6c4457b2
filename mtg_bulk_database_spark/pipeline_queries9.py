"""TPC-H suite completion — the 13 canonical query SHAPES the registry
did not yet carry (Q4 Q6 Q8 Q9 Q10 Q11 Q12 Q13 Q14 Q16 Q19 Q20 Q22),
q182–q194.

The reference is a single-node Postgres ETL whose analytics surface is
plain SQL over its card tables (``schema/init.sql:1-146``); these
queries institutionalize the remaining decision-support shapes a user
of that schema would run, each expressed as the PLAN Spark should pick
at 100 TB (broadcast dims, semi/anti joins instead of correlated
subqueries, decimal-exact money sums, one final double division).

The driver's synthetic star schema is TPC-H-ish but REDUCED — no
``partsupp``, no ``l_commitdate``/``l_receiptdate``, no ``c_phone``,
no ``p_container``, no comment columns — so each query keeps the
canonical SHAPE (the join/aggregation/subquery structure that makes it
a distinct optimizer test) with adapted predicates, documented per
query.  Same discipline as the existing Q2/Q21 shapes
(``pipeline_queries6.py``).

Engine-portability discipline (the hard-won house rules):
- money sums via DECIMAL(18,6) on BOTH sides (partial-agg order);
- ratios = ONE final double division of decimal-exact operands;
- CASE counts via COUNT(CASE WHEN .. THEN 1 END), never SUM(int)
  (DuckDB SUM(INTEGER) is HUGEINT, Spark's is BIGINT);
- year() CAST to INT in the oracle (DuckDB returns BIGINT);
- top-k orderings always carry a unique tiebreak.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .catalog import load_table
from .functions.exact import _dsum, _sql_dsum
from .registry import query


# ---------------------------------------------------------------------------
# TPC-H Q4 — order priority checking: EXISTS → semi-join with a
# correlated date comparison.
# ---------------------------------------------------------------------------
@query(
    "q182_order_priority_check",
    """SELECT o_orderpriority, count(*) AS order_count
       FROM orders o
       WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
         AND o.o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
         AND EXISTS (SELECT 1 FROM lineitem l
                     WHERE l.l_orderkey = o.o_orderkey
                       AND l.l_shipdate > o.o_orderdate
                                          + INTERVAL 60 DAY)
       GROUP BY o_orderpriority""",
)
def q182(spark, sf_dir):
    """TPC-H Q4's shape: EXISTS over the fact decorrelates to a LEFT
    SEMI join whose condition carries the correlated date comparison
    (the commit<receipt predicate of the full schema becomes "shipped
    more than 60 days after ordering" on the reduced one).  The
    quarter filter prunes the orders scan BEFORE the join; the semi
    join shuffles on l_orderkey only rows that can match, and emits
    each order at most once — no distinct, no count inflation.
    """
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    o = orders.where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    late = o.join(
        li,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
        ),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count("*").alias("order_count")
    )


# ---------------------------------------------------------------------------
# TPC-H Q6 — forecasting revenue change: the pure filter-aggregate
# (predicate-pushdown showcase; no join at all).
# ---------------------------------------------------------------------------
@query(
    "q183_forecast_revenue",
    f"""SELECT {_sql_dsum('l_extendedprice * l_discount', 'revenue')}
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24""",
)
def q183(spark, sf_dir):
    """TPC-H Q6 verbatim (every column exists): one scan, every
    predicate pushed to parquet (shipdate/quantity are min/max-
    prunable; the plan pin asserts PushedFilters carries them), one
    map-side-combined decimal aggregate — at 100 TB this is the query
    partition pruning + column pruning should make ~free.  The
    discount band compares stored doubles against the same literals in
    both engines, so no epsilon is needed.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(_dsum(F.col("l_extendedprice") * F.col("l_discount"), "revenue"))
    )


# ---------------------------------------------------------------------------
# TPC-H Q8 — national market share: conditional share of a decimal
# volume sum, two independent nation lookups on one fact row.
# ---------------------------------------------------------------------------
@query(
    "q184_national_market_share",
    """SELECT CAST(year(o.o_orderdate) AS INT) AS o_year,
              CAST(SUM(CASE WHEN ns.n_name = 'NATION_7'
                       THEN CAST(l.l_extendedprice * (1 - l.l_discount)
                                 AS DECIMAL(18,6))
                       ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
              / CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                              AS DECIMAL(18,6))) AS DOUBLE)
              AS mkt_share
       FROM lineitem l
       JOIN orders o    ON o.o_orderkey = l.l_orderkey
       JOIN customer c  ON c.c_custkey = o.o_custkey
       JOIN nation nc   ON nc.n_nationkey = c.c_nationkey
       JOIN region r    ON r.r_regionkey = nc.n_regionkey
       JOIN supplier s  ON s.s_suppkey = l.l_suppkey
       JOIN nation ns   ON ns.n_nationkey = s.s_nationkey
       JOIN part p      ON p.p_partkey = l.l_partkey
       WHERE r.r_name = 'ASIA' AND p.p_type = 'STANDARD'
       GROUP BY o_year""",
)
def q184(spark, sf_dir):
    """TPC-H Q8's shape: market share = conditional volume / total
    volume per order year, the same fact row resolving its CUSTOMER
    nation (via orders) and its SUPPLIER nation independently — the
    two-aliases-of-one-dimension pattern.  All five dimension tables
    broadcast; lineitem⋈orders is the only big-big join (shuffle on
    the order key).  Both volume sums are decimal-exact; the share is
    one final double division per group.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    supp = load_table(spark, sf_dir, "supplier")
    part = load_table(spark, sf_dir, "part")

    # customer side collapsed driver-free: nation⋈region prunes to the
    # ASIA nation-key set before touching the fact
    nc = (
        nation.join(
            F.broadcast(region.where(F.col("r_name") == "ASIA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        ).select(F.col("n_nationkey").alias("cn_key"))
    )
    ns = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("s_nation")
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    dec = lambda c: c.cast("decimal(18,6)")  # noqa: E731
    return (
        li.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(
            F.broadcast(cust.select("c_custkey", "c_nationkey")),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .join(F.broadcast(nc), F.col("cn_key") == F.col("c_nationkey"))
        .join(
            F.broadcast(part.where(F.col("p_type") == "STANDARD")),
            F.col("p_partkey") == F.col("l_partkey"),
        )
        .join(
            F.broadcast(supp.select("s_suppkey", "s_nationkey")),
            F.col("s_suppkey") == F.col("l_suppkey"),
        )
        .join(F.broadcast(ns), F.col("sn_key") == F.col("s_nationkey"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            (
                F.sum(
                    F.when(F.col("s_nation") == "NATION_7", dec(vol)).otherwise(
                        dec(F.lit(0))
                    )
                ).cast("double")
                / F.sum(dec(vol)).cast("double")
            ).alias("mkt_share")
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q9 — product type profit: LIKE-filtered part dim, profit
# measure with a cost term, (nation, year) rollup.
# ---------------------------------------------------------------------------
@query(
    "q185_product_profit",
    f"""SELECT ns.n_name AS nation,
               CAST(year(o.o_orderdate) AS INT) AS o_year,
               {_sql_dsum(
                   'l.l_extendedprice * (1 - l.l_discount)'
                   ' - 0.6 * p.p_retailprice * l.l_quantity',
                   'sum_profit')}
        FROM lineitem l
        JOIN part p     ON p.p_partkey = l.l_partkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation ns  ON ns.n_nationkey = s.s_nationkey
        JOIN orders o   ON o.o_orderkey = l.l_orderkey
        WHERE p.p_name LIKE '%red%'
        GROUP BY nation, o_year""",
)
def q185(spark, sf_dir):
    """TPC-H Q9's shape: profit per supplier nation per order year over
    a LIKE-filtered slice of parts.  The reduced schema has no
    ``partsupp``, so the supply-cost term uses the deterministic
    surrogate ``0.6 * p_retailprice`` (documented, same on both
    sides); the SHAPE — fact⋈4 dims, arithmetic measure mixing fact
    and dim columns, two-level group — is unchanged.  part/supplier/
    nation broadcast; lineitem⋈orders shuffles once.  The profit
    expression evaluates in double EXACTLY as written on both engines,
    then the per-row cast to decimal makes the SUM order-independent.
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders")
    profit = F.col("l_extendedprice") * (1 - F.col("l_discount")) - 0.6 * F.col(
        "p_retailprice"
    ) * F.col("l_quantity")
    return (
        li.join(
            F.broadcast(
                part.where(F.col("p_name").like("%red%")).select(
                    "p_partkey", "p_retailprice"
                )
            ),
            F.col("p_partkey") == F.col("l_partkey"),
        )
        .join(
            F.broadcast(supp.select("s_suppkey", "s_nationkey")),
            F.col("s_suppkey") == F.col("l_suppkey"),
        )
        .join(
            F.broadcast(nation), F.col("n_nationkey") == F.col("s_nationkey")
        )
        .join(
            orders.select("o_orderkey", "o_orderdate"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(_dsum(profit, "sum_profit"))
    )


# ---------------------------------------------------------------------------
# TPC-H Q10 — returned item reporting: quarter of orders × returned
# lines, revenue per customer, deterministic top 20.
# ---------------------------------------------------------------------------
@query(
    "q186_returned_item_customers",
    f"""SELECT * FROM (
        SELECT c.c_custkey, c.c_name, n.n_name AS nation,
               c.c_acctbal,
               {_sql_dsum('l.l_extendedprice * (1 - l.l_discount)',
                          'revenue')}
        FROM customer c
        JOIN orders o   ON o.o_custkey = c.c_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN nation n   ON n.n_nationkey = c.c_nationkey
        WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o.o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
          AND l.l_returnflag = 'R'
        GROUP BY c.c_custkey, c.c_name, nation, c.c_acctbal)
        ORDER BY revenue DESC, c_custkey LIMIT 20""",
)
def q186(spark, sf_dir):
    """TPC-H Q10's shape: lost-revenue census of customers who
    returned goods in one quarter — fact⋈fact (lineitem⋈orders)
    shuffle join with BOTH sides pre-filtered (the quarter prunes
    orders, the returnflag prunes lineitem, each pushed to its own
    scan), customer/nation broadcast, then a top-20.  The ordering
    carries c_custkey as tiebreak so the LIMIT is deterministic under
    equal revenues; Spark plans it as TakeOrderedAndProject (no global
    sort materialization).
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    o = orders.where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    return (
        li.where(F.col("l_returnflag") == "R")
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(
            F.broadcast(
                cust.select("c_custkey", "c_name", "c_nationkey", "c_acctbal")
            ),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .join(
            F.broadcast(nation), F.col("n_nationkey") == F.col("c_nationkey")
        )
        .groupBy(
            "c_custkey", "c_name", F.col("n_name").alias("nation"), "c_acctbal"
        )
        .agg(_dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# TPC-H Q11 — important stock: group HAVING > fraction-of-grand-total
# scalar subquery, broadcast as a 1-row cross join.
# ---------------------------------------------------------------------------
@query(
    "q187_important_parts",
    f"""SELECT l_partkey,
               {_sql_dsum('l_extendedprice * (1 - l_discount)', 'value')}
        FROM lineitem GROUP BY l_partkey
        HAVING CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                             AS DECIMAL(18,6))) AS DOUBLE)
               > 0.0005 * (SELECT CAST(SUM(CAST(
                               l_extendedprice * (1 - l_discount)
                               AS DECIMAL(18,6))) AS DOUBLE)
                           FROM lineitem)""",
)
def q187(spark, sf_dir):
    """TPC-H Q11's shape: per-key value rollup kept only where it
    exceeds a FRACTION OF THE GRAND TOTAL — the scalar subquery every
    engine must turn into "aggregate once, broadcast one row" (the
    reduced schema aggregates lineitem revenue per part instead of
    partsupp stock value; same plan).  Both the per-group and the
    grand total are decimal-exact; the threshold comparison runs in
    double on identically-derived values, so the boundary cannot
    disagree across engines.  One shuffle (the groupBy); the total's
    second scan map-side-combines to a single row.
    """
    li = load_table(spark, sf_dir, "lineitem")
    val = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    per_part = li.groupBy("l_partkey").agg(_dsum(val, "value"))
    total = li.agg(_dsum(val, "_grand"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .where(F.col("value") > 0.0005 * F.col("_grand"))
        .select("l_partkey", "value")
    )


# ---------------------------------------------------------------------------
# TPC-H Q12 — shipping modes / priority: CASE counts after a fact⋈fact
# join (COUNT(CASE..) — DuckDB SUM(INTEGER) would be HUGEINT).
# ---------------------------------------------------------------------------
@query(
    "q188_shipmode_priority",
    """SELECT l.l_linestatus,
              COUNT(CASE WHEN o.o_orderpriority IN ('1-URGENT','2-HIGH')
                         THEN 1 END) AS high_line_count,
              COUNT(CASE WHEN o.o_orderpriority NOT IN
                              ('1-URGENT','2-HIGH')
                         THEN 1 END) AS low_line_count
       FROM lineitem l
       JOIN orders o ON o.o_orderkey = l.l_orderkey
       WHERE l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
         AND l.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
       GROUP BY l.l_linestatus""",
)
def q188(spark, sf_dir):
    """TPC-H Q12's shape: how many high- vs low-priority orders moved
    under each line status in a year (l_linestatus standing in for the
    absent l_shipmode).  The year filter prunes the lineitem scan
    before the orderkey shuffle join; the conditional tallies are
    COUNT(CASE) so both engines emit BIGINT.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .join(
            orders.select("o_orderkey", "o_orderpriority"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .groupBy("l_linestatus")
        .agg(
            F.count(F.when(high, 1)).alias("high_line_count"),
            F.count(F.when(~high, 1)).alias("low_line_count"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q13 — customer order-count distribution: conditional LEFT
# OUTER join + two-level aggregation.
# ---------------------------------------------------------------------------
@query(
    "q189_customer_order_distribution",
    """SELECT c_count, count(*) AS custdist
       FROM (SELECT c.c_custkey, count(o.o_orderkey) AS c_count
             FROM customer c
             LEFT OUTER JOIN orders o
               ON o.o_custkey = c.c_custkey
              AND o.o_orderpriority <> '5-LOW'
             GROUP BY c.c_custkey)
       GROUP BY c_count""",
)
def q189(spark, sf_dir):
    """TPC-H Q13's shape: the distribution of per-customer order
    counts INCLUDING zero-order customers — the conditional predicate
    lives in the OUTER JOIN's ON clause (pushing it to WHERE would
    silently drop the zeros, the classic outer-join trap), and
    ``count(o_orderkey)`` counts only matched rows because COUNT
    ignores the NULLs the outer join manufactures.  Orders-side filter
    evaluates BEFORE the join (Catalyst pushes ON-clause predicates on
    the nullable side down to its scan); the second aggregation is
    metadata-sized (≤ distinct counts).
    """
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    per_cust = (
        cust.select("c_custkey")
        .join(
            orders.select("o_custkey", "o_orderkey").where(
                F.col("o_orderpriority") != "5-LOW"
            ),
            F.col("o_custkey") == F.col("c_custkey"),
            "left_outer",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


# ---------------------------------------------------------------------------
# TPC-H Q14 — promotion effect: conditional share of revenue in one
# month, part dim broadcast.
# ---------------------------------------------------------------------------
@query(
    "q190_promo_revenue_share",
    """SELECT 100.0 * CAST(SUM(CASE WHEN p.p_type = 'PROMO'
                  THEN CAST(l.l_extendedprice * (1 - l.l_discount)
                            AS DECIMAL(18,6))
                  ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
              / CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                              AS DECIMAL(18,6))) AS DOUBLE)
              AS promo_revenue_pct
       FROM lineitem l
       JOIN part p ON p.p_partkey = l.l_partkey
       WHERE l.l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
         AND l.l_shipdate <  TIMESTAMP '1996-10-01 00:00:00'""",
)
def q190(spark, sf_dir):
    """TPC-H Q14: the share of one month's revenue that came from
    promotional parts.  The month filter prunes the fact scan; part
    broadcasts; both operands of the percentage are decimal-exact sums
    and the division (then ×100) happens once in double — identical
    evaluation order on both engines.
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    dec = lambda c: c.cast("decimal(18,6)")  # noqa: E731
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-09-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-10-01").cast("timestamp"))
        )
        .join(
            F.broadcast(part.select("p_partkey", "p_type")),
            F.col("p_partkey") == F.col("l_partkey"),
        )
        .agg(
            (
                F.lit(100.0)
                * F.sum(
                    F.when(F.col("p_type") == "PROMO", dec(rev)).otherwise(
                        dec(F.lit(0))
                    )
                ).cast("double")
                / F.sum(dec(rev)).cast("double")
            ).alias("promo_revenue_pct")
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q16 — parts/supplier relationship: NOT IN → anti-join, then
# COUNT(DISTINCT) per attribute triple.
# ---------------------------------------------------------------------------
@query(
    "q191_part_supplier_counts",
    """SELECT p.p_brand, p.p_type, p.p_size,
              count(DISTINCT l.l_suppkey) AS supplier_cnt
       FROM lineitem l
       JOIN part p ON p.p_partkey = l.l_partkey
       WHERE p.p_brand <> 'Brand#3'
         AND p.p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
         AND l.l_suppkey NOT IN
             (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
       GROUP BY p.p_brand, p.p_type, p.p_size""",
)
def q191(spark, sf_dir):
    """TPC-H Q16's shape: how many distinct suppliers can source each
    surviving (brand, type, size) triple, EXCLUDING blacklisted
    suppliers — the NOT IN becomes a LEFT ANTI join against the
    (tiny, broadcast) negative-balance supplier list, the filtered
    part dim broadcasts, and the COUNT(DISTINCT suppkey) expands to
    Spark's standard two-shuffle distinct-aggregate.  The blacklist
    has no NULL keys (s_suppkey is the PK), so anti-join and NOT IN
    agree.
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    supp = load_table(spark, sf_dir, "supplier")
    p = part.where(
        (F.col("p_brand") != "Brand#3")
        & F.col("p_size").isin(1, 9, 14, 19, 23, 36, 45, 49)
    )
    bad = supp.where(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        li.join(
            F.broadcast(bad),
            F.col("s_suppkey") == F.col("l_suppkey"),
            "left_anti",
        )
        .join(
            F.broadcast(p.select("p_partkey", "p_brand", "p_type", "p_size")),
            F.col("p_partkey") == F.col("l_partkey"),
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct(F.col("l_suppkey")).alias("supplier_cnt"))
    )


# ---------------------------------------------------------------------------
# TPC-H Q19 — discounted revenue: OR-of-ANDs mixing fact and dim
# predicates across an equi-join.
# ---------------------------------------------------------------------------
@query(
    "q192_disjunctive_revenue",
    f"""SELECT {_sql_dsum('l.l_extendedprice * (1 - l.l_discount)',
                          'revenue')}
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 5
               AND l.l_quantity BETWEEN 1 AND 11)
           OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 10
               AND l.l_quantity BETWEEN 10 AND 20)
           OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 15
               AND l.l_quantity BETWEEN 20 AND 30)""",
)
def q192(spark, sf_dir):
    """TPC-H Q19's shape: a disjunction of conjunctions spanning BOTH
    join sides.  The per-side implied predicates are derivable
    (quantity ∈ [1,30] on the fact, size ∈ [1,15] + brand ∈ {1,2,3} on
    the dim — Catalyst extracts the common filters from the OR), so
    the scans prune before the broadcast join and only the residual
    disjunction evaluates post-join.
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    q = F.col("l_quantity")
    b, s = F.col("p_brand"), F.col("p_size")
    cond = (
        ((b == "Brand#1") & s.between(1, 5) & q.between(1, 11))
        | ((b == "Brand#2") & s.between(1, 10) & q.between(10, 20))
        | ((b == "Brand#3") & s.between(1, 15) & q.between(20, 30))
    )
    return (
        li.join(
            F.broadcast(part.select("p_partkey", "p_brand", "p_size")),
            F.col("p_partkey") == F.col("l_partkey"),
        )
        .where(cond)
        .agg(_dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
    )


# ---------------------------------------------------------------------------
# TPC-H Q20 — potential part promotion: IN over a grouped HAVING
# subquery → semi-join against an aggregate.
# ---------------------------------------------------------------------------
@query(
    "q193_promotion_suppliers",
    """SELECT s.s_name, s.s_acctbal
       FROM supplier s
       WHERE s.s_suppkey IN
             (SELECT l.l_suppkey
              FROM lineitem l
              JOIN part p ON p.p_partkey = l.l_partkey
              WHERE p.p_name LIKE 'red%'
                AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
                AND l.l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
              GROUP BY l.l_suppkey
              HAVING SUM(CAST(l.l_quantity AS DECIMAL(18,6))) > 50)""",
)
def q193(spark, sf_dir):
    """TPC-H Q20's shape: suppliers who moved a meaningful volume of a
    LIKE-selected part family in one year — IN over a GROUP
    BY/HAVING subquery, planned as supplier LEFT SEMI JOIN the
    aggregated fact slice.  The part filter broadcasts into the fact
    scan first (prefix LIKE), the year filter pushes down, the
    per-supplier quantity sum is decimal-exact, and the HAVING output
    (qualified supplier keys) is small enough to broadcast into the
    semi join.
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    supp = load_table(spark, sf_dir, "supplier")
    qualified = (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .join(
            F.broadcast(
                part.where(F.col("p_name").like("red%")).select("p_partkey")
            ),
            F.col("p_partkey") == F.col("l_partkey"),
        )
        .groupBy("l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,6)")).alias("_q"))
        .where(F.col("_q") > 50)
        .select("l_suppkey")
    )
    return supp.join(
        F.broadcast(qualified),
        F.col("l_suppkey") == F.col("s_suppkey"),
        "left_semi",
    ).select("s_name", "s_acctbal")


# ---------------------------------------------------------------------------
# TPC-H Q22 — global sales opportunity: scalar AVG subquery threshold +
# NOT EXISTS anti-join, grouped census.
# ---------------------------------------------------------------------------
@query(
    "q194_dormant_rich_customers",
    """SELECT cntrycode, count(*) AS numcust,
              CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE)
                  AS totacctbal
       FROM (SELECT CAST(c.c_nationkey % 5 AS INT) AS cntrycode,
                    c.c_acctbal
             FROM customer c
             WHERE c.c_nationkey % 5 IN (0, 2, 3)
               AND c.c_acctbal >
                   (SELECT CAST(SUM(CAST(c2.c_acctbal AS DECIMAL(18,6)))
                                AS DOUBLE) / count(*)
                    FROM customer c2
                    WHERE c2.c_acctbal > 0.0
                      AND c2.c_nationkey % 5 IN (0, 2, 3))
               AND NOT EXISTS (SELECT 1 FROM orders o
                               WHERE o.o_custkey = c.c_custkey
                                 AND o.o_orderdate >=
                                     TIMESTAMP '2000-01-01 00:00:00'))
       GROUP BY cntrycode""",
)
def q194(spark, sf_dir):
    """TPC-H Q22's shape: above-average-balance customers with NO
    RECENT orders (the canonical "no orders in N years" dormancy
    window, here orderdate >= 2000-01-01 so the gate is non-empty on
    the synthetic data), grouped by country code (``c_nationkey % 5``
    standing in for the absent phone prefix).  The scalar AVG threshold is
    computed as decimal-exact SUM ÷ COUNT in ONE double division
    (``AVG(decimal)`` itself rounds differently across engines), and
    broadcast; NOT EXISTS is a LEFT ANTI join against the orders
    fact's custkey projection.  At scale the anti join shuffles
    customer vs the distinct-custkey side; everything else is
    metadata.
    """
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    code = (F.col("c_nationkey") % 5).cast("int")
    pool = cust.where(code.isin(0, 2, 3))
    thresh = pool.where(F.col("c_acctbal") > 0.0).agg(
        (
            F.sum(F.col("c_acctbal").cast("decimal(18,6)")).cast("double")
            / F.count("*")
        ).alias("_avg")
    )
    return (
        pool.crossJoin(F.broadcast(thresh))
        .where(F.col("c_acctbal") > F.col("_avg"))
        .join(
            orders.where(
                F.col("o_orderdate")
                >= F.lit("2000-01-01").cast("timestamp")
            ).select("o_custkey"),
            F.col("o_custkey") == F.col("c_custkey"),
            "left_anti",
        )
        .groupBy(code.alias("cntrycode"))
        .agg(
            F.count("*").alias("numcust"),
            F.sum(F.col("c_acctbal").cast("decimal(18,6)"))
            .cast("double")
            .alias("totacctbal"),
        )
    )


# ---------------------------------------------------------------------------
# Exact duplicate-substring dedup (Lee et al. 2022), q195/q196.
# ---------------------------------------------------------------------------
_SUBSTR_SPAN_CTE = """
    WITH pos AS (
      SELECT doc_id, CAST(i AS INT) AS i,
             ('0x' || substr(md5(substr(text, CAST(i AS INT), 20)),
                             1, 15))::BIGINT AS g
      FROM (SELECT d.doc_id, d.text,
                   unnest(generate_series(
                       1, greatest(coalesce(length(d.text), 0) - 19, 0)))
                       AS i
            FROM documents d)
    ),
    dup AS (SELECT g FROM pos
            GROUP BY g HAVING count(DISTINCT doc_id) >= 2),
    hits AS (SELECT p.doc_id, p.i FROM pos p JOIN dup USING (g)),
    isl AS (SELECT doc_id, i,
                   i - row_number() OVER (PARTITION BY doc_id ORDER BY i)
                       AS grp
            FROM hits),
    spans AS (SELECT doc_id,
                     CAST(min(i) AS INT) AS span_start,
                     CAST(max(i) - min(i) + 20 AS INT) AS span_len
              FROM isl GROUP BY doc_id, grp
              HAVING max(i) - min(i) + 20 >= 40)
"""


@query(
    "q195_duplicate_substrings",
    _SUBSTR_SPAN_CTE + "SELECT doc_id, span_start, span_len FROM spans",
)
def q195(spark, sf_dir):
    """Exact substring-level duplication (Lee et al. 2022): maximal
    spans ≥40 chars whose every 20-gram occurs in ≥2 documents.  See
    ``dedup.duplicate_substring_spans`` for the relational
    suffix-array-equivalent plan (position explode → gram groupBy →
    semi join → per-doc gaps-and-islands window).  The oracle is the
    same pipeline in DuckDB SQL over the identical md5₆₀ gram hash.
    """
    from .operators import dedup

    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    return dedup.duplicate_substring_spans(
        docs, "text", "doc_id", k=20, min_len=40, min_docs=2
    )


@query(
    "q196_duplicated_char_coverage",
    _SUBSTR_SPAN_CTE + """,
    merged AS (
      SELECT doc_id, grp2, CAST(max(e) - min(span_start) + 1 AS BIGINT)
             AS covered
      FROM (SELECT doc_id, span_start, span_start + span_len - 1 AS e,
                   SUM(CASE WHEN span_start > coalesce(mx, -1) THEN 1
                            ELSE 0 END)
                       OVER (PARTITION BY doc_id ORDER BY span_start
                             ROWS UNBOUNDED PRECEDING) AS grp2
            FROM (SELECT *,
                         max(span_start + span_len - 1)
                             OVER (PARTITION BY doc_id ORDER BY span_start
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND 1 PRECEDING) AS mx
                  FROM spans))
      GROUP BY doc_id, grp2),
    cov AS (SELECT doc_id, CAST(SUM(covered) AS BIGINT) AS dup_chars
            FROM merged GROUP BY doc_id)
    SELECT d.doc_id, c.dup_chars,
           CAST(c.dup_chars AS DOUBLE) / length(d.text) AS dup_frac
    FROM cov c JOIN documents d USING (doc_id)""",
)
def q196(spark, sf_dir):
    """Per-document duplicated-character coverage: interval-union of
    q195's spans (they can overlap by up to k−2 chars) → exact
    duplicated char count and fraction of the document — the number
    that decides KEEP / TRIM / DROP in a substring-dedup pass.
    """
    from .operators import dedup

    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    spans = dedup.duplicate_substring_spans(
        docs, "text", "doc_id", k=20, min_len=40, min_docs=2
    )
    cov = dedup.covered_char_spans(spans, "doc_id")
    return cov.join(
        docs.select("doc_id", F.length("text").alias("_len")), "doc_id"
    ).select(
        "doc_id",
        "dup_chars",
        (F.col("dup_chars").cast("double") / F.col("_len")).alias("dup_frac"),
    )


# ---------------------------------------------------------------------------
# URL canonicalization dedup (crawl-frontier normalizer), q197.
# ---------------------------------------------------------------------------
from .functions.web import canonical_url, sql_canonical_url  # noqa: E402

_RAW_URL_SQL = """
      CASE doc_id % 6
        WHEN 1 THEN 'HTTP://EX.COM/p/' || (doc_id % 50)
        WHEN 2 THEN 'http://ex.com:80/p/' || (doc_id % 50)
        WHEN 3 THEN 'http://ex.com/p/' || (doc_id % 50) || '/'
        WHEN 4 THEN 'http://ex.com/p/' || (doc_id % 50)
                    || '?utm_source=x&utm_campaign=y'
        WHEN 5 THEN 'http://ex.com/p/' || (doc_id % 50) || '?b=2&a=1#frag'
        ELSE 'http://ex.com/p/' || (doc_id % 50)
      END
"""


@query(
    "q197_url_canonical_dedup",
    f"""WITH raw AS (
          SELECT doc_id,
                 {_RAW_URL_SQL.strip()} AS raw_url
          FROM documents)
        SELECT {sql_canonical_url('raw_url')} AS canonical_url,
               count(*) AS n_refs,
               count(DISTINCT raw_url) AS n_variants
        FROM raw GROUP BY canonical_url""",
)
def q197(spark, sf_dir):
    """Canonical-URL dedup: the synthetic corpus has no URLs, so (as in
    q135) the query PLANTS deterministic messy variants — case-mangled
    host, explicit default port, trailing slash, utm_* tracking params,
    unsorted params + fragment, one variant family per ``doc_id % 6`` —
    then groups by ``functions.web.canonical_url``.  All six families
    of one base URL collapse to ≤2 canonical forms (the clean one, plus
    the sorted real-params one), which the n_variants column makes
    visible.  The normalizer is pure codegen'd string/array expressions
    and the groupBy keys on the canonical string: one shuffle, partial
    counts map-side.
    """
    docs = load_table(spark, sf_dir, "documents")
    n = (F.col("doc_id") % 50).cast("string")
    v = F.col("doc_id") % 6
    raw = (
        F.when(v == 1, F.concat(F.lit("HTTP://EX.COM/p/"), n))
        .when(v == 2, F.concat(F.lit("http://ex.com:80/p/"), n))
        .when(v == 3, F.concat(F.lit("http://ex.com/p/"), n, F.lit("/")))
        .when(
            v == 4,
            F.concat(
                F.lit("http://ex.com/p/"), n,
                F.lit("?utm_source=x&utm_campaign=y"),
            ),
        )
        .when(
            v == 5,
            F.concat(F.lit("http://ex.com/p/"), n, F.lit("?b=2&a=1#frag")),
        )
        .otherwise(F.concat(F.lit("http://ex.com/p/"), n))
    )
    return (
        docs.select(F.col("doc_id"), raw.alias("raw_url"))
        .groupBy(canonical_url(F.col("raw_url")).alias("canonical_url"))
        .agg(
            F.count("*").alias("n_refs"),
            F.count_distinct(F.col("raw_url")).alias("n_variants"),
        )
    )


# ---------------------------------------------------------------------------
# Deterministic WEIGHTED sampling (Efraimidis–Spirakis A-ES), q198.
# ---------------------------------------------------------------------------
from .operators.sampling import (  # noqa: E402
    aes_score,
    sql_aes_score,
    weighted_hash_topk,
)

#: weight class per document: sources carry a quality tier in their
#: numeric suffix; tier = suffix % 4 → weights 1/2/4/8 (power-of-two
#: classes — see aes_score for why classes, not continuous weights).
_W_LOG2_SQL = "(CAST(substr(source, 4, 10) AS INT) % 4)"


@query(
    "q198_weighted_sample",
    f"""WITH scored AS (
          SELECT doc_id, lang, source,
                 {_W_LOG2_SQL} AS weight_log2,
                 {sql_aes_score('doc_id', _W_LOG2_SQL)} AS aes_score
          FROM documents WHERE doc_id IS NOT NULL)
        SELECT doc_id, lang, source, weight_log2, aes_score, sample_rank
        FROM (SELECT *, row_number() OVER (
                          PARTITION BY lang
                          ORDER BY aes_score DESC, doc_id) AS sample_rank
              FROM scored)
        WHERE sample_rank <= 10""",
)
def q198(spark, sf_dir):
    """Weighted sampling without replacement, engine-exact: keep the 10
    highest Efraimidis–Spirakis scores u^(1/w) per language, where u is
    the md5₆₀ content-hash uniform and w ∈ {1,2,4,8} is the source's
    quality-tier weight class. Every score is j iterated ``sqrt``s
    (correctly-rounded in IEEE 754, unlike ``pow``), so the sample —
    and this gate's value hash — is bit-identical across Spark and
    DuckDB. Scale shape: one window shuffle on ``lang``; rank predicate
    keeps only winners past the filter (same shape as q97's quota cap).
    """
    docs = load_table(spark, sf_dir, "documents")
    j = (F.substring("source", 4, 10).cast("int") % 4).alias("weight_log2")
    return weighted_hash_topk(
        docs.select("doc_id", "lang", "source", j),
        k=10,
        key_col="doc_id",
        weight_log2_col="weight_log2",
        group_cols=["lang"],
    ).select(
        "doc_id", "lang", "source", "weight_log2", "aes_score", "sample_rank"
    )


# ---------------------------------------------------------------------------
# Learned quality gate: distributed logistic regression, q200.
# ---------------------------------------------------------------------------
@query("q200_quality_classifier")  # iterative training: rows-only by design
def q200(spark, sf_dir):
    """CCNet/DCLM-style learned quality gate, end to end ON the engine
    (q121 is this model's other half: INFERENCE with fixed deployed
    weights as one codegen'd scan pass; this gate closes the loop by
    TRAINING on the cluster):
    columnar features (log-token count, alpha ratio, stopword ratio) →
    full-batch logistic-regression training (one decimal-summed
    aggregate job per iteration, weights broadcast back as literals) →
    codegen'd sigmoid scoring. The weak label is the composite
    ``quality_score ≥ 0.5`` rule — a capped/nonlinear function of the
    features, so the fit is honest but learnable, and the trained model
    is bit-deterministic under any partitioning (decimal gradient
    sums). Iterative training has no SQL twin — invariants (loss
    decreases, accuracy ≥ 0.9, partitioning-independence) are pinned in
    tests/test_classifier.py.
    """
    from .operators import classifier, text_analysis

    docs = load_table(spark, sf_dir, "documents")
    feats = text_analysis.with_language_id(
        text_analysis.with_quality_score(docs)
    ).select(
        "doc_id",
        F.log1p(F.col("n_tokens").cast("double")).alias("f_logtok"),
        "alpha_ratio",
        "stopword_ratio",
        (F.col("quality_score") >= 0.5).cast("int").alias("label"),
    )
    fcols = ["f_logtok", "alpha_ratio", "stopword_ratio"]
    w = classifier.train_logreg(feats, fcols, "label", lr=2.0, iters=25)
    scored = classifier.score_logreg(feats, fcols, w)
    return scored.select(
        "doc_id",
        "label",
        (F.col("quality_p") >= 0.5).cast("int").alias("pred"),
        F.floor(F.col("quality_p") * 10).cast("int").alias("p_bucket"),
    )


# ---------------------------------------------------------------------------
# Quantile sketch: one-pass mergeable approximate percentiles (q202).
# ---------------------------------------------------------------------------
from .operators.sketches import (  # noqa: E402
    quantile_sketch_estimate,
    sql_quantile_sketch_estimate,
)

_QSK_KEY_SQL = (
    "concat_ws(chr(31), l_orderkey::VARCHAR, l_linenumber::VARCHAR)"
)


@query(
    "q202_quantile_sketch",
    sql_quantile_sketch_estimate(
        "l_extendedprice",
        _QSK_KEY_SQL,
        [0.5, 0.9],
        rate=0.05,
        group_col="l_returnflag",
        table="lineitem",
    ),
)
def q202(spark, sf_dir):
    """One-pass approximate percentiles: exact interpolation over a
    deterministic md5-lottery sample (rate 5%), exact population count
    in the same aggregate — the mergeable single-job complement to
    q176's two-pass exact recipe (state O(rate·group), merge = union
    by construction). Sample membership and interpolation are engine-
    identical, so this 'approximate' operator still value-hash matches
    its DuckDB twin; accuracy vs the exact answer is pinned separately
    in tests/test_sketches.py."""
    li = load_table(spark, sf_dir, "lineitem")
    return quantile_sketch_estimate(
        li,
        "l_extendedprice",
        ["l_orderkey", "l_linenumber"],
        [0.5, 0.9],
        rate=0.05,
        group_col="l_returnflag",
    )


# ---------------------------------------------------------------------------
# Ingest drift monitor: PSI / null-rate / count drift (q204).
# ---------------------------------------------------------------------------
from .operators.drift import drift_report, sql_drift_report  # noqa: E402

_DRIFT_BOUNDS = [100.0, 200.0, 400.0, 800.0]


@query(
    "q204_ingest_drift",
    sql_drift_report(
        "SELECT * FROM documents WHERE doc_id % 2 = 0",
        "SELECT * FROM documents WHERE doc_id % 2 = 1",
        "source",
        "n_chars",
        _DRIFT_BOUNDS,
    ),
)
def q204(spark, sf_dir):
    """Drift triad between two ingest snapshots (simulated as the
    even/odd doc_id halves of the corpus — the oracle splits
    identically): per-source count ratio, null-rate movement, and a
    +1-smoothed PSI over a fixed n_chars bucketing. All metrics are
    conditional counts in ONE aggregate row per (snapshot, source)
    with the PSI folded within-row in fixed bucket order — no
    cross-row float accumulation anywhere, so the gate hash-matches
    bitwise. See operators/drift.py for the scale shape (nothing wider
    than |groups × buckets| ever moves)."""
    docs = load_table(spark, sf_dir, "documents")
    a = docs.where(F.col("doc_id") % 2 == 0)
    b = docs.where(F.col("doc_id") % 2 == 1)
    return drift_report(a, b, "source", "n_chars", _DRIFT_BOUNDS)


# ---------------------------------------------------------------------------
# Semi-structured VARIANT path (Spark 4), q205.
# ---------------------------------------------------------------------------
@query(
    "q205_variant_extract",
    """WITH j AS (
         SELECT doc_id,
                to_json(struct_pack(
                  id := doc_id,
                  meta := struct_pack(lang := lang, n := n_chars),
                  tags := [source, lang])) AS js
         FROM documents)
       SELECT doc_id,
              js ->> '$.meta.lang' AS v_lang,
              TRY_CAST(js ->> '$.meta.n' AS BIGINT) AS v_n,
              js ->> '$.tags[1]' AS v_tag1,
              TRY_CAST(js ->> '$.absent.path' AS INTEGER) AS v_missing
       FROM j""",
)
def q205(spark, sf_dir):
    """Schemaless ingestion via Spark 4's VARIANT type — the modern
    answer to the reference's JSONB columns (init.sql:102: opaque
    binary JSON, path-extracted at query time, no declared schema):
    each document's metadata is serialized to JSON, `parse_json`
    shreds it to a VARIANT, and typed `variant_get` paths (nested
    field, array index, missing path via the try_ variant) extract
    query columns. Unlike q43's from_json, no schema is declared
    anywhere — the VARIANT binary carries its own structure, which is
    exactly the JSONB storage/access model. The oracle extracts the
    same paths from the same JSON text with DuckDB's JSON operators;
    extraction depends on values only, so serialization differences
    (Spark omits null fields, DuckDB writes them) cannot diverge the
    gate. Columnar end to end; one projection, no shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    j = F.to_json(
        F.struct(
            F.col("doc_id").alias("id"),
            F.struct(
                F.col("lang"), F.col("n_chars").alias("n")
            ).alias("meta"),
            F.array(F.col("source"), F.col("lang")).alias("tags"),
        )
    )
    v = docs.select("doc_id", F.parse_json(j).alias("v"))
    return v.select(
        "doc_id",
        F.variant_get("v", "$.meta.lang", "string").alias("v_lang"),
        F.variant_get("v", "$.meta.n", "bigint").alias("v_n"),
        F.variant_get("v", "$.tags[1]", "string").alias("v_tag1"),
        F.try_variant_get("v", "$.absent.path", "int").alias(
            "v_missing"
        ),
    )


# ---------------------------------------------------------------------------
# U-shaped multi-touch attribution (q207).
# ---------------------------------------------------------------------------
_MTA_LOOKBACK_DAYS = 7


@query(
    "q207_multitouch_attribution",
    f"""WITH ev AS (
      SELECT event_id, ts, user_id, event_type, value
      FROM events
      WHERE user_id IS NOT NULL AND ts IS NOT NULL
        AND event_id IS NOT NULL AND event_type IN ('click', 'purchase')),
    tagged AS (
      SELECT *, CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS k
      FROM ev),
    nxt AS (
      SELECT *,
        first_value(CASE WHEN k = 1 THEN event_id END IGNORE NULLS)
          OVER w AS conv_id,
        first_value(CASE WHEN k = 1 THEN ts END IGNORE NULLS)
          OVER w AS conv_ts,
        first_value(CASE WHEN k = 1 THEN value END IGNORE NULLS)
          OVER w AS conv_value
      FROM tagged
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, k, event_id
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)),
    touches AS (
      SELECT user_id, event_id AS touch_id, ts, conv_id, conv_value
      FROM nxt
      WHERE k = 0 AND conv_id IS NOT NULL
        AND conv_ts <= ts + INTERVAL {_MTA_LOOKBACK_DAYS} DAY),
    ranked AS (
      SELECT *,
        row_number() OVER (PARTITION BY user_id, conv_id
                           ORDER BY ts, touch_id) AS touch_rank,
        count(*) OVER (PARTITION BY user_id, conv_id) AS n_touches
      FROM touches)
    SELECT user_id, conv_id, touch_id,
           CAST(touch_rank AS BIGINT) AS touch_rank,
           CAST(n_touches AS BIGINT) AS n_touches,
           round(CASE WHEN n_touches = 1 THEN 1.0
                      WHEN n_touches = 2 THEN 0.5
                      WHEN touch_rank = 1 OR touch_rank = n_touches
                           THEN 0.4
                      ELSE 0.2 / (n_touches - 2) END, 6) AS credit,
           round((CASE WHEN n_touches = 1 THEN 1.0
                       WHEN n_touches = 2 THEN 0.5
                       WHEN touch_rank = 1 OR touch_rank = n_touches
                            THEN 0.4
                       ELSE 0.2 / (n_touches - 2) END) * conv_value, 6)
               AS credited_value
    FROM ranked""",
)
def q207(spark, sf_dir):
    """U-shaped (position-based) multi-touch attribution: every click
    is attributed to the user's NEXT purchase within a 7-day lookback
    (same-timestamp click counts — the tagged union orders touches
    before conversions at equal ts), and each conversion's credit
    splits 40/20/40: first and last touch get 0.4 each, the middle
    splits 0.2 evenly (single touch 1.0, two touches 0.5/0.5).

    Plan shape: ONE shuffle on user_id for the forward-scan window
    (first_value IGNORE NULLS over [current, ∞) — the "next
    conversion" as-of in pure window algebra, no join), then the
    per-conversion rank/count windows on (user, conv) — fine-grained
    keys, no skew. Credits are exact rational doubles; same expression
    both engines. NULL user/ts/event_id rows excluded up front (the
    engines order NULLs differently in window sorts)."""
    from pyspark.sql import Window

    ev = (
        load_table(spark, sf_dir, "events")
        .where(
            F.col("user_id").isNotNull()
            & F.col("ts").isNotNull()
            & F.col("event_id").isNotNull()
            & F.col("event_type").isin("click", "purchase")
        )
        .select(
            "event_id",
            "ts",
            "user_id",
            "event_type",
            "value",
            (F.col("event_type") == "purchase").cast("int").alias("k"),
        )
    )
    fwd = (
        Window.partitionBy("user_id")
        .orderBy("ts", "k", "event_id")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    conv_of = lambda c: F.first(  # noqa: E731
        F.when(F.col("k") == 1, F.col(c)), ignorenulls=True
    ).over(fwd)
    nxt = ev.select(
        "*",
        conv_of("event_id").alias("conv_id"),
        conv_of("ts").alias("conv_ts"),
        conv_of("value").alias("conv_value"),
    )
    touches = nxt.where(
        (F.col("k") == 0)
        & F.col("conv_id").isNotNull()
        & (
            F.col("conv_ts")
            <= F.col("ts") + F.expr(f"INTERVAL {_MTA_LOOKBACK_DAYS} DAYS")
        )
    ).select(
        "user_id",
        F.col("event_id").alias("touch_id"),
        "ts",
        "conv_id",
        "conv_value",
    )
    per_conv = Window.partitionBy("user_id", "conv_id")
    ranked = touches.select(
        "*",
        F.row_number()
        .over(per_conv.orderBy("ts", "touch_id"))
        .alias("touch_rank"),
        F.count("*").over(per_conv).alias("n_touches"),
    )
    n, r = F.col("n_touches"), F.col("touch_rank")
    credit = (
        F.when(n == 1, F.lit(1.0))
        .when(n == 2, F.lit(0.5))
        .when((r == 1) | (r == n), F.lit(0.4))
        .otherwise(F.lit(0.2) / (n - 2))
    )
    return ranked.select(
        "user_id",
        "conv_id",
        "touch_id",
        r.cast("long").alias("touch_rank"),
        n.cast("long").alias("n_touches"),
        F.round(credit, 6).alias("credit"),
        F.round(credit * F.col("conv_value"), 6).alias("credited_value"),
    )


# ---------------------------------------------------------------------------
# Kaplan–Meier survival curve (q208).
# ---------------------------------------------------------------------------
@query(
    "q208_kaplan_meier",
    """WITH ev AS (
      SELECT user_id, FLOOR(epoch(ts))::BIGINT AS sec, event_type
      FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
    per_user AS (
      SELECT user_id, min(sec) AS t0,
             min(CASE WHEN event_type = 'purchase' THEN sec END) AS tp,
             max(sec) AS tmax
      FROM ev GROUP BY user_id),
    dur AS (
      SELECT CASE WHEN tp IS NOT NULL
                  THEN (tp - t0) // 86400
                  ELSE (tmax - t0) // 86400 END AS t,
             CASE WHEN tp IS NOT NULL THEN 1 ELSE 0 END AS e
      FROM per_user),
    km0 AS (
      SELECT t,
             count(CASE WHEN e = 1 THEN 1 END) AS d,
             count(CASE WHEN e = 0 THEN 1 END) AS c
      FROM dur GROUP BY t),
    km1 AS (
      SELECT t, d, c,
             CAST(sum(d + c) OVER () - coalesce(sum(d + c) OVER (
                    ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                    AND 1 PRECEDING), 0) AS BIGINT) AS n_at_risk
      FROM km0),
    km2 AS (
      SELECT *,
        (n_at_risk - d)::DOUBLE / n_at_risk AS factor
      FROM km1)
    SELECT t, d, c, n_at_risk,
           CASE WHEN max(CASE WHEN factor <= 0 THEN 1 ELSE 0 END)
                     OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) = 1
                THEN 0.0
                ELSE round(exp(sum(round(ln(
                         CASE WHEN factor > 0 THEN factor
                              ELSE 1.0 END), 6))
                       OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW)), 6) END AS s
    FROM km2""",
)
def q208(spark, sf_dir):
    """Kaplan–Meier survival estimate of time-to-first-purchase, with
    users who never purchase right-censored at their last observed
    event — the churn/retention curve every activation analysis needs.

    Shape: per-user min/max aggregate (one shuffle) → duration rows →
    per-day life table (groupBy) → the risk set and the survival
    product as RUNNING window aggregates over the POST-AGGREGATE life
    table (distinct duration days — calendar-bounded rows, the
    accepted global-window case). The cumulative product is
    exp(Σ ln·) with each ln rounded to 6 dp (the house transcendental
    rule) summed over an ORDERED prefix frame — frame order is total
    (t is the key), so the running sum is the same fold in both
    engines; a zero factor (risk set exhausted by events) forces
    S = 0 from that row on rather than NULL-poisoning Spark's ln."""
    from pyspark.sql import Window

    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .select(
            "user_id",
            F.floor(
                F.col("ts").cast("double")
            ).cast("long").alias("sec"),
            "event_type",
        )
    )
    per_user = ev.groupBy("user_id").agg(
        F.min("sec").alias("t0"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("sec"))
        ).alias("tp"),
        F.max("sec").alias("tmax"),
    )
    dur = per_user.select(
        F.when(
            F.col("tp").isNotNull(),
            F.floor((F.col("tp") - F.col("t0")) / 86400),
        )
        .otherwise(F.floor((F.col("tmax") - F.col("t0")) / 86400))
        .cast("long")
        .alias("t"),
        F.col("tp").isNotNull().cast("int").alias("e"),
    )
    km0 = dur.groupBy("t").agg(
        F.count(F.when(F.col("e") == 1, 1)).alias("d"),
        F.count(F.when(F.col("e") == 0, 1)).alias("c"),
    )
    whole = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    prior = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, -1
    )
    prefix = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    dc = F.col("d") + F.col("c")
    km1 = km0.select(
        "*",
        (
            F.sum(dc).over(whole)
            - F.coalesce(F.sum(dc).over(prior), F.lit(0))
        ).alias("n_at_risk"),
    )
    factor = (F.col("n_at_risk") - F.col("d")).cast("double") / F.col(
        "n_at_risk"
    )
    km2 = km1.withColumn("factor", factor)
    dead = (
        F.max((F.col("factor") <= 0).cast("int")).over(prefix) == 1
    )
    # guard the ln argument: DuckDB ERRORS on ln(0) and Spark returns
    # NULL (which would null the running sum) — dead rows contribute
    # ln(1)=0 and the `dead` flag already forces S=0 from there on
    safe = F.when(F.col("factor") > 0, F.col("factor")).otherwise(
        F.lit(1.0)
    )
    s = F.when(dead, F.lit(0.0)).otherwise(
        F.round(F.exp(F.sum(F.round(F.log(safe), 6)).over(prefix)), 6)
    )
    return km2.select("t", "d", "c", "n_at_risk", s.alias("s"))


# ---------------------------------------------------------------------------
# Grouped OLS trend via exact sufficient statistics (q209).
# ---------------------------------------------------------------------------
@query(
    "q209_revenue_trend_ols",
    """WITH monthly AS (
      SELECT n.n_name,
             (year(o.o_orderdate) * 12 + month(o.o_orderdate))::BIGINT
                 AS x,
             sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                      AS DECIMAL(18,6))) AS y
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY 1, 2),
    stats AS (
      SELECT n_name,
             count(*)::BIGINT AS n_months,
             sum(x) AS sx,
             sum(x * x) AS sxx,
             sum(CAST(y AS DECIMAL(28,6))) AS sy,
             sum(CAST(x AS DECIMAL(10,0)) * CAST(y AS DECIMAL(26,6)))
                 AS sxy,
             sum(CAST(y AS DECIMAL(19,6)) * CAST(y AS DECIMAL(19,6)))
                 AS syy
      FROM monthly GROUP BY n_name)
    SELECT n_name, n_months,
      CASE WHEN n_months * sxx - sx * sx > 0 THEN
        round((n_months * CAST(sxy AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
              / CAST(n_months * sxx - sx * sx AS DOUBLE), 6) END
          AS slope,
      CASE WHEN n_months * sxx - sx * sx > 0 THEN
        round((CAST(sy AS DOUBLE)
               - round((n_months * CAST(sxy AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                  / CAST(n_months * sxx - sx * sx AS DOUBLE), 6)
                 * CAST(sx AS DOUBLE))
              / n_months, 6) END AS intercept,
      CASE WHEN n_months * sxx - sx * sx > 0
                AND n_months * CAST(syy AS DOUBLE)
                    - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0 THEN
        round(((n_months * CAST(sxy AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               * (n_months * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)))
              / (CAST(n_months * sxx - sx * sx AS DOUBLE)
                 * (n_months * CAST(syy AS DOUBLE)
                    - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
      END AS r2
    FROM stats""",
)
def q209(spark, sf_dir):
    """Per-nation revenue trend: OLS slope/intercept/R² of monthly
    revenue on the month index, computed from EXACT sufficient
    statistics — Σx/Σx² are integer sums, Σy/Σxy/Σy² are decimal sums
    (the monthly y is itself the decimal-exact revenue aggregate), so
    the only float math is the final fixed-order slope/R² algebra,
    identical in both engines. This is the distributed-regression
    recipe at any scale: one partial-aggregable groupBy produces five
    numbers per group, nothing else moves. Degenerate groups (one
    month, or zero x/y variance) yield NULL rather than a division
    blow-up."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    monthly = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy(
            "n_name",
            (
                F.year("o_orderdate") * 12 + F.month("o_orderdate")
            ).cast("long").alias("x"),
        )
        .agg(
            F.sum(
                (
                    F.col("l_extendedprice")
                    * (F.lit(1) - F.col("l_discount"))
                ).cast("decimal(18,6)")
            ).alias("y")
        )
    )
    stats = monthly.groupBy("n_name").agg(
        F.count("*").cast("long").alias("n_months"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y").cast("decimal(28,6)")).alias("sy"),
        F.sum(
            F.col("x").cast("decimal(10,0)")
            * F.col("y").cast("decimal(26,6)")
        ).alias("sxy"),
        F.sum(
            F.col("y").cast("decimal(19,6)")
            * F.col("y").cast("decimal(19,6)")
        ).alias("syy"),
    )
    n = F.col("n_months")
    dx = (n * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    cov = n * F.col("sxy").cast("double") - F.col("sx").cast(
        "double"
    ) * F.col("sy").cast("double")
    dy = n * F.col("syy").cast("double") - F.col("sy").cast(
        "double"
    ) * F.col("sy").cast("double")
    slope = cov / dx
    has_x = (n * F.col("sxx") - F.col("sx") * F.col("sx")) > 0
    return stats.select(
        "n_name",
        "n_months",
        F.when(has_x, F.round(slope, 6)).alias("slope"),
        # intercept from the 6dp-ROUNDED slope on BOTH sides: the raw
        # slope can differ by an ulp across engines (decimal→double
        # cast paths), and sx (~1e6 at sf0.01) amplifies that past the
        # 6dp output rounding; the rounded slope is the identical
        # double everywhere, so the cancellation is reproducible
        F.when(
            has_x,
            F.round(
                (
                    F.col("sy").cast("double")
                    - F.round(slope, 6) * F.col("sx").cast("double")
                )
                / n,
                6,
            ),
        ).alias("intercept"),
        F.when(
            has_x & (dy > 0), F.round((cov * cov) / (dx * dy), 6)
        ).alias("r2"),
    )


# ---------------------------------------------------------------------------
# A/B experiment analysis: two-proportion z-statistic (q211).
# ---------------------------------------------------------------------------
@query(
    "q211_ab_test_zstat",
    """WITH assigned AS (
      SELECT user_id,
             CASE WHEN substr(md5('exp1:' || CAST(user_id AS VARCHAR)),
                              1, 4) < '8000'
                  THEN 'A' ELSE 'B' END AS arm,
             max(CASE WHEN event_type = 'purchase'
                           AND value >= 150.0 THEN 1 ELSE 0 END)
                 AS converted
      FROM events
      WHERE user_id IS NOT NULL
      GROUP BY 1, 2),
    arms AS (
      SELECT arm, count(*)::BIGINT AS n,
             sum(converted)::BIGINT AS conv
      FROM assigned GROUP BY arm),
    wide AS (
      SELECT
        max(CASE WHEN arm = 'A' THEN n END) AS n_a,
        max(CASE WHEN arm = 'A' THEN conv END) AS conv_a,
        max(CASE WHEN arm = 'B' THEN n END) AS n_b,
        max(CASE WHEN arm = 'B' THEN conv END) AS conv_b
      FROM arms)
    SELECT n_a, conv_a, n_b, conv_b,
      round(CAST(conv_a AS DOUBLE) / n_a, 6) AS rate_a,
      round(CAST(conv_b AS DOUBLE) / n_b, 6) AS rate_b,
      CASE WHEN conv_a + conv_b > 0 AND conv_a + conv_b < n_a + n_b THEN
      round((CAST(conv_a AS DOUBLE) / n_a - CAST(conv_b AS DOUBLE) / n_b)
            / sqrt((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                   * (1.0 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                   * (1.0 / n_a + 1.0 / n_b)), 6) END AS z_stat
    FROM wide""",
)
def q211(spark, sf_dir):
    """Two-proportion z-test over a HASH-ASSIGNED experiment: arm
    membership is the md5 lottery on the user id (the deterministic
    assignment a real experimentation system uses — stable across
    sessions, engines, and re-runs; no assignment table to store), the
    outcome is per-user HIGH-VALUE conversion (a purchase of value
    >= 150 — plain any-purchase saturates at 100% on this corpus), and the pooled-variance
    z-statistic is fixed-order double algebra over four exact integers
    (sqrt is correctly-rounded, so the gate hash-matches bitwise; the
    normal-CDF p-value needs erf, which the engines implement
    differently — callers threshold |z| instead, e.g. 1.96). One
    groupBy on user, one tiny arm aggregate; nothing else moves."""
    ev = load_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull()
    )
    arm = F.when(
        F.substring(
            F.md5(F.concat(F.lit("exp1:"), F.col("user_id").cast("string"))),
            1,
            4,
        )
        < "8000",
        F.lit("A"),
    ).otherwise(F.lit("B"))
    assigned = ev.groupBy("user_id", arm.alias("arm")).agg(
        F.max(
            (
                (F.col("event_type") == "purchase")
                & (F.col("value") >= 150.0)
            ).cast("int")
        ).alias("converted")
    )
    arms = assigned.groupBy("arm").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("converted").cast("long").alias("conv"),
    )
    wide = arms.agg(
        F.max(F.when(F.col("arm") == "A", F.col("n"))).alias("n_a"),
        F.max(F.when(F.col("arm") == "A", F.col("conv"))).alias("conv_a"),
        F.max(F.when(F.col("arm") == "B", F.col("n"))).alias("n_b"),
        F.max(F.when(F.col("arm") == "B", F.col("conv"))).alias("conv_b"),
    )
    ra = F.col("conv_a").cast("double") / F.col("n_a")
    rb = F.col("conv_b").cast("double") / F.col("n_b")
    pooled = (F.col("conv_a") + F.col("conv_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    )
    z = (ra - rb) / F.sqrt(
        pooled
        * (F.lit(1.0) - pooled)
        * (F.lit(1.0) / F.col("n_a") + F.lit(1.0) / F.col("n_b"))
    )
    # degenerate pooled rates (0% or 100% conversion) have zero pooled
    # variance: the z-stat is undefined — NULL, never a DIVIDE_BY_ZERO
    # (ANSI Spark errors, IEEE DuckDB returns inf: both wrong)
    tot = F.col("conv_a") + F.col("conv_b")
    defined = (tot > 0) & (tot < F.col("n_a") + F.col("n_b"))
    return wide.select(
        "n_a",
        "conv_a",
        "n_b",
        "conv_b",
        F.round(ra, 6).alias("rate_a"),
        F.round(rb, 6).alias("rate_b"),
        F.when(defined, F.round(z, 6)).alias("z_stat"),
    )


# ---------------------------------------------------------------------------
# Deterministic Poisson-bootstrap confidence interval (q212).
# ---------------------------------------------------------------------------
from .operators.sampling import (  # noqa: E402
    poisson1_weight,
    sql_poisson1_weight,
)

_BOOT_B = 32  # replicates
_BOOT_LO = 0.025 * (_BOOT_B - 1)  # fractional positions into the
_BOOT_HI = 0.975 * (_BOOT_B - 1)  # sorted replicate means


def _sql_boot_ci() -> str:
    key = "concat_ws(chr(31), l_orderkey::VARCHAR, l_linenumber::VARCHAR)"
    sums = []
    means = []
    for b in range(_BOOT_B):
        w = sql_poisson1_weight(key, str(b // 8), b % 8)
        wg = (
            f"(CASE WHEN l_extendedprice IS NULL THEN 0 ELSE {w} END)"
        )
        sums.append(
            f"sum(CAST({wg} AS DECIMAL(10,0))"
            f" * CAST(l_extendedprice AS DECIMAL(18,6))) AS s{b}"
        )
        sums.append(f"sum({wg}) AS w{b}")
        means.append(
            f"CASE WHEN w{b} > 0"
            f" THEN CAST(s{b} AS DOUBLE) / CAST(w{b} AS DOUBLE) END"
        )
    arr = "list_sort(list_filter([" + ", ".join(means) + "], x -> x IS NOT NULL))"

    def interp(pos: float) -> str:
        import math

        lo, hi, d = math.floor(pos), math.ceil(pos), pos - math.floor(pos)
        return (
            f"round(_m[{lo + 1}] * (1.0 - {d!r})"
            f" + _m[{hi + 1}] * {d!r}, 6)"
        )

    return f"""WITH agg AS (
      SELECT l_returnflag,
             count(l_extendedprice) AS n,
             round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6)))
                        AS DOUBLE) / count(l_extendedprice), 6)
                 AS mean_price,
             {",             ".join(sums)}
      FROM lineitem GROUP BY l_returnflag),
    arrs AS (SELECT l_returnflag, n, mean_price, {arr} AS _m FROM agg)
    SELECT l_returnflag, n, mean_price,
           CASE WHEN len(_m) = {_BOOT_B} THEN {interp(_BOOT_LO)} END
               AS ci_lo,
           CASE WHEN len(_m) = {_BOOT_B} THEN {interp(_BOOT_HI)} END
               AS ci_hi
    FROM arrs"""


@query("q212_bootstrap_ci", _sql_boot_ci())
def q212(spark, sf_dir):
    """Poisson-bootstrap 95% CI for the per-flag mean price, fully
    deterministic and engine-replayable: each of the 32 replicates
    weights every row by an inverse-CDF Poisson(1) draw from the
    md5-salted row key (``sampling.poisson1_weight``), so the
    "resamples" are pure columnar expressions — ONE scan computes all
    64 weighted sums map-side, no data movement, no RNG state. The CI
    is linear interpolation into the sorted replicate means (within-
    row array ops); NULL prices take weight 0 in every replicate so
    Σw matches Σwx's population. The conventional B for production is
    a few hundred — the same plan, just wider aggregates; the CI
    degrades gracefully (NULL) if any replicate's weights all landed 0
    (impossible at real group sizes, possible on fuzz minicorpora)."""
    import math

    li = load_table(spark, sf_dir, "lineitem")
    key = F.concat_ws(
        "\x1f",
        F.col("l_orderkey").cast("string"),
        F.col("l_linenumber").cast("string"),
    )
    x = F.col("l_extendedprice")
    aggs = [
        F.count(x).alias("n"),
        F.round(
            F.sum(x.cast("decimal(18,6)")).cast("double") / F.count(x), 6
        ).alias("mean_price"),
    ]
    for b in range(_BOOT_B):
        w = F.when(x.isNull(), F.lit(0)).otherwise(
            poisson1_weight(key, str(b // 8), b % 8)
        )
        aggs.append(
            F.sum(
                w.cast("decimal(10,0)") * x.cast("decimal(18,6)")
            ).alias(f"s{b}")
        )
        aggs.append(F.sum(w).alias(f"w{b}"))
    agg = li.groupBy("l_returnflag").agg(*aggs)
    means = [
        F.when(
            F.col(f"w{b}") > 0,
            F.col(f"s{b}").cast("double")
            / F.col(f"w{b}").cast("double"),
        )
        for b in range(_BOOT_B)
    ]
    arr = F.array_sort(
        F.filter(F.array(*means), lambda m: m.isNotNull())
    )

    def interp(a, pos: float):
        lo, hi, d = math.floor(pos), math.ceil(pos), pos - math.floor(pos)
        return F.round(
            F.element_at(a, lo + 1) * F.lit(1.0 - d)
            + F.element_at(a, hi + 1) * F.lit(d),
            6,
        )

    withm = agg.withColumn("_m", arr)
    full = F.size("_m") == _BOOT_B
    return withm.select(
        "l_returnflag",
        "n",
        "mean_price",
        F.when(full, interp(F.col("_m"), _BOOT_LO)).alias("ci_lo"),
        F.when(full, interp(F.col("_m"), _BOOT_HI)).alias("ci_hi"),
    )


# ---------------------------------------------------------------------------
# Trained-quality-gate scoring (q213) — the ORACLED half of q200.
# ---------------------------------------------------------------------------
from .functions.text import sql_tokens, tokens  # noqa: E402
from .operators.text_analysis import _stopword_hits, sql_stopword_hits  # noqa: E402

#: Deployed weight artifact: ``classifier.train_logreg`` on the q200
#: feature frame at sf0.01 (lr=2.0, iters=25, decimal-exact gradients —
#: bit-identical under any partitioning, tests/test_classifier.py), then
#: frozen to 6 dp. q200 keeps the rows-only TRAINING loop; this query
#: proves the deployed SCORING expression hash-exact against DuckDB.
_Q213_W = (-1.829144, 3.689062, -1.558226, 0.060455)

_Q213_TOKS = sql_tokens("text")


def _q213_scored_cte() -> str:
    """The feats→scored WITH-body fragment (doc_id, n_tok, p_micro
    under the deployed ``_Q213_W`` artifact) — shared by the q213 gate
    and the q243 budget curve so the scoring expression can never
    drift between its consumers."""
    w0, w1, w2, w3 = _Q213_W
    return f"""feats AS (
      SELECT doc_id,
             len({_Q213_TOKS}) AS n_tok,
             round(ln(1.0 + len({_Q213_TOKS})), 6) AS f_logtok,
             round(CASE WHEN length(text) > 0
                   THEN length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))::DOUBLE
                        / length(text) ELSE 0.0 END, 6) AS alpha_ratio,
             CASE WHEN len({_Q213_TOKS}) > 0
                  THEN {sql_stopword_hits(_Q213_TOKS)}::DOUBLE
                       / len({_Q213_TOKS})
                  ELSE 0.0 END AS stopword_ratio
      FROM documents),
    scored AS (
      SELECT doc_id, n_tok,
             CAST(floor(1000000.0 / (1.0 + exp(-(
               {w0} + {w1} * f_logtok + {w2} * alpha_ratio
                    + {w3} * stopword_ratio)))) AS BIGINT) AS p_micro
      FROM feats)"""


def _q213_oracle() -> str:
    return f"""WITH {_q213_scored_cte()}
    SELECT doc_id,
           p_micro / 1000000.0 AS quality_p,
           CAST(CASE WHEN p_micro >= 500000 THEN 1 ELSE 0 END AS INT)
             AS pred,
           CAST(least(p_micro // 100000, 9) AS INT) AS p_bucket
    FROM scored"""


@query("q213_quality_gate_scoring", _q213_oracle())
def q213(spark, sf_dir):
    """The quality-model triangle's missing oracled edge (q200 TRAINS
    rows-only by nature; q121 infers a HAND-fixed model; q210
    calibrates): score every document with the TRAINED weight artifact
    as one codegen'd scan pass and hash-match it against DuckDB.

    Engine-exactness: the only transcendentals are ln (rounded to 6 dp
    per the house rule, q208's discipline) and the final sigmoid's exp,
    which is micro-FLOORED (q121's trick) so both engines emit the
    identical scalar; every other term is integer-derived ratio algebra
    on 6 dp-rounded doubles in an identical association order. One scan,
    zero shuffles, whole-stage codegen end to end."""
    docs = load_table(spark, sf_dir, "documents")
    scored = q213_scored(docs)
    p_micro = F.col("p_micro")
    return scored.select(
        "doc_id",
        (p_micro / F.lit(1000000.0)).alias("quality_p"),
        F.when(p_micro >= 500000, 1).otherwise(0).cast("int").alias("pred"),
        F.least(
            F.floor(p_micro / 100000).cast("int"), F.lit(9)
        ).alias("p_bucket"),
    )


def q213_scored(docs):
    """(doc_id, n_tok, p_micro) under the deployed ``_Q213_W``
    artifact — the Spark twin of :func:`_q213_scored_cte`, shared by
    q213 and the q243 budget curve.  NULL-text rows carry NULL
    p_micro (log of NULL propagates), matching the SQL side."""
    w0, w1, w2, w3 = _Q213_W
    tok = tokens("text")
    n_tok = F.size(tok)
    txt = F.col("text")
    n_chars = F.length(txt)
    n_alpha = n_chars - F.length(
        F.translate(
            txt, "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ", ""
        )
    )
    f_logtok = F.round(F.log(F.lit(1.0) + n_tok.cast("double")), 6)
    alpha_ratio = F.round(
        F.when(n_chars > 0, n_alpha.cast("double") / n_chars).otherwise(
            F.lit(0.0)
        ),
        6,
    )
    stop_ratio = F.when(
        n_tok > 0, _stopword_hits(tok).cast("double") / n_tok
    ).otherwise(F.lit(0.0))
    margin = (
        F.lit(w0)
        + F.lit(w1) * f_logtok
        + F.lit(w2) * alpha_ratio
        + F.lit(w3) * stop_ratio
    )
    p_micro = F.floor(
        F.lit(1000000.0) / (F.lit(1.0) + F.exp(-margin))
    ).cast("bigint")
    return docs.select(
        "doc_id", n_tok.alias("n_tok"), p_micro.alias("p_micro")
    )
