"""Additional relational-surface registry entries: subqueries
(decorrelation), grouping sets, scalar string/date functions, conditional
expressions — rounding out SURVEY §2.6's category checklist with
oracle-paired coverage.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import functions as F

from .catalog import _session_memo, load_table
from .functions.exact import _dsum, _sql_dsum
from .registry import query


# ---------------------------------------------------------------------------
# Correlated scalar subquery — Catalyst decorrelates to a join+agg
# (SURVEY §4.3 "subquery decorrelation: built-in", verified here).
# ---------------------------------------------------------------------------
@query(
    "q50_correlated_subquery",
    """SELECT o_orderkey, o_totalprice FROM orders o
       WHERE o_totalprice > (SELECT 2 * avg(o2.o_totalprice) FROM orders o2
                             WHERE o2.o_custkey = o.o_custkey)""",
)
def q50(spark, sf_dir):
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("_q50_orders")
    return spark.sql(
        """SELECT o_orderkey, o_totalprice FROM _q50_orders o
           WHERE o_totalprice > (SELECT 2 * avg(o2.o_totalprice)
                                 FROM _q50_orders o2
                                 WHERE o2.o_custkey = o.o_custkey)"""
    )


# ---------------------------------------------------------------------------
# IN / NOT IN subqueries (semi/anti through the SQL surface).
# ---------------------------------------------------------------------------
@query(
    "q51_in_subquery",
    """SELECT p_partkey, p_name FROM part
       WHERE p_partkey IN (SELECT l_partkey FROM lineitem WHERE l_quantity > 45)""",
)
def q51(spark, sf_dir):
    load_table(spark, sf_dir, "part").createOrReplaceTempView("_q51_part")
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("_q51_li")
    return spark.sql(
        """SELECT p_partkey, p_name FROM _q51_part
           WHERE p_partkey IN (SELECT l_partkey FROM _q51_li WHERE l_quantity > 45)"""
    )


# ---------------------------------------------------------------------------
# GROUPING SETS with grouping_id disambiguation.
# ---------------------------------------------------------------------------
@query(
    "q52_grouping_sets",
    """SELECT l_returnflag, l_linestatus,
              CAST(GROUPING(l_returnflag) AS INT) AS g_rf,
              CAST(GROUPING(l_linestatus) AS INT) AS g_ls,
              count(*) AS n_rows
       FROM lineitem
       GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus),
                               (l_returnflag, l_linestatus))""",
)
def q52(spark, sf_dir):
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("_q52_li")
    return spark.sql(
        """SELECT l_returnflag, l_linestatus,
                  CAST(GROUPING(l_returnflag) AS INT) AS g_rf,
                  CAST(GROUPING(l_linestatus) AS INT) AS g_ls,
                  count(*) AS n_rows
           FROM _q52_li
           GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus),
                                   (l_returnflag, l_linestatus))"""
    )


# ---------------------------------------------------------------------------
# Scalar string-function surface (concat/substr/upper/trim/replace/length
# — the ILIKE family's supporting cast, SURVEY §2.6 "scalar funcs").
# ---------------------------------------------------------------------------
@query(
    "q53_string_functions",
    """SELECT c_custkey,
              upper(c_name) AS name_upper,
              substr(c_name, 1, 8) AS name_prefix,
              concat(c_mktsegment, ':', CAST(c_nationkey AS VARCHAR)) AS seg_key,
              length(c_name) AS name_len,
              replace(c_name, '#', '-') AS name_dashed
       FROM customer WHERE c_custkey <= 500""",
)
def q53(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    return c.filter(F.col("c_custkey") <= 500).select(
        "c_custkey",
        F.upper("c_name").alias("name_upper"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.concat(
            F.col("c_mktsegment"), F.lit(":"), F.col("c_nationkey").cast("string")
        ).alias("seg_key"),
        F.length("c_name").alias("name_len"),
        F.replace(F.col("c_name"), F.lit("#"), F.lit("-")).alias("name_dashed"),
    )


# ---------------------------------------------------------------------------
# Scalar date/time surface (extract/trunc/diff — P2's query-side family).
# ---------------------------------------------------------------------------
@query(
    "q54_date_functions",
    """SELECT CAST(year(o_orderdate) AS INT) AS order_year,
              CAST(month(o_orderdate) AS INT) AS order_month,
              CAST(dayofweek(CAST(o_orderdate AS DATE)) AS INT) AS order_dow,
              count(*) AS n_orders
       FROM orders
       GROUP BY 1, 2, 3""",
)
def q54(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select(
            F.year("o_orderdate").alias("order_year"),
            F.month("o_orderdate").alias("order_month"),
            (F.dayofweek(F.col("o_orderdate").cast("date")) - 1).alias("order_dow"),
        )
        .groupBy("order_year", "order_month", "order_dow")
        .agg(F.count("*").alias("n_orders"))
    )


# ---------------------------------------------------------------------------
# CASE / conditional expressions + null handling (coalesce/nullif).
# ---------------------------------------------------------------------------
@query(
    "q55_conditional_expr",
    """SELECT l_orderkey, l_linenumber,
              CASE WHEN l_discount >= 0.05 THEN 'high'
                   WHEN l_discount > 0 THEN 'low' ELSE 'none' END AS discount_band,
              coalesce(nullif(l_returnflag, 'N'), 'kept') AS return_status
       FROM lineitem WHERE l_orderkey <= 200""",
)
def q55(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_orderkey") <= 200).select(
        "l_orderkey",
        "l_linenumber",
        F.when(F.col("l_discount") >= 0.05, "high")
        .when(F.col("l_discount") > 0, "low")
        .otherwise("none")
        .alias("discount_band"),
        F.coalesce(
            F.nullif(F.col("l_returnflag"), F.lit("N")), F.lit("kept")
        ).alias("return_status"),
    )


# ---------------------------------------------------------------------------
# As-of join — custom operator (operators/asof.py): for each error event,
# the user's most recent strictly-preceding click. Oracle: DuckDB's
# native ASOF LEFT JOIN. Strategy is stats-driven (asof_join_auto): at
# this corpus's shallow per-user click depth it picks the relational
# composition (measured 9× faster here — the cogrouped merge_asof
# variant pays per-group Arrow overhead), and flips to the linear
# cogrouped merge when per-key history is deep enough to explode the
# range join; tests pin both implementations equal and the switch itself.
# ---------------------------------------------------------------------------

@_session_memo
def asof_click_depth(spark, sf_dir) -> float:
    """Right-side (clicks) key-depth stat for q56, computed once per
    (app, sf_dir) — the catalog-stats (ANALYZE) model: depth is a
    property of the TABLE, not of the query, and an ingest-time
    artifact on a real cluster."""
    from .operators.asof import right_key_depth

    ev = load_table(spark, sf_dir, "events")
    return right_key_depth(ev.filter(F.col("event_type") == "click"), "user_id")


@query(
    "q56_asof_join",
    """SELECT e.event_id, e.user_id, e.ts, c.ts AS r_ts, c.value AS r_value
       FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error') e
       ASOF LEFT JOIN
            (SELECT user_id, ts, value FROM events WHERE event_type = 'click') c
       ON e.user_id = c.user_id AND e.ts > c.ts""",
)
def q56(spark, sf_dir):
    from .operators.asof import asof_join_auto

    ev = load_table(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "value"
    )
    return asof_join_auto(
        errors,
        clicks,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        avg_depth=asof_click_depth(spark, sf_dir),
    )


# ---------------------------------------------------------------------------
# Exact percentiles (sort-based linear interpolation — identical
# definition in both engines; the approx_percentile sketch is the scale
# alternative, unverifiable by an exact oracle by construction).
# ---------------------------------------------------------------------------
@query(
    "q57_percentiles",
    """SELECT l_returnflag,
              quantile_cont(l_quantity, 0.25) AS p25,
              quantile_cont(l_quantity, 0.50) AS p50,
              quantile_cont(l_quantity, 0.75) AS p75,
              quantile_cont(l_extendedprice, 0.9) AS price_p90
       FROM lineitem GROUP BY l_returnflag""",
)
def q57(spark, sf_dir):
    """Stats-driven plan switch (r4): Spark's exact ``percentile()``
    buffers EVERY value of a group in one aggregation buffer — fine
    here (600k rows, 3 groups), an OOM and a 3-task sort at 100 TB.
    Below the threshold the built-in runs (cheapest at bench scale);
    above it the plan flips to ``scalewin.scale_exact_percentiles`` —
    range-bucketed per-group ranks, then only the target-rank rows
    (groups × quantiles × 2) leave the executors.  Both paths are
    pinned bit-equal in ``test_scalewin.py`` and against the DuckDB
    oracle, so the switch is pure plan choice — the same discipline as
    the as-of join's stats-driven strategy (`operators/asof.py`).
    (The count() here is a column-pruned scan; on a catalog-backed
    deployment the row count comes from table statistics for free.)"""
    li = load_table(spark, sf_dir, "lineitem")
    if li.count() <= _PCTL_BUFFER_SAFE_ROWS:
        return li.groupBy("l_returnflag").agg(
            F.expr("percentile(l_quantity, 0.25)").alias("p25"),
            F.expr("percentile(l_quantity, 0.50)").alias("p50"),
            F.expr("percentile(l_quantity, 0.75)").alias("p75"),
            F.expr("percentile(l_extendedprice, 0.9)").alias("price_p90"),
        )
    return scale_exact_percentile_plan(spark, li)


#: above this many input rows the exact-percentile aggregate's
#: per-group value buffer stops being memory-safe; flip to two-pass
#: rank selection. ~10M doubles ≈ 80 MB/group buffer — the last size
#: where a single aggregation buffer is defensible.
_PCTL_BUFFER_SAFE_ROWS = 10_000_000


@query(
    "q176_scale_exact_percentiles",
    """SELECT l_returnflag,
              quantile_cont(l_quantity, 0.25) AS p25,
              quantile_cont(l_quantity, 0.50) AS p50,
              quantile_cont(l_quantity, 0.75) AS p75,
              quantile_cont(l_extendedprice, 0.9) AS price_p90
       FROM lineitem GROUP BY l_returnflag""",
)
def q176(spark, sf_dir):
    """q57's SCALE path, registered under its own gate with the SAME
    oracle: the driver proves the distributed rank-selection percentile
    (no whole-group aggregation buffer) bit-equal to DuckDB's
    quantile_cont every round, independent of the q57 stats switch
    taking the built-in branch at test scale. Not a new reporting
    shape — the scale-plan twin of an existing one."""
    li = load_table(spark, sf_dir, "lineitem")
    return scale_exact_percentile_plan(spark, li)


def scale_exact_percentile_plan(spark, li):
    """q57's scale path, callable directly so tests pin it bit-equal
    to the built-in on the same input."""
    from .operators.scalewin import scale_exact_percentiles_multi

    # buckets=32: the 31-term bucket expression halves the per-pass CPU
    # vs 64 while narrowing keeps candidate slices task-sized at any n.
    # ONE multi-column call: the histogram and count passes over the
    # lineitem scan are shared between the two value columns (r4 ran
    # the whole recipe twice — 6 jobs where 4 suffice).
    # histogram="uniform": boundaries from one min/max aggregate — the
    # r5 profile showed the sampled approxQuantile pass-1 costing as
    # much as the count pass; quantity/price are near-flat, so uniform
    # boundaries keep balance and drop the sketch entirely.
    pct = scale_exact_percentiles_multi(
        li,
        "l_returnflag",
        {"l_quantity": [0.25, 0.50, 0.75], "l_extendedprice": [0.9]},
        buckets=32,
        sample_fraction=0.05,
        histogram="footer",  # pass-1 from parquet row-group stats
    )
    qty, price = pct["l_quantity"], pct["l_extendedprice"]
    # an Arrow table, not a Python list: the JVM reads it straight into
    # a relation, with no Python-worker stage
    flags = sorted(qty)
    return spark.createDataFrame(
        pa.table(
            {
                "l_returnflag": pa.array(flags, pa.string()),
                "p25": pa.array([qty[g][0.25] for g in flags], pa.float64()),
                "p50": pa.array([qty[g][0.50] for g in flags], pa.float64()),
                "p75": pa.array([qty[g][0.75] for g in flags], pa.float64()),
                "price_p90": pa.array([price[g][0.9] for g in flags], pa.float64()),
            }
        )
    )


# ---------------------------------------------------------------------------
# Ranked full-text retrieval: TF-IDF scoring over the FTS token sets —
# the retrieval-quality layer above the boolean Q8 operator. Term
# document-frequencies come from one tiny driver-side aggregate (two
# ints); all per-row math is a fixed-order expression, so scores are
# engine-exact.
# ---------------------------------------------------------------------------
_FTS_TERMS = ("spark", "vector")


@query(
    "q58_fts_ranked",
    f"""WITH toks AS (
          SELECT doc_id, {{toks}} AS t FROM documents
        ), stats AS (
          SELECT count(*) AS n_docs,
                 sum(CASE WHEN list_contains(t, '{_FTS_TERMS[0]}') THEN 1 ELSE 0 END) AS df0,
                 sum(CASE WHEN list_contains(t, '{_FTS_TERMS[1]}') THEN 1 ELSE 0 END) AS df1
          FROM toks
        )
        SELECT doc_id,
               round(len(list_filter(t, x -> x = '{_FTS_TERMS[0]}'))
                       * ln((n_docs + 1.0) / (df0 + 1.0))
                     + len(list_filter(t, x -> x = '{_FTS_TERMS[1]}'))
                       * ln((n_docs + 1.0) / (df1 + 1.0)), 6) AS score
        FROM toks, stats
        WHERE list_contains(t, '{_FTS_TERMS[0]}') OR list_contains(t, '{_FTS_TERMS[1]}')
        ORDER BY score DESC, doc_id LIMIT 20""".replace(
        "{toks}",
        "list_transform(list_filter(string_split_regex(text,"
        " '[^a-zA-Z0-9]+'), x -> x <> ''), x -> lower(x))",
    ),
)
def q58(spark, sf_dir):
    from .functions.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    tok = tokens("text")
    toks = docs.select("doc_id", tok.alias("t"))
    contains = [F.array_contains("t", t) for t in _FTS_TERMS]
    stats = toks.agg(
        F.count("*").alias("n"),
        *[
            F.sum(c.cast("int")).alias(f"df{i}")
            for i, c in enumerate(contains)
        ],
    ).first()
    n_docs, dfs = stats["n"], [stats[f"df{i}"] for i in range(len(_FTS_TERMS))]

    def tf(term):
        # closure over `term` — a default-arg lambda would expose a 2nd
        # parameter and bind it to filter's element INDEX
        def eq(x):
            return x == F.lit(term)

        return F.size(F.filter(F.col("t"), eq))

    import math

    score = None
    for term, df in zip(_FTS_TERMS, dfs):
        part = tf(term) * F.lit(math.log((n_docs + 1.0) / (df + 1.0)))
        score = part if score is None else score + part
    matched = toks.filter(
        F.array_contains("t", _FTS_TERMS[0]) | F.array_contains("t", _FTS_TERMS[1])
    )
    return (
        matched.select("doc_id", F.round(score, 6).alias("score"))
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Window-function suite: lead/lag + rank family with full tie-breaks.
# ---------------------------------------------------------------------------
@query(
    "q59_window_suite",
    """SELECT o_orderkey, o_custkey, o_totalprice,
              lead(o_totalprice) OVER w AS next_price,
              lag(o_totalprice) OVER w AS prev_price,
              rank() OVER w AS rnk,
              dense_rank() OVER w AS drnk,
              CAST(row_number() OVER w AS BIGINT) AS rn
       FROM orders
       WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)""",
)
def q59(spark, sf_dir):
    from pyspark.sql import Window as W

    orders = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_totalprice", "o_orderkey")
    return orders.select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.lead("o_totalprice").over(w).alias("next_price"),
        F.lag("o_totalprice").over(w).alias("prev_price"),
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.row_number().over(w).cast("bigint").alias("rn"),
    )


# ---------------------------------------------------------------------------
# Rolling aggregation: 5-row moving sum per supplier in ship order —
# decimal-cast so the frame sum is order-exact like every other SUM.
# ---------------------------------------------------------------------------
@query(
    "q60_moving_sum",
    """SELECT l_suppkey, l_orderkey, l_linenumber,
              CAST(SUM(CAST(l_quantity AS DECIMAL(18,6)))
                   OVER (PARTITION BY l_suppkey
                         ORDER BY l_shipdate, l_orderkey, l_linenumber
                         ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
                   AS DOUBLE) AS qty_5row_sum
       FROM lineitem""",
)
def q60(spark, sf_dir):
    from pyspark.sql import Window as W

    li = load_table(spark, sf_dir, "lineitem")
    w = (
        W.partitionBy("l_suppkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
        .rowsBetween(-4, 0)
    )
    return li.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.sum(F.col("l_quantity").cast("decimal(18,6)"))
        .over(w)
        .cast("double")
        .alias("qty_5row_sum"),
    )


# ---------------------------------------------------------------------------
# Sliding (hopping) event-time windows — the overlap variant of q23's
# tumbling windows; each event lands in window/slide = 4 windows. The
# same Spark operator runs streaming with a watermark (streaming/events
# uses the identical F.window); the oracle expands the 4 memberships
# per event explicitly.
# ---------------------------------------------------------------------------
@query(
    "q76_sliding_window",
    """SELECT make_timestamp(CAST((floor(epoch(ts)/900)*900 - k*900)
                                  * 1000000 AS BIGINT)) AS w_start,
              event_type, count(*) AS n_events
       FROM events, unnest([0, 1, 2, 3]) AS t(k)
       GROUP BY 1, 2""",
)
def q76(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("w_start"), "event_type", "n_events"
        )
    )


# ---------------------------------------------------------------------------
# Multiset set ops: EXCEPT ALL / INTERSECT ALL (q19/q20 cover the SET
# variants; Spark's exceptAll/intersectAll are the bag semantics, tagged
# into one result).
# ---------------------------------------------------------------------------
@query(
    "q77_multiset_ops",
    """SELECT 'except_all' AS op, l_partkey FROM (
         SELECT l_partkey FROM lineitem
         EXCEPT ALL
         SELECT l_partkey FROM lineitem WHERE l_returnflag = 'R'
       )
       UNION ALL
       SELECT 'intersect_all' AS op, l_partkey FROM (
         SELECT l_partkey FROM lineitem
         INTERSECT ALL
         SELECT l_partkey FROM lineitem WHERE l_returnflag = 'R'
       )""",
)
def q77(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    a = li.select("l_partkey")
    b = li.filter(F.col("l_returnflag") == "R").select("l_partkey")
    return (
        a.exceptAll(b)
        .withColumn("op", F.lit("except_all"))
        .unionByName(a.intersectAll(b).withColumn("op", F.lit("intersect_all")))
        .select("op", "l_partkey")
    )


# ---------------------------------------------------------------------------
# Classic multiway fact joins (TPC-H Q3/Q10 shapes over the driver's
# TPC-H-ish tables): selective dim filters reach the scans, the fact
# join shuffles once, revenue sums are decimal-exact.
# ---------------------------------------------------------------------------
_REVENUE_EXPR = "l_extendedprice * (1 - l_discount)"


def _revenue_dsum():
    return _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue")


def _sql_revenue_dsum() -> str:
    return _sql_dsum(_REVENUE_EXPR, "revenue")


@query(
    "q73_shipping_priority",
    f"""SELECT l_orderkey,
              {_sql_revenue_dsum()},
              o_orderdate, o_orderpriority
       FROM customer JOIN orders ON c_custkey = o_custkey
                     JOIN lineitem ON l_orderkey = o_orderkey
       WHERE c_mktsegment = 'BUILDING'
         AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
         AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
       GROUP BY l_orderkey, o_orderdate, o_orderpriority
       ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10""",
)
def q73(spark, sf_dir):
    import datetime as dt

    cutoff = dt.datetime(1995, 3, 15)
    # no explicit broadcast hint: the filtered customer side scales with
    # sf (~30k x sf rows in-segment), so the choice belongs to AQE's
    # runtime size estimate, not a baked-in plan shape — forcing it
    # would hard-code a driver OOM at large sf
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit(cutoff)
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit(cutoff)
    )
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(_revenue_dsum())
        .orderBy(F.col("revenue").desc(), "o_orderdate", "l_orderkey")
        .limit(10)
    )


@query(
    "q74_returned_item_ranking",
    f"""SELECT c_custkey, c_name,
              {_sql_revenue_dsum()},
              c_acctbal, n_name
       FROM customer JOIN orders ON c_custkey = o_custkey
                     JOIN lineitem ON l_orderkey = o_orderkey
                     JOIN nation ON c_nationkey = n_nationkey
       WHERE l_returnflag = 'R'
       GROUP BY c_custkey, c_name, c_acctbal, n_name
       ORDER BY revenue DESC, c_custkey LIMIT 20""",
)
def q74(spark, sf_dir):
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    # nation is a FIXED-SIZE dim (25 rows at any sf) — broadcast is safe
    nation = load_table(spark, sf_dir, "nation")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(_revenue_dsum())
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Approximate aggregates — the 100 TB path for q15's exact distincts:
# HLL++ sketches merge associatively (one pass, no giant hash set per
# group). Sketch values are engine-specific by construction → rows-only
# driver check; tests/test_pipeline_ops.py pins relative error vs exact.
# ---------------------------------------------------------------------------
@query("q72_approx_distinct")
def q72(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey", rsd=0.02).alias("approx_orders"),
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("approx_parts"),
        F.count(F.lit(1)).alias("n_rows"),
    )


# ---------------------------------------------------------------------------
# Distribution-rank window family: ntile / percent_rank / cume_dist —
# the rank functions q59 doesn't cover. Deterministic because the window
# order carries a full tie-break.
# ---------------------------------------------------------------------------
@query(
    "q69_distribution_ranks",
    """SELECT o_orderkey, o_custkey,
              ntile(4) OVER w AS quartile,
              round(percent_rank() OVER w, 6) AS pct_rank,
              round(cume_dist() OVER w, 6) AS cume
       FROM orders
       WINDOW w AS (PARTITION BY o_orderpriority
                    ORDER BY o_totalprice, o_orderkey)""",
)
def q69(spark, sf_dir):
    from pyspark.sql import Window as W

    orders = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return orders.select(
        "o_orderkey",
        "o_custkey",
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


# ---------------------------------------------------------------------------
# Ordered string aggregation: LISTAGG/STRING_AGG equivalent — sorted
# concat makes the collect deterministic (same trick as q67).
# ---------------------------------------------------------------------------
@query(
    "q70_string_agg",
    """SELECT n_regionkey,
              string_agg(n_name, ',' ORDER BY n_name) AS nations
       FROM nation GROUP BY n_regionkey""",
)
def q70(spark, sf_dir):
    nation = load_table(spark, sf_dir, "nation")
    return nation.groupBy("n_regionkey").agg(
        F.concat_ws(",", F.array_sort(F.collect_list("n_name"))).alias("nations")
    )


# ---------------------------------------------------------------------------
# Lateral explode + aggregate: document frequency of FTS tokens — the
# generate/UNNEST access path as a registered query (explode is used
# inside operators everywhere; this pins its aggregate form).
# ---------------------------------------------------------------------------
def _token_doc_freq_oracle() -> str:
    from .functions.text import sql_ts_tokens

    return f"""SELECT tok, count(DISTINCT doc_id) AS doc_freq
       FROM (SELECT doc_id, unnest(ts_toks) AS tok
             FROM (SELECT doc_id, {sql_ts_tokens('text')} AS ts_toks
                   FROM documents))
       GROUP BY tok
       ORDER BY doc_freq DESC, tok LIMIT 20"""


@query("q66_token_doc_frequency", _token_doc_freq_oracle())
def q66(spark, sf_dir):
    from .functions.text import ts_tokens

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", ts_tokens("text").alias("_t"))
    exploded = toks.select(
        "doc_id", F.explode_outer("_t").alias("tok")
    ).filter(F.col("tok").isNotNull())
    return (
        exploded.groupBy("tok")
        .agg(F.count_distinct("doc_id").alias("doc_freq"))
        .orderBy(F.col("doc_freq").desc(), "tok")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Array aggregation: deterministic collect (sorted) — the list-building
# aggregate shape; sorting makes collect_list oracle-comparable. The
# registered output joins the array to one string cell: the verification
# driver canonicalizes cells via pandas sort, which cannot hash python
# lists (the q84/q85 r2 failure mode), so no oracled query may emit an
# array column.
# ---------------------------------------------------------------------------
@query(
    "q67_array_agg",
    """SELECT source,
              coalesce(array_to_string(list_sort(list(n_chars)), ' '), '') AS chars_sorted,
              len(list(n_chars)) AS n_docs
       FROM documents GROUP BY source""",
)
def q67(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(
        F.coalesce(
            F.array_join(
                F.array_sort(F.collect_list("n_chars")).cast("array<string>"),
                " ",
            ),
            F.lit(""),
        ).alias("chars_sorted"),
        F.size(F.collect_list("n_chars")).alias("n_docs"),
    )


# ---------------------------------------------------------------------------
# Statistical aggregates, decimal-exact: built-in stddev/corr use
# streaming one-pass algorithms whose float accumulation is partition-
# order-dependent — unusable under a value-hash gate. The moment
# formulas over DECIMAL sums are order-independent and both engines
# evaluate the identical final double expression.
# ---------------------------------------------------------------------------
@query(
    "q68_stats_agg",
    """SELECT source,
              count(*) AS n,
              round(CAST(SUM(CAST(n_chars AS DECIMAL(18,6))) AS DOUBLE)
                    / count(*), 6) AS mean_chars,
              round((CAST(SUM(CAST(n_chars AS DECIMAL(28,6))
                              * CAST(n_chars AS DECIMAL(28,6))) AS DOUBLE)
                     - CAST(SUM(CAST(n_chars AS DECIMAL(18,6))) AS DOUBLE)
                       * CAST(SUM(CAST(n_chars AS DECIMAL(18,6))) AS DOUBLE)
                       / count(*))
                    / (count(*) - 1), 6) AS var_chars
       FROM documents GROUP BY source HAVING count(*) > 1""",
)
def q68(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    dsum = F.sum(F.col("n_chars").cast("decimal(18,6)")).cast("double")
    dsum2 = F.sum(
        F.col("n_chars").cast("decimal(28,6)") * F.col("n_chars").cast("decimal(28,6)")
    ).cast("double")
    n = F.count(F.lit(1))
    return (
        docs.groupBy("source")
        .agg(
            n.alias("n"),
            F.round(dsum / n, 6).alias("mean_chars"),
            F.round((dsum2 - dsum * dsum / n) / (n - 1), 6).alias("var_chars"),
        )
        .filter(F.col("n") > 1)
    )
