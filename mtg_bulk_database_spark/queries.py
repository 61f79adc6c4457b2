"""The engine's query registry: every operator from SURVEY.md §2,
expressed twice — once as an idiomatic Spark DataFrame program, once as
DuckDB-runnable SQL (the differential oracle).

Registry contract (mirrors ``__spark_entry__.py``):
- ``QUERIES[name]``     : ``(spark, sf_dir) -> DataFrame``
- ``ORACLE_SQL[name]``  : equivalent SQL for DuckDB over the same parquet
                          tables, or absent for non-SQL-expressible ops.

Determinism rules (so order-insensitive value-hashes match):
- every computed column is aliased identically on both sides;
- cross-row SUM/AVG over doubles goes through ``DECIMAL(18,6)`` (exact,
  order-independent) and is cast back to DOUBLE — Spark's partial
  aggregation order can differ run-to-run, decimal addition cannot;
- top-k / window ranks always carry a full deterministic tie-break key;
- per-row float math (e.g. cosine) is rounded to a fixed scale.

Operator ↔ reference mapping (SURVEY §2.5): each query's docstring cites
the reference access path it reproduces.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .catalog import load_table
from .functions.text import (
    ascii_fold,
    fts_match_all,
    fts_match_any,
    sql_ascii_fold,
    sql_ts_tokens,
    sql_tokens,
    tokens,
    ts_tokens,
)
from .functions.exact import _dsum, _sql_dsum
from .registry import ORACLE_SQL, QUERIES, query  # noqa: F401  (re-export)


# ---------------------------------------------------------------------------
# §2.5 Q1 — PK point lookup (init.sql:35,110). At scale: file-skipping via
# clustering on the key; locally: parquet min/max pruning on l_orderkey.
# ---------------------------------------------------------------------------
@query(
    "q01_pk_point_lookup",
    "SELECT * FROM lineitem WHERE l_orderkey = 1",
)
def q01(spark, sf_dir):
    return load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") == 1)


# ---------------------------------------------------------------------------
# §2.5 Q2 — secondary-key equality (idx_cards_oracle_id, init.sql:127).
# ---------------------------------------------------------------------------
@query(
    "q02_secondary_equality",
    """SELECT o_orderkey, o_totalprice, o_orderstatus
       FROM orders WHERE o_custkey = 37""",
)
def q02(spark, sf_dir):
    return (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") == 37)
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
    )


# ---------------------------------------------------------------------------
# §2.5 Q3 — array containment, single element (GIN idx_cards_keywords,
# init.sql:130: keywords @> '["Flying"]'). Tokenized text stands in for the
# keywords array; array_contains is codegen'd, no UDF.
# ---------------------------------------------------------------------------
@query(
    "q03_containment_single",
    f"""SELECT doc_id, lang FROM documents
        WHERE list_contains({sql_tokens('text')}, 'spark')""",
)
def q03(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return docs.filter(F.array_contains(tokens("text"), "spark")).select(
        "doc_id", "lang"
    )


# ---------------------------------------------------------------------------
# §2.5 Q3/Q4 — multi-element containment (ALL semantics):
# keywords @> '["a","b"]'  ≡  size(array_intersect(ks, [a,b])) == 2.
# ---------------------------------------------------------------------------
@query(
    "q04_containment_all",
    f"""SELECT doc_id FROM documents
        WHERE list_contains({sql_tokens('text')}, 'spark')
          AND list_contains({sql_tokens('text')}, 'join')""",
)
def q04(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    contains_all = (
        F.size(F.array_intersect(F.array_distinct(toks), F.array(F.lit("spark"), F.lit("join"))))
        == 2
    )
    return docs.filter(contains_all).select("doc_id")


# ---------------------------------------------------------------------------
# §2.5 Q5/Q6 — trigram ILIKE substring search (init.sql:137-138). Columnar
# scan replaces the trigram GIN index; predicate stays in codegen.  The
# case-insensitivity is the ASCII fold (functions/text.py ascii_fold):
# lower(text) LIKE ... hinges on every engine's Unicode case mapping,
# which forks on İ-class chars — a 26-entry translate is byte-identical
# everywhere and cheaper than lower() on the scan.
# ---------------------------------------------------------------------------
@query(
    "q05_ilike_substring",
    f"""SELECT doc_id, source FROM documents
       WHERE {sql_ascii_fold('text')} LIKE '%window batch%'""",
)
def q05(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return docs.filter(ascii_fold("text").like("%window batch%")).select(
        "doc_id", "source"
    )


# ---------------------------------------------------------------------------
# §2.5 Q7 — numeric range (idx_cards_cmc, init.sql:141). Parquet min/max
# stats give the row-group skipping the B-tree gave Postgres.
# ---------------------------------------------------------------------------
@query(
    "q06_numeric_range",
    """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
       FROM lineitem
       WHERE l_quantity BETWEEN 5 AND 10
         AND l_shipdate < TIMESTAMP '1996-01-01 00:00:00'""",
)
def q06(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        F.col("l_quantity").between(5, 10)
        & (F.col("l_shipdate") < F.lit("1996-01-01 00:00:00").cast("timestamp"))
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")


# ---------------------------------------------------------------------------
# §2.5 Q8 — full-text search (GIN tsvector, init.sql:144-146). Our
# documented tokenizer semantics (functions/text.py); AND-match.
# ---------------------------------------------------------------------------
@query(
    "q07_fts_match_all",
    f"""SELECT doc_id, lang FROM documents
        WHERE list_contains({sql_ts_tokens('text')}, 'vector')
          AND list_contains({sql_ts_tokens('text')}, 'hash')""",
)
def q07(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return docs.filter(fts_match_all(ts_tokens("text"), ["vector", "hash"])).select(
        "doc_id", "lang"
    )


@query(
    "q08_fts_match_any",
    f"""SELECT doc_id FROM documents
        WHERE list_contains({sql_ts_tokens('text')}, 'stream')
           OR list_contains({sql_ts_tokens('text')}, 'scan')""",
)
def q08(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return docs.filter(fts_match_any(ts_tokens("text"), ["stream", "scan"])).select(
        "doc_id"
    )


# ---------------------------------------------------------------------------
# §2.5 Q9 — ENUM/domain equality (layout ENUM, init.sql:6-31,47;
# README.md:18's canonical example query).
# ---------------------------------------------------------------------------
@query(
    "q09_enum_equality",
    """SELECT o_orderpriority, count(*) AS n_orders
       FROM orders WHERE o_orderstatus = 'O'
       GROUP BY o_orderpriority""",
)
def q09(spark, sf_dir):
    return (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "O")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
    )


# ---------------------------------------------------------------------------
# §2.5 Q10 — dimension enrichment join (cards ⋈ sets, init.sql:71-72,
# 110-111). Dims are broadcast — no shuffle of the fact side.
# ---------------------------------------------------------------------------
@query(
    "q10_enrichment_join",
    """SELECT c_custkey, c_name, c_mktsegment, n_name, r_name
       FROM customer
       JOIN nation ON c_nationkey = n_nationkey
       JOIN region ON n_regionkey = r_regionkey""",
)
def q10(spark, sf_dir):
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("c_custkey", "c_name", "c_mktsegment", "n_name", "r_name")
    )


# ---------------------------------------------------------------------------
# Aggregation surface (SURVEY §2.6): hash agg with map-side partials is
# Spark's default; decimal-cast sums make results order-independent.
# TPC-H Q1-shaped pricing summary.
# ---------------------------------------------------------------------------
@query(
    "q11_pricing_summary",
    f"""SELECT l_returnflag, l_linestatus,
               {_sql_dsum('l_quantity', 'sum_qty')},
               {_sql_dsum('l_extendedprice', 'sum_base_price')},
               {_sql_dsum('l_extendedprice * (1 - l_discount)', 'sum_disc_price')},
               {_sql_dsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)', 'sum_charge')},
               CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)
                    / count(*) AS DOUBLE) AS avg_qty,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus""",
)
def q11(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    sum_qty_dec = F.sum(F.col("l_quantity").cast("decimal(18,6)"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            sum_qty_dec.cast("double").alias("sum_qty"),
            _dsum(F.col("l_extendedprice"), "sum_base_price"),
            _dsum(disc_price, "sum_disc_price"),
            _dsum(charge, "sum_charge"),
            (sum_qty_dec.cast("double") / F.count("*")).cast("double").alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# Window functions: top-k per group via row_number with a total tie-break
# (SURVEY §2.6 "window"; also the exact-dedup "keep best printing" shape).
# ---------------------------------------------------------------------------
@query(
    "q12_window_topk",
    """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
         SELECT o_custkey, o_orderkey, o_totalprice,
                row_number() OVER (PARTITION BY o_custkey
                                   ORDER BY o_totalprice DESC, o_orderkey) AS rn
         FROM orders) t
       WHERE rn <= 2""",
)
def q12(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


# ---------------------------------------------------------------------------
# Grouping sets: ROLLUP / CUBE (SURVEY §2.6 aggregations).
# ---------------------------------------------------------------------------
@query(
    "q13_rollup",
    f"""SELECT l_returnflag, l_linestatus,
               {_sql_dsum('l_quantity', 'sum_qty')}, count(*) AS n_rows
        FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""",
)
def q13(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        _dsum(F.col("l_quantity"), "sum_qty"), F.count("*").alias("n_rows")
    )


@query(
    "q14_cube",
    f"""SELECT l_returnflag, l_linestatus,
               {_sql_dsum('l_extendedprice', 'sum_price')}
        FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""",
)
def q14(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        _dsum(F.col("l_extendedprice"), "sum_price")
    )


# ---------------------------------------------------------------------------
# Distinct aggregation (SURVEY §2.6): exact distinct counts. (The
# approx_count_distinct scale path exists in operators/, unverifiable by
# an exact oracle by construction.)
# ---------------------------------------------------------------------------
@query(
    "q15_distinct_counts",
    """SELECT count(DISTINCT l_partkey) AS n_parts,
              count(DISTINCT l_suppkey) AS n_supps,
              count(*) AS n_rows
       FROM lineitem""",
)
def q15(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.count("*").alias("n_rows"),
    )


# ---------------------------------------------------------------------------
# Sort / limit / top-k global (SURVEY §2.6): Spark's TakeOrderedAndProject
# avoids a full sort — per-partition top-k then driver merge.
# ---------------------------------------------------------------------------
@query(
    "q16_sort_limit",
    """SELECT o_orderkey, o_totalprice FROM orders
       ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""",
)
def q16(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .select("o_orderkey", "o_totalprice")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Semi/anti joins (EXISTS / NOT EXISTS — SURVEY §2.6 joins).
# ---------------------------------------------------------------------------
@query(
    "q17_semi_join",
    """SELECT c_custkey, c_name FROM customer
       WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                     AND o_totalprice > 100000)""",
)
def q17(spark, sf_dir):
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > 100000
    )
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


@query(
    "q18_anti_join",
    """SELECT c_custkey, c_name FROM customer
       WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""",
)
def q18(spark, sf_dir):
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


# ---------------------------------------------------------------------------
# Set operations (SURVEY §2.6).
# ---------------------------------------------------------------------------
@query(
    "q19_intersect",
    """SELECT c_nationkey AS nationkey FROM customer
       INTERSECT
       SELECT s_nationkey AS nationkey FROM supplier""",
)
def q19(spark, sf_dir):
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    return cust.intersect(supp)


@query(
    "q20_except",
    """SELECT c_nationkey AS nationkey FROM customer
       EXCEPT
       SELECT s_nationkey AS nationkey FROM supplier""",
)
def q20(spark, sf_dir):
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    return cust.subtract(supp)


# ---------------------------------------------------------------------------
# Pivot (conditional aggregation — SURVEY §2.6).
# ---------------------------------------------------------------------------
@query(
    "q21_pivot",
    f"""SELECT l_returnflag,
               CAST(SUM(CASE WHEN l_linestatus = 'O'
                    THEN CAST(l_quantity AS DECIMAL(18,6)) END) AS DOUBLE) AS O,
               CAST(SUM(CASE WHEN l_linestatus = 'F'
                    THEN CAST(l_quantity AS DECIMAL(18,6)) END) AS DOUBLE) AS F
        FROM lineitem GROUP BY l_returnflag""",
)
def q21(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,6)")).cast("double"))
    )


# ---------------------------------------------------------------------------
# Flagship: multi-way join + aggregation (TPC-H Q5-shaped revenue rollup).
# Fact table shuffles once on o_orderkey; all dims broadcast.
# ---------------------------------------------------------------------------
@query(
    "q22_revenue_by_nation",
    f"""SELECT n_name, r_name,
               {_sql_dsum('l_extendedprice * (1 - l_discount)', 'revenue')},
               count(*) AS n_items
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        GROUP BY n_name, r_name""",
)
def q22(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name", "r_name")
        .agg(_dsum(revenue, "revenue"), F.count("*").alias("n_items"))
    )


# ---------------------------------------------------------------------------
# Event-time tumbling window (batch shape of the streaming operator).
# ---------------------------------------------------------------------------
@query(
    "q23_tumbling_window",
    f"""SELECT date_trunc('hour', ts) AS window_start, event_type,
               count(*) AS n_events, {_sql_dsum('value', 'sum_value')}
        FROM events GROUP BY date_trunc('hour', ts), event_type""",
)
def q23(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("window_start"),
        "event_type",
    ).agg(F.count("*").alias("n_events"), _dsum(F.col("value"), "sum_value"))


# ---------------------------------------------------------------------------
# Sessionization: gap-based sessions via lag + cumulative flag sum — the
# batch twin of the stateful-streaming session operator.
# ---------------------------------------------------------------------------
@query(
    "q24_sessionize",
    """WITH flagged AS (
         SELECT user_id, event_id, ts,
                CASE WHEN epoch(ts) - epoch(lag(ts) OVER w) > 1800
                     OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
       ), sessions AS (
         SELECT user_id, event_id, ts,
                SUM(new_session) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS session_id
         FROM flagged
       )
       SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
              count(*) AS n_events,
              min(ts) AS session_start, max(ts) AS session_end
       FROM sessions GROUP BY user_id, session_id""",
)
def q24(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lag_ts = F.lag("ts").over(w)
    # cast-to-double keeps fractional seconds — unix_timestamp truncates
    # to whole seconds and would disagree with the oracle's epoch() for
    # gaps within one second of the 1800s boundary
    new_session = F.when(
        lag_ts.isNull()
        | ((F.col("ts").cast("double") - lag_ts.cast("double")) > 1800),
        1,
    ).otherwise(0)
    return (
        ev.withColumn("new_session", new_session)
        .withColumn(
            "session_id",
            F.sum("new_session").over(w).cast("bigint"),
        )
        .groupBy("user_id", "session_id")
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
    )
