"""Registry entries, round 3 (cont. 3): the native session-window
operator (batch twin of the streaming gap-session), deterministic
argmax aggregates, URL/link extraction over the corpus, the
approximate-vs-exact dedup evaluation report, a one-pass ANALYZE TABLE
profile, time-RANGE window frames, declarative constraint checking,
ordered funnel analysis, unpivot, full-outer key reconciliation,
triangle counting (graph leg 3), and grouped exact percentiles.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .catalog import load_table
from .operators import dedup
from .registry import ORACLE_SQL, query


# ---------------------------------------------------------------------------
# Native session_window — Spark's own gap-session operator. q24 builds
# sessions by hand (lag + running sum, the portable-SQL shape); this is
# the engine-native one-liner that also streams unchanged under a
# watermark. Semantics: a new session starts when the gap from the
# previous event is >= 30 min (window end = last ts + gap), hence the
# oracle's >= — q24's hand-rolled twin uses > by its own declared rule.
# ---------------------------------------------------------------------------
@query(
    "q133_session_window",
    """WITH flagged AS (
         SELECT user_id, event_id, ts,
                CASE WHEN lag(ts) OVER w IS NULL
                     OR epoch(ts) - epoch(lag(ts) OVER w) >= 1800
                     THEN 1 ELSE 0 END AS new_session
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
       ), s AS (
         SELECT user_id, ts,
                SUM(new_session) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS sid
         FROM flagged
       )
       SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
              count(*) AS n_events
       FROM s GROUP BY user_id, sid""",
)
def q133(spark, sf_dir):
    """One shuffle on the grouping key; the session merge happens
    inside Spark's SessionWindowStateStore-less batch path (sort +
    merge within partition). Identical code streams with
    ``withWatermark`` — that equivalence is the point of registering
    the batch twin."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            "user_id",
            F.session_window("ts", "1800 seconds").alias("w"),
        )
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count("*").alias("n_events"),
        )
        .select("user_id", "session_start", "session_end", "n_events")
    )


# ---------------------------------------------------------------------------
# Deterministic argmax (max_by / arg_max) — the "which row achieved the
# max" aggregate, with a packed-integer total order so ties cannot make
# the answer engine- or partitioning-dependent.
# ---------------------------------------------------------------------------
_PACK = 10_000_000_000  # doc_id < 10^10 by construction of the testdata

@query(
    "q134_argmax_longest_doc",
    f"""SELECT lang,
               arg_max(doc_id, n_chars * {_PACK} + doc_id) AS top_doc_id,
               max(n_chars) AS max_chars,
               count(*) AS n_docs
        FROM documents GROUP BY lang""",
)
def q134(spark, sf_dir):
    """max_by with a DETERMINISTIC tie-break: the ordering value packs
    (n_chars, doc_id) into one BIGINT, so equal lengths resolve to the
    larger doc_id in every engine — bare max_by(doc_id, n_chars) is
    free to return ANY tied row and would flap under Spark's partial
    aggregation. Single hash aggregate, map-side partials."""
    docs = load_table(spark, sf_dir, "documents")
    packed = F.col("n_chars") * F.lit(_PACK) + F.col("doc_id")
    return docs.groupBy("lang").agg(
        F.max_by("doc_id", packed).alias("top_doc_id"),
        F.max("n_chars").alias("max_chars"),
        F.count("*").alias("n_docs"),
    )


# ---------------------------------------------------------------------------
# URL / link extraction — regexp_extract_all + explode + frequency.
# ---------------------------------------------------------------------------
_URL_RE = "https?://[^ ]+"

@query(
    "q135_url_extraction",
    f"""WITH t AS (
          SELECT doc_id,
                 text || ' see http://ex.com/p/' || (doc_id % 50)
                      || CASE WHEN doc_id % 3 = 0
                              THEN ' and https://ex.com/q/' || (doc_id % 7)
                              ELSE '' END AS body
          FROM documents),
        u AS (SELECT unnest(regexp_extract_all(body, '{_URL_RE}')) AS url
              FROM t)
        SELECT url, count(*) AS n_refs FROM u GROUP BY url""",
)
def q135(spark, sf_dir):
    """Link-graph extraction (the corpus-level URL frequency table that
    feeds crawl frontier / citation analysis). The synthetic corpus has
    no URLs, so the query PLANTS deterministic ones (1-2 per doc, a
    pure function of doc_id) and then runs the real pipeline:
    regexp_extract_all → explode → count. Map-side partial counts; one
    shuffle keyed by url (Zipf-ish keys at scale → AQE skew split)."""
    docs = load_table(spark, sf_dir, "documents")
    body = F.concat(
        F.col("text"),
        F.lit(" see http://ex.com/p/"),
        (F.col("doc_id") % 50).cast("string"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit(" and https://ex.com/q/"),
                (F.col("doc_id") % 7).cast("string"),
            ),
        ).otherwise(F.lit("")),
    )
    return (
        docs.select(
            F.explode(F.regexp_extract_all(body, F.lit(_URL_RE), 0)).alias(
                "url"
            )
        )
        .groupBy("url")
        .agg(F.count("*").alias("n_refs"))
    )


# ---------------------------------------------------------------------------
# Approximate-dedup evaluation report: MinHash+LSH vs the exact
# operator, as a first-class pipeline query (the number you check
# BEFORE trusting an approximate pass on a 100 TB corpus).
# ---------------------------------------------------------------------------
# The registered gate q137 runs the PORTABLE md5 MinHash family at the
# DEPLOYED operating point — (num_perm=32, bands=8), the knee the q166
# sweep located — so the single-point eval of the config you'd actually
# ship hash-checks against DuckDB.  q180 is the same eval at the library
# default (64, 16).  The production xxhash64 leg (minhash_lsh_pairs'
# default) keeps its local recall pins in tests/test_pipeline_ops.py and
# its banding behaviour transfers from this gate because
# recall-vs-banding is hash-family-agnostic (see q166).
def _minhash_eval(spark, sf_dir, num_perm: int, bands: int):
    """Recall/precision of the banded-MinHash near-dup pass against the
    exact n-gram Jaccard operator at the same threshold, evaluated at
    the sketch config ``(num_perm, bands)``. Both pair sets are tiny
    relative to the corpus (pairs, not documents), so the full-outer
    join is cheap; metrics are integer micro-ratios (single final
    division semantics, engine-exact). At 100 TB you run this on a
    stratified sample (q83) and ship the sketch parameters only when
    recall clears the bar."""
    from .pipeline_queries import shingle_prebuilt_table

    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    shingles = shingle_prebuilt_table(spark, sf_dir)
    exact = dedup.ngram_jaccard_pairs(
        docs, "text", "doc_id", k=3, threshold=0.8, shingles_df=shingles,
    ).select("id_a", "id_b")
    approx = dedup.minhash_lsh_pairs(
        docs, "text", "doc_id", k=3, threshold=0.8,
        num_perm=num_perm, bands=bands, shingles_df=shingles, portable=True,
    ).select("id_a", "id_b")
    j = exact.withColumn("in_exact", F.lit(1)).join(
        approx.withColumn("in_approx", F.lit(1)),
        ["id_a", "id_b"],
        "full_outer",
    )
    return j.agg(
        F.sum(F.coalesce("in_exact", F.lit(0))).alias("n_exact"),
        F.sum(F.coalesce("in_approx", F.lit(0))).alias("n_approx"),
        F.sum(
            F.when(
                F.col("in_exact").isNotNull()
                & F.col("in_approx").isNotNull(),
                1,
            ).otherwise(0)
        ).alias("tp"),
        F.sum(
            F.when(F.col("in_approx").isNull(), 1).otherwise(0)
        ).alias("fn"),
        F.sum(
            F.when(F.col("in_exact").isNull(), 1).otherwise(0)
        ).alias("fp"),
    ).select(
        "n_exact",
        "n_approx",
        "tp",
        "fn",
        "fp",
        F.when(
            F.col("n_exact") > 0,
            (F.col("tp") * 1_000_000).cast("long") / F.col("n_exact"),
        )
        .otherwise(F.lit(0.0))
        .alias("recall_micro"),
        F.when(
            F.col("n_approx") > 0,
            (F.col("tp") * 1_000_000).cast("long") / F.col("n_approx"),
        )
        .otherwise(F.lit(0.0))
        .alias("precision_micro"),
    )


@query("q137_minhash_eval")  # oracle attached below _minhash_eval_oracle
def q137(spark, sf_dir):
    """:func:`_minhash_eval` at the DEPLOYED sketch config (32, 8)."""
    return _minhash_eval(spark, sf_dir, num_perm=32, bands=8)


def _minhash_eval_oracle(num_perm: int = 64, bands: int = 16) -> str:
    """Fully-oracled twin of the eval report (r5, parameterized r8):
    with the portable MinHash (q177) exactly SQL-expressible at any
    (num_perm, bands), the WHOLE evaluation — exact pair set,
    approximate pair set, full-outer confusion counts, micro-ratio
    metrics — hash-checks, making the sketch-quality gate itself a
    driver-checked number instead of a local pin.  q180 uses the
    library default (64, 16); q137 the deployed point (32, 8)."""
    from .pipeline_queries import _JACCARD_ORACLE, _q177_oracle

    return f"""
    WITH exact AS (SELECT id_a, id_b FROM ({_JACCARD_ORACLE})),
    approx AS (SELECT id_a, id_b FROM ({_q177_oracle(num_perm, bands)})),
    j AS (
      SELECT e.id_a AS ea, a.id_a AS aa
      FROM exact e FULL OUTER JOIN approx a
        ON e.id_a = a.id_a AND e.id_b = a.id_b
    )
    SELECT count(ea) AS n_exact, count(aa) AS n_approx,
           CAST(sum(CASE WHEN ea IS NOT NULL AND aa IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS tp,
           CAST(sum(CASE WHEN aa IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS fn,
           CAST(sum(CASE WHEN ea IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS fp,
           CASE WHEN count(ea) > 0
                THEN (sum(CASE WHEN ea IS NOT NULL AND aa IS NOT NULL
                               THEN 1 ELSE 0 END) * 1000000) / count(ea)
                ELSE 0.0 END AS recall_micro,
           CASE WHEN count(aa) > 0
                THEN (sum(CASE WHEN ea IS NOT NULL AND aa IS NOT NULL
                               THEN 1 ELSE 0 END) * 1000000) / count(aa)
                ELSE 0.0 END AS precision_micro
    FROM j"""


# q137's oracle (r8): the same eval report at the deployed (32, 8)
# operating point — registered here because the builder must exist first
ORACLE_SQL["q137_minhash_eval"] = _minhash_eval_oracle(32, 8)


@query("q180_minhash_eval_portable", _minhash_eval_oracle())
def q180(spark, sf_dir):
    """:func:`_minhash_eval` at the library-default sketch config
    (64, 16) — with q137's deployed (32, 8) point, the two bracket the
    banding trade-off with both rows oracle-checked."""
    return _minhash_eval(spark, sf_dir, num_perm=64, bands=16)


# ---------------------------------------------------------------------------
# One-pass table profile (ANALYZE TABLE shape).
# ---------------------------------------------------------------------------
@query(
    "q138_table_profile",
    """SELECT count(*) AS n_rows,
              count(DISTINCT lang) AS n_langs,
              count(DISTINCT source) AS n_sources,
              CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END)
                   AS BIGINT) AS null_text,
              min(n_chars) AS min_chars,
              max(n_chars) AS max_chars,
              CAST(sum(n_chars) AS BIGINT) AS total_chars
       FROM documents""",
)
def q138(spark, sf_dir):
    """The profiling pass an optimizer (or an engineer) runs before
    planning work on an unknown table: row count, per-column distinct
    cardinalities, null counts, numeric ranges — one scan, one
    aggregate, all integer-exact. Spark executes multi-DISTINCT via
    expand + partial aggregation; at 100 TB swap the exact DISTINCTs
    for q72's HLL sketches (same query shape, bounded memory)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
        F.sum(
            F.when(F.col("text").isNull(), 1).otherwise(0)
        ).alias("null_text"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        F.sum("n_chars").alias("total_chars"),
    )


# ---------------------------------------------------------------------------
# Time-RANGE window frame: interval-bounded running aggregate.
# ---------------------------------------------------------------------------
@query(
    "q139_time_range_window",
    """SELECT event_id, user_id, ts,
              CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER (
                 PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW
              ) AS DOUBLE) AS rolling_1h_value,
              COUNT(*) OVER (
                 PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW
              ) AS rolling_1h_events
       FROM events""",
)
def q139(spark, sf_dir):
    """RANGE (time-interval) window frames — q60's moving sum bounds
    the frame by ROW COUNT; real monitoring wants "the last hour",
    which on an irregular event stream is a different operator. Spark
    expresses it as rangeBetween over the epoch-seconds ordering
    column (micros kept as fractional seconds so sub-second events
    order identically to the oracle's native INTERVAL frame). One
    shuffle on user_id; the frame scan is sort-merge within partition.
    The decimal-exact SUM keeps cross-row float addition
    order-independent as everywhere else."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").cast("double"))
        .rangeBetween(-3600, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        F.sum(F.col("value").cast("decimal(18,6)"))
        .over(w)
        .cast("double")
        .alias("rolling_1h_value"),
        F.count("*").over(w).alias("rolling_1h_events"),
    )


# ---------------------------------------------------------------------------
# Declarative constraint checking — see operators/constraints.py.
# ---------------------------------------------------------------------------
@query(
    "q140_constraint_report",
    """SELECT 'lineitem_pk_not_null' AS rule,
              CAST(sum(CASE WHEN l_orderkey IS NULL OR l_linenumber IS NULL
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_violations
       FROM lineitem
       UNION ALL
       SELECT 'lineitem_qty_positive',
              CAST(sum(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END)
                   AS BIGINT)
       FROM lineitem
       UNION ALL
       SELECT 'lineitem_returnflag_domain',
              CAST(sum(CASE WHEN l_returnflag NOT IN ('A', 'N', 'R')
                            THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem
       UNION ALL
       SELECT 'lineitem_line_unique',
              count(*) FILTER (l_orderkey IS NOT NULL
                               AND l_linenumber IS NOT NULL)
              - count(DISTINCT (l_orderkey, l_linenumber))
       FROM lineitem
       UNION ALL
       SELECT 'orders_pk_unique',
              count(*) FILTER (o_orderkey IS NOT NULL)
              - count(DISTINCT o_orderkey)
       FROM orders
       UNION ALL
       SELECT 'lineitem_orders_fk', count(*)
       FROM lineitem WHERE NOT EXISTS (
         SELECT 1 FROM orders WHERE o_orderkey = l_orderkey)
       UNION ALL
       SELECT 'orders_customer_fk', count(*)
       FROM orders WHERE NOT EXISTS (
         SELECT 1 FROM customer WHERE c_custkey = o_custkey)""",
)
def q140(spark, sf_dir):
    """The post-ingest constraint sweep the reference gets from
    Postgres DDL (PK/NOT NULL/CHECK/ENUM, init.sql:8-33), as explicit
    operators: all row rules fold into ONE scan of lineitem; the two
    FK rules are hash anti-joins (orders key set is the smaller side).
    A publish gate then asserts every n_violations == 0 — and on this
    synthetic corpus the lineitem line-uniqueness rule genuinely FIRES
    (the datagen plants duplicate (orderkey, linenumber) pairs), which
    is exactly the kind of surprise the sweep exists to catch."""
    from .operators import constraints as C

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    row_rules = C.row_rule_report(
        li,
        {
            "lineitem_pk_not_null": F.col("l_orderkey").isNull()
            | F.col("l_linenumber").isNull(),
            "lineitem_qty_positive": F.col("l_quantity") <= 0,
            "lineitem_returnflag_domain": ~F.col("l_returnflag").isin(
                "A", "N", "R"
            ),
        },
    )
    return C.constraint_report(
        row_rules,
        C.unique_key_rule(
            li, ["l_orderkey", "l_linenumber"], "lineitem_line_unique"
        ),
        C.unique_key_rule(orders, ["o_orderkey"], "orders_pk_unique"),
        C.fk_rule(
            li, orders, [("l_orderkey", "o_orderkey")], "lineitem_orders_fk"
        ),
        C.fk_rule(
            orders,
            cust,
            [("o_custkey", "c_custkey")],
            "orders_customer_fk",
            broadcast_parent=True,
        ),
    )


# ---------------------------------------------------------------------------
# Ordered funnel analysis (view -> click -> purchase).
# ---------------------------------------------------------------------------
@query(
    "q141_funnel_counts",
    """WITH v AS (
         SELECT user_id, min(ts) AS t_view FROM events
         WHERE event_type = 'view' GROUP BY user_id),
       c AS (
         SELECT e.user_id, min(e.ts) AS t_click FROM events e
         JOIN v ON e.user_id = v.user_id AND e.ts > v.t_view
         WHERE e.event_type = 'click' GROUP BY e.user_id),
       p AS (
         SELECT e.user_id, min(e.ts) AS t_purchase FROM events e
         JOIN c ON e.user_id = c.user_id AND e.ts > c.t_click
         WHERE e.event_type = 'purchase' GROUP BY e.user_id)
       SELECT (SELECT count(*) FROM v) AS n_view,
              (SELECT count(*) FROM c) AS n_click,
              (SELECT count(*) FROM p) AS n_purchase""",
)
def q141(spark, sf_dir):
    """Ordered-sequence funnel: users who viewed, then clicked AFTER
    the first view, then purchased AFTER that click — the behavioral
    query every event warehouse runs. Three aggregates and two joins,
    ALL keyed on user_id: one hash partitioning serves the entire
    plan (AQE reuses the exchange), so the funnel costs barely more
    than one groupBy at 100 TB. The strictly-ordered semantics (first
    qualifying timestamp per stage) are what window-function funnels
    get wrong when events tie."""
    ev = load_table(spark, sf_dir, "events")
    v = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        ev.where(F.col("event_type") == "click")
        .join(v, "user_id")
        .where(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .where(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    return (
        v.agg(F.count("*").alias("n_view"))
        .crossJoin(c.agg(F.count("*").alias("n_click")))
        .crossJoin(p.agg(F.count("*").alias("n_purchase")))
    )


# ---------------------------------------------------------------------------
# Unpivot (wide measures -> long) + per-measure profile.
# ---------------------------------------------------------------------------
@query(
    "q142_unpivot_measures",
    """WITH long AS (
         SELECT measure, value FROM (
           SELECT l_quantity AS quantity, l_extendedprice AS extendedprice,
                  l_discount AS discount, l_tax AS tax
           FROM lineitem)
         UNPIVOT (value FOR measure IN
                  (quantity, extendedprice, discount, tax)))
       SELECT measure, count(*) AS n,
              min(value) AS min_value, max(value) AS max_value,
              CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
       FROM long GROUP BY measure""",
)
def q142(spark, sf_dir):
    """Wide→long reshape via the native ``unpivot`` (melt) operator —
    the inverse of q21's pivot, closing the reshape pair. Expand is a
    zero-shuffle map (each row emits 4), and the per-measure profile is
    a 4-group aggregate with map-side partials. The decimal-exact sum
    keeps cross-row float addition order-independent."""
    li = load_table(spark, sf_dir, "lineitem")
    long = li.select(
        F.col("l_quantity").alias("quantity"),
        F.col("l_extendedprice").alias("extendedprice"),
        F.col("l_discount").alias("discount"),
        F.col("l_tax").alias("tax"),
    ).unpivot([], ["quantity", "extendedprice", "discount", "tax"],
              "measure", "value")
    return long.groupBy("measure").agg(
        F.count("*").alias("n"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
        F.sum(F.col("value").cast("decimal(18,6)"))
        .cast("double")
        .alias("sum_value"),
    )


# ---------------------------------------------------------------------------
# Full-outer reconciliation (the replica-diff / CDC-compare shape).
# ---------------------------------------------------------------------------
@query(
    "q143_order_reconciliation",
    """SELECT
         CASE WHEN c.c_custkey IS NULL THEN 'order_only'
              WHEN o.o_custkey IS NULL THEN 'customer_only'
              ELSE 'both' END AS presence,
         count(*) AS n
       FROM (SELECT DISTINCT o_custkey FROM orders
             WHERE o_orderpriority = '1-URGENT') o
       FULL OUTER JOIN customer c ON c.c_custkey = o.o_custkey
       GROUP BY 1""",
)
def q143(spark, sf_dir):
    """Full-outer key reconciliation: which customers have orders,
    which don't, and whether any order references a missing customer —
    the side-by-side diff you run when two systems should agree (and
    the set-level complement to q140's FK rule, which only counts one
    direction). One distinct-projection each side, one full-outer hash
    join on the key, three-way presence classification."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    # restrict one side so BOTH asymmetry classes actually occur on the
    # synthetic data (every customer has some order, not every customer
    # has an urgent one)
    o = (
        orders.where(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
        .distinct()
    )
    j = o.join(cust, o.o_custkey == cust.c_custkey, "full_outer")
    presence = (
        F.when(F.col("c_custkey").isNull(), F.lit("order_only"))
        .when(F.col("o_custkey").isNull(), F.lit("customer_only"))
        .otherwise(F.lit("both"))
    )
    return j.groupBy(presence.alias("presence")).agg(
        F.count("*").alias("n")
    )


# ---------------------------------------------------------------------------
# Triangle counting on the supplier co-supply graph.
# ---------------------------------------------------------------------------
_TRI_P = 20  # DOULION edge-sampling: keep 1/20 of edges

@query(
    "q144_supplier_triangles",
    f"""WITH pairs AS (
         SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem),
       e0 AS (
         SELECT DISTINCT a.s AS lo, b.s AS hi
         FROM pairs a JOIN pairs b ON a.p = b.p AND a.s < b.s),
       e AS (
         SELECT lo, hi FROM e0
         WHERE ((lo * 2654435761 + hi * 40503) % 1000003) % {_TRI_P} = 0),
       ab AS (SELECT lo AS a, hi AS b FROM e),
       bc AS (SELECT lo AS b, hi AS c FROM e),
       ac AS (SELECT lo AS a, hi AS c FROM e),
       w AS (SELECT ab.a, ab.b, bc.c FROM ab JOIN bc USING (b)),
       t AS (SELECT w.a, w.b, w.c FROM w JOIN ac USING (a, c))
       SELECT (SELECT count(*) FROM t) AS n_triangles_sampled,
              (SELECT count(*) FROM t) * {_TRI_P ** 3} AS est_triangles,
              (SELECT count(*) FROM e) AS n_edges_sampled,
              (SELECT count(*) FROM w) AS n_wedges""",
)
def q144(spark, sf_dir):
    """Graph-analytics leg 3 (after connected components and PageRank):
    triangle counting on the "suppliers who co-supply a part" graph.
    That projection is DENSE by construction (every part has dozens of
    suppliers → near-complete graph), so the registered query runs the
    published scale recipe for dense graphs — DOULION (Tsourakakis et
    al., KDD'09): sample each edge with probability 1/p via a
    DETERMINISTIC content hash (engine-portable, no RNG — the same md5
    trick as q83's sampler), count triangles exactly on the sparse
    sample with the ordered two-path join, scale by p³ for the
    unbiased estimate. Wall time drops from O(n³) on the clique-like
    full graph to the sample's wedge count; the EXACT operator
    (operators/graph.py::triangle_count, K4-tested) remains the right
    call for naturally sparse graphs like near-dup pair sets.

    The sampling hash is Knuth-style INTEGER mixing, not md5: the
    predicate runs on every candidate pair inside the projection join
    (~9M evaluations at sf0.1), where per-row md5 string hashing was
    the measured dominant cost; integer multiply/mod is exact and
    portable across engines by construction."""
    from .operators.graph import triangle_count

    li = load_table(spark, sf_dir, "lineitem")
    # r12 (guide §2.4): the candidate projection used to be
    # pairs.distinct() self-joined on p — THREE exchanges before the
    # sample (distinct on (p,s), then both join sides re-hashed on p)
    # with the full 9M-row pair blowup materialized through the join.
    # The per-part supplier list is tiny (≤ a few dozen suppliers per
    # part at any scale of TPC-H-shaped data), so build it with ONE
    # map-side-combined collect_set shuffle and expand the ordered
    # pairs IN-EXECUTOR with codegen'd Generates (posexplode + slice)
    # — the market-basket (q150) shape.  sort_array makes slice-after
    # pairs satisfy src < dst exactly like the a.s < b.s join
    # condition, and each (p, src, dst) appears once per part exactly
    # as the distinct-projection join emitted it, so the sampled edge
    # multiset — and every downstream count — is row-identical.
    ps = (
        li.groupBy(F.col("l_partkey").alias("p"))
        .agg(F.sort_array(F.collect_set("l_suppkey")).alias("ss"))
        # spread the quadratic expansion across the session's cores:
        # AQE sizes the collect_set exchange by BYTES and cannot see
        # the downstream b·(b−1)/2 blowup (the q150 lesson; no-op
        # cost relative to the expansion, scale-adaptive by
        # construction)
        .repartition(int(spark.sparkContext.defaultParallelism))
    )
    edges = (
        ps.select(F.posexplode("ss").alias("i", "src"), "ss")
        .select(
            "src",
            F.explode(
                F.slice(F.col("ss"), F.col("i") + 2, F.size("ss"))
            ).alias("dst"),
        )
    )
    keep = (
        (F.col("src") * F.lit(2654435761) + F.col("dst") * F.lit(40503))
        % F.lit(1000003)
        % F.lit(_TRI_P)
        == 0
    )
    # sample BEFORE distinct: the predicate is a pure function of the
    # edge values, so filtering the raw 9M-row expansion first is
    # equivalent to sampling the distinct set — and the dedup shuffle
    # then carries 1/p of the edges
    sampled = edges.where(keep).distinct()
    return triangle_count(sampled).select(
        F.col("n_triangles").alias("n_triangles_sampled"),
        (F.col("n_triangles") * _TRI_P**3).alias("est_triangles"),
        F.col("n_edges").alias("n_edges_sampled"),
        "n_wedges",
    )


# ---------------------------------------------------------------------------
# Grouped exact percentiles (per-language length profile).
# ---------------------------------------------------------------------------
@query(
    "q145_grouped_percentiles",
    """SELECT lang,
              quantile_cont(n_chars, 0.50) AS p50,
              quantile_cont(n_chars, 0.90) AS p90,
              quantile_cont(n_chars, 0.99) AS p99,
              count(*) AS n_docs
       FROM documents GROUP BY lang""",
)
def q145(spark, sf_dir):
    """Per-group exact percentiles — q57 profiles the whole corpus;
    curation thresholds are usually set PER LANGUAGE (a p90 length cut
    that is right for English clips Chinese). Spark's `percentile` is
    an exact sort-based aggregate; one shuffle on the group key. At
    100 TB swap percentile_approx (q87's sketch) into the same shape."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.expr("percentile(n_chars, 0.50)").alias("p50"),
        F.expr("percentile(n_chars, 0.90)").alias("p90"),
        F.expr("percentile(n_chars, 0.99)").alias("p99"),
        F.count("*").alias("n_docs"),
    )


# ---------------------------------------------------------------------------
# Fuzzy string matching (edit-distance join with blocking).
# ---------------------------------------------------------------------------
@query(
    "q146_fuzzy_name_match",
    """WITH names AS (SELECT DISTINCT p_name FROM part),
       b AS (SELECT p_name, string_split(p_name, ' ')[-1] AS blk
             FROM names)
       SELECT x.p_name AS name_a, y.p_name AS name_b,
              levenshtein(x.p_name, y.p_name) AS dist
       FROM b x JOIN b y ON x.blk = y.blk AND x.p_name < y.p_name
       WHERE levenshtein(x.p_name, y.p_name) <= 3""",
)
def q146(spark, sf_dir):
    """Edit-distance entity matching — the data-cleaning join that
    reconciles near-identical names ("red widget" ~ "hot widget").
    NEVER all-pairs: candidates are blocked on the last name token
    (an equi-join), and levenshtein runs only inside blocks — the same
    blocking discipline as every near-dup operator in this engine
    (LSH bands, pigeonhole chunks, posting lists). Distinct-project
    first so the pair space is over unique names, not rows."""
    part = load_table(spark, sf_dir, "part")
    names = part.select("p_name").distinct()
    b = names.withColumn(
        "blk", F.element_at(F.split("p_name", " "), -1)
    )
    x, y = b.alias("x"), b.alias("y")
    return (
        x.join(
            y,
            (F.col("x.blk") == F.col("y.blk"))
            & (F.col("x.p_name") < F.col("y.p_name")),
        )
        .select(
            F.col("x.p_name").alias("name_a"),
            F.col("y.p_name").alias("name_b"),
            F.levenshtein(F.col("x.p_name"), F.col("y.p_name")).alias(
                "dist"
            ),
        )
        .where(F.col("dist") <= 3)
    )


# ---------------------------------------------------------------------------
# Cohort retention (signup week × activity-week offset).
# ---------------------------------------------------------------------------
@query(
    "q147_cohort_retention",
    """WITH cohort AS (
         SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
         FROM events WHERE event_type = 'signup' GROUP BY user_id),
       activity AS (
         SELECT DISTINCT e.user_id, c.cohort_week,
                CAST(floor((epoch(date_trunc('week', e.ts))
                            - epoch(c.cohort_week)) / 604800.0) AS BIGINT)
                  AS week_offset
         FROM events e JOIN cohort c ON e.user_id = c.user_id
         WHERE e.ts >= c.cohort_week)
       SELECT cohort_week, week_offset, count(*) AS n_users
       FROM activity GROUP BY cohort_week, week_offset""",
)
def q147(spark, sf_dir):
    """Cohort retention — the canonical BI matrix: users grouped by
    signup week, counted once per later week of activity. Week offsets
    are integer epoch arithmetic (exact in every engine; no interval
    rounding). Both heavy steps key on user_id — the cohort aggregate
    and the activity join reuse one partitioning — then the matrix
    aggregate is a tiny (weeks × offsets) rollup."""
    ev = load_table(spark, sf_dir, "events")
    cohort = (
        ev.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.date_trunc("week", F.min("ts")).alias("cohort_week"))
    )
    activity = (
        ev.join(cohort, "user_id")
        .where(F.col("ts") >= F.col("cohort_week"))
        .select(
            "user_id",
            "cohort_week",
            F.floor(
                (
                    F.date_trunc("week", F.col("ts")).cast("double")
                    - F.col("cohort_week").cast("double")
                )
                / 604800.0
            ).alias("week_offset"),
        )
        .distinct()
    )
    # DuckDB's date_trunc('week') yields DATE where Spark yields
    # TIMESTAMP — emit DATE so the column types agree
    return (
        activity.groupBy(
            F.col("cohort_week").cast("date").alias("cohort_week"),
            "week_offset",
        ).agg(F.count("*").alias("n_users"))
    )


# ---------------------------------------------------------------------------
# Cross-format image near-dup (PNG vs JPEG of the same picture).
# ---------------------------------------------------------------------------
@query("q148_cross_format_image_dedup")  # rows-only: pixel-level codecs
def q148(spark, sf_dir):
    """The dedup case exact hashing CANNOT solve: the same picture
    stored twice — once lossless (PNG), once lossy (baseline JPEG from
    the real stdlib codec) — has completely different bytes, so
    fingerprint/minhash passes see two distinct documents. The
    perceptual aHash decodes BOTH formats to pixels and hashes the 8×8
    thumbnail, so cross-format copies land within a small Hamming
    radius and the pigeonhole join pairs them. Output: pair histogram
    by (hamming, cross_format) — the cross_format=true rows are the
    wins unique to this operator."""
    from .operators import multimodal

    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    media = multimodal.synthetic_mixed_corpus(docs, group_mod=50)
    pairs = multimodal.image_near_dup_pairs(media, max_hamming=4)
    fmt = lambda c: (F.floor(c / 50) % 2)  # noqa: E731 — corpus format axis
    return (
        pairs.withColumn(
            "cross_format", fmt(F.col("id_a")) != fmt(F.col("id_b"))
        )
        .groupBy("hamming", "cross_format")
        .agg(F.count("*").alias("n_pairs"))
    )


# ---------------------------------------------------------------------------
# True-video modality: AVI/MJPEG container + per-frame JPEG decode.
# ---------------------------------------------------------------------------
@query("q149_mjpeg_frame_sample")  # rows-only: byte-level container+codec
def q149(spark, sf_dir):
    """Video gate over an ACTUAL video container: a deterministic
    AVI/MJPEG corpus (RIFF layout + genuine baseline-JPEG frames, all
    from this repo's stdlib codecs) through the frame sampler — chunk
    walk, every-2nd-frame JPEG entropy decode, integer mean-intensity
    feature. The GIF gate (q130) proved the sampling contract; this one
    proves it on the format family real video pipelines start from
    (MJPEG is the no-inter-frame-prediction case; production swaps
    pyav/H.264 into the identical mapInPandas contract)."""
    from .operators import multimodal

    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    media = multimodal.synthetic_avi_corpus(docs, n_frames=6)
    return multimodal.sample_mjpeg_frames(media, every_n=2).select(
        "doc_id", "frame_idx", "n_frames", "width", "height",
        "delay_cs", "mean_intensity", "decoded",
    )


@query("q206_video_near_dup")  # rows-only: perceptual codec pipeline
def q206(spark, sf_dir):
    """Cross-VIDEO near-duplicate detection: a planted-dup AVI/MJPEG
    corpus (doc_id%25 groups share 4 bitwise-identical body frames;
    each doc appends 0-2 unique trailer frames — the trimmed-outro
    case) through frame-hash signatures: sampled-frame JPEG decode →
    shared gradient_hash64 → the SAME pigeonhole Hamming band join the
    image path uses, over composite frame ids → per-video-pair
    distinct-matched-frame fractions. every_n=1 so trailer frames
    count against match_frac. Emits the per-pair match evidence;
    pair-set correctness (same-group pairing, trailer dilution, no
    cross-group pairs) is pinned in tests/test_video_image.py."""
    from .operators import multimodal

    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    # 40 videos in 8 groups: C(5,2)·8 = 80 pairs — plan-shaped like the
    # image gate (q132) while keeping the Python decode stage bounded
    # size=32 (16 DCT blocks/frame): enough thumbnail entropy that
    # unrelated 4-value block patterns cannot collide at small radii —
    # the 16x16 variant produced cross-group false pairs at Hamming 3
    media = multimodal.synthetic_avi_dup_corpus(
        docs.where(F.col("doc_id") < 40), group_mod=8, size=32
    )
    return multimodal.video_near_dup_pairs(
        media, every_n=1, max_hamming=1, min_match_frac=0.5
    )
