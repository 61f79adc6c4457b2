"""Registry entries, round 3 (cont. 4): classic applied-analytics
surfaces — association rules (market-basket lift), RFM customer
scoring, first-digit (Benford) profiling, per-group z-score outliers,
share-of-total windows, clickstream transition matrices, spatial
proximity joins (grid blocking proven lossless against an all-pairs
oracle), nearest-direction as-of matching, planner diagnostics
(join-cardinality estimation, key-skew report), OHLC resampling bars,
DEFLATE compression-ratio quality screening, and the sequential
recurrences (EWMA / CUSUM) oracled bit-for-bit against recursive CTEs. Integer/decimal-exact
with the single-final-division discipline throughout; every entry but
the zlib one carries a DuckDB twin.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .catalog import load_table
from .operators import text_analysis
from .pipeline_queries import shingle_prebuilt_table
from .registry import ORACLE_SQL, query


# ---------------------------------------------------------------------------
# Market-basket: part-pair co-occurrence with support counts and lift.
# ---------------------------------------------------------------------------
@query(
    "q150_market_basket",
    """WITH items AS (
         SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       n AS (SELECT count(DISTINCT o) AS n_orders FROM items),
       freq AS (SELECT p, count(*) AS c FROM items GROUP BY p),
       pairs AS (
         SELECT a.p AS p_a, b.p AS p_b, count(*) AS n_both
         FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
         GROUP BY a.p, b.p
         HAVING count(*) >= 3)
       SELECT p_a, p_b, n_both, fa.c AS n_a, fb.c AS n_b,
              CAST(n_both AS DOUBLE) * n.n_orders
                / (CAST(fa.c AS BIGINT) * fb.c) AS lift
       FROM pairs
       JOIN freq fa ON fa.p = p_a
       JOIN freq fb ON fb.p = p_b
       CROSS JOIN n""",
)
def q150(spark, sf_dir):
    """Association rules over order baskets: pair support from
    in-basket pair expansion, lift from the broadcast 1-row order
    count and the per-item frequency table.  Numerator and denominator
    stay integers until ONE final double division, so the lift value
    is bit-identical across engines.  See ``market_basket_rules`` for
    the plan."""
    li = load_table(spark, sf_dir, "lineitem")
    return market_basket_rules(li)


def market_basket_rules(
    li,
    min_support: int = 3,
    max_basket: int = 64,
    cap_observation=None,
):
    """q150's plan as a parameterized operator.

    BASKET-ARRAY PLAN (r5): one ``groupBy(order).collect_set`` builds
    each basket as an array — replacing the r3/r4 distinct + order-key
    SELF-JOIN with in-executor pair expansion (a sorted-array HOF:
    ``flatten(transform(ps, (x,i) -> transform(slice(ps, i+2, …),
    y -> (x,y))))``), so the quadratic step never touches the shuffle
    at all.  Four shuffles total (baskets, item frequencies, the r11
    keyless repartition that spreads the quadratic expansion, pair
    counts) vs the r4 plan's five; interleaved 7-round A/B at sf0.1:
    r4 plan 2.51 s median, this plan 2.03 s — level with the unpruned
    r3 plan while also carrying the prune, the cap, and the metric.

    APRIORI LEVEL-1 PRUNE: pair support is bounded by the rarer item's
    frequency, so items with freq < min_support can never appear in a
    surviving pair.  Pruning is ``array_except`` against the
    infrequent-item list (collected to ONE broadcast row — on
    order-like data the infrequent tail is tiny; on a Zipfian corpus
    where the tail dominates, swap to the shuffle form: explode →
    broadcast-anti-join → re-collect_set, same algebra).

    BASKET CAP (results-affecting on non-TPC-H data, so it is a
    PARAMETER, and truncation is OBSERVABLE, r5 per ADVICE): a basket
    of b frequent items expands to b·(b−1)/2 pairs, so one pathological
    10⁵-item basket would emit 5·10⁹ rows from a single task.  TPC-H
    baskets are ≤ 7 lines, so the default cap (64) provably drops
    nothing here and the oracle hash is unchanged; at 100 TB you either
    keep the cap (standard practice: such baskets are bot traffic, not
    signal) or sample within them.  Dropped baskets are counted in an
    ``observe`` metric named ``basket_cap`` — a zero-cost columnar
    metric visible to any QueryExecutionListener / the Spark UI; pass
    a ``pyspark.sql.Observation`` as ``cap_observation`` to read
    ``{'n_capped_baskets': …, 'n_capped_rows': …}`` (both exact)
    programmatically after an action.  No more silent truncation.

    Scale note: ``collect_set`` bounds per-task memory by the largest
    single basket (arrays of item ids — megabytes at 10⁵ items), which
    the cap then drops; a basket too large to even collect is the
    explode→anti-join escape hatch above."""
    MIN_SUPPORT = int(min_support)
    MAX_BASKET = int(max_basket)
    # baskets feed THREE consumers (order count, item frequencies, the
    # pair expansion) — checkpoint once or the fact-table aggregation
    # recomputes per branch.  At cluster scale this is "persist the
    # basket table between stages", the same discipline as dedup.py's
    # shingle checkpoint.
    baskets0 = (
        li.groupBy(F.col("l_orderkey").alias("o"))
        .agg(F.collect_set("l_partkey").alias("ps0"))
        .localCheckpoint(eager=False)
    )
    n_orders = baskets0.agg(F.count(F.lit(1)).alias("n_orders"))
    freq = (
        baskets0.select(F.explode("ps0").alias("p"))
        .groupBy("p")
        .agg(F.count("*").alias("c"))
        .localCheckpoint(eager=False)
    )
    infreq_row = freq.where(F.col("c") < MIN_SUPPORT).agg(
        F.coalesce(F.collect_list("p"), F.array()).alias("bad")
    )
    baskets = baskets0.crossJoin(F.broadcast(infreq_row)).select(
        "o", F.array_except("ps0", "bad").alias("ps")
    )
    cap_metrics = [
        F.count(
            F.when(F.size("ps") > MAX_BASKET, F.lit(1))
        ).alias("n_capped_baskets"),
        F.coalesce(
            F.sum(F.when(F.size("ps") > MAX_BASKET, F.size("ps"))),
            F.lit(0),
        ).alias("n_capped_rows"),
    ]
    baskets = baskets.observe(
        cap_observation if cap_observation is not None else "basket_cap",
        *cap_metrics,
    ).where(F.size("ps") <= MAX_BASKET)
    # Spread the quadratic expansion (r11b, guide §2.5): AQE coalesces
    # the basket exchange by BYTES (a few MB → a handful of tasks) and
    # cannot see that each row then expands to b·(b−1)/2 pairs in the
    # executor — profiled at sf0.1 the whole pair stage ran on 4 tasks
    # (3.9 executor-seconds serialized on 4 cores).  One keyless
    # round-robin repartition of the (order, basket-array) rows to the
    # cluster core count is scale-adaptive by construction and costs a
    # narrow shuffle of the basket table (a single pass over data we
    # already shuffled to build).  A/B at sf0.1: 2.70 → 1.69 s wall,
    # rows identical (downstream sorts/aggregations are keyed; the
    # pair expansion sorts each basket first, so row placement is
    # irrelevant to values).
    baskets = baskets.repartition(
        li.sparkSession.sparkContext.defaultParallelism
    )
    # ascending in-basket pair expansion: sort once, pair each element
    # with its strict successors — each unordered pair built exactly
    # once (same discipline as the triangle counter).  r12 (guide
    # §4.1/§1.2 per-task work): the nested flatten(transform(transform))
    # HOF tree is a CodegenFallback path — every one of the ~b²/2 pair
    # structs per basket ran through the row interpreter AND the whole
    # pair array materialized per row before the explode.  Two chained
    # codegen'd Generates (posexplode the sorted basket, then explode
    # each element's strict-successor slice) stream the identical pair
    # multiset without building the array: same sort, same i+2 slice,
    # so (p_a, p_b) rows are exactly the old explode's output (the
    # q144 rewrite's shape, multiset-pinned there on two SFs).
    pairs = (
        baskets.select(F.array_sort("ps").alias("pss"))
        .select(F.posexplode("pss").alias("i", "p_a"), "pss")
        .select(
            "p_a",
            F.explode(
                F.slice(F.col("pss"), F.col("i") + 2, F.size("pss"))
            ).alias("p_b"),
        )
        .groupBy("p_a", "p_b")
        .agg(F.count("*").alias("n_both"))
        .where(F.col("n_both") >= MIN_SUPPORT)
    )
    fa = freq.select(F.col("p").alias("p_a"), F.col("c").alias("n_a"))
    fb = freq.select(F.col("p").alias("p_b"), F.col("c").alias("n_b"))
    return (
        pairs.join(fa, "p_a")
        .join(fb, "p_b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "p_a",
            "p_b",
            "n_both",
            "n_a",
            "n_b",
            (
                F.col("n_both").cast("double") * F.col("n_orders")
                / (F.col("n_a").cast("bigint") * F.col("n_b"))
            ).alias("lift"),
        )
    )


# ---------------------------------------------------------------------------
# RFM scoring (recency / frequency / monetary quintiles per customer).
# ---------------------------------------------------------------------------
@query(
    "q151_rfm_scores",
    """WITH rfm AS (
         SELECT o_custkey,
                max(o_orderdate) AS last_order,
                count(*) AS frequency,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
                  AS monetary
         FROM orders GROUP BY o_custkey)
       SELECT o_custkey, last_order, frequency, monetary,
              ntile(5) OVER (ORDER BY last_order, o_custkey) AS r_score,
              ntile(5) OVER (ORDER BY frequency, o_custkey) AS f_score,
              ntile(5) OVER (ORDER BY monetary, o_custkey) AS m_score
       FROM rfm""",
)
def q151(spark, sf_dir):
    """RFM segmentation — the marketing-analytics staple. Every ntile
    ordering carries the customer key as the FINAL tiebreak: bare
    `ORDER BY frequency` leaves tied customers' bucket assignment to
    engine whim (and Spark's partial sort order), which is exactly the
    class of nondeterminism this engine bans.

    SCALE-SAFE plan (r4, replaces three single-partition global-ntile
    windows): each score runs ``scalewin.global_running`` for a
    range-bucketed global rank, then ``ntile_from_rn`` rebuilds the
    exact SQL ntile bucket from (rank, n) with integer arithmetic —
    bit-identical to the engine built-in.  The per-customer aggregate
    is localCheckpointed once so the three ranking passes (histogram +
    totals + rank each) don't recompute the orders scan."""
    from .operators.scalewin import RN, global_running, ntile_from_rn

    orders = load_table(spark, sf_dir, "orders")
    rfm = orders.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count("*").alias("frequency"),
        F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
        .cast("double")
        .alias("monetary"),
    ).localCheckpoint(eager=True)

    def score(col: str, range_expr, out_name: str):
        base = rfm.select("o_custkey", col).withColumn("_rng", range_expr)
        ranked, n, _ = global_running(
            base, [F.asc(col), F.asc("o_custkey")], range_col="_rng"
        )
        return ranked.select(
            "o_custkey", ntile_from_rn(F.col(RN), n, 5).alias(out_name)
        )

    r = score("last_order", F.datediff("last_order", F.lit("1970-01-01").cast("date")), "r_score")
    f = score("frequency", F.col("frequency").cast("double"), "f_score")
    m = score("monetary", F.col("monetary"), "m_score")
    return (
        rfm.join(r, "o_custkey")
        .join(f, "o_custkey")
        .join(m, "o_custkey")
        .select(
            "o_custkey",
            "last_order",
            "frequency",
            "monetary",
            "r_score",
            "f_score",
            "m_score",
        )
    )


# ---------------------------------------------------------------------------
# First-digit (Benford) profile — the fraud/anomaly screening pass.
# ---------------------------------------------------------------------------
@query(
    "q152_first_digit_profile",
    """SELECT substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR),
                     1, 1) AS first_digit,
              count(*) AS n,
              CAST(count(*) AS DOUBLE)
                / (SELECT count(*) FROM orders WHERE o_totalprice >= 1)
                AS share
       FROM orders WHERE o_totalprice >= 1
       GROUP BY 1""",
)
def q152(spark, sf_dir):
    """Benford screening: the leading-digit distribution of genuine
    multiplicative quantities follows log10(1+1/d); fabricated numbers
    don't. One scan, nine groups, integer truncation shared with the
    oracle — via an EXPLICIT floor, because the bare double→BIGINT cast
    itself diverges (Spark truncates, DuckDB rounds: 8999.99 lands on
    digit 8 vs 9). The share division is the single final float op
    against a broadcast 1-row total."""
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_totalprice") >= 1
    )
    total = orders.agg(F.count("*").alias("n_total"))
    return (
        orders.select(
            F.substring(
                F.floor("o_totalprice").cast("string"), 1, 1
            ).alias("first_digit")
        )
        .groupBy("first_digit")
        .agg(F.count("*").alias("n"))
        .crossJoin(F.broadcast(total))
        .select(
            "first_digit",
            "n",
            (F.col("n").cast("double") / F.col("n_total")).alias("share"),
        )
    )


# ---------------------------------------------------------------------------
# Per-group z-score outliers (decimal-exact moments).
# ---------------------------------------------------------------------------
@query(
    "q153_outlier_events",
    """WITH m AS (
         SELECT event_type,
                count(*) AS n,
                SUM(CAST(value AS DECIMAL(18,6))) AS s1,
                SUM(CAST(value AS DECIMAL(18,6))
                    * CAST(value AS DECIMAL(18,6))) AS s2
         FROM events GROUP BY event_type)
       SELECT e.event_id, e.event_type, e.value,
              CAST(m.s1 AS DOUBLE) / m.n AS grp_mean
       FROM events e JOIN m ON e.event_type = m.event_type
       WHERE m.n > 1
         AND power(e.value - CAST(m.s1 AS DOUBLE) / m.n, 2)
             > 9.0 * ((CAST(m.s2 AS DOUBLE)
                       - CAST(m.s1 AS DOUBLE) * CAST(m.s1 AS DOUBLE) / m.n)
                      / (m.n - 1))""",
)
def q153(spark, sf_dir):
    """|z| > 3 outliers per event type. Moments accumulate as DECIMAL
    (order-independent — float Σx² flaps under Spark's partial
    aggregation), and the predicate compares SQUARES rather than taking
    a square root: (x-μ)² > 9σ² avoids any sqrt rounding question and
    keeps the Spark/DuckDB float arithmetic step-for-step identical.
    The tiny per-group moment table broadcasts back over the scan —
    same shape as q86's percentile gate."""
    ev = load_table(spark, sf_dir, "events")
    dec = F.col("value").cast("decimal(18,6)")
    m = ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(dec).alias("s1"),
        F.sum(dec * dec).alias("s2"),
    )
    mean = F.col("s1").cast("double") / F.col("n")
    var = (
        F.col("s2").cast("double")
        - F.col("s1").cast("double") * F.col("s1").cast("double") / F.col("n")
    ) / (F.col("n") - 1)
    return (
        ev.join(F.broadcast(m), "event_type")
        .where(
            (F.col("n") > 1)
            & (F.pow(F.col("value") - mean, F.lit(2)) > 9.0 * var)
        )
        .select(
            "event_id",
            "event_type",
            "value",
            mean.alias("grp_mean"),
        )
    )


# ---------------------------------------------------------------------------
# Share-of-total window (ratio_to_report).
# ---------------------------------------------------------------------------
@query(
    "q154_revenue_share",
    """WITH r AS (
         SELECT n_name, r_name,
                SUM(CAST(l_extendedprice * (1 - l_discount)
                         AS DECIMAL(18,6))) AS revenue_dec
         FROM lineitem
         JOIN orders   ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation   ON c_nationkey = n_nationkey
         JOIN region   ON n_regionkey = r_regionkey
         GROUP BY n_name, r_name)
       SELECT n_name, r_name,
              CAST(revenue_dec AS DOUBLE) AS revenue,
              CAST(revenue_dec AS DOUBLE)
                / CAST(SUM(revenue_dec) OVER (PARTITION BY r_name)
                       AS DOUBLE) AS region_share,
              CAST(revenue_dec AS DOUBLE)
                / CAST(SUM(revenue_dec) OVER () AS DOUBLE) AS global_share
       FROM r""",
)
def q154(spark, sf_dir):
    """ratio_to_report: each nation's revenue as a share of its region
    and of the world — the window-over-aggregate reporting shape. The
    aggregate itself is q22's decimal-exact revenue rollup (25 rows);
    the two window sums run over that TINY frame, so the unpartitioned
    global window costs nothing. Shares divide two decimal-exact
    doubles — deterministic; summing shares back to 1.0 is NOT
    guaranteed (float) and deliberately not an output."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    revenue = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name", "r_name")
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount")))
                .cast("decimal(18,6)")
            ).alias("revenue_dec")
        )
    )
    # the WINDOW sums also stay decimal — a double window sum re-adds
    # floats in partition order and diverges from the oracle
    return revenue.select(
        "n_name",
        "r_name",
        F.col("revenue_dec").cast("double").alias("revenue"),
        (
            F.col("revenue_dec").cast("double")
            / F.sum("revenue_dec")
            .over(Window.partitionBy("r_name"))
            .cast("double")
        ).alias("region_share"),
        (
            F.col("revenue_dec").cast("double")
            / F.sum("revenue_dec").over(Window.partitionBy()).cast("double")
        ).alias("global_share"),
    )


# ---------------------------------------------------------------------------
# Clickstream transition matrix (behavioral path analysis).
# ---------------------------------------------------------------------------
@query(
    "q155_event_transitions",
    """WITH seq AS (
         SELECT user_id, event_type,
                lead(event_type) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS next_type
         FROM events)
       SELECT event_type AS from_type, next_type AS to_type,
              count(*) AS n_transitions
       FROM seq WHERE next_type IS NOT NULL
       GROUP BY event_type, next_type""",
)
def q155(spark, sf_dir):
    """First-order Markov transition counts over each user's event
    sequence — the path-analysis matrix behind funnel diagnosis and
    next-action models. One shuffle on user_id for the lead() window,
    then a 25-cell aggregate with map-side partials. The (ts, event_id)
    ordering tiebreak keeps simultaneous events deterministic, as
    everywhere in this engine."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type",
        F.lead("event_type").over(w).alias("next_type"),
    )
    return (
        seq.where(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("from_type"),
            F.col("next_type").alias("to_type"),
        )
        .agg(F.count("*").alias("n_transitions"))
    )


# ---------------------------------------------------------------------------
# Spatial proximity join (grid-cell blocking, integer-exact distance).
# ---------------------------------------------------------------------------
_GEO_R = 5000          # radius (units)
_GEO_CELL = 5000       # cell size >= radius => neighbors span 3x3 cells
_GEO_SPAN = 1_000_000  # planted coordinate range

_GEO_COORDS = f"""
    SELECT c_custkey,
           ('0x' || substr(md5('gx' || c_custkey), 1, 8))::BIGINT
             % {_GEO_SPAN} AS x,
           ('0x' || substr(md5('gy' || c_custkey), 1, 8))::BIGINT
             % {_GEO_SPAN} AS y
    FROM customer
"""

@query(
    "q156_spatial_neighbor_join",
    # ORACLE IS THE NAIVE ALL-PAIRS JOIN: the Spark side must prove its
    # grid blocking LOSSLESS by matching ground truth exactly
    f"""WITH pts AS ({_GEO_COORDS})
        SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
               (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
                 AS dist_sq
        FROM pts a JOIN pts b ON a.c_custkey < b.c_custkey
        WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
              <= {_GEO_R * _GEO_R}""",
)
def q156(spark, sf_dir):
    """Spatial proximity join — points within radius r — by 3×3
    neighbor-cell grid blocking: each point joins only candidates in
    its own and adjacent cells (cell edge ≥ r ⇒ no pair can be missed),
    then the EXACT integer squared-distance filter decides. The
    registered oracle is the naive O(n²) cross join: the driver's
    value-hash comparison therefore PROVES the blocking lossless, not
    just plausible. Coordinates are planted deterministically from the
    customer key (md5-derived integers, shared with the oracle), so
    distance arithmetic is pure BIGINT — no floats, no trig, no
    engine drift. Scale: candidates ≈ 9·n·density instead of n²; the
    explode side carries the 3×3 offsets so the join stays a plain
    equi-join on the cell key."""
    cust = load_table(spark, sf_dir, "customer")
    coord = lambda tag: (  # noqa: E731
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(tag), F.col("c_custkey").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % _GEO_SPAN
    )
    pts = cust.select(
        "c_custkey", coord("gx").alias("x"), coord("gy").alias("y")
    )
    cx = (F.col("x") / _GEO_CELL).cast("bigint")
    cy = (F.col("y") / _GEO_CELL).cast("bigint")
    # probe side: home cell only; build side: home + 8 neighbors
    probe = pts.select(
        F.col("c_custkey").alias("id_a"),
        F.col("x").alias("xa"),
        F.col("y").alias("ya"),
        cx.alias("cx"),
        cy.alias("cy"),
    )
    offsets = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
        ]
    )
    build = (
        pts.select(
            F.col("c_custkey").alias("id_b"),
            F.col("x").alias("xb"),
            F.col("y").alias("yb"),
            cx.alias("bx"),
            cy.alias("by"),
            F.explode(offsets).alias("o"),
        )
        .select(
            "id_b",
            "xb",
            "yb",
            (F.col("bx") + F.col("o.dx")).alias("cx"),
            (F.col("by") + F.col("o.dy")).alias("cy"),
        )
    )
    dist_sq = (F.col("xa") - F.col("xb")) * (F.col("xa") - F.col("xb")) + (
        F.col("ya") - F.col("yb")
    ) * (F.col("ya") - F.col("yb"))
    return (
        probe.join(build, ["cx", "cy"])
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("dist_sq", dist_sq)
        .where(F.col("dist_sq") <= _GEO_R * _GEO_R)
        .select("id_a", "id_b", "dist_sq")
    )


# ---------------------------------------------------------------------------
# Nearest-direction as-of join (oracled via the window formulation).
# ---------------------------------------------------------------------------
@query(
    "q157_nearest_event_match",
    """WITH c AS (
         SELECT user_id, event_id AS click_id, ts AS click_ts
         FROM events WHERE event_type = 'click'),
       p AS (
         SELECT user_id, event_id AS purch_id, ts AS purch_ts
         FROM events WHERE event_type = 'purchase'),
       j AS (
         SELECT c.user_id, c.click_id, c.click_ts,
                p.purch_id, p.purch_ts,
                row_number() OVER (
                  PARTITION BY c.click_id
                  ORDER BY abs(epoch(c.click_ts) - epoch(p.purch_ts)) ASC,
                           CASE WHEN p.purch_ts > c.click_ts
                                THEN 1 ELSE 0 END ASC,
                           p.purch_id DESC) AS rn
         FROM c LEFT JOIN p
           ON c.user_id = p.user_id AND p.purch_ts <> c.click_ts)
       SELECT user_id, click_id, click_ts, purch_id, purch_ts
       FROM j WHERE rn = 1""",
)
def q157(spark, sf_dir):
    """nearest-direction as-of: each click matched to the same user's
    closest purchase in EITHER time direction (equidistant → backward,
    the family's shared rule; the right-column tiebreak is purch_id
    DESC, mirrored literally in the oracle's window). DuckDB's native
    ASOF JOIN is backward-only, so the oracle is the window
    formulation — which doubles as documentation of what the operator
    computes. Uses the relational variant (per-user purchase depth is
    shallow here; asof_join_auto would pick the same)."""
    from .operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("purch_ts"),
        F.col("event_id").alias("purch_id"),
    )
    out = asof_join(
        clicks, purchases, "user_id", "click_ts", "purch_ts", "nearest"
    )
    return out.select(
        "user_id",
        "click_id",
        "click_ts",
        F.col("r_purch_id").alias("purch_id"),
        F.col("r_purch_ts").alias("purch_ts"),
    )


# ---------------------------------------------------------------------------
# Join-cardinality estimation (the planner statistic, as a query).
# ---------------------------------------------------------------------------
@query(
    "q158_join_cardinality",
    """WITH a AS (SELECT l_orderkey AS k, count(*) AS ca
                  FROM lineitem GROUP BY l_orderkey),
         b AS (SELECT o_orderkey AS k, count(*) AS cb
               FROM orders GROUP BY o_orderkey)
       SELECT CAST(SUM(ca * cb) AS BIGINT) AS join_rows,
              CAST(SUM(ca) AS BIGINT) AS left_rows,
              CAST(SUM(cb) AS BIGINT) AS right_rows,
              count(*) AS matching_keys
       FROM a JOIN b USING (k)""",
)
def q158(spark, sf_dir):
    """EXACT join-output cardinality WITHOUT running the join:
    |A ⋈ B| = Σ_k c_A(k)·c_B(k) over per-key counts — the statistic a
    cost-based planner needs to choose broadcast vs shuffle vs skew
    handling, computed from two cheap aggregates and a count-level
    join (never materializing the join itself). At 100 TB the same
    query runs on a stratified key sample or per-key HLL sketches
    (q72's machinery) for a bounded-error estimate; this exact form is
    also the verifier for those estimates."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    a = li.groupBy(F.col("l_orderkey").alias("k")).agg(
        F.count("*").alias("ca")
    )
    b = orders.groupBy(F.col("o_orderkey").alias("k")).agg(
        F.count("*").alias("cb")
    )
    return a.join(b, "k").agg(
        F.sum(F.col("ca") * F.col("cb")).alias("join_rows"),
        F.sum("ca").alias("left_rows"),
        F.sum("cb").alias("right_rows"),
        F.count("*").alias("matching_keys"),
    )


# ---------------------------------------------------------------------------
# Key-skew report (shuffle-planning diagnostics).
# ---------------------------------------------------------------------------
@query(
    "q159_key_skew_report",
    """WITH c AS (SELECT l_suppkey AS k, count(*) AS n
                  FROM lineitem GROUP BY l_suppkey)
       SELECT count(*) AS n_keys,
              min(n) AS min_rows, max(n) AS max_rows,
              CAST(SUM(n) AS BIGINT) AS total_rows,
              CAST(max(n) AS DOUBLE) * count(*)
                / CAST(SUM(n) AS BIGINT) AS skew_factor,
              CAST(SUM(CASE WHEN n * 100 >= (SELECT SUM(n) FROM c)
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_hot_keys
       FROM c""",
)
def q159(spark, sf_dir):
    """The pre-shuffle skew audit: per-key counts folded to
    (max/avg skew factor, hot keys holding ≥1% of all rows). A
    skew_factor near 1 means hash partitions balance; a large one says
    salt the key or lean on AQE's skew-join split BEFORE launching the
    real job. Two aggregates, one 1-row subquery broadcast — the
    cheapest possible look at a question that decides whether a
    100 TB shuffle finishes."""
    li = load_table(spark, sf_dir, "lineitem")
    c = li.groupBy(F.col("l_suppkey").alias("k")).agg(
        F.count("*").alias("n")
    )
    total = c.agg(F.sum("n").alias("grand")).withColumn("_j", F.lit(1))
    return (
        c.withColumn("_j", F.lit(1))
        .join(F.broadcast(total), "_j")
        .agg(
            F.count("*").alias("n_keys"),
            F.min("n").alias("min_rows"),
            F.max("n").alias("max_rows"),
            F.sum("n").alias("total_rows"),
            (
                F.max("n").cast("double")
                * F.count("*")
                / F.sum("n")
            ).alias("skew_factor"),
            F.sum(
                F.when(F.col("n") * 100 >= F.col("grand"), 1).otherwise(0)
            ).alias("n_hot_keys"),
        )
    )


# ---------------------------------------------------------------------------
# OHLC time-series downsampling (hypertable resample bars).
# ---------------------------------------------------------------------------
_BAR = 900  # 15-minute bars

@query(
    "q160_ohlc_bars",
    f"""WITH t AS (
          SELECT user_id, ts, value, event_id,
                 CAST(to_timestamp(CAST(floor(epoch(ts) / {_BAR}) AS BIGINT)
                                   * {_BAR}) AS TIMESTAMP) AS bar_ts
          FROM events),
        w AS (
          SELECT *,
                 row_number() OVER (PARTITION BY user_id, bar_ts
                                    ORDER BY ts, event_id) AS rn_a,
                 row_number() OVER (PARTITION BY user_id, bar_ts
                                    ORDER BY ts DESC, event_id DESC) AS rn_d
          FROM t)
        SELECT user_id, bar_ts,
               max(CASE WHEN rn_a = 1 THEN value END) AS open,
               max(value) AS high,
               min(value) AS low,
               max(CASE WHEN rn_d = 1 THEN value END) AS close,
               count(*) AS n_ticks,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS volume
        FROM w GROUP BY user_id, bar_ts""",
)
def q160(spark, sf_dir):
    """OHLC resampling — the downsampling aggregate every time-series
    store ships (continuous-aggregate fodder for the matview
    machinery). open/close are argmin/argmax over the (epoch, event_id)
    pair, so simultaneous ticks resolve identically in every engine —
    the packed-tiebreak discipline from q134, expressed here as a
    composite ordering struct. Bars come from integer epoch division
    (no interval arithmetic to disagree on); one shuffle on
    (user, bar)."""
    ev = load_table(spark, sf_dir, "events")
    bar_ts = F.timestamp_seconds(
        F.floor(F.col("ts").cast("double") / _BAR).cast("bigint") * _BAR
    )
    order = F.struct(
        F.col("ts").cast("double").alias("e"), F.col("event_id").alias("i")
    )
    return (
        ev.withColumn("bar_ts", bar_ts)
        .groupBy("user_id", "bar_ts")
        .agg(
            F.min_by("value", order).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", order).alias("close"),
            F.count("*").alias("n_ticks"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("volume"),
        )
    )


# ---------------------------------------------------------------------------
# Compression-ratio quality filtering (the gzip-compressibility heuristic).
# ---------------------------------------------------------------------------
@query("q161_compression_quality")  # rows-only: zlib is not SQL-expressible
def q161(spark, sf_dir):
    """DEFLATE-compressibility screening: flag documents whose
    compression ratio falls outside the natural-prose band (templated
    boilerplate compresses too WELL, noise too POORLY) — the signal
    CCNet-class pipelines add on top of token-ratio heuristics.
    Output is the per-band census plus the flags; deterministic (fixed
    zlib level), verified by the planted-text property tests."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    scored = text_analysis.with_compression_ratio(docs)
    band = (
        F.when(F.col("compression_ratio") < 0.25, "too_compressible")
        .when(F.col("compression_ratio") > 0.75, "too_random")
        .otherwise("prose_like")
    )
    return (
        scored.select("doc_id", band.alias("band"))
        .groupBy("band")
        .agg(F.count("*").alias("n_docs"))
    )


# ---------------------------------------------------------------------------
# Sequential recurrences (EWMA / CUSUM) — applyInPandas vs recursive CTE.
# ---------------------------------------------------------------------------
@query(
    "q162_ewma_smoothing",
    """WITH RECURSIVE ord AS (
         SELECT user_id, event_id, ts, value,
                row_number() OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS rn
         FROM events WHERE value IS NOT NULL),
       r AS (
         SELECT user_id, event_id, ts, value, rn,
                value AS ewma
         FROM ord WHERE rn = 1
         UNION ALL
         SELECT o.user_id, o.event_id, o.ts, o.value, o.rn,
                0.5 * o.value + 0.5 * r.ewma
         FROM ord o JOIN r ON o.user_id = r.user_id AND o.rn = r.rn + 1)
       SELECT user_id, event_id, ts, value, ewma FROM r""",
)
def q162(spark, sf_dir):
    """EWMA (α=0.5) per user — a feedback recurrence no window frame
    can express, run as the custom-operator path (applyInPandas linear
    scan per key; see operators/timeseries.py). The oracle is DuckDB's
    recursive CTE executing the IDENTICAL float operation sequence, so
    this rows+hash gate covers a custom stateful operator EXACTLY —
    the first of the stateful family to get a hard oracle rather than
    a batch twin."""
    from .operators.timeseries import ewma

    ev = load_table(spark, sf_dir, "events")
    return ewma(ev, "user_id", "ts", "value", "event_id", alpha=0.5)


@query(
    "q163_cusum_alerts",
    """WITH RECURSIVE ord AS (
         SELECT user_id, event_id, ts, value,
                row_number() OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS rn
         FROM events WHERE value IS NOT NULL),
       r AS (
         SELECT user_id, event_id, ts, value, rn,
                CASE WHEN (value - 10.0) < 0 THEN 0.0
                     ELSE (value - 10.0) END AS cusum,
                (CASE WHEN (value - 10.0) < 0 THEN 0.0
                      ELSE (value - 10.0) END) > 25.0 AS alert
         FROM ord WHERE rn = 1
         UNION ALL
         SELECT o.user_id, o.event_id, o.ts, o.value, o.rn,
                CASE WHEN ((CASE WHEN r.alert THEN 0.0 ELSE r.cusum END)
                           + (o.value - 10.0)) < 0 THEN 0.0
                     ELSE ((CASE WHEN r.alert THEN 0.0 ELSE r.cusum END)
                           + (o.value - 10.0)) END,
                (CASE WHEN ((CASE WHEN r.alert THEN 0.0 ELSE r.cusum END)
                            + (o.value - 10.0)) < 0 THEN 0.0
                      ELSE ((CASE WHEN r.alert THEN 0.0 ELSE r.cusum END)
                            + (o.value - 10.0)) END) > 25.0
         FROM ord o JOIN r ON o.user_id = r.user_id AND o.rn = r.rn + 1)
       SELECT user_id, event_id, ts, value, cusum, alert FROM r""",
)
def q163(spark, sf_dir):
    """One-sided CUSUM change-point detection per user (drift k=10,
    threshold h=25, restart-on-alert) — the max-clamp feedback makes it
    sequential by nature; same applyInPandas execution and
    recursive-CTE oracle discipline as q162. The alert column is the
    monitoring signal (sustained upward level shift in event values);
    at 100 TB the identical state machine runs as the streaming
    transformWithState twin over the same per-key ordering."""
    from .operators.timeseries import cusum

    ev = load_table(spark, sf_dir, "events")
    return cusum(
        ev, "user_id", "ts", "value", "event_id", drift=10.0, threshold=25.0
    )


# ---------------------------------------------------------------------------
# Session journeys (ordered event-type paths per session).
# ---------------------------------------------------------------------------
@query(
    "q164_session_journeys",
    """WITH flagged AS (
         SELECT user_id, event_id, ts, event_type,
                CASE WHEN lag(ts) OVER w IS NULL
                     OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                     THEN 1 ELSE 0 END AS new_session
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
       ), s AS (
         SELECT user_id, event_id, ts, event_type,
                SUM(new_session) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS sid
         FROM flagged
       ), j AS (
         SELECT user_id, sid,
                coalesce(string_agg(event_type, '>' ORDER BY ts, event_id),
                         '') AS journey
         FROM s GROUP BY user_id, sid)
       SELECT journey, count(*) AS n_sessions
       FROM j GROUP BY journey""",
)
def q164(spark, sf_dir):
    """User-journey mining: sessionize (q24's gap rule), then the
    ordered event-type PATH of each session becomes a string key and
    journeys are counted corpus-wide — 'which flows actually happen'
    for product analytics. Ordering inside collect_list is pinned by
    sorting (ts, event_id, type) STRUCTS (collect_list alone is
    partition-order nondeterministic — the exact trap the engine's
    determinism rules exist for). Two shuffles total: user sessions,
    then the journey rollup."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lag_ts = F.lag("ts").over(w)
    new_session = F.when(
        lag_ts.isNull()
        | ((F.col("ts").cast("double") - lag_ts.cast("double")) > 1800),
        1,
    ).otherwise(0)
    s = ev.withColumn("new_session", new_session).withColumn(
        "sid", F.sum("new_session").over(w)
    )
    journeys = (
        s.groupBy("user_id", "sid")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct("ts", "event_id", "event_type")
                        )
                    ),
                    lambda x: x["event_type"],
                ),
                ">",
            ).alias("journey")
        )
    )
    return journeys.groupBy("journey").agg(
        F.count("*").alias("n_sessions")
    )


# ---------------------------------------------------------------------------
# Ensemble dedup: all near-dup signals -> one family clustering.
# ---------------------------------------------------------------------------
# The registered gate q165's MinHash leg runs the PORTABLE md5 family at
# the DEPLOYED operating point (32, 8 — the q166 sweep's knee), so the
# full ensemble closure hash-checks end to end.  q181 is the same census
# at the library default (64, 16); the production xxhash64 leg keeps its
# local recall pins and inherits the banding behaviour
# (hash-family-agnostic, q166).
def _dedup_ensemble(spark, sf_dir, num_perm: int, bands: int):
    """The production dedup posture: no single signal catches every
    duplicate class, so the EDGE UNION of exact-fingerprint pairs,
    n-gram Jaccard pairs, banded MinHash pairs (portable family at
    ``(num_perm, bands)``), and SimHash pairs feeds ONE
    connected-components pass, and a document's family is the
    transitive closure over ALL signals at once. Output is the family
    census (size -> n_families, n_docs_absorbed): the corpus-shrink
    estimate a curation run reports before committing to hard dedup.
    Each leg is the already-audited operator; the union is cheap
    (pairs, not documents) and CC runs once instead of per-signal."""
    from .operators import dedup
    from .operators.graph import connected_components

    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    fp = text_analysis.with_fingerprint(docs).select("doc_id", "fingerprint")
    a, b = fp.alias("a"), fp.alias("b")
    exact_pairs = a.join(
        b,
        (F.col("a.fingerprint") == F.col("b.fingerprint"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
    )
    shingles = shingle_prebuilt_table(spark, sf_dir)
    jac = dedup.ngram_jaccard_pairs(
        docs, "text", "doc_id", k=3, threshold=0.8, shingles_df=shingles,
    ).select("id_a", "id_b")
    mh = dedup.minhash_lsh_pairs(
        docs, "text", "doc_id", k=3, threshold=0.8,
        num_perm=num_perm, bands=bands, shingles_df=shingles, portable=True,
    ).select("id_a", "id_b")
    sh = dedup.simhash_near_pairs(
        docs, "text", "doc_id", max_hamming=3
    ).select("id_a", "id_b")
    edges = (
        exact_pairs.unionByName(jac)
        .unionByName(mh)
        .unionByName(sh)
        .distinct()
    )
    comp = connected_components(edges)
    fam = comp.groupBy("component").agg(F.count("*").alias("family_size"))
    return fam.groupBy("family_size").agg(
        F.count("*").alias("n_families"),
        (F.count("*") * F.col("family_size")).cast("long").alias("n_docs"),
    )


@query("q165_dedup_ensemble")  # oracle attached below _q181_oracle
def q165(spark, sf_dir):
    """:func:`_dedup_ensemble` at the DEPLOYED sketch config (32, 8)."""
    return _dedup_ensemble(spark, sf_dir, num_perm=32, bands=8)


def _q181_oracle(num_perm: int = 64, bands: int = 16) -> str:
    """Transitive-closure ensemble, fully oracled (r5, parameterized
    r8): with the SimHash twin (q34) and the portable MinHash (q177)
    both exact SQL, the ENTIRE production dedup posture — four signal
    families unioned into one connected-components pass — hash-checks
    end to end: edge legs, closure, family census.  Composes the
    existing proven oracle strings as subqueries; the closure uses the
    same recursive-reach pattern as the q61 dup-clusters oracle.
    q181 uses the library default (64, 16); q165 the deployed (32, 8)."""
    from .functions.text import sql_ts_tokens
    from .pipeline_queries import (
        _JACCARD_ORACLE,
        _SIMHASH_ORACLE,
        _q177_oracle,
    )

    return f"""
    WITH RECURSIVE
    jp AS (SELECT id_a, id_b FROM ({_JACCARD_ORACLE})),
    mh AS (SELECT id_a, id_b FROM ({_q177_oracle(num_perm, bands)})),
    shp AS (SELECT id_a, id_b FROM ({_SIMHASH_ORACLE})),
    fpt AS (
      SELECT doc_id,
             md5(coalesce(array_to_string(
                 list_sort({sql_ts_tokens("text")}), ' '), '')) AS fp
      FROM documents
    ),
    ep AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM fpt a JOIN fpt b ON a.fp = b.fp AND a.doc_id < b.doc_id
    ),
    all_pairs AS (
      SELECT id_a, id_b FROM jp UNION SELECT id_a, id_b FROM mh
      UNION SELECT id_a, id_b FROM shp UNION SELECT id_a, id_b FROM ep
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM all_pairs
      UNION SELECT id_b, id_a FROM all_pairs
    ),
    reach AS (
      SELECT src AS node, dst AS r FROM edges
      UNION
      SELECT reach.node, e.dst FROM reach JOIN edges e ON reach.r = e.src
    ),
    comp AS (
      SELECT node, least(node, min(r)) AS component FROM reach GROUP BY node
    ),
    fam AS (
      SELECT component, count(*) AS family_size FROM comp GROUP BY component
    )
    SELECT family_size, count(*) AS n_families,
           (count(*) * family_size)::BIGINT AS n_docs
    FROM fam GROUP BY family_size"""


# q165's oracle (r8): the same ensemble census with the MinHash leg at
# the deployed (32, 8) point — registered here, after the builder exists
ORACLE_SQL["q165_dedup_ensemble"] = _q181_oracle(32, 8)


@query("q181_dedup_ensemble_portable", _q181_oracle())
def q181(spark, sf_dir):
    """:func:`_dedup_ensemble` at the library-default sketch config
    (64, 16); with q165's deployed (32, 8) point, both closures are
    hash-checked against DuckDB."""
    return _dedup_ensemble(spark, sf_dir, num_perm=64, bands=16)


# ---------------------------------------------------------------------------
# MinHash parameter sweep (sketch-tuning harness as data).
# ---------------------------------------------------------------------------
def _q166_oracle() -> str:
    """Fully-oracled sweep (r7, VERDICT r6 #5): with the portable
    MinHash oracle PARAMETERIZED over (num_perm, bands), every row of
    the tuning table — exact ground truth, each candidate's pair set,
    the confusion counts, the micro-ratios — hash-checks.  Banding
    theory (and therefore the knee this sweep locates) is
    hash-family-agnostic, so the portable sweep tunes the production
    xxhash64 config too."""
    from .pipeline_queries import _JACCARD_ORACLE, _q177_oracle

    rows = []
    for num_perm, bands in _Q166_SETTINGS:
        rows.append(
            f"""SELECT {num_perm} AS num_perm, {bands} AS bands,
               count(ea) AS n_exact, count(aa) AS n_approx,
               CAST(sum(CASE WHEN ea IS NOT NULL AND aa IS NOT NULL
                             THEN 1 ELSE 0 END) AS BIGINT) AS tp
        FROM (
          SELECT e.id_a AS ea, a.id_a AS aa
          FROM (SELECT id_a, id_b FROM ({_JACCARD_ORACLE})) e
          FULL OUTER JOIN
               (SELECT id_a, id_b
                FROM ({_q177_oracle(num_perm, bands)})) a
            ON e.id_a = a.id_a AND e.id_b = a.id_b)"""
        )
    union = "\n      UNION ALL ".join(rows)
    return f"""WITH sweep AS (
      {union})
    SELECT num_perm, bands, n_exact, n_approx, tp,
           CASE WHEN n_exact > 0
                THEN (tp * 1000000) / n_exact ELSE 0.0 END AS recall_micro,
           CASE WHEN n_approx > 0
                THEN (tp * 1000000) / n_approx ELSE 0.0 END
             AS precision_micro
    FROM sweep"""


_Q166_SETTINGS = ((64, 16), (64, 8), (32, 8))


@query("q166_minhash_param_sweep", _q166_oracle())
def q166(spark, sf_dir):
    """Sketch-parameter tuning as a QUERY: one exact ground-truth pass,
    then each (num_perm, bands) candidate's recall/precision measured
    against it — the table you read before fixing the sketch config for
    a 100 TB run (q137 is the single-point version; this is the sweep).
    The exact pair set computes ONCE (localCheckpoint) and broadcasts
    into each candidate's comparison join; candidates run from the same
    cached shingle base. Banding theory says recall falls as rows-per-
    band grows — the output shows exactly where this corpus's knee is.

    r7: the sweep runs on the PORTABLE md5 MinHash family (q177), so
    the whole tuning table is oracle-checked; recall-vs-banding is
    hash-family-agnostic, so the knee transfers to the production
    xxhash64 family (whose single-point eval stays rows-only in q137 —
    xxhash64 has no DuckDB twin by construction)."""
    from .operators import dedup

    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    exact = (
        dedup.ngram_jaccard_pairs(
            docs, "text", "doc_id", k=3, threshold=0.8,
            shingles_df=shingle_prebuilt_table(spark, sf_dir),
        )
        .select("id_a", "id_b")
        # EAGER: the lazy variant emits noisy (benign) cleaned-accumulator
        # warnings when the checkpoint is first materialized inside a
        # later multi-job action; the pair set is tiny, so materializing
        # it up front costs nothing
        .localCheckpoint(eager=True)
    )
    out = None
    for num_perm, bands in _Q166_SETTINGS:
        approx = dedup.minhash_lsh_pairs(
            docs, "text", "doc_id",
            k=3, threshold=0.8, num_perm=num_perm, bands=bands,
            shingles_df=shingle_prebuilt_table(spark, sf_dir), portable=True,
        ).select("id_a", "id_b")
        j = exact.withColumn("e", F.lit(1)).join(
            approx.withColumn("a", F.lit(1)), ["id_a", "id_b"], "full_outer"
        )
        row = j.agg(
            F.sum(F.coalesce("e", F.lit(0))).alias("n_exact"),
            F.sum(F.coalesce("a", F.lit(0))).alias("n_approx"),
            F.sum(
                F.when(F.col("e").isNotNull() & F.col("a").isNotNull(), 1)
                .otherwise(0)
            ).alias("tp"),
        ).select(
            F.lit(num_perm).alias("num_perm"),
            F.lit(bands).alias("bands"),
            "n_exact",
            "n_approx",
            "tp",
        ).localCheckpoint(eager=True)  # materialize each setting's 1-row
        # result separately: fusing three sketch lineages into one union
        # action trips Spark's cleaned-accumulator warnings
        out = row if out is None else out.unionByName(row)
    return out.select(
        "num_perm",
        "bands",
        "n_exact",
        "n_approx",
        "tp",
        F.when(
            F.col("n_exact") > 0,
            (F.col("tp") * 1_000_000).cast("long") / F.col("n_exact"),
        ).otherwise(F.lit(0.0)).alias("recall_micro"),
        F.when(
            F.col("n_approx") > 0,
            (F.col("tp") * 1_000_000).cast("long") / F.col("n_approx"),
        ).otherwise(F.lit(0.0)).alias("precision_micro"),
    )


# ---------------------------------------------------------------------------
# Weighted median (exact, cumulative-weight window).
# ---------------------------------------------------------------------------
@query(
    "q167_weighted_median_price",
    """WITH s AS (
         SELECT l_extendedprice AS v,
                SUM(CAST(l_quantity AS DECIMAL(18,6)))
                  OVER (ORDER BY l_extendedprice, l_orderkey, l_linenumber)
                  AS cw,
                SUM(CAST(l_quantity AS DECIMAL(18,6))) OVER () AS tw
         FROM lineitem)
       SELECT min(v) AS weighted_median_price,
              CAST(max(tw) AS DOUBLE) AS total_weight
       FROM s WHERE cw * 2 >= tw""",
)
def q167(spark, sf_dir):
    """EXACT weighted median (price weighted by quantity) — a statistic
    no engine ships built-in: sort by value with the key tiebreak,
    running decimal-exact weight sum, boundary row where cumulative
    weight crosses half the total.

    SCALE-SAFE plan (r4, upgraded r4b to the exact recipe the r3
    docstring promised): sampled price histogram → per-bucket weight
    totals (metadata-scale) → the driver locates the ONE bucket where
    the running weight crosses half the total → one more scan sorts
    ONLY that bucket (~1/64 of the table; never a full-table window or
    shuffle) with the bucket's exclusive weight offset added.  The
    boundary row's value is identical because cumulative weight is
    monotone and all rows of equal price share a bucket; decimal sums
    are associative, so the DuckDB oracle (a literal single-sequence
    window) hashes identically."""
    from pyspark.sql import Window

    from .operators.scalewin import BUCKET, _bucket_expr, bucket_histogram

    li = load_table(spark, sf_dir, "lineitem")
    base = li.select(
        F.col("l_extendedprice").alias("v"),
        F.col("l_orderkey").alias("ok"),
        F.col("l_linenumber").alias("ln"),
        F.col("l_quantity").cast("decimal(18,6)").alias("w"),
    )
    bounds = bucket_histogram(base, "v", 64, sample_fraction=0.05)
    tagged = base.withColumn(BUCKET, _bucket_expr("v", bounds))
    per_bucket = {
        r[BUCKET]: r["s"]
        for r in tagged.groupBy(BUCKET).agg(F.sum("w").alias("s")).collect()
    }
    tw = sum(v for v in per_bucket.values() if v is not None)
    # crossing bucket: first b where 2 * cumulative >= total
    b_star, off = None, 0
    cum = 0
    for b in sorted(per_bucket):
        if per_bucket[b] is None:
            continue
        if 2 * (cum + per_bucket[b]) >= tw and tw > 0:
            b_star, off = b, cum
            break
        cum += per_bucket[b]
    cand = tagged.where(
        F.col(BUCKET) == (b_star if b_star is not None else -1)
    )
    if b_star is not None and bounds:
        # redundant with the bucket filter but expressed on the RAW
        # column, so it reaches the parquet scan as a pushed range
        # predicate — on a layout sorted/z-ordered by price this prunes
        # every non-candidate row group before decode
        if b_star > 0:
            cand = cand.where(F.col("v") > F.lit(bounds[b_star - 1]))
        if b_star < len(bounds):
            # null-safe: NULL prices sort into bucket 0 (NULL > b is
            # unknown -> 0 whens fire); a bare <= would drop them
            cand = cand.where(
                (F.col("v") <= F.lit(bounds[b_star])) | F.col("v").isNull()
            )
    w_local = Window.partitionBy(BUCKET).orderBy("v", "ok", "ln")
    return (
        cand.withColumn("_cw", F.lit(off) + F.sum("w").over(w_local))
        .where(F.col("_cw") * 2 >= F.lit(tw))
        .agg(F.min("v").alias("weighted_median_price"))
        .withColumn("total_weight", F.lit(float(tw)))
    )


# ---------------------------------------------------------------------------
# Gini coefficient (revenue-concentration audit).
# ---------------------------------------------------------------------------
@query(
    "q168_revenue_gini",
    """WITH c AS (
         SELECT o_custkey,
                SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS m
         FROM orders GROUP BY o_custkey),
       r AS (
         SELECT m,
                row_number() OVER (ORDER BY m, o_custkey) AS i,
                count(*) OVER () AS n,
                SUM(m) OVER () AS tot
         FROM c)
       SELECT CAST(2 * SUM(i * m) - (max(n) + 1) * max(tot) AS DOUBLE)
                / CAST(max(n) * max(tot) AS DOUBLE) AS gini,
              max(n) AS n_customers
       FROM r""",
)
def q168(spark, sf_dir):
    """Gini concentration of per-customer revenue — the inequality
    audit run on any distribution before sampling/quota decisions (a
    Gini near 1 says a handful of keys dominate: expect skew handling
    everywhere downstream). Exact rank formulation
    G = (2·Σ i·x(i) − (n+1)·Σx) / (n·Σx) over a PINNED total order
    (monetary, custkey): every sum is decimal-exact and the division
    happens once, on identical operands in both engines.

    SCALE-SAFE plan (r4): the global rank comes from
    ``scalewin.global_running`` (range-bucketed row numbers, no
    single-partition window); n and Σx ride back as driver literals
    from the same bucket-totals pass instead of two more
    ``Window.partitionBy()`` scans."""
    from .operators.scalewin import RN, global_running

    orders = load_table(spark, sf_dir, "orders")
    c = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,6)")).alias("m")
    )
    base = c.withColumn("mr", F.col("m").cast("double"))
    out, n, tot = global_running(
        base,
        [F.asc("m"), F.asc("o_custkey")],
        range_col="mr",
        weight_col="m",
    )
    return out.agg(
        (
            (
                2 * F.sum(F.col(RN) * F.col("m"))
                - (F.lit(n) + 1) * F.lit(tot)
            ).cast("double")
            / (F.lit(n) * F.lit(tot)).cast("double")
        ).alias("gini"),
        F.lit(n).cast("long").alias("n_customers"),
    )


# ---------------------------------------------------------------------------
# Median absolute deviation per group (robust spread).
# ---------------------------------------------------------------------------
@query(
    "q169_mad_by_lang",
    """WITH med AS (
         SELECT lang, quantile_cont(n_chars, 0.5) AS m
         FROM documents GROUP BY lang)
       SELECT d.lang,
              max(med.m) AS median_chars,
              quantile_cont(abs(d.n_chars - med.m), 0.5) AS mad
       FROM documents d JOIN med ON d.lang = med.lang
       GROUP BY d.lang""",
)
def q169(spark, sf_dir):
    """Per-language MAD — the robust spread statistic outlier gates
    should use instead of stddev (q153's z-score breaks down exactly
    when the outliers you hunt contaminate the moments; MAD does not).
    Two grouped exact percentiles: the per-group median broadcasts back
    over the scan (tiny dim), then the median of absolute deviations —
    the same quantile_cont/percentile interpolation parity q145 pinned.

    Stats-driven switch (r5, the q57 discipline): the built-in grouped
    ``percentile()`` buffers each group's values in ONE aggregation
    buffer — the per-group twin of the scale trap q57 closed. Above
    ``_PCTL_BUFFER_SAFE_ROWS`` the plan flips to
    ``scalewin.scale_exact_percentiles`` twice (medians, then MAD of
    the broadcast-joined deviations), pinned bit-equal in
    ``test_scalewin.py``."""
    from .queries_extra import _PCTL_BUFFER_SAFE_ROWS

    docs = load_table(spark, sf_dir, "documents")
    if docs.count() > _PCTL_BUFFER_SAFE_ROWS:
        return q169_scale_plan(spark, docs)
    med = docs.groupBy("lang").agg(
        F.expr("percentile(n_chars, 0.5)").alias("m")
    )
    return (
        docs.join(F.broadcast(med), "lang")
        .groupBy("lang")
        .agg(
            F.max("m").alias("median_chars"),
            F.expr("percentile(abs(n_chars - m), 0.5)").alias("mad"),
        )
    )


def q169_scale_plan(spark, docs):
    """q169's scale path, callable directly so tests pin it bit-equal
    to the built-in on the same input.  Two sequential scale-percentile
    calls — the MAD's input column EXISTS only after the medians are
    known, so the passes cannot be fused."""
    from .operators.scalewin import scale_exact_percentiles

    med = scale_exact_percentiles(
        docs, "lang", "n_chars", [0.5], buckets=32,
        sample_fraction=0.05, histogram="footer",
    )
    med_df = spark.createDataFrame(
        [(g, m[0.5]) for g, m in sorted(med.items())],
        "lang string, m double",
    )
    dev = docs.join(F.broadcast(med_df), "lang").withColumn(
        "_dev", F.abs(F.col("n_chars") - F.col("m"))
    )
    # _dev is a derived column with no footer stats: "footer" mode
    # self-falls-back to the min/max aggregate — one cheap scan
    mad = scale_exact_percentiles(
        dev, "lang", "_dev", [0.5], buckets=32,
        sample_fraction=0.05, histogram="footer",
    )
    return spark.createDataFrame(
        [(g, med[g][0.5], mad[g][0.5]) for g in sorted(med)],
        "lang string, median_chars double, mad double",
    )


# ---------------------------------------------------------------------------
# Tukey IQR-fence outliers per group.
# ---------------------------------------------------------------------------
@query(
    "q170_iqr_outliers",
    """WITH q AS (
         SELECT event_type,
                quantile_cont(value, 0.25) AS p25,
                quantile_cont(value, 0.75) AS p75
         FROM events GROUP BY event_type)
       SELECT e.event_type,
              max(q.p25) AS p25, max(q.p75) AS p75,
              CAST(SUM(CASE WHEN e.value < q.p25 - 1.5 * (q.p75 - q.p25)
                             OR  e.value > q.p75 + 1.5 * (q.p75 - q.p25)
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
              count(*) AS n_events
       FROM events e JOIN q ON e.event_type = q.event_type
       GROUP BY e.event_type""",
)
def q170(spark, sf_dir):
    """Tukey box-plot fences per event type (1.5·IQR beyond the
    quartiles) — the third outlier lens next to moment-based z-scores
    (q153) and MAD (q169); quartile fences are what monitoring
    dashboards actually draw. Quartile dim broadcasts back over the
    scan; fences compare identical float expressions in both engines.

    Stats-driven switch (r5, the q57 discipline): above
    ``_PCTL_BUFFER_SAFE_ROWS`` the quartile dim comes from
    ``scalewin.scale_exact_percentiles`` (both quantiles share one
    histogram/count scan) instead of the built-in's per-group value
    buffer; the fence aggregation is identical either way."""
    from .queries_extra import _PCTL_BUFFER_SAFE_ROWS

    ev = load_table(spark, sf_dir, "events")
    if ev.count() > _PCTL_BUFFER_SAFE_ROWS:
        return q170_scale_plan(spark, ev)
    q = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.25)").alias("p25"),
        F.expr("percentile(value, 0.75)").alias("p75"),
    )
    return _iqr_fences(ev, q)


def q170_scale_plan(spark, ev):
    """q170's scale path, callable directly so tests pin it bit-equal
    to the built-in on the same input."""
    from .operators.scalewin import scale_exact_percentiles

    pct = scale_exact_percentiles(
        ev, "event_type", "value", [0.25, 0.75],
        buckets=32, sample_fraction=0.05, histogram="footer",
    )
    q = ev.sparkSession.createDataFrame(
        [(g, d[0.25], d[0.75]) for g, d in sorted(pct.items())],
        "event_type string, p25 double, p75 double",
    )
    return _iqr_fences(ev, q)


def _iqr_fences(ev, q):
    """Shared fence aggregation: 1.5·IQR Tukey fences from a quartile
    dim frame, broadcast back over the events scan."""
    iqr = F.col("p75") - F.col("p25")
    is_out = (F.col("value") < F.col("p25") - 1.5 * iqr) | (
        F.col("value") > F.col("p75") + 1.5 * iqr
    )
    return (
        ev.join(F.broadcast(q), "event_type")
        .groupBy("event_type")
        .agg(
            F.max("p25").alias("p25"),
            F.max("p75").alias("p75"),
            F.sum(F.when(is_out, 1).otherwise(0)).alias("n_outliers"),
            F.count("*").alias("n_events"),
        )
    )


# ---------------------------------------------------------------------------
# Period-over-period growth (MoM revenue).
# ---------------------------------------------------------------------------
@query(
    "q171_mom_growth",
    """WITH m AS (
         SELECT date_trunc('month', o_orderdate) AS month,
                SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS rev
         FROM orders GROUP BY 1)
       SELECT CAST(month AS DATE) AS month,
              CAST(rev AS DOUBLE) AS revenue,
              CAST(lag(rev) OVER (ORDER BY month) AS DOUBLE) AS prev_revenue,
              CASE WHEN lag(rev) OVER (ORDER BY month) IS NOT NULL
                   THEN CAST(rev AS DOUBLE)
                        / CAST(lag(rev) OVER (ORDER BY month) AS DOUBLE) - 1.0
              END AS growth
       FROM m""",
)
def q171(spark, sf_dir):
    """Month-over-month growth — the period-comparison reporting shape:
    decimal-exact monthly rollup, lag() over the (tiny) month frame,
    one division per row on identical operands. date_trunc('month')
    returns TIMESTAMP in Spark vs DATE-castable in DuckDB — both sides
    emit DATE (the q147 lesson, institutionalized)."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    m = orders.groupBy(
        F.date_trunc("month", "o_orderdate").alias("month")
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(18,6)")).alias("rev"))
    w = Window.orderBy("month")
    prev = F.lag("rev").over(w)
    return m.select(
        F.col("month").cast("date").alias("month"),
        F.col("rev").cast("double").alias("revenue"),
        prev.cast("double").alias("prev_revenue"),
        F.when(
            prev.isNotNull(),
            F.col("rev").cast("double") / prev.cast("double") - 1.0,
        ).alias("growth"),
    )


# ---------------------------------------------------------------------------
# Cumulative unique users by day (the growth-dashboard curve).
# ---------------------------------------------------------------------------
@query(
    "q172_cumulative_uniques",
    """WITH first_seen AS (
         SELECT user_id, CAST(min(ts) AS DATE) AS d
         FROM events GROUP BY user_id),
       per_day AS (
         SELECT d, count(*) AS n_new FROM first_seen GROUP BY d)
       SELECT d, n_new,
              CAST(SUM(n_new) OVER (ORDER BY d) AS BIGINT)
                AS cumulative_users
       FROM per_day""",
)
def q172(spark, sf_dir):
    """Exact cumulative distinct users over time WITHOUT a running
    COUNT(DISTINCT) (which no engine supports as a window): each user
    collapses to a first-seen date, and the cumulative-unique curve is
    a plain running SUM of the per-day first-seen counts — the standard
    rewrite that turns an impossible window into two cheap aggregates.
    Integer counts only; the window frame is days, not users."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.min("ts").cast("date").alias("d")
    )
    per_day = first_seen.groupBy("d").agg(F.count("*").alias("n_new"))
    return per_day.select(
        "d",
        "n_new",
        F.sum("n_new").over(Window.orderBy("d")).alias("cumulative_users"),
    )


# ---------------------------------------------------------------------------
# ABC / Pareto classification (cumulative-share tiers).
# ---------------------------------------------------------------------------
@query(
    "q173_abc_classification",
    """WITH c AS (
         SELECT o_custkey,
                SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS m
         FROM orders GROUP BY o_custkey),
       r AS (
         SELECT o_custkey, m,
                SUM(m) OVER (ORDER BY m DESC, o_custkey) AS cum,
                SUM(m) OVER () AS tot
         FROM c),
       t AS (
         SELECT o_custkey,
                CASE WHEN cum * 10 <= tot * 8 THEN 'A'
                     WHEN cum * 100 <= tot * 95 THEN 'B'
                     ELSE 'C' END AS tier
         FROM r)
       SELECT tier, count(*) AS n_customers FROM t GROUP BY tier""",
)
def q173(spark, sf_dir):
    """ABC (Pareto) customer classification: rank by revenue
    descending (custkey tiebreak), running decimal-exact share, tiers
    at 80% / 95% of total — the inventory/CRM bread-and-butter. The
    tier comparisons are INTEGER-scaled decimal inequalities
    (cum·10 ≤ tot·8), so the class boundary cannot drift on float
    rounding in either engine.

    SCALE-SAFE plan (r4): the descending running revenue comes from
    ``scalewin.global_running`` over a negated range helper (so the
    ascending bucket histogram tracks the DESC order); the grand total
    is the bucket-totals literal — no single-partition window."""
    from .operators.scalewin import CUM, global_running

    orders = load_table(spark, sf_dir, "orders")
    c = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,6)")).alias("m")
    )
    base = c.withColumn("negm", -F.col("m").cast("double"))
    out, _n, tot = global_running(
        base,
        [F.desc("m"), F.asc("o_custkey")],
        range_col="negm",
        weight_col="m",
    )
    tier = (
        F.when(F.col(CUM) * 10 <= F.lit(tot) * 8, "A")
        .when(F.col(CUM) * 100 <= F.lit(tot) * 95, "B")
        .otherwise("C")
    )
    return out.select(tier.alias("tier")).groupBy("tier").agg(
        F.count("*").alias("n_customers")
    )


# ---------------------------------------------------------------------------
# Inter-arrival gap histogram (traffic-shape diagnostics).
# ---------------------------------------------------------------------------
@query(
    "q174_interarrival_histogram",
    """WITH g AS (
         SELECT epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id
                                                ORDER BY ts, event_id))
                  AS gap_s
         FROM events),
       b AS (
         SELECT CASE WHEN gap_s < 60 THEN '0_under_1m'
                     WHEN gap_s < 600 THEN '1_1m_to_10m'
                     WHEN gap_s < 1800 THEN '2_10m_to_30m'
                     WHEN gap_s < 7200 THEN '3_30m_to_2h'
                     ELSE '4_over_2h' END AS bucket
         FROM g WHERE gap_s IS NOT NULL)
       SELECT bucket, count(*) AS n_gaps FROM b GROUP BY bucket""",
)
def q174(spark, sf_dir):
    """Inter-arrival-time histogram per user stream — the diagnostic
    that justifies session-gap and watermark choices with data instead
    of folklore (the 30-minute session rule and the 2-hour watermark
    both come from where THIS distribution's mass sits). One window
    shuffle for the lag, fixed log-spaced buckets, integer counts."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("double") - F.lag("ts").over(w).cast("double")
    bucket = (
        F.when(gap < 60, "0_under_1m")
        .when(gap < 600, "1_1m_to_10m")
        .when(gap < 1800, "2_10m_to_30m")
        .when(gap < 7200, "3_30m_to_2h")
        .otherwise("4_over_2h")
    )
    return (
        ev.select(gap.alias("gap_s"), bucket.alias("bucket"))
        .where(F.col("gap_s").isNotNull())
        .groupBy("bucket")
        .agg(F.count("*").alias("n_gaps"))
    )


# ---------------------------------------------------------------------------
# Dormancy / reactivation census (churn analytics).
# ---------------------------------------------------------------------------
_DORMANT_S = 7 * 86400  # a week of silence = dormancy

@query(
    "q175_reactivation_census",
    f"""WITH g AS (
          SELECT user_id,
                 epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id
                                                 ORDER BY ts, event_id))
                   AS gap_s
          FROM events),
        per_user AS (
          SELECT user_id,
                 CAST(SUM(CASE WHEN gap_s > {_DORMANT_S} THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_reactivations
          FROM g GROUP BY user_id)
        SELECT n_reactivations, count(*) AS n_users
        FROM per_user GROUP BY n_reactivations""",
)
def q175(spark, sf_dir):
    """Churn-and-return census: a reactivation is any per-user silence
    longer than the dormancy window followed by new activity — counted
    from the same lag-gap machinery as q174, rolled up per user, then
    into the (reactivation count → users) distribution a retention
    team tracks. One window shuffle, two cheap aggregates."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("double") - F.lag("ts").over(w).cast("double")
    per_user = (
        ev.select("user_id", gap.alias("gap_s"))
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(F.col("gap_s") > _DORMANT_S, 1).otherwise(0)
            ).alias("n_reactivations")
        )
    )
    return per_user.groupBy("n_reactivations").agg(
        F.count("*").alias("n_users")
    )
