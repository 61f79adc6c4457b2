"""Scale-safe GLOBAL ordered windows (cumulative sums / row numbers /
ntiles) without a single-partition WindowExec.

``Window.orderBy(...)`` with no PARTITION BY is the classic 100×-scale
killer: Spark plans ``Exchange SinglePartition`` and sorts the whole
input on one core.  Fine on a dimension table at sf0.1; fatal on a
fact table on a 1000-executor cluster.  The standard two-pass swap
implemented here:

1. **Range-bucket** rows by an approximate-quantile histogram of a
   numeric prefix of the sort key (one cheap pass; boundaries only
   affect *balance*, never correctness — every row with the same key
   value lands in the same bucket because assignment compares the
   value against fixed boundary literals).
2. **Local pass**: per-bucket running aggregates via
   ``Window.partitionBy(bucket).orderBy(...)`` — a balanced hash
   shuffle on the bucket id, each partition sorts only its slice.
3. **Offset pass**: per-bucket totals (map-side-combined aggregate,
   ≤ ``buckets`` rows) are collected to the driver — metadata-scale,
   like a range partitioner's boundary exchange — turned into an
   EXCLUSIVE prefix (count / weight) per bucket, and broadcast-joined
   back.  ``global = bucket_offset + local``.

Exactness: decimal addition is associative, so bucketed partial sums
followed by the offset add reproduce the single-sequence cumulative
sum bit-for-bit; row numbers are exact because the order columns pin a
TOTAL order (callers must include a unique tiebreak, same discipline
as everywhere else in this engine).

The reference (a Postgres ETL, ``schema/init.sql``) leans on
single-node ORDER BY for such statistics; this module is the
distributed re-expression its reporting queries need at 100 TB.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: column names injected into the caller's frame (dropped by callers
#: after use; underscored to avoid collisions with data columns).
BUCKET = "_sw_bucket"
CUM = "_sw_cum"
RN = "_sw_rn"


def _bucket_expr(range_col: str, bounds: Sequence[float]) -> Column:
    """Bucket id = number of boundaries strictly below the value.

    Rows equal to a boundary all take the LOWER bucket (``> b`` is
    false), so equal sort-key values can never straddle a bucket edge
    — the property that makes the decomposition exact even when the
    histogram is approximate.  NULLs compare unknown → bucket 0, which
    matches ascending NULLS FIRST ordering.
    """
    if not bounds:
        return F.lit(0)
    # one JVM-parsed SQL string instead of per-boundary F.when py4j
    # calls (~250 round trips / ~1 s per 64-bucket column, measured
    # r11 inside q176's construction — the lit_cosine_scores lesson).
    # Identical CaseWhen trees: repr() doubles round-trip exactly.
    terms = " + ".join(
        f"(CASE WHEN `{range_col}` > {float(b)!r}D THEN 1 ELSE 0 END)"
        for b in bounds
    )
    return F.expr(f"0 + {terms}")


def bucket_histogram(
    df: DataFrame,
    range_col: str,
    buckets: int = 64,
    sample_fraction: Optional[float] = None,
) -> list:
    """Approximate-quantile bucket boundaries on ``range_col`` — the
    shared pass-1 of every two-pass operator here.  Boundaries shape
    balance only; see :func:`global_running`."""
    return bucket_histograms(df, [range_col], buckets, sample_fraction)[
        range_col
    ]


def bucket_histograms(
    df: DataFrame,
    range_cols: Sequence[str],
    buckets: int = 64,
    sample_fraction: Optional[float] = None,
) -> dict:
    """Multi-column variant of :func:`bucket_histogram`: ONE
    ``approxQuantile`` job computes every column's boundaries in a
    single scan (the sketch is per-column but the pass is shared) —
    ``{col: sorted bounds}``."""
    k = max(int(buckets), 1)
    qs = [i / k for i in range(1, k)]
    if not qs:
        return {c: [] for c in range_cols}
    src = (
        df.sample(fraction=sample_fraction, seed=42)
        if sample_fraction is not None
        else df
    )
    per_col = src.approxQuantile(list(range_cols), qs, 1.0 / (4 * k))
    return {
        c: sorted(set(bs)) for c, bs in zip(range_cols, per_col)
    }


def uniform_bucket_histograms(
    df: DataFrame, range_cols: Sequence[str], buckets: int = 64
) -> dict:
    """Uniform boundaries between each column's min and max — ONE
    codegen'd min/max aggregate over a column-pruned scan, no quantile
    sketch. The cheapest possible pass-1: boundaries shape BALANCE
    only (``_bucket_expr``'s exactness never depends on them), so a
    skewed column just means more narrowing rounds downstream, never a
    wrong answer. Profile basis: q176's ``approxQuantile`` histogram
    pass cost as much as the count pass itself (6.9 vs 6.7 task-s at
    sf0.1); the min/max twin is a plain whole-stage-codegen aggregate.
    All-NULL or constant columns get no boundaries (single bucket 0,
    same contract as the sampled builder)."""
    k = max(int(buckets), 1)
    aggs = []
    for i, c in enumerate(range_cols):
        aggs.append(F.min(c).alias(f"_sw_mn_{i}"))
        aggs.append(F.max(c).alias(f"_sw_mx_{i}"))
    row = df.agg(*aggs).first()
    out = {}
    for i, c in enumerate(range_cols):
        mn, mx = row[f"_sw_mn_{i}"], row[f"_sw_mx_{i}"]
        if mn is None or mx is None or not mx > mn or k < 2:
            out[c] = []
        else:
            step = (mx - mn) / k
            out[c] = sorted({mn + j * step for j in range(1, k)})
    return out


#: (files+mtimes, col_map, buckets) → bounds memo for
#: :func:`footer_bucket_histograms`.  METADATA memo, not result
#: caching: the value is the per-file parquet footer min/max (the same
#: statistics a catalog's ANALYZE would hold), keyed on every file's
#: mtime_ns so any rewrite invalidates it — the same discipline as the
#: catalog's lazy-plan memo.  Saves the per-call pyarrow footer walk
#: (driver-side, ~0.1–0.3 s per q176 build at sf0.1; O(files) at
#: scale) when the same immutable table is profiled repeatedly in one
#: process.  Bounded to the ``_FOOTER_MEMO_MAX`` most recent keys
#: (oldest evicted first); callers always get a copy, so mutating a
#: returned result never reaches the memo.
_FOOTER_MEMO: dict = {}
_FOOTER_MEMO_MAX = 32


def footer_bucket_histograms(
    df: DataFrame, col_map: dict, buckets: int = 64
) -> Optional[dict]:
    """Pass-1 boundaries from PARQUET FOOTER STATISTICS — no Spark job
    at all: the global min/max of each SOURCE column comes from the
    row-group metadata every parquet writer already stored (the same
    stats that drive file skipping), and uniform boundaries span that
    range. ``col_map`` maps the df's range-column alias → the raw file
    column carrying the stats.

    Returns None (caller falls back to a scan-based builder) when the
    frame isn't a plain file scan, a file lacks stats for a column, or
    pyarrow can't read a footer — correctness never depends on this
    path, it only removes a data pass. At 100 TB this is the design:
    pass-1 cost is O(files) driver-side metadata, not O(rows)."""
    import os

    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    import pyarrow.parquet as pq

    k = max(int(buckets), 1)
    paths = sorted(f.removeprefix("file:") for f in files)
    try:
        memo_key = (
            tuple((p, os.stat(p).st_mtime_ns) for p in paths),
            tuple(sorted(col_map.items())),
            k,
        )
    except OSError:
        memo_key = None
    if memo_key is not None and memo_key in _FOOTER_MEMO:
        return {k: list(v) for k, v in _FOOTER_MEMO[memo_key].items()}
    mins: dict = {c: None for c in col_map}
    maxs: dict = {c: None for c in col_map}
    for path in paths:
        try:
            md = pq.ParquetFile(path).metadata
        except Exception:
            return None
        schema_names = {
            md.schema.column(i).name: i for i in range(md.num_columns)
        }
        for alias, src in col_map.items():
            if src not in schema_names:
                return None
            ci = schema_names[src]
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(ci).statistics
                if st is None or not st.has_min_max:
                    return None
                lo, hi = float(st.min), float(st.max)
                if mins[alias] is None or lo < mins[alias]:
                    mins[alias] = lo
                if maxs[alias] is None or hi > maxs[alias]:
                    maxs[alias] = hi
    out = {}
    for alias in col_map:
        mn, mx = mins[alias], maxs[alias]
        if mn is None or mx is None or not mx > mn or k < 2:
            out[alias] = []
        else:
            step = (mx - mn) / k
            out[alias] = sorted({mn + j * step for j in range(1, k)})
    if memo_key is not None:
        while len(_FOOTER_MEMO) >= _FOOTER_MEMO_MAX:
            _FOOTER_MEMO.pop(next(iter(_FOOTER_MEMO)))
        _FOOTER_MEMO[memo_key] = {k: list(v) for k, v in out.items()}
    return out


def global_running(
    df: DataFrame,
    order_exprs: Sequence[Column],
    range_col: str,
    weight_col: Optional[str] = None,
    buckets: int = 64,
    sample_fraction: Optional[float] = None,
    group_cols: Sequence[str] = (),
) -> tuple[DataFrame, int, object]:
    """Attach global running columns over ``ORDER BY order_exprs``.

    Parameters
    ----------
    df : input frame; should be cheap to recompute or checkpointed by
        the caller (three passes run over it: histogram, totals, main).
    order_exprs : Column sort expressions pinning a TOTAL order (unique
        tiebreak last — same determinism discipline as the rest of the
        engine).
    range_col : name of a NUMERIC column on ``df`` that is monotone in
        the leading sort direction (for DESC ordering pass a negated
        helper column).  Used only for bucket balance.
    weight_col : optional column to cumulative-sum (decimal-safe); adds
        ``CUM``.  ``RN`` (global row_number) is always added.
    buckets : histogram resolution — the parallelism of the sort phase.
    sample_fraction : when set, the boundary histogram is computed on a
        ``df.sample`` of this fraction instead of the full input —
        RangePartitioner's own trick.  Boundaries shape bucket BALANCE
        only, never values, so sampling cannot affect correctness; use
        it on fact-table inputs where a full extra scan is the dominant
        cost.  A degenerate sample just means fewer/skewed buckets
        (less parallelism), still exact.
    group_cols : when non-empty, the running columns restart per group
        (``PARTITION BY group ORDER BY ...``) — for the case where the
        groups themselves are huge (few distinct keys over a fact
        table: exactly where a plain grouped window concentrates each
        whole group in one task).  One shared value histogram buckets
        every group; offsets are computed per (group, bucket).  The
        driver-side offset exchange is ``n_groups × buckets`` rows —
        use this for LOW-cardinality/huge groups; high-cardinality
        small groups don't need it (a plain grouped window already
        parallelizes across keys).  ``n_total``/``weight_total``
        become dicts keyed by the group-value tuple.

    Returns ``(out, n_total, weight_total)``; ``weight_total`` is a
    driver-side value (``decimal.Decimal`` for decimal weights, None
    when ``weight_col`` is None) so callers can inject grand totals
    without another ``Window.partitionBy()`` single-partition pass.
    """
    from pyspark.sql import Window

    spark = df.sparkSession
    k = max(int(buckets), 1)
    # Pass 1 — histogram. Approximate is fine: boundaries shape balance
    # only. relativeError 1/(4k) keeps buckets within ~25% of even.
    bounds = bucket_histogram(df, range_col, k, sample_fraction)

    tagged = df.withColumn(BUCKET, _bucket_expr(range_col, bounds))
    gcols = list(group_cols)

    # Pass 2 — per-(group,)bucket totals (map-side combined; ≤
    # n_groups × k rows out).
    aggs = [F.count(F.lit(1)).alias("_c")]
    w_type: Optional[T.DataType] = None
    if weight_col is not None:
        aggs.append(F.sum(F.col(weight_col)).alias("_s"))
        w_type = tagged.select(F.sum(F.col(weight_col))).schema[0].dataType
    key_cols = gcols + [BUCKET]
    totals = {
        tuple(r[c] for c in key_cols): r
        for r in tagged.groupBy(*key_cols).agg(*aggs).collect()
    }

    def _per_group(reduce_weight: bool):
        acc: dict = {}
        for key, r in totals.items():
            g = key[:-1]
            if reduce_weight:
                if r["_s"] is not None:
                    acc[g] = acc.get(g, 0) + r["_s"]
            else:
                acc[g] = acc.get(g, 0) + r["_c"]
        return acc

    n_by_group = _per_group(False)
    w_by_group = _per_group(True) if weight_col is not None else None
    if gcols:
        n_total: object = n_by_group
        weight_total: object = w_by_group
    else:
        n_total = int(n_by_group.get((), 0))
        weight_total = (
            w_by_group.get((), 0) if weight_col is not None else None
        )

    # Exclusive prefix offsets in (group,) bucket order (driver-side —
    # the same metadata-scale exchange a RangePartitioner performs).
    import decimal

    if isinstance(w_type, T.DecimalType):
        zero: object = decimal.Decimal(0)
    elif isinstance(w_type, (T.DoubleType, T.FloatType)):
        zero = 0.0
    else:
        zero = 0
    rows = []
    run: dict = {}  # group tuple -> (count offset, weight offset)
    # bucket (the last key element) must sort NUMERICALLY — group order
    # is irrelevant (prefixes are per group), repr only disambiguates
    # mixed/None group values
    for key in sorted(totals, key=lambda k: (repr(k[:-1]), k[-1])):
        r = totals[key]
        g = key[:-1]
        run_c, run_s = run.get(g, (0, zero))
        rows.append(
            key + (run_c,) + ((run_s,) if weight_col is not None else ())
        )
        run_c += r["_c"]
        if weight_col is not None and r["_s"] is not None:
            run_s = run_s + r["_s"]
        run[g] = (run_c, run_s)
    fields = [tagged.schema[c] for c in gcols] + [
        T.StructField(BUCKET, T.IntegerType(), False),
        T.StructField("_sw_off_c", T.LongType(), False),
    ]
    if weight_col is not None:
        fields.append(T.StructField("_sw_off_s", w_type, True))
    off = spark.createDataFrame(rows, T.StructType(fields))

    # Pass 3 — balanced local windows + broadcast offset join.
    # eqNullSafe on every key: a NULL group value is a group like any
    # other, and a plain equi-join would silently coalesce its offset
    # to 0 (wrong ranks for every NULL-group row past bucket 0).
    w_local = Window.partitionBy(*key_cols).orderBy(*order_exprs)
    cond = None
    for c in key_cols:
        e = tagged[c].eqNullSafe(off[c])
        cond = e if cond is None else (cond & e)
    out = tagged.join(F.broadcast(off), cond, "left")
    for c in key_cols:
        out = out.drop(off[c])
    out = out.withColumn(
        RN, F.coalesce(F.col("_sw_off_c"), F.lit(0)) + F.row_number().over(w_local)
    )
    if weight_col is not None:
        out = out.withColumn(
            CUM,
            F.coalesce(
                F.col("_sw_off_s"), F.lit(0).cast(w_type)
            )
            + F.sum(F.col(weight_col)).over(w_local),
        )
    return (
        out.drop("_sw_off_c", *(["_sw_off_s"] if weight_col is not None else [])),
        n_total,
        weight_total,
    )


def scale_exact_percentiles(
    df: DataFrame,
    group_col: str,
    value_col: str,
    quantiles: Sequence[float],
    buckets: int = 64,
    sample_fraction: Optional[float] = None,
    task_rows_limit: int = 5_000_000,
    histogram: str = "sample",
) -> dict:
    """Single-column convenience wrapper over
    :func:`scale_exact_percentiles_multi` — returns
    ``{group_value: {q: float_value}}``.  See the multi variant for the
    algorithm, scale analysis, and NULL semantics."""
    return scale_exact_percentiles_multi(
        df,
        group_col,
        {value_col: quantiles},
        buckets=buckets,
        sample_fraction=sample_fraction,
        task_rows_limit=task_rows_limit,
        histogram=histogram,
    )[value_col]


def scale_exact_percentiles_multi(
    df: DataFrame,
    group_col: str,
    value_quantiles: dict,
    buckets: int = 64,
    sample_fraction: Optional[float] = None,
    task_rows_limit: int = 5_000_000,
    histogram: str = "sample",
) -> dict:
    """EXACT linear-interpolation percentiles (SQL ``quantile_cont`` /
    Spark ``percentile``) per group for SEVERAL value columns at once,
    WITHOUT the built-in aggregate's scale trap: Spark's exact
    ``percentile()`` buffers every value of a group inside one
    aggregation buffer — for few huge groups (q57's 3-flag split of the
    fact table) that is a whole-table sort on a handful of tasks and an
    OOM at 100 TB.

    BOUNDARY-BUCKET selection instead — the textbook two-pass recipe,
    with the expensive full-input passes SHARED across value columns
    (one histogram job via multi-column ``approxQuantile``, one joint
    count job; the r4 single-column version re-scanned per column):

    1. sampled histogram → per-column bucket boundaries (balance only);
    2. ONE per-(group, bucket₁…bucketₘ) COUNT (map-side-combined
       aggregate; ``groups × bucketsᵐ`` cells — metadata-scale for the
       m ≤ 2 case this engine uses; for m ≥ 3 the pass automatically
       splits per-column to keep the cell count linear) → the driver
       marginalizes per column, then locates, for each target rank, the
       bucket containing it and that bucket's exclusive rank offset;
    3. per column, ONE more scan that sorts ONLY the candidate buckets
       (~``targets/buckets`` of the data) — never a full-table window
       or shuffle — and returns the ``groups × quantiles × 2`` target
       rows to the driver, where the interpolation
       ``v_lo·(1−d) + v_hi·d`` is evaluated in EXACTLY the operation
       order Spark's ``Percentile`` and DuckDB's ``quantile_cont``
       use (pinned bit-equal to both engines in the q57/q176 oracle
       gates; the algebraically-equal ``lo + d·(hi−lo)`` rounds
       differently).

    ``task_rows_limit`` bounds the terminal single-task sort: candidate
    slices above it narrow ITERATIVELY (re-histogram the pushed value
    range, re-count, descend — log_buckets(n/limit) rounds, each over a
    geometrically shrinking slice), so the operator has no whole-group
    or whole-bucket memory requirement at ANY input size.  Tests force
    a tiny limit to drive multi-round narrowing and pin bit-equality.

    NULL semantics match the engines being twinned: NULL VALUES are
    ignored per column (``percentile``/``quantile_cont`` skip them), so
    two columns of the same row can contribute to different
    populations; a group whose values are ALL NULL in a column is
    absent from that column's result dict (callers needing a NULL row
    for it must outer-join their group domain).  NULL GROUP KEYS are a
    group like any other — they resolve through the narrowing path,
    whose filters use ``isNull`` explicitly, so no null-unsafe
    equi-join ever drops them (the r4 bulk path crashed on them).

    Returns ``{value_col: {group_value: {q: float_value}}}`` —
    metadata-sized by construction; callers build their result frame
    from it.
    """
    import math

    from pyspark.sql import Window

    cols = list(value_quantiles)
    rng = {c: f"_sw_rng_{i}" for i, c in enumerate(cols)}
    bkt = {c: f"{BUCKET}_{i}" for i, c in enumerate(cols)}
    base = df.select(group_col, *cols).select(
        group_col,
        *cols,
        *[F.col(c).cast("double").alias(rng[c]) for c in cols],
    )
    # ``histogram="uniform"`` swaps the sampled approxQuantile pass-1
    # for a min/max aggregate (see uniform_bucket_histograms);
    # ``histogram="footer"`` goes further and reads the min/max from
    # parquet row-group statistics — ZERO data passes for pass-1, with
    # a silent fallback to the aggregate when the input isn't a plain
    # file scan or lacks stats. Same exactness contract in all modes:
    # boundaries shape balance only.
    bounds = None
    if histogram == "footer":
        bounds = footer_bucket_histograms(
            df, {rng[c]: c for c in cols}, buckets
        )
    if bounds is None and histogram in ("uniform", "footer"):
        bounds = uniform_bucket_histograms(
            base, [rng[c] for c in cols], buckets
        )
    if bounds is None:
        bounds = bucket_histograms(
            base, [rng[c] for c in cols], buckets, sample_fraction
        )
    # NULL values take a NULL bucket id: excluded from every marginal
    # count and never equal to a candidate bucket in the bulk join —
    # the built-in aggregates' ignore-NULLs semantics fall out for free
    tagged = base.select(
        "*",
        *[
            F.when(
                F.col(rng[c]).isNotNull(),
                _bucket_expr(rng[c], bounds[rng[c]]),
            ).alias(bkt[c])
            for c in cols
        ],
    )

    # pass 2: joint per-(group, bucket…) counts, marginalized per column
    # on the driver.  groups × buckets^m cells; for m ≥ 3 fall back to
    # per-column passes so the exchange stays linear in `buckets`.
    counts: dict = {c: {} for c in cols}  # col -> g -> bucket -> n
    if len(cols) <= 2:
        for r in (
            tagged.groupBy(group_col, *[bkt[c] for c in cols])
            .count()
            .collect()
        ):
            for c in cols:
                b = r[bkt[c]]
                if b is None:
                    continue  # NULL value: not part of c's population
                gd = counts[c].setdefault(r[group_col], {})
                gd[b] = gd.get(b, 0) + r["count"]
    else:
        for c in cols:
            for r in (
                tagged.where(F.col(bkt[c]).isNotNull())
                .groupBy(group_col, bkt[c])
                .count()
                .collect()
            ):
                counts[c].setdefault(r[group_col], {})[r[bkt[c]]] = r[
                    "count"
                ]

    def _bound(bs, b, lo_v, hi_v):
        lo2 = bs[b - 1] if b > 0 else lo_v
        hi2 = bs[b] if b < len(bs) else hi_v
        return lo2, hi2

    spark = df.sparkSession
    all_want: dict = {}  # col -> g -> q -> (lo, hi, pos)
    all_hits: dict = {}  # col -> (g, rank) -> float value
    all_bulk: dict = {}  # col -> (g, bucket) -> exclusive rank offset
    all_cand: dict = {}  # col -> (g, bucket) -> [offset, {ranks}]
    for value_col in cols:
        quantiles = value_quantiles[value_col]
        col_counts = counts[value_col]
        col_bounds = bounds[rng[value_col]]
        rng_col = rng[value_col]

        # driver: target ranks, their buckets, and bucket rank offsets
        want: dict = {}  # g -> q -> (lo_rank, hi_rank, pos)
        cand: dict = {}  # (g, bucket) -> [exclusive rank offset, {ranks}]
        for g, per_bucket in col_counts.items():
            n = sum(per_bucket.values())
            cum = 0
            offsets = {}  # bucket -> exclusive prefix, in bucket order
            for b in sorted(per_bucket):
                offsets[b] = cum
                cum += per_bucket[b]
            for q in quantiles:
                pos = q * (n - 1)
                lo, hi = math.floor(pos) + 1, math.ceil(pos) + 1
                want.setdefault(g, {})[q] = (lo, hi, pos)
                for rank in (lo, hi):
                    for b in sorted(per_bucket):
                        if offsets[b] < rank <= offsets[b] + per_bucket[b]:
                            cand.setdefault((g, b), [offsets[b], set()])[
                                1
                            ].add(rank)
                            break

        # Candidate buckets that fit one task sort resolve in ONE bulk
        # job; oversized ones (a bucket can hold n/buckets rows — at
        # 100 TB far beyond a task) go through ITERATIVE NARROWING:
        # re-histogram the candidate value range (a pushed range filter
        # on the raw column), re-count, descend into the sub-bucket
        # holding each rank, repeat until the slice fits
        # ``task_rows_limit``.  Depth is log_buckets(n/limit) — 3
        # rounds cover 10^13 rows at 64 buckets — and every round's
        # jobs shrink geometrically.  NULL groups always take this
        # path: its filters are explicitly null-aware, where the
        # combined bulk join below is a plain (null-unsafe) equi-join.
        bulk: dict = {}
        work: list = []  # (g, lo_v, hi_v, off, n_rows, ranks, full_hist)
        for (g, b), (off, ranks) in cand.items():
            if g is not None and col_counts[g][b] <= task_rows_limit:
                bulk[(g, b)] = off
            else:
                lo_v, hi_v = _bound(col_bounds, b, None, None)
                work.append(
                    (g, lo_v, hi_v, off, col_counts[g][b], ranks, False)
                )

        hits = all_hits.setdefault(value_col, {})
        depth = 0
        while work:
            depth += 1
            if depth > 80:  # bisection worst case on double range
                raise RuntimeError(
                    "scale_exact_percentiles: narrowing did not converge"
                )
            nxt = []
            for g, lo_v, hi_v, off, n_rows, ranks, full_hist in work:
                sub = base.where(
                    F.col(group_col).isNull()
                    if g is None
                    else F.col(group_col) == F.lit(g)
                ).where(F.col(rng_col).isNotNull())
                if lo_v is not None:
                    sub = sub.where(F.col(rng_col) > F.lit(lo_v))
                if hi_v is not None:
                    sub = sub.where(F.col(rng_col) <= F.lit(hi_v))
                if n_rows <= task_rows_limit:
                    # exact scan inside the boundary slice: a bounded
                    # single-task sort — the recipe's terminal step
                    w1 = Window.partitionBy(F.lit(1)).orderBy(value_col)
                    got = (
                        sub.withColumn(
                            RN,
                            (F.row_number().over(w1) + F.lit(off)).cast(
                                "long"
                            ),
                        )
                        .where(F.col(RN).isin(*[int(r) for r in ranks]))
                        .select(RN, value_col)
                        .collect()
                    )
                    for r in got:
                        hits[(g, r[RN])] = float(r[value_col])
                    continue
                sb = bucket_histogram(
                    sub,
                    rng_col,
                    buckets,
                    None if full_hist else sample_fraction,
                )
                c2 = None
                if sb:
                    stag = sub.withColumn(
                        BUCKET, _bucket_expr(rng_col, sb)
                    )
                    c2 = {
                        r[BUCKET]: r["count"]
                        for r in stag.groupBy(BUCKET).count().collect()
                    }
                if not sb or (
                    len(c2) == 1 and max(c2.values()) >= n_rows
                ):
                    # degenerate split (sampled histogram missed the
                    # mass, or one value dominates the slice)
                    mm = sub.agg(
                        F.min(rng_col).alias("a"),
                        F.max(rng_col).alias("b"),
                        F.min(value_col).alias("v"),
                    ).first()
                    if mm["a"] == mm["b"]:
                        # the whole slice is ONE value: all ranks resolve
                        for r in ranks:
                            hits[(g, r)] = float(mm["v"])
                        continue
                    if not full_hist:
                        nxt.append(
                            (g, lo_v, hi_v, off, n_rows, ranks, True)
                        )
                        continue
                    # guaranteed progress: bisect the TRUE value range —
                    # both halves are non-empty whenever min < max
                    sb = [(mm["a"] + mm["b"]) / 2.0]
                    stag = sub.withColumn(
                        BUCKET, _bucket_expr(rng_col, sb)
                    )
                    c2 = {
                        r[BUCKET]: r["count"]
                        for r in stag.groupBy(BUCKET).count().collect()
                    }
                cum = off
                for b2 in sorted(c2):
                    b_off = cum
                    cum += c2[b2]
                    rs = {
                        r for r in ranks if b_off < r <= b_off + c2[b2]
                    }
                    if not rs:
                        continue
                    lo2, hi2 = _bound(sb, b2, lo_v, hi_v)
                    nxt.append(
                        (g, lo2, hi2, b_off, c2[b2], rs, c2[b2] >= n_rows)
                    )
            work = nxt

        all_want[value_col] = want
        all_bulk[value_col] = bulk
        all_cand[value_col] = cand

    # ONE combined bulk pass for every column's in-limit candidate
    # buckets: the input scan is shared (r4 ran one bulk job per
    # column).  Each row explodes into m (which-column, bucket, value)
    # triples; the broadcast join against the candidate list keeps only
    # candidate-bucket triples, tiny per-(col, group, bucket) sorts
    # rank them, and a second broadcast semi-join keeps only the
    # groups × quantiles × 2 target ranks.  Values ride as doubles:
    # the interpolation output is float, and two decimals that tie in
    # double also tie in the output, so double ordering is
    # result-exact.  (NULL groups never reach here — narrowing above.)
    if any(all_bulk.values()):
        # Candidate-range PRE-FILTER pushed to the scan (r12, guide
        # §6): the bulk job used to explode EVERY row into m triples
        # and let the broadcast candidate join drop the non-candidates
        # — post-scan, post-explode.  A row can only survive that join
        # if some value column lies inside a candidate bucket's value
        # range, and bucket membership IS a range predicate on the raw
        # double column (bucket b ⟺ bounds[b-1] < v ≤ bounds[b]), so
        # the disjunction of the (merged) candidate ranges goes into a
        # WHERE clause that reaches the parquet scan as a pushed
        # filter (the rng columns are no-op casts of plain doubles in
        # every current caller).  At scale, row-group min/max stats
        # skip the non-candidate slices of pass 3 (~targets/buckets of
        # the data); locally it shrinks the explode+join input.
        # Values are untouched: the exact (group, w, bucket) broadcast
        # join below still decides membership — the pre-filter only
        # removes rows that join would have dropped anyway.
        range_pred = None
        for i, c in enumerate(cols):
            bs = sorted({b for (_g, b) in all_bulk[c]})
            if not bs:
                continue
            col_bounds = bounds[rng[c]]
            runs = []  # merged consecutive candidate buckets
            start = prev_b = bs[0]
            for b in bs[1:]:
                if b == prev_b + 1:
                    prev_b = b
                    continue
                runs.append((start, prev_b))
                start = prev_b = b
            runs.append((start, prev_b))
            v = F.col(rng[c])
            for b1, b2 in runs:
                lo = col_bounds[b1 - 1] if b1 > 0 else None
                hi = col_bounds[b2] if b2 < len(col_bounds) else None
                term = None
                if lo is not None:
                    term = v > F.lit(lo)
                if hi is not None:
                    t2 = v <= F.lit(hi)
                    term = t2 if term is None else (term & t2)
                if term is None:  # no boundaries: one bucket holds all
                    term = v.isNotNull()
                range_pred = (
                    term if range_pred is None else (range_pred | term)
                )
        bulk_src = tagged.where(range_pred) if range_pred is not None else tagged
        cand_rows = sorted(
            (
                (g, i, b, off)
                for i, c in enumerate(cols)
                for (g, b), off in all_bulk[c].items()
            ),
            key=repr,
        )
        cand_df = spark.createDataFrame(
            cand_rows,
            T.StructType(
                [
                    df.schema[group_col],
                    T.StructField("_sw_w", T.IntegerType(), False),
                    T.StructField("_sw_b", T.IntegerType(), False),
                    T.StructField("_sw_off_c", T.LongType(), False),
                ]
            ),
        )
        need_rows = sorted(
            {
                (g, i, r)
                for i, c in enumerate(cols)
                for (g, b), (off, ranks) in all_cand[c].items()
                if (g, b) in all_bulk[c]
                for r in ranks
            },
            key=repr,
        )
        need = spark.createDataFrame(
            need_rows,
            T.StructType(
                [
                    df.schema[group_col],
                    T.StructField("_sw_w", T.IntegerType(), False),
                    T.StructField(RN, T.LongType(), False),
                ]
            ),
        )
        exploded = bulk_src.select(
            group_col,
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(i).alias("_sw_w"),
                            F.col(bkt[c]).alias("_sw_b"),
                            F.col(rng[c]).alias("_sw_val"),
                        )
                        for i, c in enumerate(cols)
                    ]
                )
            ).alias("_sw_x"),
        ).select(group_col, "_sw_x.*")
        w_local = Window.partitionBy(group_col, "_sw_w", "_sw_b").orderBy(
            "_sw_val"
        )
        for r in (
            exploded.join(
                F.broadcast(cand_df), [group_col, "_sw_w", "_sw_b"]
            )
            .withColumn(
                RN,
                (F.col("_sw_off_c") + F.row_number().over(w_local)).cast(
                    "long"
                ),
            )
            .join(F.broadcast(need), [group_col, "_sw_w", RN], "left_semi")
            .select(group_col, "_sw_w", RN, "_sw_val")
            .collect()
        ):
            all_hits[cols[r["_sw_w"]]][(r[group_col], r[RN])] = float(
                r["_sw_val"]
            )

    result: dict = {}
    for value_col in cols:
        hits = all_hits[value_col]
        out: dict = {}
        for g, qs in all_want[value_col].items():
            for q, (lo, hi, pos) in qs.items():
                v_lo = hits[(g, lo)]
                v_hi = hits[(g, hi)]
                # EXACTLY the expression Spark's Percentile and
                # DuckDB's quantile_cont evaluate — lo·(1−d) + hi·d,
                # NOT the algebraically-equal lo + d·(hi−lo), whose
                # different rounding breaks bit-equality (caught by
                # the q170 pin: 14.2475 vs 14.247499999999999)
                d = pos - math.floor(pos)
                out.setdefault(g, {})[q] = v_lo * (1.0 - d) + v_hi * d
        result[value_col] = out
    return result


def ntile_from_rn(rn: Column, n_rows: int, tiles: int) -> Column:
    """SQL ``ntile(tiles)`` reconstructed from a global row number.

    ntile semantics: with ``n = q*tiles + r`` rows, the first ``r``
    tiles take ``q+1`` rows, the rest ``q`` — an integer formula over
    the 1-based global rank, so the scale-safe ``global_running`` rank
    yields bit-identical buckets to the engine built-in.

    The ``/`` divisions run in IEEE double then truncate; correctly
    rounded division of integers a/b can only cross an integer
    boundary when 1/b < half-ulp, i.e. tile sizes beyond ~4·10¹⁵ rows
    — far past any partitionable dataset, so the cast is exact.
    """
    q, r = divmod(int(n_rows), int(tiles))
    big = r * (q + 1)  # rows living in the (q+1)-sized leading tiles
    if q == 0:
        # fewer rows than tiles: tile i is row i
        return rn.cast("int")
    return (
        F.when(rn <= F.lit(big), ((rn - 1) / F.lit(q + 1)).cast("int") + 1)
        .otherwise(F.lit(r) + ((rn - F.lit(big) - 1) / F.lit(q)).cast("int") + 1)
        .cast("int")
    )
