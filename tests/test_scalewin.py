"""Scale-safe global window decomposition (`operators/scalewin.py`):

1. equivalence — `global_running` / `ntile_from_rn` must reproduce the
   single-partition `Window.orderBy(...)` built-ins bit-for-bit
   (including decimal cumulative sums and ntile's uneven buckets);
2. plan pins — the four reporting queries rewritten onto it in r4
   (q167 / q151 / q168 / q173) must contain NO window over an empty
   partition spec: every WindowExec partitions by the range bucket, so
   the sort parallelism scales with the bucket count, not 1.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from mtg_bulk_database_spark.operators.scalewin import (
    BUCKET,
    CUM,
    RN,
    global_running,
    ntile_from_rn,
)
from mtg_bulk_database_spark.plans import executed_plan
from mtg_bulk_database_spark.registry import load_registry

QUERIES, _ = load_registry()
SF_DIR = "/root/testdata/sf0.01"


def _mixed_frame(spark, n=997):
    # deterministic, tie-heavy values: v repeats every 13, weight decimal
    return spark.range(n).select(
        F.col("id"),
        (F.col("id") % 13).cast("double").alias("v"),
        ((F.col("id") * 7) % 5 + 1).cast("decimal(18,6)").alias("w"),
    )


def test_global_cumsum_matches_single_partition_window(spark):
    df = _mixed_frame(spark)
    out, n, tot = global_running(
        df, [F.asc("v"), F.asc("id")], range_col="v", weight_col="w", buckets=8
    )
    got = {
        r["id"]: (r[RN], r[CUM])
        for r in out.select("id", RN, CUM).collect()
    }
    w = Window.orderBy("v", "id")
    exp = {
        r["id"]: (r["rn"], r["cum"])
        for r in df.select(
            "id",
            F.row_number().over(w).alias("rn"),
            F.sum("w").over(w).alias("cum"),
        ).collect()
    }
    assert n == 997
    assert got == exp
    assert tot == sum((i * 7) % 5 + 1 for i in range(997))


def test_global_running_desc_order(spark):
    df = _mixed_frame(spark, 300).withColumn("negv", -F.col("v"))
    out, _, _ = global_running(
        df, [F.desc("v"), F.asc("id")], range_col="negv", weight_col="w", buckets=8
    )
    w = Window.orderBy(F.desc("v"), F.asc("id"))
    exp = {
        r["id"]: r["rn"]
        for r in df.select("id", F.row_number().over(w).alias("rn")).collect()
    }
    got = {r["id"]: r[RN] for r in out.select("id", RN).collect()}
    assert got == exp


@pytest.mark.parametrize("n_rows", [3, 5, 7, 100, 101, 104])
def test_ntile_formula_matches_builtin(spark, n_rows):
    df = spark.range(n_rows).select(
        F.col("id"), (F.col("id") % 9).cast("double").alias("v")
    )
    out, n, _ = global_running(df, [F.asc("v"), F.asc("id")], range_col="v", buckets=4)
    got = {
        r["id"]: r["t"]
        for r in out.select(
            "id", ntile_from_rn(F.col(RN), n, 5).alias("t")
        ).collect()
    }
    exp = {
        r["id"]: r["t"]
        for r in df.select(
            "id", F.ntile(5).over(Window.orderBy("v", "id")).alias("t")
        ).collect()
    }
    assert got == exp


def test_empty_input(spark):
    df = spark.range(0).select(
        F.col("id"), F.col("id").cast("double").alias("v"),
        F.col("id").cast("decimal(18,6)").alias("w"),
    )
    out, n, tot = global_running(
        df, [F.asc("v"), F.asc("id")], range_col="v", weight_col="w"
    )
    assert out.count() == 0 and n == 0 and tot == 0


@pytest.mark.parametrize(
    "qname",
    [
        "q167_weighted_median_price",
        "q151_rfm_scores",
        "q168_revenue_gini",
        "q173_abc_classification",
    ],
)
def test_no_single_partition_window(spark, qname):
    # every Window in the plan must partition by the range bucket —
    # the r3 plans had `Window [...], [], [... ASC]` (empty partition
    # spec → Exchange SinglePartition → one-core sort of the input)
    spark.catalog.clearCache()
    df = QUERIES[qname](spark, SF_DIR)
    plan = executed_plan(df)
    win_lines = [ln for ln in plan.splitlines() if "Window " in ln]
    assert win_lines, f"{qname}: expected windowed plan, got none"
    for ln in win_lines:
        assert BUCKET in ln, f"{qname}: window without bucket partition: {ln}"


def test_constant_range_col_degenerates_safely(spark):
    # worst-case skew: every row has the same range value -> ONE bucket
    # (a single local window). Correctness must hold; parallelism is
    # what degrades — which is the documented trade, not a wrong answer.
    df = spark.range(500).select(
        F.col("id"), F.lit(1.0).alias("v"),
        (F.col("id") % 3 + 1).cast("decimal(18,6)").alias("w"),
    )
    out, n, tot = global_running(
        df, [F.asc("id")], range_col="v", weight_col="w", buckets=16
    )
    rows = {r["id"]: (r[RN], r[CUM]) for r in out.collect()}
    assert n == 500
    running = 0
    import decimal
    cum = decimal.Decimal(0)
    for i in range(500):
        running += 1
        cum += decimal.Decimal(i % 3 + 1)
        assert rows[i][0] == running
        assert rows[i][1] == cum
    assert tot == cum


def test_grouped_running_matches_grouped_window(spark):
    df = _mixed_frame(spark, 600).withColumn("g", (F.col("id") % 3).cast("string"))
    out, n_by_g, w_by_g = global_running(
        df, [F.asc("v"), F.asc("id")], range_col="v", weight_col="w",
        buckets=8, group_cols=["g"],
    )
    got = {r["id"]: (r[RN], r[CUM]) for r in out.select("id", RN, CUM).collect()}
    w = Window.partitionBy("g").orderBy("v", "id")
    exp = {
        r["id"]: (r["rn"], r["cum"])
        for r in df.select(
            "id",
            F.row_number().over(w).alias("rn"),
            F.sum("w").over(w).alias("cum"),
        ).collect()
    }
    assert got == exp
    assert sum(n_by_g.values()) == 600 and set(n_by_g) == {("0",), ("1",), ("2",)}
    assert sum(w_by_g.values()) == sum((i * 7) % 5 + 1 for i in range(600))


def test_scale_percentile_path_matches_builtin_bitwise(spark):
    # the q57 plan switch is pure plan choice: the two-pass rank
    # selection must reproduce the built-in percentile() (and thus the
    # DuckDB quantile_cont oracle) BIT-FOR-BIT on the same input
    from mtg_bulk_database_spark.catalog import load_table
    from mtg_bulk_database_spark.queries_extra import (
        scale_exact_percentile_plan,
    )

    li = load_table(spark, SF_DIR, "lineitem")
    builtin = {
        r["l_returnflag"]: tuple(r)[1:]
        for r in li.groupBy("l_returnflag")
        .agg(
            F.expr("percentile(l_quantity, 0.25)").alias("p25"),
            F.expr("percentile(l_quantity, 0.50)").alias("p50"),
            F.expr("percentile(l_quantity, 0.75)").alias("p75"),
            F.expr("percentile(l_extendedprice, 0.9)").alias("price_p90"),
        )
        .collect()
    }
    scale = {
        r["l_returnflag"]: tuple(r)[1:]
        for r in scale_exact_percentile_plan(spark, li).collect()
    }
    assert builtin == scale  # exact float equality, not approx


# ---------------------------------------------------------------------------
# Property fuzz: random tie-heavy data, random bucket counts — the
# decomposition must equal the single-partition window EXACTLY every
# time (pure-Python reference avoids a Spark job per example).
# ---------------------------------------------------------------------------
from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=12, deadline=None)
@given(
    n=st.integers(min_value=1, max_value=200),
    mod=st.integers(min_value=1, max_value=20),
    buckets=st.integers(min_value=1, max_value=32),
    tiles=st.integers(min_value=1, max_value=9),
    seed=st.integers(min_value=0, max_value=10_000),
)
@pytest.mark.slow
def test_fuzz_rank_and_ntile(spark, n, mod, buckets, tiles, seed):
    df = spark.range(n).select(
        F.col("id"),
        ((F.col("id") * (seed % 97 + 1)) % mod).cast("double").alias("v"),
    )
    out, total, _ = global_running(
        df, [F.asc("v"), F.asc("id")], range_col="v", buckets=buckets
    )
    got = {
        r["id"]: (r[RN], r["t"])
        for r in out.select(
            "id", RN, ntile_from_rn(F.col(RN), total, tiles).alias("t")
        ).collect()
    }
    # pure-python reference
    vals = sorted(((i * (seed % 97 + 1)) % mod, i) for i in range(n))
    q, rem = divmod(n, tiles)
    exp = {}
    for rank0, (_, i) in enumerate(vals):
        rn = rank0 + 1
        if q == 0:
            t = rn
        elif rn <= rem * (q + 1):
            t = (rn - 1) // (q + 1) + 1
        else:
            t = rem + (rn - rem * (q + 1) - 1) // q + 1
        exp[i] = (rn, t)
    assert total == n and got == exp


@pytest.mark.slow
def test_scale_percentile_iterative_narrowing(spark):
    # a tiny task_rows_limit forces multi-round narrowing (the path a
    # 100 TB bucket takes): bit-equal to the built-in regardless
    from mtg_bulk_database_spark.catalog import load_table
    from mtg_bulk_database_spark.operators.scalewin import (
        scale_exact_percentiles,
    )

    li = load_table(spark, SF_DIR, "lineitem")
    builtin = {
        r["l_returnflag"]: (r["p25"], r["p90"])
        for r in li.groupBy("l_returnflag")
        .agg(
            F.expr("percentile(l_quantity, 0.25)").alias("p25"),
            F.expr("percentile(l_extendedprice, 0.9)").alias("p90"),
        )
        .collect()
    }
    qty = scale_exact_percentiles(
        li, "l_returnflag", "l_quantity", [0.25],
        buckets=4, task_rows_limit=50,
    )
    price = scale_exact_percentiles(
        li, "l_returnflag", "l_extendedprice", [0.9],
        buckets=4, task_rows_limit=50,
    )
    got = {g: (qty[g][0.25], price[g][0.9]) for g in builtin}
    assert got == builtin  # exact float equality


def test_scale_percentile_massive_tie_narrows(spark):
    # one value holding >90% of a huge "bucket" defeats quantile
    # histograms — the bisection fallback must still converge exactly
    from mtg_bulk_database_spark.operators.scalewin import (
        scale_exact_percentiles,
    )

    df = spark.range(2000).select(
        F.lit("g").alias("g"),
        F.when(F.col("id") < 1800, F.lit(42.0))
        .otherwise(F.col("id").cast("double") / 7.0)
        .alias("v"),
    )
    exp = {
        r["g"]: r["p"]
        for r in df.groupBy("g")
        .agg(F.expr("percentile(v, 0.97)").alias("p"))
        .collect()
    }
    got = scale_exact_percentiles(
        df, "g", "v", [0.97], buckets=4, task_rows_limit=20
    )
    assert got["g"][0.97] == exp["g"]


@pytest.mark.slow
def test_scale_percentile_null_group_and_null_values(spark):
    # ADVICE r4: NULL group keys crashed the bulk path (null-unsafe
    # equi-join left their ranks unjoined -> KeyError), and NULL values
    # were counted/ranked where percentile()/quantile_cont ignore them.
    # Both semantics now match the built-in exactly.
    from mtg_bulk_database_spark.operators.scalewin import (
        scale_exact_percentiles,
    )

    df = spark.range(900).select(
        F.when(F.col("id") % 3 == 0, None)
        .otherwise((F.col("id") % 3).cast("string"))
        .alias("g"),
        # every 7th value NULL: percentile must skip them
        F.when(F.col("id") % 7 == 0, None)
        .otherwise((F.col("id") % 101).cast("double"))
        .alias("v"),
    )
    exp = {
        r["g"]: (r["p25"], r["p80"])
        for r in df.groupBy("g")
        .agg(
            F.expr("percentile(v, 0.25)").alias("p25"),
            F.expr("percentile(v, 0.80)").alias("p80"),
        )
        .collect()
    }
    for task_rows_limit in (5_000_000, 40):  # bulk path AND narrowing
        got = scale_exact_percentiles(
            df, "g", "v", [0.25, 0.80], buckets=4,
            task_rows_limit=task_rows_limit,
        )
        assert {g: (d[0.25], d[0.80]) for g, d in got.items()} == exp


def test_scale_percentile_all_null_group_absent(spark):
    # a group whose values are ALL NULL has no percentile population:
    # documented to be absent from the result dict
    from mtg_bulk_database_spark.operators.scalewin import (
        scale_exact_percentiles,
    )

    df = spark.range(100).select(
        (F.col("id") % 2 == 0).cast("string").alias("g"),
        F.when(F.col("id") % 2 == 0, F.col("id").cast("double")).alias("v"),
    )
    got = scale_exact_percentiles(df, "g", "v", [0.5], buckets=4)
    assert set(got) == {"true"}


@pytest.mark.slow
def test_scale_percentile_multi_matches_per_column(spark):
    # the shared-pass multi-column API must equal independent
    # single-column runs (same histogram resolution) bit-for-bit
    from mtg_bulk_database_spark.catalog import load_table
    from mtg_bulk_database_spark.operators.scalewin import (
        scale_exact_percentiles,
        scale_exact_percentiles_multi,
    )

    li = load_table(spark, SF_DIR, "lineitem")
    multi = scale_exact_percentiles_multi(
        li,
        "l_returnflag",
        {"l_quantity": [0.25, 0.75], "l_discount": [0.5]},
        buckets=8,
    )
    single_q = scale_exact_percentiles(
        li, "l_returnflag", "l_quantity", [0.25, 0.75], buckets=8
    )
    single_d = scale_exact_percentiles(
        li, "l_returnflag", "l_discount", [0.5], buckets=8
    )
    assert multi["l_quantity"] == single_q
    assert multi["l_discount"] == single_d


def test_global_running_null_group_offsets(spark):
    # ADVICE r4: global_running's offset join silently coalesced a NULL
    # group's offset to 0 -> wrong ranks. eqNullSafe join fixes it.
    df = spark.range(400).select(
        F.col("id"),
        F.when(F.col("id") % 4 == 0, None)
        .otherwise((F.col("id") % 4).cast("string"))
        .alias("g"),
        (F.col("id") % 11).cast("double").alias("v"),
        ((F.col("id") * 3) % 7 + 1).cast("decimal(18,6)").alias("w"),
    )
    out, n_by_g, _ = global_running(
        df, [F.asc("v"), F.asc("id")], range_col="v", weight_col="w",
        buckets=8, group_cols=["g"],
    )
    got = {r["id"]: (r[RN], r[CUM]) for r in out.select("id", RN, CUM).collect()}
    w = Window.partitionBy("g").orderBy("v", "id")
    exp = {
        r["id"]: (r["rn"], r["cum"])
        for r in df.select(
            "id",
            F.row_number().over(w).alias("rn"),
            F.sum("w").over(w).alias("cum"),
        ).collect()
    }
    assert got == exp
    assert (None,) in n_by_g and n_by_g[(None,)] == 100


def test_q169_scale_plan_matches_builtin_bitwise(spark):
    # the r5 switch for grouped MAD: the two-stage scale-percentile
    # plan must reproduce the built-in grouped percentile() bit-for-bit
    from mtg_bulk_database_spark.catalog import load_table
    from mtg_bulk_database_spark.pipeline_queries8 import q169_scale_plan

    docs = load_table(spark, SF_DIR, "documents")
    med = docs.groupBy("lang").agg(
        F.expr("percentile(n_chars, 0.5)").alias("m")
    )
    builtin = {
        r["lang"]: (r["median_chars"], r["mad"])
        for r in docs.join(F.broadcast(med), "lang")
        .groupBy("lang")
        .agg(
            F.max("m").alias("median_chars"),
            F.expr("percentile(abs(n_chars - m), 0.5)").alias("mad"),
        )
        .collect()
    }
    scale = {
        r["lang"]: (r["median_chars"], r["mad"])
        for r in q169_scale_plan(spark, docs).collect()
    }
    assert scale == builtin  # exact float equality


def test_q170_scale_plan_matches_builtin_bitwise(spark):
    from mtg_bulk_database_spark.catalog import load_table
    from mtg_bulk_database_spark.pipeline_queries8 import (
        _iqr_fences,
        q170_scale_plan,
    )

    ev = load_table(spark, SF_DIR, "events")
    q = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.25)").alias("p25"),
        F.expr("percentile(value, 0.75)").alias("p75"),
    )
    builtin = {r["event_type"]: tuple(r)[1:] for r in _iqr_fences(ev, q).collect()}
    scale = {
        r["event_type"]: tuple(r)[1:]
        for r in q170_scale_plan(spark, ev).collect()
    }
    assert scale == builtin  # exact float equality


@pytest.mark.slow
def test_uniform_histogram_mode_bit_equal_and_edge_cases(spark):
    # histogram="uniform" must change NOTHING about the result —
    # boundaries shape balance only. Compare bit-for-bit against the
    # sampled mode on the real table, then pin the builder's edge
    # cases (all-NULL column → no bounds; constant column → no bounds).
    from mtg_bulk_database_spark.catalog import load_table
    from mtg_bulk_database_spark.operators.scalewin import (
        scale_exact_percentiles_multi,
        uniform_bucket_histograms,
    )

    li = load_table(spark, SF_DIR, "lineitem")
    vq = {"l_quantity": [0.25, 0.5, 0.75], "l_extendedprice": [0.9]}
    a = scale_exact_percentiles_multi(
        li, "l_returnflag", vq, buckets=8, histogram="uniform"
    )
    b = scale_exact_percentiles_multi(
        li, "l_returnflag", vq, buckets=8, histogram="sample"
    )
    assert a == b

    df = spark.createDataFrame(
        [(None, 5.0), (None, 5.0), (None, 5.0)], "x double, y double"
    )
    h = uniform_bucket_histograms(df, ["x", "y"], buckets=4)
    assert h["x"] == [] and h["y"] == []
    df2 = spark.createDataFrame([(0.0,), (8.0,)], "x double")
    assert uniform_bucket_histograms(df2, ["x"], buckets=4)["x"] == [
        2.0,
        4.0,
        6.0,
    ]


def test_footer_memo_hands_out_copies_and_stays_bounded(spark):
    """The footer-bounds memo must not leak its cached dict: a caller
    mutating a returned result gets the original bounds back on the
    next call, and many distinct keys never grow it past its cap."""
    from mtg_bulk_database_spark.catalog import load_table
    from mtg_bulk_database_spark.operators import scalewin

    li = load_table(spark, SF_DIR, "lineitem")
    col_map = {"_r": "l_quantity"}
    first = scalewin.footer_bucket_histograms(li, col_map, buckets=8)
    want = {k: list(v) for k, v in first.items()}
    assert want["_r"]
    first["_r"].clear()
    first["_extra"] = [1.0]
    again = scalewin.footer_bucket_histograms(li, col_map, buckets=8)
    assert again == want
    again["_r"].append(-1.0)
    assert scalewin.footer_bucket_histograms(li, col_map, buckets=8) == want

    for b in range(2, scalewin._FOOTER_MEMO_MAX + 8):
        scalewin.footer_bucket_histograms(li, col_map, buckets=b)
    assert len(scalewin._FOOTER_MEMO) <= scalewin._FOOTER_MEMO_MAX


def test_footer_histogram_matches_aggregate_and_falls_back(spark):
    from mtg_bulk_database_spark.catalog import load_table
    from mtg_bulk_database_spark.operators.scalewin import (
        footer_bucket_histograms,
        scale_exact_percentiles_multi,
        uniform_bucket_histograms,
    )

    li = load_table(spark, SF_DIR, "lineitem")
    # footer min/max == aggregate min/max on a real file scan, so the
    # boundary lists are identical
    fb = footer_bucket_histograms(
        li, {"_r": "l_quantity"}, buckets=8
    )
    ub = uniform_bucket_histograms(
        li.select(F.col("l_quantity").cast("double").alias("_r")),
        ["_r"],
        buckets=8,
    )
    assert fb is not None and fb["_r"] == ub["_r"]

    # non-file input: no footer to read — builder declines, never lies
    mem = spark.createDataFrame([(1.0,)], "x double")
    assert footer_bucket_histograms(mem, {"x": "x"}, 8) is None

    # end to end: footer mode bit-equal to the aggregate mode (and the
    # in-memory fallback path still resolves through the aggregate)
    vq = {"l_quantity": [0.5]}
    a = scale_exact_percentiles_multi(
        li, "l_returnflag", vq, buckets=8, histogram="footer"
    )
    b = scale_exact_percentiles_multi(
        li, "l_returnflag", vq, buckets=8, histogram="uniform"
    )
    assert a == b
