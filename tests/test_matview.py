"""Incremental view maintenance: prev + delta must equal a full
recompute after ANY sequence of inserts/updates/deletes-by-merge, with
maintenance cost driven by change volume (changed rows only reach the
aggregate)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from mtg_bulk_database_spark.ingest import ledger
from mtg_bulk_database_spark.ingest.matview import (
    agg_delta,
    apply_agg_delta,
    maintain_view,
    merge_deltas,
    snapshot_agg,
)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture()
def root(tmp_path):
    return str(tmp_path / "tbl")


def _df(spark, rows):
    return spark.createDataFrame(rows, "id long, grp string, amount long")


GROUP = ["grp"]
SUMS = {"total_amount": "amount"}


def test_incremental_equals_recompute_across_merges(spark, root):
    ledger.ledger_write(
        spark, root, _df(spark, [(i, f"g{i % 3}", i * 10) for i in range(30)])
    )
    state = maintain_view(spark, root, None, 0, 1, GROUP, SUMS)
    v = 1
    batches = [
        [(5, "g2", 999), (31, "g0", 7)],          # update + insert
        [(0, "g0", 0), (1, "g1", 1), (32, "g3", 5)],  # updates + new group
        [(32, "g3", 6)],                            # update the new group
    ]
    for batch in batches:
        new_v = ledger.ledger_merge_upsert(spark, root, _df(spark, batch))
        state = maintain_view(spark, root, state, v, new_v, GROUP, SUMS)
        v = new_v
        expect = snapshot_agg(
            ledger.ledger_read(spark, root, v), GROUP, SUMS
        )
        assert _rows(state) == _rows(expect)


def test_group_vanishes_when_count_hits_zero(spark, root):
    ledger.ledger_write(
        spark, root, _df(spark, [(1, "only", 5), (2, "keep", 1)])
    )
    state = maintain_view(spark, root, None, 0, 1, GROUP, SUMS)
    # move row 1 out of group "only": the group must drop from the view
    v = ledger.ledger_merge_upsert(spark, root, _df(spark, [(1, "keep", 5)]))
    state = maintain_view(spark, root, state, 1, v, GROUP, SUMS)
    assert _rows(state) == [("keep", 2, 6)]


def test_delta_is_change_bounded(spark, root):
    """The delta aggregate must see only changed rows: a merge touching
    one key yields a delta whose absolute row-weight is ≤ 2 (one removed
    + one added), regardless of table size."""
    ledger.ledger_write(
        spark, root, _df(spark, [(i, "g", 1) for i in range(500)])
    )
    ledger.ledger_merge_upsert(spark, root, _df(spark, [(7, "g", 100)]))
    d = agg_delta(spark, root, 1, 2, GROUP, SUMS).collect()
    assert len(d) == 1
    row = d[0]
    assert row["n_rows"] == 0 and row["total_amount"] == 99


def test_delta_chain_folds_associatively(spark, root):
    """Deltas fold in any grouping: (s + d12) + d23  ==  s + (d12 + d23)."""
    ledger.ledger_write(spark, root, _df(spark, [(i, f"g{i%2}", i) for i in range(20)]))
    ledger.ledger_merge_upsert(spark, root, _df(spark, [(3, "g1", 300)]))
    ledger.ledger_merge_upsert(spark, root, _df(spark, [(21, "g1", 21), (4, "g0", 0)]))
    s1 = maintain_view(spark, root, None, 0, 1, GROUP, SUMS)
    d12 = agg_delta(spark, root, 1, 2, GROUP, SUMS)
    d23 = agg_delta(spark, root, 2, 3, GROUP, SUMS)
    left = apply_agg_delta(apply_agg_delta(s1, d12, GROUP), d23, GROUP)
    folded = merge_deltas(d12, d23, GROUP)  # delta+delta keeps zero-count groups
    right = apply_agg_delta(s1, folded, GROUP)
    expect = snapshot_agg(ledger.ledger_read(spark, root, 3), GROUP, SUMS)
    assert _rows(left) == _rows(right) == _rows(expect)


def test_continuous_view_refresh_is_incremental_and_idempotent(spark, root, tmp_path):
    """The persisted continuous aggregate must track the base table
    across merges (one delta per refresh, several versions fold into
    one), skip cleanly when current, and always equal a recompute."""
    view_root = str(tmp_path / "view")
    from mtg_bulk_database_spark.ingest.matview import refresh_continuous_view

    ledger.ledger_write(
        spark, root, _df(spark, [(i, f"g{i % 4}", i) for i in range(40)])
    )
    assert refresh_continuous_view(spark, root, view_root, GROUP, SUMS) == 1
    # no-op refresh: same base version, no new view commit
    v_before = ledger.current_version(view_root)
    refresh_continuous_view(spark, root, view_root, GROUP, SUMS)
    assert ledger.current_version(view_root) == v_before
    # two merges THEN one refresh: both versions fold into one delta
    ledger.ledger_merge_upsert(spark, root, _df(spark, [(3, "g1", 333)]))
    ledger.ledger_merge_upsert(spark, root, _df(spark, [(41, "g9", 9)]))
    assert refresh_continuous_view(spark, root, view_root, GROUP, SUMS) == 3
    got = _rows(ledger.ledger_read(spark, view_root))
    expect = _rows(
        snapshot_agg(ledger.ledger_read(spark, root), GROUP, SUMS)
    )
    assert got == expect
    # the view's manifest records the base watermark atomically
    m = ledger._read_manifest(view_root, ledger.current_version(view_root))
    assert m["base_version"] == 3


def test_minmax_affected_group_recompute(spark, root):
    """MIN/MAX views maintain by recomputing ONLY touched groups: after
    updates that move a group's minimum away, the maintained state must
    equal a full recompute (the failure a naive 'min(old,new)' fold
    would get wrong)."""
    from mtg_bulk_database_spark.ingest.matview import (
        maintain_minmax,
        snapshot_minmax,
    )

    measures = {"min_amount": ("min", "amount"), "max_amount": ("max", "amount")}
    ledger.ledger_write(
        spark, root, _df(spark, [(i, f"g{i % 3}", i * 10) for i in range(30)])
    )
    state = snapshot_minmax(ledger.ledger_read(spark, root), GROUP, measures)
    # raise g0's minimum (update doc 0: amount 0 -> 500) and lower g1's max
    v = ledger.ledger_merge_upsert(
        spark, root, _df(spark, [(0, "g0", 500), (28, "g1", -5)])
    )
    state = maintain_minmax(spark, root, state, 1, v, GROUP, measures)
    expect = snapshot_minmax(ledger.ledger_read(spark, root, v), GROUP, measures)
    assert _rows(state) == _rows(expect)
    # untouched group g2's row must have survived from prev_state verbatim
    g2 = [r for r in state.collect() if r["grp"] == "g2"]
    assert len(g2) == 1


@pytest.mark.slow
def test_random_merge_sequences_maintain_exactly(spark, tmp_path):
    """Property check: for random sequences of insert/update/delete-ish
    merge batches, the incrementally maintained state equals a full
    recompute after EVERY step (sampled explicitly — Spark in a
    hypothesis loop is too slow, same convention as test_fuzz_ops)."""
    import random

    for seed in (11, 23, 47):
        rng = random.Random(seed)
        root = str(tmp_path / f"t{seed}")
        n0 = rng.randrange(10, 40)
        rows = [(i, f"g{rng.randrange(4)}", rng.randrange(-50, 50)) for i in range(n0)]
        ledger.ledger_write(spark, root, _df(spark, rows))
        state = maintain_view(spark, root, None, 0, 1, GROUP, SUMS)
        v = 1
        next_id = n0
        for _ in range(3):
            batch = []
            for _ in range(rng.randrange(1, 6)):
                if rng.random() < 0.5 and next_id > 0:
                    key = rng.randrange(next_id)  # update (maybe group move)
                else:
                    key = next_id
                    next_id += 1
                batch.append((key, f"g{rng.randrange(4)}", rng.randrange(-50, 50)))
            nv = ledger.ledger_merge_upsert(spark, root, _df(spark, batch))
            state = maintain_view(spark, root, state, v, nv, GROUP, SUMS).localCheckpoint(eager=True)
            v = nv
            expect = snapshot_agg(ledger.ledger_read(spark, root, v), GROUP, SUMS)
            assert _rows(state) == _rows(expect), f"seed={seed} v={v}"


def test_continuous_view_survives_vacuumed_history(spark, root, tmp_path):
    """If the snapshot the view reflects fell out of retention, refresh
    falls back to a full rematerialization — correctness never depends
    on how much history vacuum kept."""
    from mtg_bulk_database_spark.ingest.matview import refresh_continuous_view

    view_root = str(tmp_path / "view")
    ledger.ledger_write(spark, root, _df(spark, [(i, f"g{i % 2}", i) for i in range(20)]))
    refresh_continuous_view(spark, root, view_root, GROUP, SUMS)
    for k in range(3):  # push the reflected version out of retention
        ledger.ledger_merge_upsert(spark, root, _df(spark, [(100 + k, "g1", k)]))
    ledger.ledger_vacuum(root, retain_versions=1, orphan_min_age_s=0.0)
    assert refresh_continuous_view(spark, root, view_root, GROUP, SUMS) == 4
    got = _rows(ledger.ledger_read(spark, view_root))
    expect = _rows(snapshot_agg(ledger.ledger_read(spark, root), GROUP, SUMS))
    assert got == expect


def test_hll_maintenance_matches_recompute(spark, root):
    """Approximate-distinct view: incremental maintenance must produce
    the SAME estimates as a full recompute (HLL union is register-max —
    associative, order-independent), for insert-only batches (the
    union-fold path) and for delete/update batches (the dirty-group
    recompute path); and the estimate must be exact at these tiny
    cardinalities."""
    from mtg_bulk_database_spark.ingest.matview import (
        HLL_ESTIMATE_COL,
        maintain_approx_distinct,
        snapshot_approx_distinct,
    )

    def _est(df):
        return sorted(
            (r["grp"], r[HLL_ESTIMATE_COL]) for r in df.collect()
        )

    ledger.ledger_write(
        spark,
        root,
        _df(spark, [(i, f"g{i % 3}", i % 7) for i in range(30)]),
    )
    state = maintain_approx_distinct(
        spark, root, None, 0, 1, GROUP, "amount"
    )
    v = 1
    batches = [
        [(40, "g0", 100), (41, "g1", 101)],      # pure inserts → fold
        [(5, "g2", 999), (42, "g3", 1)],         # update (dirty) + new grp
        [(0, "g0", 55), (1, "g1", 1), (43, "g3", 2)],  # updates + insert
    ]
    for batch in batches:
        new_v = ledger.ledger_merge_upsert(spark, root, _df(spark, batch))
        state = maintain_approx_distinct(
            spark, root, state, v, new_v, GROUP, "amount"
        )
        v = new_v
        expect = snapshot_approx_distinct(
            ledger.ledger_read(spark, root, v), GROUP, "amount"
        )
        assert _est(state) == _est(expect)
        # cardinalities this small estimate exactly (HLL sparse mode)
        exact = (
            ledger.ledger_read(spark, root, v)
            .groupBy("grp")
            .agg(F.count_distinct("amount").alias("d"))
        )
        assert _est(state) == sorted((r["grp"], r["d"]) for r in exact.collect())



def test_mv_state_leaves_no_temp_dir(spark, monkeypatch, tmp_path):
    """q105's ledger build lives in a temporary directory that is gone
    when the view state is returned, and the state still reads the same
    rows as the memoized build."""
    import tempfile

    from mtg_bulk_database_spark.pipeline_queries4 import _mv_state

    from tests.conftest import SF_CORRECTNESS

    want = _rows(_mv_state(spark, SF_CORRECTNESS))
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    got = _rows(_mv_state.__wrapped__(spark, SF_CORRECTNESS))
    assert list(tmp_path.iterdir()) == []
    assert got == want
