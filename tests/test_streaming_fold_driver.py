"""The shared micro-batch driver under every ``stream_fold_*`` leg
(``streaming.ingest._fold_state``): its fresh-checkpoint guard, its
empty-source schema, and the drain's timeout path, checked once per
state fold rather than once per hand-written copy.

The sources are one-row files. The stale-state case drains five
micro-batches per fold (15-30 s on 4 cores) and is slow-marked; the
empty-source and timeout cases run in under 10 s each and stay in the
default run."""

from __future__ import annotations

import datetime as dt
import os
import shutil
import time

import pytest

from mtg_bulk_database_spark.streaming import ingest as si

_SKETCH = "gi bigint, k bigint, v double, t string"
_DOCS = "doc_id bigint, text string, lang string, source string, n_chars bigint"
_EVENTS = (
    "event_id bigint, ts timestamp, user_id bigint, "
    "event_type string, value double, props string"
)


def _doc(i, text, source):
    return (i, text, "en", source, len(text))


def _ev(i, day, uid):
    return (i, dt.datetime(2024, 1, day, 10), uid, "view", 1.0, "{}")


_PARA = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"

# fold name -> (call, source schema, run-1 files (>= 3), run-2 file).
# Run 2 touches only one group/source/user, so any stale run-1 batch
# merged into it shows up as an extra key.
FOLDS = {
    "cms": (
        lambda sp, a, s, c, sch: si.stream_fold_cms(
            sp, a, s, c, "t", schema=sch
        ),
        _SKETCH,
        [[(1, 1, 1.0, "a")], [(2, 2, 2.0, "b")], [(3, 3, 3.0, "c")]],
        [(1, 4, 4.0, "a")],
    ),
    "quantile_sample": (
        lambda sp, a, s, c, sch: si.stream_fold_quantile_sample(
            sp, a, s, c, "v", ["k"], "gi", [0.5, 0.9], rate=0.99,
            schema=sch,
        ),
        _SKETCH,
        [[(1, 1, 1.0, "a")], [(2, 2, 2.0, "b")], [(3, 3, 3.0, "c")]],
        [(1, 4, 4.0, "a")],
    ),
    "hll": (
        lambda sp, a, s, c, sch: si.stream_fold_hll(
            sp, a, s, c, "gi", "t", schema=sch
        ),
        _SKETCH,
        [[(1, 1, 1.0, "a")], [(2, 2, 2.0, "b")], [(3, 3, 3.0, "c")]],
        [(1, 4, 4.0, "a")],
    ),
    "drift_counts": (
        lambda sp, a, s, c, sch: si.stream_fold_drift_counts(
            sp, a, s, c, "gi", "v", [1.5, 2.5], schema=sch
        ),
        _SKETCH,
        [[(1, 1, 1.0, "a")], [(2, 2, 2.0, "b")], [(3, 3, 3.0, "c")]],
        [(1, 4, 4.0, "a")],
    ),
    "retention_states": (
        lambda sp, a, s, c, sch: si.stream_fold_retention_states(
            sp, a, s, c, schema=sch
        ),
        _EVENTS,
        [[_ev(1, 2, 1)], [_ev(2, 9, 2)], [_ev(3, 16, 3)]],
        [_ev(4, 2, 7)],
    ),
    "source_token_counts": (
        lambda sp, a, s, c, sch: si.stream_fold_source_token_counts(
            sp, a, s, c, schema=sch
        ),
        _DOCS,
        [[_doc(1, _PARA, "a")], [_doc(2, "x y", "b")], [_doc(3, "z", "c")]],
        [_doc(4, "uno dos tres", "d")],
    ),
    "dedup_mix": (
        lambda sp, a, s, c, sch: si.stream_fold_dedup_mix(
            sp, a, s, c, schema=sch
        ),
        _DOCS,
        [[_doc(1, _PARA, "a")], [_doc(2, "x y", "b")], [_doc(3, "z", "c")]],
        [_doc(4, "uno dos tres", "d")],
    ),
    "paragraph_dedup": (
        lambda sp, a, s, c, sch: si.stream_fold_paragraph_dedup(
            sp, a, s, c, schema=sch
        ),
        _DOCS,
        [[_doc(1, _PARA, "a")], [_doc(2, "x y", "b")], [_doc(3, "z", "c")]],
        [_doc(4, "uno dos tres", "d")],
    ),
}


def _land(spark, src, schema, files):
    """One parquet file per entry of ``files``, stamped with ascending
    mtimes so the file source drains them one micro-batch each."""
    os.makedirs(src, exist_ok=True)
    base = time.time() - 3600
    for i, rows in enumerate(files):
        tmp = f"{src}.w{i}"
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(tmp)
        (part,) = [f for f in os.listdir(tmp) if f.endswith(".parquet")]
        dst = os.path.join(src, f"part{i}.parquet")
        shutil.move(os.path.join(tmp, part), dst)
        shutil.rmtree(tmp)
        os.utime(dst, (base + i * 10, base + i * 10))


def _frames(out):
    return out if isinstance(out, tuple) else (out,)


def _rows(out):
    return [sorted(map(tuple, df.collect())) for df in _frames(out)]


@pytest.mark.slow
@pytest.mark.parametrize("fold", sorted(FOLDS))
def test_fresh_checkpoint_with_reused_state_dir(spark, tmp_path, fold):
    """Run 2 drains a one-file source with a FRESH checkpoint into the
    state dir run 1 (three files, batches 0-2) left behind: it must see
    exactly what the same drain sees over an empty state dir. Without
    the guard, run 2's batch 0 overwrites only ``batch=0`` and the
    stale ``batch=1``/``batch=2`` merge in."""
    call, schema, run1, run2 = FOLDS[fold]
    _land(spark, str(tmp_path / "src1"), schema, run1)
    _land(spark, str(tmp_path / "src2"), schema, [run2])
    state = str(tmp_path / "state")
    first = _rows(call(spark, str(tmp_path / "src1"), state,
                       str(tmp_path / "ckpt1"), schema))
    assert any(len(rows) > 1 for rows in first)

    reused = _rows(call(spark, str(tmp_path / "src2"), state,
                        str(tmp_path / "ckpt2"), schema))
    alone = _rows(call(spark, str(tmp_path / "src2"),
                       str(tmp_path / "state_alone"),
                       str(tmp_path / "ckpt_alone"), schema))
    assert reused == alone


@pytest.mark.parametrize("fold", sorted(FOLDS))
def test_empty_source_has_non_empty_schema(spark, tmp_path, fold):
    """Zero drained batches return exactly the schema a non-empty run
    returns (group columns keep their source type, e.g. ``bigint``)."""
    call, schema, run1, _ = FOLDS[fold]
    os.makedirs(tmp_path / "empty")
    _land(spark, str(tmp_path / "src"), schema, run1[:1])
    empty = _frames(call(spark, str(tmp_path / "empty"),
                         str(tmp_path / "state_e"),
                         str(tmp_path / "ckpt_e"), schema))
    full = _frames(call(spark, str(tmp_path / "src"),
                        str(tmp_path / "state_f"),
                        str(tmp_path / "ckpt_f"), schema))
    assert [df.schema for df in empty] == [df.schema for df in full]
    assert all(df.count() == 0 for df in empty)


def test_drain_timeout_stops_query_and_raises(spark, tmp_path):
    """A drain that outlives ``timeout_s`` stops its query and raises
    instead of returning a partial result."""
    _land(spark, str(tmp_path / "src"), _SKETCH, [[(1, 1, 1.0, "a")]])

    def slow(batch_df, batch_id):
        time.sleep(4)

    writer = si._file_stream(
        spark, str(tmp_path / "src"), _SKETCH
    ).writeStream.foreachBatch(slow).option(
        "checkpointLocation", str(tmp_path / "ckpt")
    )
    with pytest.raises(TimeoutError, match="did not drain within 1s"):
        si._drain(writer, 1, "slow fold")
    assert spark.streams.active == []
