"""The one build-once-per-session memo behind the prebuilt-artifact
accessors (``catalog._session_memo``): one key rule (applicationId plus
every bound argument, defaults applied), one bound per accessor, one
eviction path, nothing stored on failure."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mtg_bulk_database_spark.catalog import _MEMO_BOUND, _session_memo
from mtg_bulk_database_spark.pipeline_queries import shingle_prebuilt_table
from tests.conftest import SF_CORRECTNESS as SF_DIR


def test_call_forms_share_one_entry(spark):
    a = shingle_prebuilt_table(spark, SF_DIR)
    assert shingle_prebuilt_table(spark, SF_DIR, "string") is a
    assert shingle_prebuilt_table(spark, SF_DIR, kind="string", k=3) is a


def test_k_is_part_of_the_key(spark):
    """A non-default ``k`` after the default call must build its own
    table, not hand back the 3-token one."""
    shingle_prebuilt_table(spark, SF_DIR)
    sh4 = shingle_prebuilt_table(spark, SF_DIR, "string", k=4)
    widths = (
        sh4.select(F.explode("shingles").alias("s"))
        .select(F.size(F.split("s", " ")).alias("w"))
        .distinct()
        .collect()
    )
    assert [r["w"] for r in widths] == [4]


def test_overflow_evicts_oldest_and_unpersists(spark):
    @_session_memo
    def ranged(spark, n):
        df = spark.range(n).persist()
        df.count()
        return df, n

    first, _ = ranged(spark, 0)
    assert ranged(spark, n=0)[0] is first
    for n in range(1, _MEMO_BOUND):
        ranged(spark, n)
    assert first.is_cached
    second, _ = ranged(spark, 1)
    ranged(spark, _MEMO_BOUND)  # the 9th key
    assert not first.is_cached
    assert second.is_cached
    assert ranged(spark, 0)[0] is not first


def test_raising_builder_stores_nothing(spark):
    calls = []

    @_session_memo
    def flaky(spark, x):
        calls.append(x)
        if len(calls) == 1:
            raise RuntimeError("build failed")
        return object()

    with pytest.raises(RuntimeError):
        flaky(spark, "a")
    built = flaky(spark, "a")
    assert flaky(spark, "a") is built
    assert calls == ["a", "a"]
