"""Operator-quality tests for the training-data pipeline: the
approximate operators (MinHash-LSH, SimHash, hyperplane-LSH ANN) are
checked against their exact counterparts on the driver's synthetic
corpus — recall is pinned, and candidate verification bounds false
positives (exact for the string-shingle path; collision-bounded
P ≈ n²/2⁶⁴ for the int64-hashed MinHash path)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mtg_bulk_database_spark.catalog import load_table
from mtg_bulk_database_spark.operators import (
    dedup,
    multimodal,
    similarity,
    text_analysis,
)
from mtg_bulk_database_spark.operators.text_analysis import (
    with_fingerprint,
    with_language_id,
    with_quality_score,
    with_token_counts,
)
from mtg_bulk_database_spark.plans import executed_plan

SF_DIR = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF_DIR, "documents").cache()


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF_DIR, "embeddings").cache()


def _pairs(df):
    return {(r["id_a"], r["id_b"]) for r in df.collect()}


def test_signature_kernel_matches_hof_core(docs):
    """r11 optimization pin: the vectorized Arrow signature kernel
    (`dedup._signature_from_hashes`) must be BIT-IDENTICAL to the
    original interpreted HOF expression form — min over
    ``(aᵢ·x + bᵢ) mod p`` per permutation — for both base-hash
    families and for non-default (num_perm, seed) parameter sets.
    The HOF form below is a frozen copy of the pre-r11 expression."""

    def hof_signature(hashes, num_perm, seed):
        def perm_min(hs, a, b):
            def h(x):
                return F.pmod(
                    F.lit(a) * x + F.lit(b), F.lit(dedup._MERSENNE_31)
                )

            return F.array_min(F.transform(hs, h))

        def build(hs):
            return F.array(
                *[
                    perm_min(hs, a, b)
                    for a, b in dedup._perm_params(num_perm, seed)
                ]
            )

        return F.element_at(F.transform(F.array(hashes), build), 1)

    for kind, base_hash in (
        ("hashed", lambda s: F.pmod(F.xxhash64(s), F.lit(dedup._MERSENNE_31))),
        (
            "string",
            lambda s: F.pmod(dedup.md5_60(s), F.lit(dedup._MERSENNE_31)),
        ),
    ):
        build_fn = (
            dedup.with_hashed_shingles if kind == "hashed" else dedup.with_shingles
        )
        sh = build_fn(docs, "text", "doc_id", 3)
        for num_perm, seed in ((64, 13), (32, 13), (8, 7)):
            hashes = F.transform(F.col("shingles"), base_hash)
            got = {
                r["doc_id"]: r["sig"]
                for r in sh.select(
                    "doc_id",
                    dedup._signature_from_hashes(
                        hashes, num_perm, seed
                    ).alias("sig"),
                ).collect()
            }
            want = {
                r["doc_id"]: r["sig"]
                for r in sh.select(
                    "doc_id",
                    hof_signature(hashes, num_perm, seed).alias("sig"),
                ).collect()
            }
            assert got == want, (kind, num_perm, seed)


@pytest.mark.parametrize("portable", [False, True])
def test_minhash_lsh_matches_exact_jaccard(docs, portable):
    exact = _pairs(dedup.ngram_jaccard_pairs(docs, "text", "doc_id", 3, 0.8))
    assert exact, "synthetic corpus should contain engineered near-dups"
    approx = _pairs(
        dedup.minhash_lsh_pairs(
            docs, "text", "doc_id", 3, 0.8, portable=portable
        )
    )
    assert approx <= exact, "exact verify step must kill false positives"
    recall = len(approx) / len(exact)
    assert recall == 1.0, f"LSH recall {recall} on the engineered near-dups"


def test_minhash_signature_base_hash_follows_portable_flag(docs):
    """The ``portable`` flag must reach the signature's base hash: md5
    and no xxhash64 when set, the reverse by default.  String shingles
    carry no hash of their own, so every hash in the plan is the base
    hash (the LSH callers localCheckpoint this frame, which hides it
    from their final plans)."""
    sh = dedup.with_shingles(docs, "text", "doc_id", 3)
    for portable in (False, True):
        plan = executed_plan(
            sh.select(
                dedup.minhash_signature(
                    F.col("shingles"), portable=portable
                ).alias("sig")
            )
        )
        assert ("md5" in plan) == portable, (portable, plan)
        assert ("xxhash64" in plan) != portable, (portable, plan)


def test_prefix_jaccard_equals_lean_jaccard(docs):
    """The AllPairs prefix-filtered formulation is EXACT: it must agree
    with the lean posting-join formulation pair-for-pair AND value-for-
    value (same integer counts → identical double division)."""
    for thr in (0.8, 0.5):
        lean = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in dedup.ngram_jaccard_pairs(
                docs, "text", "doc_id", 3, thr
            ).collect()
        }
        pref = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in dedup.ngram_jaccard_pairs_prefix(
                docs, "text", "doc_id", 3, thr
            ).collect()
        }
        assert lean and pref == lean


def test_simhash_finds_near_dups(docs):
    exact = _pairs(dedup.ngram_jaccard_pairs(docs, "text", "doc_id", 3, 0.9))
    sim = _pairs(dedup.simhash_near_pairs(docs, "text", "doc_id"))
    # simhash(hamming<=5) should recover most >=0.9-jaccard dups
    assert exact and len(sim & exact) / len(exact) >= 0.8


def test_exact_dedup_and_drop(docs):
    stats = dedup.exact_dedup(docs, ["text"], "doc_id")
    n_docs = docs.count()
    n_distinct = docs.select("text").distinct().count()
    assert stats.count() == n_distinct
    deduped = dedup.drop_exact_duplicates(docs, ["text"], "doc_id")
    assert deduped.count() == n_distinct
    assert deduped.count() <= n_docs


def test_lsh_ann_recall_vs_brute(emb):
    qv = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    pool = emb.filter(F.col("vec_id") != 0)
    brute = [r["vec_id"] for r in similarity.brute_force_topk(pool, qv, k=10).collect()]
    approx = [r["vec_id"] for r in similarity.lsh_topk(pool, qv, k=10).collect()]
    # bucket pruning: recall@10 pinned on this corpus (deterministic planes)
    recall = len(set(brute) & set(approx)) / 10
    assert recall >= 0.5, f"ANN recall@10 {recall}"
    # candidates actually bucketed: multiple buckets exist to prune over
    bucketed = similarity.with_lsh_buckets(pool, dim=len(qv), n_planes=4)
    assert bucketed.select("bucket").distinct().count() > 10


def test_embedding_top_pairs_blocked(emb):
    top = dedup.embedding_top_pairs(emb, top_n=5).collect()
    assert len(top) == 5
    labels = {r["label"]: None for r in emb.collect()}
    # pairs come from within a label block by construction; cosines sorted
    cosines = [r["cosine"] for r in top]
    assert cosines == sorted(cosines, reverse=True)


def test_text_analysis_columns(docs):
    li = with_language_id(docs).select("doc_id", "stopword_ratio", "predicted_lang")
    assert li.filter(F.col("stopword_ratio") < 0).count() == 0
    tc = with_token_counts(docs)
    row = tc.filter(F.col("doc_id") == 0).first()
    assert row["ws_tokens"] > 0 and row["bpe_ish_tokens"] >= row["ws_tokens"]
    qs = with_quality_score(docs)
    bad = qs.filter((F.col("quality_score") < 0) | (F.col("quality_score") > 1))
    assert bad.count() == 0
    fp = with_fingerprint(docs)
    assert fp.select("fingerprint").first()["fingerprint"] is not None


def test_multimodal_plumbing(docs):
    media = multimodal.as_media_table(docs)
    assert dict(media.dtypes)["content"] == "binary"
    meta = multimodal.media_metadata(media)
    r = meta.filter(F.col("doc_id") == 0).first()
    assert r["content_bytes"] == r["declared_bytes"]  # ascii text stand-in
    decoded = multimodal.decode_images(media)
    assert decoded.schema == multimodal.DECODED_SCHEMA
    d = decoded.filter(F.col("doc_id") == 0).first()
    assert d["n_channels"] == 3 and d["width"] == d["content_bytes"] % 1024 + 1
    assert decoded.count() == docs.count()


def test_udaf_weighted_quality(docs):
    from mtg_bulk_database_spark.operators.custom_fns import token_weighted_quality
    from mtg_bulk_database_spark.operators.text_analysis import with_quality_score

    scored = with_quality_score(docs)
    out = token_weighted_quality(scored).collect()
    assert len(out) == docs.select("source").distinct().count()
    # cross-check one group against a pandas-side computation
    pdf = scored.filter(F.col("source") == "src0").select(
        "quality_score", "n_tokens"
    ).toPandas()
    expect = (pdf["quality_score"] * pdf["n_tokens"]).sum() / pdf["n_tokens"].sum()
    got = next(r["weighted_quality"] for r in out if r["source"] == "src0")
    assert abs(got - expect) < 1e-6


def test_udtf_shingles(spark, docs):
    from mtg_bulk_database_spark.operators.custom_fns import shingle_udtf_class
    from mtg_bulk_database_spark.operators.dedup import with_shingles

    ShingleExpander = shingle_udtf_class()
    spark.udtf.register("shingle_expand", ShingleExpander)
    # deterministic subset: limit() after the catalog fan-out picks
    # arbitrary rows; a key filter pins the same 20 docs on both sides
    docs.filter(F.col("doc_id") < 20).createOrReplaceTempView("_udtf_docs")
    out = spark.sql(
        """SELECT s.* FROM _udtf_docs,
           LATERAL shingle_expand(doc_id, text, 3) s"""
    )
    relational = with_shingles(
        docs.filter(F.col("doc_id") < 20), "text", "doc_id", 3
    )
    n_expected = relational.select(
        F.explode("shingles")
    ).count()
    assert out.count() == n_expected


def test_embedding_top_pairs_block_guard(spark, emb):
    """One dominant label must not produce a quadratic pair join: blocks
    over max_block_rows get sub-blocked by LSH bucket, bounding candidate
    volume, while small blocks stay exact."""
    import random

    rng = random.Random(7)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(8)], "big")
        for i in range(1200)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label string")

    out = dedup.embedding_top_pairs(df, top_n=10, max_block_rows=100, n_subplanes=4)
    got = out.collect()
    assert len(got) == 10
    assert all(-1.0001 <= r["cosine"] <= 1.0001 and r["id_a"] < r["id_b"] for r in got)

    # pruning really happened: Σ bucket² pairs strictly below the n² join
    from mtg_bulk_database_spark.operators.similarity import with_lsh_buckets

    counts = [
        r["count"]
        for r in with_lsh_buckets(df, dim=8, n_planes=4).groupBy("bucket").count().collect()
    ]
    cand = sum(c * (c - 1) // 2 for c in counts)
    assert cand < 1200 * 1199 // 2 * 0.5

    # guard transparent below the cap: same result as the unguarded exact form
    exact = dedup.embedding_top_pairs(emb, top_n=20, max_block_rows=None).collect()
    guarded = dedup.embedding_top_pairs(emb, top_n=20, max_block_rows=10_000).collect()
    assert [tuple(r) for r in exact] == [tuple(r) for r in guarded]


def test_embedding_near_dup_lsh_precision(emb):
    lsh = dedup.embedding_near_dup_lsh(emb, threshold=0.4)
    rows = lsh.collect()
    # precision 1.0: every returned pair genuinely >= threshold
    assert all(r["cosine"] >= 0.4 for r in rows)
    # blocked join prunes: candidate pairs far below n^2
    n = emb.count()
    assert len(rows) < n * (n - 1) / 4


def test_sql_surface_matches_dataframe(spark):
    """The engine's second query surface: the catalog registers every
    table as a temp view, so plain ``spark.sql`` answers the same
    questions as the DataFrame registry — one Catalyst plan space, two
    front-ends (the reference's model: schema declares, any SQL client
    queries)."""
    from mtg_bulk_database_spark.catalog import load_all
    from mtg_bulk_database_spark.registry import load_registry

    Q, _ = load_registry()
    load_all(spark, SF_DIR, register=True)
    cases = {
        "q16_sort_limit": """
            SELECT o_orderkey, o_totalprice FROM orders
            ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""",
        "q15_distinct_counts": """
            SELECT count(DISTINCT l_partkey) AS n_parts,
                   count(DISTINCT l_suppkey) AS n_supps,
                   count(*) AS n_rows FROM lineitem""",
        "q64_train_split": """
            SELECT doc_id, substring(md5(text), 1, 2) AS split_bucket,
                   CASE WHEN substring(md5(text), 1, 2) < 'e6' THEN 'train'
                        WHEN substring(md5(text), 1, 2) < 'f3' THEN 'val'
                        ELSE 'test' END AS split
            FROM documents""",
    }
    for name, sql in cases.items():
        via_df = sorted(map(tuple, Q[name](spark, SF_DIR).collect()))
        via_sql = sorted(map(tuple, spark.sql(sql).collect()))
        assert via_df == via_sql, name


def test_approx_distinct_error_bound(spark):
    from mtg_bulk_database_spark.registry import load_registry

    Q, _ = load_registry()
    approx = {
        r["l_returnflag"]: r for r in Q["q72_approx_distinct"](spark, SF_DIR).collect()
    }
    li = load_table(spark, SF_DIR, "lineitem")
    exact = {
        r["l_returnflag"]: r
        for r in li.groupBy("l_returnflag")
        .agg(
            F.count_distinct("l_orderkey").alias("orders"),
            F.count_distinct("l_partkey").alias("parts"),
        )
        .collect()
    }
    for flag, e in exact.items():
        a = approx[flag]
        # rsd=0.02 → generous 3-sigma-ish bound of 6%
        assert abs(a["approx_orders"] - e["orders"]) <= 0.06 * e["orders"]
        assert abs(a["approx_parts"] - e["parts"]) <= 0.06 * e["parts"]


def test_curate_corpus_invariants(spark, docs):
    from mtg_bulk_database_spark.operators.curation import curate_corpus
    from mtg_bulk_database_spark.operators.text_analysis import (
        with_fingerprint,
        with_quality_score,
    )

    out = curate_corpus(docs)
    rows = out.collect()
    assert 0 < len(rows) < docs.count()  # gates + dedup actually dropped docs
    assert all(r["quality_score"] >= 0.5 for r in rows)
    assert {r["split"] for r in rows} <= {"train", "val", "test"}
    # no two kept docs share a fingerprint (exact/shuffled dups collapsed)
    kept_ids = [r["doc_id"] for r in rows]
    fps = (
        with_fingerprint(with_quality_score(docs))
        .filter(F.col("doc_id").isin(kept_ids))
        .select("fingerprint")
    )
    assert fps.count() == fps.distinct().count()
    # deterministic: a second run returns the identical set
    again = {r["doc_id"] for r in curate_corpus(docs).collect()}
    assert set(kept_ids) == again


def test_write_curated_partitioned_by_split(spark, docs, tmp_path):
    import os

    from mtg_bulk_database_spark.operators.curation import (
        curate_corpus,
        write_curated,
    )

    out = curate_corpus(docs)
    path = str(tmp_path / "curated")
    write_curated(out, path)
    dirs = {d for d in os.listdir(path) if d.startswith("split=")}
    assert dirs <= {"split=train", "split=val", "split=test"} and "split=train" in dirs
    back = spark.read.parquet(path)
    assert back.count() == out.count()
    # a training job's read is partition-pruned: one directory only
    train = spark.read.parquet(path).filter(F.col("split") == "train")
    assert train.count() == out.filter(F.col("split") == "train").count()


def test_connected_components(spark):
    from mtg_bulk_database_spark.operators.graph import connected_components

    # chain 1-2-3-4, pair {10,11}, triangle {20,21,22} + singleton edge 30-31
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22), (30, 31)],
        "id_a long, id_b long",
    )
    out = {r["node"]: r["component"] for r in connected_components(pairs).collect()}
    assert out == {
        1: 1, 2: 1, 3: 1, 4: 1,
        10: 10, 11: 10,
        20: 20, 21: 20, 22: 20,
        30: 30, 31: 30,
    }


def test_connected_components_deep_chain_converges(spark):
    from mtg_bulk_database_spark.operators.graph import connected_components

    # a 30-hop path exercises multi-round propagation (diameter > 1
    # round); local_threshold=0 forces the DISTRIBUTED path so the
    # convergence loop itself is what's under test
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "id_a long, id_b long"
    )
    out = connected_components(pairs, max_iter=40, local_threshold=0).collect()
    assert {r["component"] for r in out} == {0}
    assert len(out) == 31


def test_repetition_metrics_values(spark):
    rows = [
        (1, "aa bb aa bb aa bb"),        # heavy bigram repetition
        (2, "one two three four five"),  # all unique
        (3, ""),                          # empty → all ratios 0
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in text_analysis.with_repetition_metrics(df).collect()}
    r1 = out[1]
    assert r1["n_tokens"] == 6
    assert abs(r1["unique_token_ratio"] - 2 / 6) < 1e-12
    assert abs(r1["top_token_ratio"] - 3 / 6) < 1e-12
    # bigrams: [aa bb, bb aa, aa bb, bb aa, aa bb] → 2 distinct of 5
    assert abs(r1["dup_bigram_ratio"] - (1 - 2 / 5)) < 1e-12
    r2 = out[2]
    assert r2["unique_token_ratio"] == 1.0 and r2["dup_bigram_ratio"] == 0.0
    r3 = out[3]
    assert r3["n_tokens"] == 0 and r3["top_token_ratio"] == 0.0


def test_train_split_deterministic_and_proportional(docs):
    out = text_analysis.with_train_split(docs)
    frac = {
        r["split"]: r["n"]
        for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()
    }
    total = sum(frac.values())
    assert 0.80 <= frac["train"] / total <= 0.97
    # same text → same split, independent of run/partitioning
    again = text_analysis.with_train_split(docs.repartition(7))
    a = {r["doc_id"]: r["split"] for r in out.collect()}
    b = {r["doc_id"]: r["split"] for r in again.collect()}
    assert a == b


def test_asof_join_impls_agree(spark):
    from mtg_bulk_database_spark.operators.asof import asof_join, asof_join_pandas

    ev = load_table(spark, SF_DIR, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "value"
    )
    rel = asof_join(errors, clicks, "user_id", "ts", "ts")
    pan = asof_join_pandas(errors, clicks, "user_id", "ts", "ts")
    key = lambda r: (r["event_id"],)  # noqa: E731
    rel_rows = sorted([tuple(r) for r in rel.collect()])
    pan_rows = sorted([tuple(r) for r in pan.select(*rel.columns).collect()])
    assert rel_rows == pan_rows
    # left-join semantics: every error event present exactly once
    assert rel.count() == errors.count()


def test_asof_auto_strategy_switch(spark):
    """Stats-driven switch: shallow per-key history → relational; one hot
    key with deep history → cogrouped merge_asof. The deep corpus (10^5
    clicks on one user) is exactly the shape where the range join's
    per-left-row fan-out explodes; auto must complete it via the linear
    merge and still match the relational semantics on a sampled key."""
    from mtg_bulk_database_spark.operators.asof import (
        asof_join,
        asof_join_auto,
        choose_asof_strategy,
    )

    # shallow: 100 keys x 4 rows
    shallow = spark.range(400).select(
        (F.col("id") % 100).alias("user_id"), F.col("id").alias("ts")
    )
    assert choose_asof_strategy(shallow, "user_id") == "relational"

    # deep: 1 hot user with 1e5 clicks (+ a handful of cold keys)
    hot = spark.range(100_000).select(
        F.lit(7).alias("user_id"),
        F.col("id").alias("ts"),
        (F.col("id") * 2).alias("value"),
    )
    cold = spark.range(5).select(
        (F.col("id") + 100).alias("user_id"),
        F.col("id").alias("ts"),
        F.lit(0).cast("long").alias("value"),
    )
    clicks = hot.unionAll(cold)
    assert choose_asof_strategy(clicks, "user_id") == "pandas"

    errors = spark.range(200).select(
        F.col("id").alias("event_id"),
        F.when(F.col("id") < 195, F.lit(7)).otherwise(F.col("id") - 95).alias("user_id"),
        (F.col("id") * 500 + 1).alias("ts"),
    )
    out = asof_join_auto(errors, clicks, "user_id", "ts", "ts")
    rows = {r["event_id"]: r for r in out.collect()}
    assert len(rows) == 200  # every left row preserved
    # nearest strict predecessor: ts = k*500+1 → click ts = k*500
    assert rows[10]["r_ts"] == 5000 and rows[10]["r_value"] == 10000
    # cold key 200 (event 195, user 100): predecessor is its own click ts<ts
    assert rows[0]["r_ts"] == 0
    # spot-check agreement with the relational variant on a cold slice
    cold_err = errors.filter(F.col("user_id") >= 100)
    rel = asof_join(cold_err, clicks, "user_id", "ts", "ts")
    auto_cold = out.filter(F.col("user_id") >= 100).select(*rel.columns)
    assert sorted(map(tuple, rel.collect())) == sorted(map(tuple, auto_cold.collect()))


def test_ivf_ann_topk(emb):
    qv = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    pool = emb.filter(F.col("vec_id") != 0)
    brute = [r["vec_id"] for r in similarity.brute_force_topk(pool, qv, k=10).collect()]
    assigned, centroids = similarity.ivf_index(pool, n_lists=8)
    assert len(centroids) == 8
    approx = [r["vec_id"] for r in similarity.ivf_topk(assigned, centroids, qv, k=10, n_probe=3).collect()]
    recall = len(set(brute) & set(approx)) / 10
    assert recall >= 0.6, f"IVF recall@10 {recall}"
    # pruning actually happened: the 3 largest lists together still hold
    # fewer vectors than the pool, so any 3-probe scan is a strict subset
    sizes = sorted(
        (r["count"] for r in assigned.groupBy("list_id").count().collect()),
        reverse=True,
    )
    assert sum(sizes[:3]) < pool.count()


def test_multimodal_resize_and_frames(docs):
    media = multimodal.as_media_table(docs.filter(F.col("doc_id") < 50))
    resized = multimodal.resize_images(media, max_side=100)
    rows = resized.collect()
    assert len(rows) == 50
    assert all(max(r["width"], r["height"]) <= 100 for r in rows)
    assert all(len(r["content"]) >= 1 for r in rows)

    frames = multimodal.sample_frames(media, n_frames=4)
    per_doc = frames.groupBy("doc_id").count().collect()
    # fan-out contract: EVERY doc yields exactly n_frames rows
    assert len(per_doc) == 50 and all(r["count"] == 4 for r in per_doc)
    f = frames.filter((F.col("doc_id") == 0) & (F.col("frame_idx") == 0)).first()
    assert isinstance(bytes(f["frame"]), bytes) and len(f["frame"]) > 0


def test_jaccard_auto_selector(docs):
    """The formulation choice mirrors choose_asof_strategy: the probed
    shingle-frequency stat keeps the lean posting-join while its
    quadratic intermediate fits the budget and flips to prefix
    filtering when it doesn't; both variants stay equality-pinned via
    test_prefix_jaccard_equals_lean_jaccard."""
    est = dedup.estimate_lean_pair_rows(docs, "text", "doc_id", 3)
    assert est > 0
    # dense synthetic corpus at sf0.01: intermediate ~1e4-1e5 rows,
    # comfortably under the default single-executor budget
    assert (
        dedup.choose_jaccard_strategy(docs, "text", "doc_id", est_pair_rows=est)
        == "lean"
    )
    # the same stat against a tight budget selects the prefix path
    assert (
        dedup.choose_jaccard_strategy(
            docs, "text", "doc_id", budget=10.0, est_pair_rows=est
        )
        == "prefix"
    )
    lean = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(docs, "text", "doc_id", 3, 0.8).collect()
    }
    for forced in ("auto", "lean", "prefix"):
        got = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in dedup.ngram_jaccard_pairs_auto(
                docs, "text", "doc_id", 3, 0.8, strategy=forced
            ).collect()
        }
        assert got == lean, forced


def test_jaccard_sampled_estimate_tracks_full(docs):
    """The hash-sampled estimate must stay within a small factor of the
    exact intermediate size — it gates a plan choice, not a result."""
    full = dedup.estimate_lean_pair_rows(docs, "text", "doc_id", 3, sample_target=10**9)
    sampled = dedup.estimate_lean_pair_rows(docs, "text", "doc_id", 3, sample_target=200)
    assert full > 0 and sampled > 0
    assert 0.2 <= sampled / full <= 5.0


@pytest.mark.slow
def test_connected_components_star_mode(spark):
    """The large-star/small-star mode labels identically to union-find
    on the mixed-shape graph, and converges on a DEEP chain in far
    fewer rounds than its diameter — the property that makes it the
    web-scale path (min propagation needs diameter-many rounds)."""
    from mtg_bulk_database_spark.operators.graph import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22), (30, 31)],
        "id_a long, id_b long",
    )
    out = {
        r["node"]: r["component"]
        for r in connected_components(pairs, mode="star").collect()
    }
    assert out == {
        1: 1, 2: 1, 3: 1, 4: 1,
        10: 10, 11: 10,
        20: 20, 21: 20, 22: 20,
        30: 30, 31: 30,
    }

    # 60-hop path, but star mode must converge in <= 10 alternating
    # rounds (O(log^2 n)) where propagation would need ~60
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(60)], "id_a long, id_b long"
    )
    out = connected_components(chain, mode="star", max_iter=10).collect()
    assert {r["component"] for r in out} == {0}
    assert len(out) == 61


def test_sequence_packing_properties(spark):
    """Packing invariants: token totals are conserved, every sequence's
    token load stays under budget + one chunk (the documented overflow
    bound of offset-based packing), and sequence ids are contiguous
    from 0 within each shard."""
    from mtg_bulk_database_spark.pipeline_queries4 import (
        _PACK_BUDGET,
        q102,
    )

    out = q102(spark, SF_DIR).collect()
    assert out
    total = sum(r["n_chunk_tokens"] for r in out)
    per_seq: dict[tuple, int] = {}
    per_shard: dict[int, set] = {}
    for r in out:
        per_seq[(r["shard"], r["seq_id"])] = (
            per_seq.get((r["shard"], r["seq_id"]), 0) + r["n_chunk_tokens"]
        )
        per_shard.setdefault(r["shard"], set()).add(r["seq_id"])
    max_chunk = max(r["n_chunk_tokens"] for r in out)
    for (shard, seq), tok in per_seq.items():
        assert tok <= _PACK_BUDGET + max_chunk - 1, (shard, seq, tok)
    for shard, seqs in per_shard.items():
        assert seqs == set(range(len(seqs))), f"shard {shard} seq gap"
    # conservation: packing reassigns, never drops or duplicates tokens
    from mtg_bulk_database_spark.catalog import load_table
    from mtg_bulk_database_spark.operators import text_analysis

    docs = load_table(spark, SF_DIR, "documents")
    chunks = text_analysis.chunk_documents(docs, chunk_tokens=16, overlap=4)
    expected = chunks.agg(F.sum("n_chunk_tokens")).first()[0]
    assert total == expected


def test_sq_refine_topk_recall(spark, emb):
    """The two-stage quantized probe must recover (nearly) the exact
    top-10: int8 quantization error is small relative to the corpus's
    cosine gaps, and the refine pass re-ranks with full precision, so
    recall@10 ≥ 0.9 and the top-1 must agree with the exact ranking."""
    qv = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    pool = emb.filter(F.col("vec_id") != 0)
    exact = [r["vec_id"] for r in similarity.brute_force_topk(pool, qv, k=10).collect()]
    two_stage = [
        r["vec_id"]
        for r in similarity.quantized_refine_topk(pool, qv, k=10, refine=5).collect()
    ]
    assert two_stage[0] == exact[0]
    assert len(set(two_stage) & set(exact)) / 10 >= 0.9


def test_pq_ann_topk_recall(spark, emb):
    """PQ ADC probe: 4-bit codes (32× smaller than float32) + exact
    refine must keep recall@10 ≥ 0.8 and agree on top-1 after rescore;
    the coarse scan must carry NO full-precision vector column."""
    qv = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    pool = emb.filter(F.col("vec_id") != 0)
    exact = [r["vec_id"] for r in similarity.brute_force_topk(pool, qv, k=10).collect()]
    books = similarity.pq_train(pool, m=16, k=16)
    assert len(books) == 16 and all(len(b) == 16 for b in books)
    encoded = similarity.pq_encode(pool, books)
    codes = encoded.select("pq_code").first()[0]
    assert len(codes) == 16 and all(0 <= c < 16 for c in codes)
    approx = [
        r["vec_id"]
        for r in similarity.pq_topk(encoded, books, qv, k=10, refine=10).collect()
    ]
    recall = len(set(exact) & set(approx)) / 10
    assert recall >= 0.8, f"PQ recall@10 {recall}"
    assert approx[0] == exact[0]
    # determinism: retraining with the same seed reproduces the codebooks
    assert similarity.pq_train(pool, m=16, k=16) == books


def test_gopher_quality_rules(docs):
    out = text_analysis.with_gopher_quality(docs).select(
        "doc_id", "n_words", "mean_word_len", "alpha_frac", "stop_frac", "passes"
    )
    rows = out.collect()
    assert all(0 <= r["alpha_frac"] <= 1 and 0 <= r["stop_frac"] <= 1 for r in rows)
    assert all(r["mean_word_len"] >= 0 for r in rows)
    # the gate must actually discriminate on the synthetic corpus
    verdicts = {r["passes"] for r in rows}
    assert verdicts == {True, False}
    # recompute one doc by hand
    r0 = next(r for r in rows if r["doc_id"] == 0)
    text = docs.filter(F.col("doc_id") == 0).first()["text"]
    import re
    toks = [t.lower() for t in re.split(r"[^a-zA-Z0-9]+", text) if t]
    assert r0["n_words"] == len(toks)
    assert abs(r0["mean_word_len"] - sum(map(len, toks)) / len(toks)) < 1e-12


def test_semantic_dedup_semdedup(emb):
    pool = emb.filter(F.col("vec_id") != 0)
    out = dedup.semantic_dedup(pool, threshold=0.4, n_lists=8)
    rows = out.collect()
    assert len(rows) == pool.count()
    by_group = {}
    for r in rows:
        by_group.setdefault(r["dup_group"], []).append(r)
    # exactly one keeper per duplicate group, and it's the min id
    for g, members in by_group.items():
        keepers = [r for r in members if r["keep"]]
        assert len(keepers) == 1
        assert keepers[0]["vec_id"] == min(r["vec_id"] for r in members)
        assert g == keepers[0]["vec_id"]
    # verification step: every grouped-together pair really is >= threshold
    multi = [ms for ms in by_group.values() if len(ms) > 1]
    # the synthetic corpus has engineered near-dups, so some group must form
    assert multi, "expected at least one semantic duplicate group"


def test_leakage_safe_split_groups_copies(spark):
    """Docs with identical token SETS (reordered copies) must land in
    the same split; the plain text-hash split would separate them."""
    rows = [
        (1, "alpha beta gamma delta epsilon"),
        (2, "epsilon delta gamma beta alpha"),   # reordered copy of 1
        (3, "completely different content here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = text_analysis.with_leakage_safe_split(df).collect()
    by_id = {r["doc_id"]: r for r in out}
    assert by_id[1]["fingerprint"] == by_id[2]["fingerprint"]
    assert by_id[1]["split"] == by_id[2]["split"]
    # and the assignment covers every doc deterministically
    again = {r["doc_id"]: r["split"] for r in text_analysis.with_leakage_safe_split(df).collect()}
    assert again == {r["doc_id"]: r["split"] for r in out}


def test_hamming64_rejects_recall_losing_radius(spark):
    """8x8-bit pigeonhole banding is only candidate-complete for
    Hamming <= 7; a larger radius must raise, not silently lose pairs
    (r4, from r3 advice) — on the generic band join and on the SimHash
    path built over it."""
    import pytest as _pytest

    from mtg_bulk_database_spark.operators.dedup import (
        hamming64_near_pairs,
        simhash_near_pairs,
    )

    fp = spark.createDataFrame([(1, 0), (2, -1)], "doc_id long, h long")
    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c e")], "doc_id long, text string"
    )
    for near_pairs in (
        lambda r: hamming64_near_pairs(fp, "h", "doc_id", max_hamming=r),
        lambda r: simhash_near_pairs(docs, "text", "doc_id", max_hamming=r),
    ):
        with _pytest.raises(ValueError, match="max_hamming <= 7"):
            near_pairs(8)
        # radius 7 still constructs (lazy plan, no error)
        near_pairs(7)


def test_tokenizer_locale_free(spark):
    """r5: lower-then-split diverged between engines on locale-
    sensitive case mappings (probed: Turkish İ lowers to 'i̇' in the
    JVM/Python but 'i' in ICU/DuckDB — the token stream itself forked).
    The tokenizer family now splits on the ASCII class FIRST and lowers
    the pure-ASCII tokens after, so Spark, DuckDB and the Python twins
    agree on ANY input by construction.  Pin the divergence palette."""
    import duckdb
    import re as _re

    from mtg_bulk_database_spark.functions.text import (
        TOKEN_SPLIT_RE,
        sql_tokens,
        tokens,
    )

    palette = [
        "İstanbul FooBar",          # the probed JVM-vs-ICU fork
        "ΣΊΣΥΦΟΣ kelvin K2",        # final sigma + Kelvin sign
        "café NOËL Straße123",      # latin-1 + ß
        "ＡＢＣ ascii123 ＡＢＣ",     # fullwidth forms
        "a-İ-b C_d",                # divergent char INSIDE a word
        "",
    ]
    df = spark.createDataFrame([(s,) for s in palette], "text string")
    got = {
        r["text"]: list(r["t"])
        for r in df.select("text", tokens("text").alias("t")).collect()
    }
    con = duckdb.connect()
    for s in palette:
        duck = con.execute(
            f"SELECT {sql_tokens('?')}", [s]
        ).fetchone()[0]
        py = [t.lower() for t in _re.split(TOKEN_SPLIT_RE, s) if t]
        assert got[s] == duck == py, (s, got[s], duck, py)
    # the İ word splits at the non-ASCII char in EVERY engine now
    assert got["a-İ-b C_d"] == ["a", "b", "c", "d"]


def test_token_count_and_normalize_locale_free(spark):
    """Same divergence palette, for the two non-tokenizer text twins
    converted in r5: BPE-ish run counts now extract over RAW text with
    case-insensitive ASCII classes, and normalize replaces before
    lowering — both must agree with DuckDB on İ-class inputs."""
    import duckdb

    from mtg_bulk_database_spark.operators.text_analysis import BPE_ISH_RE

    palette = ["İstanbul FooBar", "a-İ-b C_d", "ΣΊΣΥΦΟΣ K x", ""]
    df = spark.createDataFrame([(s,) for s in palette], "text string")
    counted = {
        r["text"]: (r["bpe_ish_tokens"], r["norm_text"])
        for r in text_analysis.with_normalized_text(
            text_analysis.with_token_counts(df)
        ).collect()
    }
    con = duckdb.connect()
    for s in palette:
        d_bpe, d_norm = con.execute(
            f"""SELECT len(regexp_extract_all(?, '{BPE_ISH_RE}')),
                       lower(trim(regexp_replace(regexp_replace(?,
                            '[^a-zA-Z0-9 ]', ' ', 'g'), ' +', ' ', 'g')))""",
            [s, s],
        ).fetchone()
        assert counted[s] == (d_bpe, d_norm), (s, counted[s], (d_bpe, d_norm))


def test_alpha_count_and_winnow_base_locale_free(spark):
    """r5 completion of the locale-free family: the quality score's
    alpha count now counts [a-zA-Z] of the RAW text (translate, no
    lower() pass), and the winnowing base strips to ASCII-alnum BEFORE
    lowering — both must agree with their DuckDB twins on İ-class
    inputs, and the İ word contributes its ASCII letters only."""
    import duckdb

    palette = ["İstanbul FooBar", "a-İ-b C_d", "ΣΊΣΥΦΟΣ K2 x", "ı I", ""]
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(palette)], "doc_id long, text string"
    )
    qual = {
        r["text"]: r["n_alpha"]
        for r in text_analysis.with_quality_score(df)
        .withColumn(
            "n_alpha",
            F.length("text")
            - F.length(
                F.translate(
                    F.col("text"),
                    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ",
                    "",
                )
            ),
        )
        .collect()
    }
    winnow = {
        r["text"]: r["_base"]
        for r in df.withColumn(
            "_base",
            F.lower(F.regexp_replace(F.col("text"), "[^a-zA-Z0-9]", "")),
        ).collect()
    }
    con = duckdb.connect()
    for s in palette:
        d_alpha, d_base = con.execute(
            """SELECT length(regexp_replace(?, '[^a-zA-Z]', '', 'g')),
                      lower(regexp_replace(?, '[^a-zA-Z0-9]', '', 'g'))""",
            [s, s],
        ).fetchone()
        assert qual[s] == d_alpha, (s, qual[s], d_alpha)
        assert winnow[s] == d_base, (s, winnow[s], d_base)
    # İ is NOT an ASCII letter: 'a-İ-b' has exactly 2 alpha chars and
    # base 'ab' in every engine (no case mapping ever touches it)
    assert qual["a-İ-b C_d"] == 4 and winnow["a-İ-b C_d"] == "abcd"


def test_ascii_fold_locale_free(spark):
    """The ILIKE family's case fold is a 26-entry translate (A-Z→a-z),
    never a Unicode lower() — so 'İ' passes through untouched and the
    fold is byte-identical across Spark, DuckDB and Python."""
    import duckdb

    from mtg_bulk_database_spark.functions.text import (
        ascii_fold,
        py_ascii_fold,
        sql_ascii_fold,
    )

    palette = ["İstanbul WINDOW Batch", "ΣΊΣΥΦΟΣ K", "MiXeD ascii", ""]
    df = spark.createDataFrame([(s,) for s in palette], "text string")
    got = {
        r["text"]: r["f"]
        for r in df.select("text", ascii_fold("text").alias("f")).collect()
    }
    con = duckdb.connect()
    for s in palette:
        duck = con.execute(f"SELECT {sql_ascii_fold('?')}", [s]).fetchone()[0]
        assert got[s] == duck == py_ascii_fold(s), (s, got[s], duck)
    # İ survives the fold unchanged (no case mapping ran at all)
    assert got["İstanbul WINDOW Batch"] == "İstanbul window batch"


def test_ws_token_split_locale_free(spark):
    """The whitespace-token split is the ENUMERATED ASCII class, never
    the engine-defined \\s (Java includes \\x0B, RE2 doesn't, Python is
    Unicode-wide — three different counts on the same text). Pin the
    probe palette against DuckDB."""
    import duckdb

    from mtg_bulk_database_spark.operators.text_analysis import WS_SPLIT_RE

    palette = [
        "a\x0bb",        # vertical tab: THE Java-vs-RE2 fork
        "a\x0cb c\td",
        "a\xa0b",        # NBSP: one token in both engines
        "a b",
        "a　b",           # ideographic space
        "a\r\nb  c",
        "",
    ]
    df = spark.createDataFrame([(s,) for s in palette], "text string")
    got = {
        r["text"]: r["ws_tokens"]
        for r in text_analysis.with_token_counts(df).collect()
    }
    con = duckdb.connect()
    for s in palette:
        duck = con.execute(
            f"""SELECT len(list_filter(
                  string_split_regex(?, '{WS_SPLIT_RE}'), x -> x <> ''))""",
            [s],
        ).fetchone()[0]
        assert got[s] == duck, (repr(s), got[s], duck)
    assert got["a\x0bb"] == 2      # VT splits (it IS ASCII whitespace)
    assert got["a\xa0b"] == 1      # NBSP does not (not in the class)


def test_duplicate_substring_spans_planted(spark):
    """Exact-substring dedup (q195/q196 operator): planted docs pin the
    span boundaries, the ≥min_docs gate, the one-gap overlap case the
    interval merge exists for, and NULL/short-text safety."""
    from mtg_bulk_database_spark.operators.dedup import (
        covered_char_spans,
        duplicate_substring_spans,
    )

    shared = "0123456789abcdefghijklmnopqrs"  # 29 chars, ≥ min_len=25
    rows = [
        (1, "AAA" + shared + "BBB"),          # span at 4..32
        (2, "xx" + shared + "yyyyy"),         # span at 3..31
        (3, "unique text with no repeats z"), # no span
        (4, None),                            # NULL text: no positions
        (5, "short"),                         # < k: no positions
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    spans = duplicate_substring_spans(
        docs, "text", "doc_id", k=10, min_len=25, min_docs=2
    ).collect()
    got = {(r["doc_id"], r["span_start"], r["span_len"]) for r in spans}
    # islands: positions 4..23 in doc1 (k-grams of the 29-char shared
    # run), span = [4, 23+10-1] → len 29; doc2 starts at 3
    assert got == {(1, 4, 29), (2, 3, 29)}

    # coverage merges spans that overlap by up to k-2 chars: doc 20's
    # duplicated positions are {1..3} (prefix shared with doc 21) and
    # {5..11} (suffix shared with doc 22) — a ONE-position gap, so the
    # two spans cover chars [1,12] and [5,20]: naive summing counts 28
    # chars in a 20-char doc; the interval union must report exactly 20
    s = "abcdefghijklmnopqrst"  # 20 chars
    d2 = spark.createDataFrame(
        [(20, s), (21, s[:12]), (22, s[4:])],
        "doc_id long, text string",
    )
    s2 = duplicate_substring_spans(d2, "text", "doc_id", k=10, min_len=10, min_docs=2)
    by_doc = {}
    for r in s2.collect():
        by_doc.setdefault(r["doc_id"], set()).add(
            (r["span_start"], r["span_len"])
        )
    assert by_doc[20] == {(1, 12), (5, 16)}  # overlapping pair
    cov = {
        r["doc_id"]: r["dup_chars"]
        for r in covered_char_spans(s2, "doc_id").collect()
    }
    assert cov[20] == 20  # union, not 12 + 16


def test_canonical_url_differential_battery(spark):
    """functions/web.py: Spark and DuckDB twins must agree byte-for-byte
    on a battery of tricky URLs (the q197 gate only exercises the six
    planted families)."""
    import duckdb

    from mtg_bulk_database_spark.functions.web import (
        canonical_url,
        sql_canonical_url,
    )

    urls = [
        "http://ex.com/p/1",
        "HTTP://EX.COM:80/p/1",
        "https://Ex.Com:443/a/b/?z=1&a=2#frag",
        "https://ex.com:8443/a",          # NON-default port survives
        "http://ex.com",                  # empty path -> /
        "http://ex.com/?utm_source=x",    # only tracking -> no '?'
        "http://ex.com/p?utm_a=1&b=2&utm_c=3&a=9",
        "http://ex.com/p/",               # root-child trailing slash
        "http://ex.com/",                 # root slash stays
        "ftp://Files.Ex.com/x/",          # other scheme: no port rule
        "http://ex.com/p?",               # empty query
        "http://ex.com/p#only-frag",
    ]
    got = [
        r["c"]
        for r in spark.createDataFrame([(u,) for u in urls], "u string")
        .select(canonical_url(F.col("u")).alias("c"))
        .collect()
    ]
    con = duckdb.connect()
    # inline literals: the twin SQL contains '?' inside regexes, which
    # DuckDB would otherwise parse as prepared-statement placeholders
    want = [
        con.execute(
            "SELECT " + sql_canonical_url("'" + u.replace("'", "''") + "'")
        ).fetchone()[0]
        for u in urls
    ]
    assert got == want
    # and the transforms actually landed
    m = dict(zip(urls, got))
    assert m["HTTP://EX.COM:80/p/1"] == "http://ex.com/p/1"
    assert m["https://Ex.Com:443/a/b/?z=1&a=2#frag"] == "https://ex.com/a/b?a=2&z=1"
    assert m["https://ex.com:8443/a"] == "https://ex.com:8443/a"
    assert m["http://ex.com"] == "http://ex.com/"
    assert m["http://ex.com/?utm_source=x"] == "http://ex.com/"
    assert m["http://ex.com/"] == "http://ex.com/"


def test_unindexable_vectors_drop_from_similarity(spark):
    """NULL and zero-norm embeddings must vanish from every similarity
    surface — Spark's 0/0 is NULL while an IEEE engine's is NaN (which
    sorts FIRST under ORDER BY DESC), so letting them reach a cosine
    silently corrupts top-k fronts differently per engine (the fuzz
    corpus plants both shapes; functions.vectors.indexable_vector is
    the shared predicate)."""
    rows = [
        (0, [1.0, 0.0, 0.0], 0),
        (1, [0.0, 0.0, 0.0], 0),  # zero norm: no direction
        (2, None, 0),             # failed embedder
        (3, [0.9, 0.1, 0.0], 0),
        (4, [-1.0, 0.0, 0.0], 1),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    got = similarity.brute_force_topk(df, [1.0, 0.0, 0.0], k=5).collect()
    assert [r["vec_id"] for r in got] == [0, 3, 4]
    assert all(r["cosine"] is not None for r in got)

    pairs = dedup.embedding_top_pairs(
        df, top_n=10, max_block_rows=None
    ).collect()
    # pairs form within label blocks: {0,3} share label 0; 4 is alone
    ids = {i for r in pairs for i in (r["id_a"], r["id_b"])}
    assert ids == {0, 3} and all(
        r["cosine"] is not None for r in pairs
    )

    near = dedup.embedding_near_dup_lsh(df, threshold=-1.0).collect()
    ids = {i for r in near for i in (r["id_a"], r["id_b"])}
    assert 1 not in ids and 2 not in ids


def test_label_propagation_matches_cc_on_disjoint_cliques(spark):
    from mtg_bulk_database_spark.operators import graph

    # three disjoint cliques: LPA communities == connected components
    edges = []
    for base in (0, 10, 20):
        nodes = [base + i for i in range(4)]
        edges += [(a, b) for a in nodes for b in nodes if a < b]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    lpa = {
        r["node"]: r["label"]
        for r in graph.label_propagation(df).collect()
    }
    cc = {
        r["node"]: r["component"]
        for r in graph.connected_components(df).collect()
    }
    by_lpa = {}
    for n, l in lpa.items():
        by_lpa.setdefault(l, set()).add(n)
    by_cc = {}
    for n, c in cc.items():
        by_cc.setdefault(c, set()).add(n)
    assert sorted(by_lpa.values(), key=min) == sorted(
        by_cc.values(), key=min
    )


def test_label_propagation_deterministic_and_converges(spark):
    from mtg_bulk_database_spark.operators import graph

    # barbell: two triangles bridged by one edge — LPA must keep two
    # communities (the bridge is outvoted), CC would merge them
    edges = [(0, 1), (0, 2), (1, 2), (3, 4), (3, 5), (4, 5), (2, 3)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    a = sorted(graph.label_propagation(df).collect())
    b = sorted(graph.label_propagation(df.repartition(7)).collect())
    assert a == b  # partitioning-independent
    labels = {r["node"]: r["label"] for r in a}
    assert labels[0] == labels[1] == labels[2]
    assert labels[3] == labels[4] == labels[5]
    assert labels[0] != labels[3]


def test_multitouch_credits_sum_to_one_per_conversion(spark):
    from mtg_bulk_database_spark.registry import load_registry

    q, _ = load_registry()
    out = q["q207_multitouch_attribution"](spark, SF_DIR)
    sums = (
        out.groupBy("user_id", "conv_id")
        .agg(F.sum("credit").alias("s"), F.max("n_touches").alias("n"))
        .collect()
    )
    assert sums
    for row in sums:
        # 40/20/40 split: exact for n<=2; rounding each middle share to
        # 6dp bounds the drift by 5e-7 per middle touch
        assert abs(row["s"] - 1.0) <= 5e-7 * max(row["n"] - 2, 0) + 1e-9, row


def test_kaplan_meier_invariants(spark):
    from mtg_bulk_database_spark.registry import load_registry

    q, _ = load_registry()
    rows = sorted(
        q["q208_kaplan_meier"](spark, SF_DIR).collect(),
        key=lambda r: r["t"],
    )
    assert rows
    # S is a non-increasing step function in [0, 1]
    prev = 1.0 + 1e-9
    for r in rows:
        assert 0.0 <= r["s"] <= prev + 5e-7, (r["t"], r["s"], prev)
        prev = r["s"]
    # risk sets telescope: n_{i+1} = n_i - d_i - c_i
    for a, b in zip(rows, rows[1:]):
        assert b["n_at_risk"] == a["n_at_risk"] - a["d"] - a["c"]
    # first risk set = all subjects
    assert rows[0]["n_at_risk"] == sum(r["d"] + r["c"] for r in rows)


@pytest.mark.slow
def test_bootstrap_ci_brackets_mean(spark):
    from mtg_bulk_database_spark.registry import load_registry

    q, _ = load_registry()
    rows = q["q212_bootstrap_ci"](spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r["ci_lo"] is not None and r["ci_lo"] < r["ci_hi"]
        # the bootstrap distribution centers on the sample mean
        assert r["ci_lo"] <= r["mean_price"] <= r["ci_hi"], r


def test_label_propagation_active_set_shrinks(spark):
    """r6 active-set optimization: converged components stop voting.

    The frontier recompute must change NO final label (checked against
    the pinned barbell communities) while the per-iteration changed-
    node counts decay to zero — the signal that later supersteps only
    shuffle the still-moving frontier, not the whole edge list."""
    from mtg_bulk_database_spark.operators import graph

    edges = [(0, 1), (0, 2), (1, 2), (3, 4), (3, 5), (4, 5), (2, 3)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    trace: list = []
    labels = {
        r["node"]: r["label"]
        for r in graph.label_propagation(df, trace=trace).collect()
    }
    assert labels[0] == labels[1] == labels[2]
    assert labels[3] == labels[4] == labels[5]
    assert labels[0] != labels[3]
    # active set decays monotonically after the first superstep and
    # hits zero (early exit), never re-growing on a converged graph
    assert trace[-1] == 0
    assert trace == sorted(trace, reverse=True), trace
    assert trace[0] > trace[-1]


def test_q223_frozen_codebook_probe_recall(spark):
    """The ORACLED PQ gate (q223) proves the frozen-codebook plan is
    engine-exact; this pins that the quantization is also USEFUL —
    recall@10 vs brute-force cosine on the same corpus/query.  Random
    vectors are PQ's worst case (no cluster structure for the
    codebook to exploit), so the m=8 gate sits lower than the m=16
    operator's 0.8 pin; measured 0.7 on this corpus."""
    from mtg_bulk_database_spark.registry import load_registry

    queries, _ = load_registry()
    sf = SF_DIR
    approx = {
        r["vec_id"]
        for r in queries["q223_pq_adc_probe_portable"](spark, sf).collect()
    }
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    qv = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    pool = emb.filter(F.col("vec_id") != 0)
    exact = {
        r["vec_id"]
        for r in similarity.brute_force_topk(pool, qv, k=10).collect()
    }
    recall = len(approx & exact) / 10
    assert recall >= 0.6, f"frozen-codebook PQ recall@10 {recall}"


def test_q224_stop_shingle_cap_bounds_head_fanout(spark):
    """r8 (VERDICT r7 #6): the containment posting join takes the same
    stop-shingle DF cap as hard_negative_pairs.  Corpus: six docs that
    are mostly one shared boilerplate run (5 of 6 shingles identical,
    containment 5/6 ≈ 0.83 ≥ τ), plus a short passage embedded
    verbatim in a longer page.  Uncapped, the boilerplate head
    produces all 15 cross-pairs; with the cap below the head's DF the
    hot shingles leave the posting join — the quadratic head fanout is
    gone — while the rare-passage containment (DF=2 shingles) is
    untouched at exactly 1.0.  The cap can only SHRINK common, so a
    capped run is a subset: conservative, never a false positive."""
    import pandas as pd

    from mtg_bulk_database_spark.operators.dedup import with_shingles
    from mtg_bulk_database_spark.pipeline_queries11 import (
        shingle_containment_pairs,
    )

    boiler = "copyright acme corp all rights reserved worldwide"
    passage = "alpha beta gamma delta epsilon zeta"
    filler = " ".join(f"w{i}" for i in range(40))
    rows = [(i, f"{boiler} unique{i}") for i in range(6)]
    rows += [(100, passage), (101, passage + " " + filler)]
    docs = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "text"])
    )
    sh = with_shingles(docs, "text", "doc_id", k=3)

    uncapped = {
        (r["id_sub"], r["id_super"]): r["containment"]
        for r in shingle_containment_pairs(sh).collect()
    }
    capped = {
        (r["id_sub"], r["id_super"]): r["containment"]
        for r in shingle_containment_pairs(sh, shingle_df_cap=2).collect()
    }
    # uncapped sees the boilerplate head's 15 pairs + the passage pair
    assert (100, 101) in uncapped and uncapped[(100, 101)] == 1.0
    assert sum(1 for k in uncapped if k[0] < 100) == 15
    # capped: the DF-6 head is out of the join; the DF-2 passage stays
    assert capped == {(100, 101): 1.0}


def test_q233_micro_recurrence_tracks_float_pagerank(spark):
    """r8 semantic tie: the unrolled INTEGER recurrence (q233) is the
    serving twin of graph.pagerank — on the same sf0.01 dup graph the
    micro-quantized 3-step ranks must order the head the same way the
    float fixpoint does (every floor loses < 1e-6·deg per node per
    step, far below the rank gaps that decide the top-20)."""
    from mtg_bulk_database_spark.operators import graph
    from mtg_bulk_database_spark.pipeline_queries import (
        shingle_prebuilt_table,
    )
    from mtg_bulk_database_spark.registry import load_registry

    queries, _ = load_registry()
    unrolled = queries["q233_pagerank_unrolled"](spark, SF_DIR).collect()
    assert unrolled

    docs = load_table(spark, SF_DIR, "documents", fan_out=True)
    pairs = dedup.ngram_jaccard_pairs(
        docs, "text", "doc_id", k=3, threshold=0.6,
        shingles_df=shingle_prebuilt_table(spark, SF_DIR),
    ).select("id_a", "id_b")
    fl = {
        r["node"]: r["rank"]
        for r in graph.pagerank(pairs, max_iter=3, tol=0.0).collect()
    }
    for r in unrolled:
        # micro-rank/1e6 within 1e-3 of the float 3-step rank: the
        # only divergence sources are the per-step floors
        assert abs(r["rank"] - fl[r["doc_id"]]) < 1e-3, (
            r, fl[r["doc_id"]],
        )


def test_q236_step_matches_float_gradient(spark):
    """r8 semantic tie: q236's micro-quantized gradient must agree
    with the un-quantized float gradient of classifier.train_logreg's
    iteration body at the same weights to within the quantization
    bound (sigmoid floored at 1e-6, features rounded at 1e-6 →
    per-doc term error < (1e-6·|x| + |resid|·1e-6), mean < 2e-2 on
    n_words-scaled features)."""
    from mtg_bulk_database_spark.operators.classifier import (
        _margin,
        sigmoid,
    )
    from mtg_bulk_database_spark.operators.text_analysis import (
        with_gopher_quality,
        with_quality_score,
    )
    from mtg_bulk_database_spark.pipeline_queries5 import QCLF_W
    from mtg_bulk_database_spark.registry import load_registry

    queries, _ = load_registry()
    got = {
        r["feature"]: r
        for r in queries["q236_logreg_step_portable"](
            spark, SF_DIR
        ).collect()
    }

    feats = ("n_words", "alpha_frac", "stop_frac", "mean_word_len")
    docs = load_table(spark, SF_DIR, "documents")
    base = with_gopher_quality(docs).join(
        with_quality_score(docs).select(
            "doc_id",
            F.when(F.col("quality_score") >= 0.5, 1.0)
            .otherwise(0.0)
            .alias("_y"),
        ),
        "doc_id",
    )
    resid = sigmoid(_margin(list(feats), list(QCLF_W))) - F.col("_y")
    row = base.agg(
        F.count("*").alias("n"),
        F.avg(resid).alias("g_bias"),
        *[
            F.avg(resid * F.col(f).cast("double")).alias(f"g_{f}")
            for f in feats
        ],
    ).collect()[0]
    assert abs(got["bias"]["grad"] - row["g_bias"]) < 2e-2
    for f in feats:
        assert abs(got[f]["grad"] - row[f"g_{f}"]) < 2e-2, f
        # and the update direction is the trainer's
        w = dict(zip(("bias",) + feats, QCLF_W))[f]
        assert abs(
            got[f]["w_new"] - (w - 2.0 * got[f]["grad"])
        ) < 2e-5, f


def test_q235_step_matches_float_means(spark, emb):
    """r8 semantic tie: q235's decimal-summed per-(cluster, dim) means
    must match a float recomputation of the same Lloyd step (pandas
    side) to within the 6 dp rounding bound."""
    import numpy as np

    from mtg_bulk_database_spark.pipeline_queries10 import (
        _Q217_CENTROIDS,
    )
    from mtg_bulk_database_spark.registry import load_registry

    queries, _ = load_registry()
    got = {
        (r["list_id"], r["dim"]): (r["n_members"], r["mean_x"])
        for r in queries["q235_kmeans_step_portable"](
            spark, SF_DIR
        ).collect()
    }

    pdf = emb.toPandas()
    cents = np.array(_Q217_CENTROIDS)
    cn = cents / np.linalg.norm(cents, axis=1, keepdims=True)
    sums: dict[int, np.ndarray] = {}
    counts: dict[int, int] = {}
    for _, row in pdf.iterrows():
        v = row["embedding"]
        if row["vec_id"] == 0 or v is None:
            continue
        x = np.asarray(v, dtype=np.float64)
        nx = np.linalg.norm(x)
        if nx == 0:
            continue
        scores = np.round(cn @ (x / nx), 6)
        lid = int(np.argmax(scores))  # first-max tiebreak, same as SQL
        sums[lid] = sums.get(lid, np.zeros(len(x))) + x
        counts[lid] = counts.get(lid, 0) + 1
    for lid, s in sums.items():
        m = s / counts[lid]
        for d in range(len(m)):
            n_got, mean_got = got[(lid, d + 1)]
            assert n_got == counts[lid], (lid, d)
            assert abs(mean_got - m[d]) < 2e-6, (lid, d)


def test_q246_paragraph_cap_bounds_head_fanout(spark):
    """r9: the paragraph posting join takes the same stop-shingle DF
    cap as q224's containment.  Corpus: eight docs whose FIRST
    paragraph is one shared boilerplate window (the hot head — all
    C(8,2)=28 cross-doc pairs at J=1.0) and whose second paragraph is
    unique, plus one rare two-doc repeat.  With the cap below the
    head's DF the boilerplate shingles leave the posting join — the
    quadratic head fanout is gone — while the rare repeat (DF=2)
    survives at exactly 1.0.  Capped output ⊆ uncapped (the cap only
    shrinks common: conservative, never a false positive)."""
    import pandas as pd

    from mtg_bulk_database_spark.pipeline_queries14 import (
        paragraph_near_dup_pairs,
        paragraph_table,
    )
    from mtg_bulk_database_spark.operators.dedup import shingles as shex
    from pyspark.sql import functions as F

    boiler = ("nav home about contact privacy terms "
              "login logout search help faq cart")
    rare = ("alpha bravo charlie delta echo foxtrot "
            "golf hotel india juliet kilo lima")
    rows = [
        (i, f"{boiler} uniq{i} " + " ".join(f"w{i}x{j}" for j in range(11)))
        for i in range(8)
    ]
    rows += [(100, rare), (101, rare)]
    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [r[0] for r in rows],
                "text": [r[1] for r in rows],
            }
        )
    )
    sh = (
        paragraph_table(docs)
        .filter(F.col("n_ptok") >= 3)
        .select("doc_id", "para_idx", F.split("p_text", " ").alias("_pt"))
        .select("doc_id", "para_idx", shex(F.col("_pt"), 3).alias("shingles"))
    )
    uncapped = {
        (r["doc_a"], r["para_a"], r["doc_b"], r["para_b"]): r["jaccard"]
        for r in paragraph_near_dup_pairs(sh).collect()
    }
    capped = {
        (r["doc_a"], r["para_a"], r["doc_b"], r["para_b"]): r["jaccard"]
        for r in paragraph_near_dup_pairs(sh, shingle_df_cap=2).collect()
    }
    assert sum(1 for k in uncapped if k[0] < 100) == 28  # the hot head
    assert uncapped[(100, 0, 101, 0)] == 1.0
    assert capped == {(100, 0, 101, 0): 1.0}  # head gone, rare intact
    assert set(capped) <= set(uncapped)


def test_epoch_allocation_survives_multi_trillion_token_source(spark):
    """r9 review regression (the q242 overflow class, one width up):
    the naive epochs_micro = alloc*1e6 DIV n overflows int64 once a
    source holds ~9.2e12 tokens — under the 100 TB operating point a
    single dominant source exceeds that.  The split-multiplier form
    must return the EXACT floor at any BIGINT-representable mass,
    pinned against Python big-int arithmetic."""
    import pandas as pd

    from mtg_bulk_database_spark.pipeline_queries13 import (
        epoch_capped_allocation,
    )

    masses = {"giant": 12_000_000_000_000, "big": 7_400_000_000_001,
              "small": 123_456_789}
    counts = spark.createDataFrame(
        pd.DataFrame(
            {"source": list(masses), "n_tokens": list(masses.values())}
        )
    )
    rows = {r["source"]: r for r in epoch_capped_allocation(counts).collect()}
    total = sum(masses.values())
    budget = (39 * total) // 20
    assert sum(r["alloc_tokens"] for r in rows.values()) == budget
    for src, r in rows.items():
        exact = (r["alloc_tokens"] * 1_000_000) // masses[src]
        assert r["epochs_micro"] == exact, src
        assert r["epochs_micro"] <= 2_000_000
