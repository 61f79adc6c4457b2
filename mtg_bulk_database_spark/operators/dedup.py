"""Deduplication operators for large-scale corpus curation (north-star
extension, BASELINE.json): exact, n-gram Jaccard, MinHash+LSH, SimHash,
and blocked embedding-cosine near-dup.

Scale design (the point of each shape):
- exact:      one hash-groupBy shuffle on the dedup key; map-side partial
              aggregation makes it bandwidth-bound, not memory-bound.
- n-gram Jaccard: shingle → explode → equi-join on shingle → per-pair
              counts. Never an O(n²) cross join — cost is Σ|posting list|²
              over shingles, which LSH bounds when the corpus grows.
- MinHash+LSH: fixed-size signatures (64 ints/doc regardless of doc
              length) → band-bucket equi-join → candidates → exact
              verify. The 100 TB path: shuffles carry signatures, not
              documents.
- SimHash:    one 64-bit fingerprint/doc (Arrow-batched pandas UDF —
              the bit-twiddling is the one genuinely non-relational
              step); near-pairs via pigeonhole band join on 16-bit
              chunks, Hamming-verified.
- embedding:  blocked (by label / LSH bucket) pair join with a
              codegen'd cosine — never all-pairs.

Everything returns DataFrames and composes with the registry queries.
"""

from __future__ import annotations

import random
from collections.abc import Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import tokens
from ..functions.vectors import cosine_similarity

# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(df: DataFrame, key_cols: Sequence[str], id_col: str) -> DataFrame:
    """One representative row id per distinct key + the duplicate count.

    ``min(id)`` (not ``first``) keeps the result deterministic under any
    partitioning."""
    return df.groupBy(*key_cols).agg(
        F.min(id_col).alias("representative_id"),
        F.count("*").alias("n_duplicates"),
    )


def drop_exact_duplicates(df: DataFrame, key_cols: Sequence[str], id_col: str) -> DataFrame:
    """Keep only the representative (min-id) row per key — the corpus
    after exact dedup."""
    reps = exact_dedup(df, key_cols, id_col).select(
        F.col("representative_id").alias(id_col)
    )
    return df.join(reps, on=id_col, how="left_semi")


# ---------------------------------------------------------------------------
# word-shingle machinery (shared by Jaccard + MinHash)
# ---------------------------------------------------------------------------


def shingles(tok: Column, k: int = 3) -> Column:
    """Distinct word k-shingles, joined with single spaces.

    IMPORTANT: pass a *materialized* (attribute) token array, not an
    inline ``tokens(text)`` expression — ``element_at`` references the
    array k times per position, and an inline expression would be
    re-evaluated each time (quadratic re-tokenization; observed 30×
    slowdown at sf0.1). ``with_shingles`` handles this correctly.
    """
    n = F.size(tok)
    idx = F.sequence(F.lit(1), n - (k - 1))
    parts = lambda i: F.concat_ws(  # noqa: E731
        " ", *[F.element_at(tok, i + j) for j in range(k)]
    )
    return F.when(n >= k, F.array_distinct(F.transform(idx, parts)))


def _token_projection(
    df: DataFrame, text_col: str, id_col: str, k: int
) -> DataFrame:
    """Shared scaffolding for both shingle builders: tokens materialize
    once per row in their OWN projection, and the too-short filter runs
    on the token count BEFORE any shingle expression exists — filtering
    on shingles afterwards would push the whole shingle expression down
    into the Filter and re-evaluate it per row (the measured 10-30×
    plan trap; see shingles() docstring)."""
    return df.select(F.col(id_col), tokens(text_col).alias("_tok")).filter(
        F.size("_tok") >= k
    )


def with_shingles(
    df: DataFrame, text_col: str, id_col: str, k: int = 3
) -> DataFrame:
    tok = _token_projection(df, text_col, id_col, k)
    return tok.select(
        F.col(id_col), shingles(F.col("_tok"), k).alias("shingles")
    )


def with_hashed_shingles(
    df: DataFrame, text_col: str, id_col: str, k: int = 3
) -> DataFrame:
    """Like :func:`with_shingles` but each k-shingle is an int64
    ``xxhash64(tok_i..tok_{i+k-1})`` instead of a concatenated string —
    no per-shingle string allocation, and downstream consumers that only
    need shingle IDENTITY (MinHash signatures, candidate verification)
    compare/bucket 8-byte ints. A 64-bit collision (P ≈ n²/2⁶⁴) can
    merge two distinct shingles and nudge a jaccard estimate by one
    element — fine for the approximate operators; the exact oracle-
    checked path (:func:`ngram_jaccard_pairs`) stays on strings.
    """
    tok = _token_projection(df, text_col, id_col, k)
    t = F.col("_tok")
    hashed = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size(t) - (k - 1)),
            lambda i: F.xxhash64(*[F.element_at(t, i + j) for j in range(k)]),
        )
    )
    return tok.select(F.col(id_col), hashed.alias("shingles"))


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    threshold: float = 0.8,
    shingles_df: DataFrame | None = None,
) -> DataFrame:
    """All pairs with word-k-gram Jaccard ≥ threshold.

    jaccard = |A∩B| / (|A|+|B|−|A∩B|) with integer counts, so the double
    division is bit-identical across engines (no rounding needed).

    This is the LEAN formulation — posting-list self-join + pair-count
    aggregation, the fewest stages — chosen for latency on corpora with
    dense shingle reuse (measured fastest here; at sf0.1 wall time is
    stage/codegen-bound, not data-bound). For corpora with a long tail
    of rare shingles (real web text at 100 TB), switch to
    :func:`ngram_jaccard_pairs_prefix`, which bounds the candidate set
    with AllPairs df-ordered prefix filtering and is asymptotically
    cheaper; both are exact and pinned equal in tests.
    """
    # the shingle table feeds four plan branches (two join sides + two
    # size lookups); localCheckpoint materializes it once instead of
    # recomputing per branch — measured 4× end-to-end at sf0.1. (At
    # cluster scale the same role is played by persisting the shingle/
    # signature table explicitly between pipeline stages.)
    # ``shingles_df``: a prebuilt/persisted (id, shingles) table — the
    # ingest-time posting index (the reference's trigram GIN analog,
    # init.sql:137-138); when absent, build and materialize per query.
    sh = (
        shingles_df
        if shingles_df is not None
        else with_shingles(df, text_col, id_col, k).localCheckpoint(eager=False)
    )
    sizes = sh.select(
        F.col(id_col).alias("_id"), F.size("shingles").alias("_n")
    )
    # explode_outer + output-side null filter: plain explode makes the
    # optimizer infer `size(shingles) > 0` and push it below the
    # projection, re-inlining (and re-evaluating) the whole shingle
    # expression per row — a 10× slowdown observed at sf0.1.
    # (Measured alternative: carrying per-doc sizes along the exploded
    # postings to skip the size joins is 2× SLOWER — the wider postings
    # change the posting-join strategy; the size joins are tiny
    # broadcasts. Keep this formulation.)
    ex = sh.select(F.col(id_col), F.explode_outer("shingles").alias("s")).filter(
        F.col("s").isNotNull()
    )
    a = ex.select(F.col(id_col).alias("id_a"), "s")
    b = ex.select(F.col(id_col).alias("id_b"), "s")
    common = (
        a.join(b, on="s")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("common"))
    )
    jac = (
        common.join(sizes.withColumnRenamed("_id", "id_a").withColumnRenamed("_n", "n_a"), on="id_a")
        .join(sizes.withColumnRenamed("_id", "id_b").withColumnRenamed("_n", "n_b"), on="id_b")
        .withColumn(
            "jaccard",
            F.col("common").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("common")),
        )
    )
    return jac.filter(F.col("jaccard") >= threshold).select(
        "id_a", "id_b", "jaccard"
    )


def ngram_jaccard_pairs_prefix(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    threshold: float = 0.8,
    shingles_df: DataFrame | None = None,
) -> DataFrame:
    """Exact Jaccard pairs via AllPairs/PPJoin prefix filtering
    (Bayardo et al. WWW'07; Xiao et al. WWW'08) — the scale path for
    long-tail corpora, identical output to :func:`ngram_jaccard_pairs`.

    With every shingle set sorted under one global total order, two
    sets with Jaccard ≥ t MUST share at least one element among their
    first ``n − ⌈t·n⌉ + 1`` shingles — so only that prefix enters the
    posting-list self-join. The order is ASCENDING DOCUMENT FREQUENCY
    (ties by shingle value): prefixes then hold each document's RAREST
    shingles, whose posting lists are shortest — that choice is what
    makes the filter bite (measured at sf0.1: lexicographic order left
    220k candidate pairs, df-order 119k on this deliberately dense
    synthetic corpus; on Zipfian web text, where most shingles are
    near-unique, the candidate set collapses to near the result size).

    Candidates verify COLUMNAR: join the two full shingle arrays back
    and take ``size(array_intersect)`` — no per-shingle rows and no
    (id_a, id_b) groupBy; shuffles carry prefixes and pair ids, never
    documents. Cost = two narrow extra shuffles (df count + ordered
    re-collect) up front, then everything downstream is proportional
    to |candidates| instead of Σ|posting list|².
    """
    base = (
        shingles_df
        if shingles_df is not None
        else with_shingles(df, text_col, id_col, k).localCheckpoint(eager=False)
    )
    posts = base.select(
        F.col(id_col), F.explode_outer("shingles").alias("s")
    ).filter(F.col("s").isNotNull())
    # shingles are distinct within a doc, so count(*) == document freq
    df_tab = posts.groupBy("s").agg(F.count("*").alias("_df"))
    ordered = (
        posts.join(df_tab, on="s")
        .groupBy(id_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("_df"), F.col("s")))
            ).alias("_o")
        )
        .select(
            F.col(id_col),
            F.transform("_o", lambda x: x["s"]).alias("shingles"),
        )
    )
    sh = ordered.localCheckpoint(eager=False)
    n = F.size("shingles")
    prefix_len = (n - F.ceil(n * F.lit(threshold)) + 1).cast("int")
    # explode_outer + output-side null filter: the InferFiltersFromGenerate
    # plan trap again (see ngram_jaccard_pairs). Postings stay NARROW —
    # the length filter is implicit in the verify step's jaccard cut.
    pref = sh.select(
        F.col(id_col),
        F.explode_outer(F.slice("shingles", 1, prefix_len)).alias("s"),
    ).filter(F.col("s").isNotNull())
    a = pref.select(F.col(id_col).alias("id_a"), "s")
    b = pref.select(F.col(id_col).alias("id_b"), "s")
    cand = (
        a.join(b, on="s")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    sh_a = sh.select(F.col(id_col).alias("id_a"), F.col("shingles").alias("_sh_a"))
    sh_b = sh.select(F.col(id_col).alias("id_b"), F.col("shingles").alias("_sh_b"))
    jac = (
        cand.join(sh_a, on="id_a")
        .join(sh_b, on="id_b")
        .withColumn("common", F.size(F.array_intersect("_sh_a", "_sh_b")))
        .withColumn(
            "jaccard",
            F.col("common").cast("double")
            / (F.size("_sh_a") + F.size("_sh_b") - F.col("common")),
        )
    )
    return jac.filter(F.col("jaccard") >= threshold).select(
        "id_a", "id_b", "jaccard"
    )


#: estimated lean-formulation posting-join intermediate (candidate pair
#: rows, Σ_s df_s·(df_s−1)/2) above which the prefix-filtered
#: formulation wins. The lean variant's cost is that intermediate — it
#: must flow through one shuffle+aggregate — while the prefix variant
#: pays two extra narrow stages to bound candidates near the result
#: size. At sf0.1 the intermediate is ~10⁵ rows and lean's fewer stages
#: win; dense shingle reuse at cluster scale pushes it past any
#: executor's shuffle capacity and the ordering inverts. The default is
#: sized to single-executor shuffle comfort (~10M 3-column rows).
LEAN_PAIR_BUDGET = 10_000_000


def estimate_lean_pair_rows(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    sample_target: int = 2048,
) -> float:
    """Estimate the lean formulation's posting-join intermediate size,
    Σ_s df_s·(df_s−1)/2, from one narrow aggregate over the shingles of
    a deterministic hash-sample of documents (the same engine- and
    partitioning-independent sampling the IVF trainer uses). Sampling
    docs at rate p scales each df linearly, so the pair sum scales by
    ≈p² — the estimate divides it back out. On a real cluster this is
    an ingest-time table stat (ANALYZE), not a per-query probe."""
    n_docs = df.count()
    p = 1.0
    sample = df
    if n_docs > sample_target:
        # parts-per-million resolution: a per-mille floor would pin the
        # rate at 1/1000, sampling n_docs/1000 documents on a billion-doc
        # corpus — 500x the requested probe size exactly where the cheap
        # stat matters most
        ppm = max(1, int(1_000_000 * sample_target / n_docs))
        sample = df.filter(
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(1_000_000)) < F.lit(ppm)
        )
        p = ppm / 1_000_000.0
    posts = with_shingles(sample, text_col, id_col, k).select(
        F.explode_outer("shingles").alias("s")
    ).filter(F.col("s").isNotNull())
    row = (
        posts.groupBy("s")
        .agg(F.count("*").alias("_df"))
        .agg(
            F.sum(F.col("_df") * (F.col("_df") - 1) / 2).alias("pairs")
        )
        .first()
    )
    est = float(row["pairs"] or 0.0)
    return est / (p * p)


def choose_jaccard_strategy(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    budget: float = LEAN_PAIR_BUDGET,
    est_pair_rows: float | None = None,
) -> str:
    """Pick the exact-Jaccard formulation from a shingle-frequency stat
    (the ``choose_asof_strategy`` pattern): lean posting-join while its
    quadratic intermediate fits the budget, AllPairs prefix filtering
    once it doesn't. Callers with catalog stats pass ``est_pair_rows``
    to skip the probe."""
    if est_pair_rows is None:
        est_pair_rows = estimate_lean_pair_rows(df, text_col, id_col, k)
    return "prefix" if est_pair_rows > budget else "lean"


def ngram_jaccard_pairs_auto(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    threshold: float = 0.8,
    strategy: str = "auto",
    budget: float = LEAN_PAIR_BUDGET,
    est_pair_rows: float | None = None,
    shingles_df: DataFrame | None = None,
) -> DataFrame:
    """Exact Jaccard pairs with stats-driven formulation choice. Both
    variants are exact and pinned equal in tests, so the switch is
    invisible to callers."""
    if strategy == "auto":
        strategy = choose_jaccard_strategy(
            df, text_col, id_col, k, budget, est_pair_rows
        )
    if strategy == "lean":
        return ngram_jaccard_pairs(
            df, text_col, id_col, k, threshold, shingles_df=shingles_df
        )
    if strategy == "prefix":
        return ngram_jaccard_pairs_prefix(
            df, text_col, id_col, k, threshold, shingles_df=shingles_df
        )
    raise ValueError(f"unknown jaccard strategy: {strategy!r}")


def benchmark_ngram_overlap(
    train: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    min_hits: int = 1,
) -> DataFrame:
    """Decontamination: flag training documents sharing ≥ ``min_hits``
    distinct word n-grams with a benchmark/eval corpus (the standard
    n-gram-overlap contamination check run before any training job).
    Returns (id, n_overlapping_ngrams) for flagged docs — anti-join the
    result against the corpus to drop them.

    Scale shape: the benchmark side is tiny next to the corpus (eval
    sets are thousands of docs, the corpus is billions), so its DISTINCT
    n-gram set is broadcast — the corpus side is one exploded projection
    probed by a broadcast hash join, no shuffle of corpus data at all.
    The count is per (train doc, distinct benchmark n-gram), matching
    the "how many eval n-grams leak into this doc" definition.
    """
    tr = with_shingles(train, text_col, id_col, k=n)
    ex = tr.select(F.col(id_col), F.explode_outer("shingles").alias("s")).filter(
        F.col("s").isNotNull()
    )
    bench_grams = (
        with_shingles(benchmark, text_col, id_col, k=n)
        .select(F.explode_outer("shingles").alias("s"))
        .filter(F.col("s").isNotNull())
        .distinct()
    )
    hits = ex.join(F.broadcast(bench_grams), on="s").groupBy(id_col).agg(
        F.count("*").alias("n_overlapping_ngrams")
    )
    return hits.filter(F.col("n_overlapping_ngrams") >= min_hits)


def cross_corpus_jaccard_pairs(
    train: DataFrame,
    reference: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """FUZZY decontamination: (train doc, reference doc) pairs with
    word-k-gram Jaccard ≥ threshold — catches paraphrased/partially
    edited benchmark leakage that :func:`benchmark_ngram_overlap`'s
    exact n-gram hit count underweights. Returns
    (train_id, ref_id, jaccard); anti-join ``train_id`` to drop.

    Same posting-list shape as :func:`ngram_jaccard_pairs` but the join
    is ACROSS corpora, so there is no id_a < id_b triangle cut — every
    (train, ref) co-occurrence counts once. Scale: the reference side is
    the eval set (thousands of docs vs billions), so its postings and
    sizes broadcast; corpus rows shuffle only on the pair aggregation,
    proportional to candidate pairs, never all-pairs.
    """
    tr = with_shingles(train, text_col, id_col, k).localCheckpoint(eager=False)
    rf = with_shingles(reference, text_col, id_col, k).localCheckpoint(eager=False)
    tr_ex = tr.select(
        F.col(id_col).alias("train_id"), F.explode_outer("shingles").alias("s")
    ).filter(F.col("s").isNotNull())
    rf_ex = rf.select(
        F.col(id_col).alias("ref_id"), F.explode_outer("shingles").alias("s")
    ).filter(F.col("s").isNotNull())
    common = (
        tr_ex.join(F.broadcast(rf_ex), on="s")
        .groupBy("train_id", "ref_id")
        .agg(F.count("*").alias("common"))
    )
    tr_sizes = tr.select(
        F.col(id_col).alias("train_id"), F.size("shingles").alias("n_tr")
    )
    rf_sizes = rf.select(
        F.col(id_col).alias("ref_id"), F.size("shingles").alias("n_rf")
    )
    jac = (
        common.join(tr_sizes, on="train_id")
        .join(F.broadcast(rf_sizes), on="ref_id")
        .withColumn(
            "jaccard",
            F.col("common").cast("double")
            / (F.col("n_tr") + F.col("n_rf") - F.col("common")),
        )
    )
    return jac.filter(F.col("jaccard") >= threshold).select(
        "train_id", "ref_id", "jaccard"
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

_MERSENNE_31 = 2_147_483_647  # 2^31 - 1


def _perm_params(num_perm: int, seed: int) -> list[tuple[int, int]]:
    rng = random.Random(seed)
    return [
        (rng.randrange(1, _MERSENNE_31), rng.randrange(0, _MERSENNE_31))
        for _ in range(num_perm)
    ]


def md5_60(c: Column) -> Column:
    """First 60 bits of md5 as a non-negative int64 — the ENGINE-
    PORTABLE base hash: Spark ``conv(substring(md5(x),1,15),16,10)``
    and DuckDB ``('0x'||substr(md5(x),1,15))::BIGINT`` produce the
    identical value for the identical UTF-8 input, so operators built
    on it can be hash-checked across engines (xxhash64 has no DuckDB
    twin).  15 hex chars = 60 bits < 2⁶³: exact in signed int64."""
    return F.conv(F.substring(F.md5(c.cast("string")), 1, 15), 16, 10).cast(
        "long"
    )


#: (num_perm, seed) → vectorized signature UDF, reused across calls so
#: a session building many signature frames registers one UDF per
#: parameter set (and a reused Python worker keeps its numpy arrays).
_SIG_UDFS: dict = {}


def _signature_from_hashes(
    hashes: Column, num_perm: int, seed: int
) -> Column:
    """Shared permutation core: min over (aᵢ·x + bᵢ) mod p per perm.

    Evaluated as ONE vectorized Arrow batch kernel (r11, guide §4.2):
    the previous form — ``num_perm`` HOF ``transform``+``array_min``
    expressions per row — is a CodegenFallback path, so every
    (perm × shingle) product ran through the row interpreter:
    64 perms × ~220 shingles × |docs| ≈ 70M interpreted expression
    evals per signature build, measured 50-65 executor-CPU-seconds per
    q177/q251 run at sf0.1.  The numpy kernel computes the identical
    integer algebra — ``(a·x + b) mod p`` then column-wise min — in
    one (num_perm × |shingles|) vectorized pass per row: every operand
    is < 2⁶² so int64 is exact, both operands are non-negative so
    ``%`` ≡ ``pmod``, and the values (hence every downstream band
    bucket, candidate set and oracle hash) are bit-identical.  Pinned
    by tests/test_dedup.py::test_signature_kernel_matches_hof_core
    against the old expression form.  A NULL/empty shingle array maps
    to [null × num_perm] exactly as ``array_min(transform(NULL,…))``
    did (unreachable through the ≥k-token builders, covered anyway).
    """
    key = (num_perm, seed)
    sig_udf = _SIG_UDFS.get(key)
    if sig_udf is None:
        params = _perm_params(num_perm, seed)
        a_list = tuple(p[0] for p in params)
        b_list = tuple(p[1] for p in params)
        n_perm = num_perm

        @F.pandas_udf("array<bigint>")
        def _sig(hs: pd.Series) -> pd.Series:
            import numpy as np

            a = np.asarray(a_list, dtype=np.int64)[:, None]
            b = np.asarray(b_list, dtype=np.int64)[:, None]
            nulls = [None] * n_perm
            # Segment-batched kernel (r11b): the per-row form paid one
            # numpy dispatch set (~20 µs) per row; concatenating rows
            # and taking segment mins via ``np.minimum.reduceat``
            # amortizes the dispatch across the batch.  The chunk is
            # CACHE-sized deliberately: fully vectorizing the whole
            # Arrow batch was measured 7× SLOWER than per-row (the
            # (num_perm × Σ|shingles|) temporaries blow L2 and the mod
            # pass goes memory-bound), while ~32k-element chunks ×
            # num_perm stay resident — measured 2.1× over per-row,
            # values bit-identical (same (a·x+b) mod p per element,
            # min over each row's segment, grouping-independent;
            # pinned by test_signature_kernel_matches_hof_core).
            out: list = []
            buf: list = []

            def _flush() -> None:
                if not buf:
                    return
                flat = np.concatenate(buf)
                starts = np.zeros(len(buf), dtype=np.int64)
                np.cumsum(
                    [len(x) for x in buf[:-1]], out=starts[1:]
                )
                mins = np.minimum.reduceat(
                    (a * flat[None, :] + b) % _MERSENNE_31,
                    starts,
                    axis=1,
                ).T
                out.extend(mins[i].tolist() for i in range(len(buf)))
                buf.clear()

            total = 0
            for v in hs:
                if v is None or len(v) == 0:
                    _flush()
                    total = 0  # buffer emptied: keep the running
                    # element count in sync or later flushes fire
                    # early on undersized batches (ADVICE r11)
                    out.append(nulls)
                    continue
                buf.append(np.asarray(v, dtype=np.int64))
                total += len(buf[-1])
                if total >= 32768:
                    _flush()
                    total = 0
            _flush()
            return pd.Series(out)

        sig_udf = _SIG_UDFS[key] = _sig
    return sig_udf(hashes)


def minhash_signature(
    sh: Column, num_perm: int = 64, seed: int = 13, portable: bool = False
) -> Column:
    """num_perm-wide MinHash signature of a shingle array.

    Universal hashing over a bounded base hash: h_i(s) = (aᵢ·x + bᵢ) mod p
    with x = base(s) mod p — all arithmetic stays < 2⁶², so the
    expression is safe under ANSI mode and identical on every executor.
    The base hash is ``xxhash64`` by default (one 64-bit mix; works for
    string and int64 hashed shingles alike).  ``portable=True`` swaps in
    :func:`md5_60`, which has an exact SQL twin in any engine with
    md5() — the family to run when a DIFFERENT system (DuckDB
    spot-checker, a Trino verifier, a vendor migration) must reproduce
    signatures bit-for-bit; ~2-3× slower per shingle.
    """
    # base-hash every shingle ONCE, then each permutation is pure integer
    # arithmetic over the bound hash array (64 perms × cheap pmod, not
    # 64 × base-hash re-evaluations)
    base = md5_60 if portable else F.xxhash64
    hashes = F.transform(sh, lambda s: F.pmod(base(s), F.lit(_MERSENNE_31)))
    return _signature_from_hashes(hashes, num_perm, seed)


def _band_bucket(sig: Column, i: int, rows: int, portable: bool) -> Column:
    """Bucket id of band ``i`` (signature slots ``i·rows+1 … (i+1)·rows``):
    ``xxhash64`` of the slice, or — portable — :func:`md5_60` of the
    slice rendered as a ``v1-v2-…`` string, reproducible in any engine
    with md5()."""
    band = F.slice(sig, i * rows + 1, rows)
    if not portable:
        return F.xxhash64(band)
    return md5_60(F.concat_ws("-", F.transform(band, lambda x: x.cast("string"))))


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    threshold: float = 0.8,
    num_perm: int = 64,
    bands: int = 16,
    seed: int = 13,
    shingles_df: DataFrame | None = None,
    portable: bool = False,
) -> DataFrame:
    """Near-dup pairs via banded MinHash candidates, then Jaccard
    verification of candidates.

    With 64 perms in 16 bands of 4 rows, a pair at s=0.8 is a candidate
    with p ≈ 0.9998; misses are possible by construction (documented
    approximate recall).  Candidates come from the (band, bucket)
    equi-join, never all-pairs.

    ``portable`` picks the hash family, never the plan shape:

    - default: int64 hashed shingles (:func:`with_hashed_shingles`),
      xxhash64 base hash and band buckets.  Fastest (no per-shingle
      string allocation: only shingle identity matters); the verify step
      compares int64 hashes, so a false positive requires an xxhash64
      collision within one document pair's shingle sets (P ≈ n²/2⁶⁴ —
      negligible but not zero; the string-exact zero-FP guarantee lives
      in :func:`ngram_jaccard_pairs`).
    - ``portable=True``: STRING shingles (:func:`with_shingles`), md5
      base hash and band buckets — every stage (signatures → buckets →
      candidate equi-join → exact-Jaccard verify) is reproducible in any
      engine with ``md5()``, so the whole banded plan hash-checks
      against a DuckDB twin (q177).

    ``shingles_df`` is a prebuilt ``(id_col, shingles)`` table of the
    matching kind (hashed for the default, string for portable).
    """
    rows = num_perm // bands
    if shingles_df is None:
        build = with_shingles if portable else with_hashed_shingles
        shingles_df = build(df, text_col, id_col, k)
    # materialized once: the signature frame feeds the band explode and
    # both exact-verify branches (see ngram_jaccard_pairs note); with a
    # prebuilt shingle table it recomputes only the signature projection
    sh = shingles_df.withColumn(
        "sig", minhash_signature(F.col("shingles"), num_perm, seed, portable)
    ).localCheckpoint(eager=False)
    band_cols = F.explode_outer(  # _outer: see ngram_jaccard_pairs note
        F.array(
            *[
                F.struct(
                    F.lit(i).alias("band"),
                    _band_bucket(F.col("sig"), i, rows, portable).alias(
                        "bucket"
                    ),
                )
                for i in range(bands)
            ]
        )
    ).alias("b")
    buckets = sh.select(F.col(id_col), band_cols).select(
        id_col, "b.band", "b.bucket"
    )
    cand = (
        buckets.alias("x")
        .join(
            buckets.alias("y"),
            on=[
                F.col("x.band") == F.col("y.band"),
                F.col("x.bucket") == F.col("y.bucket"),
                F.col(f"x.{id_col}") < F.col(f"y.{id_col}"),
            ],
        )
        .select(
            F.col(f"x.{id_col}").alias("id_a"), F.col(f"y.{id_col}").alias("id_b")
        )
        .distinct()
    )
    sh_a = sh.select(F.col(id_col).alias("id_a"), F.col("shingles").alias("sh_a"))
    sh_b = sh.select(F.col(id_col).alias("id_b"), F.col("shingles").alias("sh_b"))
    # |A∪B| = |A|+|B|−|A∩B| for the distinct-element arrays every
    # shingle builder emits (array_distinct at construction), so ONE
    # hash-set pass per candidate replaces intersect+union (integer
    # counts → identical double).  The hoisted `_common` column is
    # referenced twice, which blocks CollapseProject from inlining
    # (non-cheap expr) — array_intersect evaluates once, same
    # discipline as q223's named score arrays.
    verified = (
        cand.join(sh_a, on="id_a")
        .join(sh_b, on="id_b")
        .withColumn(
            "_common", F.size(F.array_intersect("sh_a", "sh_b"))
        )
        .withColumn(
            "jaccard",
            F.col("_common").cast("double")
            / (F.size("sh_a") + F.size("sh_b") - F.col("_common")),
        )
    )
    return verified.filter(F.col("jaccard") >= threshold).select(
        "id_a", "id_b", "jaccard"
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def with_simhash(df: DataFrame, text_col: str, id_col: str, k: int = 3) -> DataFrame:
    """64-bit SimHash fingerprint per document over word-k-shingle
    features (Arrow-batched pandas UDF — deterministic: md5-derived
    feature hashes, no Python ``hash``). Shingle features make the
    fingerprint order-sensitive, which separates permuted near-dups
    from text that merely shares vocabulary."""
    @F.pandas_udf("long")
    def simhash64(texts: pd.Series) -> pd.Series:
        import hashlib
        import re

        out = []
        for text in texts:
            # split-before-lower: the tokenizer family's locale-free
            # order (functions/text.py module docstring)
            toks = [
                t.lower()
                for t in re.split(r"[^a-zA-Z0-9]+", text or "")
                if t
            ]
            feats = {
                " ".join(toks[i : i + k]) for i in range(max(len(toks) - k + 1, 0))
            }
            acc = [0] * 64
            for t in feats:
                h = int.from_bytes(
                    hashlib.md5(t.encode()).digest()[:8], "big", signed=False
                )
                for bit in range(64):
                    acc[bit] += 1 if (h >> bit) & 1 else -1
            fp = 0
            for bit in range(64):
                if acc[bit] > 0:
                    fp |= 1 << bit
            # wrap to signed 64-bit for Spark LongType
            out.append(fp - (1 << 64) if fp >= (1 << 63) else fp)
        return pd.Series(out, dtype="int64")

    return df.select(id_col, simhash64(F.col(text_col)).alias("simhash"))


def hamming64_near_pairs(
    fp: DataFrame, hash_col: str, id_col: str, max_hamming: int
) -> DataFrame:
    """Generic pigeonhole band join over a precomputed 64-bit hash
    column: split into 8 8-bit chunks — any pair within Hamming 7
    shares at least one exact chunk, so candidates come from an
    equi-join on (chunk_idx, chunk_value), never all-pairs. Shared by
    the text SimHash and image average-hash near-dup paths. Callers
    should localCheckpoint ``fp`` if the hash came from a Python stage
    (it feeds both sides of the self-join).

    ``max_hamming`` must be <= 7: with 8 chunks, a pair at distance 8+
    can differ in every chunk and would silently never become a
    candidate — raise rather than lose recall."""
    if not 0 <= max_hamming <= 7:
        raise ValueError(
            "hamming64_near_pairs: 8x8-bit pigeonhole banding is only "
            f"complete for max_hamming <= 7 (got {max_hamming}); use more, "
            "narrower bands for larger radii"
        )
    chunks = fp.select(
        id_col,
        hash_col,
        F.explode_outer(  # _outer: see ngram_jaccard_pairs note
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk"),
                        F.shiftright(hash_col, i * 8)
                        .bitwiseAND(F.lit(0xFF))
                        .alias("val"),
                    )
                    for i in range(8)
                ]
            )
        ).alias("c"),
    ).select(id_col, hash_col, "c.chunk", "c.val")
    x, y = chunks.alias("x"), chunks.alias("y")
    cand = (
        x.join(
            y,
            on=[
                F.col("x.chunk") == F.col("y.chunk"),
                F.col("x.val") == F.col("y.val"),
                F.col(f"x.{id_col}") < F.col(f"y.{id_col}"),
            ],
        )
        .select(
            F.col(f"x.{id_col}").alias("id_a"),
            F.col(f"y.{id_col}").alias("id_b"),
            F.col(f"x.{hash_col}").alias("fp_a"),
            F.col(f"y.{hash_col}").alias("fp_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def simhash_near_pairs(
    df: DataFrame, text_col: str, id_col: str, max_hamming: int = 5
) -> DataFrame:
    """Pairs with Hamming(simhash) ≤ max_hamming via the pigeonhole
    band join: split 64 bits into 8 8-bit chunks — any pair within
    Hamming 7 shares at least one exact chunk, so the join is an
    equi-join on (chunk_idx, chunk_value), never all-pairs."""
    # fingerprints feed both sides of the chunk self-join — materialize
    # once or the pandas UDF runs twice (see ngram_jaccard_pairs note)
    fp = with_simhash(df, text_col, id_col).localCheckpoint(eager=False)
    chunks = fp.select(
        id_col,
        "simhash",
        F.explode_outer(  # _outer: see ngram_jaccard_pairs note
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk"),
                        F.shiftright("simhash", i * 8)
                        .bitwiseAND(F.lit(0xFF))
                        .alias("val"),
                    )
                    for i in range(8)
                ]
            )
        ).alias("c"),
    ).select(id_col, "simhash", "c.chunk", "c.val")
    x, y = chunks.alias("x"), chunks.alias("y")
    cand = (
        x.join(
            y,
            on=[
                F.col("x.chunk") == F.col("y.chunk"),
                F.col("x.val") == F.col("y.val"),
                F.col(f"x.{id_col}") < F.col(f"y.{id_col}"),
            ],
        )
        .select(
            F.col(f"x.{id_col}").alias("id_a"),
            F.col(f"y.{id_col}").alias("id_b"),
            F.col("x.simhash").alias("fp_a"),
            F.col("y.simhash").alias("fp_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# ---------------------------------------------------------------------------
# embedding near-dup (blocked cosine)
# ---------------------------------------------------------------------------


def embedding_top_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    block_col: str | None = "label",
    top_n: int = 20,
    max_block_rows: int | None = 10_000,
    n_subplanes: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Most-similar embedding pairs, blocked so the pair join is
    per-block (by label here; by LSH bucket when no label exists —
    see similarity.lsh_buckets). Cosine rounded to 4 dp with id
    tie-breaks keeps ordering engine-stable.

    Within-block pairs are O(b²), so one fat block would explode at
    scale. ``max_block_rows`` guards that: blocks larger than the cap are
    sub-blocked by hyperplane-LSH bucket (documented recall trade-off —
    near-identical vectors still co-bucket, distant same-label pairs may
    be missed), bounding candidate volume at Σ sub-block². The per-block
    count is one narrow shuffle of (block, 1) pairs and the size table is
    broadcast back — never a driver collect. Blocks under the cap are
    untouched, so small-block results (and the q35 oracle) are exact.
    """
    from ..functions.vectors import dot, indexable_vector, l2_norm

    # NULL / zero-norm vectors have no direction: drop before the
    # normalize (whose 0/0 is NULL in Spark but NaN — sorting FIRST —
    # in an IEEE engine; see functions.vectors.indexable_vector)
    df = df.where(indexable_vector(F.col(vec_col)))
    cols = [F.col(id_col), F.col(vec_col)]
    if block_col:
        cols.append(F.col(block_col))
    # normalize each vector ONCE (2k norm folds) instead of per pair
    # (2×200k) — cosine of unit vectors is just the dot product. The
    # norm is let-bound via a single-element transform so it computes
    # once per ROW, not once per element; the normalized table is
    # checkpointed so both join sides reuse it.
    vec_dbl = F.col(vec_col).cast("array<double>")
    normalized = F.element_at(
        F.transform(
            F.array(l2_norm(vec_dbl)),
            lambda n: F.transform(vec_dbl, lambda x: x / n),
        ),
        1,
    )
    e = df.select(*cols).withColumn(vec_col, normalized)
    join_keys = [block_col] if block_col else []
    if block_col and max_block_rows is not None:
        # cheap probe: one column-pruned scan of the block column alone —
        # the guard machinery (bucket column, size broadcast) only engages
        # when a block actually exceeds the cap, so the common case pays
        # a ~free count, not an extra join
        max_block = (
            df.groupBy(block_col)
            .agg(F.count(F.lit(1)).alias("_n"))
            .agg(F.max("_n"))
            .first()[0]
        )
        if max_block is not None and max_block > max_block_rows:
            from .similarity import with_lsh_buckets

            dim = len(df.select(vec_col).head(1)[0][0])
            e = with_lsh_buckets(
                e, dim=dim, n_planes=n_subplanes, vec_col=vec_col, seed=seed
            )
            sizes = e.groupBy(block_col).agg(F.count(F.lit(1)).alias("_bn"))
            e = (
                e.join(F.broadcast(sizes), on=block_col)
                .withColumn(
                    "_sub",
                    F.when(F.col("_bn") > max_block_rows, F.col("bucket")).otherwise(
                        F.lit(0)
                    ),
                )
                .drop("bucket", "_bn")
            )
            join_keys.append("_sub")
    e = e.localCheckpoint(eager=False)
    on = [F.col(f"x.{id_col}") < F.col(f"y.{id_col}")]
    for k in reversed(join_keys):
        on.insert(0, F.col(f"x.{k}") == F.col(f"y.{k}"))
    pairs = (
        e.alias("x")
        .join(e.alias("y"), on=on)
        .select(
            F.col(f"x.{id_col}").alias("id_a"),
            F.col(f"y.{id_col}").alias("id_b"),
            F.round(
                dot(F.col(f"x.{vec_col}"), F.col(f"y.{vec_col}")), 4
            ).alias("cosine"),
        )
    )
    return pairs.orderBy(
        F.col("cosine").desc(), F.col("id_a"), F.col("id_b")
    ).limit(top_n)


def embedding_near_dup_lsh(
    df: DataFrame,
    threshold: float = 0.4,
    n_planes: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
) -> DataFrame:
    """Label-free embedding near-dup: block by hyperplane-LSH bucket
    (computable at ingest, usable as a partition key), pair-join within
    buckets only, verify with exact cosine ≥ threshold.

    Same candidate-then-verify contract as MinHash: precision 1.0 by
    construction; recall bounded by P(same bucket) = (1 − θ/π)^planes —
    tune planes (or add multiprobe) per corpus. Candidate volume drops
    from n² to Σ bucket².
    """
    from ..functions.vectors import indexable_vector
    from .similarity import with_lsh_buckets

    df = df.where(indexable_vector(F.col(vec_col)))
    head = df.select(vec_col).head(1)
    if not head:
        # empty input → empty pairs frame, not a crash on first()[0]
        return df.sparkSession.createDataFrame(
            [], "id_a long, id_b long, cosine double"
        )
    dim = len(head[0][0])
    e = with_lsh_buckets(df, dim=dim, n_planes=n_planes, vec_col=vec_col, seed=seed)
    e = e.select(id_col, vec_col, "bucket")
    pairs = (
        e.alias("x")
        .join(
            e.alias("y"),
            on=[
                F.col("x.bucket") == F.col("y.bucket"),
                F.col(f"x.{id_col}") < F.col(f"y.{id_col}"),
            ],
        )
        .select(
            F.col(f"x.{id_col}").alias("id_a"),
            F.col(f"y.{id_col}").alias("id_b"),
            F.round(
                cosine_similarity(F.col(f"x.{vec_col}"), F.col(f"y.{vec_col}")), 4
            ).alias("cosine"),
        )
    )
    return pairs.filter(F.col("cosine") >= threshold)


def semantic_dedup(
    df: DataFrame,
    threshold: float = 0.7,
    n_lists: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
    assigned: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic deduplication by
    clustering embeddings with k-means and removing within-cluster
    near-duplicates. Returns (id, keep, cluster_id, dup_group): one
    ``keep=true`` representative (min id — the paper keeps a per-group
    exemplar; min is the deterministic choice) per duplicate group.

    Spark shape: the coarse k-means comes from ``similarity.ivf_index``
    (sampled training, spherical — an ingest artifact at scale); pair
    candidates form ONLY within a list (Σ list² not n², same blocking
    argument as LSH, but data-adaptive); exact-cosine verification
    keeps precision 1.0; transitive closure via
    ``graph.connected_components``. Every stage is an existing tested
    operator — this is the composition, not new machinery.
    """
    from .graph import connected_components
    from .similarity import ivf_index

    if assigned is None:
        # standalone call trains its own coarse quantizer; pass the
        # prebuilt ``ivf_index`` assignment to reuse the ingest artifact
        assigned, _ = ivf_index(df, n_lists=n_lists, vec_col=vec_col, seed=seed)
    e = assigned.select(id_col, vec_col, "list_id")
    pairs = (
        e.alias("x")
        .join(
            e.alias("y"),
            on=[
                F.col("x.list_id") == F.col("y.list_id"),
                F.col(f"x.{id_col}") < F.col(f"y.{id_col}"),
            ],
        )
        .select(
            F.col(f"x.{id_col}").alias("id_a"),
            F.col(f"y.{id_col}").alias("id_b"),
            F.round(
                cosine_similarity(F.col(f"x.{vec_col}"), F.col(f"y.{vec_col}")), 4
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )
    comp = connected_components(pairs)
    out = (
        assigned.select(id_col, "list_id")
        .join(comp, assigned[id_col] == comp["node"], "left")
        .select(
            F.col(id_col),
            F.col("list_id").alias("cluster_id"),
            F.coalesce(F.col("component"), F.col(id_col)).alias("dup_group"),
        )
        .withColumn(
            "keep", F.col("dup_group") == F.col(id_col)
        )
    )
    return out


# ---------------------------------------------------------------------------
# Exact duplicate-substring spans (suffix-array dedup, relationalized)
# ---------------------------------------------------------------------------


def duplicate_substring_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 20,
    min_len: int = 40,
    min_docs: int = 2,
) -> DataFrame:
    """Maximal character spans (≥ ``min_len``) whose every length-``k``
    substring also occurs in ≥ ``min_docs`` distinct documents — the
    EXACT substring-level duplication pass of Lee et al. 2022
    ("Deduplicating Training Data Makes Language Models Better"),
    re-expressed relationally instead of via a monolithic suffix array:

    1. every character position becomes a (doc, pos, md5₆₀(k-gram))
       row — the same Θ(total chars) expansion a suffix array sorts,
       here a scan + explode that partitions freely;
    2. one hash-groupBy finds k-grams living in ≥ min_docs documents
       (count-distinct, map-side combined) — the posting-list shuffle
       IS the suffix-array sort's distributed analog;
    3. a LEFT SEMI join marks duplicated positions, and a per-document
       gaps-and-islands window (pos − row_number) chains CONSECUTIVE
       duplicated positions into maximal spans: a span of islands
       [a..b] certifies chars [a, b+k−1] as duplicated text.

    Windows partition by document (bounded by document length), so no
    single-partition stage exists at any corpus size; the only global
    shuffles key on the 60-bit gram hash.  The cheaper screens
    (winnowing fingerprints, chunk-level repeated passages) remain the
    first-line filters; this is the exact pass run on what they flag.

    Returns (id, span_start, span_len) with 1-based starts; spans
    within a document may overlap by up to k−2 chars when separated by
    exactly one non-duplicated gram — :func:`covered_char_spans`
    interval-merges them for exact per-document coverage.
    """
    t = F.col(text_col)
    pos = (
        df.select(
            F.col(id_col),
            t,
            F.explode(
                F.when(
                    F.length(t) >= k, F.sequence(F.lit(1), F.length(t) - k + 1)
                ).otherwise(F.array().cast("array<int>"))
            ).alias("i"),
        )
        .select(
            id_col,
            "i",
            md5_60(t.substr(F.col("i"), F.lit(k))).alias("_g"),
        )
        # feeds the dup-gram aggregate AND the semi join: materialize once
        .localCheckpoint(eager=False)
    )
    dup = (
        pos.groupBy("_g")
        .agg(F.count_distinct(F.col(id_col)).alias("_nd"))
        .where(F.col("_nd") >= min_docs)
        .select("_g")
    )
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy("i")
    return (
        pos.join(dup, "_g", "left_semi")
        .withColumn("_isl", F.col("i") - F.row_number().over(w))
        .groupBy(id_col, "_isl")
        .agg(
            F.min("i").alias("span_start"),
            (F.max("i") - F.min("i") + k).alias("span_len"),
        )
        .where(F.col("span_len") >= min_len)
        .select(id_col, "span_start", "span_len")
    )


def covered_char_spans(spans: DataFrame, id_col: str) -> DataFrame:
    """Interval-union of (span_start, span_len) per document →
    (id, dup_chars): the exact number of characters inside at least
    one duplicated span.  Classic running-max interval merge, windowed
    per document (span starts are strictly increasing within a doc,
    so the ordering is total without a tiebreak)."""
    from pyspark.sql import Window

    end = F.col("span_start") + F.col("span_len") - 1
    w_prev = (
        Window.partitionBy(id_col)
        .orderBy("span_start")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy(id_col)
        .orderBy("span_start")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    new_grp = F.when(
        F.col("span_start") > F.max(end).over(w_prev), 1
    ).otherwise(0)  # first row: max over empty frame is NULL -> otherwise(0)
    merged = (
        spans.withColumn("_end", end)
        .withColumn("_new", new_grp)
        .withColumn("_grp", F.sum("_new").over(w_run))
        .groupBy(id_col, "_grp")
        .agg((F.max("_end") - F.min("span_start") + 1).alias("_covered"))
    )
    return merged.groupBy(id_col).agg(F.sum("_covered").alias("dup_chars"))
