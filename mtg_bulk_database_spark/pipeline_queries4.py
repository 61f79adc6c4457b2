"""Registry entries, round 3: corpus-composition operators a web-scale
training-data run layers over the dedup family — per-source quota
capping, corpus-unigram token-commonness scoring, and repeated-passage
(cross-document chunk) detection.

All three are deterministic and carry exact DuckDB twins. Scale notes
inline per operator; the shared design rule is that every per-document
score is an exact integer ratio (single final division), so values are
bit-identical across engines with no decimal/rounding dance.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .catalog import _session_memo, load_table
from .functions.text import sql_tokens, sql_ts_tokens, tokens
from .operators.text_analysis import sql_stopword_hits
from .operators import dedup
from .registry import query

_TOKS = sql_tokens("text")

#: per-source document cap for the quota operator (small on the test
#: corpus — 25 docs/source — so the cap visibly bites).
_QUOTA_CAP = 10


@query(
    "q97_source_quota_cap",
    f"""WITH r AS (
          SELECT doc_id, source,
                 row_number() OVER (
                   PARTITION BY source
                   ORDER BY md5(coalesce(text, '')), doc_id) AS rn
          FROM documents)
        SELECT doc_id, source, rn AS quota_rank
        FROM r WHERE rn <= {_QUOTA_CAP}""",
)
def q97(spark, sf_dir):
    """Per-source quota capping (corpus mixing's other half): keep at
    most N documents per source, chosen by CONTENT HASH order — a
    deterministic, engine- and partitioning-independent lottery, the
    same no-RNG rule as the stratified sampler (q83). One window
    shuffle on ``source``; at 100 TB the rank never materializes more
    than the winning rows past the filter (rank predicate applies
    streamingly within each sorted partition).
    """
    # coalesce before hashing: NULL text must rank identically in both
    # engines (Spark sorts NULLs first, DuckDB last)
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.coalesce(F.col("text"), F.lit(""))), F.col("doc_id")
    )
    return (
        docs.withColumn("quota_rank", F.row_number().over(w))
        .filter(F.col("quota_rank") <= _QUOTA_CAP)
        .select("doc_id", "source", "quota_rank")
    )


@query(
    "q98_token_commonness",
    f"""WITH tok AS (
          SELECT doc_id, unnest({_TOKS}) AS t FROM documents),
        vocab AS (
          SELECT t, count(*) AS n_t FROM tok GROUP BY t),
        scored AS (
          SELECT tok.doc_id,
                 count(*) AS n_tokens,
                 CAST(sum(n_t) AS BIGINT) AS sum_token_freq,
                 CAST(sum(CASE WHEN n_t = 1 THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_hapax
          FROM tok JOIN vocab USING (t)
          GROUP BY tok.doc_id)
        SELECT d.doc_id,
               coalesce(s.n_tokens, 0) AS n_tokens,
               coalesce(s.sum_token_freq, 0) AS sum_token_freq,
               CASE WHEN s.n_tokens > 0
                    THEN s.sum_token_freq::DOUBLE / s.n_tokens
                    ELSE 0.0 END AS avg_token_freq,
               coalesce(s.n_hapax, 0) AS n_hapax
        FROM documents d LEFT JOIN scored s ON s.doc_id = d.doc_id""",
)
def q98(spark, sf_dir):
    """Corpus-unigram commonness score — the cheap statistical-LM
    quality signal (docs of globally rare tokens ≈ noise/gibberish;
    ``n_hapax`` counts corpus-unique tokens, the classic garbage
    indicator). Engine-exact by construction: per-doc sums are INTEGER
    (total corpus occurrences of each token instance), with one final
    double division — no float accumulation order to diverge on.

    Plan: one explode + count groupBy builds the vocab; token postings
    join the vocab on the token (both sides shuffle-partition on the
    token — Zipf skew on head tokens is the AQE skew-join case), then
    one groupBy back on doc_id. Nothing driver-side; the vocab is a
    real table, never collected.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode_outer(tokens("text")).alias("t")
    ).filter(F.col("t").isNotNull())
    vocab = tok.groupBy("t").agg(F.count("*").alias("n_t"))
    scored = (
        tok.join(vocab, on="t")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("n_t").alias("sum_token_freq"),
            F.sum(F.when(F.col("n_t") == 1, 1).otherwise(0)).alias("n_hapax"),
        )
    )
    return (
        docs.select("doc_id")
        .join(scored, on="doc_id", how="left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            F.coalesce("sum_token_freq", F.lit(0)).alias("sum_token_freq"),
            F.when(
                F.col("n_tokens") > 0,
                F.col("sum_token_freq").cast("double") / F.col("n_tokens"),
            )
            .otherwise(F.lit(0.0))
            .alias("avg_token_freq"),
            F.coalesce("n_hapax", F.lit(0)).alias("n_hapax"),
        )
    )


@query(
    "q99_repeated_passages",
    f"""WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
        nz AS (SELECT doc_id, t FROM toks WHERE len(t) > 0),
        st AS (SELECT doc_id, t, unnest(range(0, len(t), 12)) AS s FROM nz),
        ch AS (SELECT doc_id,
                      array_to_string(list_slice(t, s + 1, s + 16), ' ')
                        AS chunk_text
               FROM st)
        SELECT chunk_text,
               min(doc_id) AS representative_id,
               count(*) AS n_occurrences,
               count(DISTINCT doc_id) AS n_docs
        FROM ch
        GROUP BY chunk_text
        HAVING count(DISTINCT doc_id) >= 2""",
)
def q99(spark, sf_dir):
    """Repeated-passage detection: 16-token chunks (q80's chunker —
    boilerplate shows up as the SAME chunk in many documents) that occur
    in ≥2 distinct documents, with the min-id representative — the
    passage-level analogue of exact dedup, and the removal list a
    CCNet-style line-dedup pass consumes. One groupBy on the chunk text
    after the zero-shuffle chunker; at 100 TB hash the chunk to an int64
    key first (the with_hashed_shingles trick) so the shuffle carries
    8-byte keys instead of passage strings.
    """
    from .operators import text_analysis

    docs = load_table(spark, sf_dir, "documents")
    chunks = text_analysis.chunk_documents(docs, chunk_tokens=16, overlap=4)
    return (
        chunks.groupBy("chunk_text")
        .agg(
            F.min("doc_id").alias("representative_id"),
            F.count("*").alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .filter(F.col("n_docs") >= 2)
    )


# ---------------------------------------------------------------------------
# heavy-hitter tokens: the corpus's most frequent non-stopword terms
# ---------------------------------------------------------------------------
@query(
    "q100_heavy_hitter_tokens",
    f"""WITH tok AS (SELECT unnest({_TOKS}) AS t FROM documents)
        SELECT t AS token, count(*) AS n
        FROM tok GROUP BY t
        ORDER BY n DESC, t LIMIT 20""",
)
def q100(spark, sf_dir):
    """Exact heavy hitters over the token stream — vocabulary heads for
    filter lists and tokenizer audits. Partial (map-side) aggregation
    collapses each partition to its local counts before the single
    narrow shuffle, and TakeOrderedAndProject keeps only 20 rows per
    partition — this exact plan IS the scale path; a count-min sketch
    would only trade exactness for a smaller shuffle that is already
    vocabulary-sized, not corpus-sized. Deterministic tie-break on the
    token keeps top-k stable under the oracle hash."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(F.explode_outer(tokens("text")).alias("token")).filter(
        F.col("token").isNotNull()
    )
    return (
        tok.groupBy("token")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("token"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# fuzzy decontamination: Jaccard near-match against the held-out set
# ---------------------------------------------------------------------------
@query(
    "q101_cross_corpus_near_dup",
    f"""WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
        sh AS (SELECT doc_id,
                      list_distinct(list_transform(range(1, len(t) - 1),
                        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingles
               FROM toks WHERE len(t) >= 3),
        tr AS (SELECT doc_id AS train_id, unnest(shingles) AS s FROM sh
               WHERE doc_id % 7 <> 0),
        rf AS (SELECT doc_id AS ref_id, unnest(shingles) AS s FROM sh
               WHERE doc_id % 7 = 0),
        pairs AS (
          SELECT train_id, ref_id, count(*) AS common
          FROM tr JOIN rf USING (s)
          GROUP BY 1, 2)
        SELECT train_id, ref_id,
               common::DOUBLE / (sa.n + sb.n - common) AS jaccard
        FROM pairs
        JOIN (SELECT doc_id, len(shingles) AS n FROM sh) sa
          ON sa.doc_id = train_id
        JOIN (SELECT doc_id, len(shingles) AS n FROM sh) sb
          ON sb.doc_id = ref_id
        WHERE common::DOUBLE / (sa.n + sb.n - common) >= 0.5""",
)
def q101(spark, sf_dir):
    """Fuzzy decontamination (q81's exact-overlap complement): training
    docs whose shingle set near-matches a held-out doc at Jaccard ≥ 0.5
    — paraphrased leakage that an exact n-gram hit count underweights.
    Held-out set = docs with id ≡ 0 mod 7 (~1/7 of the corpus; unlike
    q81's mod-41 split, this one bisects several of the corpus's
    engineered near-dup pairs, so the gate checks real matches rather
    than an empty result)."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    ref = docs.filter(F.col("doc_id") % 7 == 0)
    train = docs.filter(F.col("doc_id") % 7 != 0)
    return dedup.cross_corpus_jaccard_pairs(
        train, ref, "text", "doc_id", k=3, threshold=0.5
    )


# ---------------------------------------------------------------------------
# sequence packing: chunks → fixed-token-budget training sequences
# ---------------------------------------------------------------------------
_PACK_BUDGET = 64  # tokens per packed sequence (chunks are ≤16 tokens)
_PACK_SHARDS = 16


@query(
    "q102_pack_sequences",
    f"""WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
        nz AS (SELECT doc_id, t FROM toks WHERE len(t) > 0),
        st AS (SELECT doc_id, t, unnest(range(0, len(t), 12)) AS s FROM nz),
        ch AS (SELECT doc_id, s // 12 AS chunk_idx,
                      len(list_slice(t, s + 1, s + 16)) AS n_chunk_tokens
               FROM st),
        sh AS (SELECT doc_id, chunk_idx, n_chunk_tokens,
                      doc_id % {_PACK_SHARDS} AS shard
               FROM ch)
        SELECT doc_id, chunk_idx, shard, n_chunk_tokens,
               CAST(coalesce(sum(n_chunk_tokens) OVER (
                      PARTITION BY shard ORDER BY doc_id, chunk_idx
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    // {_PACK_BUDGET} AS BIGINT) AS seq_id
        FROM sh""",
)
def q102(spark, sf_dir):
    """Sequence packing: assign every context chunk to a fixed-token-
    budget training sequence by token OFFSET within its shard — the
    step that turns a curated corpus into pretraining batches. The
    assignment is floor(prefix_token_count / budget) over a
    deterministic (doc_id, chunk_idx) order, so a sequence can overflow
    the budget by at most one chunk (standard approximate packing);
    integer window sums make it engine-exact.

    Scale: the cumulative sum is windowed WITHIN a hash shard — one
    shuffle on the shard key, each shard's scan is an independent
    streaming prefix sum. A single global ordering would serialize the
    whole corpus through one partition; per-shard packing is what
    training-data builders do anyway (shards are the unit of shuffling
    and resume)."""
    from .operators import text_analysis

    docs = load_table(spark, sf_dir, "documents")
    chunks = text_analysis.chunk_documents(docs, chunk_tokens=16, overlap=4)
    sh = chunks.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        "n_chunk_tokens",
        F.pmod("doc_id", F.lit(_PACK_SHARDS)).alias("shard"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id", "chunk_idx")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = F.coalesce(F.sum("n_chunk_tokens").over(w), F.lit(0))
    return sh.select(
        "doc_id",
        "chunk_idx",
        "shard",
        "n_chunk_tokens",
        F.floor(cum_before / _PACK_BUDGET).alias("seq_id"),
    )


def _q103_oracle() -> str:
    """DuckDB twin of the SQ+refine probe (r5 — supersedes the r2
    rows-only call): every stage is deterministic, so it IS SQL-
    expressible after all.  Quantization uses ⌊x·s + ½⌋ (the operator
    chose floor precisely because round() tie rules differ across
    engines), the coarse rank uses the shared round-4 + vec_id
    tie-break, and the refine rescores the 50 coarse survivors with
    full precision — identical candidate sets because the rounded
    coarse key is bit-equal under the q35-proven fold path."""
    from .functions.vectors import sql_cosine

    return f"""
      WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      quant AS (
        SELECT vec_id, embedding,
               CASE WHEN amax > 0 THEN 127.0 / amax ELSE 1.0 END AS s
        FROM (SELECT vec_id, embedding,
                     list_max(list_transform(embedding,
                              x -> abs(x::DOUBLE))) AS amax
              FROM embeddings
              WHERE vec_id <> 0 AND (sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))) > 0))
      ),
      deq AS (
        SELECT vec_id, embedding,
               list_transform(embedding,
                              x -> floor(x::DOUBLE * s + 0.5) / s) AS dv
        FROM quant
      ),
      coarse AS (
        SELECT vec_id, embedding
        FROM deq, q
        ORDER BY round({sql_cosine('deq.dv', 'q.qe')}, 4) DESC, vec_id
        LIMIT 50
      )
      SELECT vec_id, round({sql_cosine('coarse.embedding', 'q.qe')}, 4) AS cosine
      FROM coarse, q
      ORDER BY cosine DESC, vec_id LIMIT 10"""


@query("q103_sq_refine_topk", _q103_oracle())
def q103(spark, sf_dir):
    """SQ+refine ANN probe: coarse top-50 over dequantized int8
    vectors, exact rescore of those candidates to a top-10 — the scan
    reads the 4×-smaller quantized column; full-precision vectors move
    for ~50 ids only (broadcast)."""
    from .operators import similarity
    from .pipeline_queries import _query_vector

    # the one-row vector fetch uses the plain (non-fanned) scan — paying
    # the fan-out repartition to read a single row is the exact tax the
    # load_table docstring warns about; only the pool scan fans out
    qv = _query_vector(spark, sf_dir)
    pool = load_table(spark, sf_dir, "embeddings", fan_out=True).filter(
        F.col("vec_id") != 0
    )
    return similarity.quantized_refine_topk(pool, qv, k=10, refine=5)


# ---------------------------------------------------------------------------
# PQ (product-quantization) ANN — 4-bit sub-codes + ADC probe.
# ---------------------------------------------------------------------------

@_session_memo
def pq_prebuilt_index(spark, sf_dir):
    """Build-once accessor for the PQ-encoded ``embeddings`` table:
    (encoded_df, codebooks). Training the codebooks and encoding the
    corpus are INGEST artifacts (identical argument to
    ``pipeline_queries.ivf_prebuilt_index``): the registered query
    measures the ADC probe, which at 100 TB reads only
    (vec_id, pq_code)."""
    from .operators import similarity

    emb = load_table(spark, sf_dir, "embeddings", fan_out=True)
    pool = emb.filter(F.col("vec_id") != 0)
    books = similarity.pq_train(pool, m=16, k=16)
    encoded = similarity.pq_encode(pool, books).localCheckpoint(eager=True)
    return (encoded, books)


@query("q104_pq_ann_topk")  # rows-only: seeded numpy Lloyd + argmin
# encode aren't SQL-expressible; recall@10 vs the exact q36 ranking is
# pinned in tests/test_pipeline_ops.py::test_pq_ann_topk_recall
def q104(spark, sf_dir):
    """PQ ADC probe over the prebuilt 4-bit-code index: approximate
    cosine = m literal-LUT picks per row (whole-stage codegen, no UDF),
    top-50 candidates rescored exactly behind a broadcast join."""
    from .operators import similarity
    from .pipeline_queries import _query_vector

    qv = _query_vector(spark, sf_dir)
    encoded, books = pq_prebuilt_index(spark, sf_dir)
    return similarity.pq_topk(encoded, books, qv, k=10, refine=10)


# ---------------------------------------------------------------------------
# Incremental materialized-view maintenance, end-to-end over a ledger.
# ---------------------------------------------------------------------------

@_session_memo
def _mv_state(spark, sf_dir):
    """Final incrementally-maintained view state. The ledger build
    (initial load + one merge batch of inserts AND updates) is the
    ingest side; the registered query returns the view state the
    INCREMENTAL path produced, and the oracle recomputes the same
    aggregate from scratch over the final table — so the driver hash
    checks that prev + delta == recompute on real storage, not a
    mock."""
    import tempfile

    from .ingest.ledger import ledger_merge_upsert, ledger_write
    from .ingest.matview import maintain_view

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    # v1: 90% of the docs, with n_chars deliberately zeroed for the
    # doc_id%7 slice — v2 must fix those via UPDATE and add the
    # missing 10% via INSERT, landing exactly on the true table
    v1 = docs.filter(F.col("doc_id") % 10 != 0).withColumn(
        "n_chars",
        F.when(F.col("doc_id") % 7 == 0, F.lit(0)).otherwise(F.col("n_chars")),
    )
    batch = docs.filter(
        (F.col("doc_id") % 10 == 0) | (F.col("doc_id") % 7 == 0)
    )
    group, sums = ["source"], {"total_chars": "n_chars"}
    # both view states are eagerly checkpointed, so nothing reads the
    # ledger once this block ends
    with tempfile.TemporaryDirectory(prefix="mtg_mv_ledger_") as root:
        ledger_write(spark, root, v1, key="doc_id")
        state = maintain_view(
            spark, root, None, 0, 1, group, sums
        ).localCheckpoint(eager=True)
        v2 = ledger_merge_upsert(spark, root, batch, key="doc_id")
        return maintain_view(
            spark, root, state, 1, v2, group, sums
        ).localCheckpoint(eager=True)


@query(
    "q105_incremental_matview",
    """SELECT source, count(*) AS n_rows,
              CAST(sum(n_chars) AS BIGINT) AS total_chars
       FROM documents GROUP BY source""",
)
def q105(spark, sf_dir):
    """Materialized per-source aggregate maintained INCREMENTALLY from
    ledger snapshot diffs (insert + update batch), never recomputed —
    the oracle recomputes from scratch, so a hash match proves
    prev + delta == full recompute. Maintenance cost scales with the
    change volume, not the table (see ingest/matview.py)."""
    return _mv_state(spark, sf_dir).select("source", "n_rows", "total_chars")


# ---------------------------------------------------------------------------
# Gopher/C4-style document quality rules.
# ---------------------------------------------------------------------------

from .operators.text_analysis import (  # noqa: E402  (thresholds shared with the SQL twin)
    GOPHER_MAX_MWL as _GQ_MAX_MWL,
    GOPHER_MAX_WORDS as _GQ_MAX_WORDS,
    GOPHER_MIN_ALPHA as _GQ_MIN_ALPHA,
    GOPHER_MIN_MWL as _GQ_MIN_MWL,
    GOPHER_MIN_STOP as _GQ_MIN_STOP,
    GOPHER_MIN_WORDS as _GQ_MIN_WORDS,
)


@query(
    "q106_gopher_quality_rules",
    f"""WITH m AS (
          SELECT doc_id,
                 len({_TOKS}) AS n_words,
                 list_sum(list_transform({_TOKS}, x -> len(x))) AS tot_len,
                 len(list_filter({_TOKS},
                     x -> regexp_matches(x, '[a-z]'))) AS alpha_words,
                 {sql_stopword_hits(_TOKS)} AS stop_words
          FROM documents)
        SELECT doc_id, n_words,
               CASE WHEN n_words > 0
                    THEN CAST(tot_len AS DOUBLE) / n_words
                    ELSE 0.0 END AS mean_word_len,
               CASE WHEN n_words > 0
                    THEN CAST(alpha_words AS DOUBLE) / n_words
                    ELSE 0.0 END AS alpha_frac,
               CASE WHEN n_words > 0
                    THEN CAST(stop_words AS DOUBLE) / n_words
                    ELSE 0.0 END AS stop_frac,
               (n_words BETWEEN {_GQ_MIN_WORDS} AND {_GQ_MAX_WORDS}
                AND (CASE WHEN n_words > 0
                          THEN CAST(tot_len AS DOUBLE) / n_words
                          ELSE 0.0 END) BETWEEN {_GQ_MIN_MWL} AND {_GQ_MAX_MWL}
                AND (CASE WHEN n_words > 0
                          THEN CAST(alpha_words AS DOUBLE) / n_words
                          ELSE 0.0 END) >= {_GQ_MIN_ALPHA}
                AND (CASE WHEN n_words > 0
                          THEN CAST(stop_words AS DOUBLE) / n_words
                          ELSE 0.0 END) >= {_GQ_MIN_STOP}) AS passes
        FROM m""",
)
def q106(spark, sf_dir):
    """Gopher-style (Rae et al. 2021, §A1.1) / C4 heuristic quality
    gate: word count bounds, mean-word-length band, alpha-word and
    stopword fractions — the standard pre-filter a web-scale corpus
    runs before any model-based scoring. All metrics are exact integer
    counts with ONE final double division each (bit-identical across
    engines); pure columnar, no shuffle, single tokenize pass shared
    via a let-bound projection."""
    from .operators.text_analysis import with_gopher_quality

    docs = load_table(spark, sf_dir, "documents")
    return with_gopher_quality(docs).select(
        "doc_id", "n_words", "mean_word_len", "alpha_frac", "stop_frac",
        "passes",
    )


# ---------------------------------------------------------------------------
# Real BPE tokenization (learned merges, distributed encode).
# ---------------------------------------------------------------------------

@_session_memo
def bpe_prebuilt_merges(spark, sf_dir):
    """Learned merge table. Tokenizer training is the canonical ingest
    artifact — every production pipeline trains the tokenizer once and
    bills billions of documents against it."""
    from .operators.bpe import bpe_train

    return bpe_train(load_table(spark, sf_dir, "documents"), n_merges=200)


@query("q107_bpe_tokenize")  # rows-only: sequential merge learning and
# the iterative per-word merge loop aren't SQL-expressible; round-trip,
# determinism, and monotonicity are pinned in tests/test_bpe.py
def q107(spark, sf_dir):
    """Real-BPE token counts over the PREBUILT merge table: Arrow-
    batched map-only encode (memoized per batch), no shuffle; the
    scalar token-string column keeps the driver canonicalizer happy."""
    from .operators.bpe import bpe_encode

    merges = bpe_prebuilt_merges(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    return bpe_encode(docs, merges).select(
        "doc_id", "n_bpe_tokens", "bpe_tokens"
    )


@query("q108_semantic_dedup")  # rows-only: k-means clustering isn't
# SQL-expressible; keeper-uniqueness/min-id/verification invariants are
# pinned in tests/test_pipeline_ops.py::test_semantic_dedup_semdedup
def q108(spark, sf_dir):
    """SemDeDup over the PREBUILT IVF assignment: within-cluster exact-
    cosine pairs ≥ threshold → connected components → min-id keeper per
    duplicate group. Candidates form within clusters only (Σ list², not
    n²); composition of tested operators, zero new machinery."""
    from .operators import dedup
    from .pipeline_queries import ivf_prebuilt_index

    assigned, _ = ivf_prebuilt_index(spark, sf_dir)
    return dedup.semantic_dedup(
        assigned, threshold=0.4, assigned=assigned
    ).select("vec_id", "cluster_id", "dup_group", "keep")


@query(
    "q109_leakage_safe_split",
    f"""WITH f AS (
          SELECT doc_id,
                 -- coalesce: an empty/stopword-only token set must
                 -- fingerprint as md5('') like Spark's concat_ws, not
                 -- md5(NULL) (DuckDB maps an empty list to NULL here)
                 md5(coalesce(
                   array_to_string(list_sort({sql_ts_tokens('text')}), ' '),
                   '')) AS fingerprint
          FROM documents)
        SELECT doc_id, fingerprint,
               substring(md5(fingerprint), 1, 2) AS split_bucket,
               CASE WHEN substring(md5(fingerprint), 1, 2) < 'e6' THEN 'train'
                    WHEN substring(md5(fingerprint), 1, 2) < 'f3' THEN 'val'
                    ELSE 'test' END AS split
        FROM f""",
)
def q109(spark, sf_dir):
    """Leakage-safe split: bucket on the content FINGERPRINT, so exact
    and token-reordered copies always share a split (q64 buckets raw
    text and can leak a near-copy across splits)."""
    from .operators import text_analysis

    docs = load_table(spark, sf_dir, "documents")
    return text_analysis.with_leakage_safe_split(docs).select(
        "doc_id", "fingerprint", "split_bucket", "split"
    )
