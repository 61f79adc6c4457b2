"""Registry entries, round 2 (cont.): ranked retrieval (BM25, hybrid
RRF fusion), dedup-cluster canonicalization, per-label embedding
centroids, a corpus mix report, and the TPC-H Q7 volume-shipping shape.

All six are deterministic and carry exact DuckDB twins; float parity
follows the module-docstring contract in ``operators/retrieval.py``
(within-row IEEE trees + 6-dp rounding of the one transcendental) and
the established decimal-cast-sum trick for cross-row accumulation.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .catalog import load_table
from .functions.exact import _sql_dsum
from .functions.text import sql_tokens
from .functions.vectors import cosine_similarity, indexable_vector, sql_cosine
from .operators import dedup, retrieval, text_analysis
from .operators.text_analysis import sql_stopword_hits
from .pipeline_queries import _JACCARD_ORACLE
from .registry import query

_TOKS = sql_tokens("text")

#: fixed probe terms for the retrieval queries (from the corpus's own
#: vocabulary; 'vector' is mid-frequency, the others common)
_PROBE_TERMS = ("vector", "merge", "window")


# ---------------------------------------------------------------------------
# ranked retrieval: BM25 top-k
# ---------------------------------------------------------------------------
@query(
    "q89_bm25_topk",
    f"""WITH scored AS ({retrieval.sql_bm25_scores(_PROBE_TERMS)})
        SELECT doc_id, bm25 FROM scored
        ORDER BY bm25 DESC, doc_id LIMIT 20""",
)
def q89(spark, sf_dir):
    """Okapi BM25 top-20 for a fixed probe. Plan shape: scan → 1-row
    stats agg → broadcast back → codegen'd projection →
    TakeOrderedAndProject; the only full-data pass is the scan."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        retrieval.bm25_scores(docs, _PROBE_TERMS)
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# hybrid retrieval: BM25 ∪ embedding-cosine via reciprocal-rank fusion
# ---------------------------------------------------------------------------
@query(
    "q94_hybrid_search",
    f"""WITH lex0 AS ({retrieval.sql_bm25_scores(_PROBE_TERMS)}),
        lex AS (SELECT doc_id, row_number() OVER
                  (ORDER BY bm25 DESC, doc_id) AS ra
                FROM lex0 ORDER BY bm25 DESC, doc_id LIMIT 50),
        sem0 AS (SELECT e.vec_id AS doc_id,
                        round({sql_cosine('e.embedding', 'q.embedding')}, 6)
                          AS cosine
                 FROM embeddings e,
                      (SELECT embedding FROM embeddings WHERE vec_id = 0) q
                 WHERE e.vec_id <> 0 AND (sqrt(list_sum(list_transform(e.embedding, x -> x::DOUBLE * x::DOUBLE))) > 0)),
        sem AS (SELECT doc_id, row_number() OVER
                  (ORDER BY cosine DESC, doc_id) AS rb
                FROM sem0 ORDER BY cosine DESC, doc_id LIMIT 50),
        fused AS (
          SELECT coalesce(lex.doc_id, sem.doc_id) AS doc_id,
                 round(coalesce(1.0 / (60.0 + ra), 0.0)
                       + coalesce(1.0 / (60.0 + rb), 0.0), 6) AS rrf
          FROM lex FULL JOIN sem ON lex.doc_id = sem.doc_id)
        SELECT doc_id, rrf FROM fused
        ORDER BY rrf DESC, doc_id LIMIT 20""",
)
def q94(spark, sf_dir):
    """Hybrid retriever: fuse the BM25 top-50 with the embedding-cosine
    top-50 (doc_id ≡ vec_id in the synthetic corpus) by reciprocal-rank
    fusion. Both candidate lists are tiny (≤50 rows) by construction,
    so the rank windows and the full-outer fuse join are driver-scale
    no matter the corpus size — the heavy lifting stays in the two
    top-k scans."""
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    lex = (
        retrieval.bm25_scores(docs, _PROBE_TERMS)
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(50)
    )
    qv = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("_qv")
    )
    sem = (
        emb.filter(
            (F.col("vec_id") != 0)
            & indexable_vector(F.col("embedding"))
        )
        .crossJoin(F.broadcast(qv))
        .select(
            F.col("vec_id").alias("doc_id"),
            F.round(
                cosine_similarity(F.col("embedding"), F.col("_qv")), 6
            ).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), "doc_id")
        .limit(50)
    )
    return (
        retrieval.rrf_fuse(lex, sem, "doc_id", "bm25", "cosine")
        .orderBy(F.col("rrf").desc(), "doc_id")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# dedup post-processing: pick ONE canonical doc per near-dup cluster
# ---------------------------------------------------------------------------
_SQL_QUALITY = f"""round((least(len({_TOKS}), 100)::DOUBLE / 100.0
        + CASE WHEN length(text) > 0
               THEN length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))::DOUBLE
                    / length(text) ELSE 0.0 END
        + least(CASE WHEN len({_TOKS}) > 0
                THEN {sql_stopword_hits(_TOKS)}::DOUBLE / len({_TOKS})
                ELSE 0.0 END, 0.5) * 2.0) / 3.0, 6)"""


@query(
    "q90_cluster_canonical",
    f"""WITH RECURSIVE jp AS ({_JACCARD_ORACLE}),
        edges AS (
          SELECT id_a AS src, id_b AS dst FROM jp
          UNION SELECT id_b, id_a FROM jp),
        reach AS (
          SELECT src AS node, dst AS r FROM edges
          UNION SELECT reach.node, e.dst
                FROM reach JOIN edges e ON reach.r = e.src),
        clus AS (SELECT node AS doc_id, least(node, min(r)) AS component
                 FROM reach GROUP BY node),
        qual AS (SELECT doc_id, {_SQL_QUALITY} AS quality_score
                 FROM documents),
        full_t AS (
          SELECT q.doc_id, coalesce(c.component, q.doc_id) AS component,
                 q.quality_score
          FROM qual q LEFT JOIN clus c ON q.doc_id = c.doc_id),
        rnk AS (
          SELECT *, row_number() OVER (PARTITION BY component
                    ORDER BY quality_score DESC, doc_id) AS rn
          FROM full_t)
        SELECT component,
               max(CASE WHEN rn = 1 THEN doc_id END) AS canonical_id,
               count(*) AS n_members,
               max(quality_score) AS best_quality
        FROM rnk GROUP BY component""",
)
def q90(spark, sf_dir):
    """Keep-best dedup: collapse each near-dup cluster (q61's connected
    components, singletons included as their own component) to its
    highest-quality member. This is the step that turns pair/cluster
    *detection* into an actual curated corpus. One extra narrow shuffle
    on component for the window + count."""
    from .operators.graph import connected_components

    docs = load_table(spark, sf_dir, "documents")
    from .pipeline_queries import shingle_prebuilt_table

    pairs = dedup.ngram_jaccard_pairs(
        docs, "text", "doc_id", k=3, threshold=0.8,
        shingles_df=shingle_prebuilt_table(spark, sf_dir),
    )
    clusters = connected_components(pairs).select(
        F.col("node").alias("doc_id"), "component"
    )
    qual = text_analysis.with_quality_score(docs).select(
        "doc_id", "quality_score"
    )
    full = qual.join(clusters, on="doc_id", how="left").select(
        "doc_id",
        F.coalesce("component", "doc_id").alias("component"),
        "quality_score",
    )
    w = Window.partitionBy("component").orderBy(
        F.col("quality_score").desc(), F.col("doc_id").asc()
    )
    return (
        full.withColumn("rn", F.row_number().over(w))
        .groupBy("component")
        .agg(
            F.max(F.when(F.col("rn") == 1, F.col("doc_id"))).alias(
                "canonical_id"
            ),
            F.count("*").alias("n_members"),
            F.max("quality_score").alias("best_quality"),
        )
    )


# ---------------------------------------------------------------------------
# per-label embedding centroids (semantic-cluster profiling)
# ---------------------------------------------------------------------------
@query(
    "q91_label_centroids",
    """WITH u AS (
         SELECT label,
                unnest(range(0, len(embedding))) AS pos,
                unnest(list_transform(embedding, x -> x::DOUBLE)) AS x
         FROM embeddings)
       SELECT label, pos,
              round(CAST(SUM(CAST(x AS DECIMAL(25,12))) AS DOUBLE)
                    / count(*), 6) AS centroid_val,
              count(*) AS n_vectors
       FROM u GROUP BY label, pos""",
)
def q91(spark, sf_dir):
    """Per-label mean embedding, one output row per (label, dimension).
    posexplode → groupBy(label, pos): the shuffle carries (label, pos,
    scalar) triples — dim × rows narrow rows, map-side combined down to
    labels × dim before the exchange. Cross-row float order is washed
    out by the DECIMAL(25,12) exact accumulator (13th-digit ties are
    unreachable from binary floats, so both engines round identically)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.select(
            "label", F.posexplode(F.col("embedding").cast("array<double>"))
        )
        .withColumnRenamed("col", "x")
        .groupBy("label", "pos")
        .agg(
            F.round(
                F.sum(F.col("x").cast("decimal(25,12)")).cast("double")
                / F.count("*"),
                6,
            ).alias("centroid_val"),
            F.count("*").alias("n_vectors"),
        )
    )


# ---------------------------------------------------------------------------
# corpus mix report (per-source composition)
# ---------------------------------------------------------------------------
@query(
    "q93_source_mix_report",
    f"""SELECT source,
               count(*) AS n_docs,
               CAST(SUM(len({_TOKS})) AS BIGINT) AS total_tokens,
               round(CAST(SUM(CAST({_SQL_QUALITY} AS DECIMAL(18,6)))
                     AS DOUBLE) / count(*), 6) AS mean_quality,
               count(DISTINCT lang) AS n_langs,
               min(n_chars) AS min_chars, max(n_chars) AS max_chars
        FROM documents GROUP BY source""",
)
def q93(spark, sf_dir):
    """The per-source corpus composition report every dataset card
    needs: volume, token mass, mean quality, language spread, length
    envelope — one hash-agg pass (token counts and quality are
    codegen'd projections feeding partial aggregation)."""
    docs = text_analysis.with_quality_score(
        load_table(spark, sf_dir, "documents")
    )
    return docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("n_tokens").cast("long")).alias("total_tokens"),
        F.round(
            F.sum(F.col("quality_score").cast("decimal(18,6)")).cast("double")
            / F.count("*"),
            6,
        ).alias("mean_quality"),
        F.countDistinct("lang").alias("n_langs"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


# ---------------------------------------------------------------------------
# TPC-H Q7 shape: volume shipping between two nations by year
# ---------------------------------------------------------------------------
@query(
    "q92_volume_shipping",
    f"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               year(l_shipdate) AS l_year,
               {_sql_dsum('l_extendedprice * (1 - l_discount)', 'revenue')}
        FROM lineitem
          JOIN supplier ON s_suppkey = l_suppkey
          JOIN orders   ON o_orderkey = l_orderkey
          JOIN customer ON c_custkey = o_custkey
          JOIN nation n1 ON n1.n_nationkey = s_nationkey
          JOIN nation n2 ON n2.n_nationkey = c_nationkey
        WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
            OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
          AND l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                             AND TIMESTAMP '1997-12-31 00:00:00'
        GROUP BY n1.n_name, n2.n_name, year(l_shipdate)""",
)
def q92(spark, sf_dir):
    """TPC-H Q7: bilateral trade volume by year. The fact table joins
    two broadcast dim chains (supplier→nation, customer←orders); only
    orders⋈lineitem is a real shuffle pair, and the nation-pair filter
    applies before the aggregate so the final groupBy is tiny."""
    import datetime as dt

    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").between(
            dt.datetime(1996, 1, 1), dt.datetime(1997, 12, 31)
        )
    )
    supp = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("_n1key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("_n2key"), F.col("n_name").alias("cust_nation")
    )
    joined = (
        li.join(F.broadcast(supp), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(cust), F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n1), F.col("_n1key") == F.col("s_nationkey"))
        .join(F.broadcast(n2), F.col("_n2key") == F.col("c_nationkey"))
        .filter(
            (
                (F.col("supp_nation") == "NATION_1")
                & (F.col("cust_nation") == "NATION_2")
            )
            | (
                (F.col("supp_nation") == "NATION_2")
                & (F.col("cust_nation") == "NATION_1")
            )
        )
    )
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,6)"
    )
    return joined.groupBy(
        "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
    ).agg(F.sum(rev).cast("double").alias("revenue"))


# ---------------------------------------------------------------------------
# per-document characteristic terms: TF-IDF keyword extraction (q199)
# ---------------------------------------------------------------------------
@query(
    "q199_tfidf_keywords",
    retrieval.sql_tfidf_keywords(k=3),
)
def q199(spark, sf_dir):
    """Top-3 characteristic terms per document by tf·idf — the
    corpus-inspection primitive (domain tagging, cluster naming) the
    query-at-a-time BM25 shape doesn't cover. Both engines run the
    same expression tree (smoothed idf rounded to 6 dp, exact-integer
    tf, one double product), so values hash-match bitwise; see
    ``operators/retrieval.py:tfidf_keywords`` for the two-shuffle +
    windowed-rank scale shape.
    """
    # fan_out (r11b): the tokenize+explode map side dominates and the
    # local table scans as one row-group (guarded repartition, no-op at
    # production scale).
    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    return retrieval.tfidf_keywords(docs, k=3)


# ---------------------------------------------------------------------------
# hard-negative mining: lexically close, semantically far (q201)
# ---------------------------------------------------------------------------
@query(
    "q201_hard_negatives",
    retrieval.sql_hard_negative_pairs(_TOKS, k_top=20),
)
def q201(spark, sf_dir):
    """Contrastive-training hard negatives: top-20 document pairs with
    word-3-gram Jaccard ≥ 0.02 but embedding cosine ≤ 0 — "looks
    relevant, isn't". The posting join is bounded by the stop-shingle
    document-frequency cap (mining thresholds are too low for AllPairs
    prefix filtering to bite); Jaccard divides by the FULL shingle
    sizes so the cap can only shrink scores. See
    ``operators/retrieval.py:hard_negative_pairs`` for the scale shape.
    doc_id ≡ vec_id in the synthetic corpus (as q94).
    """
    # fan_out: shingling is per-row CPU-heavy and a single-file scan
    # would serialize it on one core (r5 profile: a 1.7 s one-task
    # stage) — same rule as the other dedup gates
    from .pipeline_queries import (
        hot_shingles_prebuilt,
        shingle_prebuilt_table,
    )

    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    emb = load_table(spark, sf_dir, "embeddings", fan_out=True)
    return retrieval.hard_negative_pairs(
        docs,
        emb,
        k_top=20,
        shingles_df=shingle_prebuilt_table(spark, sf_dir),
        hot_df=hot_shingles_prebuilt(spark, sf_dir),
    )
