"""Registry entries, round 3 (cont.): the statistical-LM quality layer
and corpus-assembly operators above the dedup family — bigram-LM
fluency scoring (the perplexity-filter stand-in), temperature-scaled
source mixing (α-sampling), and incremental-ingest novelty detection
(new batch vs. reference-corpus fingerprint anti-join).

All three follow the house exactness rules: integer accumulation
(micro-nat floors / BIGINT weights) with single final double
operations, content-hash lotteries instead of RNG, and DuckDB twins
that share tokenizer/predicate builders with the Spark side so the
two can never drift.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .catalog import load_table
from .functions.text import sql_tokens, sql_ts_tokens
from .operators import dedup, sampling, text_analysis
from .operators.text_analysis import sql_stopword_hits
from .registry import query

_TOKS = sql_tokens("text")


# ---------------------------------------------------------------------------
# Bigram-LM fluency score — see text_analysis.bigram_lm_score for the
# model and the micro-nat exactness scheme. The oracle retrains the
# same add-one bigram model in SQL.
# ---------------------------------------------------------------------------
@query(
    "q110_bigram_lm_score",
    f"""WITH tok AS (
          SELECT doc_id, {_TOKS} AS l FROM documents),
        bg AS (
          SELECT doc_id,
                 unnest(CASE WHEN len(l) >= 2
                        THEN list_transform(generate_series(1, len(l) - 1),
                                            i -> l[i] || ' ' || l[i + 1])
                        ELSE CAST([] AS VARCHAR[]) END) AS bg
          FROM tok),
        uni AS (SELECT unnest(l) AS t FROM tok),
        unic AS (SELECT t, count(*) AS c1 FROM uni GROUP BY t),
        v AS (SELECT count(DISTINCT t) AS vocab FROM uni),
        bgc AS (SELECT bg, count(*) AS c2 FROM bg GROUP BY bg),
        terms AS (
          SELECT b.doc_id,
                 CAST(floor(ln((c.c2 + 1.0) / (u.c1 + v.vocab))
                            * 1000000.0) AS BIGINT) AS term_micro
          FROM bg b
          JOIN bgc c USING (bg)
          JOIN unic u ON u.t = string_split(b.bg, ' ')[1]
          CROSS JOIN v),
        scored AS (
          SELECT doc_id, count(*) AS n_bigrams, sum(term_micro) AS s
          FROM terms GROUP BY doc_id)
        SELECT d.doc_id,
               coalesce(s.n_bigrams, 0) AS n_bigrams,
               coalesce(CAST(s.s AS DOUBLE) / 1000000.0, 0.0) AS sum_logprob,
               CASE WHEN s.n_bigrams > 0
                    THEN (CAST(s.s AS DOUBLE) / 1000000.0) / s.n_bigrams
                    ELSE 0.0 END AS avg_logprob
        FROM documents d LEFT JOIN scored s USING (doc_id)""",
)
def q110(spark, sf_dir):
    """Corpus-trained bigram-LM scoring: the model is two aggregate
    tables built from the same scan being scored — one query, no
    driver-side artifact. See the operator docstring for the 100 TB
    shape (Zipf-skewed count joins → AQE skew handling; counts become
    incremental ingest artifacts via the matview machinery)."""
    docs = load_table(spark, sf_dir, "documents")
    return text_analysis.bigram_lm_score(docs)


# ---------------------------------------------------------------------------
# Temperature-scaled source mixing — see sampling.temperature_mix.
# ---------------------------------------------------------------------------
@query(
    "q111_temperature_mix",
    """WITH n AS (SELECT source, count(*) AS n_s FROM documents GROUP BY source),
        w AS (SELECT source, n_s,
                     CAST(floor(sqrt(n_s) * 1000000.0) AS BIGINT) AS w_micro
              FROM n),
        d AS (SELECT sum(w_micro) AS denom, sum(n_s) AS n_total FROM w),
        t AS (SELECT w.source,
                     CAST(floor((CAST(w.w_micro AS DOUBLE)
                                 * floor(d.n_total * 0.5))
                                / CAST(d.denom AS DOUBLE)) AS BIGINT)
                       AS source_target
              FROM w CROSS JOIN d),
        r AS (SELECT doc_id, source,
                     row_number() OVER (
                       PARTITION BY source
                       ORDER BY md5(coalesce(text, '')), doc_id) AS mix_rank
              FROM documents)
        SELECT r.doc_id, r.source, r.mix_rank, t.source_target
        FROM r JOIN t USING (source)
        WHERE r.mix_rank <= t.source_target""",
)
def q111(spark, sf_dir):
    """α = 0.5 source mixing over half the corpus: head sources are
    flattened toward sqrt-proportional shares, tail sources boosted.
    Allocation is a |sources|-row broadcast; the only corpus-wide cost
    is the q97-style content-hash rank window."""
    docs = load_table(spark, sf_dir, "documents")
    return sampling.temperature_mix(docs, budget_frac=0.5)


# ---------------------------------------------------------------------------
# Incremental-ingest novelty: which incoming documents are NOT already
# in the reference corpus, by canonical content fingerprint. The
# reference/incoming split reuses the deterministic train-split buckets
# (q64) so the scenario is reproducible without a second table.
# ---------------------------------------------------------------------------
@query(
    "q112_novel_against_corpus",
    f"""WITH fp AS (
          SELECT doc_id,
                 substring(md5(text), 1, 2) AS b,
                 md5(coalesce(
                   array_to_string(list_sort({sql_ts_tokens('text')}), ' '),
                   '')) AS fingerprint
          FROM documents),
        -- NULL text mirrors the Spark side exactly: with_train_split's
        -- CASE falls through to 'test' (incoming) on a NULL bucket, and
        -- with_fingerprint's concat_ws yields md5('') — hence the
        -- coalesce above and the "b IS NULL" arm below
        ref AS (SELECT DISTINCT fingerprint FROM fp WHERE b < 'e6'),
        inc AS (SELECT doc_id, fingerprint FROM fp
                WHERE b >= 'e6' OR b IS NULL)
        SELECT i.doc_id, i.fingerprint
        FROM inc i
        WHERE NOT EXISTS (SELECT 1 FROM ref r
                          WHERE r.fingerprint = i.fingerprint)""",
)
def q112(spark, sf_dir):
    """The de-facto ingest gate at 100 TB: every new batch is
    fingerprint-anti-joined against the corpus index before any
    expensive scoring runs. The anti-join shuffles both sides on an
    md5 key (uniform, skew-free); Spark's runtime Bloom-filter join
    pushes reference membership below the incoming side's shuffle, and
    in steady state the reference fingerprint set is a ledger-table
    ingest artifact, not a rescan (ingest/ledger.py)."""
    docs = load_table(spark, sf_dir, "documents")
    fp = text_analysis.with_fingerprint(text_analysis.with_train_split(docs))
    ref = fp.filter(F.col("split") == "train").select("fingerprint").distinct()
    inc = fp.filter(F.col("split") != "train").select("doc_id", "fingerprint")
    return inc.join(ref, "fingerprint", "left_anti").select(
        "doc_id", "fingerprint"
    )


# ---------------------------------------------------------------------------
# §2.6 widening: the two classic decorrelation shapes the suite didn't
# yet pin — a correlated SCALAR aggregate subquery (TPC-H Q17) and a
# grouped-HAVING semi-join (TPC-H Q18).
# ---------------------------------------------------------------------------
@query(
    "q113_small_qty_revenue",
    """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
                / 7.0 AS avg_yearly
       FROM lineitem JOIN part ON p_partkey = l_partkey
       WHERE p_brand = 'Brand#2'
         AND l_quantity < (SELECT 0.2 * avg(l_quantity)
                           FROM lineitem l2
                           WHERE l2.l_partkey = p_partkey)""",
)
def q113(spark, sf_dir):
    """TPC-H Q17 shape: revenue lost to small-quantity orders. The SQL
    correlated scalar subquery is expressed Spark-first as its
    decorrelated plan — per-part averages as a groupBy, joined back —
    which is exactly what Catalyst's RewriteCorrelatedScalarSubquery
    would emit, but stated explicitly so the brand filter prunes BOTH
    sides before the per-part aggregate (the subquery's unfiltered
    per-part scan is the 100 TB trap). l_quantity is integral, so the
    double avg is order-independent and engine-exact."""
    li = load_table(spark, sf_dir, "lineitem")
    bparts = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#2")
        .select("p_partkey")
    )
    lb = li.join(F.broadcast(bparts), F.col("p_partkey") == F.col("l_partkey"))
    thr = lb.groupBy(F.col("l_partkey").alias("_tk")).agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("_qty_thr")
    )
    small = lb.join(F.broadcast(thr), F.col("_tk") == F.col("l_partkey")).filter(
        F.col("l_quantity") < F.col("_qty_thr")
    )
    return small.agg(
        (
            F.sum(F.col("l_extendedprice").cast("decimal(18,6)")).cast("double")
            / F.lit(7.0)
        ).alias("avg_yearly")
    )


@query(
    "q114_large_qty_orders",
    """SELECT c_name, o_orderkey, o_orderdate, o_totalprice,
              CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)
                AS total_qty
       FROM customer
         JOIN orders   ON c_custkey = o_custkey
         JOIN lineitem ON o_orderkey = l_orderkey
       WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                            GROUP BY l_orderkey
                            HAVING sum(l_quantity) > 250)
       GROUP BY c_name, o_orderkey, o_orderdate, o_totalprice
       ORDER BY o_totalprice DESC, o_orderdate, o_orderkey
       LIMIT 100""",
)
def q114(spark, sf_dir):
    """TPC-H Q18 shape: customers with very large orders. The IN
    subquery is a grouped-HAVING aggregate semi-joined back to the
    fact: the qualifying-orderkey set is tiny after the HAVING filter,
    so it broadcasts and every downstream join prunes to the ~1% of
    orders that survive before the final per-order aggregate. Ordered
    top-100 with a full deterministic tie-break."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("_s"))
        .filter(F.col("_s") > 250)
        .select(F.col("l_orderkey").alias("_bigkey"))
    )
    return (
        li.join(F.broadcast(big), F.col("_bigkey") == F.col("l_orderkey"))
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(cust), F.col("c_custkey") == F.col("o_custkey"))
        .groupBy("c_name", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,6)"))
            .cast("double")
            .alias("total_qty")
        )
        .orderBy(
            F.col("o_totalprice").desc(), "o_orderdate", "o_orderkey"
        )
        .limit(100)
    )


# ---------------------------------------------------------------------------
# Sketch paths (rows-only, like q87's quantile sketch): bounded-state
# approximate distinct counting and frequency estimation. DuckDB's
# approximate aggregates use different sketch algorithms, so there is
# no value-hash oracle; the error guarantees are pinned by tests
# (test_sketches.py) instead.
# ---------------------------------------------------------------------------
@query("q115_hll_distinct_tokens")
def q115(spark, sf_dir):
    """Per-source approximate distinct-token counts via Datasketches
    HLL — constant ~2^12 bytes of state per group where the exact
    distinct set would be a table of its own. The sketch column is the
    incremental ingest artifact (matview.maintain_approx_distinct);
    the registered output is the scalar estimate."""
    from .functions.text import tokens
    from .ingest.matview import HLL_ESTIMATE_COL, snapshot_approx_distinct

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "source", F.explode(tokens("text")).alias("t")
    )
    return (
        snapshot_approx_distinct(tok, ["source"], "t")
        .select("source", HLL_ESTIMATE_COL)
        .orderBy("source")
    )


def _q178_oracle() -> str:
    from .operators.sketches import sql_hll_portable

    return f"""
    WITH tok AS (
      SELECT source, unnest({sql_tokens("text")}) AS t FROM documents
    ), {sql_hll_portable("tok", "source", "t")}"""


@query("q178_hll_portable_distinct", _q178_oracle())
def q178(spark, sf_dir):
    """q115's estimate rebuilt on the ENGINE-PORTABLE HLL (r5): md5-
    derived 60-bit hashes, integer leading-zero ladder, and a harmonic
    sum folded as EXACT int64 (2^-M terms scaled to integers) so no
    float addition order exists anywhere — the one estimator in the
    sketch family whose value a different engine can reproduce
    bit-for-bit, and therefore the one with a value-hash oracle.
    Same 2^12-register state bound and merge story as q115."""
    from .functions.text import tokens
    from .operators import sketches

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("source", F.explode(tokens("text")).alias("t"))
    return sketches.hll_portable(tok, "source", "t").orderBy("source")


def _q179_oracle(depth: int = 5, width: int = 1024) -> str:
    """DuckDB twin of the PORTABLE count-min sketch (r5): the md5-
    seeded cells make the whole pipeline integer-exact — cell counts
    are plain SUMs, the probe is a min over d joined cells, and there
    is no float anywhere, so sketch contents AND estimates hash-check
    across engines."""
    cell = (
        "('0x' || substr(md5(i::VARCHAR || ':' || t),1,15))::BIGINT"
        f" % {width}"
    )
    return f"""
    WITH tok AS (
      SELECT unnest({sql_tokens("text")}) AS t FROM documents
    ), cells AS (
      SELECT i AS row_idx, {cell} AS bucket
      FROM tok, (SELECT unnest(range({depth})) AS i)
    ), sk AS (
      SELECT row_idx, bucket, count(*) AS cnt FROM cells GROUP BY 1, 2
    ), top AS (
      SELECT t, count(*) AS true_count FROM tok
      GROUP BY 1 ORDER BY true_count DESC, t LIMIT 20
    ), probes AS (
      SELECT t, true_count, i AS row_idx, {cell} AS bucket
      FROM top, (SELECT unnest(range({depth})) AS i)
    )
    SELECT t, true_count, min(coalesce(cnt, 0)) AS est_count
    FROM probes LEFT JOIN sk USING (row_idx, bucket)
    GROUP BY t, true_count"""


def _cms_heavy_hitters(spark, sf_dir, portable: bool):
    """Count-min-sketch frequency estimates for the exact top-20
    tokens: the bounded-memory twin of q100. The sketch is d×w SUM
    cells (a 5120-row DataFrame at the default ε≈e/1024), built in one
    explode+groupBy pass and broadcast into the probe join; estimates
    are ≥ truth by construction with ≤ εN overshoot w.h.p. —
    test_sketches.py pins both bounds against the exact counts.
    ``portable`` picks the CMS hash family (see ``sketches.cms_build``)."""
    from .functions.text import tokens
    from .operators import sketches

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(F.explode(tokens("text")).alias("t"))
    sketch = sketches.cms_build(tok, "t", portable=portable)
    top = (
        tok.groupBy("t")
        .agg(F.count("*").alias("true_count"))
        .orderBy(F.col("true_count").desc(), "t")
        .limit(20)
    )
    return (
        sketches.cms_estimate(sketch, top, "t", portable=portable)
        .select("t", "true_count", "est_count")
        .orderBy(F.col("true_count").desc(), "t")
    )


@query("q179_cms_portable_heavy_hitters", _q179_oracle())
def q179(spark, sf_dir):
    """q116 on the engine-portable CMS hash family: identical d×w SUM
    sketch and min-cell probe, but every cell index derives from md5 —
    integer-exact end to end, so unlike q116 this one carries a
    value-hash oracle (the sketch-correctness guarantee stops being
    "trust the local tests" and becomes an oracle-checked equality)."""
    return _cms_heavy_hitters(spark, sf_dir, portable=True)


@query("q116_cms_heavy_hitters")
def q116(spark, sf_dir):
    """:func:`_cms_heavy_hitters` on the default xxhash64 CMS family
    (rows-only: xxhash64 cells have no DuckDB twin)."""
    return _cms_heavy_hitters(spark, sf_dir, portable=False)


@query("q117_dup_pagerank")
def q117(spark, sf_dir):
    """Centrality over the near-duplicate graph (rows-only: iterative
    float fixpoint, not SQL-expressible): rank documents by how
    connected they are inside dup neighborhoods — the signal for
    picking the canonical representative of a template family (and,
    on a host-link graph, the crawl-quality prior). Top-20 with a
    deterministic tie-break."""
    from .operators import graph

    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    from .pipeline_queries import shingle_prebuilt_table

    pairs = dedup.ngram_jaccard_pairs(
        docs, "text", "doc_id", k=3, threshold=0.6,
        shingles_df=shingle_prebuilt_table(spark, sf_dir),
    )
    return (
        graph.pagerank(pairs)
        .orderBy(F.col("rank").desc(), "node")
        .limit(20)
        .select(F.col("node").alias("doc_id"), "rank")
    )


# ---------------------------------------------------------------------------
# Repeated-passage REMOVAL (q99's other half) and soft-dedup weighting.
# ---------------------------------------------------------------------------
@query(
    "q118_remove_boilerplate",
    f"""WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
        nz AS (SELECT doc_id, t FROM toks WHERE len(t) > 0),
        st AS (SELECT doc_id, t, unnest(range(0, len(t), 16)) AS s FROM nz),
        ch AS (SELECT doc_id, CAST(s / 16 AS INT) AS chunk_idx,
                      array_to_string(list_slice(t, s + 1, s + 16), ' ')
                        AS chunk_text
               FROM st),
        bad AS (SELECT chunk_text FROM ch
                GROUP BY chunk_text HAVING count(DISTINCT doc_id) >= 2),
        kept AS (SELECT * FROM ch
                 WHERE NOT EXISTS (SELECT 1 FROM bad b
                                   WHERE b.chunk_text = ch.chunk_text)),
        rebuilt AS (SELECT doc_id,
                           string_agg(chunk_text, ' ' ORDER BY chunk_idx)
                             AS clean_text,
                           count(*) AS n_kept_chunks
                    FROM kept GROUP BY doc_id),
        removed AS (SELECT doc_id, count(*) AS n_removed_chunks
                    FROM ch JOIN bad USING (chunk_text) GROUP BY doc_id)
        SELECT d.doc_id,
               coalesce(r.clean_text, '') AS clean_text,
               coalesce(r.n_kept_chunks, 0) AS n_kept_chunks,
               coalesce(x.n_removed_chunks, 0) AS n_removed_chunks
        FROM documents d
        LEFT JOIN rebuilt r USING (doc_id)
        LEFT JOIN removed x USING (doc_id)""",
)
def q118(spark, sf_dir):
    """CCNet-style passage removal: rewrite every document without the
    chunks that appear in ≥2 distinct documents. See
    text_analysis.remove_repeated_passages for the shape."""
    docs = load_table(spark, sf_dir, "documents")
    return text_analysis.remove_repeated_passages(docs)


@query(
    "q119_soft_dedup_weights",
    f"""WITH fp AS (
          SELECT doc_id,
                 -- coalesce: NULL text fingerprints as md5('') on the
                 -- Spark side (concat_ws skips a NULL token array)
                 md5(coalesce(
                   array_to_string(list_sort({sql_ts_tokens('text')}), ' '),
                   '')) AS fingerprint
          FROM documents)
        SELECT doc_id, fingerprint,
               count(*) OVER (PARTITION BY fingerprint) AS n_copies,
               1.0 / count(*) OVER (PARTITION BY fingerprint)
                 AS sample_weight
        FROM fp""",
)
def q119(spark, sf_dir):
    """Soft deduplication: instead of dropping duplicate documents,
    keep them all and down-weight each copy by 1/n so a duplicated
    page contributes one document's worth of training loss in total —
    the gradient-equivalence alternative to hard dedup. One window
    shuffle on the fingerprint (uniform md5 key, skew-free); the
    division is a single exact op on an integer count."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    fp = text_analysis.with_fingerprint(docs)
    w = Window.partitionBy("fingerprint")
    n = F.count("*").over(w)
    return fp.select(
        "doc_id",
        "fingerprint",
        n.alias("n_copies"),
        (F.lit(1.0) / n).alias("sample_weight"),
    )


# ---------------------------------------------------------------------------
# Cross-corpus LM scoring: train the bigram model on the reference
# (train-split) corpus only, score EVERY document against it — the real
# CCNet/KenLM deployment shape (wiki-trained LM scores the crawl).
# Unseen bigrams/unigrams back off to the add-one floor via left joins.
# ---------------------------------------------------------------------------
@query(
    "q120_crosscorpus_lm_score",
    f"""WITH tok AS (
          SELECT doc_id, substring(md5(text), 1, 2) AS b, {_TOKS} AS l
          FROM documents),
        bgs AS (
          SELECT doc_id, b,
                 CASE WHEN len(l) >= 2
                      THEN list_transform(generate_series(1, len(l) - 1),
                                          i -> l[i] || ' ' || l[i + 1])
                      ELSE CAST([] AS VARCHAR[]) END AS bgl
          FROM tok),
        uni AS (SELECT unnest(l) AS t FROM tok WHERE b < 'e6'),
        unic AS (SELECT t, count(*) AS c1 FROM uni GROUP BY t),
        v AS (SELECT count(DISTINCT t) AS vocab FROM uni),
        tbg AS (SELECT unnest(bgl) AS bg FROM bgs WHERE b < 'e6'),
        bgc AS (SELECT bg, count(*) AS c2 FROM tbg GROUP BY bg),
        bg AS (SELECT doc_id, unnest(bgl) AS bg FROM bgs),
        terms AS (
          SELECT b.doc_id,
                 CAST(floor(ln((coalesce(c.c2, 0) + 1.0)
                               / (coalesce(u.c1, 0) + v.vocab))
                            * 1000000.0) AS BIGINT) AS term_micro
          FROM bg b
          LEFT JOIN bgc c USING (bg)
          LEFT JOIN unic u ON u.t = string_split(b.bg, ' ')[1]
          CROSS JOIN v),
        scored AS (
          SELECT doc_id, count(*) AS n_bigrams, sum(term_micro) AS s
          FROM terms GROUP BY doc_id)
        SELECT d.doc_id,
               coalesce(s.n_bigrams, 0) AS n_bigrams,
               coalesce(CAST(s.s AS DOUBLE) / 1000000.0, 0.0) AS sum_logprob,
               CASE WHEN s.n_bigrams > 0
                    THEN (CAST(s.s AS DOUBLE) / 1000000.0) / s.n_bigrams
                    ELSE 0.0 END AS avg_logprob
        FROM documents d LEFT JOIN scored s USING (doc_id)""",
)
def q120(spark, sf_dir):
    """Reference-corpus perplexity scoring: the LM is an ingest
    artifact of the trusted corpus (two count tables); incoming data
    only pays the score-side explode and two left joins against it."""
    docs = load_table(spark, sf_dir, "documents")
    train = text_analysis.with_train_split(docs).filter(
        F.col("split") == "train"
    )
    return text_analysis.bigram_lm_score(docs, train_df=train)


# ---------------------------------------------------------------------------
# Model-based quality scoring: a fixed-weight logistic classifier over
# the Gopher-style features — the fasttext-classifier stand-in. The
# sigmoid is floored to micro-units so both engines emit the identical
# scalar despite exp() being the only non-algebraic op involved.
# ---------------------------------------------------------------------------
# Single source of truth for the deployed coefficients (bias, n_words,
# alpha_frac, stop_frac, mean_word_len): the SQL twin string AND every
# Spark body (q121, q210, q229) derive from this tuple, so a weight
# change can never desync an engine side from its oracle (ADVICE r7).
QCLF_W = (-2.0, 0.01, 0.5, 2.0, -0.1)
_QCLF = (
    f"({QCLF_W[0]} + {QCLF_W[1]} * n_words + {QCLF_W[2]} * alpha_frac"
    f" + {QCLF_W[3]} * stop_frac + {QCLF_W[4]} * mean_word_len)"
)


def qclf_z():
    """The classifier's logit as a Spark column over the Gopher
    feature columns — the one Spark-side rendering of ``QCLF_W``."""
    b, wn, wa, ws, wm = QCLF_W
    return (
        F.lit(b)
        + F.lit(wn) * F.col("n_words")
        + F.lit(wa) * F.col("alpha_frac")
        + F.lit(ws) * F.col("stop_frac")
        + F.lit(wm) * F.col("mean_word_len")
    )


@query(
    "q121_quality_classifier",
    f"""WITH feats AS (
          SELECT doc_id,
                 len({_TOKS}) AS n_words,
                 CASE WHEN len({_TOKS}) > 0
                      THEN CAST(len(array_to_string({_TOKS}, ''))
                                AS DOUBLE) / len({_TOKS})
                      ELSE 0.0 END AS mean_word_len,
                 CASE WHEN len({_TOKS}) > 0
                      THEN CAST(len(list_filter({_TOKS},
                                x -> regexp_matches(x, '[a-z]')))
                                AS DOUBLE) / len({_TOKS})
                      ELSE 0.0 END AS alpha_frac,
                 CASE WHEN len({_TOKS}) > 0
                      THEN CAST({sql_stopword_hits(_TOKS)} AS DOUBLE)
                           / len({_TOKS})
                      ELSE 0.0 END AS stop_frac
          FROM documents)
        SELECT doc_id, n_words,
               CAST(floor(1000000.0 / (1.0 + exp(-{_QCLF}))) AS BIGINT)
                 / 1000000.0 AS quality_prob
        FROM feats""",
)
def q121(spark, sf_dir):
    """Classifier-based quality filtering: one codegen'd map pass —
    features, dot product, sigmoid — fused into the scan; the weights
    are the deployed model artifact. Micro-floor keeps the probability
    engine-exact (q110's trick)."""
    from .operators.text_analysis import with_gopher_quality

    docs = load_table(spark, sf_dir, "documents")
    feats = with_gopher_quality(docs)
    z = qclf_z()
    prob = (
        F.floor(F.lit(1000000.0) / (F.lit(1.0) + F.exp(-z)))
        / F.lit(1000000.0)
    )
    return feats.select("doc_id", "n_words", prob.alias("quality_prob"))


# ---------------------------------------------------------------------------
# Time-series surface (the hypertable-style operators): hourly gap-fill
# with last-observation-carried-forward, and a weighted moving average
# over the filled series. Both are pure window/sequence compositions —
# no arithmetic beyond value passthrough (q122) and an explicitly
# parenthesized 4-term weighted sum with power-of-two weights (q123:
# every product is exact, and the fixed association order makes the
# double sum identical across engines).
# ---------------------------------------------------------------------------

#: shared hourly last-value sub-pipeline (SQL CTE text + Spark builder):
#: q122 and q123 both consume it, and the tie-break/bucketing contract
#: must never drift between the two queries or their oracles.
_SQL_HOURLY_LASTV = """b AS (SELECT user_id, event_id, ts, value,
                        date_trunc('hour', ts) AS bucket FROM events),
        lastv AS (SELECT user_id, bucket, value FROM (
            SELECT user_id, bucket, value,
                   row_number() OVER (PARTITION BY user_id, bucket
                                      ORDER BY ts DESC, event_id DESC) AS rn
            FROM b) WHERE rn = 1)"""


def _hourly_last_value(spark, sf_dir):
    """(b, lastv): events bucketed to the hour, and the deterministic
    last value per (user, bucket) — ts then event_id as tie-break."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    b = ev.withColumn("bucket", F.date_trunc("hour", F.col("ts")))
    w_last = Window.partitionBy("user_id", "bucket").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    lastv = (
        b.withColumn("_rn", F.row_number().over(w_last))
        .filter(F.col("_rn") == 1)
        .select("user_id", "bucket", "value")
    )
    return b, lastv


@query(
    "q122_gapfill_locf",
    f"""WITH {_SQL_HOURLY_LASTV},
        rng AS (SELECT user_id, min(bucket) AS lo, max(bucket) AS hi
                FROM b GROUP BY user_id),
        grid AS (SELECT user_id,
                        unnest(generate_series(lo, hi, INTERVAL 1 HOUR))
                          AS bucket
                 FROM rng),
        j AS (SELECT g.user_id, g.bucket, l.value
              FROM grid g LEFT JOIN lastv l USING (user_id, bucket))
        SELECT user_id, bucket,
               last_value(value IGNORE NULLS) OVER (
                 PARTITION BY user_id ORDER BY bucket
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS value_locf,
               value IS NOT NULL AS observed
        FROM j""",
)
def q122(spark, sf_dir):
    """time_bucket_gapfill + locf (the TimescaleDB continuous-series
    operator): densify each user's hourly series between their first
    and last event, carrying the last observation forward into gap
    rows. The grid is generated per user with sequence+explode (no
    driver loop, no cross join against a global calendar — each user
    only materializes their own span); the fill is one ordered window
    per user. At 100 TB the grid explode is the fan-out stage AQE
    re-coalesces, and a monthly range-partition on bucket keeps the
    window shuffle aligned with storage."""
    from pyspark.sql import Window

    b, lastv = _hourly_last_value(spark, sf_dir)
    rng = b.groupBy("user_id").agg(
        F.min("bucket").alias("lo"), F.max("bucket").alias("hi")
    )
    grid = rng.select(
        "user_id",
        F.explode(
            F.sequence("lo", "hi", F.expr("interval 1 hour"))
        ).alias("bucket"),
    )
    j = grid.join(lastv, ["user_id", "bucket"], "left")
    w_fill = Window.partitionBy("user_id").orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return j.select(
        "user_id",
        "bucket",
        F.last("value", ignorenulls=True).over(w_fill).alias("value_locf"),
        F.col("value").isNotNull().alias("observed"),
    )


@query(
    "q123_weighted_moving_avg",
    f"""WITH {_SQL_HOURLY_LASTV},
        lagged AS (SELECT user_id, bucket, value,
                          lag(value, 1) OVER w AS v1,
                          lag(value, 2) OVER w AS v2,
                          lag(value, 3) OVER w AS v3
                   FROM lastv
                   WINDOW w AS (PARTITION BY user_id ORDER BY bucket))
        SELECT user_id, bucket,
               ((((8.0 * value) + (4.0 * coalesce(v1, 0.0)))
                 + (2.0 * coalesce(v2, 0.0)))
                + (1.0 * coalesce(v3, 0.0)))
               / (((8.0 + CASE WHEN v1 IS NULL THEN 0.0 ELSE 4.0 END)
                   + CASE WHEN v2 IS NULL THEN 0.0 ELSE 2.0 END)
                  + CASE WHEN v3 IS NULL THEN 0.0 ELSE 1.0 END)
                 AS wma
        FROM lagged""",
)
def q123(spark, sf_dir):
    """Exponentially-weighted (8/4/2/1) moving average over each
    user's hourly last-value series — the smoothing pass a metrics
    rollup runs after bucketing. Written with explicit lag columns and
    a fully parenthesized sum instead of a frame SUM: power-of-two
    weights make every product exact and the pinned association order
    makes the result bit-identical on any engine — a frame aggregate's
    accumulation order would not be contractual."""
    from pyspark.sql import Window

    _, lastv = _hourly_last_value(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("bucket")
    lagged = lastv.select(
        "user_id",
        "bucket",
        "value",
        F.lag("value", 1).over(w).alias("v1"),
        F.lag("value", 2).over(w).alias("v2"),
        F.lag("value", 3).over(w).alias("v3"),
    )
    num = (
        (
            (F.lit(8.0) * F.col("value"))
            + (F.lit(4.0) * F.coalesce("v1", F.lit(0.0)))
        )
        + (F.lit(2.0) * F.coalesce("v2", F.lit(0.0)))
    ) + (F.lit(1.0) * F.coalesce("v3", F.lit(0.0)))
    den = (
        (
            F.lit(8.0)
            + F.when(F.col("v1").isNull(), F.lit(0.0)).otherwise(F.lit(4.0))
        )
        + F.when(F.col("v2").isNull(), F.lit(0.0)).otherwise(F.lit(2.0))
    ) + F.when(F.col("v3").isNull(), F.lit(0.0)).otherwise(F.lit(1.0))
    return lagged.select("user_id", "bucket", (num / den).alias("wma"))


@query("q124_audio_features")  # rows-only: byte-level WAV/PCM parsing
# has no SQL expression; correctness is pinned against a pure-Python
# reference in test_audiocodec.py
def q124(spark, sf_dir):
    """Audio-modality features over the media table: spec-based
    RIFF/WAVE PCM16 parse where the payload is a real WAV, headerless
    8 kHz PCM16 interpretation otherwise — integer RMS / zero-crossing
    / duration features, Arrow-batched, map-only."""
    from .operators import multimodal

    docs = load_table(spark, sf_dir, "documents")
    return multimodal.extract_audio_features(
        multimodal.as_media_table(docs)
    ).orderBy("doc_id")


@query("q203_dup_communities")
def q203(spark, sf_dir):
    """Community detection over the near-duplicate graph (rows-only:
    iterative label fixpoint): label-propagation communities at a
    LOWER pair threshold than the dup clusters use — where q61's
    connected components answer "transitively linked at ≥0.8", LPA
    groups the densely-linked template families that survive even when
    a single spurious bridge pair would have glued two CC clusters.
    Returns (community label, size, min/max member) — stable summary
    columns rather than per-node rows."""
    from .operators import graph
    from .pipeline_queries import shingle_prebuilt_table

    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    pairs = dedup.ngram_jaccard_pairs(
        docs, "text", "doc_id", k=3, threshold=0.6,
        shingles_df=shingle_prebuilt_table(spark, sf_dir),
    )
    lab = graph.label_propagation(pairs)
    return (
        lab.groupBy("label")
        .agg(
            F.count("*").alias("community_size"),
            F.min("node").alias("min_doc"),
            F.max("node").alias("max_doc"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# Classifier calibration / lift table (q210) — the eval third of the
# quality-model triangle: q200 TRAINS on the engine, q121 INFERS with
# deployed weights, this gate EVALUATES the deployed model against the
# weak label, per fixed probability decile.
# ---------------------------------------------------------------------------
from .pipeline_queries3 import _SQL_QUALITY  # noqa: E402

_Q121_FEATS_CTE = f"""
          SELECT doc_id,
                 len({_TOKS}) AS n_words,
                 CASE WHEN len({_TOKS}) > 0
                      THEN CAST(len(array_to_string({_TOKS}, ''))
                                AS DOUBLE) / len({_TOKS})
                      ELSE 0.0 END AS mean_word_len,
                 CASE WHEN len({_TOKS}) > 0
                      THEN CAST(len(list_filter({_TOKS},
                                x -> regexp_matches(x, '[a-z]')))
                                AS DOUBLE) / len({_TOKS})
                      ELSE 0.0 END AS alpha_frac,
                 CASE WHEN len({_TOKS}) > 0
                      THEN CAST({sql_stopword_hits(_TOKS)} AS DOUBLE)
                           / len({_TOKS})
                      ELSE 0.0 END AS stop_frac
          FROM documents"""


@query(
    "q210_classifier_calibration",
    f"""WITH feats AS ({_Q121_FEATS_CTE}),
    scored AS (
      SELECT doc_id,
             CAST(floor(1000000.0 / (1.0 + exp(-{_QCLF}))) AS BIGINT)
                 AS p_micro
      FROM feats),
    lab AS (
      SELECT doc_id,
             CASE WHEN {_SQL_QUALITY} >= 0.5 THEN 1 ELSE 0 END AS label
      FROM documents),
    joined AS (
      SELECT least(s.p_micro // 100000, 9)::INT AS decile,
             s.p_micro, l.label
      FROM scored s JOIN lab l USING (doc_id))
    SELECT decile,
           count(*) AS n,
           round(CAST(sum(p_micro) AS DOUBLE)
                 / (count(*) * 1000000.0), 6) AS mean_p,
           round(CAST(count(CASE WHEN label = 1 THEN 1 END) AS DOUBLE)
                 / count(*), 6) AS pos_rate,
           round(abs(round(CAST(sum(p_micro) AS DOUBLE)
                           / (count(*) * 1000000.0), 6)
                     - round(CAST(count(CASE WHEN label = 1 THEN 1 END)
                                  AS DOUBLE) / count(*), 6)), 6)
               AS calib_gap
    FROM joined GROUP BY decile""",
)
def q210(spark, sf_dir):
    """Calibration table for the deployed quality model: FIXED
    probability deciles (floor(p·10), never an ntile window — no
    global sort, columnar bucket + one groupBy) with per-decile count,
    mean predicted probability, observed weak-label rate, and the
    calibration gap. The micro-floored probability (q121's trick)
    makes Σp an exact integer sum, so mean_p is one engine-identical
    division; the gap is computed from the two ROUNDED 6dp values so
    it is exact by construction."""
    from .operators.text_analysis import (
        with_gopher_quality,
        with_quality_score,
    )

    # fan_out (r11b, guide §2.6): the fused feature projection is the
    # dominant per-row cost and the local table is one row-group — the
    # guarded repartition spreads it (integer aggregate sums are
    # order-independent, values unchanged).
    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    # one fused projection over one scan (r8) — both operators are
    # withColumn-style, so score and weak label need no self-join
    both = with_quality_score(with_gopher_quality(docs))
    z = qclf_z()
    joined = both.select(
        F.floor(F.lit(1000000.0) / (F.lit(1.0) + F.exp(-z)))
        .cast("long")
        .alias("p_micro"),
        (F.col("quality_score") >= 0.5).cast("int").alias("label"),
    ).select(
        F.least(F.floor(F.col("p_micro") / 100000), F.lit(9))
        .cast("int")
        .alias("decile"),
        "p_micro",
        "label",
    )
    mean_p = F.round(
        F.sum("p_micro").cast("double")
        / (F.count("*") * F.lit(1000000.0)),
        6,
    )
    pos_rate = F.round(
        F.count(F.when(F.col("label") == 1, 1)).cast("double")
        / F.count("*"),
        6,
    )
    return joined.groupBy("decile").agg(
        F.count("*").alias("n"),
        mean_p.alias("mean_p"),
        pos_rate.alias("pos_rate"),
        F.round(F.abs(mean_p - pos_rate), 6).alias("calib_gap"),
    )
