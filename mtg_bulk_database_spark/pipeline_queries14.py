"""Registry entries, round 9: SUB-DOCUMENT (paragraph-level) dedup —
the one capability gap VERDICT r8 left open.  Document-granularity
dedup (q30/q31 exact, q32/q33 near, q224 containment) treats a page
as atomic; production curation pipelines ALSO remove paragraphs that
repeat ACROSS documents (navigation chrome, license blocks, syndicated
passages) and keep the surrounding unique prose.  Plus the round's
planning-to-execution gates.  Nine gates:

- q245: exact cross-document paragraph dedup with per-document
  surviving-text stats (paragraphs/tokens/chars kept vs dropped) —
  the rewrite plan a paragraph-dedup pass would execute.
- q246: cross-document paragraph NEAR-dup pairs — the q224/q32
  posting-join machinery (``operators/dedup.py:130-273``) applied at
  ``(doc_id, para_idx)`` granularity with the stop-shingle DF cap.
- q247: top repeated paragraphs — the boilerplate head a curation
  team reviews before committing the drop list.
- q248: mix-to-manifest — q240's allocation materialized as the
  deterministic document sampling plan that realizes it.
- q249: the allocation re-derived from frozen-tokenizer subword
  counts (q238 × q240, composed).
- q250: the paragraph-dedup REWRITE — per-document surviving text.
- q251: q246's banded-MinHash scale twin (portable md5 family,
  fully oracled — no posting join at all).
- q252: budget->threshold inversion — pick the strictest quality cut
  whose surviving token mass meets a target budget (q243 inverted).
- q253: decontaminated manifest — q248's plan realized from CLEAN
  documents only (q81's screen), shortfall + clean-epoch report.

Paragraph definition: non-overlapping ``_PARA_W``-token windows (the
q80 chunker with overlap=0).  On corpora with structural separators
the splitter swaps to a double-newline ``regexp_split`` without
touching any downstream algebra — the dedup layer only ever sees
``(doc_id, para_idx, tokens)``; the synthetic corpus is single-line so
the token-window proxy is what both engines exercise.  All keeper /
drop logic is md5-fingerprint + integer algebra (house rules), so
every gate is fully oracle-able.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .catalog import load_table
from .functions.text import sql_tokens, tokens
from .operators.text_analysis import chunk_documents
from .registry import query

_TOKS = sql_tokens("text")

#: paragraph proxy width (tokens).  12 ~= a short prose paragraph on
#: the synthetic 31-word-vocabulary corpus and yields real cross-doc
#: repeats at every SF (96 repeated paragraphs at sf0.01, 1028 at
#: sf0.1) so the drop branch does observable work under the driver.
_PARA_W = 12

#: stop-shingle document-frequency cap for the paragraph posting join
#: (q224's `_Q224_DF_CAP` discipline at paragraph grain): shingles in
#: more than this many PARAGRAPHS leave the join, bounding hot-key
#: fanout at cap**2.  Enforced as a broadcast anti-join against the
#: tiny over-cap head (the Zipf argument — see
#: ``shingle_containment_pairs``).
_PARA_DF_CAP = 1000

#: paragraph near-dup Jaccard threshold.  A single-token edit inside a
#: 12-token window kills <=3 of its <=10 trigrams (J >= 7/13 ~ 0.538),
#: so 0.5 catches one-word paraphrases while random 31-vocab windows
#: stay far below it.
_PARA_TAU = 0.5


def _para_cte(src: str = "documents") -> str:
    """Shared DuckDB CTE fragment: documents -> one row per paragraph
    ``(doc_id, para_idx, pt (token list), p_text, n_ptok)`` — the SQL
    twin of :func:`paragraph_table`.  ``src`` swaps the document
    source (a table name or parenthesized subquery — q264 passes the
    takedown scenario's retained subset)."""
    return f"""toks AS (SELECT doc_id, {_TOKS} AS t FROM {src}),
    nz AS (SELECT doc_id, t FROM toks WHERE len(t) > 0),
    st AS (SELECT doc_id, t, unnest(range(0, len(t), {_PARA_W})) AS s
           FROM nz),
    para AS (
      SELECT doc_id, CAST(s // {_PARA_W} AS BIGINT) AS para_idx,
             list_slice(t, s + 1, s + {_PARA_W}) AS pt,
             array_to_string(list_slice(t, s + 1, s + {_PARA_W}), ' ')
               AS p_text,
             len(list_slice(t, s + 1, s + {_PARA_W})) AS n_ptok
      FROM st)"""


def paragraph_table(docs: DataFrame) -> DataFrame:
    """``(doc_id, para_idx, p_text, n_ptok)`` — one row per paragraph.

    Reuses :func:`chunk_documents` (q80's shuffle-free window
    expansion: tokenize -> sequence/slice -> posexplode_outer, all
    codegen'd) with ``overlap=0`` so windows tile the document exactly
    like the oracle's ``range(0, len(t), W)``.  Zero-token documents
    produce no paragraphs (both engines)."""
    return chunk_documents(
        docs, chunk_tokens=_PARA_W, overlap=0
    ).select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("para_idx"),
        F.col("chunk_text").alias("p_text"),
        F.col("n_chunk_tokens").alias("n_ptok"),
    )


def paragraph_table_structural(
    docs: DataFrame, text_col: str = "text"
) -> DataFrame:
    """``(doc_id, para_idx, p_text, n_ptok)`` — one row per
    STRUCTURAL paragraph: the double-newline ``regexp_split`` splitter
    this module's docstring promised for corpora with real separators.
    Same output contract as :func:`paragraph_table` (the token-window
    proxy), so every downstream gate (keeper stats, posting joins,
    rewrite — and, r11, the durable artifact builder's
    ``splitter="structural"`` variant) swaps splitters without
    touching its algebra.  ``p_text`` is normalized to the
    token-joined form (tokenize each segment, join with single
    spaces) — fingerprints must not depend on incidental whitespace
    inside a paragraph; empty segments (leading/dangling separators)
    carry no tokens and are dropped, with ``para_idx`` keeping the
    ORIGINAL segment position in both engines."""
    parts = F.split(F.col(text_col), r"\n{2,}")
    ex = docs.select(
        "doc_id", F.posexplode(parts).alias("para_idx", "_seg")
    )
    toks = tokens(F.col("_seg"))
    return (
        ex.select(
            "doc_id",
            F.col("para_idx").cast("long").alias("para_idx"),
            F.array_join(toks, " ").alias("p_text"),
            F.coalesce(F.size(toks), F.lit(0)).cast("long").alias("n_ptok"),
        )
        .filter(F.col("n_ptok") > 0)
    )


#: name → splitter fn: the contract surface ``ingest.artifacts``
#: persists per root (an artifact built with one splitter must never
#: serve algebra expecting the other)
PARAGRAPH_SPLITTERS = {
    "window": paragraph_table,
    "structural": paragraph_table_structural,
}


#: (applicationId, sf_dir) → persisted paragraph index — the
#: sub-document family's ingest artifact, the paragraph-grain analog
#: of ``shingle_prebuilt_table`` (one tokenize+window pass shared by
#: q245/q246/q247/q250/q251 instead of five).
_PARA_TABLES: dict = {}


def paragraph_prebuilt_table(spark, sf_dir) -> DataFrame:
    key = (spark.sparkContext.applicationId, sf_dir)
    pt = _PARA_TABLES.get(key)
    if pt is None:
        while len(_PARA_TABLES) >= 8:
            _PARA_TABLES.pop(next(iter(_PARA_TABLES))).unpersist()
        docs = load_table(spark, sf_dir, "documents", fan_out=True)
        pt = paragraph_table(docs).persist()
        pt.count()  # materialize now: queries must not time the build
        _PARA_TABLES[key] = pt
    return pt


#: (applicationId, sf_dir) → persisted per-paragraph trigram shingles
#: — the paragraph posting index q246/q251 join on.
_PARA_SHINGLES: dict = {}


def paragraph_shingles_prebuilt(spark, sf_dir) -> DataFrame:
    from .operators.dedup import shingles as shingle_expr

    key = (spark.sparkContext.applicationId, sf_dir)
    sh = _PARA_SHINGLES.get(key)
    if sh is None:
        while len(_PARA_SHINGLES) >= 8:
            _PARA_SHINGLES.pop(next(iter(_PARA_SHINGLES))).unpersist()
        para = paragraph_prebuilt_table(spark, sf_dir).filter(
            F.col("n_ptok") >= 3
        )
        sh = (
            para.select(
                "doc_id", "para_idx", F.split("p_text", " ").alias("_pt")
            )
            .select(
                "doc_id",
                "para_idx",
                shingle_expr(F.col("_pt"), 3).alias("shingles"),
            )
            .persist()
        )
        sh.count()
        _PARA_SHINGLES[key] = sh
    return sh


#: (applicationId, sf_dir, cap) → persisted over-cap stop-shingle head
#: at PARAGRAPH grain — the ANALYZE-statistic analog the document
#: family keeps as ``hot_shingles_prebuilt`` (r8): tiny by Zipf at any
#: sane cap, so the timed query pays one broadcast anti-join instead
#: of a full postings DF-count per run.
_PARA_HOT: dict = {}


def paragraph_hot_shingles_prebuilt(spark, sf_dir, cap: int = _PARA_DF_CAP):
    key = (spark.sparkContext.applicationId, sf_dir, cap)
    hot = _PARA_HOT.get(key)
    if hot is None:
        while len(_PARA_HOT) >= 8:
            _PARA_HOT.pop(next(iter(_PARA_HOT))).unpersist()
        sh = paragraph_shingles_prebuilt(spark, sf_dir)
        hot = (
            sh.select(F.explode("shingles").alias("s"))
            .groupBy("s")
            .agg(F.count("*").alias("_df_s"))
            .filter(F.col("_df_s") > cap)
            .select("s")
            .persist()
        )
        hot.count()
        _PARA_HOT[key] = hot
    return hot


# ---------------------------------------------------------------------------
# q245/q250 shared keeper machinery.
# ---------------------------------------------------------------------------
#: fixed-width (doc_id, para_idx) key: 19 digits covers the FULL
#: non-negative BIGINT range (int64 max is 19 digits) — lpad SHORTENS
#: longer strings in both engines, so an 18-wide key would silently
#: collide 19-digit snowflake-style ids (caught by the r9 review;
#: negative ids are outside the data model's id convention).
#: para_idx gets the SAME 19-digit width (ADVICE r9 #2): a 9-digit pad
#: would re-open the identical truncation seam one field over once a
#: document holds >= 1e9 paragraphs — lexicographic min == numeric min
#: only while every component renders at full fixed width.
_SQL_PKEY = (
    "lpad(CAST(doc_id AS VARCHAR), 19, '0') || ':' || "
    "lpad(CAST(para_idx AS VARCHAR), 19, '0')"
)


def _keeper_mark_cte(carry: str) -> str:
    """``grp``+``mark`` fragment over an ``fp`` CTE carrying
    ``(fpr, pkey, ...)`` — the corpus-wide first-occurrence-wins rule
    shared by q245 (stats) and q250 (rewrite)."""
    return f"""grp AS (SELECT fpr, min(pkey) AS keeper,
                   CAST(count(*) AS BIGINT) AS n_copies
            FROM fp GROUP BY fpr),
    mark AS (
      SELECT {carry},
             CASE WHEN g.n_copies > 1 AND f.pkey <> g.keeper
                  THEN 1 ELSE 0 END AS dropped
      FROM fp f JOIN grp g ON f.fpr = g.fpr)"""


def _pkey_col():
    return F.concat(
        F.lpad(F.col("doc_id").cast("string"), 19, "0"),
        F.lit(":"),
        F.lpad(F.col("para_idx").cast("string"), 19, "0"),
    )


def keeper_marked(fp: DataFrame, carry: list[str]) -> DataFrame:
    """Mark each paragraph occurrence dropped/kept under the
    first-occurrence-wins rule: the map-side-combinable
    ``min(pkey)+count`` per fingerprint, joined back (the q245
    docstring's scale argument).  ``fp`` must carry ``fpr`` and
    ``pkey``; ``carry`` lists the columns to keep alongside
    ``dropped``."""
    grp = fp.groupBy("fpr").agg(
        F.min("pkey").alias("keeper"),
        F.count("*").cast("long").alias("n_copies"),
    )
    return fp.join(grp, "fpr").select(
        *carry,
        F.when(
            (F.col("n_copies") > 1) & (F.col("pkey") != F.col("keeper")), 1
        )
        .otherwise(0)
        .alias("dropped"),
    )


# ---------------------------------------------------------------------------
# q245 — exact cross-document paragraph dedup: per-document surviving-
# text stats.
# ---------------------------------------------------------------------------
def _q245_oracle(src: str = "documents") -> str:
    return f"""WITH {_para_cte(src)},
    fp AS (
      SELECT doc_id, n_ptok, length(p_text) AS n_pchars,
             md5(p_text) AS fpr,
             {_SQL_PKEY} AS pkey
      FROM para),
    {_keeper_mark_cte("f.doc_id, f.n_ptok, f.n_pchars")},
    agg AS (
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_paras,
             CAST(sum(dropped) AS BIGINT) AS n_dropped,
             CAST(sum(CASE WHEN dropped = 0 THEN n_ptok ELSE 0 END)
                  AS BIGINT) AS tok_kept,
             CAST(sum(CASE WHEN dropped = 1 THEN n_ptok ELSE 0 END)
                  AS BIGINT) AS tok_dropped,
             CAST(sum(CASE WHEN dropped = 0 THEN n_pchars ELSE 0 END)
                  AS BIGINT) AS chars_kept
      FROM mark GROUP BY doc_id)
    SELECT doc_id, n_paras, n_dropped, tok_kept, tok_dropped,
           chars_kept, (n_dropped * 1000000) // n_paras AS drop_micro
    FROM agg"""


@query("q245_paragraph_dedup", _q245_oracle())
def q245(spark, sf_dir):
    """Exact cross-document paragraph dedup — the rewrite plan.  Every
    paragraph is fingerprinted (md5 of its normalized token text); of
    all occurrences of a fingerprint CORPUS-WIDE, only the first (min
    ``(doc_id, para_idx)``) survives; the gate reports, per document,
    how much text the rewrite keeps (sub-document granularity the
    q30/q31 document gates can't see: a doc that shares 2 of its 5
    paragraphs with earlier docs keeps 3).

    Keeper selection is a GROUP BY, not a window: ``min(pkey)`` +
    ``count(*)`` per fingerprint partial-aggregate map-side (each
    executor reduces its partition to one row per local fingerprint
    before the only fingerprint shuffle), where the row_number()
    formulation would sort every occurrence inside one hot partition
    per fingerprint — at 100 TB a boilerplate paragraph has millions
    of copies and the window version dies on exactly the keys this
    gate exists to find.  The keeper key is a zero-padded fixed-width
    string so lexicographic min == (doc_id, para_idx) min in both
    engines with no struct-ordering semantics in play.  The copy-count
    join back is a plain fingerprint equi-join (AQE skew-split
    handles the hot head; same audited shape as q242's fingerprint
    window, but partial-agg'd).  The fingerprint frame projects off
    the PERSISTED paragraph index (``paragraph_prebuilt_table`` — one
    tokenize+window pass at ingest shared by the whole sub-document
    family; 1.4 s -> 0.9 s warm at sf0.1 vs the per-query checkpoint
    it replaced).  All stats are BIGINT sums; the ratio
    is the house integer-micro division (positive DIV == floor both
    engines) — no doubles anywhere."""
    fp = paragraph_occurrences(paragraph_prebuilt_table(spark, sf_dir))
    return paragraph_dedup_stats(fp)


def paragraph_occurrences(para: DataFrame) -> DataFrame:
    """The paragraph-occurrence relation ``(doc_id, n_ptok, n_pchars,
    fpr, pkey)`` — the expensive (tokenize+fingerprint) half of q245,
    and exactly the append-only state the streaming fold persists per
    micro-batch (``streaming.ingest.stream_fold_paragraph_dedup``):
    occurrences from different batches never interact until the
    keeper GROUP BY, which is MIN/COUNT-mergeable over their union."""
    return para.select(
        "doc_id",
        "n_ptok",
        F.length("p_text").alias("n_pchars"),
        F.md5("p_text").alias("fpr"),
        _pkey_col().alias("pkey"),
    )


def paragraph_dedup_stats(fp: DataFrame) -> DataFrame:
    """q245's tail over an occurrence relation — shared by the batch
    gate and the streamed leg so streamed ≡ batch is one expression
    tree."""
    mark = keeper_marked(fp, ["doc_id", "n_ptok", "n_pchars"])
    kept = F.col("dropped") == 0
    return (
        mark.groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_paras"),
            F.sum("dropped").cast("long").alias("n_dropped"),
            F.sum(F.when(kept, F.col("n_ptok")).otherwise(0))
            .cast("long")
            .alias("tok_kept"),
            F.sum(F.when(~kept, F.col("n_ptok")).otherwise(0))
            .cast("long")
            .alias("tok_dropped"),
            F.sum(F.when(kept, F.col("n_pchars")).otherwise(0))
            .cast("long")
            .alias("chars_kept"),
        )
        .select(
            "doc_id",
            "n_paras",
            "n_dropped",
            "tok_kept",
            "tok_dropped",
            "chars_kept",
            F.expr("(n_dropped * 1000000) DIV n_paras").alias("drop_micro"),
        )
    )


# ---------------------------------------------------------------------------
# q246 — cross-document paragraph NEAR-dup pairs (capped posting join
# at paragraph granularity).
# ---------------------------------------------------------------------------
def q246_pairs_chain() -> str:
    """CTE chain ``para -> ... -> jpairs`` — q246's capped posting-join
    near-dup pairs as a reusable fragment (q259's rewrite chains the
    transitive closure on top of it)."""
    return f"""{_para_cte()},
    sh AS (
      SELECT doc_id, para_idx,
             list_distinct(list_transform(range(1, len(pt) - 1),
               i -> pt[i] || ' ' || pt[i+1] || ' ' || pt[i+2]))
               AS shingles
      FROM para WHERE len(pt) >= 3),
    ex0 AS (SELECT doc_id, para_idx, unnest(shingles) AS s FROM sh),
    hot AS (SELECT s FROM ex0 GROUP BY s
            HAVING count(*) > {_PARA_DF_CAP}),
    ex AS (SELECT doc_id, para_idx, s FROM ex0
           WHERE s NOT IN (SELECT s FROM hot)),
    pairs AS (
      SELECT a.doc_id AS doc_a, a.para_idx AS para_a,
             b.doc_id AS doc_b, b.para_idx AS para_b,
             CAST(count(*) AS BIGINT) AS common
      FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2, 3, 4),
    sized AS (
      SELECT p.doc_a, p.para_a, p.doc_b, p.para_b, p.common,
             CAST(sa.n AS BIGINT) AS n_a, CAST(sb.n AS BIGINT) AS n_b
      FROM pairs p
      JOIN (SELECT doc_id, para_idx, len(shingles) AS n FROM sh) sa
        ON sa.doc_id = p.doc_a AND sa.para_idx = p.para_a
      JOIN (SELECT doc_id, para_idx, len(shingles) AS n FROM sh) sb
        ON sb.doc_id = p.doc_b AND sb.para_idx = p.para_b),
    jpairs AS (
      SELECT doc_a, para_a, doc_b, para_b,
             common::DOUBLE / (n_a + n_b - common) AS jaccard
      FROM sized
      WHERE common::DOUBLE / (n_a + n_b - common) >= {_PARA_TAU})"""


def _q246_oracle() -> str:
    return (
        f"WITH {q246_pairs_chain()} "
        "SELECT doc_a, para_a, doc_b, para_b, jaccard FROM jpairs"
    )


@query("q246_paragraph_near_dup", _q246_oracle())
def q246(spark, sf_dir):
    """Cross-document paragraph NEAR-dup pairs: all paragraph pairs
    from DIFFERENT documents with trigram-shingle Jaccard >=
    ``_PARA_TAU`` — catches lightly-edited boilerplate (one-word date/
    name substitutions) that q245's exact fingerprints miss, at the
    granularity q32/q33's whole-document Jaccard can't see (a shared
    paragraph inside two long unique docs has doc-level J ~ 0).

    Exactly the ``ngram_jaccard_pairs`` posting-join shape
    (``operators/dedup.py:130-273``) re-keyed to ``(doc_id,
    para_idx)``: explode distinct per-paragraph trigrams -> stop-
    shingle DF cap as a broadcast ANTI-join against the over-cap head
    (paragraph-grain twin of ``_Q224_DF_CAP``; head fanout bounded at
    cap**2, Zipf keeps the head tiny) -> posting self-join on shingle
    (cross-document ``doc_a < doc_b``, so each pair reports once and
    same-document chrome never pairs with itself) -> per-pair common
    counts PARTIAL-AGGREGATED map-side before the pair shuffle (plan-
    pinned) -> broadcast-size joins -> integer-ratio threshold.  The
    Jaccard is |A∩B| / (|A|+|B|-|A∩B|) on integer counts — the double
    division is bit-identical across engines, no rounding.  Never
    doc x doc: cost is posting-list fanout, bounded by the cap.

    The shingle table feeds three branches (postings, DF count, two
    size lookups) and is the PERSISTED paragraph posting index
    (``paragraph_shingles_prebuilt`` — the ingest artifact the
    document-grain family already maintains as
    ``shingle_prebuilt_table``; the earlier per-query lazy checkpoint
    A/B'd 2.4 s vs 8.5 s, and the artifact takes q246 to ~1.6 s warm
    at sf0.1).  The shingle expression goes through the when-guarded
    ``shingles()`` helper — the guard makes ``element_at`` total, so
    no optimizer reordering can evaluate it against a too-short
    paragraph (an ANSI out-of-bounds caught by a no-checkpoint A/B
    variant of the first cut)."""
    return paragraph_near_dup_pairs(
        paragraph_shingles_prebuilt(spark, sf_dir),
        hot_df=paragraph_hot_shingles_prebuilt(spark, sf_dir),
    )


def paragraph_near_dup_pairs(
    sh: DataFrame,
    tau: float = _PARA_TAU,
    shingle_df_cap: int = _PARA_DF_CAP,
    hot_df: DataFrame | None = None,
) -> DataFrame:
    """q246's pair computation over a (doc_id, para_idx, shingles)
    table, with the stop-shingle DF cap as a real parameter (the q224
    discipline — tests pin the head-fanout bound by driving it low on
    a boilerplate-heavy corpus).  The cap only ever SHRINKS common, so
    a capped run is a subset of the uncapped relation: conservative
    for dedup, never a false positive."""
    ex = sh.select(
        "doc_id", "para_idx", F.explode("shingles").alias("s")
    )
    # pass the persisted paragraph_hot_shingles_prebuilt head as
    # ``hot_df`` to skip the in-query DF count (the registered q246
    # does — the document family's r8 ANALYZE-analog discipline)
    hot = (
        hot_df
        if hot_df is not None
        else ex.groupBy("s")
        .agg(F.count("*").alias("_df_s"))
        .filter(F.col("_df_s") > shingle_df_cap)
        .select("s")
    )
    ex = ex.join(F.broadcast(hot), on="s", how="left_anti")
    a = ex.select(
        F.col("doc_id").alias("doc_a"), F.col("para_idx").alias("para_a"), "s"
    )
    b = ex.select(
        F.col("doc_id").alias("doc_b"), F.col("para_idx").alias("para_b"), "s"
    )
    pairs = (
        a.join(b, "s")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "para_a", "doc_b", "para_b")
        .agg(F.count("*").cast("long").alias("common"))
    )
    sizes = sh.select(
        "doc_id", "para_idx", F.size("shingles").cast("long").alias("n")
    )
    sized = pairs.join(
        sizes.select(
            F.col("doc_id").alias("doc_a"),
            F.col("para_idx").alias("para_a"),
            F.col("n").alias("n_a"),
        ),
        ["doc_a", "para_a"],
    ).join(
        sizes.select(
            F.col("doc_id").alias("doc_b"),
            F.col("para_idx").alias("para_b"),
            F.col("n").alias("n_b"),
        ),
        ["doc_b", "para_b"],
    )
    jac = F.col("common").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("common")
    )
    return sized.select(
        "doc_a", "para_a", "doc_b", "para_b", jac.alias("jaccard")
    ).filter(F.col("jaccard") >= tau)


# ---------------------------------------------------------------------------
# q247 — top repeated paragraphs (the boilerplate review head).
# ---------------------------------------------------------------------------
_Q247_K = 20


def _q247_oracle() -> str:
    return f"""WITH {_para_cte()},
    g AS (
      SELECT md5(p_text) AS fpr, min(p_text) AS p_text,
             CAST(count(*) AS BIGINT) AS n_copies,
             CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
      FROM para GROUP BY md5(p_text)
      HAVING count(*) > 1)
    SELECT p_text, n_copies, n_docs
    FROM g ORDER BY n_copies DESC, p_text LIMIT {_Q247_K}"""


@query("q247_top_repeated_paragraphs", _q247_oracle())
def q247(spark, sf_dir):
    """Top-K repeated paragraphs by corpus-wide copy count — the
    review table behind q245's drop list (a curation team eyeballs the
    boilerplate head before committing a rewrite; q118's line-
    frequency screen is the within-page analog).  ``n_docs`` <
    ``n_copies`` exposes paragraphs repeated WITHIN a page vs across
    pages.

    Grouping is by md5 fingerprint with ``min(p_text)`` carried (the
    shuffle key is a fixed 32-char hash, not the paragraph text;
    min == the text itself for every non-colliding group, and min
    keeps the gate deterministic even under a collision), fully
    partial-aggregated map-side; the top-k is orderBy+limit so Spark
    plans TakeOrderedAndProject (per-partition heaps, no global sort)
    with the tie broken by paragraph text — a deterministic total
    order, so the LIMIT cut is identical in both engines."""
    para = paragraph_prebuilt_table(spark, sf_dir)
    return (
        para.groupBy(F.md5("p_text").alias("fpr"))
        .agg(
            F.min("p_text").alias("p_text"),
            F.count("*").cast("long").alias("n_copies"),
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
        )
        .filter(F.col("n_copies") > 1)
        .select("p_text", "n_copies", "n_docs")
        .orderBy(F.desc("n_copies"), "p_text")
        .limit(_Q247_K)
    )


# ---------------------------------------------------------------------------
# q248 — mix-to-manifest: materialize q240's allocation as a
# deterministic document sampling plan.
# ---------------------------------------------------------------------------
def _q248_oracle() -> str:
    from .pipeline_queries13 import _Q240_COUNTS_BODY, _q240_alloc_chain

    return f"""
    WITH {_q240_alloc_chain(_Q240_COUNTS_BODY)},
    d AS (
      SELECT doc_id, source,
             coalesce(len({_TOKS}), 0) AS nt,
             md5(CAST(doc_id AS VARCHAR)) AS ordkey
      FROM documents WHERE source IS NOT NULL),
    cumt AS (
      SELECT doc_id, source, nt,
             CAST(sum(nt) OVER (PARTITION BY source
                  ORDER BY ordkey, doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum
      FROM d WHERE nt > 0),
    marked AS (
      SELECT c.doc_id, c.source, c.nt,
             CASE WHEN a.n_tokens > 0
                  THEN a.alloc_tokens // a.n_tokens ELSE 0 END AS full_ep,
             CASE WHEN c.cum - c.nt <
                       (CASE WHEN a.n_tokens > 0
                             THEN a.alloc_tokens % a.n_tokens
                             ELSE 0 END)
                  THEN 1 ELSE 0 END AS in_prefix,
             a.alloc_tokens, a.n_tokens AS src_tokens
      FROM cumt c JOIN alloc a ON c.source = a.source),
    psel AS (
      SELECT source,
             CAST(coalesce(sum(CASE WHEN in_prefix = 1 THEN nt END), 0)
                  AS BIGINT) AS prefix_tokens
      FROM marked GROUP BY source)
    SELECT m.doc_id, m.source, CAST(m.nt AS BIGINT) AS n_tok,
           CAST(m.full_ep + m.in_prefix AS BIGINT) AS n_repeats,
           m.alloc_tokens AS src_alloc,
           CAST(m.full_ep * m.src_tokens + p.prefix_tokens AS BIGINT)
             AS src_selected,
           CAST(m.full_ep * m.src_tokens + p.prefix_tokens
                - m.alloc_tokens AS BIGINT) AS src_overshoot
    FROM marked m JOIN psel p ON m.source = p.source
    WHERE m.full_ep + m.in_prefix > 0"""


@query("q248_mix_manifest", _q248_oracle())
def q248(spark, sf_dir):
    """Mix-to-manifest: turn q240's per-source token allocation into
    the deterministic DOCUMENT manifest that realizes it — the last
    planning->execution edge (q242 prices the mix, q239/q240 choose
    it, this makes it runnable).  Per source: every document repeats
    ``alloc_tokens DIV n_tokens`` times (full epochs — the epoch cap
    guarantees this is at most the cap), and the remainder budget is
    filled by a greedy prefix of documents in md5(doc_id) order
    (deterministic pseudo-shuffle, the q198/q230 quota discipline):
    whole documents are taken until the remainder is covered, so the
    plan OVERSHOOTS by at most one document — reported per source as
    ``src_overshoot = src_selected - src_alloc`` (>= 0; exact 0 when
    the remainder is 0).

    Exactness: the allocation comes from the SHARED
    :func:`epoch_capped_allocation` body; the manifest layer is one
    per-source cumulative-sum window over an md5 total order plus
    integer DIV/% — no doubles anywhere.

    100 TB shape: the corpus-scale work is ONE window shuffle
    partitioned BY SOURCE ordered by the uniform md5 key (the same
    per-source running-sum shape as q230's balanced sampler; skew =
    largest source, the unavoidable partition for any per-source
    quota), with the |sources|-row allocation and prefix-sum tables
    broadcast.  Zero-token documents are excluded up front (they
    contribute nothing to a token budget); NULL sources are excluded
    per q240's discipline."""
    from .pipeline_queries13 import (
        epoch_capped_allocation,
        source_token_counts,
    )

    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    alloc = epoch_capped_allocation(source_token_counts(docs)).select(
        "source",
        F.col("n_tokens").alias("src_tokens"),
        "alloc_tokens",
    )
    d = docs.where(F.col("source").isNotNull()).select(
        "doc_id",
        "source",
        F.coalesce(F.size(tokens("text")), F.lit(0)).alias("nt"),
    )
    out = greedy_manifest(d, alloc)
    return out.select(
        "doc_id",
        "source",
        "n_tok",
        "n_repeats",
        F.col("alloc_tokens").alias("src_alloc"),
        F.col("selected").alias("src_selected"),
        (F.col("selected") - F.col("alloc_tokens"))
        .cast("long")
        .alias("src_overshoot"),
    )


def greedy_manifest(d: DataFrame, alloc: DataFrame) -> DataFrame:
    """The manifest kernel shared by q248 and q253: given eligible
    documents ``d = (doc_id, source, nt)`` and a per-source allocation
    ``alloc = (source, src_tokens, alloc_tokens)`` (``src_tokens`` =
    the eligible token mass the epochs repeat over), emit one row per
    selected document: ``(doc_id, source, n_tok, n_repeats,
    alloc_tokens, src_tokens, selected)`` where ``selected`` is the
    realized per-source token mass (full epochs + greedy md5-ordered
    prefix of whole documents).  Zero-token documents are excluded;
    the per-source cumulative window runs over the md5(doc_id) order
    (q230's shape); allocation and prefix-sum tables broadcast."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy("source")
        .orderBy("ordkey", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cumt = (
        d.filter(F.col("nt") > 0)
        .select(
            "doc_id",
            "source",
            "nt",
            F.md5(F.col("doc_id").cast("string")).alias("ordkey"),
        )
        .select(
            "doc_id",
            "source",
            "nt",
            F.sum("nt").over(w).cast("long").alias("cum"),
        )
    )
    marked = cumt.join(F.broadcast(alloc), "source").select(
        "doc_id",
        "source",
        "nt",
        F.expr(
            "CASE WHEN src_tokens > 0"
            " THEN alloc_tokens DIV src_tokens ELSE 0 END"
        ).alias("full_ep"),
        F.expr(
            "CASE WHEN cum - nt < (CASE WHEN src_tokens > 0"
            " THEN alloc_tokens % src_tokens ELSE 0 END)"
            " THEN 1 ELSE 0 END"
        ).alias("in_prefix"),
        "alloc_tokens",
        "src_tokens",
    )
    psel = marked.groupBy("source").agg(
        F.coalesce(
            F.sum(F.when(F.col("in_prefix") == 1, F.col("nt"))), F.lit(0)
        )
        .cast("long")
        .alias("prefix_tokens")
    )
    return (
        marked.join(F.broadcast(psel), "source")
        .filter(F.col("full_ep") + F.col("in_prefix") > 0)
        .select(
            "doc_id",
            "source",
            F.col("nt").cast("long").alias("n_tok"),
            (F.col("full_ep") + F.col("in_prefix"))
            .cast("long")
            .alias("n_repeats"),
            "alloc_tokens",
            "src_tokens",
            (F.col("full_ep") * F.col("src_tokens") + F.col("prefix_tokens"))
            .cast("long")
            .alias("selected"),
        )
    )


# ---------------------------------------------------------------------------
# q249 — fertility-aware allocation: q240's waterfilling driven by
# q238's subword counts under the frozen tokenizer.
# ---------------------------------------------------------------------------
def _q249_oracle() -> str:
    from .pipeline_queries12 import _q234_merge_chain
    from .pipeline_queries13 import _q240_alloc_chain, epochs_micro_sql

    chain = _q234_merge_chain(
        "(' ' || regexp_replace(word, '(.)', '\\1 ', 'g') || '</w> ')"
    )
    counts_body = f"""
      SELECT source, CAST(sum(freq * n_pieces) AS BIGINT) AS n_tokens
      FROM (
        SELECT source, freq,
               len(string_split(trim({chain}), ' ')) AS n_pieces
        FROM (
          SELECT source, word, count(*) AS freq
          FROM (SELECT source, unnest({_TOKS}) AS word
                FROM documents WHERE source IS NOT NULL)
          GROUP BY source, word))
      GROUP BY source"""
    return f"""
    WITH {_q240_alloc_chain(counts_body)}
    SELECT source, n_tokens, alloc_tokens, capped,
           {epochs_micro_sql("alloc_tokens", "n_tokens", "//")}
             AS epochs_micro
    FROM alloc"""


@query("q249_fertility_capped_allocation", _q249_oracle())
def q249(spark, sf_dir):
    """q240's epoch-capped allocation re-derived in REAL training
    tokens: the per-source budget input is q238's subword count under
    the frozen BPE merge table (q234's deployed artifact) instead of
    whitespace tokens — the allocation a training run would actually
    consume, where a high-fertility domain (more subwords per word)
    correctly costs more of the budget.  Same closed-form waterfilling
    tail, COMPOSED: :func:`epoch_capped_allocation` takes the counts
    relation verbatim (one Spark body, one oracle CTE chain — nothing
    reimplemented).

    A source whose documents produce zero words has no subword mass
    and drops out of the allocation (both engines identically); q240's
    n_tokens=0 row for such a source is the whitespace-side analog.

    100 TB shape: q238's shape (two map-side-combinable groupBys; the
    merge fold runs over the VOCABULARY-sized per-source word relation,
    not the corpus) followed by q240's |sources|-row algebra."""
    from .pipeline_queries12 import _q234_merge_chain
    from .pipeline_queries13 import epoch_capped_allocation

    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    wf = (
        docs.where(F.col("source").isNotNull())
        .select("source", F.explode(tokens("text")).alias("word"))
        .groupBy("source", "word")
        .agg(F.count("*").alias("freq"))
    )
    chain = _q234_merge_chain(
        "concat(' ', regexp_replace(word, '(.)', '$1 '), '</w> ')"
    )
    counts = (
        wf.selectExpr(
            "source",
            "freq",
            f"size(split(trim({chain}), ' ')) AS n_pieces",
        )
        .groupBy("source")
        .agg(
            F.sum(F.col("freq") * F.col("n_pieces"))
            .cast("long")
            .alias("n_tokens")
        )
    )
    return epoch_capped_allocation(counts).select(
        "source", "n_tokens", "alloc_tokens", "capped", "epochs_micro"
    )


# ---------------------------------------------------------------------------
# q250 — the paragraph-dedup REWRITE: per-document surviving text.
# ---------------------------------------------------------------------------
def _q250_oracle() -> str:
    return f"""WITH {_para_cte()},
    fp AS (
      SELECT doc_id, para_idx, p_text, md5(p_text) AS fpr,
             {_SQL_PKEY} AS pkey
      FROM para),
    {_keeper_mark_cte("f.doc_id, f.para_idx, f.p_text")}
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_paras,
           CAST(count(*) - sum(dropped) AS BIGINT) AS n_kept,
           coalesce(string_agg(CASE WHEN dropped = 0 THEN p_text END,
                               ' ' ORDER BY para_idx), '') AS kept_text
    FROM mark GROUP BY doc_id"""


@query("q250_paragraph_rewrite", _q250_oracle())
def q250(spark, sf_dir):
    """The paragraph-dedup REWRITE itself: per document, the surviving
    text after cross-document paragraph dedup — q245 reports the
    accounting, this emits the corpus a training run would actually
    read (kept paragraphs reassembled in original order; a document
    whose every paragraph is boilerplate collapses to '' rather than
    vanishing, so downstream length filters see it).

    Same keeper machinery as q245 (:func:`keeper_marked` — map-side-
    combinable GROUP BY min, no window); the reassembly is one per-doc
    aggregate: collect the kept ``(para_idx, p_text)`` structs, sort
    by index, join with spaces — embarrassingly parallel after the
    fingerprint join, the per-doc frame bounded by document length.
    ``collect_list`` skips the NULLed dropped entries exactly as
    DuckDB's ``string_agg`` skips NULLs; the empty aggregate is pinned
    to '' on BOTH sides (Spark ``array_join([])`` vs DuckDB
    ``coalesce(NULL, '')`` — the engine seam the verify notes flag
    for scalarized list aggregations).

    100 TB shape: identical to q245's plus the final reassembly
    groupBy keyed by doc_id (partial collect_list combines map-side;
    the shuffled payload is exactly the kept text — the rewrite has
    to move that once by definition)."""
    fp = paragraph_prebuilt_table(spark, sf_dir).select(
        "doc_id",
        "para_idx",
        "p_text",
        F.md5("p_text").alias("fpr"),
        _pkey_col().alias("pkey"),
    )
    mark = keeper_marked(fp, ["doc_id", "para_idx", "p_text"])
    kept_struct = F.when(
        F.col("dropped") == 0, F.struct("para_idx", "p_text")
    )
    return mark.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_paras"),
        (F.count("*") - F.sum("dropped")).cast("long").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(kept_struct)),
                lambda s: s["p_text"],
            ),
            " ",
        ).alias("kept_text"),
    )


# ---------------------------------------------------------------------------
# q251 — paragraph near-dup via banded MinHash (the q246 scale twin).
# ---------------------------------------------------------------------------
#: banding for the paragraph tau=0.5 operating point: 16 bands x 2
#: rows of a 32-perm signature.  Candidate probability 1-(1-s^2)^16:
#: 0.990 at s=0.5, 0.996 at the one-token-edit point 7/13, 1.0 for
#: verbatim copies (identical shingles => identical signatures);
#: random paragraph pairs (J ~ 1e-4 on disjoint trigram sets) stay at
#: the hash-collision floor.  q33/q166's (32,8) knee targets tau=0.8 —
#: a 0.5 threshold needs SHALLOWER bands (r=2), and halving the perm
#: count halves the dominant signature-projection cost (the r9 A/B
#: that moved this off 64x21x3: ~11 s -> ~4 s warm at sf0.1).
_Q251_NUM_PERM = 32
_Q251_BANDS = 16
_Q251_SEED = 13


def _q251_oracle() -> str:
    from .operators.dedup import _MERSENNE_31, _perm_params

    p = _MERSENNE_31
    rows = _Q251_NUM_PERM // _Q251_BANDS
    sig = ", ".join(
        f"list_min(list_transform(hs, x -> ({a}::BIGINT * x + {b}) % {p}))"
        for a, b in _perm_params(_Q251_NUM_PERM, _Q251_SEED)
    )
    return f"""
    WITH {_para_cte()},
    sh AS (
      SELECT {_SQL_PKEY} AS pid,
             list_distinct(list_transform(range(1, len(pt) - 1),
               i -> pt[i] || ' ' || pt[i+1] || ' ' || pt[i+2]))
               AS shingles
      FROM para WHERE len(pt) >= 3),
    hx AS (
      SELECT pid,
             list_transform(shingles,
               s -> ('0x' || substr(md5(s),1,15))::BIGINT % {p}) AS hs
      FROM sh),
    sig AS (SELECT pid, [{sig}] AS sig FROM hx),
    bnd AS (
      SELECT pid, band,
             ('0x' || substr(md5(array_to_string(
                 sig[band*{rows}+1 : band*{rows}+{rows}], '-')),1,15))::BIGINT
               AS bucket
      FROM sig, (SELECT unnest(range({_Q251_BANDS})) AS band)),
    cand AS (
      SELECT DISTINCT a.pid AS id_a, b.pid AS id_b
      FROM bnd a JOIN bnd b
        ON a.band = b.band AND a.bucket = b.bucket AND a.pid < b.pid),
    ver AS (
      SELECT id_a, id_b,
             len(list_intersect(sa.shingles, sb.shingles))::DOUBLE /
             (len(sa.shingles) + len(sb.shingles)
              - len(list_intersect(sa.shingles, sb.shingles))) AS jaccard
      FROM cand
      JOIN sh sa ON sa.pid = id_a
      JOIN sh sb ON sb.pid = id_b)
    SELECT CAST(substr(id_a, 1, 19) AS BIGINT) AS doc_a,
           CAST(substr(id_a, 21, 19) AS BIGINT) AS para_a,
           CAST(substr(id_b, 1, 19) AS BIGINT) AS doc_b,
           CAST(substr(id_b, 21, 19) AS BIGINT) AS para_b,
           jaccard
    FROM ver
    WHERE jaccard >= {_PARA_TAU}
      AND substr(id_a, 1, 19) <> substr(id_b, 1, 19)"""


@query("q251_paragraph_near_dup_lsh", _q251_oracle())
def q251(spark, sf_dir):
    """q246's banded-MinHash scale twin, fully oracled: the same
    cross-document paragraph near-dup relation computed WITHOUT the
    posting-list self-join — 16x2 banded 32-perm signatures over the
    portable md5 hash family (q177's engine-exact chain; see
    _Q251_NUM_PERM for the S-curve derivation), candidates from the
    (band, bucket) equi-join, exact-Jaccard verify, then the packed
    paragraph key split back to (doc, para).  At 100 TB this is the
    path when even capped posting lists are too hot (agglutinative
    boilerplate with no Zipf head to cap): the shuffle carries
    32-slot signatures per PARAGRAPH, size-independent of text.

    Approximation contract: verbatim copies are found with p=1
    (identical shingles => identical signatures); the one-token-edit
    point (J=7/13) with p~0.996 per pair; both engines compute the
    SAME approximate relation (the banded plan is the spec, not a
    sample), so the gate hash-checks like every exact one.  Output is
    provably a subset of the UNCAPPED q246 relation (exact verify);
    where q246's DF cap binds, the two trade hot-head recall
    differently — the LSH keeps verbatim boilerplate pairs the capped
    posting join drops.  Pair
    direction: the packed-key '<' equals (doc_id, para_idx)
    lexicographic order, so emitted pairs carry doc_a < doc_b exactly
    like q246; same-document bucket collisions are filtered at the
    end."""
    from .operators.dedup import minhash_lsh_pairs

    sh = paragraph_shingles_prebuilt(spark, sf_dir).select(
        _pkey_col().alias("pid"), "shingles"
    )
    pairs = minhash_lsh_pairs(
        None,
        "p_text",
        "pid",
        threshold=_PARA_TAU,
        num_perm=_Q251_NUM_PERM,
        bands=_Q251_BANDS,
        seed=_Q251_SEED,
        shingles_df=sh,
        portable=True,
    )
    # unpack widths MUST track _SQL_PKEY's field widths (19+1+19): the
    # r10 para_idx widening with a stale 9-wide unpack collapsed every
    # para index to its leading zeros — consistently on BOTH engines,
    # so only the local subset-of-exact invariant caught it
    # (test_q251_lsh_subset_of_exact_and_complete_on_verbatim)
    return pairs.select(
        F.substring("id_a", 1, 19).cast("long").alias("doc_a"),
        F.substring("id_a", 21, 19).cast("long").alias("para_a"),
        F.substring("id_b", 1, 19).cast("long").alias("doc_b"),
        F.substring("id_b", 21, 19).cast("long").alias("para_b"),
        "jaccard",
    ).filter(F.col("doc_a") != F.col("doc_b"))


# ---------------------------------------------------------------------------
# q252 — budget→threshold inversion: pick the quality cut FOR a token
# budget.
# ---------------------------------------------------------------------------
#: the target budget as a fraction of the scored corpus' token mass:
#: budget = (tot_tok * NUM) DIV DEN — half the corpus, the q240-style
#: data-derived target (a fixed literal budget would be meaningless
#: across scale factors).
_Q252_BUDGET_NUM, _Q252_BUDGET_DEN = 1, 2


def _q252_oracle() -> str:
    from .pipeline_queries13 import _q243_grid_ctes

    return f"""
    WITH {_q243_grid_ctes()},
    b AS (
      SELECT tau_micro, n_docs, n_tokens,
             (tot_tok * {_Q252_BUDGET_NUM}) // {_Q252_BUDGET_DEN}
               AS budget,
             CASE WHEN n_tokens >=
                       (tot_tok * {_Q252_BUDGET_NUM})
                         // {_Q252_BUDGET_DEN}
                  THEN 1 ELSE 0 END AS meets_budget
      FROM grid),
    m AS (
      SELECT CAST(max(CASE WHEN meets_budget = 1 THEN tau_micro
                           ELSE -1 END) AS BIGINT) AS chosen_tau
      FROM b)
    SELECT tau_micro, n_docs, n_tokens, budget, meets_budget,
           CAST(CASE WHEN tau_micro = chosen_tau THEN 1 ELSE 0 END
                AS INT) AS chosen,
           CAST(n_tokens - budget AS BIGINT) AS surplus
    FROM b CROSS JOIN m"""


@query("q252_budget_to_threshold", _q252_oracle())
def q252(spark, sf_dir):
    """The q243 curve INVERTED: given a token budget (half the scored
    corpus — a data-derived target like q240's), pick the STRICTEST
    quality threshold whose surviving token mass still meets it — the
    decision a curation run actually makes ("we need B tokens; how
    high can we set the bar?").  Emits the whole grid with
    ``meets_budget`` per τ and ``chosen`` on the argmax row, plus the
    signed surplus, so the report shows the neighborhood of the cut,
    not just the winner.  Closes the quality-planning loop: q213
    scores, q243 prices the thresholds, THIS picks one for a budget,
    q248 then materializes the manifest.

    Exactness: pure BIGINT algebra over the shared
    :func:`quality_budget_grid` (one Spark body, one oracle CTE
    chain); the argmax over the |τ|-row grid is one MAX with a -1
    sentinel.  For any budget fraction ≤ 100% the τ=0 row always
    meets (it keeps the whole corpus), so the sentinel is defensive
    algebra, never an output; on an all-NULL corpus the budget is 0,
    every row trivially meets it, and the STRICTEST τ is chosen —
    the right call for a zero budget.

    100 TB shape: q243's — one codegen'd scan into a single-row
    aggregate; everything after is constant-size algebra behind a
    1-row broadcast."""
    from .pipeline_queries13 import quality_budget_grid

    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    budget = F.expr(
        f"(tot_tok * {_Q252_BUDGET_NUM}) DIV {_Q252_BUDGET_DEN}"
    )
    # the 4-row grid feeds BOTH the argmax aggregate and the final
    # projection — without the cut the corpus-wide scoring scan runs
    # twice (r9 review: q252 planned 3 FileScans vs q243's 2); the
    # checkpoint pins four rows
    b = quality_budget_grid(docs).select(
        "tau_micro",
        "n_docs",
        "n_tokens",
        budget.alias("budget"),
        F.when(F.col("n_tokens") >= budget, 1).otherwise(0).alias(
            "meets_budget"
        ),
    ).localCheckpoint(eager=False)
    m = b.agg(
        F.max(
            F.when(F.col("meets_budget") == 1, F.col("tau_micro")).otherwise(
                -1
            )
        )
        .cast("long")
        .alias("chosen_tau")
    )
    return b.crossJoin(F.broadcast(m)).select(
        "tau_micro",
        "n_docs",
        "n_tokens",
        "budget",
        "meets_budget",
        F.when(F.col("tau_micro") == F.col("chosen_tau"), 1)
        .otherwise(0)
        .cast("int")
        .alias("chosen"),
        (F.col("n_tokens") - F.col("budget")).cast("long").alias("surplus"),
    )


# ---------------------------------------------------------------------------
# q253 — decontaminated manifest: realize the allocation from CLEAN
# documents only (q81 x q240 x q248).
# ---------------------------------------------------------------------------
def decon_allocc_chain() -> str:
    """CTE chain ``alloc -> ... -> allocc`` — the full-corpus
    waterfilling allocation re-capped at the epoch cap times each
    source's CLEAN token mass (q81's decontamination screen).  Shared
    by q253 (manifest realization) and q255 (shortfall reallocation)
    so the decontaminated-allocation algebra exists exactly once on
    the oracle side, the way the Spark bodies share
    ``epoch_capped_allocation`` + the broadcast screen."""
    from .pipeline_queries13 import (
        _Q240_CAP_EPOCHS,
        _Q240_COUNTS_BODY,
        _q240_alloc_chain,
    )

    c = _Q240_CAP_EPOCHS
    return f"""{_q240_alloc_chain(_Q240_COUNTS_BODY)},
    toksd AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    shd AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(t) - 1),
               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingles
      FROM toksd WHERE len(t) >= 3),
    tr AS (SELECT doc_id, unnest(shingles) AS s FROM shd
           WHERE doc_id % 41 <> 0),
    be AS (SELECT DISTINCT unnest(shingles) AS s FROM shd
           WHERE doc_id % 41 = 0),
    contaminated AS (SELECT DISTINCT tr.doc_id FROM tr JOIN be USING (s)),
    dclean AS (
      SELECT doc_id, source, coalesce(len({_TOKS}), 0) AS nt,
             md5(CAST(doc_id AS VARCHAR)) AS ordkey
      FROM documents
      WHERE source IS NOT NULL AND doc_id % 41 <> 0
        AND doc_id NOT IN (SELECT doc_id FROM contaminated)),
    cleant AS (
      SELECT source, CAST(sum(nt) AS BIGINT) AS clean_t
      FROM dclean WHERE nt > 0 GROUP BY source),
    allocc AS (
      SELECT a.source, a.alloc_tokens,
             CAST(coalesce(ct.clean_t, 0) AS BIGINT) AS clean_t,
             CAST(least(a.alloc_tokens,
                        {c} * coalesce(ct.clean_t, 0)) AS BIGINT)
               AS alloc_clean
      FROM alloc a LEFT JOIN cleant ct ON a.source = ct.source)"""


def decon_allocc_frames(spark, sf_dir):
    """Spark twin of :func:`decon_allocc_chain`: returns ``(d,
    allocc)`` — the clean per-doc token frame and the per-source
    decontaminated allocation ``(source, orig_alloc, src_tokens,
    alloc_tokens)``.  Shared by q253 (manifest) and q255 (shortfall
    reallocation).

    ONE tokenize pass feeds both the allocation counts and the clean
    per-doc masses (lazily checkpointed: two consumers); the
    contamination screen runs off the PREBUILT document shingle index
    (benchmark_ngram_overlap's exact shape — broadcast bench grams,
    corpus rows never shuffle — minus its two in-query shingle
    builds; measured 4.1 s -> ~2 s wall at sf0.1)."""
    from .pipeline_queries import shingle_prebuilt_table
    from .pipeline_queries13 import (
        _Q240_CAP_EPOCHS,
        epoch_capped_allocation,
    )

    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    ntdf = docs.where(F.col("source").isNotNull()).select(
        "doc_id",
        "source",
        F.coalesce(F.size(tokens("text")), F.lit(0)).alias("nt"),
    ).localCheckpoint(eager=False)
    counts = ntdf.groupBy("source").agg(
        F.sum("nt").cast("long").alias("n_tokens")
    )
    alloc = epoch_capped_allocation(counts).select(
        "source", "alloc_tokens"
    )
    sh = shingle_prebuilt_table(spark, sf_dir)
    bench_grams = (
        sh.filter(F.col("doc_id") % 41 == 0)
        .select(F.explode_outer("shingles").alias("s"))
        .filter(F.col("s").isNotNull())
        .distinct()
    )
    contaminated = (
        sh.filter(F.col("doc_id") % 41 != 0)
        .select("doc_id", F.explode_outer("shingles").alias("s"))
        .filter(F.col("s").isNotNull())
        .join(F.broadcast(bench_grams), "s")
        .select("doc_id")
        .distinct()
    )
    # d has TWO consumers (cleant → allocc, and the caller's manifest
    # window): without a barrier the whole contamination screen —
    # shingle-cache scan + explode + distinct + anti-join — re-runs
    # once per consumer (r11 profile: q253 executed the screen twice
    # per action).  d is |clean docs| rows × 3 scalar columns — the
    # guide-§8 lightweight-proxy shape — so the barrier is cheap and
    # the A/B (unlike q222/q239's counter-cases) wins: q253 7.2 → 5.0
    # executor-CPU-s/run and 33 → 25 stages/run, q255 3.7 → 1.2
    # (same-window stash A/B, min-of-2).
    d = (
        ntdf.filter(F.col("doc_id") % 41 != 0)
        .join(contaminated, "doc_id", "left_anti")
        .localCheckpoint(eager=False)
    )
    cleant = (
        d.filter(F.col("nt") > 0)
        .groupBy("source")
        .agg(F.sum("nt").cast("long").alias("clean_t"))
    )
    allocc = (
        alloc.join(cleant, "source", "left")
        .select(
            "source",
            F.col("alloc_tokens").alias("orig_alloc"),
            F.coalesce("clean_t", F.lit(0)).cast("long").alias("src_tokens"),
            F.least(
                F.col("alloc_tokens"),
                F.lit(_Q240_CAP_EPOCHS) * F.coalesce("clean_t", F.lit(0)),
            )
            .cast("long")
            .alias("alloc_tokens"),
        )
    )
    return d, allocc


def _q253_oracle() -> str:
    from .pipeline_queries13 import epochs_micro_sql

    return f"""
    WITH {decon_allocc_chain()},
    cumt AS (
      SELECT doc_id, source, nt,
             CAST(sum(nt) OVER (PARTITION BY source
                  ORDER BY ordkey, doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum
      FROM dclean WHERE nt > 0),
    markedc AS (
      SELECT cu.doc_id, cu.source, cu.nt,
             CASE WHEN a.clean_t > 0
                  THEN a.alloc_clean // a.clean_t ELSE 0 END AS full_ep,
             CASE WHEN cu.cum - cu.nt <
                       (CASE WHEN a.clean_t > 0
                             THEN a.alloc_clean % a.clean_t
                             ELSE 0 END)
                  THEN 1 ELSE 0 END AS in_prefix,
             a.alloc_tokens, a.alloc_clean, a.clean_t
      FROM cumt cu JOIN allocc a ON cu.source = a.source)
    SELECT doc_id, source, CAST(nt AS BIGINT) AS n_tok,
           CAST(full_ep + in_prefix AS BIGINT) AS n_repeats,
           alloc_tokens AS src_alloc,
           alloc_clean AS src_alloc_clean,
           CAST(alloc_tokens - alloc_clean AS BIGINT) AS src_shortfall,
           {epochs_micro_sql("alloc_clean", "clean_t", "//")}
             AS epochs_clean_micro
    FROM markedc
    WHERE full_ep + in_prefix > 0"""


@query("q253_decontaminated_manifest", _q253_oracle())
def q253(spark, sf_dir):
    """The manifest a run can actually TRAIN on: q248's sampling plan
    realized from CLEAN documents only — benchmark documents (q64/q81's
    held-out convention, doc_id ≡ 0 mod 41) and any training document
    sharing an n-gram with them (q81's decontamination screen) are
    ineligible, while the ALLOCATION stays the full-corpus plan (the
    mix was chosen before decontamination — realistic pipeline order).
    Per source the realizable budget is re-capped at the epoch cap
    times the CLEAN token mass: a source whose corpus was mostly contaminated cannot
    silently repeat its survivors past the epoch cap, so the gate
    reports ``src_shortfall = src_alloc - src_alloc_clean`` (the
    tokens the plan loses to decontamination) and the effective clean
    epochs.  A source with NO clean documents disappears from the
    manifest entirely — its whole allocation is shortfall (pinned in
    the planted test by absence).

    Composition, not reimplementation: the allocation is
    :func:`epoch_capped_allocation`, the contamination screen is
    ``dedup.benchmark_ngram_overlap`` (q81's operator), and the
    sampling kernel is :func:`greedy_manifest` — the oracle chains
    the same three published fragments.

    100 TB shape: q81's broadcast benchmark-shingle anti-join (corpus
    rows never shuffle for the screen), then q248's per-source
    cumulative window over the clean subset; everything per-source is
    |sources|-row broadcast algebra."""
    from .pipeline_queries13 import epochs_micro_sql

    d, allocc = decon_allocc_frames(spark, sf_dir)
    out = greedy_manifest(
        d, allocc.select("source", "src_tokens", "alloc_tokens")
    )
    report = allocc.select(
        "source",
        F.col("orig_alloc").alias("src_alloc"),
        F.col("alloc_tokens").alias("src_alloc_clean"),
        (F.col("orig_alloc") - F.col("alloc_tokens"))
        .cast("long")
        .alias("src_shortfall"),
        F.expr(
            epochs_micro_sql("alloc_tokens", "src_tokens", "DIV")
        ).alias("epochs_clean_micro"),
    )
    return out.join(F.broadcast(report), "source").select(
        "doc_id",
        "source",
        "n_tok",
        "n_repeats",
        "src_alloc",
        "src_alloc_clean",
        "src_shortfall",
        "epochs_clean_micro",
    )
