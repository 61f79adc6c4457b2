"""Durable ingest artifacts on the ledger (VERDICT r9 #2).

The prebuilt indexes the hot query paths read — the document shingle
posting index (``pipeline_queries.shingle_prebuilt_table``), the
paragraph table + paragraph shingle postings + over-cap stop-shingle
head (``pipeline_queries14``), and the IVF centroids/assignments
(``pipeline_queries.ivf_prebuilt_index``) — are session-scoped
builds behind one memo (``catalog._session_memo``: keyed by
applicationId plus every argument, at most 8 entries per accessor):
rebuilt from scratch in every new SparkSession.  At 100 TB the
rebuild IS the corpus scan the artifact exists to avoid.

This module promotes each of them to a **ledger table**
(``ingest.ledger`` — atomic commits, snapshot reads, file-skipping
merge, vacuum), written once at ingest and read by ANY later session
with zero corpus re-scan, and MAINTAINED incrementally when a document
batch merges:

- ``paragraphs``            (pkey, doc_id, para_idx, p_text, n_ptok),
  key=pkey (the fixed-width ``doc_id:para_idx`` string, so file min/max
  cluster by document), stats_cols=[doc_id].
- ``paragraph_shingles``    (pkey, doc_id, para_idx, shingles),
  key=pkey, stats_cols=[doc_id] — the paragraph posting index.
- ``paragraph_shingle_df``  (s, df_s), key=s — the per-shingle
  document-frequency STATISTIC the over-cap head derives from
  (``hot head = filter(df_s > cap)``).  Maintained by SIGNED count
  deltas: the count is SUM-mergeable, exactly the property the
  streaming folds already exploit, so an increment adjusts only the
  affected shingle rows.  Rows that reach df_s <= 0 stay as zero
  tombstones (readers filter ``df_s > 0``); deleting them would force
  a driver-side key collect — compaction can drop them offline.
- ``paragraph_dedup_state`` (fpr, keeper, n_copies), key=fpr — the
  per-fingerprint keeper state (min fixed-width pkey + copy count):
  the streaming fold's MIN/SUM-mergeable occurrence state made
  durable, and the corpus-side half of incremental exact dedup (q258)
  — an arriving batch classifies against it without reading any
  corpus text.
- ``doc_shingles``          (doc_id, shingles), key=doc_id — the
  document-grain posting index (q32/q224/q253's artifact).
- ``doc_shingle_df``        (s, df_s), key=s — its DF statistic.
- ``ivf_centroids``         (list_id, centroid), key=list_id — the
  FROZEN coarse quantizer (FAISS convention: train once).
- ``ivf_assignments``       (vec_id, list_id, embedding), key=vec_id,
  stats_cols=[list_id] — so a probe's ``ledger_read(prune={"list_id":
  (l, l)})`` plans a scan of only that list's files after compaction
  clusters by list: the list-partitioned layout every production IVF
  store uses, expressed as manifest-level data skipping.

Incremental maintenance (``refresh_documents`` / ``refresh_vectors``)
is the MERGE hook: a continuously-ingesting pipeline calls it with
each upserted batch, which is batch-sized by construction — so the
one driver-side list this module keeps (the increment's doc_ids, for
the stale-row delete) is micro-batch metadata, never corpus-scale.
Maintenance equivalence (incremental update ≡ full rebuild, through
the readers) and zero-corpus-re-scan cross-session reads are pinned in
``tests/test_artifacts.py``.

Design cross-refs: the keeper/dedup algebra reading these artifacts
lives in ``pipeline_queries14``; the streamed folds proving the state
mergeable live in ``streaming/ingest.py``; the reference prebuilds the
document-grain analog of these as its trigram GIN index
(``init.sql:137-138``) — durable in Postgres, durable here.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from .ledger import (
    ConcurrentCommitError,
    _read_manifest,
    current_version,
    ledger_merge_upsert,
    ledger_read,
    ledger_write,
)

#: bump when any artifact table's schema or semantics change — roots
#: are keyed by (corpus signature, format), so an old on-disk artifact
#: can never be read by code expecting the new shape
#: (5: r11 — per-root splitter metadata, DOC_SHINGLES delete leg on
#: sub-k replacement, applied-batch replay stamps)
ARTIFACT_FORMAT = 5

#: ledger-table subdirectories under an artifact root
PARAGRAPHS = "paragraphs"
PARAGRAPH_SHINGLES = "paragraph_shingles"
PARAGRAPH_SHINGLE_DF = "paragraph_shingle_df"
PARAGRAPH_DEDUP_STATE = "paragraph_dedup_state"
DOC_SHINGLES = "doc_shingles"
DOC_SHINGLE_DF = "doc_shingle_df"
IVF_CENTROIDS = "ivf_centroids"
IVF_ASSIGNMENTS = "ivf_assignments"


#: written atomically after ALL document tables commit — readers gate
#: on it so a half-built root (crash, or a concurrent builder still
#: writing) is never served
_DOC_COMPLETE = "_DOC_ARTIFACTS_COMPLETE"

#: per-root build contract (splitter variant, format version) — read
#: back by ``refresh_documents`` so an increment can never re-derive
#: rows with a DIFFERENT splitter than the root was built with
_META_FILE = "_ARTIFACT_META.json"


def _sub(root: str, name: str) -> str:
    return os.path.join(root, name)


def _write_meta(root: str, meta: dict) -> None:
    """Atomic (write-temp + rename) so a reader never sees a torn
    file; last writer wins, and racing builders of the same root write
    identical content (the root is content-signature-keyed)."""
    import json
    import uuid

    tmp = os.path.join(root, f".meta_{uuid.uuid4().hex}.json")
    with open(tmp, "w", encoding="utf-8") as f:
        json.dump(meta, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, os.path.join(root, _META_FILE))


def artifact_meta(root: str) -> dict:
    """The root's build contract ({} for a pre-meta root: every table
    then defaults to the window splitter the older formats used)."""
    import json

    try:
        with open(os.path.join(root, _META_FILE), encoding="utf-8") as f:
            return json.load(f)
    except FileNotFoundError:
        return {}


def _write_tolerant(spark, root: str, df, key: str, stats_cols=None) -> int:
    """``ledger_write`` that treats a lost commit race as success: two
    processes building the SAME root necessarily derive their tables
    from the same corpus (the root is content-signature-keyed), so the
    winner's version is byte-equivalent and the loser's staged files
    are invisible orphans for vacuum.  Returns the committed version
    either way."""
    try:
        return ledger_write(spark, root, df, key=key, stats_cols=stats_cols)
    except ConcurrentCommitError:
        return current_version(root)


# ---------------------------------------------------------------------------
# Relation builders (shared by full build and incremental refresh, so
# "incremental ≡ rebuild" is the same expression tree over different
# inputs — the streamed-fold discipline).
# ---------------------------------------------------------------------------
def _paragraph_rows(docs: DataFrame, splitter: str = "window") -> DataFrame:
    from ..pipeline_queries14 import PARAGRAPH_SPLITTERS, _pkey_col

    try:
        paragraph_table = PARAGRAPH_SPLITTERS[splitter]
    except KeyError:
        raise ValueError(
            f"unknown paragraph splitter {splitter!r}; "
            f"expected one of {sorted(PARAGRAPH_SPLITTERS)}"
        ) from None
    # fpr is STORED (not derived at read) so keeper-state maintenance
    # can rescan (fpr, pkey) as two pruned scalar columns — never the
    # text — when a replaced document owned a fingerprint's keeper
    return paragraph_table(docs).select(
        _pkey_col().alias("pkey"),
        "doc_id",
        "para_idx",
        "p_text",
        "n_ptok",
        F.md5("p_text").alias("fpr"),
    )


def _paragraph_shingle_rows(para: DataFrame) -> DataFrame:
    from ..operators.dedup import shingles as shingle_expr
    from ..pipeline_queries14 import _pkey_col

    return (
        para.filter(F.col("n_ptok") >= 3)
        .select(
            _pkey_col().alias("pkey"),
            "doc_id",
            "para_idx",
            F.split("p_text", " ").alias("_pt"),
        )
        .select(
            "pkey",
            "doc_id",
            "para_idx",
            shingle_expr(F.col("_pt"), 3).alias("shingles"),
        )
        # |shingles| is stored so a consumer needing only sizes (the
        # near-dup Jaccard denominator) scans a pruned int column
        # instead of re-reading the wide shingle arrays
        .withColumn(
            "n_shingles", F.size("shingles").cast("long")
        )
    )


def _doc_shingle_rows(docs: DataFrame) -> DataFrame:
    from ..operators import dedup

    return dedup.with_shingles(docs, "text", "doc_id", k=3).select(
        "doc_id", "shingles"
    )


def _dedup_state_rows(para: DataFrame) -> DataFrame:
    """Per-fingerprint keeper state ``(fpr, keeper, n_copies)`` over a
    paragraph relation — EXACTLY the MIN/SUM-mergeable state the
    streaming fold maintains (``streaming.ingest.
    stream_fold_paragraph_dedup``), now durable: the corpus-side half
    of incremental exact dedup (q258) without ever re-reading
    paragraph text.  ``para`` must carry the stored ``fpr``/``pkey``
    columns (:func:`_paragraph_rows`)."""
    return para.groupBy("fpr").agg(
        F.min("pkey").alias("keeper"),
        F.count("*").cast("long").alias("n_copies"),
    )


def _df_counts(sh: DataFrame) -> DataFrame:
    """Per-shingle document/paragraph frequency over a postings frame —
    map-side-combinable (one COUNT groupBy)."""
    return (
        sh.select(F.explode("shingles").alias("s"))
        .groupBy("s")
        .agg(F.count("*").cast("long").alias("df_s"))
    )


def assign_to_frozen_centroids(
    emb: DataFrame, centroids: list[list[float]]
) -> DataFrame:
    """Deterministic assignment of vectors to FROZEN centroids: cosine
    argmax with first-index tiebreak — q217's serving pass
    (``pipeline_queries10.q217``) minus the cross-engine rounding.  On
    unit-normalized centroids cosine argmax ≡ the spherical k-means
    Euclidean argmin the trainer used, and being a pure per-row
    function it makes incremental assignment ≡ rebuild BY CONSTRUCTION
    (no model object, no iteration): one codegen'd scan, zero
    shuffles."""
    from ..functions.vectors import indexable_vector, lit_cosine_scores

    pool = emb.where(indexable_vector(F.col("embedding")))
    # literal-centroid scores as one JVM-parsed SQL string (q217
    # discipline) — identical trees, ~1 s less construction per call
    scores = lit_cosine_scores("embedding", centroids)
    return pool.select(
        "vec_id",
        (F.array_position(scores, F.array_max(scores)) - 1)
        .cast("int")
        .alias("list_id"),
        "embedding",
    )


# ---------------------------------------------------------------------------
# Full build (the initial-load path — one corpus scan total per family).
# ---------------------------------------------------------------------------
def build_document_artifacts(
    spark: SparkSession,
    docs: DataFrame,
    root: str,
    splitter: str = "window",
) -> dict[str, int]:
    """Build and commit the document + paragraph artifact family from a
    documents relation.  One tokenize+window pass feeds the paragraph
    table; its postings and DF statistic derive from it (never from
    the corpus again); the doc-grain index is its own single pass.

    ``splitter`` picks the paragraph definition
    (``pipeline_queries14.PARAGRAPH_SPLITTERS``): ``"window"`` (the
    token-window proxy) or ``"structural"`` (double-newline
    ``regexp_split`` — what a real corpus with separators persists,
    VERDICT r10 #4).  The choice is recorded in the root's meta file
    and every later ``refresh_documents`` re-derives rows with the
    SAME splitter; callers key the root on the splitter too
    (``documents_artifact_root``) so the variants can never serve each
    other.  Returns {table: committed version}."""
    para = _paragraph_rows(docs, splitter=splitter).localCheckpoint(
        eager=False
    )
    psh = _paragraph_shingle_rows(para).localCheckpoint(eager=False)
    dsh = _doc_shingle_rows(docs).localCheckpoint(eager=False)
    versions = {
        PARAGRAPHS: _write_tolerant(
            spark, _sub(root, PARAGRAPHS), para, key="pkey",
            stats_cols=["doc_id"],
        ),
        PARAGRAPH_SHINGLES: _write_tolerant(
            spark, _sub(root, PARAGRAPH_SHINGLES), psh, key="pkey",
            stats_cols=["doc_id"],
        ),
        PARAGRAPH_SHINGLE_DF: _write_tolerant(
            spark, _sub(root, PARAGRAPH_SHINGLE_DF), _df_counts(psh),
            key="s",
        ),
        DOC_SHINGLES: _write_tolerant(
            spark, _sub(root, DOC_SHINGLES), dsh, key="doc_id"
        ),
        DOC_SHINGLE_DF: _write_tolerant(
            spark, _sub(root, DOC_SHINGLE_DF), _df_counts(dsh), key="s"
        ),
        PARAGRAPH_DEDUP_STATE: _write_tolerant(
            spark,
            _sub(root, PARAGRAPH_DEDUP_STATE),
            _dedup_state_rows(para),
            key="fpr",
        ),
    }
    # publish: meta first (so a published root always carries its build
    # contract), then the marker readers (artifacts_exist) gate on — a
    # crash or a concurrent builder mid-write never serves a partial
    # root; both writes are idempotent across racing builders
    _write_meta(root, {"splitter": splitter, "format": ARTIFACT_FORMAT})
    with open(os.path.join(root, _DOC_COMPLETE), "a", encoding="utf-8"):
        pass
    return versions


def build_vector_artifacts(
    spark: SparkSession,
    emb: DataFrame,
    root: str,
    n_lists: int = 16,
    centroids: list[list[float]] | None = None,
) -> dict[str, int]:
    """Train the IVF coarse quantizer once (``similarity.ivf_index`` —
    sample-trained spherical k-means) and commit BOTH halves durably:
    the frozen centroids and the full assignment table.  The stored
    assignment uses :func:`assign_to_frozen_centroids` so later
    increments extend it with the identical per-row function.
    ``centroids`` (r11) skips training and freezes the GIVEN quantizer
    — the deployed-codebook path (FAISS ``add`` to a shipped index),
    and what lets the drift gate (q262) stay fully oracle-able."""
    from ..operators.similarity import ivf_index

    if centroids is None:
        _, centroids = ivf_index(emb, n_lists=n_lists)
    else:
        centroids = [list(c) for c in centroids]
    cent_df = spark.createDataFrame(
        [(i, c) for i, c in enumerate(centroids)],
        "list_id INT, centroid ARRAY<DOUBLE>",
    )
    assigned = assign_to_frozen_centroids(emb, centroids)
    return {
        IVF_CENTROIDS: _write_tolerant(
            spark, _sub(root, IVF_CENTROIDS), cent_df, key="list_id"
        ),
        IVF_ASSIGNMENTS: _write_tolerant(
            spark, _sub(root, IVF_ASSIGNMENTS), assigned, key="vec_id",
            stats_cols=["list_id"],
        ),
    }


# ---------------------------------------------------------------------------
# Readers (any session, zero corpus re-scan — every inputFile resolves
# under the artifact root; pinned in tests).
# ---------------------------------------------------------------------------
def read_paragraphs(spark: SparkSession, root: str) -> DataFrame:
    return ledger_read(spark, _sub(root, PARAGRAPHS))


def read_paragraph_shingles(spark: SparkSession, root: str) -> DataFrame:
    return ledger_read(spark, _sub(root, PARAGRAPH_SHINGLES))


def read_paragraph_shingle_df(spark: SparkSession, root: str) -> DataFrame:
    """DF statistic with zero-tombstones filtered — the reader is the
    equivalence surface (a rebuild has no tombstones)."""
    return ledger_read(spark, _sub(root, PARAGRAPH_SHINGLE_DF)).filter(
        F.col("df_s") > 0
    )


def read_paragraph_hot_shingles(
    spark: SparkSession, root: str, cap: int
) -> DataFrame:
    """The over-cap stop-shingle head, derived from the maintained DF
    statistic — a filter over a vocabulary-sized table, never a corpus
    pass."""
    return read_paragraph_shingle_df(spark, root).filter(
        F.col("df_s") > cap
    ).select("s")


def read_paragraph_dedup_state(spark: SparkSession, root: str) -> DataFrame:
    return ledger_read(spark, _sub(root, PARAGRAPH_DEDUP_STATE))


def read_doc_shingles(spark: SparkSession, root: str) -> DataFrame:
    return ledger_read(spark, _sub(root, DOC_SHINGLES))


def read_doc_shingle_df(spark: SparkSession, root: str) -> DataFrame:
    return ledger_read(spark, _sub(root, DOC_SHINGLE_DF)).filter(
        F.col("df_s") > 0
    )


def read_ivf_centroids(spark: SparkSession, root: str) -> list[list[float]]:
    rows = (
        ledger_read(spark, _sub(root, IVF_CENTROIDS))
        .orderBy("list_id")
        .collect()
    )
    return [list(r["centroid"]) for r in rows]


def read_ivf_assignments(
    spark: SparkSession, root: str, list_ids: list[int] | None = None
) -> DataFrame:
    """Probe read: with ``list_ids``, manifest stats prune non-matching
    files before Spark opens them (exactness is re-guaranteed by the
    row filter ledger_read re-applies)."""
    root = _sub(root, IVF_ASSIGNMENTS)
    if not list_ids:
        return ledger_read(spark, root)
    lo, hi = min(list_ids), max(list_ids)
    df = ledger_read(spark, root, prune={"list_id": (lo, hi)})
    return df.filter(F.col("list_id").isin(list_ids))


def artifacts_exist(root: str) -> bool:
    """True only once a build PUBLISHED (all tables committed + the
    completion marker written) — a half-built root reads as absent."""
    return os.path.exists(os.path.join(root, _DOC_COMPLETE))


# ---------------------------------------------------------------------------
# Incremental maintenance — the MERGE hook.
# ---------------------------------------------------------------------------

#: above this many distinct doc_ids a refresh stops embedding the id
#: list as ``isin`` literals (plan/py4j blowup) and switches every
#: membership test to a join against the delta's id frame; manifest
#: pruning keeps using the collected min/max — two scalars either way
_BULK_ID_THRESHOLD = 10_000


def _batch_state(sub_root: str, batch_id) -> tuple[int | None, bool]:
    """Per-table replay bookkeeping for ``refresh_documents``'s
    ``batch_id`` contract: returns ``(base_version, done)`` where
    ``base_version`` is the newest committed version NOT stamped with
    this batch (the pre-batch snapshot old contributions must be
    computed from, even when a crashed prior attempt already committed
    part of the fold) and ``done`` says the table's newest manifest
    carries the batch's final stamp (skip it entirely on replay).
    With ``batch_id=None`` (direct API use, no replay contract) the
    base is simply the current version."""
    if batch_id is None:
        return None, False
    v = current_version(sub_root)
    done = False
    if v > 0:
        m = _read_manifest(sub_root, v)
        done = (
            m.get("applied_batch") == batch_id
            and m.get("applied_batch_done") is True
        )
    base = v
    while base > 0 and (
        _read_manifest(sub_root, base).get("applied_batch") == batch_id
    ):
        base -= 1
    return base, done


def refresh_documents(
    spark: SparkSession,
    root: str,
    docs_delta: DataFrame,
    batch_id=None,
) -> dict[str, int]:
    """Fold an upserted document batch into the durable artifacts
    WITHOUT re-scanning the corpus: the only rows read back are the
    increment's own current artifact rows (manifest-pruned by the
    batch's doc_id range) and the DF rows its shingles touch.

    Semantics per table:

    - ``paragraphs`` / ``paragraph_shingles``: replaced at document
      grain.  An updated document may have FEWER paragraphs than
      before, so a pure keyed upsert would leave stale
      high-``para_idx`` rows; instead ``ledger_delete`` drops the
      batch's doc_ids' old rows first (the predicate's id list is
      micro-batch-sized by construction, see module docstring; the
      delete's exact file-probe rewrites only files actually holding
      them) and the fresh rows then upsert keyed by pkey.
    - ``paragraph_shingle_df`` / ``doc_shingle_df``: SIGNED deltas
      (new counts minus the replaced rows' old counts) summed into the
      affected shingle rows only — the SUM-mergeable state the
      streaming folds already maintain.  Zero rows remain as
      tombstones; readers filter them.
    - ``doc_shingles``: keyed upsert (one row per doc, no shrinkage
      problem).
    - ``paragraph_dedup_state``: for an APPEND-ONLY batch (no old rows
      — the continuously-ingesting norm, and exactly the streaming
      fold's contract) the per-fpr (min keeper, copy count) merges in
      O(batch): MIN and SUM are both mergeable.  A REPLACEMENT batch
      takes the affected-fingerprint merge
      (:func:`_replace_dedup_state`): counts adjust by signed deltas,
      surviving keepers fold exactly, and only the rare fingerprints
      whose stored keeper was deleted rescan the refreshed paragraph
      artifact's two pruned ``(fpr, pkey)`` columns — zero text, zero
      corpus, O(affected) rows written.

    Exactly-once replay (``batch_id``, r10 ADVICE): the fold commits
    each table separately, so a crash mid-fold followed by a
    foreachBatch replay used to recompute the signed DF deltas against
    ALREADY-UPDATED posting tables (old == new ⇒ delta 0 — the batch's
    contribution silently lost).  With a ``batch_id`` every commit is
    stamped (``applied_batch``; the table's final commit additionally
    ``applied_batch_done``): on replay, fully-applied tables are
    skipped and every old-contribution read resolves the table's
    PRE-batch snapshot (:func:`_batch_state` walks the manifest stamps
    back), so partially-applied tables fold the batch exactly once.
    Don't vacuum a root between a crash and its replay with
    ``retain_versions`` < 4 — the pre-batch snapshot must stay
    readable.  ``batch_id`` must be unique per root per logical batch
    (the streaming checkpoint's batch id is; a manual caller can pass
    any fresh token).  With ``batch_id=None`` the guard is off and a
    replay is only safe if the prior fold fully committed.

    Batches above ``_BULK_ID_THRESHOLD`` distinct doc_ids switch every
    id-membership test from ``isin`` literals to joins against the
    delta's id frame (and the stale-row deletes to
    ``ledger_delete_keys``) so a bulk backfill can't blow the plan or
    the py4j path; manifest pruning keeps using min/max scalars.

    A batch carrying the same doc_id twice is deduplicated up front
    (r10 ADVICE: the merge's last-wins row dedup and ``_df_counts``
    would otherwise disagree, permanently inflating the DF statistic).

    Returns {table: committed version}."""
    from .ledger import ledger_delete, ledger_delete_keys

    # the contract is one current text per doc_id; a duplicated id in
    # one batch would desync keyed upserts (last-wins) from the DF
    # count deltas (which would count both copies)
    docs_delta = docs_delta.dropDuplicates(["doc_id"])

    if not artifacts_exist(root):
        # first batch on an empty root: the full build IS the refresh
        # (the streaming integration's bootstrap path; window splitter —
        # a structural root bootstraps via build_document_artifacts)
        return build_document_artifacts(spark, docs_delta, root)

    # the increment must re-derive rows with the SAME splitter the root
    # was built with — read it from the root's meta, never a parameter
    # (misuse-proof: a caller cannot mix variants into one root)
    splitter = artifact_meta(root).get("splitter", "window")

    stats = docs_delta.agg(
        F.min("doc_id").alias("lo"),
        F.max("doc_id").alias("hi"),
        F.count("*").alias("n"),
    ).first()
    if stats["n"] == 0:
        return {}
    lo, hi = stats["lo"], stats["hi"]
    bulk = stats["n"] > _BULK_ID_THRESHOLD
    if bulk:
        ids = None
        ids_df = docs_delta.select("doc_id").localCheckpoint(eager=True)
    else:
        ids = [r["doc_id"] for r in docs_delta.select("doc_id").collect()]
        ids_df = None

    def _restrict(df: DataFrame) -> DataFrame:
        if bulk:
            return df.join(ids_df, "doc_id", "left_semi")
        return df.filter(F.col("doc_id").isin(ids))

    def _delete_batch_rows(sub: str, meta: dict) -> None:
        if bulk:
            ledger_delete_keys(
                spark, sub, ids_df, on="doc_id", extra_meta=meta
            )
        else:
            ledger_delete(
                spark, sub, F.col("doc_id").isin(ids), extra_meta=meta
            )

    # per-table replay state: pre-batch base versions + done flags
    base_v: dict[str, int | None] = {}
    done: dict[str, bool] = {}
    for t in (
        PARAGRAPHS,
        PARAGRAPH_SHINGLES,
        DOC_SHINGLES,
        PARAGRAPH_SHINGLE_DF,
        DOC_SHINGLE_DF,
        PARAGRAPH_DEDUP_STATE,
    ):
        base_v[t], done[t] = _batch_state(_sub(root, t), batch_id)

    para_new = _paragraph_rows(docs_delta, splitter=splitter).localCheckpoint(
        eager=False
    )
    psh_new = _paragraph_shingle_rows(para_new).localCheckpoint(eager=False)
    dsh_new = _doc_shingle_rows(docs_delta).localCheckpoint(eager=False)

    def _old(table: str, like: DataFrame) -> DataFrame:
        """The replaced documents' rows in ``table``'s PRE-batch
        snapshot (manifest-pruned: only files whose doc_id range
        overlaps the batch are opened)."""
        try:
            df = ledger_read(
                spark,
                _sub(root, table),
                version=base_v[table],
                prune={"doc_id": (lo, hi)},
            )
        except FileNotFoundError:
            # table emptied (or never created) at the base snapshot
            return like.limit(0)
        return _restrict(df)

    para_old = _old(PARAGRAPHS, para_new)
    is_append_only = para_old.limit(1).count() == 0
    psh_old = _old(PARAGRAPH_SHINGLES, psh_new)
    dsh_old = _old(DOC_SHINGLES, dsh_new)
    # signed DF deltas must resolve BEFORE the delete below rewrites
    # the old rows' files (the snapshot read pins the file list, but
    # eager checkpoints also keep the plan from re-resolving anything
    # after the commits start)
    pdf_delta = (
        _df_counts(psh_new)
        .withColumnRenamed("df_s", "d")
        .unionByName(
            _df_counts(psh_old).select(
                "s", (-F.col("df_s")).alias("d")
            )
        )
        .groupBy("s")
        .agg(F.sum("d").cast("long").alias("d"))
        .filter(F.col("d") != 0)
        .localCheckpoint(eager=True)
    )
    ddf_delta = (
        _df_counts(dsh_new)
        .withColumnRenamed("df_s", "d")
        .unionByName(
            _df_counts(dsh_old).select(
                "s", (-F.col("df_s")).alias("d")
            )
        )
        .groupBy("s")
        .agg(F.sum("d").cast("long").alias("d"))
        .filter(F.col("d") != 0)
        .localCheckpoint(eager=True)
    )

    meta_mid = {"applied_batch": batch_id} if batch_id is not None else None
    meta_done = (
        {"applied_batch": batch_id, "applied_batch_done": True}
        if batch_id is not None
        else None
    )
    versions: dict[str, int] = {}
    # document-grain replace: delete stale rows, then upsert fresh ones.
    # DOC_SHINGLES needs the delete leg too (r10 ADVICE): a replaced
    # document whose new text drops below k tokens emits NO shingle
    # row, so a bare keyed upsert would keep its stale postings while
    # the DF delta subtracted them — postings and statistic disagree.
    if not done[PARAGRAPHS]:
        _delete_batch_rows(_sub(root, PARAGRAPHS), meta_mid)
        versions[PARAGRAPHS] = ledger_merge_upsert(
            spark, _sub(root, PARAGRAPHS), para_new, key="pkey",
            extra_meta=meta_done,
        )
    if not done[PARAGRAPH_SHINGLES]:
        _delete_batch_rows(_sub(root, PARAGRAPH_SHINGLES), meta_mid)
        versions[PARAGRAPH_SHINGLES] = ledger_merge_upsert(
            spark, _sub(root, PARAGRAPH_SHINGLES), psh_new, key="pkey",
            extra_meta=meta_done,
        )
    if not done[DOC_SHINGLES]:
        _delete_batch_rows(_sub(root, DOC_SHINGLES), meta_mid)
        versions[DOC_SHINGLES] = ledger_merge_upsert(
            spark, _sub(root, DOC_SHINGLES), dsh_new, key="doc_id",
            extra_meta=meta_done,
        )
    if not done[PARAGRAPH_SHINGLE_DF]:
        versions[PARAGRAPH_SHINGLE_DF] = _merge_df_counts(
            spark, _sub(root, PARAGRAPH_SHINGLE_DF), pdf_delta,
            extra_meta=meta_done,
        )
    if not done[DOC_SHINGLE_DF]:
        versions[DOC_SHINGLE_DF] = _merge_df_counts(
            spark, _sub(root, DOC_SHINGLE_DF), ddf_delta,
            extra_meta=meta_done,
        )
    state_root = _sub(root, PARAGRAPH_DEDUP_STATE)
    if done[PARAGRAPH_DEDUP_STATE]:
        pass
    elif is_append_only:
        new_partial = _dedup_state_rows(para_new)
        cur = ledger_read(
            spark, state_root, version=base_v[PARAGRAPH_DEDUP_STATE]
        )
        merged = (
            new_partial.withColumnRenamed("keeper", "_k")
            .withColumnRenamed("n_copies", "_n")
            .join(cur, "fpr", "left")
            .select(
                "fpr",
                F.least(
                    F.col("_k"), F.coalesce("keeper", F.col("_k"))
                ).alias("keeper"),
                (F.col("_n") + F.coalesce("n_copies", F.lit(0)))
                .cast("long")
                .alias("n_copies"),
            )
        )
        versions[PARAGRAPH_DEDUP_STATE] = ledger_merge_upsert(
            spark, state_root, merged, key="fpr", extra_meta=meta_done
        )
    else:
        versions[PARAGRAPH_DEDUP_STATE] = _replace_dedup_state(
            spark, root, state_root, para_old, para_new,
            base_version=base_v[PARAGRAPH_DEDUP_STATE],
            extra_meta=meta_done,
        )
    return versions


def _replace_dedup_state(
    spark: SparkSession,
    root: str,
    state_root: str,
    para_old: DataFrame,
    para_new: DataFrame,
    base_version: int | None = None,
    extra_meta: dict | None = None,
) -> int:
    """Keeper-state maintenance for a REPLACEMENT batch — an
    affected-fingerprint merge, never a full state rewrite.

    MIN is not subtractable, but deletion only endangers a
    fingerprint's keeper when the keeper itself was among the deleted
    rows; everything else is arithmetic:

    - ``n_copies`` adjusts by signed deltas (SUM-mergeable).
    - If the stored keeper SURVIVES the batch (it is not one of the
      replaced docs' old pkeys), the new keeper is
      ``least(stored, batch min)`` — exact, no lookup.
    - Only fingerprints whose stored keeper WAS deleted (rare: keepers
      are global first occurrences) rescan — one pass over the already
      refreshed paragraph artifact reading the two pruned scalar
      columns ``(fpr, pkey)``, semi-joined to the broadcast rescan
      set: zero text read, zero corpus scan, O(affected) rows written.
    - Fingerprints whose every copy lived in the replaced docs vanish
      (``ledger_delete`` on the batch-bounded fpr list).
    """
    from .ledger import ledger_delete

    old_partial = para_old.groupBy("fpr").agg(
        F.count("*").cast("long").alias("n_del"),
    )
    new_partial = _dedup_state_rows(para_new).select(
        "fpr",
        F.col("keeper").alias("new_min"),
        F.col("n_copies").alias("n_new"),
    )
    cur = ledger_read(spark, state_root, version=base_version)
    aff = (
        old_partial.join(new_partial, "fpr", "full")
        .join(cur, "fpr", "left")
        .join(
            # was the stored keeper one of the deleted rows?
            para_old.select(
                "fpr", F.col("pkey").alias("keeper"),
                F.lit(1).alias("_kdel"),
            ),
            ["fpr", "keeper"],
            "left",
        )
        .select(
            "fpr",
            "keeper",
            "new_min",
            "_kdel",
            (
                F.coalesce("n_copies", F.lit(0))
                - F.coalesce("n_del", F.lit(0))
                + F.coalesce("n_new", F.lit(0))
            )
            .cast("long")
            .alias("n_total"),
        )
        # four consumers (known / rescan keys / vanished list / merge)
        # over a batch-bounded frame: materialize once
        .localCheckpoint(eager=True)
    )
    live = aff.filter(F.col("n_total") > 0)
    known = live.filter(F.col("_kdel").isNull()).select(
        "fpr",
        F.when(
            F.col("keeper").isNull(), F.col("new_min")
        )
        .otherwise(
            F.least(
                F.col("keeper"),
                F.coalesce("new_min", F.col("keeper")),
            )
        )
        .alias("keeper"),
        F.col("n_total").alias("n_copies"),
    )
    rescan_keys = live.filter(F.col("_kdel") == 1).select(
        "fpr", F.col("n_total").alias("n_copies")
    )
    rescanned = (
        read_paragraphs(spark, root)
        .select("fpr", "pkey")
        .join(F.broadcast(rescan_keys), "fpr")
        .groupBy("fpr", "n_copies")
        .agg(F.min("pkey").alias("keeper"))
        .select("fpr", "keeper", "n_copies")
    )
    # two commits may follow (merge, then the vanished-fpr delete): the
    # batch's ``applied_batch_done`` stamp goes on the LAST one only, so
    # a crash between them replays the whole state update from the
    # pinned base snapshot instead of skipping the half-applied table
    vanished = [
        r["fpr"]
        for r in aff.filter(F.col("n_total") <= 0).select("fpr").collect()
    ]
    mid_meta = None
    if extra_meta is not None and vanished:
        mid_meta = {
            k: v for k, v in extra_meta.items() if k != "applied_batch_done"
        }
    version = ledger_merge_upsert(
        spark,
        state_root,
        known.unionByName(rescanned),
        key="fpr",
        extra_meta=mid_meta if vanished else extra_meta,
    )
    if vanished:
        version = ledger_delete(
            spark,
            state_root,
            F.col("fpr").isin(vanished),
            extra_meta=extra_meta,
        )
    return version


def _merge_df_counts(
    spark: SparkSession,
    root: str,
    delta: DataFrame,
    extra_meta: dict | None = None,
) -> int:
    """Sum signed ``(s, d)`` deltas into a ``(s, df_s)`` count table.
    The lookup join scans the count table once — vocabulary-sized, not
    corpus-sized — and the merge's file skipping rewrites only files
    whose key range the delta overlaps; untouched shingle rows carry
    over byte-identical.  (The DF table folds a batch in ONE commit, so
    under the ``batch_id`` replay contract its not-done state always
    reads pre-batch at the current version — no versioned read needed.)"""
    cur = ledger_read(spark, root)
    merged = (
        delta.join(cur, "s", "left")
        .select(
            "s",
            (F.coalesce(F.col("df_s"), F.lit(0)) + F.col("d"))
            .cast("long")
            .alias("df_s"),
        )
    )
    return ledger_merge_upsert(
        spark, root, merged, key="s", extra_meta=extra_meta
    )


def vacuum_artifacts(
    root: str, retain_versions: int = 2, orphan_min_age_s: float = 3600.0
) -> dict[str, list[str]]:
    """Periodic storage maintenance for an artifact root: vacuum every
    ledger table under it (dead files from replaced versions, orphans
    staged by beaten concurrent builders) while keeping
    ``retain_versions`` fully readable — the artifact lifecycle's last
    verb after build / read / refresh / compact.  Returns
    {table: deleted paths}.

    Tables are DISCOVERED (any subdirectory holding a committed
    ledger), not enumerated from a fixed list — a fixed list silently
    skipped every table added after it was written (the admission
    history was the first casualty; pinned in tests)."""
    from .ledger import ledger_vacuum

    out: dict[str, list[str]] = {}
    if not os.path.isdir(root):
        return out
    for name in sorted(os.listdir(root)):
        sub = _sub(root, name)
        if os.path.isdir(sub) and current_version(sub) > 0:
            out[name] = ledger_vacuum(
                sub,
                retain_versions=retain_versions,
                orphan_min_age_s=orphan_min_age_s,
            )
    return out


def refresh_vectors(
    spark: SparkSession, root: str, emb_delta: DataFrame
) -> dict[str, int]:
    """Assign a new vector batch to the FROZEN centroids and merge it
    into the durable assignment table — the everyday IVF maintenance
    operation (FAISS ``add`` after ``train``).  Centroids never move:
    re-training on every increment would invalidate every stored
    list_id; periodic re-train + full re-assign is a separate offline
    rebuild (``build_vector_artifacts``)."""
    centroids = read_ivf_centroids(spark, root)
    assigned = assign_to_frozen_centroids(emb_delta, centroids)
    return {
        IVF_ASSIGNMENTS: ledger_merge_upsert(
            spark, _sub(root, IVF_ASSIGNMENTS), assigned, key="vec_id"
        )
    }


def remove_documents(
    spark: SparkSession,
    root: str,
    doc_ids,
    batch_id=None,
) -> dict[str, int]:
    """Takedown: delete documents from every durable artifact table in
    O(batch) — the corpus-CRUD edge a production pipeline needs the
    day a removal request arrives, without a rebuild.

    A removal IS a refresh whose new version carries no tokens: zero
    paragraphs and zero shingles derive from an empty text, so
    :func:`refresh_documents`'s existing machinery does all the work —
    the document-grain delete legs drop the paragraph/posting/doc
    rows, the SIGNED DF deltas subtract exactly the removed rows'
    counts, and the keeper state takes the affected-fingerprint merge
    (counts decrease, keepers owned by removed docs rebase to the
    surviving corpus copy via the pruned ``(fpr, pkey)`` rescan, and
    fingerprints wholly owned by removed docs vanish).  The artifacts
    never store raw documents, so "no derived rows" and "absent" are
    the same state — removal ≡ rebuild on the surviving corpus,
    pinned through every reader in ``tests/test_artifacts.py``.

    ``doc_ids`` is a list of ids or a single-column ``doc_id``
    DataFrame (the bulk path — above ``_BULK_ID_THRESHOLD`` the fold
    switches to join-based membership automatically).  ``batch_id``
    forwards to the exactly-once replay contract.  Removing an id the
    corpus never held is a no-op; removing from an unbuilt root
    raises (there is nothing to remove from)."""
    if not artifacts_exist(root):
        raise FileNotFoundError(
            f"no committed artifacts at {root} — nothing to remove from"
        )
    if isinstance(doc_ids, DataFrame):
        ids_df = doc_ids.select("doc_id").dropDuplicates()
    else:
        ids_df = spark.createDataFrame(
            [(int(i),) for i in doc_ids], "doc_id bigint"
        )
    tombstones = ids_df.select(
        "doc_id",
        F.lit("").alias("text"),
        F.lit(None).cast("string").alias("source"),
    )
    return refresh_documents(spark, root, tombstones, batch_id=batch_id)


def remove_vectors(
    spark: SparkSession,
    root: str,
    vec_ids,
) -> dict[str, int]:
    """Vector takedown — the ANN side of corpus CRUD: delete ids from
    the durable assignment table in O(batch).  Centroids are frozen
    and untouched (they encode the trained quantizer, not the data);
    the manifest's vec_id file stats prune the delete to the files
    actually holding the ids.  Removing an id the table never held is
    a no-op.  ``vec_ids`` is a list or a single-column ``vec_id``
    DataFrame (the bulk path takes the exact-file-probe delete)."""
    from .ledger import ledger_delete, ledger_delete_keys

    sub = _sub(root, IVF_ASSIGNMENTS)
    if current_version(sub) == 0:
        raise FileNotFoundError(
            f"no committed assignments at {root} — nothing to remove"
        )
    if isinstance(vec_ids, DataFrame):
        v = ledger_delete_keys(
            spark, sub, vec_ids.select("vec_id").dropDuplicates(),
            on="vec_id",
        )
    else:
        ids = [int(i) for i in vec_ids]
        if len(ids) > _BULK_ID_THRESHOLD:
            ids_df = spark.createDataFrame(
                [(i,) for i in ids], "vec_id bigint"
            )
            v = ledger_delete_keys(spark, sub, ids_df, on="vec_id")
        else:
            v = ledger_delete(
                spark, sub, F.col("vec_id").isin(ids)
            )
    return {IVF_ASSIGNMENTS: v}
