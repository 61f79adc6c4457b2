"""Streaming ingest: the incremental-file variant of the cards pipeline
(SURVEY §1.6 — the reference's one-object-at-a-time ingest loop,
``import_cards.py:351-366``, maps naturally onto a Structured Streaming
file source with an ``availableNow`` trigger).

Dropping new bulk JSONL files into a landing directory and re-running
gives exactly-once incremental ingest with checkpoint-tracked progress —
the distributed answer to the reference's mtime freshness gate.

Every leg here runs on one driver: :func:`_file_stream` (the reader),
:func:`_drain` (the availableNow drain) and, for the mergeable-state
folds, :func:`_fold_state` (per-batch state writes, the fresh-checkpoint
guard and the merged read-back).  A ``stream_*`` function keeps only
what is its own: its fold and its merge.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..ingest.lakehouse import _require, merge_upsert_into, read_table
from ..ingest.transform import prepare_cards
from ..schemas import CARDS_RAW_SCHEMA


def _file_stream(
    spark: SparkSession, src_dir: str, schema=None, fmt: str = "parquet"
) -> DataFrame:
    """File-source stream, one file per micro-batch. Pass an explicit
    ``schema`` wherever the caller knows it: streaming readers should
    not infer."""
    reader = spark.readStream
    if schema is not None:
        reader = reader.schema(schema)
    return reader.option("maxFilesPerTrigger", 1).format(fmt).load(src_dir)


def _drain(writer, timeout_s: int, what: str) -> None:
    """Start ``writer`` with the ``availableNow`` trigger and wait for it
    to process all available input. ``awaitTermination`` returns False
    on timeout with the query still running: stop it and raise rather
    than hand the caller a partial (or missing) result."""
    q = writer.trigger(availableNow=True).start()
    if not q.awaitTermination(timeout_s):
        q.stop()
        raise TimeoutError(f"{what} did not drain within {timeout_s}s")


def _batch_dirs(path: str) -> list:
    if not os.path.isdir(path):
        return []
    return [
        os.path.join(path, d) for d in os.listdir(path)
        if d.startswith("batch=")
    ]


def _fold_state(
    spark: SparkSession,
    src_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    fold,
    merges: dict,
    schema,
    timeout_s: int,
) -> dict:
    """Drain ``src_dir`` through a mergeable-state fold; return the
    merged state as ``{subdir: DataFrame}``.

    ``fold`` is a pure ``batch_df -> {subdir: DataFrame}``; ``merges``
    maps every subdir (``""`` = ``state_dir`` itself) to the function
    that merges the union of its batch frames. The contract every fold
    shares:

    - **Replay.** Batch ``<id>``'s frames are written with OVERWRITE to
      ``<state_dir>/<subdir>/batch=<id>``. foreachBatch is
      at-least-once, so a replayed batch id lands on the same path and
      replaces itself instead of appending a double-counting copy.
    - **Fresh checkpoint.** A missing or empty ``checkpoint_dir`` means
      any ``batch=<id>`` state on disk is from a PRIOR run (a resumed
      run always has its checkpoint), and the per-batch overwrite only
      replaces colliding ids; those directories are removed before the
      drain so the merge sees only this run's folds.
    - **Empty source.** A subdir with no batch written yet merges an
      empty frame with the schema of the fold applied to the source
      schema, every column nullable as a parquet read returns it, so
      zero drained batches return exactly the schema of a non-empty run
      instead of throwing PATH_NOT_FOUND.
    """
    src = _file_stream(spark, src_dir, schema)
    paths = {
        sub: os.path.join(state_dir, sub) if sub else state_dir
        for sub in merges
    }
    if not os.path.isdir(checkpoint_dir) or not os.listdir(checkpoint_dir):
        for p in paths.values():
            for stale in _batch_dirs(p):
                shutil.rmtree(stale)

    def fold_batch(batch_df: DataFrame, batch_id: int) -> None:
        for sub, df in fold(batch_df).items():
            df.write.mode("overwrite").parquet(f"{paths[sub]}/batch={batch_id}")

    _drain(
        src.writeStream.foreachBatch(fold_batch).option(
            "checkpointLocation", checkpoint_dir
        ),
        timeout_s,
        f"state fold of {src_dir!r} into {state_dir!r}",
    )
    merged = {}
    for sub, merge in merges.items():
        if _batch_dirs(paths[sub]):
            state = spark.read.parquet(paths[sub]).drop("batch")
        else:
            folded = fold(spark.createDataFrame([], src.schema))[sub]
            state = spark.createDataFrame([], T.StructType([
                T.StructField(f.name, f.dataType) for f in folded.schema
            ]))
        merged[sub] = merge(state)
    return merged


def stream_ingest_cards(
    spark: SparkSession,
    landing_dir: str,
    table_path: str,
    checkpoint_dir: str,
    timeout_s: int = 120,
) -> DataFrame:
    """JSONL landing dir → transform layer → append-mode parquet table.

    Note: the streaming sink is append-only; upsert semantics at the
    table level come from compacting with ``ingest.sink.merge_upsert``
    or from :func:`stream_upsert_cards` (``foreachBatch`` upsert — same
    transform layer, exactly-once via the checkpoint).
    """
    prepared = prepare_cards(
        _file_stream(spark, landing_dir, CARDS_RAW_SCHEMA, "json")
    )
    _drain(
        prepared.writeStream.format("parquet")
        .option("path", table_path)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append"),
        timeout_s,
        f"stream_ingest_cards of {landing_dir!r}",
    )
    return spark.read.parquet(table_path)


def stream_upsert_cards(
    spark: SparkSession,
    landing_dir: str,
    table_path: str,
    checkpoint_dir: str,
    key: str = "id",
    timeout_s: int = 120,
    table_format: str = "parquet",
) -> DataFrame:
    """Streaming MERGE sink: each micro-batch upserts into the target
    table via ``foreachBatch`` + ``merge_upsert_into`` — table-level upsert
    semantics on a stream (re-landed/corrected card files UPDATE rows
    instead of appending duplicates).

    Exactly-once composition: the checkpoint makes batch delivery
    at-least-once, and the upsert is idempotent on ``key``, so replayed
    batches converge to the same table — the same argument Delta's
    ``foreachBatch`` MERGE pattern makes.

    ``table_format`` picks the table format through
    ``ingest/lakehouse.py``; with ``"ledger"`` every micro-batch commits
    a new ledger version, so downstream readers never observe a
    half-applied batch.
    """
    _require(table_format)
    prepared = prepare_cards(
        _file_stream(spark, landing_dir, CARDS_RAW_SCHEMA, "json")
    )
    _drain(
        prepared.writeStream.foreachBatch(
            lambda batch_df, _: merge_upsert_into(
                spark, table_path, batch_df, key=key, table_format=table_format
            )
        ).option("checkpointLocation", checkpoint_dir),
        timeout_s,
        f"stream_upsert_cards of {landing_dir!r}",
    )
    return read_table(spark, table_path, table_format)


def stream_fold_cms(
    spark: SparkSession,
    src_dir: str,
    sketch_dir: str,
    checkpoint_dir: str,
    col: str,
    schema=None,
    timeout_s: int = 120,
) -> DataFrame:
    """Streaming frequency sketch: every micro-batch builds its own
    count-min sketch (``sketches.cms_build`` — at most d·w cells no
    matter the batch size); the corpus sketch is the cell-wise sum of
    all batch sketches, read back with one tiny groupBy. Replay,
    fresh-checkpoint and empty-source rules: :func:`_fold_state` —
    without the replay rule the sketch's ``estimate ≤ true + εN``
    guarantee would silently break on the first post-crash restart.
    Mergeability is what makes the sketch an ingest artifact at 100 TB
    (compact by re-summing when the cell count grows past a few
    multiples of d·w).

    Returns the merged corpus sketch (``row_idx, bucket, cnt``).
    """
    from ..operators.sketches import cms_build

    return _fold_state(
        spark, src_dir, sketch_dir, checkpoint_dir,
        lambda df: {"": cms_build(df, col)},
        {"": lambda s: s.groupBy("row_idx", "bucket").agg(
            F.sum("cnt").alias("cnt")
        )},
        schema, timeout_s,
    )[""]


def stream_fold_quantile_sample(
    spark: SparkSession,
    src_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    value_col: str,
    key_cols: list,
    group_col: str,
    quantiles: list,
    rate: float = 0.05,
    schema=None,
    timeout_s: int = 120,
) -> DataFrame:
    """Streaming leg of the quantile sketch (q202): because the
    sketch's state is a content-hash sample, the streaming fold is a
    STATELESS filter — each micro-batch writes its own sample rows
    (``samples``) and its per-group exact counts (``counts``). No state
    store, no watermark, no compactor: the sample union IS the merge.

    Returns the estimate over the merged state — schema-identical to
    ``sketches.quantile_sketch_estimate`` on the whole corpus, and
    (because sample membership is row-local) VALUE-identical to it,
    however the input was micro-batched; pinned in
    tests/test_streaming.py.
    """
    from ..operators.sampling import fraction_threshold, sample_bucket

    key = F.concat_ws(
        "\x1f", *[F.col(c).cast("string") for c in key_cols]
    )
    thr = fraction_threshold(rate)
    value = F.col(value_col)
    qnames = [f"q_{str(qv).replace('.', '_')}" for qv in quantiles]

    def fold(df: DataFrame) -> dict:
        return {
            "samples": df.filter(
                (sample_bucket(key) < thr) & value.isNotNull()
            ).select(group_col, value.cast("double")),
            "counts": df.groupBy(group_col).agg(
                F.count(F.when(value.isNotNull(), 1)).alias("n")
            ),
        }

    state = _fold_state(
        spark, src_dir, state_dir, checkpoint_dir, fold,
        {
            "samples": lambda s: s.groupBy(group_col).agg(
                *[
                    F.percentile(value, F.lit(qv)).alias(name)
                    for qv, name in zip(quantiles, qnames)
                ],
                F.count(value).alias("sample_n"),
            ),
            "counts": lambda s: s.groupBy(group_col).agg(
                F.sum("n").alias("n")
            ),
        },
        schema, timeout_s,
    )
    # full outer: a group can be all-unsampled (counts only) — emit it
    # with NULL estimates rather than dropping it, matching the batch
    # op's NULL percentile over an empty sample.
    return state["samples"].join(
        state["counts"], on=group_col, how="full"
    ).select(
        group_col,
        *qnames,
        F.coalesce("sample_n", F.lit(0)).alias("sample_n"),
        F.coalesce("n", F.lit(0)).alias("n"),
    )


def stream_fold_hll(
    spark: SparkSession,
    src_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    group_col: str,
    col: str,
    schema=None,
    timeout_s: int = 120,
) -> DataFrame:
    """Streaming distinct-count sketch: each micro-batch writes its own
    HLL register frame (``sketches.hll_portable_registers`` — at most
    groups × 2^p rows per batch); the union sketch is MAX per register,
    which is associative, commutative AND idempotent — the strongest
    merge in the sketch family (even a double-written batch could not
    perturb it). Returns the per-group estimate over the merged
    registers, bit-identical to the batch sketch over the whole corpus
    (pinned in tests)."""
    from ..operators.sketches import (
        hll_estimate_from_registers,
        hll_portable_registers,
    )

    regs = _fold_state(
        spark, src_dir, state_dir, checkpoint_dir,
        lambda df: {"": hll_portable_registers(df, group_col, col)},
        {"": lambda s: s.groupBy(group_col, "idx").agg(
            F.max("M").alias("M")
        )},
        schema, timeout_s,
    )[""]
    return hll_estimate_from_registers(regs, group_col)


def stream_fold_drift_counts(
    spark: SparkSession,
    src_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    group_col: str,
    value_col: str,
    bounds: list,
    prefix: str = "b",
    schema=None,
    timeout_s: int = 120,
) -> DataFrame:
    """Streaming leg of the drift monitor: each micro-batch folds to
    its |groups|-row conditional-count frame (``drift._bucket_counts``
    — the monitor's mergeable state: every column is a COUNT, so the
    corpus state is the per-group SUM of batch states). Feed the merged
    frame to ``drift.drift_report_from_counts`` next to a reference
    side and the report is EXPRESSION-IDENTICAL to the batch path —
    streamed ≡ batch is pinned bitwise in tests/test_drift.py.

    At 100 TB this is the shape drift monitoring wants anyway: the
    state that persists per ingest run is groups × (buckets+2) integers
    — metadata-scale — while the scan cost amortizes into the ingest
    stream itself."""
    from ..operators.drift import _bucket_counts

    return _fold_state(
        spark, src_dir, state_dir, checkpoint_dir,
        lambda df: {
            "": _bucket_counts(df, group_col, value_col, bounds, prefix)
        },
        {"": lambda s: s.groupBy(group_col).agg(
            *[F.sum(c).alias(c) for c in s.columns if c != group_col]
        )},
        schema, timeout_s,
    )[""]


def stream_fold_retention_states(
    spark: SparkSession,
    src_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    timeout_s: int = 120,
    schema=None,
):
    """Streaming leg of the cohort-retention matrix (q218): each
    micro-batch folds the event stream into the two PERSISTED
    ARTIFACTS the batch query's docstring names — the per-user
    first-seen table (``first``, MIN-mergeable: the corpus first-seen
    is the min over batch minima, so an out-of-order batch that reveals
    an EARLIER first event re-bases the user's cohort correctly — the
    case a naive incremental grid gets wrong) and the distinct
    (user, activity-week) cell table (``weeks``, UNION-mergeable).

    Returns ``(first_seen, activity_weeks)`` merged across all drained
    batches; feed them to :func:`retention_from_states` for a report
    row-identical to the batch ``q218`` over the same events — pinned
    in tests/test_streaming_retention.py, including a user whose
    earliest event arrives in the LAST file.

    At 100 TB these states are exactly what an ingest pipeline
    persists anyway (first-seen ~ |users| rows, activity ~ |user,week|
    rows); each micro-batch contributes a pre-aggregated frame, so the
    stream never reshuffles history — the merge is one groupBy over
    the state directory."""

    def fold(df: DataFrame) -> dict:
        ev = df.where(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        return {
            "first": ev.groupBy("user_id").agg(F.min("ts").alias("first_ts")),
            "weeks": ev.select(
                "user_id",
                F.date_trunc("week", F.col("ts")).cast("date").alias("week"),
            ).distinct(),
        }

    state = _fold_state(
        spark, src_dir, state_dir, checkpoint_dir, fold,
        {
            "first": lambda s: s.groupBy("user_id").agg(
                F.min("first_ts").alias("first_ts")
            ),
            "weeks": lambda s: s.distinct(),
        },
        schema, timeout_s,
    )
    return state["first"], state["weeks"]


def retention_from_states(first: DataFrame, weeks: DataFrame) -> DataFrame:
    """The q218 report tail over the MERGED streaming states — the
    same expression tree as the batch query (DATE-cast week
    truncation, integer week arithmetic, one final division), so
    streamed ≡ batch is row-exact, not approximate."""
    first_seen = first.select(
        "user_id",
        F.date_trunc("week", F.col("first_ts"))
        .cast("date")
        .alias("cohort_week"),
    )
    activity = (
        weeks.join(first_seen, "user_id")
        .select(
            "user_id",
            "cohort_week",
            (F.datediff(F.col("week"), F.col("cohort_week")) / 7)
            .cast("bigint")
            .alias("week_idx"),
        )
        .distinct()
    )
    sizes = first_seen.groupBy("cohort_week").agg(
        F.count("*").alias("cohort_size")
    )
    grid = activity.groupBy("cohort_week", "week_idx").agg(
        F.count("*").alias("n_active")
    )
    return grid.join(sizes, "cohort_week").select(
        "cohort_week",
        "week_idx",
        "n_active",
        "cohort_size",
        F.round(
            F.col("n_active").cast("double") / F.col("cohort_size"), 6
        ).alias("retention"),
    )


def stream_fold_source_token_counts(
    spark: SparkSession,
    src_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    timeout_s: int = 120,
    schema=None,
):
    """Streaming leg of the token-budget planner (q240): each
    micro-batch of the document stream folds into the per-source token
    count (``tokcounts``) — the simplest mergeable state in the family
    (per-batch partial SUMs; the corpus total is one more SUM over
    batch rows).

    Returns the MERGED (source, n_tokens) relation; feed it to
    ``pipeline_queries13.epoch_capped_allocation`` for an allocation
    row-identical to the batch q240 over the same documents — pinned
    in tests/test_streaming_allocation.py, including a source whose
    documents are split across micro-batches.

    At 100 TB this state is what an ingest pipeline keeps anyway
    (|sources| rows per batch); the stream never reshuffles history —
    each batch contributes a pre-aggregated frame and the merge is one
    |sources|-key groupBy over the state directory."""
    from ..pipeline_queries13 import source_token_counts

    return _fold_state(
        spark, src_dir, state_dir, checkpoint_dir,
        lambda df: {"tokcounts": source_token_counts(df)},
        {"tokcounts": lambda s: s.groupBy("source").agg(
            F.sum("n_tokens").cast("long").alias("n_tokens")
        )},
        schema, timeout_s,
    )["tokcounts"]


def stream_fold_dedup_mix(
    spark: SparkSession,
    src_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    timeout_s: int = 120,
    schema=None,
):
    """Streaming leg of the dedup-adjusted mix planner (q242): each
    micro-batch folds into the ``(source, fingerprint, nt, n_docs)``
    state (``dedupmix``, ``pipeline_queries13.dedup_mix_state``) —
    counts at that grain are SUM-mergeable, so the merged state equals
    the batch state over the union of all batches even when copies of
    one fingerprint arrive in DIFFERENT micro-batches (the cross-batch
    duplicate case the equivalence test plants).

    Returns the MERGED state; feed it to
    ``dedup_adjusted_mix_from_state`` for a mix table row-identical to
    the batch q242 over the same documents.

    At 100 TB: per batch the fold writes a pre-aggregated frame
    (distinct triples in that batch); history is never reshuffled —
    the merge is one groupBy over the state directory, and the
    downstream copy-count groupBy is the only fingerprint-wide
    shuffle, exactly the batch gate's shape."""
    from ..pipeline_queries13 import dedup_mix_state

    return _fold_state(
        spark, src_dir, state_dir, checkpoint_dir,
        lambda df: {"dedupmix": dedup_mix_state(df)},
        {"dedupmix": lambda s: s.groupBy("source", "fingerprint", "nt").agg(
            F.sum("n_docs").cast("long").alias("n_docs")
        )},
        schema, timeout_s,
    )["dedupmix"]


def stream_fold_paragraph_dedup(
    spark: SparkSession,
    src_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    timeout_s: int = 120,
    schema=None,
):
    """Streaming leg of paragraph-level dedup (q245): each micro-batch
    of the document stream folds into the paragraph OCCURRENCE ledger
    (``paraocc``, ``pipeline_queries14.paragraph_occurrences`` — the
    expensive tokenize+window+fingerprint half runs once per batch,
    never over history).

    Returns the MERGED occurrence relation; feed it to
    ``paragraph_dedup_stats`` for per-document surviving-text stats
    row-identical to the batch q245 over the same documents — the
    keeper rule is a MIN(first-occurrence key) + COUNT per
    fingerprint, both mergeable over the batch union, so a paragraph
    whose TRUE first occurrence arrives in a LATER batch re-bases the
    keeper exactly like the retention fold's straggler case (pinned
    in tests/test_streaming_paragraph_dedup.py).

    At 100 TB: the ledger is one row per paragraph occurrence (two
    ints + two fixed-width keys — no text), the incremental analog of
    the persisted paragraph index; the only corpus-wide shuffle stays
    the fingerprint GROUP BY at read time."""
    from ..pipeline_queries14 import paragraph_occurrences, paragraph_table

    return _fold_state(
        spark, src_dir, state_dir, checkpoint_dir,
        lambda df: {"paraocc": paragraph_occurrences(paragraph_table(df))},
        {"paraocc": lambda s: s},
        schema, timeout_s,
    )["paraocc"]


def stream_refresh_artifacts(
    spark,
    src_dir: str,
    artifact_root: str,
    checkpoint_dir: str,
    timeout_s: int = 180,
    schema=None,
):
    """Continuous maintenance of the DURABLE ingest artifacts
    (``ingest.artifacts``): each arriving document micro-batch folds
    into the ledger tables via ``refresh_documents`` — the
    ``foreachBatch`` + table-MERGE shape a production pipeline runs,
    with the ledger supplying the atomic commits.  The first batch
    bootstraps an empty root (full build == refresh of everything);
    every later batch pays O(batch): document-grain replace for the
    paragraph/posting tables, signed SUM-merged DF deltas, MIN/SUM
    keeper-state merge on append, and the affected-fingerprint merge
    (surviving keepers fold exactly; only keeper-losing fingerprints
    rescan two pruned index columns) when a batch replaces documents.

    Replay safety rides ``refresh_documents``'s ``batch_id`` contract
    (r11): every ledger commit is stamped with the checkpoint's batch
    id, so a replay — including one after a crash BETWEEN table
    commits mid-fold — skips fully-applied tables and re-derives the
    partially-applied ones from their pinned PRE-batch snapshots
    (signed DF deltas against the pre-batch posting tables, never the
    half-updated ones).  Fully-committed replays additionally net to
    no-ops at the row level (delete + re-upsert re-derives identical
    rows; pinned in tests/test_streaming_artifacts.py).  The ledger
    versions advance but every reader's view is unchanged; vacuum
    reclaims the dead files.

    After the stream drains, any session — including a future one —
    serves queries (q254/q257/q258) from the maintained artifacts with
    zero corpus re-scans."""
    from ..ingest.artifacts import refresh_documents

    def fold_batch(batch_df, batch_id: int) -> None:
        if not batch_df.isEmpty():
            refresh_documents(spark, artifact_root, batch_df, batch_id=batch_id)

    _drain(
        _file_stream(spark, src_dir, schema).writeStream.foreachBatch(
            fold_batch
        ).option("checkpointLocation", checkpoint_dir),
        timeout_s,
        f"stream_refresh_artifacts of {src_dir!r}",
    )


def stream_admit_documents(
    spark,
    src_dir: str,
    artifact_root: str,
    checkpoint_dir: str,
    tau: float,
    df_cap: int,
    timeout_s: int = 180,
    schema=None,
):
    """Continuous ingest ADMISSION (the end-to-end loop a production
    pipeline runs, composing r11's transactional gate with the
    streamed artifact maintenance): each arriving document micro-batch
    is classified against the durable artifacts (exact vs keeper
    state, batch-internal exact, near-dup vs the posting index), the
    per-document decisions are committed to the durable
    ``admission_stats`` history, and ONLY admitted documents fold into
    the index via ``refresh_documents`` — so rejected duplicates never
    pollute the corpus state they would later be screened against.

    Requires a BOOTSTRAPPED artifact root (``build_document_artifacts``
    on the initial corpus, or a completed ``stream_refresh_artifacts``
    run): admission against nothing is not a meaningful screen, and
    the artifact readers raise on an uncommitted root by design.

    Exactly-once rides ``ingest.admission.admit_batch_exactly_once``
    (the decision commit is the anchor; see its docstring for the
    crash matrix).  Equivalence to the batch gate (streamed N-batch
    admission ≡ sequential ``admit_and_refresh`` calls, through every
    artifact reader AND the recorded history) is pinned in
    ``tests/test_streaming_admission.py``."""
    from ..ingest.admission import admit_batch_exactly_once

    def fold_batch(batch_df, batch_id: int) -> None:
        if not batch_df.isEmpty():
            admit_batch_exactly_once(
                spark, artifact_root, batch_df, tau, df_cap, batch_id
            )

    _drain(
        _file_stream(spark, src_dir, schema).writeStream.foreachBatch(
            fold_batch
        ).option("checkpointLocation", checkpoint_dir),
        timeout_s,
        f"stream_admit_documents of {src_dir!r}",
    )
