"""Upsert/merge sinks — the Spark re-expression of the reference's
batched ``INSERT ... ON CONFLICT (id) DO UPDATE`` sink
(``import_cards.py:214-255``, SURVEY §2.4 K1-K4).

One semantics (key-match → update all columns, no match → insert;
idempotent by construction), written once in :func:`_upsert_rows`:

1. ``merge_upsert`` — the ``"parquet"`` table format. Anti-join the
   target against the source keys, union the new source rows, atomic
   directory swap. Partition the table (e.g. by ``set``) so a merge
   only rewrites partitions that contain source keys — bounded write
   amplification at 100 TB. The other table format, the versioned
   ledger (``ledger.py``), applies the same rule to the files whose
   key range overlaps the source; ``lakehouse.py`` is the one switch
   between the two.
2. ``jdbc_stage_merge_sql`` — the OLTP bridge (per the north star
   "Spark JDBC + DataFrame ops"): bulk-write a staging table via
   ``df.write.jdbc(batchsize=1000)`` (the reference's
   execute_values page_size, import_cards.py:222-224), then one
   server-side ``INSERT ... ON CONFLICT DO UPDATE`` from staging —
   identical merge semantics, one transaction.
3. Micro-batching (K3-K4) falls out of partitioning; the reference's
   batch numbers survive as the JDBC ``batchsize`` default.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

#: reference constants, import_cards.py:347 and :222-224.
BATCH_SIZE_ROWS = 10_000
JDBC_BATCH_SIZE = 1_000


def _dedup_last_wins(df: DataFrame, key: str, order_col: str | None) -> DataFrame:
    """Collapse duplicate keys inside one source batch. With an
    ``order_col`` the highest wins; otherwise an arbitrary-but-single
    row per key (matches ON CONFLICT applying the last VALUES row)."""
    if order_col:
        w = Window.partitionBy(key).orderBy(F.col(order_col).desc())
    else:
        w = Window.partitionBy(key).orderBy(F.monotonically_increasing_id().desc())
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def merge_upsert(
    spark: SparkSession,
    target_path: str,
    source: DataFrame,
    key: str = "id",
    partition_by: str | None = None,
    order_col: str | None = None,
) -> None:
    """UPSERT ``source`` into the parquet table at ``target_path`` on
    ``key`` — exact ON CONFLICT(id) DO UPDATE semantics
    (import_cards.py:218-221).

    Scale notes: the anti-join shuffles on the key once. With a
    partitioned target, only partitions that contain source rows are
    read and rewritten (dynamic partition overwrite — the pruning Delta
    MERGE does from the transaction log); untouched partitions are never
    scanned or copied, which bounds write amplification at 100 TB.
    """
    deduped = _dedup_last_wins(source, key, order_col)

    if not _table_exists(target_path):
        _atomic_write(spark, deduped, target_path, partition_by)
        return

    if partition_by:
        # the partition-value probe reads the source BEFORE the dedup:
        # with the partition column stable per key, dropping duplicate
        # keys cannot change the set of values, so the probe skips the
        # dedup's window shuffle
        part_vals = [r[0] for r in source.select(partition_by).distinct().collect()]
        _merge_into_partitions(
            spark, target_path, deduped, key, partition_by, part_vals
        )
        return

    merged = _upsert_rows(spark.read.parquet(target_path), deduped, key)
    _atomic_write(spark, merged, target_path, partition_by)


def _upsert_rows(target: DataFrame, source: DataFrame, key: str) -> DataFrame:
    """The merge rule: every source row, plus the target rows whose key
    the source does not carry (columns missing on either side are
    NULL)."""
    return target.join(source, on=key, how="left_anti").unionByName(
        source, allowMissingColumns=True
    )


def _merge_into_partitions(
    spark: SparkSession,
    target_path: str,
    source: DataFrame,
    key: str,
    partition_by: str,
    part_vals: list,
) -> None:
    """Partition-pruned merge: anti-join only the affected partitions
    (``part_vals``, the source's distinct partition values),
    stage their merged contents to a temp subtree, then swap the
    affected partition directories one by one.

    Crash-consistency (manifest protocol): after staging completes, a
    commit manifest is written atomically NEXT TO the table root listing
    every planned partition swap; only then do the swaps run, and
    displaced partition directories move to a trash dir OUTSIDE the
    table root (never a ``part=X__old`` name inside it, which Spark
    would read back as a bogus partition value). A crash at any point is
    recoverable by :func:`recover_partition_merge` — stage-without-
    manifest rolls back (nothing was promised), manifest-present rolls
    FORWARD (staged data is complete by construction). Each merge calls
    recovery first, so a crashed predecessor self-heals. The remaining
    non-atomicity is a reader racing the swap seeing one partition
    briefly absent — closing that needs a versioned table format, the
    ``"ledger"`` format (``ledger.py``).

    Source rows with a NULL partition value can't be pruned to a
    directory, so their presence falls back to the whole-table merge
    path.

    Assumes the partition column is stable per key (true for cards: a
    printing never changes set). A key that *did* move partitions would
    leave its old row behind — Delta MERGE has the same property unless
    the match condition includes the partition column.
    """
    recover_partition_merge(target_path)
    target = spark.read.parquet(target_path)
    if any(v is None for v in part_vals):
        merged = _upsert_rows(target, source, key)
        _atomic_write(spark, merged, target_path, partition_by)
        return

    affected = target.filter(F.col(partition_by).isin(part_vals))
    merged = _upsert_rows(affected, source, key)

    # repartition on the partition key: without it every shuffle
    # partition writes a sliver into every partition directory
    # (observed: 32 files per partition for a 100-row merge) — the
    # small-files problem that kills scan throughput at scale.
    base = target_path.rstrip("/")
    token = uuid.uuid4().hex[:8]
    stage = f"{base}__stage_{token}"
    (
        merged.repartition(F.col(partition_by))
        .write.mode("overwrite")
        .partitionBy(partition_by)
        .parquet(stage)
    )
    entries = sorted(
        e for e in os.listdir(stage) if e.startswith(f"{partition_by}=")
    )
    trash = f"{base}__trash_{token}"
    os.makedirs(trash, exist_ok=True)
    manifest = f"{base}__commit_{token}.json"
    _atomic_json_write(
        manifest,
        {"stage": stage, "trash": trash, "target": base, "partitions": entries},
    )
    _apply_partition_swaps(base, stage, trash, entries)
    shutil.rmtree(trash, ignore_errors=True)
    shutil.rmtree(stage, ignore_errors=True)
    os.remove(manifest)


def _atomic_json_write(path: str, payload: dict) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w", encoding="utf-8") as f:
        json.dump(payload, f)
        f.flush()
        os.fsync(f.fileno())
    os.rename(tmp, path)


def _apply_partition_swaps(
    target: str, stage: str, trash: str, entries: list[str]
) -> None:
    """Idempotent swap loop: each entry is either not-yet-swapped (both
    renames pending), half-swapped (old dir already in trash), or done
    (stage dir gone) — re-running from any crash point completes it."""
    for entry in entries:
        src = os.path.join(stage, entry)
        dst = os.path.join(target, entry)
        if not os.path.exists(src):
            continue  # this entry already swapped (recovery re-run)
        if os.path.exists(dst):
            os.rename(dst, os.path.join(trash, entry))
        os.rename(src, dst)


#: age below which a manifest-less stage/trash dir is presumed to belong
#: to a LIVE merge and left alone during rollback. The emulation is
#: single-writer by design (like any non-transactional directory table);
#: this gate keeps an accidental overlap from destroying an in-flight
#: stage, but true multi-writer safety needs a real table format's log.
ROLLBACK_MIN_AGE_S = 3600.0


def recover_partition_merge(
    target_path: str, rollback_min_age_s: float = ROLLBACK_MIN_AGE_S
) -> bool:
    """Self-heal a crashed partitioned merge; returns True if it acted.

    - commit manifest present → roll FORWARD (staged partitions are
      complete before the manifest is ever written), then clean up.
    - stage/trash dirs with NO manifest → the merge died before
      committing; nothing was promised, so roll back by deleting them —
      but only once older than ``rollback_min_age_s``, so a concurrent
      merge's not-yet-committed stage isn't mistaken for a corpse
      (single-writer is still the supported mode; the age gate bounds
      the blast radius of an accidental overlap).
    """
    import time

    base = target_path.rstrip("/")
    parent, name = os.path.split(base)
    parent = parent or "."
    if not os.path.isdir(parent):
        return False
    acted = False
    siblings = os.listdir(parent)
    for f in siblings:
        if f.startswith(f"{name}__commit_") and f.endswith(".json"):
            full = os.path.join(parent, f)
            with open(full, encoding="utf-8") as fh:
                m = json.load(fh)
            if os.path.isdir(m["stage"]):
                os.makedirs(m["trash"], exist_ok=True)
                _apply_partition_swaps(
                    m["target"], m["stage"], m["trash"], m["partitions"]
                )
            shutil.rmtree(m["trash"], ignore_errors=True)
            shutil.rmtree(m["stage"], ignore_errors=True)
            os.remove(full)
            acted = True
    committed = {
        f.split("__commit_")[1].removesuffix(".json")
        for f in siblings
        if f.startswith(f"{name}__commit_") and f.endswith(".json")
    }

    def _old_enough(path: str) -> bool:
        try:
            return time.time() - os.path.getmtime(path) >= rollback_min_age_s
        except OSError:
            return False  # vanished underneath us → someone owns it

    for f in siblings:
        full = os.path.join(parent, f)
        if f.startswith(f"{name}__commit_") and f.endswith(".json.tmp"):
            # crash mid-manifest-write: never became a commit
            if _old_enough(full):
                os.remove(full)
                acted = True
        for kind in ("__stage_", "__trash_"):
            if f.startswith(name + kind):
                token = f.split(kind)[1]
                if token not in committed and _old_enough(full):
                    shutil.rmtree(full, ignore_errors=True)
                    acted = True
    return acted


def _table_exists(path: str) -> bool:
    return os.path.isdir(path) and any(
        f.endswith(".parquet") or f == "_SUCCESS" for f in os.listdir(path)
    )


def _atomic_write(
    spark: SparkSession, df: DataFrame, target_path: str, partition_by: str | None
) -> None:
    """Write to a temp dir then swap — readers never see a half-written
    table (the role Delta's transaction log plays in production)."""
    tmp = f"{target_path.rstrip('/')}__tmp_{uuid.uuid4().hex[:8]}"
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(partition_by)
    writer.parquet(tmp)
    old = f"{target_path.rstrip('/')}__old_{uuid.uuid4().hex[:8]}"
    if os.path.exists(target_path):
        os.rename(target_path, old)
    os.rename(tmp, target_path)
    if os.path.exists(old):
        shutil.rmtree(old)


# --- JDBC OLTP bridge ---------------------------------------------------


def jdbc_stage_merge_sql(
    table: str, staging_table: str, columns: list[str], key: str = "id"
) -> str:
    """The server-side merge statement executed after the staging bulk
    load — byte-for-byte the reference's conflict clause shape
    (import_cards.py:216-221), generated from the declared schema."""
    cols = ", ".join(columns)
    updates = ", ".join(f"{c} = EXCLUDED.{c}" for c in columns if c != key)
    return (
        f"INSERT INTO {table} ({cols}) "
        f"SELECT {cols} FROM {staging_table} "
        f"ON CONFLICT ({key}) DO UPDATE SET {updates}"
    )


def jdbc_write_staging(
    df: DataFrame,
    url: str,
    staging_table: str,
    properties: dict[str, str],
    batchsize: int = JDBC_BATCH_SIZE,
) -> None:
    """Bulk-load the staging table. Executors write in parallel with
    ``batchsize`` rows per round-trip (reference page_size=1000)."""
    (
        df.write.mode("overwrite")
        .option("batchsize", str(batchsize))
        .option("truncate", "true")
        .jdbc(url, staging_table, properties=properties)
    )


# --- ingest watermark (S2) ----------------------------------------------


def read_watermark(spark: SparkSession, meta_path: str, source: str) -> str | None:
    """Persisted ``updated_at`` gate — replaces the reference's
    file-mtime freshness trick (import_cards.py:313-326), which doesn't
    survive a distributed filesystem."""
    if not _table_exists(meta_path):
        return None
    rows = (
        spark.read.parquet(meta_path)
        .filter(F.col("source") == source)
        .select("updated_at")
        .collect()
    )
    return rows[0][0] if rows else None


def write_watermark(
    spark: SparkSession, meta_path: str, source: str, updated_at: str
) -> None:
    df = spark.createDataFrame(
        [(source, updated_at)], "source string, updated_at string"
    )
    merge_upsert(spark, meta_path, df, key="source")


def should_refresh(
    spark: SparkSession, meta_path: str, source: str, server_updated_at: str
) -> bool:
    """True when the server's bulk file is newer than what we ingested
    (string ISO-8601 compare, as the reference does with datetimes)."""
    local = read_watermark(spark, meta_path, source)
    return local is None or server_updated_at > local
