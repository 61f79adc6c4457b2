"""Ledger tables: a minimal transaction-log table format over parquet,
closing the one gap the directory-swap merge cannot (``sink.py``): a
reader racing a merge seeing a partition briefly absent.

This is the same design a real table format (Delta/Iceberg) uses,
reduced to the essentials this engine needs:

- **Immutable data files** under ``<root>/data/`` — a commit never
  deletes or renames a live file, it only adds files and publishes a
  new manifest. Readers that resolved an older version keep a complete,
  consistent file list for as long as retention holds.
- **Version manifests** under ``<root>/_ledger/v<NNNN>.json`` listing
  the table's live files with per-file row counts and min/max key
  stats (parquet footer metadata — the data-skipping index).
- **Atomic commit via hard link**: the manifest is fsync'd to a temp
  name and ``os.link``-ed to its final version path. Link fails with
  EEXIST if another writer took that version — optimistic concurrency
  exactly like Delta's log-entry rename; the merge retries against the
  new snapshot. A manifest is therefore either fully present or absent;
  a crash before commit leaves only orphan data files that no reader
  can see (vacuum collects them by age).
- **Snapshot reads**: ``ledger_read(root, version=...)`` pins the file
  list of that version; the default resolves the latest committed
  version at call time and is unaffected by later commits.
- **Merge with file skipping**: only data files whose [key_min,
  key_max] range overlaps the source's key range are rewritten; all
  other files carry into the new manifest untouched — bounded write
  amplification, the log-driven pruning Delta MERGE does.
- **Vacuum with retention**: delete data files referenced only by
  manifests older than the retained window (plus aged orphans). Until
  then, every retained version remains exactly reproducible — time
  travel for free.

Single-table, local/posix-filesystem emulation (hard links and mtime
are the only primitives used); on object storage the same protocol
rides put-if-absent. Keys must be orderable scalars (int/str) for the
min/max skipping; NULL keys never match any source key (SQL semantics)
so files holding them are simply never pruned into a rewrite by a
non-overlapping merge.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession

from .sink import _dedup_last_wins, _upsert_rows

_LEDGER_DIR = "_ledger"
_DATA_DIR = "data"


class ConcurrentCommitError(RuntimeError):
    """Another writer committed this version first; retry on the new
    snapshot."""


def _ledger_path(root: str) -> str:
    return os.path.join(root, _LEDGER_DIR)


def _manifest_path(root: str, version: int) -> str:
    return os.path.join(_ledger_path(root), f"v{version:012d}.json")


def current_version(root: str) -> int:
    """Highest committed version, 0 if the table does not exist yet."""
    ld = _ledger_path(root)
    if not os.path.isdir(ld):
        return 0
    versions = [
        int(name[1:-5])
        for name in os.listdir(ld)
        if name.startswith("v") and name.endswith(".json")
    ]
    return max(versions, default=0)


def _read_manifest(root: str, version: int) -> dict:
    with open(_manifest_path(root, version), encoding="utf-8") as f:
        return json.load(f)


def _json_stat(v):
    """Manifest stats must survive json.dump AND stay order-comparable
    for pruning: date/datetime become ISO strings (lexicographic ==
    chronological order); binary stats are dropped (None ⇒ the file is
    never pruned on that column — pruning is only an optimization)."""
    import datetime as _dt

    if isinstance(v, (_dt.datetime, _dt.date)):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return None
    return v


def _file_stats(
    path: str, key: str, extra_cols: list[str] | None = None
) -> tuple[int, object, object, dict]:
    """(rows, key_min, key_max, col_stats) from parquet footer metadata
    only — no data read. min/max are None when the file has no non-null
    values for that column. ``col_stats`` maps each requested extra
    column to ``[min, max]`` — the multi-column data-skipping index
    z-order clustering makes effective."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    # match on the FULL dotted path: parquet metadata enumerates leaf
    # columns, and a nested leaf can share the key's bare name (cards:
    # all_parts[].id, card_faces[].name) — matching leaf names would
    # silently read another column's statistics and break pruning
    paths = {md.schema.column(i).path: i for i in range(md.num_columns)}

    def _minmax(col: str) -> tuple[object, object]:
        cmin = cmax = None
        if col in paths:
            ci = paths[col]
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(ci).statistics
                if st is None or not st.has_min_max:
                    continue
                lo, hi = st.min, st.max
                cmin = lo if cmin is None or lo < cmin else cmin
                cmax = hi if cmax is None or hi > cmax else cmax
        return _json_stat(cmin), _json_stat(cmax)

    kmin, kmax = _minmax(key)
    col_stats = {c: list(_minmax(c)) for c in (extra_cols or []) if c != key}
    return md.num_rows, kmin, kmax, col_stats


def _stage_data_files(
    spark: SparkSession,
    root: str,
    df: DataFrame,
    key: str,
    stats_cols: list[str] | None = None,
) -> list[dict]:
    """Write ``df`` as immutable data files under <root>/data/ with
    fresh unique names; returns their manifest entries. Files written
    here are INVISIBLE until a manifest referencing them commits.
    ``stats_cols`` adds per-file [min, max] for extra columns to the
    manifest (the z-order / multi-column skipping index)."""
    data_dir = os.path.join(root, _DATA_DIR)
    os.makedirs(data_dir, exist_ok=True)
    stage = os.path.join(root, f"_stage_{uuid.uuid4().hex[:8]}")
    df.write.mode("overwrite").parquet(stage)
    entries: list[dict] = []
    for name in sorted(os.listdir(stage)):
        if not name.endswith(".parquet"):
            continue
        final_name = f"part-{uuid.uuid4().hex}.parquet"
        final = os.path.join(data_dir, final_name)
        os.rename(os.path.join(stage, name), final)
        rows, kmin, kmax, col_stats = _file_stats(final, key, stats_cols)
        entry = {
            "path": f"{_DATA_DIR}/{final_name}",
            "rows": rows,
            "key_min": kmin,
            "key_max": kmax,
        }
        if col_stats:
            entry["stats"] = col_stats
        entries.append(entry)
    shutil.rmtree(stage, ignore_errors=True)
    return entries


def _commit(
    root: str,
    version: int,
    files: list[dict],
    key: str,
    stats_cols: list[str] | None = None,
    extra_meta: dict | None = None,
) -> None:
    """Publish ``version`` atomically; raises ConcurrentCommitError if
    that version already exists (another writer won the race).
    ``stats_cols`` persists the table's extra skipping columns so later
    merges keep collecting the same per-file stats. ``extra_meta``
    rides inside the manifest — atomic with the file list, which is what
    makes e.g. a continuous view's base-version watermark crash-safe."""
    ld = _ledger_path(root)
    os.makedirs(ld, exist_ok=True)
    payload = {
        "version": version,
        "key": key,
        "committed_at": time.time(),
        "files": files,
    }
    if stats_cols:
        payload["stats_cols"] = list(stats_cols)
    if extra_meta:
        payload.update(extra_meta)
    tmp = os.path.join(ld, f".tmp_{uuid.uuid4().hex}.json")
    with open(tmp, "w", encoding="utf-8") as f:
        json.dump(payload, f)
        f.flush()
        os.fsync(f.fileno())
    try:
        os.link(tmp, _manifest_path(root, version))
    except FileExistsError as exc:
        raise ConcurrentCommitError(
            f"version {version} already committed at {root}"
        ) from exc
    finally:
        os.unlink(tmp)


def ledger_write(
    spark: SparkSession,
    root: str,
    df: DataFrame,
    key: str = "id",
    stats_cols: list[str] | None = None,
) -> int:
    """Full-table write as the next version (the initial load path).
    Returns the committed version number. ``stats_cols`` declares extra
    per-file skipping columns collected now and on every later merge.

    The target version is pinned BEFORE the (multi-second) staging
    write: re-resolving afterwards would let this commit silently
    supersede a version another writer committed mid-stage — a lost
    update. Pinned, the race surfaces as ConcurrentCommitError.
    """
    version = current_version(root) + 1
    files = _stage_data_files(spark, root, df, key, stats_cols=stats_cols)
    _commit(root, version, files, key, stats_cols)
    return version


def _entry_bounds(entry: dict, col: str) -> tuple[object, object]:
    """[min, max] the manifest records for ``col`` in this file, or
    (None, None) when it records none."""
    st = entry.get("stats", {}).get(col)
    if st is not None:
        return st[0], st[1]
    return None, None


def _entry_matches(entry: dict, col: str, key: str, lo, hi) -> bool:
    """Manifest-level may-contain test for ``col BETWEEN lo AND hi``
    (either bound None = unbounded). Missing stats ⇒ True — pruning is
    only ever an optimization, never allowed to drop a matching row."""
    if col == key:
        cmin, cmax = entry.get("key_min"), entry.get("key_max")
    else:
        cmin, cmax = _entry_bounds(entry, col)
    if cmin is None or cmax is None:
        return True
    # canonicalize caller bounds the same way stats were stored
    # (date/datetime → ISO strings) so the comparison never mixes types
    lo, hi = _json_stat(lo), _json_stat(hi)
    if lo is not None and cmax < lo:
        return False
    if hi is not None and cmin > hi:
        return False
    return True


def ledger_read(
    spark: SparkSession,
    root: str,
    version: int | None = None,
    prune: dict[str, tuple] | None = None,
) -> DataFrame:
    """Snapshot read: the file list is pinned at resolution time, so a
    concurrent commit (and anything short of vacuum) cannot change or
    break this DataFrame.

    ``prune`` maps column → ``(lo, hi)`` range predicates (either bound
    None = unbounded). Files whose manifest min/max prove no row can
    match are dropped BEFORE Spark ever opens them — manifest-level
    data skipping, the 100 TB move: a point lookup on a compacted
    (z-ordered) table plans a 1-file scan, not a 10k-file listing.
    The same predicate is then re-applied as a DataFrame filter, so the
    result is exact regardless of how coarse the file stats are, and
    parquet row-group pushdown still prunes within surviving files.
    """
    v = current_version(root) if version is None else version
    if v == 0:
        raise FileNotFoundError(f"no committed version at {root}")
    manifest = _read_manifest(root, v)
    entries = manifest["files"]
    if not entries:
        raise FileNotFoundError(f"version {v} at {root} has no files")
    key = manifest.get("key", "id")
    kept = entries
    if prune:
        kept = [
            e
            for e in entries
            if all(
                _entry_matches(e, col, key, lo_hi[0], lo_hi[1])
                for col, lo_hi in prune.items()
            )
        ]
    from pyspark.sql import functions as F

    if not kept:
        # every file provably disjoint: preserve the FULL snapshot
        # schema (all footers — one file's schema could predate a
        # widening merge, making the empty result's schema depend on
        # which predicate matched nothing) and return 0 rows; only
        # footers are read under the always-false filter
        df = spark.read.option("mergeSchema", "true").parquet(
            *[os.path.join(root, e["path"]) for e in entries]
        )
        return df.filter(F.lit(False))
    # mergeSchema: a merge that added a column rewrites only overlapping
    # files, so one snapshot can legally hold files of widening schemas;
    # without the union the read schema would depend on file order
    df = spark.read.option("mergeSchema", "true").parquet(
        *[os.path.join(root, e["path"]) for e in kept]
    )
    for col, (lo, hi) in (prune or {}).items():
        if lo is not None:
            df = df.filter(F.col(col) >= F.lit(lo))
        if hi is not None:
            df = df.filter(F.col(col) <= F.lit(hi))
    return df


def _overlaps(entry: dict, lo, hi) -> bool:
    kmin, kmax = entry.get("key_min"), entry.get("key_max")
    if lo is None and hi is None:
        # the SOURCE has no non-null keys: a NULL key matches nothing,
        # so no target file needs rewriting
        return False
    if kmin is None or kmax is None:
        # the FILE's stats are missing — absent footer min/max, a key
        # column the writer didn't index, or all-null keys. We cannot
        # prove it disjoint, so rewrite: merely conservative for an
        # all-null file, and the only correct choice when real keys
        # hide behind missing stats (skipping would leave the old row
        # beside the new one — a silent duplicate).
        return True
    return kmin <= hi and kmax >= lo


def ledger_merge_upsert(
    spark: SparkSession,
    root: str,
    source: DataFrame,
    key: str = "id",
    order_col: str | None = None,
    max_retries: int = 3,
    extra_meta: dict | None = None,
) -> int:
    """ON CONFLICT(key) DO UPDATE into a ledger table — same semantics
    as ``sink.merge_upsert`` but committed through the log, so readers
    are snapshot-isolated and a crash at ANY point leaves the previous
    version fully intact and visible.

    File skipping: only data files whose key range overlaps the
    source's [min, max] are read and rewritten; every other file's
    manifest entry carries over byte-identical. Optimistic concurrency:
    a lost commit race re-reads the new snapshot and retries.
    ``extra_meta`` rides in the manifest atomically with the file list
    (e.g. ``artifacts.refresh_documents``'s per-table applied-batch
    watermark — the exactly-once replay guard).
    """
    source = _dedup_last_wins(source, key, order_col)
    for _ in range(max_retries):
        base = current_version(root)
        if base == 0:
            files = _stage_data_files(spark, root, source, key)
            try:
                _commit(root, 1, files, key, extra_meta=extra_meta)
                return 1
            except ConcurrentCommitError:
                continue  # someone created the table mid-stage: re-merge
        manifest = _read_manifest(root, base)
        stats_cols = manifest.get("stats_cols")
        bounds = source.selectExpr(
            f"min({key}) AS lo", f"max({key}) AS hi"
        ).first()
        lo, hi = bounds["lo"], bounds["hi"]
        touched = [e for e in manifest["files"] if _overlaps(e, lo, hi)]
        untouched = [e for e in manifest["files"] if not _overlaps(e, lo, hi)]
        if touched:
            # mergeSchema: touched files can span a schema-widening
            # merge; resolving from one file would silently REWRITE the
            # kept rows without their widened columns — permanent loss
            old = spark.read.option("mergeSchema", "true").parquet(
                *[os.path.join(root, e["path"]) for e in touched]
            )
            merged = _upsert_rows(old, source, key)
        else:
            merged = source
        new_files = _stage_data_files(
            spark, root, merged, key, stats_cols=stats_cols
        )
        try:
            _commit(
                root, base + 1, untouched + new_files, key, stats_cols,
                extra_meta=extra_meta,
            )
            return base + 1
        except ConcurrentCommitError:
            # staged files are orphans (invisible); vacuum collects them
            continue
    raise ConcurrentCommitError(
        f"merge lost the commit race {max_retries} times at {root}"
    )


def ledger_delete(
    spark: SparkSession,
    root: str,
    predicate,
    max_retries: int = 3,
    extra_meta: dict | None = None,
) -> int:
    """DELETE WHERE ``predicate`` as a new snapshot version (the
    GDPR / retention-sweep path — the one table operation the upsert
    MERGE can't express).

    SQL DELETE null semantics: rows where the predicate is TRUE are
    removed; FALSE **and NULL** rows are kept.

    File skipping is EXACT for any predicate: one probe pass reads the
    current snapshot with the predicate and collects the distinct
    ``input_file_name``s that contain matching rows (parquet row-group
    min/max pruning makes this probe cheap for stats-column
    predicates — files that can't match are eliminated before any row
    is read). Only those files are rewritten without their matching
    rows; every other manifest entry carries over byte-identical, and
    a file whose rows are all deleted simply leaves the manifest
    (its bytes become vacuum-collectable orphans). The deleted-row
    count is recorded in the manifest (``deleted_rows``) — an audit
    trail atomic with the commit. Old versions still read the deleted
    rows via time travel until ``ledger_vacuum`` ages them out, which
    is the documented compliance step for hard erasure.

    Returns the committed version (current version if nothing matched
    — a no-op delete does not burn a snapshot).
    """
    from pyspark.sql import Column
    from pyspark.sql import functions as F

    pred = predicate if isinstance(predicate, Column) else F.expr(predicate)
    keep_cond = F.coalesce(~pred, F.lit(True))  # FALSE or NULL survives
    for _ in range(max_retries):
        base = current_version(root)
        if base == 0:
            return 0  # empty table: nothing to delete
        manifest = _read_manifest(root, base)
        key = manifest["key"]
        stats_cols = manifest.get("stats_cols")
        paths = {
            os.path.realpath(os.path.join(root, e["path"])): e
            for e in manifest["files"]
        }
        if not paths:
            return base
        snap = spark.read.option("mergeSchema", "true").parquet(*paths)
        # input_file_name() yields a Hadoop URI whose path segment is
        # percent-encoded (spaces etc.); unquote before comparing with
        # the manifest's plain filesystem paths or the probe silently
        # matches nothing for table roots containing special characters.
        from urllib.parse import unquote, urlparse

        hit_files = {
            os.path.realpath(
                unquote(urlparse(r[0]).path)
                if r[0].startswith("file:")
                else unquote(r[0])
            )
            for r in snap.where(pred)
            .select(F.input_file_name())
            .distinct()
            .collect()
        }
        if not hit_files:
            return base
        touched = [paths[p] for p in paths if p in hit_files]
        untouched = [e for p, e in paths.items() if p not in hit_files]
        old = spark.read.option("mergeSchema", "true").parquet(
            *[os.path.join(root, e["path"]) for e in touched]
        )
        kept = old.where(keep_cond)
        new_files = [
            e
            for e in _stage_data_files(
                spark, root, kept, key, stats_cols=stats_cols
            )
            if e["rows"] > 0
        ]
        n_deleted = sum(e["rows"] for e in touched) - sum(
            e["rows"] for e in new_files
        )
        try:
            _commit(
                root,
                base + 1,
                untouched + new_files,
                key,
                stats_cols,
                extra_meta={"deleted_rows": n_deleted, **(extra_meta or {})},
            )
            return base + 1
        except ConcurrentCommitError:
            continue  # staged files are invisible orphans; retry on new base
    raise ConcurrentCommitError(
        f"delete lost the commit race {max_retries} times at {root}"
    )


def ledger_delete_keys(
    spark: SparkSession,
    root: str,
    keys_df: DataFrame,
    on: str,
    max_retries: int = 3,
    extra_meta: dict | None = None,
) -> int:
    """DELETE WHERE ``on`` IN (SELECT ``on`` FROM ``keys_df``) — the
    bulk twin of :func:`ledger_delete` (r10 VERDICT #7): the match set
    arrives as a DataFrame and every membership test is a semi/anti
    JOIN, so a million-key delete never embeds literals in the plan or
    crosses py4j.  ``on`` may be any column, not just the table key.

    File skipping stays EXACT: the probe pass semi-joins the snapshot
    to the key set and collects the distinct ``input_file_name``s that
    hold matching rows; only those files rewrite (anti-join drops the
    matches), every other manifest entry carries over byte-identical.
    NULL keys never match (join semantics) — same as the predicate
    form's NULL-keeps rule.  Returns the committed version (current if
    nothing matched)."""
    from pyspark.sql import functions as F

    keys = keys_df.select(on).distinct().localCheckpoint(eager=False)
    for _ in range(max_retries):
        base = current_version(root)
        if base == 0:
            return 0
        manifest = _read_manifest(root, base)
        key = manifest["key"]
        stats_cols = manifest.get("stats_cols")
        paths = {
            os.path.realpath(os.path.join(root, e["path"])): e
            for e in manifest["files"]
        }
        if not paths:
            return base
        snap = spark.read.option("mergeSchema", "true").parquet(*paths)
        from urllib.parse import unquote, urlparse

        # input_file_name() must bind BEFORE the join: evaluated after
        # an exchange (or on the join's other side, if the planner
        # swaps the build side) it returns '' and the probe would
        # silently match no manifest path
        probe = snap.withColumn("_file", F.input_file_name())
        hit_files = {
            os.path.realpath(
                unquote(urlparse(r[0]).path)
                if r[0].startswith("file:")
                else unquote(r[0])
            )
            for r in probe.join(keys, on=on, how="left_semi")
            .select("_file")
            .distinct()
            .collect()
        }
        if not hit_files:
            return base
        touched = [paths[p] for p in paths if p in hit_files]
        untouched = [e for p, e in paths.items() if p not in hit_files]
        old = spark.read.option("mergeSchema", "true").parquet(
            *[os.path.join(root, e["path"]) for e in touched]
        )
        kept = old.join(keys, on=on, how="left_anti")
        new_files = [
            e
            for e in _stage_data_files(
                spark, root, kept, key, stats_cols=stats_cols
            )
            if e["rows"] > 0
        ]
        n_deleted = sum(e["rows"] for e in touched) - sum(
            e["rows"] for e in new_files
        )
        try:
            _commit(
                root,
                base + 1,
                untouched + new_files,
                key,
                stats_cols,
                extra_meta={"deleted_rows": n_deleted, **(extra_meta or {})},
            )
            return base + 1
        except ConcurrentCommitError:
            continue
    raise ConcurrentCommitError(
        f"delete lost the commit race {max_retries} times at {root}"
    )


def ledger_vacuum(
    root: str, retain_versions: int = 2, orphan_min_age_s: float = 3600.0
) -> list[str]:
    """Delete data files no retained version references, plus aged
    manifest history. Orphan files (staged by a crashed or beaten
    writer, referenced by NO manifest) are deleted only once older than
    ``orphan_min_age_s`` so an in-flight commit's stage is never
    destroyed. Returns the deleted paths.

    Snapshot contract: every version in the retained window stays fully
    readable; older pinned readers must finish within the retention
    window — the exact semantics of Delta's VACUUM.
    """
    latest = current_version(root)
    if latest == 0:
        return []
    keep_from = max(1, latest - retain_versions + 1)
    referenced: set[str] = set()
    for v in range(keep_from, latest + 1):
        if os.path.exists(_manifest_path(root, v)):
            referenced.update(
                e["path"] for e in _read_manifest(root, v)["files"]
            )
    # paths referenced only by pre-retention manifests: loop-invariant,
    # built ONCE (per-file re-parsing of every old manifest would make
    # vacuum O(files x versions) on a streaming table's long history)
    old_referenced: set[str] = set()
    for v in range(1, keep_from):
        if os.path.exists(_manifest_path(root, v)):
            old_referenced.update(
                e["path"] for e in _read_manifest(root, v)["files"]
            )
    deleted: list[str] = []
    data_dir = os.path.join(root, _DATA_DIR)
    now = time.time()
    for name in sorted(os.listdir(data_dir)):
        rel = f"{_DATA_DIR}/{name}"
        if rel in referenced:
            continue
        full = os.path.join(data_dir, name)
        if rel not in old_referenced and (
            now - os.path.getmtime(full) < orphan_min_age_s
        ):
            continue  # possibly a live writer's fresh stage
        os.remove(full)
        deleted.append(full)
    for v in range(1, keep_from):
        mp = _manifest_path(root, v)
        if os.path.exists(mp):
            os.remove(mp)
            deleted.append(mp)
    # a writer that crashed INSIDE _stage_data_files (between the Spark
    # write and the renames) leaves a _stage_* directory the data/ scan
    # above can't see; collect those by the same age gate
    for name in sorted(os.listdir(root)):
        if not name.startswith("_stage_"):
            continue
        full = os.path.join(root, name)
        if now - os.path.getmtime(full) < orphan_min_age_s:
            continue
        shutil.rmtree(full, ignore_errors=True)
        deleted.append(full)
    return deleted


def _zvalue_column(df: DataFrame, cols: list[str], bits: int = 16):
    """Z-order (Morton) curve position as a Column: each clustering
    column is linearly scaled to ``bits`` bits against its global
    min/max (ONE 1-row aggregate, folded into the plan as literals),
    then the bit-planes are interleaved. Entirely built-in expressions
    — whole-stage codegen, no UDF. Numeric/date columns only; for
    heavily skewed columns substitute a rank-based scale upstream.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    def _as_num(c: str):
        # dates can't cast('double') directly — scale on epoch days
        # (unix_date), the natural z-order axis for time clustering
        dt = df.schema[c].dataType
        if isinstance(dt, (T.DateType, T.TimestampType, T.TimestampNTZType)):
            base = (
                F.unix_date(F.col(c))
                if isinstance(dt, T.DateType)
                else F.unix_micros(
                    F.col(c).cast("timestamp")
                    if isinstance(dt, T.TimestampNTZType)
                    else F.col(c)
                )
            )
            return base.cast("double")
        return F.col(c).cast("double")

    for c in cols:
        dt = df.schema[c].dataType
        if isinstance(
            dt, (T.DateType, T.TimestampType, T.TimestampNTZType)
        ):
            continue
        if not isinstance(dt, T.NumericType):
            raise TypeError(
                f"z-order column {c!r} has non-numeric type "
                f"{dt.simpleString()}; cast or hash it first"
            )
    aggs = []
    for c in cols:
        num = _as_num(c)
        aggs += [F.min(num).alias(f"lo_{c}"), F.max(num).alias(f"hi_{c}")]
    row = df.agg(*aggs).first()
    top = (1 << bits) - 1
    planes = []
    for c in cols:
        lo, hi = row[f"lo_{c}"], row[f"hi_{c}"]
        if lo is None or hi == lo:
            planes.append(F.lit(0).cast("long"))
            continue
        num = _as_num(c)
        scaled = ((num - F.lit(lo)) / F.lit(hi - lo) * F.lit(top)).cast(
            "long"
        )
        planes.append(
            F.coalesce(
                F.least(F.lit(top).cast("long"), F.greatest(F.lit(0).cast("long"), scaled)),
                F.lit(0).cast("long"),
            )
        )
    n = len(planes)
    z = F.lit(0).cast("long")
    for i in range(bits):
        for j, p in enumerate(planes):
            bit = F.shiftright(p, i).bitwiseAND(F.lit(1).cast("long"))
            z = z + bit * F.lit(1 << (i * n + j)).cast("long")
    return z


def ledger_compact(
    spark: SparkSession,
    root: str,
    target_files: int = 1,
    key: str | None = None,
    zorder: list[str] | None = None,
    zorder_bits: int = 16,
) -> int:
    """Small-file compaction as a ledger commit: rewrite the current
    snapshot into ``target_files`` files and publish it as the next
    version — rows identical, old versions untouched (readers pinned to
    them keep working; vacuum reclaims the small files after retention).
    The streaming sink's one-version-per-micro-batch pattern makes this
    the table's periodic maintenance job, exactly like Delta OPTIMIZE.

    ``zorder=["a", "b"]`` clusters the rewrite along a Morton curve
    over those columns (Delta ``OPTIMIZE ... ZORDER BY``): rows are
    range-partitioned and sorted by interleaved-bit position, so every
    output file covers a small hyper-rectangle of the (a, b) space and
    its manifest min/max stay tight on BOTH columns — ``ledger_read``
    pruning then works for predicates on either column, not just the
    primary key. The extra column stats are recorded in the manifest
    (``stats_cols``) and maintained by later merges.
    """
    base = current_version(root)
    if base == 0:
        raise FileNotFoundError(f"no committed version at {root}")
    manifest = _read_manifest(root, base)
    k = key or manifest.get("key", "id")
    df = ledger_read(spark, root, base)
    stats_cols = manifest.get("stats_cols")
    if zorder:
        stats_cols = sorted(set(zorder) | set(stats_cols or []))
        z = _zvalue_column(df, list(zorder), bits=zorder_bits)
        df = (
            df.withColumn("_zval", z)
            .repartitionByRange(max(target_files, 1), "_zval")
            .sortWithinPartitions("_zval")
            .drop("_zval")
        )
    else:
        df = df.coalesce(max(target_files, 1))
    files = _stage_data_files(spark, root, df, k, stats_cols=stats_cols)
    _commit(root, base + 1, files, k, stats_cols)
    return base + 1


def ledger_diff(
    spark: SparkSession,
    root: str,
    from_version: int,
    to_version: int,
    key: str | None = None,
) -> DataFrame:
    """Storage-side CDC from snapshots: (change_type, row) for every
    difference between two committed versions — ``insert`` (key only in
    ``to``), ``delete`` (key only in ``from``), ``update`` (key in both
    with any column changed). This is what time travel buys beyond
    rollback: the change feed between any two retained versions without
    having recorded one. Key-wise single shuffle per side; unchanged
    rows are eliminated by an exceptAll on full rows before the key
    classification, so the join operates on changed keys only.
    """
    k = key or _read_manifest(root, to_version).get("key", "id")
    old = ledger_read(spark, root, from_version)
    new = ledger_read(spark, root, to_version)
    cols = new.columns
    # a column added by a widening merge between the two versions does
    # not exist in the old snapshot; semantically it was NULL there, so
    # NULL-fill instead of crashing — CDC across the evolving commit is
    # a primary diff use case
    from pyspark.sql import functions as F

    have = set(old.columns)
    for f in new.schema.fields:
        if f.name not in have:
            old = old.withColumn(f.name, F.lit(None).cast(f.dataType))
    old = old.select(*cols)
    # set-difference requires row-comparable types; Spark cannot compare
    # MapType. Serialize map columns for the comparison explicitly at
    # the call site (to_json) — failing early beats an opaque analyzer
    # error three operators deep.
    from pyspark.sql import types as T

    bad = [f.name for f in new.schema.fields if isinstance(f.dataType, T.MapType)]
    if bad:
        raise TypeError(
            f"ledger_diff cannot compare map columns {bad}; project them "
            "through to_json() first"
        )
    changed_new = new.exceptAll(old)   # rows added or updated
    changed_old = old.exceptAll(new)   # rows removed or pre-update
    from pyspark.sql import functions as F

    old_keys = changed_old.select(F.col(k).alias("_k")).distinct()
    new_keys = changed_new.select(F.col(k).alias("_k")).distinct()
    inserts = changed_new.join(
        old_keys, changed_new[k] == old_keys["_k"], "left_anti"
    ).withColumn("change_type", F.lit("insert"))
    deletes = changed_old.join(
        new_keys, changed_old[k] == new_keys["_k"], "left_anti"
    ).withColumn("change_type", F.lit("delete"))
    updates = changed_new.join(
        old_keys, changed_new[k] == old_keys["_k"], "left_semi"
    ).withColumn("change_type", F.lit("update"))
    return inserts.unionByName(deletes).unionByName(updates).select(
        "change_type", *cols
    )


def ledger_restore(root: str, version: int) -> int:
    """RESTORE TABLE ... TO VERSION: republish an older snapshot's file
    list as the next version. Metadata-only — no data file is read,
    copied, or rewritten (the old files are immutable and still live
    while retention holds), so rolling back a 100 TB table is one
    manifest write. Fails like any commit if another writer races.
    """
    base = current_version(root)
    if base == 0:
        raise FileNotFoundError(f"no committed version at {root}")
    if not 1 <= version <= base:
        raise ValueError(f"version {version} not in [1, {base}]")
    m = _read_manifest(root, version)
    _commit(
        root, base + 1, m["files"], m.get("key", "id"), m.get("stats_cols")
    )
    return base + 1


def ledger_history(spark: SparkSession, root: str) -> DataFrame:
    """DESCRIBE HISTORY surface: one row per committed version, straight
    from the manifests — version, commit time, file/row counts, and the
    operation's audit fields (deleted_rows for DELETEs, base_version for
    continuous-view refreshes). Metadata-only: no data file is opened,
    so it costs O(versions) regardless of table size. Time travel +
    vacuum planning both start from this listing."""
    rows = []
    v = current_version(root)
    for version in range(1, v + 1):
        try:
            m = _read_manifest(root, version)
        except FileNotFoundError:
            continue  # vacuumed below the retention window
        rows.append(
            (
                version,
                float(m.get("committed_at", 0.0)),
                len(m.get("files", [])),
                sum(e.get("rows", 0) for e in m.get("files", [])),
                m.get("deleted_rows"),
                m.get("key"),
            )
        )
    return spark.createDataFrame(
        rows,
        "version long, committed_at double, n_files long, n_rows long, "
        "deleted_rows long, key string",
    )
