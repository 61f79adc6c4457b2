"""Table catalog over the driver's synthetic parquet testdata.

Registers each table as a temp view so both the DataFrame API and
``spark.sql`` work — mirroring the reference's model where the schema in
``init.sql`` declares tables and any SQL client queries them
(reference ``README.md:18``: ``SELECT * FROM cards WHERE layout='split'``).

At 100 TB these would be catalog tables (Delta/Iceberg/HMS) with
clustering; the loader keeps an explicit seam (`load_table`) so the
storage layer can swap without touching operators.
"""

from __future__ import annotations

import atexit
import functools
import inspect
import logging
import os
import shutil
import threading

from pyspark.sql import DataFrame, SparkSession

log = logging.getLogger(__name__)

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: dimension tables small enough to always broadcast (reference analog:
#: ``sets`` is ~1k rows and is THE join target, init.sql:71,110-111).
BROADCAST_TABLES = frozenset({"region", "nation", "supplier", "part", "customer"})


#: (applicationId, path) → scan partition count, so the one-off RDD
#: materialization that answers "how parallel is this scan?" runs once
#: per table per app, not once per query.
_SCAN_PARTS: dict[tuple[str, str], int] = {}

#: (applicationId, path, mtime_ns) → the LAZY source DataFrame.  Every
#: ``spark.read.parquet`` pays footer schema inference + file listing
#: in the driver JVM (~0.15-0.3 s warm, measured r11) and most queries
#: call ``load_table`` 1-3 times, so a full bench pass spent tens of
#: seconds re-deriving the same immutable plans.  A DataFrame is a
#: lazy, immutable plan — reusing it across queries materializes
#: NOTHING (every action still recomputes from parquet); this is plan
#: reuse, not result caching.  The mtime key drops stale entries if a
#: path is rewritten within a session (test fixtures); applicationId
#: scopes entries to a live SparkContext.
_TABLE_PLANS: dict[tuple[str, str, int], DataFrame] = {}


def load_table(
    spark: SparkSession, sf_dir: str, name: str, fan_out: bool = False
) -> DataFrame:
    """Load one testdata table; ``fan_out=True`` widens a narrow scan.

    ``fan_out`` is for callers whose downstream work is per-row
    CPU-heavy (HOF shingling, 64-perm minhash, vector math): a small
    single-file table scans as ONE partition (a parquet file is only
    splittable at row-group boundaries), which serializes the whole
    projection on one core — the explicit repartition bought 20-25% on
    the heavy dedup operators at sf0.1. It is opt-in, not automatic:
    round-2 measurement showed the same repartition taxing every
    *cheap* scan-bound query on those tables with a full shuffle
    (q30 2.27×, q05 1.61×). Guarded: at production scale these tables
    arrive as many files/row-groups, the scan is already
    ≥ defaultParallelism, and no shuffle is added.
    """
    _ensure_worker_imports(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        mtime = os.stat(path).st_mtime_ns
    except OSError:
        mtime = -1
    pkey = (spark.sparkContext.applicationId, path, mtime)
    df = _TABLE_PLANS.get(pkey)
    if df is None:
        df = (
            _read_events(spark, path)
            if name == "events"
            else spark.read.parquet(path)
        )
        _TABLE_PLANS[pkey] = df
    if name == "events":
        return df
    if fan_out:
        want = spark.sparkContext.defaultParallelism
        key = (spark.sparkContext.applicationId, path)
        have = _SCAN_PARTS.get(key)
        if have is None:
            have = df.rdd.getNumPartitions()
            _SCAN_PARTS[key] = have
        if have < want:
            df = df.repartition(want)
    return df


#: entries one build-once accessor (:func:`_session_memo`) keeps before
#: it evicts its oldest: a long test session over many corpora must not
#: pin unbounded driver memory or executor storage.
_MEMO_BOUND = 8


def _session_memo(builder):
    """Build-once-per-session memo for a prebuilt-artifact accessor
    ``builder(spark, ...)`` — the engine's analog of the indexes the
    reference's Postgres builds once (``init.sql:137-138``).

    The key is the applicationId plus every argument after ``spark``,
    bound with defaults applied, so positional, keyword and
    default-filled calls share one entry and no argument the builder
    reads can be left out of it.  Each accessor gets its own map
    (bench's prebuild pool runs different accessors on different
    threads), bounded at ``_MEMO_BOUND``: on overflow the oldest entry
    is dropped and every DataFrame in its value unpersisted, under a
    lock so two threads never evict the same entry.  A raising
    builder stores nothing.  What the builder materializes, and when,
    stays the builder's business (``persist``/``count``/
    ``localCheckpoint``)."""
    sig = inspect.signature(builder)
    memo: dict[tuple, object] = {}
    evict_lock = threading.Lock()

    @functools.wraps(builder)
    def accessor(spark, *args, **kwargs):
        bound = sig.bind(spark, *args, **kwargs)
        bound.apply_defaults()
        key = (
            spark.sparkContext.applicationId,
            *list(bound.arguments.values())[1:],
        )
        try:
            return memo[key]
        except KeyError:
            pass
        value = builder(*bound.args, **bound.kwargs)
        with evict_lock:
            while len(memo) >= _MEMO_BOUND:
                old = memo.pop(next(iter(memo)))
                for part in old if isinstance(old, tuple) else (old,):
                    if isinstance(part, DataFrame):
                        part.unpersist()
            memo[key] = value
        return value

    return accessor


_SHIPPED_APPS: set[str] = set()


def _ensure_worker_imports(spark: SparkSession) -> None:
    """Ship this package to executor Python workers (once per app).

    Closures that reference module-level names are pickled by
    *reference*, so workers must be able to import the package — which
    is only incidentally true when the driver runs from the repo root.
    ``addPyFile`` with a zip of the package makes worker imports
    independent of the launcher's working directory.

    The zip is built fresh in a private temp dir every time (never
    reused from a predictable path — a cached zip could be stale after
    code edits, truncated by an earlier crash, or planted by another
    local user) and removed when the process exits, and the app is only
    marked shipped on success so a failed attempt retries. Keyed by
    applicationId, which is unique per context — ``id()`` would be
    reusable after GC.
    """
    key = spark.sparkContext.applicationId
    if key in _SHIPPED_APPS:
        return
    try:
        import tempfile
        import zipfile

        pkg_dir = os.path.dirname(os.path.abspath(__file__))
        pkg_name = os.path.basename(pkg_dir)
        ship_dir = tempfile.mkdtemp(prefix="pkgship_")
        atexit.register(shutil.rmtree, ship_dir, ignore_errors=True)
        zpath = os.path.join(ship_dir, f"{pkg_name}.zip")
        with zipfile.ZipFile(zpath, "w") as z:
            for root, _dirs, files in os.walk(pkg_dir):
                for f in files:
                    if f.endswith(".py"):
                        full = os.path.join(root, f)
                        rel = os.path.join(pkg_name, os.path.relpath(full, pkg_dir))
                        z.write(full, rel)
        spark.sparkContext.addPyFile(zpath)
        _SHIPPED_APPS.add(key)
    except Exception as exc:
        # best-effort: self-contained (by-value) closures don't need the
        # shipped package — but log once so a later executor
        # ModuleNotFoundError isn't an opaque mystery
        _SHIPPED_APPS.add(key)
        log.warning(
            "could not ship %s to executors (addPyFile failed: %s); "
            "module-level UDF references will only resolve if workers "
            "can import the package themselves",
            __package__,
            exc,
        )


def _read_events(spark: SparkSession, path: str) -> DataFrame:
    """Read the events table's TIMESTAMP(NANOS) parquet portably.

    Older Spark rejects nano timestamps outright, so we read nanos as
    raw int64 (``spark.sql.legacy.parquet.nanosAsLong``) and truncate to
    microseconds — exactly what DuckDB/Arrow consumers do on read, so
    every engine sees identical event-time values. Newer Spark instead
    resolves ``TIMESTAMP(NANOS, adjusted=false)`` as ``TIMESTAMP_NTZ``
    (no error), so there is also a normalization branch below that folds
    that reading back to ``TIMESTAMP``.

    SESSION-WIDE SIDE EFFECT (deliberate, documented): the conf is only
    flipped when the plain read actually rejects the file, but once set
    it must STAY set — the returned DataFrame is lazy and re-resolves
    the scan under the live conf, so restoring it would break this very
    lineage. Consequence for mixed workloads: any later nano-timestamp
    parquet read on the same session also yields ``bigint`` columns
    (through this helper that's exactly the handled path; a raw
    ``spark.read.parquet`` elsewhere should expect it). No reader-level
    option exists to scope this in Spark 4.
    """
    from pyspark.sql import functions as F
    from pyspark.errors import AnalysisException

    try:
        df = spark.read.parquet(path)
        # force schema resolution so an illegal nano type surfaces here
        df.schema
    except AnalysisException:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        # newer Spark reads TIMESTAMP(NANOS, adjusted=false) parquet as
        # TIMESTAMP_NTZ instead of rejecting it; normalize to TIMESTAMP so
        # downstream arithmetic (e.g. cast-to-double gap math) is legal.
        # The wall-clock must be pinned as a UTC instant INDEPENDENT of
        # the session zone (load_table also runs on externally created
        # sessions, e.g. the verification driver's). convert_timezone
        # renders the UTC instant's wall clock in the session zone, and
        # the session-zone cast maps that wall clock back to the SAME
        # instant — both offset lookups key on one instant, so the
        # composition is exact for every unambiguous wall time. (A
        # cast+from_utc_timestamp pairing instead looks offsets up at
        # two different epochs and shifts events near BOTH DST
        # transitions.) Residual edge: the one-hour/year fall-back
        # overlap, where the cast's disambiguation may pick the other
        # offset — only reachable on non-UTC sessions; UTC sessions
        # take the identity branch.
        tz = spark.conf.get("spark.sql.session.timeZone")
        if tz and tz != "UTC":
            ts = F.convert_timezone(
                F.lit("UTC"), F.lit(tz), F.col("ts")
            ).cast("timestamp")
        else:
            ts = F.col("ts").cast("timestamp")
        df = df.withColumn("ts", ts)
    return df


def load_all(
    spark: SparkSession, sf_dir: str, register: bool = True
) -> dict[str, DataFrame]:
    out: dict[str, DataFrame] = {}
    for name in TESTDATA_TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if not os.path.exists(path):
            continue
        df = load_table(spark, sf_dir, name)  # events needs the nanos shim
        if register:
            df.createOrReplaceTempView(name)
        out[name] = df
    return out
