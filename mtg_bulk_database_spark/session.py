"""SparkSession factory tuned for this engine.

Local-mode settings mirror what we'd set fleet-wide on a real cluster:
AQE on (runtime re-planning, skew-join splitting, partition coalescing),
Arrow on (fast pandas-UDF exchange), explicit shuffle parallelism.

ANSI mode note: Spark 4 defaults ``spark.sql.ansi.enabled=true``. The
reference's semantics are PostgreSQL-permissive-at-ingest (invalid date →
NULL, ``import_cards.py:150-157``), which we express with ``try_to_date`` /
``try_cast`` rather than flipping ANSI off — queries therefore behave the
same under any session config, including the verification driver's.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: ``spark.sql.codegen.cache.maxEntries`` for the engine's sessions —
#: sized to the registry's generated-class working set (see get_spark).
CODEGEN_CACHE_ENTRIES = 4096


def get_spark(
    app_name: str = "mtg_bulk_database_spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` or ``*``. Shuffle
    parallelism defaults to the core count — at cluster scale this would
    instead be sized to ~2-3× total executor cores, with AQE coalescing
    handling the tail.

    The codegen cache bound is a STATIC conf: it only takes effect when
    this call starts the JVM. A session that already exists keeps the
    bound it was started with — e.g. the verification driver's plain
    session stays at Spark's default of 100.
    """
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS") or "*"
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cpus == "*" else max(int(cpus), 4)

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Shuffle writer (r11, guide §2.1/§6): with ≤200 reduce
        # partitions Spark takes the BypassMergeSortShuffleWriter,
        # which creates one file PER REDUCE PARTITION per map task
        # (M×R file creates+concat per shuffle) — local shuffles here
        # are all ≤ core-count partitions, so every exchange paid
        # O(M×R) filesystem metadata ops; measured 0.65 s → 0.27 s on
        # a representative 260k-row groupBy at local[32].  Production
        # shuffles run hundreds-to-thousands of reduce partitions and
        # therefore ALWAYS use the sort writer (one data+index file
        # per map task): pinning it here makes the local write path
        # match the one any at-scale deployment exercises, not a
        # local-only trick.  The sort cost it adds is bounded by the
        # tiny per-map data volume that made bypass attractive.
        .config("spark.shuffle.sort.bypassMergeThreshold", "1")
        # Generated-code cache: whole-stage codegen and the projection,
        # predicate and ordering generators share ONE JVM-wide cache of
        # Janino-compiled classes, 100 entries by default.  Census at
        # sf0.01: one round of all 255 registered queries compiles
        # 2.5k-3.2k distinct classes (3,210 when every result is
        # collected) and a second round over 60 of them only 4 new
        # ones, so the generated code is stable and only the cache was
        # too small — the six llm_curation ops (~115 classes per pass)
        # recompiled 53-65 of them on every warm pass (0.35-0.55 s of
        # compile time, plus a fresh JIT warm-up for each new class).  The
        # power of two above the census holds the whole registry;
        # after a full round it costs ~26 MB more Metaspace than the
        # default.
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # worker-import safety net at session creation: covers streaming
    # sources and createDataFrame pipelines that never go through
    # catalog.load_table (which applies the same net for sessions the
    # engine didn't create, e.g. the verification driver's)
    from .catalog import _ensure_worker_imports

    _ensure_worker_imports(spark)
    return spark
