"""Stage-level profile of a registered query — the measurement tool
behind every "plan audit" in this repo: which stage burns the time,
what it shuffles, whether it spills, and how skewed its tasks are.

Usage:
    python tools/stage_profile.py <query_name> [sf_dir] [--cold]

Runs the query once to warm codegen/IO (skipped with --cold), then
re-runs it and reports, per NEW stage, from Spark's status REST API
(public monitoring surface, stable since 1.4):

    runtime  — summed executor run time (the capacity the stage costs)
    in/out   — input read + shuffle read / shuffle write bytes
    spill    — memory+disk spill bytes (non-zero = partitions too big:
               revisit spark.sql.shuffle.partitions / maxPartitionBytes)
    skew     — max/median task run time (>> 1 = a hot key or an
               unsplittable file is serializing the stage)

and, for the whole profiled run, the Janino compiles of generated code
(class count from ``CodegenMetrics``, compile ms from
``CodeGenerator.compileTime``). A warm run should compile nothing; a
non-zero count there means the session's codegen cache
(``spark.sql.codegen.cache.maxEntries``) is smaller than the working set.

Reading the output at 100 TB design altitude: the top stage's
`shuffle` column is the term that scales with data; `skew` is the term
that scales with key distribution; `spill` is the term that pages to
disk when either outgrows executor memory. A plan is "the one you'd
want" when the top stage is the irreducible work of the operator
(e.g. the posting-list join of a dedup, not a recomputed projection).
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _get(url: str):
    with urllib.request.urlopen(url, timeout=10) as r:
        return json.loads(r.read())


def _fmt_bytes(n: float) -> str:
    for unit in ("B", "KB", "MB", "GB", "TB"):
        if abs(n) < 1024:
            return f"{n:.0f}{unit}"
        n /= 1024
    return f"{n:.0f}PB"


def _codegen_totals(spark) -> tuple[int, float]:
    """JVM-wide (classes compiled, compile ms) so far."""
    jvm = spark._jvm
    metrics = jvm.org.apache.spark.metrics.source.CodegenMetrics
    generator = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    return (
        metrics.METRIC_COMPILATION_TIME().getCount(),
        generator.compileTime() / 1e6,
    )


def profile(name: str, sf_dir: str, warm: bool = True) -> list[dict]:
    from mtg_bulk_database_spark.registry import load_registry
    from mtg_bulk_database_spark.session import get_spark

    spark = get_spark(
        app_name=f"stage-profile-{name}",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # the status REST API rides the UI server (tests disable it
            # for speed; profiling needs it)
            "spark.ui.enabled": "true",
        },
    )
    if spark.sparkContext.uiWebUrl is None:
        raise SystemExit(
            "Spark UI is disabled in this session (an earlier "
            "getOrCreate pinned spark.ui.enabled=false) — run the "
            "profiler as its own process"
        )
    queries, _ = load_registry()
    if name not in queries:
        raise SystemExit(
            f"unknown query {name!r}; registered: {', '.join(sorted(queries))}"
        )
    fn = queries[name]
    sc = spark.sparkContext
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
    if warm:
        fn(spark, sf_dir).count()

    seen = {s["stageId"] for s in _get(f"{base}/stages")}
    classes0, compile_ms0 = _codegen_totals(spark)
    t0 = time.perf_counter()
    fn(spark, sf_dir).count()
    wall = time.perf_counter() - t0
    classes1, compile_ms1 = _codegen_totals(spark)

    stages = [
        s
        for s in _get(f"{base}/stages?status=complete")
        if s["stageId"] not in seen
    ]
    rows = []
    for s in stages:
        sid, att = s["stageId"], s["attemptId"]
        skew = None
        try:
            q = _get(
                f"{base}/stages/{sid}/{att}/taskSummary?quantiles=0.5,1.0"
            )
            med, mx = q["executorRunTime"]
            skew = (mx / med) if med else None
        except Exception:
            pass  # stage evicted from the UI store: skip skew only
        rows.append(
            {
                "stage": sid,
                "name": s.get("name", "")[:60],
                "tasks": s.get("numCompleteTasks", 0),
                "run_ms": s.get("executorRunTime", 0),
                "input": s.get("inputBytes", 0) + s.get("shuffleReadBytes", 0),
                "shuffle_write": s.get("shuffleWriteBytes", 0),
                "spill": s.get("memoryBytesSpilled", 0)
                + s.get("diskBytesSpilled", 0),
                "skew": skew,
            }
        )
    rows.sort(key=lambda r: -r["run_ms"])

    print(f"\n{name} @ {sf_dir}: wall {wall:.2f}s, {len(rows)} stages")
    print(
        f"codegen: {classes1 - classes0} classes compiled, "
        f"{compile_ms1 - compile_ms0:.0f} ms"
    )
    hdr = f"{'stage':>5} {'tasks':>5} {'run':>8} {'in':>8} {'shufW':>8} {'spill':>8} {'skew':>5}  name"
    print(hdr)
    print("-" * len(hdr))
    for r in rows:
        skew = f"{r['skew']:.1f}" if r["skew"] else "-"
        print(
            f"{r['stage']:>5} {r['tasks']:>5} {r['run_ms']/1000:>7.2f}s "
            f"{_fmt_bytes(r['input']):>8} {_fmt_bytes(r['shuffle_write']):>8} "
            f"{_fmt_bytes(r['spill']):>8} {skew:>5}  {r['name']}"
        )
    return rows


if __name__ == "__main__":
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    qname = args[0] if args else "q71_curate_corpus"
    sf = args[1] if len(args) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    profile(qname, sf, warm="--cold" not in sys.argv)
