"""One workload in one fresh engine session; started by ``run.py``.

Set-up (session, inputs, initial load or artifact prebuild, warm-up
passes) is timed as ``setup_s``.  Then timed passes run until
``--seconds`` have passed and the scale's minimum count is reached; each
pass runs every op kind of the workload once, in an order drawn from
``--seed``.  Every op runs under its own Spark job group, split into a
``build`` part (the DataFrame is constructed; eager jobs fire here) and
an ``action`` part.

With ``--trace 1`` the event log is on, and timed passes alternate
between untraced and traced pairs; traced passes also read per-op layer
counters.  The per-layer record is written to ``results/``, and
``trace.overhead_s`` compares the two kinds of pass from the same run.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path[:0] = [REPO, HERE]

import telemetry  # noqa: E402

CPUS = 3  # one core of four stays free for the driver, py4j and the OS
PASSES = {  # scale → (warm-up passes, minimum timed passes untraced, traced)
    "bench": (1, 3, 4),
    "tiny": (0, 1, 2),
}
MAX_PASSES = 40

#: unit of every metric a run prints (end-to-end, then per-layer)
UNITS = {
    "setup_s": "s",
    "pass_s": "s",
    "op_gmean_s": "s",
    "cpu_s": "s",
    "ops_ok_ratio": "ratio",
    "session.start_s": "s",
    "registry.build_s": "s",
    "registry.eager_jobs": "count",
    "spark.action_s": "s",
    "proc.driver_cpu_s": "s",
    "proc.jvm_cpu_s": "s",
    "proc.jit_cpu_s": "s",
    "proc.python_worker_cpu_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_skew": "ratio",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "executor.run_s": "s",
    "executor.cpu_s": "s",
    "executor.gc_s": "s",
    "shuffle.read_bytes": "bytes",
    "shuffle.write_bytes": "bytes",
    "shuffle.spill_bytes": "bytes",
    "scan.input_records": "count",
    "scan.rows_per_result_row": "ratio",
    "ingest.rows_in": "count",
    "ingest.rows_no_id": "count",
    "ingest.rows_bad_layout": "count",
    "ingest.bytes_written": "bytes",
    "ingest.files_written": "count",
    "ingest.partitions_rewritten": "count",
    "sink.write_s": "s",
    "query.read_s": "s",
    "sink.table_bytes_per_input_byte": "ratio",
    "storage.persisted_mb": "MB",
    "proc.peak_rss_mb": "MB",
    "trace.overhead_s": "s",
}


def run_op(spark, op, group: str, traced: bool, tree, workload) -> dict:
    sc = spark.sparkContext
    rec = {"kind": op.kind, "traced": traced, "ok": False}
    before = workload.listing() if traced and op.is_write else None
    cpu0 = tree.cpu()
    try:
        sc.setJobGroup(group + ":build", op.kind)
        t0 = time.perf_counter()
        built = op.build()
        t1 = time.perf_counter()
        sc.setJobGroup(group + ":action", op.kind)
        rows, jdf = op.action(built)
        t2 = time.perf_counter()
    except Exception as exc:  # one failed op counts against ops_ok_ratio
        rec["error"] = f"{op.kind}: {type(exc).__name__}: {exc}"[:400]
        traceback.print_exc()
        return rec
    finally:
        cpu1 = tree.cpu()
        sc.setJobGroup("perfbench:check", "check")
    rec.update(build_s=t1 - t0, action_s=t2 - t1, total_s=t2 - t0, rows=rows)
    rec["cpu"] = {k: cpu1[k] - cpu0[k] for k in cpu0}
    if traced:
        rec["eager_jobs"] = len(sc.statusTracker().getJobIdsForGroup(group + ":build"))
        phases = telemetry.catalyst_phases_ms(jdf) if jdf is not None else {}
        if jdf is not None:  # analysis of the returned DataFrame ran inside build
            built_phases = telemetry.catalyst_phases_ms(built._jdf)
            phases["analysis"] = phases.get("analysis", 0.0) + built_phases.get("analysis", 0.0)
        rec["phases"] = phases
        if op.is_write:
            rec["ingest"] = _ingest_counters(op, before, workload.listing())
    try:
        err = op.check(rows)
    except Exception as exc:
        err = f"{op.kind}: check raised {type(exc).__name__}: {exc}"[:400]
    if err:
        rec["error"] = err
    rec["ok"] = err is None
    return rec


def _ingest_counters(op, before: dict, after: dict) -> dict:
    obs = op.observation.get
    new = {p: b for p, b in after.items() if p not in before}
    touched = {p.split(os.sep)[0] for p in set(new) | (set(before) - set(after))}
    return {
        "rows_in": obs["rows_in"],
        "rows_no_id": obs["rows_no_id"],
        "rows_bad_layout": obs["rows_bad_layout"],
        "bytes_written": sum(new.values()),
        "files_written": len(new),
        "partitions_rewritten": len(touched),
    }


def run_pass(spark, workload, pass_idx: int, rng, traced: bool, tree) -> list[dict]:
    ops = workload.ops(pass_idx, rng)
    rng.shuffle(ops)
    recs = []
    for op in ops:
        rec = run_op(spark, op, f"pb:{pass_idx}:{op.kind}", traced, tree, workload)
        rec["pass"] = pass_idx
        recs.append(rec)
    return recs


def _canary_s(spark) -> float:
    """bench.py's host-speed probe shape (md5 over a synthetic range plus
    a 1024-key shuffle), scaled to 1M rows; median of three."""
    from pyspark.sql import functions as F

    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        (
            spark.range(0, 1_000_000, 1, 6)
            .select((F.col("id") % 1024).alias("k"), F.md5(F.col("id").cast("string")).alias("h"))
            .groupBy("k")
            .agg(F.min("h").alias("mh"))
            .agg(F.count("*").alias("c"), F.min("mh").alias("m"))
            .collect()
        )
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def kind_medians(recs: list[dict], key) -> dict[str, float]:
    by_kind: dict[str, list[float]] = {}
    for r in recs:
        if r["ok"]:
            by_kind.setdefault(r["kind"], []).append(key(r))
    return {k: statistics.median(v) for k, v in by_kind.items()}


def end_to_end(recs: list[dict], setup_s: float, attempted: int, failed: int) -> dict:
    med = kind_medians(recs, lambda r: r["total_s"])
    per_pass_cpu: dict[int, float] = {}
    for r in recs:
        if "cpu" in r:
            per_pass_cpu[r["pass"]] = per_pass_cpu.get(r["pass"], 0.0) + telemetry.cpu_work(r["cpu"])
    return {
        "setup_s": setup_s,
        "pass_s": sum(med.values()),
        "op_gmean_s": math.exp(statistics.fmean(math.log(v) for v in med.values())),
        "cpu_s": statistics.median(per_pass_cpu.values()),
        "ops_ok_ratio": (attempted - failed) / attempted,
    }


LAYER_SUMS = {  # per-layer metric → per-op value (summed over op kinds)
    "registry.build_s": lambda r, g: r["build_s"],
    "registry.eager_jobs": lambda r, g: r["eager_jobs"],
    "spark.action_s": lambda r, g: r["action_s"],
    "proc.driver_cpu_s": lambda r, g: r["cpu"]["driver"],
    "proc.jvm_cpu_s": lambda r, g: r["cpu"]["jvm"],
    "proc.jit_cpu_s": lambda r, g: r["cpu"]["jit"],
    "proc.python_worker_cpu_s": lambda r, g: r["cpu"]["python_worker"],
    "spark.jobs": lambda r, g: g.get("jobs", 0.0),
    "spark.stages": lambda r, g: g.get("stages", 0.0),
    "spark.tasks": lambda r, g: g.get("tasks", 0.0),
    "catalyst.analysis_ms": lambda r, g: r["phases"].get("analysis", 0.0),
    "catalyst.optimization_ms": lambda r, g: r["phases"].get("optimization", 0.0),
    "catalyst.planning_ms": lambda r, g: r["phases"].get("planning", 0.0),
    "executor.run_s": lambda r, g: g.get("run_s", 0.0),
    "executor.cpu_s": lambda r, g: g.get("cpu_s", 0.0),
    "executor.gc_s": lambda r, g: g.get("gc_s", 0.0),
    "shuffle.read_bytes": lambda r, g: g.get("shuffle_read_bytes", 0.0),
    "shuffle.write_bytes": lambda r, g: g.get("shuffle_write_bytes", 0.0),
    "shuffle.spill_bytes": lambda r, g: g.get("spill_bytes", 0.0),
    "scan.input_records": lambda r, g: g.get("input_records", 0.0),
    "scan.result_rows": lambda r, g: r["rows"],
    "ingest.rows_in": lambda r, g: r.get("ingest", {}).get("rows_in", 0),
    "ingest.rows_no_id": lambda r, g: r.get("ingest", {}).get("rows_no_id", 0),
    "ingest.rows_bad_layout": lambda r, g: r.get("ingest", {}).get("rows_bad_layout", 0),
    "ingest.bytes_written": lambda r, g: r.get("ingest", {}).get("bytes_written", 0),
    "ingest.files_written": lambda r, g: r.get("ingest", {}).get("files_written", 0),
    "ingest.partitions_rewritten": lambda r, g: r.get("ingest", {}).get("partitions_rewritten", 0),
}


def _op_groups(events: dict, rec: dict) -> dict:
    """Event-log totals of one op: its build and action job groups."""
    out: dict[str, float] = {}
    prefix = f"pb:{rec['pass']}:{rec['kind']}:"
    for phase in ("build", "action"):
        for k, v in events.get(prefix + phase, {}).items():
            out[k] = max(out.get(k, 1.0), v) if k == "task_skew" else out.get(k, 0.0) + v
    return out


def per_layer(traced: list[dict], untraced: list[dict], events: dict, extra: dict) -> tuple[dict, dict]:
    """(per-op-kind vectors, named per-workload totals)."""
    vectors: dict[str, dict[str, float]] = {}
    for kind in sorted({r["kind"] for r in traced if r["ok"]}):
        recs = [r for r in traced if r["ok"] and r["kind"] == kind]
        groups = [_op_groups(events, r) for r in recs]
        vec = {
            name: statistics.median(fn(r, g) for r, g in zip(recs, groups))
            for name, fn in LAYER_SUMS.items()
        }
        vec["spark.task_skew"] = statistics.median(g.get("task_skew", 1.0) for g in groups)
        vec["op_s"] = statistics.median(r["total_s"] for r in recs)
        vectors[kind] = vec
    totals = {name: sum(v[name] for v in vectors.values()) for name in LAYER_SUMS}
    totals["spark.task_skew"] = statistics.median(v["spark.task_skew"] for v in vectors.values())
    rows = totals.pop("scan.result_rows")
    totals["scan.rows_per_result_row"] = totals["scan.input_records"] / max(rows, 1.0)
    untraced_med = kind_medians(untraced, lambda r: r["total_s"])
    traced_med = {k: v["op_s"] for k, v in vectors.items()}
    totals["trace.overhead_s"] = sum(traced_med.values()) - sum(untraced_med.values())
    writes = [k for k in ("reload", "upsert") if k in untraced_med]
    totals["sink.write_s"] = sum(untraced_med[k] for k in writes)
    totals["query.read_s"] = sum(v for k, v in untraced_med.items() if k not in writes) if writes else 0.0
    totals.update(extra)
    return vectors, totals


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--scale", default="bench", choices=sorted(PASSES))
    ap.add_argument("--work", required=True, help="private run directory")
    ap.add_argument("--spawn-time", type=float, required=True)
    ap.add_argument("--result", required=True)
    args = ap.parse_args()

    from mtg_bulk_database_spark.session import get_spark
    from workloads import make_workload

    trace = bool(args.trace)
    host0 = telemetry.host_sample()
    tree = telemetry.ProcessTree()
    events_dir = os.path.join(args.work, "eventlog")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(args.work, "warehouse"),
    }
    if trace:
        os.makedirs(events_dir)
        conf.update(telemetry.event_log_conf(events_dir))
    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}", cpus=CPUS, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0

    t1 = time.perf_counter()
    workload = make_workload(args.workload, spark, args.work, args.scale, args.seed)
    workload.setup()
    t2 = time.perf_counter()
    rng = random.Random(args.seed)
    warmup, min_untraced, min_traced = PASSES[args.scale]
    min_passes = min_traced if trace else min_untraced
    recs: list[dict] = []
    for p in range(warmup):
        recs += run_pass(spark, workload, p, rng, False, tree)
    persisted = telemetry.persisted_mb(spark)
    setup_s = time.time() - args.spawn_time
    setup_parts = {
        "before_session_s": setup_s - (time.perf_counter() - t0),
        "session_s": session_s,
        "inputs_s": t2 - t1,
        "warmup_s": time.perf_counter() - t2,
    }

    timed: list[dict] = []
    t_timed, p = time.perf_counter(), warmup
    while p - warmup < min_passes or (
        time.perf_counter() - t_timed < args.seconds and p - warmup < MAX_PASSES
    ):
        # untraced, traced, traced, untraced, ...: both kinds sit at the same
        # mean position on the JIT's warming curve
        traced = trace and (p - warmup) % 4 in (1, 2)
        timed += run_pass(spark, workload, p, rng, traced, tree)
        persisted = max(persisted, telemetry.persisted_mb(spark))
        p += 1
    peak_rss = tree.rss_peak_mb()
    canary = _canary_s(spark)
    host = telemetry.host_delta(host0, telemetry.host_sample())
    all_recs = recs + timed
    attempted, failed = len(all_recs), sum(not r["ok"] for r in all_recs)
    untraced = [r for r in timed if not r["traced"]]
    e2e = end_to_end(untraced, setup_s, attempted, failed)
    extra = {
        "session.start_s": session_s,
        "storage.persisted_mb": persisted,
        "proc.peak_rss_mb": peak_rss,
        "sink.table_bytes_per_input_byte": getattr(
            workload, "table_bytes_per_input_byte", lambda: 0.0
        )(),
    }
    gw = spark.sparkContext._gateway
    spark.stop()
    gw.shutdown()
    if getattr(gw, "proc", None) is not None:  # the JVM exits on stdin EOF
        gw.proc.stdin.close()
        gw.proc.wait(timeout=60)

    metrics = e2e
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "scale": args.scale,
        "passes": {"warmup": warmup, "timed": p - warmup},
        "attempted": attempted,
        "failed": failed,
        "errors": [r["error"] for r in all_recs if "error" in r][:10],
        "end_to_end": e2e,
        "setup_parts": setup_parts,
        "op_medians": kind_medians(untraced, lambda r: r["total_s"]),
        "op_seconds": {
            k: [round(r["total_s"], 4) for r in all_recs if r["kind"] == k and r["ok"]]
            for k in sorted({r["kind"] for r in all_recs})
        },
        "host": {**host, "canary_s": canary},
    }
    if trace:
        events = telemetry.parse_event_log(events_dir)
        vectors, totals = per_layer([r for r in timed if r["traced"]], untraced, events, extra)
        metrics = totals
        record["per_layer"] = totals
        trace_path = os.path.join(HERE, "results", f"trace-{args.workload}.json")
        os.makedirs(os.path.dirname(trace_path), exist_ok=True)
        with open(trace_path, "w", encoding="utf-8") as fh:
            json.dump({**record, "per_op_kind": vectors}, fh, indent=1, sort_keys=True)
    os.makedirs(os.path.join(HERE, "results"), exist_ok=True)
    with open(os.path.join(HERE, "results", "runs.jsonl"), "a", encoding="utf-8") as fh:
        fh.write(json.dumps({"utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()), **record}) + "\n")
    with open(args.result, "w", encoding="utf-8") as fh:
        json.dump(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": UNITS[k]} for k, v in metrics.items()},
            },
            fh,
        )
    print(json.dumps(record["host"]), file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.exit(main())
