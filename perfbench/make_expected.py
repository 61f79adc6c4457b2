"""Regenerate ``expected.json``: the row count of every op of every
workload at each scale.

    python3 perfbench/make_expected.py

Counts come from one engine run on the fixed corpora.  Where a query has
a DuckDB twin in the registry, the twin's count over the same parquet
files must agree, or the script fails; card-read counts that follow from
the generated input alone are checked against it the same way.
"""

from __future__ import annotations

import json
import os
import random
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import workloads  # noqa: E402


def _oracle_count(sql: str, sf_dir: str) -> int:
    import duckdb

    con = duckdb.connect()
    for t in os.listdir(sf_dir):
        if t.endswith(".parquet"):
            path = os.path.join(sf_dir, t)
            con.execute(f"CREATE VIEW {t[:-8]} AS SELECT * FROM read_parquet('{path}')")
    return con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0]


def _counts(spark, name: str, scale: str, work: str) -> dict[str, int]:
    from mtg_bulk_database_spark.registry import load_registry

    os.environ["SPARK_GRAFT_ARTIFACT_WAREHOUSE"] = os.path.join(work, "artifacts")
    wl = workloads.make_workload(name, spark, work, scale, seed=0)
    wl.setup()
    counts = {}
    for op in wl.ops(0, random.Random(0)):
        if op.is_write:
            continue
        counts[op.kind], _ = op.action(op.build())
    _, oracle = load_registry()
    if isinstance(wl, workloads.QueryMix):
        for q, n in counts.items():
            if q in oracle and _oracle_count(oracle[q], wl.sf_dir) != n:
                raise SystemExit(f"{name}/{scale}: {q} engine {n} != oracle")
    else:
        valid = [c for c in wl.cards if c["id"] is not None]
        derived = {
            "by_id": 1,
            "with_set_info": len(valid),
            "latest_printing_per_oracle": len({c["oracle_id"] for c in valid}),
            "by_keyword": sum("Flying" in (c["keywords"] or []) for c in valid),
            "cmc_between": sum(2.0 <= c["cmc"] <= 3.0 for c in valid),
        }
        for kind, n in derived.items():
            if counts[kind] != n:
                raise SystemExit(f"{name}/{scale}: {kind} engine {counts[kind]} != input {n}")
    return counts


def main() -> None:
    from mtg_bulk_database_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench-expected", cpus=3, extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    out: dict = {}
    for name in ("cards_upsert", "tpch_analytics", "llm_curation"):
        for scale in sorted(workloads.SCALES):
            with tempfile.TemporaryDirectory() as work:
                out.setdefault(name, {})[scale] = _counts(spark, name, scale, work)
            print(name, scale, out[name][scale], flush=True)
    spark.stop()
    with open(workloads.EXPECTED_PATH, "w", encoding="utf-8") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main()
