"""The three workloads: what each sets up, which ops a pass runs, and how
each op's result is checked.

An op is split at the engine's own boundary: ``build`` constructs the
DataFrame (a registered query function, a ``CardQuery`` method, the
source + transform chain of a write) and ``action`` runs it.  Every
check runs after the op's clock has stopped.
"""

from __future__ import annotations

import json
import os
import random
from collections.abc import Callable
from dataclasses import dataclass
from typing import Any

from pyspark.sql import Observation

from mtg_bulk_database_spark.ingest.sink import merge_upsert
from mtg_bulk_database_spark.ingest.transform import prepare_cards, prepare_sets
from mtg_bulk_database_spark.operators.query import CardQuery
from mtg_bulk_database_spark.registry import load_registry
from mtg_bulk_database_spark.sources.scryfall import read_cards_json, read_sets_dataframe

import corpus

#: the corpora are fixed; ``--seed`` drives op order and write batches
CORPUS_SEED = 20240101

#: bench scale vs. the self-test's tiny scale
SCALES = {
    "bench": {"sf": 0.02, "cards": 5_000},
    "tiny": {"sf": 0.001, "cards": 1_000},
}

TPCH_MIX = (
    "q10_enrichment_join",
    "q12_window_topk",
    "q22_revenue_by_nation",
    "q144_supplier_triangles",
    "q150_market_basket",
    "q176_scale_exact_percentiles",
)
LLM_MIX = (
    "q33_minhash_lsh_pairs",
    "q71_curate_corpus",
    "q104_pq_ann_topk",
    "q132_image_phash_pairs",
    "q234_bpe_encode_frozen",
    "q245_paragraph_dedup",
)
CARD_READS = (
    "by_id",
    "by_oracle_id",
    "by_keyword",
    "name_contains",
    "fulltext_all",
    "cmc_between",
    "with_set_info",
    "latest_printing_per_oracle",
)

EXPECTED_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")


def load_expected(workload: str, scale: str) -> dict[str, int]:
    """Stored row counts; empty while ``make_expected.py`` regenerates them."""
    if not os.path.isfile(EXPECTED_PATH):
        return {}
    with open(EXPECTED_PATH, encoding="utf-8") as fh:
        return json.load(fh).get(workload, {}).get(scale, {})


@dataclass
class Op:
    kind: str
    build: Callable[[], Any]
    #: runs what ``build`` returned; gives (result rows, Dataset for Catalyst)
    action: Callable[[Any], tuple[int, Any]]
    #: returns an error message, or None when the result is right
    check: Callable[[int], str | None]
    is_write: bool = False
    observation: Observation | None = None


def count_rows(df) -> tuple[int, Any]:
    """``df.count()`` spelled out, so the counting Dataset (and with it
    the query's planning tracker) stays reachable."""
    counted = df.groupBy().count()
    return counted.collect()[0][0], counted._jdf


def expect_rows(kind: str, want: int | None) -> Callable[[int], str | None]:
    def check(got: int) -> str | None:
        if want is None:
            return f"{kind}: no expected row count stored"
        return None if got == want else f"{kind}: {got} rows, expected {want}"

    return check


class QueryMix:
    """Registered queries over the generated analytics corpus."""

    def __init__(self, name: str, queries: tuple[str, ...], spark, work: str, scale: str):
        self.name, self.queries, self.spark = name, queries, spark
        self.sf_dir = os.path.join(work, "corpus")
        self.sf = SCALES[scale]["sf"]
        self.expected = load_expected(name, scale)
        self.registry, _ = load_registry()

    def setup(self) -> None:
        corpus.write_corpus(self.sf_dir, self.sf, CORPUS_SEED)
        if self.name == "llm_curation":
            self._prebuild()

    def _prebuild(self) -> None:
        """The ingest-time artifacts this mix reads, built as bench.py
        builds them (shingle postings, PQ codebook, paragraph table)."""
        from mtg_bulk_database_spark.pipeline_queries import shingle_prebuilt_table
        from mtg_bulk_database_spark.pipeline_queries4 import pq_prebuilt_index
        from mtg_bulk_database_spark.pipeline_queries14 import paragraph_prebuilt_table

        spark, d = self.spark, self.sf_dir
        shingle_prebuilt_table(spark, d, "string")
        shingle_prebuilt_table(spark, d, "hashed")
        pq_prebuilt_index(spark, d)
        paragraph_prebuilt_table(spark, d)

    def ops(self, pass_idx: int, rng: random.Random) -> list[Op]:
        return [
            Op(
                kind=q,
                build=lambda q=q: self.registry[q](self.spark, self.sf_dir),
                action=count_rows,
                check=expect_rows(q, self.expected.get(q)),
            )
            for q in self.queries
        ]


class CardsUpsert:
    """The reference importer's job: Scryfall-shaped bulk JSON → transform
    → partition-pruned UPSERT, with reads interleaved between writes."""

    name = "cards_upsert"

    def __init__(self, spark, work: str, scale: str, seed: int):
        from tests.fixtures import make_cards, make_sets  # the repo's seeded fixtures

        self.spark, self.work, self.seed = spark, work, seed
        self.expected = load_expected(self.name, scale)
        self.sets = make_sets()
        self.cards = make_cards(SCALES[scale]["cards"], seed=CORPUS_SEED, sets=self.sets)
        self.lines = [json.dumps(c, separators=(",", ":")) for c in self.cards]
        self.table = os.path.join(work, "cards_table")
        self.bulk = os.path.join(work, "bulk.jsonl")
        self.n_ids = len({c["id"] for c in self.cards if c["id"] is not None})
        self.by_set: dict[str, list[int]] = {}
        for i, c in enumerate(self.cards):
            if c["id"] is not None:
                self.by_set.setdefault(c["set"], []).append(i)
        self.sets_df = None

    # -- inputs -------------------------------------------------------
    def _write_jsonl(self, path: str, rows: list[str]) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            fh.write("\n".join(rows))
            fh.write("\n")

    def _changed(self, i: int, stamp: str) -> str:
        card = dict(self.cards[i])
        card["flavor_text"] = stamp
        card["prices"] = {"usd": f"{len(stamp) % 97}.{i % 100:02d}", "eur": None}
        return json.dumps(card, separators=(",", ":"))

    def table_bytes_per_input_byte(self) -> float:
        return sum(self.listing().values()) / os.path.getsize(self.bulk)

    def setup(self) -> None:
        self._write_jsonl(self.bulk, self.lines)
        fetch = lambda url: {"data": self.sets}  # noqa: E731 - the sets REST source, offline
        self.sets_df = prepare_sets(read_sets_dataframe(self.spark, fetch=fetch)).cache()
        self.sets_df.count()
        raw = read_cards_json(self.spark, self.bulk)
        merge_upsert(self.spark, self.table, prepare_cards(raw), key="id", partition_by="set")

    # -- ops ----------------------------------------------------------
    def _write_op(self, kind: str, path: str, rows: list[str], probe_id: str, stamp: str) -> Op:
        self._write_jsonl(path, rows)
        obs = Observation(f"{kind}_{os.path.basename(path)}")

        def build():
            return prepare_cards(read_cards_json(self.spark, path), observation=obs)

        def action(prepared):
            merge_upsert(self.spark, self.table, prepared, key="id", partition_by="set")
            return len(rows), None

        def check(_rows: int) -> str | None:
            n = self.spark.read.parquet(self.table).count()
            if n != self.n_ids:
                return f"{kind}: table has {n} rows, expected {self.n_ids}"
            got = CardQuery(self.spark.read.parquet(self.table)).by_id(probe_id).collect()
            if len(got) != 1 or got[0]["flavor_text"] != stamp:
                return f"{kind}: read-your-writes failed for {probe_id}"
            return None

        return Op(kind, build, action, check, is_write=True, observation=obs)

    def ops(self, pass_idx: int, rng: random.Random) -> list[Op]:
        stamp = f"seed {self.seed} pass {pass_idx}"
        ops = []
        # reload: the whole bulk file again, 5% of rows changed
        n = len(self.cards)
        changed = sorted(rng.sample(range(n), n // 20))
        lines = list(self.lines)
        for i in changed:
            lines[i] = self._changed(i, stamp + " reload")
        probe = next(self.cards[i]["id"] for i in changed if self.cards[i]["id"])
        ops.append(
            self._write_op(
                "reload", os.path.join(self.work, "reload.jsonl"), lines, probe, stamp + " reload"
            )
        )
        # upsert: a batch of n/25 cards drawn from 2 of the 20 sets
        pool = [i for s in rng.sample(sorted(self.by_set), 2) for i in self.by_set[s]]
        batch = sorted(rng.sample(pool, min(len(pool), n // 25)))
        ops.append(
            self._write_op(
                "upsert",
                os.path.join(self.work, "upsert.jsonl"),
                [self._changed(i, stamp + " upsert") for i in batch],
                self.cards[batch[0]]["id"],
                stamp + " upsert",
            )
        )
        probe_card = self.cards[1]
        args = {
            "by_id": (probe_card["id"],),
            "by_oracle_id": (probe_card["oracle_id"],),
            "by_keyword": ("Flying",),
            "name_contains": ("bolt",),
            "fulltext_all": (["deal", "damage"],),
            "cmc_between": (2.0, 3.0),
            "with_set_info": (),
            "latest_printing_per_oracle": (),
        }
        for kind in CARD_READS:
            ops.append(
                Op(
                    kind=kind,
                    build=lambda k=kind: getattr(
                        CardQuery(self.spark.read.parquet(self.table), self.sets_df), k
                    )(*args[k]),
                    action=count_rows,
                    check=expect_rows(kind, self.expected.get(kind)),
                )
            )
        return ops

    def listing(self) -> dict[str, int]:
        """Parquet files of the table (relative path → bytes)."""
        out = {}
        for root, _dirs, files in os.walk(self.table):
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(root, f)
                    out[os.path.relpath(p, self.table)] = os.path.getsize(p)
        return out


def make_workload(name: str, spark, work: str, scale: str, seed: int):
    if name == "cards_upsert":
        return CardsUpsert(spark, work, scale, seed)
    if name == "tpch_analytics":
        return QueryMix(name, TPCH_MIX, spark, work, scale)
    if name == "llm_curation":
        return QueryMix(name, LLM_MIX, spark, work, scale)
    raise ValueError(f"unknown workload {name!r}")
