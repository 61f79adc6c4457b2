"""The driver records only a bounded tail of bench.py's output and
parses the LAST line as JSON — r3's full-name keys overflowed that
window and BENCH_r03 recorded `parsed: null`.  Pin the two properties
that keep the contract safe as the headline set grows."""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE  # noqa: E402


def _projected_line(extra_queries: int = 0, slow_entries: int = 0) -> str:
    q = {n.split("_", 1)[0]: 99.99 for n in HEADLINE}
    # a query past 100 s prints one char wider ('"q123":999.99,')
    for k in list(q)[:slow_entries]:
        q[k] = 999.99
    # hypothetical future additions, worst-width keys ('"q999":99.99,')
    for i in range(extra_queries):
        q[f"x{900 + i}"] = 99.99
    return json.dumps(
        {
            "metric": "headline_queries_total",
            "value": 9999.9999,
            "unit": "sec",
            "queries": q,
            "sf": 0.1,
            "ingest_sec": 9999.99,
            "canary_sec": 99.99,
        },
        separators=(",", ":"),
    )


def test_bench_json_line_stays_parseable():
    # Headroom (r8): per-query stdout values are 2-decimal (each entry
    # ~13 chars, '"q123":99.99,'), so the 1600-char cap holds to ~119
    # entries; BENCH_LOCAL.json keeps full precision.  bench.py
    # enforces the same cap at runtime — if the per-query map would
    # overflow it, the map is dropped from stdout (total stays) and
    # BENCH_LOCAL.json keeps the full per-query timings; the assert
    # here is the early warning.
    line = _projected_line()
    assert len(line) < 1600, (
        f"bench JSON line would be {len(line)} chars — shrink keys or "
        "trim the headline set before it outgrows the driver's tail"
    )


def test_bench_json_line_has_next_round_headroom():
    # VERDICT r9 #7: fail BEFORE the driver truncates — eviction
    # decisions belong in review, not after a lost tail.  r12: the
    # allowance drops from +10 to +4 worst-width entries so that ALL
    # SIX r11 trims fit back on the driver line (VERDICT r11 item 1:
    # n_dropped_from_bench must return to 0) with the emitted format
    # left byte-identical (same metric string, same 2-decimal
    # timings — round-over-round comparability beats a synthetic
    # growth allowance).  +10 was one BUILD round's typical growth;
    # the build phase is over (r12 is the final optimization round),
    # so +4 keeps the early-warning margin without forcing coverage
    # loss: 111 entries all-99.99 worst-case is 1537 chars, +4×13 =
    # 1589 < 1600, and the real 2-decimal line is ~1410.  Three entries
    # are projected at 3-digit seconds (999.99, one char wider each):
    # the margin must also survive a few queries crossing 100 s.
    line = _projected_line(extra_queries=4, slow_entries=3)
    assert len(line) < 1600, (
        f"bench JSON line would be {len(line)} chars with +4 queries "
        f"and 3 at >=100 s ({len(_projected_line())} today) — shrink "
        "the payload "
        "(shorter metric string / fewer decimals) before trimming "
        "HEADLINE coverage; see bench.py notes"
    )


def test_bench_short_keys_unique():
    short = [n.split("_", 1)[0] for n in HEADLINE]
    assert len(set(short)) == len(short), "qNN key collision in HEADLINE"


def test_bench_headline_names_all_registered():
    from mtg_bulk_database_spark.registry import load_registry

    queries, _ = load_registry()
    missing = [n for n in HEADLINE if n not in queries]
    assert not missing, f"HEADLINE names not in registry: {missing}"
