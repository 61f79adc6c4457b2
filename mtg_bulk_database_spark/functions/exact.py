"""Engine-exact numeric helpers shared by the oracle builders and the
Spark bodies (a LEAF module: query modules import it without circular
edges)."""

from __future__ import annotations

from pyspark.sql import functions as F


def _dsum(col, alias):
    """Order-independent SUM of a double expression (via exact decimal)."""
    return F.sum(col.cast("decimal(18,6)")).cast("double").alias(alias)


def _sql_dsum(expr, alias):
    return f"CAST(SUM(CAST({expr} AS DECIMAL(18,6))) AS DOUBLE) AS {alias}"


def micro_ratio_sql(num: str, den: str, div: str) -> str:
    """Overflow-safe ``floor(num * 10^6 / den)`` for non-negative
    BIGINTs: the naive ``num * 1000000`` overflows int64 once num
    reaches ~9.2e12 (a single multi-trillion-token source at the
    100 TB operating point — the same defect class as q242's int32
    overflow, one width up; caught by the r9 review).  Split the
    multiplier: with num = q*den + r and r*1000 = q1*den + r1,
    floor(num*1e6/den) = q*1e6 + q1*1000 + floor(r1*1000/den).  ``div``
    is the engine's integer-division operator ('//' DuckDB, 'DIV'
    Spark).

    Domain (pinned by tests/test_exact_fns.py): operands are
    BIGINT-TYPED expressions (columns, or literals explicitly CAST —
    DuckDB types a bare sub-2^31 literal INT32, and the internal
    ``q * 1000000`` then overflows INT32 for quotients >= 2148; found
    by the hypothesis sweep), non-negative, den <= 9.2e15 (so r*1000
    fits int64) AND the RESULT
    floor(num*1e6/den) <= 9.2e18 (q*1e6 is an int64 multiply — a
    num/den ratio past ~9.2e12 overflows even though num and den each
    fit; at the call sites the ratio is an epoch/fraction count, far
    below it).  NEGATIVE numerators do NOT diverge between engines
    (both integer divisions truncate toward zero — DuckDB ``//``
    floors only for floats) but they silently break the FLOOR
    contract: truncation ≠ floor on inexact negative quotients, and
    DuckDB's INT32 literal typing can overflow where Spark computes.
    Offset-shift first (the ``(s + n*K) DIV n - K`` trick) if an
    operand can be negative."""
    q = f"({num} {div} {den})"
    r = f"({num} % {den})"
    q1 = f"(({r} * 1000) {div} {den})"
    r1 = f"(({r} * 1000) % {den})"
    return f"({q} * 1000000 + {q1} * 1000 + ({r1} * 1000) {div} {den})"


def guarded_micro_ratio_sql(num: str, den: str, div: str) -> str:
    """:func:`micro_ratio_sql` guarded for a possibly-zero
    denominator (0 instead of a division error)."""
    return (
        f"CASE WHEN {den} > 0 THEN "
        + micro_ratio_sql(num, den, div)
        + " ELSE 0 END"
    )
