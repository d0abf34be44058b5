"""Cross-engine determinism helpers (SURVEY.md §7.3).

The driver hash-compares our Spark results against DuckDB. Three classes of
nondeterminism have to be engineered away once, here, and reused everywhere:

1. **Float aggregation order.** ``sum(double)`` depends on partial-agg order,
   which differs between Spark's partial/final pipeline and DuckDB. Fix:
   sum *decimals*: the decimal sum is exact and order-independent, then cast
   back to double for a stable output dtype. This is also the right 100-TB
   shape: decimal sums are algebraic, partially aggregatable,
   shuffle-friendly.

   **Scale choice is load-bearing.** Spark casts double→decimal via the
   shortest round-trip representation (BigDecimal.valueOf); DuckDB's behavior
   was probed empirically (2026-08-13): exact-binary expansion at high
   scales, shortest-repr-like at low scales. The engines provably agree for
   the *money class*: values whose true decimal form has <= 6 fractional
   digits and < 15 significant digits (all fixture money columns: prices 2dp,
   discount/tax 2dp, products exactly 6dp). For that class, a DECIMAL(..,6)
   cast recovers the true decimal on both engines. DECIMAL(..,4) does NOT
   (midpoint cases diverge — observed on sf0.001 lineitem), and high-scale
   casts of arbitrary reals do not either. Hence: **always scale 6, only on
   money-class values.**

2. **Binary float → text.** Default double→string differs between engines,
   and printf `%.kf` differs too when the value's true decimal form ends
   exactly on a k-dp midpoint (Java rounds the shortest repr HALF_UP, C
   rounds the exact binary — caught by tests/test_canonical_fuzz.py on
   2.000050). Canonical serialization therefore routes doubles through
   DECIMAL(28,6) and prints the fixed-scale decimal: both engines recover
   the identical decimal for money-class values, and decimal→string is
   trailing-zero-stable on both.

3. **Timestamps.** Fixtures mix ms (orders/lineitem) and ns (events)
   precision; Spark and DuckDB both truncate ns→µs for positive epochs, so
   raw values align — but canonical *hashes* still format timestamps to
   second precision text to be immune to future precision drift.

4. **Signed zero (r15 audit; note corrected r16).** Spark's ``round()``
   goes through BigDecimal, which has no -0: a tiny negative (-1e-30) or
   a -0.0 input both round to +0.0. DuckDB's ROUND keeps the sign for any
   DOUBLE-typed argument — ``ROUND(-1e-30::DOUBLE, 6)`` AND
   ``ROUND(-0.0::DOUBLE, 6)`` both return -0.0 (probed r16; only a bare
   DECIMAL literal ``ROUND(-0.0, 6)`` normalizes, because the DECIMAL
   type itself has no signed zero) — and the strict value compare
   distinguishes '0.0' from '-0.0'. Rule: every oracle ``ROUND(x, k)``
   whose DOUBLE argument can be ≤ -0.0 — i.e. can be negative OR exactly
   -0.0, not merely "tiny negative" — must append ``+ 0.0`` (identity for
   all non-zero doubles; normalizes -0.0). Decimal-routed
   money serializations are immune (DECIMAL has no signed zero). The
   sibling fold rule: DuckDB ``list_reduce`` is seedless (folds from the
   first ELEMENT), so any sum-fold twin of a Spark ``F.aggregate`` with a
   0.0 initial value must prepend the same seed
   (``list_reduce(list_prepend(0.0, ...))``, see plans/llm.py duck_dot) —
   an all-(-0.0)-element list otherwise sums to -0.0 on DuckDB only.

Spark-side helpers return Columns; each has a DuckDB-SQL twin so the hash
recipe has a single source of truth. Kinds: 'int', 'double', 'string', 'ts'.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Unit separator / null sentinel for canonical row serialization.
SEP = "␟"
NULL = "␀"


# ---------------------------------------------------------------------------
# exact money aggregation
# ---------------------------------------------------------------------------

MONEY_SCALE = 6


def money_sum(col: str | Column, alias: str) -> Column:
    """Order-independent double sum: exact decimal sum, surfaced as double."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(f"decimal(18,{MONEY_SCALE})")).cast("double").alias(alias)


def money_sum_sql(expr: str, alias: str) -> str:
    """DuckDB twin of :func:`money_sum`."""
    return f"CAST(SUM(CAST({expr} AS DECIMAL(18,{MONEY_SCALE}))) AS DOUBLE) AS {alias}"


def money_avg(col: str | Column, alias: str) -> Column:
    """Order-independent mean: exact decimal sum divided by count, in doubles.

    Plain ``/`` adjudicated safe (r13 division audit): COUNT(c) == 0 happens
    only when every value is NULL, in which case SUM is NULL and Spark's
    Divide returns NULL without evaluating the zero check (verified on
    Spark 4.1 ANSI: NULL/0 → NULL, matching DuckDB). A non-NULL numerator
    always comes with COUNT >= 1, so the ANSI abort is unreachable."""
    c = F.col(col) if isinstance(col, str) else col
    total = F.sum(c.cast(f"decimal(18,{MONEY_SCALE})")).cast("double")
    return (total / F.count(c)).alias(alias)


def money_avg_sql(expr: str, alias: str) -> str:
    return (
        f"CAST(SUM(CAST({expr} AS DECIMAL(18,{MONEY_SCALE}))) AS DOUBLE)"
        f" / COUNT({expr}) AS {alias}"
    )


def dround(col: str | Column, k: int = 2) -> Column:
    """Deterministic cross-engine rounding for MONEY-CLASS doubles only
    (true value <= 6 fractional digits): route through DECIMAL(28,6) — both
    engines recover the identical true decimal — then round in exact decimal
    arithmetic (ties away from zero on both engines, verified), then back to
    double. Do NOT use on arbitrary reals (ratios, cosines): plain
    ``F.round`` is correct there (no decimal-grid midpoints to disagree on).
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c.cast(f"decimal(28,{MONEY_SCALE})"), k).cast("double")


def dround_sql(expr: str, k: int = 2) -> str:
    return f"CAST(ROUND(CAST({expr} AS DECIMAL(28,{MONEY_SCALE})), {k}) AS DOUBLE)"


# ---------------------------------------------------------------------------
# canonical row serialization + hashing
# ---------------------------------------------------------------------------

def canonical_value(c: Column, kind: str) -> Column:
    """The canonical text of one value of ``kind``, NULL for NULL: ints and
    strings as themselves, doubles as DECIMAL(28,6) text (hazard #2 above;
    ``+ 0.0`` folds -0.0 into 0.0) and timestamps at second precision
    (hazard #3). Row hashes serialize each column through it, and
    ``ReconPair.cell_diff`` reports cells in it."""
    if kind in ("int", "string"):
        return c.cast("string")
    if kind == "double":
        return (c.cast("double") + 0.0).cast(f"decimal(28,{MONEY_SCALE})").cast("string")
    if kind == "ts":
        return F.date_format(c, "yyyy-MM-dd HH:mm:ss")
    raise ValueError(f"unknown canonical kind {kind!r}")


def _canon_col(name: str, kind: str) -> Column:
    return F.coalesce(canonical_value(F.col(name), kind), F.lit(NULL))


def _canon_sql(name: str, kind: str) -> str:
    if kind == "int":
        s = f"CAST({name} AS VARCHAR)"
    elif kind == "double":
        s = f"CAST(CAST(CAST({name} AS DOUBLE) + 0.0 AS DECIMAL(28,{MONEY_SCALE})) AS VARCHAR)"
    elif kind == "ts":
        s = f"strftime({name}, '%Y-%m-%d %H:%M:%S')"
    elif kind == "string":
        s = name
    else:
        raise ValueError(f"unknown canonical kind {kind!r}")
    return f"COALESCE({s}, '{NULL}')"


def canonical_row_text(cols: list[tuple[str, str]]) -> Column:
    """The canonical serialization STRING of ``cols`` (the pre-md5 input of
    :func:`canonical_row_hash`). Unlike the hash it is order-comparable, so
    it serves as a deterministic ELECTION key over a key's copies. Distinct
    canonical payloads serialize differently EXCEPT under separator/sentinel
    injection: free-form string columns containing the SEP ('␟') or NULL
    sentinel ('␀') characters can make two distinct payloads tie (e.g.
    ('S', '␀␟') vs ('S␟␀', '')), leaving the election pick engine-dependent
    — the same injection class already accepted for the md5 fingerprint
    path (module docstring), absent from the canonical-unit fixtures, and
    escapable per-column upstream if a corpus ever carries those glyphs.
    Payloads emitted in canonical units make any residual non-injected tie
    (e.g. sub-1e-6 double twins sharing a decimal(28,6) text)
    value-invisible. ADVICE r16 closure."""
    parts: list[Column] = []
    for name, kind in cols:
        parts.append(_canon_col(name, kind))
    return F.concat_ws(SEP, *parts)


def canonical_row_text_sql(cols: list[tuple[str, str]]) -> str:
    """DuckDB twin of :func:`canonical_row_text`."""
    parts = ", ".join(_canon_sql(name, kind) for name, kind in cols)
    return f"concat_ws('{SEP}', {parts})"


def canonical_row_hash(cols: list[tuple[str, str]]) -> Column:
    """md5 over the canonical serialization of ``cols`` — the reconciliation
    row-fingerprint primitive. md5 is the one hash Spark and DuckDB share."""
    return F.md5(canonical_row_text(cols))


def canonical_row_hash_sql(cols: list[tuple[str, str]]) -> str:
    """DuckDB twin of :func:`canonical_row_hash`."""
    return f"md5({canonical_row_text_sql(cols)})"


def ts_str(col: str | Column, alias: str | None = None) -> Column:
    """Timestamp → canonical text (second precision); safe to hash."""
    c = F.col(col) if isinstance(col, str) else col
    out = F.date_format(c, "yyyy-MM-dd HH:mm:ss")
    return out.alias(alias) if alias else out


def ts_str_sql(expr: str) -> str:
    return f"strftime({expr}, '%Y-%m-%d %H:%M:%S')"
