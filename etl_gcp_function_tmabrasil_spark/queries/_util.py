r"""Shared helpers for oracle-parity-safe query construction.

Cross-engine determinism rules (SURVEY.md §7.3 "oracle parity details"):

- **Double sums** are order-dependent in floating point; Spark's partial
  aggregation and DuckDB's sequential scan sum in different orders. We cast
  each addend to a fixed-scale DECIMAL first (exact, associative), sum
  exactly, then cast the final value back to DOUBLE. The double→decimal
  rounding step is itself deterministic across engines: decimal midpoints
  at scale ≥ 1 are not exactly representable in binary, so HALF_UP vs
  HALF_EVEN never disagree on real data.
- **Averages** are computed as exact-decimal-sum / count in double — one
  deterministic division.
- **Timestamps** are rendered to strings (``yyyy-MM-dd [HH:mm:ss]``) with
  the session pinned to UTC, matching DuckDB's naive timestamps.
- **Top-k** always carries a unique tiebreaker key in the ORDER BY.
- **NULL placement in window orderings**: Spark's bare ASC is NULLS
  FIRST, DuckDB's default is NULLS LAST (DESC agrees: NULLS LAST in
  both). Any window ORDER BY over a nullable column must pin the
  placement explicitly on BOTH sides (`asc_nulls_first()` /
  `ORDER BY c NULLS FIRST`), as scd2_user_history does — fixtures are
  currently NULL-free, so an unpinned site is latent, not green.
- **Whitespace regex**: never `\s` — use WS_CLASS below (Java \s
  matches U+000B, RE2's does not).
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

from etl_gcp_function_tmabrasil_spark.catalog import load_table  # noqa: F401  (re-export)
from etl_gcp_function_tmabrasil_spark.operators.reuse import (  # noqa: F401  (re-export)
    managed_persist,
)

#: Whitespace-run regex pinned EXPLICITLY for cross-engine parity:
#: Java's \s matches U+000B (vertical tab) but DuckDB's RE2 \s does
#: not, so any \s-based normalization would fingerprint a \x0B-bearing
#: document differently in the two engines. Use this literal in BOTH
#: the Spark expression and the oracle SQL.
WS_CLASS = r"[ \t\n\r\f\x0B]+"


def dsum(col: Column | str, scale: int = 4, precision: int = 18) -> Column:
    """Deterministic double sum: exact decimal accumulate, double out.
    Raise `precision` when the addends are products of wide columns
    (e.g. the moment sums Σx², Σxy use decimal(28,8))."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(f"decimal({precision},{scale})")).cast("double")


def davg(col: Column | str, scale: int = 4) -> Column:
    """Deterministic double average: exact decimal sum / count."""
    c = F.col(col) if isinstance(col, str) else col
    return dsum(c, scale) / F.count(F.lit(1))


def csum(col: Column | str, scale: int = 2) -> Column:
    """Exact sum for doubles that are fixed-point with ≤`scale` decimal
    digits (all driver money/ratio columns: quantity, prices, discount,
    tax, value — verified within 1e-9 of exact cents). Scales to integer
    "cents", sums as primitive longs (whole-stage-codegen fast path — no
    per-row BigDecimal conversion, ~3× faster than :func:`dsum`), then
    divides back. The result is the correctly-rounded double of S/10^scale,
    which is bit-identical to dsum's decimal-sum-then-cast, so the DuckDB
    oracle keeps the readable DECIMAL formulation.

    Validity condition: the TRUE value must be fixed-point with ≤`scale`
    decimals, and the double's error must be far below half a step at
    that scale, so round() recovers the exact integer. This also covers
    derived products of fixed-point columns at the summed scale (2-dec
    price × 2-dec rate = exact 4-dec; error ~1e-7 of a step) — but NOT
    arbitrary derived doubles (log, division): those need :func:`dsum`.
    Overflow bound: the long accumulator holds ~9.2e18 scaled units —
    ~10^17 currency units at scale 2, fine through ~300 TB of TPC-H-scale
    money data; at scale 6 the bound tightens 10^4×. Beyond it, dsum.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(F.round(c * (10**scale)).cast("long")) / float(10**scale)


def cavg(col: Column | str, scale: int = 2) -> Column:
    """Exact-fixed-point average twin of :func:`davg` (see csum)."""
    return csum(col, scale) / F.count(F.lit(1))


def day(col: Column | str) -> Column:
    """Render a timestamp column as a 'yyyy-MM-dd' string (UTC session)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.date_format(c, "yyyy-MM-dd")


def second(col: Column | str) -> Column:
    """Render a timestamp column as 'yyyy-MM-dd HH:mm:ss' string."""
    c = F.col(col) if isinstance(col, str) else col
    return F.date_format(c, "yyyy-MM-dd HH:mm:ss")


from etl_gcp_function_tmabrasil_spark.functions.text import hash60  # noqa: F401  (re-export)


#: DuckDB twin of :func:`hash60` — format with the input SQL expression.
SQL_HASH60 = "(('0x' || substr(md5({expr}), 1, 15))::BIGINT)"

#: Spark-SQL-string form of :func:`hash60`, for contexts where a Column
#: can't go (inside `transform`/`aggregate` lambdas, F.expr filters).
#: MUST stay byte-equivalent to hash60 and SQL_HASH60 — every salted
#: sampling / sketch stream depends on the three producing one value.
SPARK_HASH60 = "cast(conv(substring(md5({expr}),1,15),16,10) as bigint)"

# DuckDB-side equivalents, for use inside oracle SQL strings.
SQL_DSUM = "CAST(SUM(CAST({expr} AS DECIMAL(18,{scale}))) AS DOUBLE)"
SQL_DAY = "strftime({col}, '%Y-%m-%d')"
SQL_SECOND = "strftime({col}, '%Y-%m-%d %H:%M:%S')"


def ensure_fixture(root: str, build) -> None:
    """Build a multi-step per-process fixture ATOMICALLY: ``build(tmp)``
    populates a temp sibling dir which is then os.rename'd into place,
    so the ``isdir`` regeneration guard can only ever observe a
    COMPLETE fixture. A guard satisfied by the first of several writes
    would let a crash mid-build leave a partial fixture that every
    later invocation in the process silently reuses (ADVICE r5). Shared
    by the sources/sinks gate fixtures, the dead-letter ETL bucket, and
    the streaming gates' chunk fixtures and result snapshots — one
    protocol, not hand-rolled copies."""
    import os
    import shutil

    if os.path.isdir(root):
        return
    tmp = root + ".tmp"
    if os.path.isdir(tmp):
        shutil.rmtree(tmp)
    build(tmp)
    os.rename(tmp, root)
