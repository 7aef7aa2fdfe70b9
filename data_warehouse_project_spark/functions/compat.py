"""Cross-engine deterministic aggregation & rounding helpers.

Two hazards make naive float aggregates non-reproducible across (and
even within) engines:

1. FP SUM is order-dependent, and Spark's partial-aggregation order is
   partition- and run-dependent — `SUM(double)` isn't even stable
   between two Spark runs, let alone hash-comparable against a DuckDB
   oracle (SURVEY.md §7.4.4).
2. `ROUND(double, n)` and `CAST(double AS DECIMAL)` tie-break
   differently per engine (Spark routes through Java's shortest
   `Double.toString` + HALF_UP; DuckDB rounds the exact binary value,
   half-even) — values sitting on a .5 decimal boundary diverge.

Policy — stay in pure IEEE-754 ops, which are bit-identical on
identical inputs in every engine:

- quantize each per-row term with ``floor(x * 10^g + 0.5)`` → exact
  integer (our monetary/metric columns have ≤ g decimal digits, so
  this is lossless recovery of the true decimal value),
- SUM as 64-bit integers — exact, associative, order-independent,
- produce the output with single IEEE ops (one divide, one floor):
  deterministic because both engines now hold identical operands.

``fround`` replaces every `ROUND(double, n)` in oracle-checked output
columns with the same floor-based half-up rounding on both sides.

Range notes: guard-scaled longs stay well inside int64 at bench scale
(1e5-magnitude money × 1e4 guard × 1e9 rows ≈ 1e18); a 100 TB
deployment would widen the guard sum to DECIMAL(38,0) — same policy,
bigger accumulator.

Residual risk — transcendentals: the "bit-identical" guarantee above
covers pure IEEE ops (+ - * / floor) on identical operands only.
log/log2/exp/pow are correctly-rounded in NEITHER engine's libm
contract, so a term like -log2(p) (llm/textstats.doc_lm_cross_entropy)
may differ by 1 ulp between JVM and DuckDB; quantizing such a term via
floor(x*1e6+0.5) flips the integer only when x sits within that ulp of
a .5/1e6 boundary — never observed across six rounds of driver+local
parity, and since round 7 actively evidenced:
tests/test_quantization_margin.py recomputes every quantized log term
in the registry (doc_lm_cross_entropy, dsir_importance_weights,
doc_zipf_fit, source_length_kl) on the real fixture counts and
asserts each clears its floor-flip boundary by >64 ulps — orders of
magnitude beyond any cross-libm divergence. If that test ever fails
after a testdata regeneration, or a driver mismatch appears on a
transcendental-fed query, widen that query's quantization guard (drop
to 1e4) or switch its oracle to a tolerance compare rather than
touching this module's exact-integer policy.

Output dtype convention — day/date columns: emit them as
day-truncated TIMESTAMP, never Spark DateType. Value-hash harnesses
(the driver's and tests/oracle_utils.py) normalize pandas Timestamps
but a Spark DateType column collects as python ``datetime.date``,
which slips through normalization and hash-mismatches the DuckDB
side even when the values agree (bitten once in round 7:
orders_revenue_cusum). Pattern:
``F.col(ts).cast("date").cast("timestamp")`` ↔ SQL
``CAST(CAST(x AS DATE) AS TIMESTAMP)``.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

#: guard scale for money terms: 4 decimal digits below cents
GUARD = 4


def _scaled(term: Column, guard: int) -> Column:
    """floor(term * 10^guard + 0.5) as long — exact decimal recovery."""
    return F.floor(term * F.lit(float(10 ** guard)) + F.lit(0.5)).cast("long")


def fround(col: Column, scale: int) -> Column:
    """Deterministic half-up rounding of a double: floor(x*s + .5)/s.

    Both engines compute the identical IEEE result for identical
    inputs — unlike builtin ROUND, which tie-breaks engine-specifically.
    """
    s = float(10 ** scale)
    return (F.floor(col * F.lit(s) + F.lit(0.5)).cast("double") / F.lit(s))


def sql_fround(expr: str, scale: int) -> str:
    s = float(10 ** scale)
    return f"(FLOOR(({expr}) * {s} + 0.5) / {s})"


def dsum_shift(total: Column) -> Column:
    """dsum's final shift: an exact sum of ``GUARD``-scaled longs,
    rounded half-up to 2 decimals with one floor and one divide.
    Maintainers that carry the integer sum in state apply it at serve
    time."""
    down = 10 ** (GUARD - 2)
    out = F.floor((total + F.lit(down // 2)) / F.lit(float(down)))
    return out.cast("double") / F.lit(100.0)


def dsum(term: Column) -> Column:
    """Order-independent SUM rounded half-up to 2 decimals."""
    return dsum_shift(F.sum(_scaled(term, GUARD)))


def sql_dsum(term_sql: str) -> str:
    g = float(10 ** GUARD)
    down = 10 ** (GUARD - 2)
    return (
        f"(FLOOR((CAST(SUM(CAST(FLOOR(({term_sql}) * {g} + 0.5) AS BIGINT)) "
        f"AS BIGINT) + {down // 2}) / {float(down)}) / 100.0)"
    )


def dsum_over(term: Column, window) -> Column:
    """Windowed variant of dsum."""
    return dsum_shift(F.sum(_scaled(term, GUARD)).over(window))


def sql_dsum_over(term_sql: str, over_sql: str) -> str:
    g = float(10 ** GUARD)
    down = 10 ** (GUARD - 2)
    return (
        f"(FLOOR((CAST(SUM(CAST(FLOOR(({term_sql}) * {g} + 0.5) AS BIGINT)) "
        f"OVER {over_sql} AS BIGINT) + {down // 2}) / {float(down)}) "
        "/ 100.0)"
    )


def davg(term: Column) -> Column:
    """Order-independent AVG: exact integer sum, one IEEE divide,
    floor-rounded to 6 decimals."""
    mean = (F.sum(_scaled(term, GUARD)).cast("double")
            / (F.lit(float(10 ** GUARD)) * F.count(term)))
    return fround(mean, 6)


def sql_davg(term_sql: str) -> str:
    g = float(10 ** GUARD)
    mean = (
        f"(CAST(SUM(CAST(FLOOR(({term_sql}) * {g} + 0.5) AS BIGINT)) AS DOUBLE)"
        f" / ({g} * COUNT({term_sql})))"
    )
    return sql_fround(mean, 6)
