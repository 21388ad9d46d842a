"""Named-query registry: the SURVEY §2 operator inventory as executable,
oracle-checked queries.

Each query is a (Spark callable, DuckDB oracle SQL) pair. The Spark side is
the engine under test — declarative DataFrame/SQL so Catalyst owns the
physical plan; the oracle side is plain ANSI SQL the driver runs in DuckDB
over the same parquet views. Column names/aliases match on both sides
because the driver's comparator sorts columns by name before hashing.

Queries marked ``headline=True`` are the bench set (run by bench.py at
sf0.1).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def money_cents(col: Column, scale: int = 100) -> Column:
    """Exact scaled-integer conversion of a fixed-decimal money double:
    ``floor(x*scale + 0.5)`` as a LONG.

    Chosen over ``F.round(x).cast("long")`` because Spark's ROUND on a
    double goes through a per-row BigDecimal allocation — a measured
    1.5× slowdown of the whole q01 aggregate at sf0.1 — while floor is
    pure FP inside codegen. Exactness: the input is a fixed-decimal
    value, so ``x*scale`` is within float-epsilon of an integer and the
    ``+0.5`` can never land on a true rounding tie (holds for negative
    values too: floor(n - eps + 0.5) == n)."""
    return F.floor(col * scale + F.lit(0.5))


def exact_avg(
    col: Column, dp_in: int, dp_out: int | None = None, negate: bool = False
) -> Column:
    """Order-independent AVG of a float column, rounded to ``dp_out``.

    ``ROUND(AVG(float), k)`` is shuffle-fetch-order-dependent: double
    partial sums associate differently run to run, and a mean sitting on
    a ``0.5·10^-k`` rounding boundary flips its last digit between
    otherwise-identical runs (observed once in nine rounds, on
    avg_quality). Fix: grid each term at ``dp_in`` decimals via
    ``floor(x·10^dp_in + 0.5)``, accumulate as exact decimal(38,0)
    integers (sum order is irrelevant for integers), and divide the one
    exact sum by the non-null count. When the input is *already* on the
    ``dp_in`` grid (a ``F.round(x, dp_in)`` upstream), this recovers the
    exact grid integer and the result is value-identical to the float
    AVG except in the boundary case this exists to remove; for raw float
    terms it perturbs the mean by ≤ 0.5·10^-dp_in per term, invisible at
    ``dp_out < dp_in`` and applied identically on both engines.

    Null semantics match AVG: nulls drop out of both sum and count.
    """
    scale = float(10**dp_in)
    scaled = F.floor(col * F.lit(scale) + F.lit(0.5)).cast("decimal(38,0)")
    avg = F.sum(scaled).cast("double") / (F.count(col).cast("double") * scale)
    return F.round(-avg if negate else avg, dp_in if dp_out is None else dp_out)


def exact_avg_sql(expr: str, dp_in: int, dp_out: int | None = None) -> str:
    """DuckDB twin of :func:`exact_avg` — same gridding, same exact
    HUGEINT accumulation, same divide — so oracle and engine compute the
    identical deterministic rational before the final ROUND."""
    return (
        f"ROUND(CAST(SUM(CAST(FLOOR(({expr}) * 1e{dp_in} + 0.5) AS HUGEINT)) AS DOUBLE)"
        f" / (COUNT({expr}) * 1e{dp_in}), {dp_in if dp_out is None else dp_out})"
    )


def exact_sum_round(col: Column, dp_in: int = 6, dp_out: int = 2) -> Column:
    """Order-independent ``ROUND(SUM(float), dp_out)`` for NON-NEGATIVE
    fixed-decimal summands, as a double.

    Same exactness contract as the ``CAST(x AS DECIMAL(18,6))``
    accumulation it replaces (the summand is on the ``dp_in`` grid, so
    the floor-form recovers the grid integer exactly — money_cents'
    argument), but the per-row conversion is pure-codegen FP instead of
    a per-row BigDecimal allocation: measured 1.34× on q03 at sf0.1
    (BASELINE.md round-10 A/B; same finding as the round-3 money_cents
    A/B). The final HALF_UP round runs in the exact integer domain
    (``(S + half) div step``), then one int→double divide — no
    double-ROUND anywhere, so no Double.toString vs binary-round
    cross-engine boundary risk. Floor-div equals HALF_UP only for
    ``S >= 0``; negative-capable sums (acctbal) keep the decimal cast.
    """
    if dp_out >= dp_in:
        raise ValueError("exact_sum_round: dp_out must be < dp_in")
    step = 10 ** (dp_in - dp_out)
    # Non-negativity is load-bearing (floor-div == HALF_UP only for
    # S >= 0) — under DUVA_ASSERT_NONNEG=1 the contract is enforced
    # per-row so a future negative-capable call site fails loudly
    # instead of drifting off the DuckDB oracle by a cent (r10 ADVICE).
    # Off by default: assert_true blocks codegen fusion in the hot path.
    import os

    if os.environ.get("DUVA_ASSERT_NONNEG"):
        # Direct conditional shape (r11 ADVICE): the otherwise-branch
        # only evaluates assert_true when the predicate actually fails,
        # so no optimizer rule can constant-fold the assertion away (the
        # previous isnull(assert_true(...)) wrapper relied on Catalyst
        # never simplifying it). Firing is unit-tested in
        # tests/test_llm_ops.py::test_assert_nonneg_guard_fires.
        # No cast on the otherwise branch: assert_true is NullType, which
        # coerces to col's own type, so the guarded column's dtype (and
        # the money-grid math) is identical with the flag on or off.
        col = F.when(col.isNull() | (col >= 0), col).otherwise(
            F.assert_true(
                F.lit(False),
                F.lit("exact_sum_round requires non-negative summands"),
            )
        )
    s = F.sum(money_cents(col, 10**dp_in).cast("decimal(38,0)"))
    return (
        F.floor((s + F.lit(step // 2)) / F.lit(step)).cast("double")
        / F.lit(float(10**dp_out))
    )


@dataclass(frozen=True)
class Query:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # None → driver records weaker rows-only check
    headline: bool = False
    description: str = ""


REGISTRY: dict[str, Query] = {}


def register(name: str, oracle: str | None, headline: bool = False, description: str = ""):
    """Decorator registering fn(spark, sf_dir) -> DataFrame under `name`."""

    def deco(fn):
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name}")
        REGISTRY[name] = Query(name=name, fn=fn, oracle=oracle, headline=headline, description=description)
        return fn

    return deco


def load_all() -> dict[str, Query]:
    """Import every query module (side effect: registration) and return
    the registry."""
    from duva_spark.queries import (  # noqa: F401
        llm_q,
        pipeline_q,
        relational,
        shaping_q,
        streaming_q,
        warehouse_q,
    )

    return REGISTRY
