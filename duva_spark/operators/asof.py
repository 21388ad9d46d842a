"""Distributed as-of join (Spark has no native one).

Union-sort-fill pattern: tag both sides, union, hash-partition by the
join key, sort by (time, side) within each key, carry the right side's
payload forward with last(..., ignoreNulls). One shuffle total, linear
in |L|+|R| — unlike a range-join formulation, which degenerates to
O(|L|·|R|) per hot key. Right rows sort before left rows at equal
timestamps, giving inclusive (ts_left >= ts_right) as-of semantics,
matching DuckDB's ASOF JOIN. Right rows that tie on (key, time) are
ordered by their payload, so the match does not depend on the shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    ts: str,
    payload_cols: list[str] | None = None,
    direction: str = "backward",
) -> DataFrame:
    """For each left row, attach the most recent right row at or before
    its timestamp (direction='backward'; 'forward' = next at-or-after).

    Right-side payload columns come back prefixed ``asof_``. Left rows
    with no match keep nulls (left-outer semantics).
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"unsupported direction: {direction}")
    payload_cols = payload_cols or [c for c in right.columns if c not in (on, ts)]

    l_tag = left.select(
        F.col(on),
        F.col(ts).alias("_ts"),
        F.lit(1).alias("_side"),
        F.struct(*[F.col(c) for c in left.columns]).alias("_lrow"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"_r_{c}") for c in payload_cols],
    )
    r_tag = right.select(
        F.col(on),
        F.col(ts).alias("_ts"),
        F.lit(0).alias("_side"),
        F.lit(None).cast(l_tag.schema["_lrow"].dataType).alias("_lrow"),
        *[F.col(c).alias(f"_r_{c}") for c in payload_cols],
    )
    ties = [F.asc(f"_r_{c}") for c in payload_cols]
    if direction == "backward":
        w = (
            W.partitionBy(on)
            .orderBy(F.asc("_ts"), F.asc("_side"), *ties)
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        )
        fill = F.last
    else:
        w = (
            W.partitionBy(on)
            .orderBy(F.asc("_ts"), F.desc("_side"), *ties)
            .rowsBetween(W.currentRow, W.unboundedFollowing)
        )
        fill = F.first
    filled = l_tag.unionByName(r_tag).select(
        "*",
        *[
            fill(f"_r_{c}", ignorenulls=True).over(w).alias(f"asof_{c}")
            for c in payload_cols
        ],
    )
    out_cols = [F.col(f"_lrow.{c}").alias(c) for c in left.columns] + [
        F.col(f"asof_{c}") for c in payload_cols
    ]
    return filled.filter(F.col("_side") == 1).select(*out_cols)
