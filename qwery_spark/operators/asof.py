"""As-of join — an operator Spark lacks natively (SURVEY.md §2.3: the
reference has only inner join; as-of is the standard time-series
enrichment the training-data world needs for event/state alignment).

``asof_join`` is a pure-DataFrame union+window formulation: tag both
sides, sort by (key, time, side) with a single window pass carrying the
last-seen right payload forward. ONE shuffle on the key, no join
explosion, whole-stage codegen. Scales like any window: per-key data
must fit a task's sort spill budget (fine for time-series keys;
pathological single-key streams would salt by time range first).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    time_col: str,
    right_payload: list[str] | None = None,
) -> DataFrame:
    """For each left row, attach the latest right row with
    right.time <= left.time (backward as-of), matching on ``key``.
    Right payload columns come back null when no prior right row exists.
    A right row at exactly left.time matches (right sorts first on the
    tie via the side marker)."""
    right_payload = right_payload or [
        c for c in right.columns if c not in (key, time_col)
    ]
    lcols = [c for c in left.columns if c not in (key, time_col)]

    l_tagged = left.select(
        F.col(key), F.col(time_col), F.lit(1).alias("_side"),
        *[F.col(f"`{c}`") for c in lcols],
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"_r_{c}") for c in right_payload],
    )
    r_tagged = right.select(
        F.col(key), F.col(time_col), F.lit(0).alias("_side"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in lcols],
        *[F.col(f"`{c}`").alias(f"_r_{c}") for c in right_payload],
    )
    unioned = l_tagged.unionByName(r_tagged)
    w = (
        Window.partitionBy(key)
        .orderBy(F.col(time_col).asc(), F.col("_side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = unioned.select(
        key,
        time_col,
        "_side",
        *lcols,
        *[
            F.last(f"_r_{c}", ignorenulls=True).over(w).alias(f"right_{c}")
            for c in right_payload
        ],
    )
    return carried.filter(F.col("_side") == 1).drop("_side")
