"""Per-key last-writer-wins dedup of a change-event batch.

Reference semantics: qwery applies UPSERTs row-at-a-time in stream
order, so the last event (highest offset/ordinal) for a key wins
(app/jvm/core/.../ops/sql/Upsert.scala:14-33 + the per-record offset in
devices/Record.scala:9). Set-oriented restatement: argmax by ordinal
per key.

``lww_dedup`` is a standalone operator (the suite's CDC queries use
it). The keyed writes do not call it: append_changes and merge_changes
resolve the same LWW inside their own bucket shuffle
(lake.merge._winners), so a batch is never shuffled on the key first.

Why ``max_by`` is the one dedup: a hash aggregation with ``max_by``
over a payload struct gets Spark's map-side partial combine, so a
Zipf-hot key (millions of updates for one doc_id in a batch) collapses
to one row per map task before the shuffle — skew is bounded with no
salting (plan-gated in tests/test_plans.py). History: two window
formulations were kept beside it for comparison and then removed, as
neither had a caller outside that comparison. On 8M events with 70% of
the updates on one key, a ``row_number() == 1`` window took 0.86x of
max_by's wall (Spark >= 3.5 plans a partial WindowGroupLimit before the
exchange) and a two-phase salted window 1.41x (BASELINE.md, "Skew
stress").
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

META_COLS = ("ordinal", "op")


def lww_dedup(events: DataFrame, key: str = "doc_id", ordinal: str = "ordinal") -> DataFrame:
    """One winner row per key: the event with the highest ordinal.

    Input: data events only (op in I/U/D; no DDL rows). Output columns:
    (key, op in {'U','D'}, ordinal, <payload>) — I normalizes to 'U'
    because reference UPSERT makes INSERT-on-existing behave as UPDATE.
    """
    pcols = [c for c in events.columns if c != key and c not in META_COLS]
    winner = F.max_by(
        F.struct(F.col("op"), *[F.col(f"`{c}`") for c in pcols]), F.col(ordinal)
    ).alias("w")
    out = events.groupBy(key).agg(winner, F.max(ordinal).alias(ordinal))
    sel = [
        F.col(key),
        F.when(F.col("w.op") == "D", F.lit("D")).otherwise(F.lit("U")).alias("op"),
        F.col(ordinal),
    ] + [F.col(f"w.`{c}`").alias(c) for c in pcols]
    return out.select(*sel)
