"""apply_changes — the per-micro-batch CDC pipeline.

    events (one micro-batch of the binlog/WAL tail)
      ├─ DDL events  → schema evolution on the lake table (ordinal order)
      ├─ validation  → quarantine (never fatal; reference: ROWS_REJECTED)
      └─ write       → per-key last writer wins inside the write's one
                       bucket shuffle: MOR delta append or bucket-pruned
                       COW rewrite, epoch-idempotent
    + one lineage row per epoch (reference: per-run Statistics,
      app/jvm/core/.../sources/Statistics.scala:17-25)

Called either directly (batch replay) or from foreachBatch (streaming).
Exactly-once: the merge commit is epoch-keyed, the lineage/quarantine
writes are epoch-partitioned overwrites — re-delivery of a whole batch
after crash-before-checkpoint converges to the same state.
"""

from __future__ import annotations

import datetime
import json
import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from qwery_spark.cdc.validate import REASON_COL, with_reject_reason
from qwery_spark.lake.merge import MergeStats, append_changes, merge_changes
from qwery_spark.lake.table import LakeTable
from qwery_spark.schema import VOCAB_SIZE


@dataclass
class ApplyResult:
    epoch_id: int | None
    rows_in: int = 0
    rows_rejected: int = 0
    ddl_applied: int = 0
    ordinal_min: int | None = None
    ordinal_max: int | None = None
    wall_ms: int = 0
    merge: MergeStats = field(default_factory=MergeStats)


def apply_ddl(table: LakeTable, spec: dict) -> bool:
    """Apply one DDL change event. Idempotent: re-delivery of an already
    applied DDL (crash between DDL and merge commit) is a silent no-op."""
    action = spec.get("action")
    cur = {f["name"]: f for f in table.snapshot().fields()}
    if action == "add_column":
        if spec["name"] in cur:
            return False
        table.add_column(spec["name"], spec["type"])
        return True
    if action == "rename_column":
        if spec["from"] not in cur:
            return False  # already renamed (or never existed)
        table.rename_column(spec["from"], spec["to"])
        return True
    if action == "widen_type":
        if spec["name"] in cur and cur[spec["name"]]["type"] == spec["type"]:
            return False
        table.widen_type(spec["name"], spec["type"])
        return True
    if action == "drop_column":
        if spec["name"] not in cur:
            return False  # already dropped (re-delivery)
        table.drop_column(spec["name"])
        return True
    raise ValueError(f"unknown DDL action: {spec}")


def apply_changes(
    spark: SparkSession,
    table: LakeTable,
    events: DataFrame,
    epoch_id: int | None = None,
    vocab: int = VOCAB_SIZE,
    quarantine_dir: str | None = None,
    lineage_dir: str | None = None,
    collect_stats: bool = True,
    scan_ddl: bool = True,
    run_id: str | None = None,
) -> ApplyResult:
    """Apply one micro-batch of ordered change events to the table.

    scan_ddl=False skips the DDL-event scan job for streams known to
    carry data-only events (one less fixed-latency job per batch).

    ``run_id`` namespaces the exactly-once token: Structured Streaming
    batch ids restart at 0 for every NEW checkpoint, so two different
    checkpoints feeding one table would false-collide on bare epoch
    ids and silently skip batches. With run_id (derived from the
    checkpoint identity — stable across restarts of the same query),
    the applied-epoch key is 'run:epoch', matching how Iceberg sinks
    stamp (queryId, epochId) into snapshot properties."""
    t0 = time.monotonic()
    res = ApplyResult(epoch_id=epoch_id)
    epoch_key = (
        epoch_id if run_id is None or epoch_id is None else f"{run_id}:{epoch_id}"
    )
    epoch_tag = (
        "batch" if epoch_id is None
        else (f"{run_id}-{epoch_id}" if run_id is not None else str(epoch_id))
    )

    # idempotency fast path: whole batch already committed
    snap = table.snapshot()
    if epoch_key is not None and epoch_key in snap.applied_epochs:
        res.merge = MergeStats(skipped=True, snapshot_version=snap.version,
                               snapshot_id=snap.snapshot_id)
        res.wall_ms = int((time.monotonic() - t0) * 1000)
        return res

    # ---- DDL events: rare; collected to the driver, applied in order ----
    ddl_rows = []
    if scan_ddl and "ddl" in events.columns:
        ddl_rows = (
            events.filter(F.col("op") == "DDL")
            .select("ordinal", "ddl")
            .orderBy("ordinal")
            .collect()
        )
        for r in ddl_rows:
            if r["ddl"] and apply_ddl(table, json.loads(r["ddl"])):
                res.ddl_applied += 1

    # the filter is lazy (fused into the next job) — only the collect
    # above costs a job, so the DDL guard stays on unconditionally
    data = events.filter(F.col("op") != "DDL")
    annotated = with_reject_reason(data, vocab=vocab)

    # batch statistics ride the main job via the Observation API
    # (CollectMetrics node) — NO extra pass over the data. Reference
    # analogue: StatisticsGenerator sampling inside the read loop
    # (core:sources/StatisticsGenerator.scala:12-33), not a second scan.
    obs = None
    if collect_stats:
        from pyspark.sql import Observation

        obs = Observation()
        annotated = annotated.observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.count(REASON_COL).alias("rej"),
            F.min("ordinal").alias("omin"),
            F.max("ordinal").alias("omax"),
        )

    if quarantine_dir is not None:
        rejected = annotated.filter(F.col(REASON_COL).isNotNull()).withColumn(
            "epoch_id", F.lit(epoch_id if epoch_id is not None else -1).cast("bigint")
        )
        # epoch-scoped overwrite => idempotent under re-delivery
        epoch_path = os.path.join(quarantine_dir, f"epoch={epoch_tag}")
        rejected.write.mode("overwrite").parquet(epoch_path)

    # per-source-partition lineage detail (kafka partition ordinals kept
    # by parse_kafka_events as _partition): one small grouped agg, only
    # when lineage is being recorded
    part_details = None
    if lineage_dir is not None and "_partition" in annotated.columns:
        part_details = (
            annotated.groupBy("_partition")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.count(REASON_COL).alias("rej"),
                F.min("ordinal").alias("omin"),
                F.max("ordinal").alias("omax"),
            )
            .collect()
        )

    drop_cols = [REASON_COL] + [
        c for c in ("ddl", "_partition") if c in annotated.columns
    ]
    valid = annotated.filter(F.col(REASON_COL).isNull()).drop(*drop_cols)
    # write-mode dispatch (table property, Iceberg write.merge.mode style):
    # both take the valid raw events and resolve the in-batch LWW in
    # their one bucket shuffle — mor = O(batch) delta append, cow =
    # bucket-pruned rewrite MERGE
    write = append_changes if table.snapshot().write_mode == "mor" else merge_changes
    res.merge = write(
        spark, table, valid, epoch_id=epoch_key, collect_stats=collect_stats
    )

    # read even when the merge was an empty-batch no-op: observed_or
    # falls back to a skinny agg if no action fired the metrics node
    if obs is not None:
        from qwery_spark.lake.merge import observed_or

        vals = observed_or(
            obs,
            annotated,
            [
                F.count(F.lit(1)).alias("n"),
                F.count(REASON_COL).alias("rej"),
                F.min("ordinal").alias("omin"),
                F.max("ordinal").alias("omax"),
            ],
        )
        res.rows_in = int(vals["n"]) + len(ddl_rows)
        res.rows_rejected = int(vals["rej"])
        res.ordinal_min = vals["omin"]
        res.ordinal_max = vals["omax"]

    res.wall_ms = int((time.monotonic() - t0) * 1000)
    if lineage_dir is not None:
        _write_lineage(spark, lineage_dir, res, part_details, epoch_tag)
    return res


def _write_lineage(
    spark: SparkSession, lineage_dir: str, res: ApplyResult, part_details=None,
    epoch_tag: str | None = None,
) -> None:
    from qwery_spark.schema import LINEAGE_SCHEMA

    epoch = int(res.epoch_id if res.epoch_id is not None else -1)
    committed = datetime.datetime.now(datetime.timezone.utc).isoformat()
    if part_details:
        # one row per source partition: offset range + row counts
        # (merge-level counts live on the batch-total row, partition=-1)
        rows = [
            (
                epoch,
                int(p["_partition"]) if p["_partition"] is not None else -1,
                p["omin"],
                p["omax"],
                int(p["n"]),
                int(p["rej"]),
                0,
                0,
                0,
                res.merge.snapshot_id,
                int(res.wall_ms),
                committed,
            )
            for p in part_details
        ]
    else:
        rows = []
    rows.append(
        (
            epoch,
            -1,
            res.ordinal_min,
            res.ordinal_max,
            int(res.rows_in),
            int(res.rows_rejected),
            int(res.merge.rows_upserted),
            int(res.merge.rows_deleted),
            int(res.ddl_applied),
            res.merge.snapshot_id,
            int(res.wall_ms),
            committed,
        )
    )
    df = spark.createDataFrame(rows, LINEAGE_SCHEMA)
    tag = epoch_tag if epoch_tag is not None else (
        res.epoch_id if res.epoch_id is not None else "batch"
    )
    epoch_path = os.path.join(lineage_dir, f"epoch={tag}")
    df.coalesce(1).write.mode("overwrite").parquet(epoch_path)


def read_quarantine(spark: SparkSession, quarantine_dir: str) -> DataFrame:
    """All quarantined events with reject_reason + epoch_id — the
    reprocess queue (fix upstream, strip the reason column, re-apply)."""
    df = spark.read.option("basePath", quarantine_dir).parquet(quarantine_dir)
    return df.drop("epoch")


def read_lineage(spark: SparkSession, lineage_dir: str) -> DataFrame:
    # epoch=N dirs are hive-style partitions; drop the inferred dir column
    # (epoch_id is stored inside the rows with a proper type).
    df = spark.read.option("basePath", lineage_dir).parquet(lineage_dir)
    return df.drop("epoch")


def read_lineage_stats(
    spark: SparkSession, lineage_dir: str, total_expected: int | None = None
) -> DataFrame:
    """Per-epoch run statistics derived from the lineage rows — the
    reference's live Statistics feed (records/sec + ETA + pctComplete,
    core:sources/Statistics.scala:17-25), reconstructed after the fact:

      events_per_sec   rows_in / wall seconds, per epoch
      rows_cumulative  running total in commit order
      rate_trend       events_per_sec / trailing-4-epoch mean — a
                       sustained value < 1 flags per-epoch cost growth
      pct_complete /   only with ``total_expected`` (the reference knows
      eta_seconds      the input size up front; a replay caller passes
                       the planned event count): remaining rows over the
                       trailing mean rate.

    Batch-total rows only (partition = -1); tiny input (one row per
    epoch), so the windows here never see real data volume."""
    from pyspark.sql import Window

    lin = read_lineage(spark, lineage_dir).filter(F.col("partition") == -1)
    rate = F.col("rows_in") / F.greatest(F.col("wall_ms"), F.lit(1)) * 1000.0
    w = Window.orderBy("committed_utc", "epoch_id")
    trail = (
        Window.orderBy("committed_utc", "epoch_id").rowsBetween(-3, 0)
    )
    out = lin.select(
        "epoch_id",
        "rows_in",
        "rows_rejected",
        "rows_upserted",
        "rows_deleted",
        "wall_ms",
        "committed_utc",
        F.round(rate, 2).alias("events_per_sec"),
        F.sum("rows_in").over(w).alias("rows_cumulative"),
        # NULL (not a crash) when the trailing mean is 0 — a lineage
        # dir written by a collect_stats=False ingest has rows_in=0
        # and ANSI division would otherwise DIVIDE_BY_ZERO the read
        F.round(
            F.when(F.avg(rate).over(trail) > 0,
                   rate / F.avg(rate).over(trail)),
            4,
        ).alias("rate_trend"),
    )
    if total_expected is not None:
        trailing_rate = F.avg("events_per_sec").over(trail)
        out = out.withColumn(
            "pct_complete",
            F.round(F.col("rows_cumulative") * 100.0 / total_expected, 2),
        ).withColumn(
            "eta_seconds",
            F.round(
                F.greatest(F.lit(total_expected) - F.col("rows_cumulative"), F.lit(0))
                / F.greatest(trailing_rate, F.lit(1e-9)),
                1,
            ),
        )
    return out
