"""Structured Streaming wrapper: WAL-tail -> foreachBatch(apply_changes).

Reference analogue: qwery's Kafka tail + offset seek/replay
(app/jvm/core/.../devices/KafkaInputDevice.scala:49-73 — buffered poll
with per-record offsets, seek/rewind/fastForward) and the continuous
ingestion daemon (etl:events/KafkaMessageStream.scala:25-38). Here the
ordered event log is any Structured-Streaming source; the sandbox uses
the file source over chunked parquet (one file per micro-batch, lexical
name order == ordinal order). On a real cluster the same code points at
``format("kafka")`` with ``startingOffsets`` — nothing downstream of
``readStream`` changes.

Exactly-once contract (two independent layers):
  1. Spark's checkpoint replays an uncommitted micro-batch after a
     crash (at-least-once delivery into foreachBatch).
  2. apply_changes' epoch-keyed lake commit turns the replay into a
     no-op (idempotent sink) -> end-to-end exactly-once.

Resume: restart with the same checkpointLocation; Spark skips batches
whose offsets are committed and continues the epoch counter.

``run_stream`` is the one micro-batch loop: the library call, the
tests, the benchmark and the spark-submit job (``jobs/run_ingest.py``)
all drive it. Write-audit-publish decisions go out through this
module's logger as ``{"wap": …}`` JSON lines as each batch decides.
"""

from __future__ import annotations

import json
import logging
import os
import time
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from qwery_spark.cdc.apply import ApplyResult, apply_changes
from qwery_spark.lake.maintenance import CompactionPolicy, maybe_compact
from qwery_spark.lake.table import LakeTable
from qwery_spark.schema import EVENT_SCHEMA


# Kafka's per-partition offset sentinels (startingOffsets JSON contract)
OFFSET_EARLIEST = -2
OFFSET_LATEST = -1

# StreamRun keeps only the last RUN_HISTORY entries of its per-epoch
# lists: a --continuous run never ends, and each ApplyResult holds its
# commit summary (up to n_buckets touched buckets). The lineage dir is
# the complete per-epoch record.
RUN_HISTORY = 100

log = logging.getLogger(__name__)


def offsets_json(topic: str, partition_offsets: dict[int, int]) -> str:
    """Build a Kafka ``startingOffsets`` JSON for random access by
    (offset, partition) — the reference's seek(offset, partition)
    surface (core:devices/KafkaInputDevice.scala:29-31)."""
    return json.dumps({topic: {str(p): int(o) for p, o in partition_offsets.items()}})


def rewind(topic: str, partitions: list[int]) -> str:
    """Seek every partition to the beginning — the reference's
    ``rewind`` / seekToBeginning (core:devices/KafkaInputDevice.scala:67-69)."""
    return offsets_json(topic, {p: OFFSET_EARLIEST for p in partitions})


def fast_forward(topic: str, partitions: list[int]) -> str:
    """Seek every partition to the end — the reference's
    ``fastForward`` / seekToEnd (core:devices/KafkaInputDevice.scala:71-73)."""
    return offsets_json(topic, {p: OFFSET_LATEST for p in partitions})


def resume_ordinal(spark: SparkSession, lineage_dir: str) -> int | None:
    """'Replay from where the last run stopped': next unprocessed
    ordinal from the lineage table (max committed ordinal_max + 1), or
    None when no lineage exists yet."""
    from pyspark.sql import functions as F

    try:
        lin = spark.read.parquet(lineage_dir)
    except Exception:
        return None
    row = lin.agg(F.max("ordinal_max").alias("m")).collect()[0]
    return None if row["m"] is None else int(row["m"]) + 1


def starting_offsets_from_lineage(
    spark: SparkSession, lineage_dir: str, topic: str,
    n_partitions: int | None = None,
) -> str | None:
    """Kafka resume helper: per-partition startingOffsets JSON built from
    the lineage table's committed per-partition ordinal ranges (valid
    when ordinal is the kafka offset — parse_kafka_events' fallback).

    Spark's kafka source REQUIRES specific-offset JSON to cover every
    topic partition: pass ``n_partitions`` (the topic's partition count)
    and partitions absent from lineage are filled with -2 (earliest).
    Without ``n_partitions`` the JSON covers only lineage-seen
    partitions — valid only when that IS the full set."""
    from pyspark.sql import functions as F

    try:
        lin = spark.read.parquet(lineage_dir)
    except Exception:
        return None
    rows = (
        lin.filter(F.col("partition") >= 0)
        .groupBy("partition")
        .agg(F.max("ordinal_max").alias("m"))
        .collect()
    )
    if not rows:
        return None
    offsets = {int(r["partition"]): int(r["m"]) + 1 for r in rows}
    if n_partitions is not None:
        for p in range(n_partitions):
            offsets.setdefault(p, OFFSET_EARLIEST)
    return offsets_json(topic, offsets)


def stream_events(
    spark: SparkSession,
    events_dir: str,
    max_files_per_trigger: int = 1,
    source_format: str = "parquet",
    kafka_options: dict | None = None,
    starting_offsets: str | None = None,
    min_ordinal: int | None = None,
) -> DataFrame:
    """An unbounded DataFrame of change events.

    file mode: chunk files named so lexical order == ordinal order
    (datagen.write_event_chunks); latestFirst stays False so delivery
    respects the WAL order batch-to-batch. ``min_ordinal`` is the
    file-source seek: replay from WAL position X (kafka analogue:
    ``starting_offsets``).
    kafka mode (cluster): value parsed elsewhere; needs kafka jars.
    ``starting_offsets`` accepts 'earliest' | 'latest' | a per-partition
    JSON from offsets_json/rewind/fast_forward/
    starting_offsets_from_lineage (reference seek surface:
    core:devices/KafkaInputDevice.scala:29-31,67-73).
    """
    if source_format == "kafka":
        reader = spark.readStream.format("kafka")
        for k, v in (kafka_options or {}).items():
            reader = reader.option(k, v)
        if starting_offsets is not None:
            reader = reader.option("startingOffsets", starting_offsets)
        return reader.load()
    df = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(events_dir)
    )
    if min_ordinal is not None:
        from pyspark.sql import functions as F

        df = df.filter(F.col("ordinal") >= min_ordinal)
    return df


def parse_kafka_events(df: DataFrame) -> DataFrame:
    """Decode a kafka-source frame (key/value/topic/partition/offset) into
    the change-event schema. Events are JSON in the record value; a
    missing ordinal falls back to the kafka offset — the reference's
    Record(data, offset, partition) carried exactly this
    (core:devices/Record.scala:9, KafkaInputDevice.scala:61-63)."""
    from pyspark.sql import functions as F

    parsed = df.select(
        F.from_json(F.col("value").cast("string"), EVENT_SCHEMA).alias("e"),
        F.col("partition").alias("_kafka_partition"),
        F.col("offset").alias("_kafka_offset"),
    )
    return parsed.select(
        F.coalesce(F.col("e.ordinal"), F.col("_kafka_offset")).alias("ordinal"),
        F.col("e.op").alias("op"),
        F.col("e.doc_id").alias("doc_id"),
        F.col("e.tokens").alias("tokens"),
        F.col("e.n_tok").alias("n_tok"),
        F.col("e.source").alias("source"),
        F.col("e.ddl").alias("ddl"),
        # kept for per-partition lineage rows (apply_changes groups the
        # batch stats by this when present)
        F.col("_kafka_partition").cast("int").alias("_partition"),
    )


def run_id_for_checkpoint(checkpoint_dir: str) -> str:
    """Exactly-once token namespace: batch ids restart at 0 for every
    NEW checkpoint, so the applied-epoch key carries the QUERY identity.

    Source of truth is the streaming query id Spark persists in
    ``<checkpoint>/metadata`` at query start: stable across restarts of
    the same checkpoint (crash re-delivery still no-ops) and RE-MINTED
    when a checkpoint is wiped and recreated at the same path — a path
    hash would collide there and silently skip the new run's batches.
    Iceberg sinks stamp (queryId, epochId) the same way. Falls back to
    a path hash only when no metadata exists yet (the file cannot be
    missing inside foreachBatch: Spark writes it before batch 0)."""
    import hashlib

    try:
        with open(os.path.join(checkpoint_dir, "metadata")) as fh:
            return str(json.load(fh)["id"])[:8]
    except Exception:
        return hashlib.md5(os.path.abspath(checkpoint_dir).encode()).hexdigest()[:8]


def _record(entries: list, entry) -> None:
    """Append ``entry`` and trim ``entries`` in place to its last
    RUN_HISTORY items (in place, not a deque: readers iterate these
    lists while the batch thread appends)."""
    entries.append(entry)
    if len(entries) > RUN_HISTORY:
        del entries[:-RUN_HISTORY]


def _decide(wap_log: list, epoch_id: int, published: bool, violations: int,
            skipped: bool) -> None:
    w = {"epoch_id": epoch_id, "published": published,
         "violations": violations, "skipped": skipped}
    log.info(json.dumps({"wap": w}))
    _record(wap_log, w)


def _wap_batch(
    spark,
    table: LakeTable,
    apply_fn,
    audit_sql: str,
    run_id: str,
    epoch_id: int,
    df: DataFrame,
    rejected_dir: str | None,
    wap_log: list,
    max_restages: int = 3,
):
    """One write-audit-publish cycle (see run_stream docstring). The
    branch name is (run, epoch)-scoped so a crashed attempt's stale
    stage is recognized and rebuilt, never half-trusted."""
    from qwery_spark.lake.table import CommitConflict

    bname = f"wap_{run_id}_{epoch_id}"
    for _ in range(max_restages):
        try:
            br = table.create_branch(bname)
        except FileExistsError:
            # stale stage from a crashed or conflicted attempt: nothing
            # on it was published (publish removes the ref), so rebuild
            table.drop_branch(bname)
            br = table.create_branch(bname)
        res = apply_fn(br)
        if res.merge.skipped:
            # epoch already published by a previous attempt (or arrived
            # twice): the empty stage is dropped, main untouched
            table.drop_branch(bname)
            _decide(wap_log, epoch_id, True, 0, True)
            return res
        br.read(spark).createOrReplaceTempView("staged")
        # the WINDOW's net diff (insert/update_postimage/delete rows vs
        # the fork) — audits over rates/deltas query this instead of the
        # full state; lazy, so an audit that ignores it pays nothing
        from qwery_spark.lake.changes import read_changes

        read_changes(
            spark, br, br._fork_version(), granular=False
        ).createOrReplaceTempView("staged_changes")
        violations = spark.sql(audit_sql).count()
        if violations:
            if rejected_dir is not None:
                # window-level dead letter: the raw events, epoch-scoped
                # overwrite (idempotent under re-delivery)
                df.write.mode("overwrite").parquet(
                    os.path.join(rejected_dir, f"epoch={run_id}-{epoch_id}")
                )
            table.drop_branch(bname)
            _decide(wap_log, epoch_id, False, violations, False)
            return res
        try:
            table.publish_branch(bname)
        except CommitConflict:
            # a maintenance daemon committed between fork and publish:
            # the stage was computed against a head that moved — rebuild
            # it against the new head and re-audit
            table.drop_branch(bname)
            continue
        _decide(wap_log, epoch_id, True, 0, False)
        return res
    raise CommitConflict(
        f"WAP epoch {epoch_id}: lost the publish race {max_restages} times"
    )


@dataclass
class StreamRun:
    query: StreamingQuery
    results: list[ApplyResult] = field(default_factory=list)
    maintenance: list = field(default_factory=list)  # MaintenanceReport ticks
    wap: list = field(default_factory=list)  # per-epoch audit decisions


def run_stream(
    spark: SparkSession,
    table: LakeTable,
    events: str | DataFrame,
    checkpoint_dir: str,
    lineage_dir: str | None = None,
    quarantine_dir: str | None = None,
    max_files_per_trigger: int = 1,
    continuous: str | None = None,
    compact_every: int | None = None,
    compaction_policy=None,
    transform_sql: str | None = None,
    min_ordinal: int | None = None,
    expire_keep: int | None = None,
    audit_sql: str | None = None,
    rejected_dir: str | None = None,
) -> StreamRun:
    """Start the CDC ingest stream: each micro-batch of ``events`` goes
    through ``apply_changes`` into ``table`` under an exactly-once
    epoch key namespaced by the checkpoint's query id.

    ``events`` is an events directory (the file-source WAL tail, read
    with ``max_files_per_trigger`` and the ``min_ordinal`` seek) or a
    ready streaming DataFrame in the change-event schema, such as the
    kafka tail from ``parse_kafka_events``, whose ``_partition`` column
    yields per-partition lineage rows.

    ``continuous=None`` drains everything currently available and
    stops (availableNow: the pattern for scheduled/triggered runs —
    reference: ScheduledEvent daily runs,
    etl:events/ScheduledEvent.scala:25-47); an interval string such as
    ``"30 seconds"`` runs until stopped on that processingTime trigger.

    ``transform_sql`` is the qwery-style SELECT-transform stage between
    source and sink (reference: SELECT ... INTO with projections /
    filters / CASE / CAST, SURVEY.md §7.0.3): a SQL statement over the
    view ``events``, compiled by Catalyst per micro-batch BEFORE
    validation + merge. It must preserve the change-event columns it
    doesn't transform (ordinal/op/doc_id at minimum).

    ``audit_sql`` turns every micro-batch into a write-audit-publish
    cycle (Iceberg WAP staging): the batch merges into an isolated
    BRANCH, the audit query runs with the branch's live state
    registered as the view ``staged`` AND the window's net change feed
    as ``staged_changes`` (change_type in insert/update_postimage/
    delete — e.g. a mass-delete guard is
    ``SELECT 1 FROM staged_changes WHERE _change_type='delete'
    HAVING count(*) > N``), and the branch fast-forwards into main
    only when the audit returns ZERO rows (the query selects
    VIOLATIONS — table-level invariants the row-level validator can't
    see: distribution shifts, mass deletes, cross-row duplicates). A
    failing window is dropped wholesale — its files reclaimed, its
    epoch left unapplied so a corrected re-stage can reuse it — and
    its raw events land under ``rejected_dir``/epoch=… when given
    (the window-level dead-letter queue, beside quarantine_dir's
    row-level one). Each decision is logged as a ``{"wap": …}`` JSON
    line on this module's logger and recorded in StreamRun.wap. A
    concurrent maintenance commit between fork and publish triggers a
    re-stage (the branch is recomputed against the new head).

    StreamRun's ``results``, ``wap`` and ``maintenance`` lists keep the
    last RUN_HISTORY epochs only; the lineage dir is the full record."""
    if isinstance(events, str):
        events = stream_events(
            spark, events, max_files_per_trigger, min_ordinal=min_ordinal
        )
    run = StreamRun(query=None)  # populated below
    # resolved lazily INSIDE the first batch: the checkpoint's metadata
    # (and thus the query id) exists only once the query has started
    _rid: dict = {}

    def _batch(df: DataFrame, epoch_id: int) -> None:
        if "v" not in _rid:
            _rid["v"] = run_id_for_checkpoint(checkpoint_dir)
        run_id = _rid["v"]
        if transform_sql is not None:
            # foreachBatch hands us a micro-batch-scoped session clone;
            # the view must be registered AND resolved on that clone
            df.createOrReplaceTempView("events")
            df = df.sparkSession.sql(transform_sql)

        def _apply(target) -> ApplyResult:
            return apply_changes(
                spark,
                target,
                df,
                epoch_id=epoch_id,
                quarantine_dir=quarantine_dir,
                lineage_dir=lineage_dir,
                run_id=run_id,
            )

        if audit_sql is None:
            res = _apply(table)
        else:
            res = _wap_batch(
                spark, table, _apply, audit_sql, run_id, epoch_id,
                df, rejected_dir, run.wap,
            )
        _record(run.results, res)
        # state-driven maintenance: compact when the manifest says a
        # bucket's file count crossed the read-amplification bound —
        # skew-aware (hot buckets compact early, cold ones never), the
        # preferred mode over the fixed cadence below
        if compaction_policy is not None and not res.merge.skipped:
            _record(run.maintenance, maybe_compact(spark, table, compaction_policy))
        # periodic MOR compaction keeps the delta-file count (and thus
        # read-side resolution cost) bounded during long tails
        if (
            compact_every
            and not res.merge.skipped
            and epoch_id > 0
            and epoch_id % compact_every == 0
        ):
            from qwery_spark.lake.merge import compact

            compact(spark, table)
            # maintenance rides compaction: bound the commit-log length
            # and reclaim files the expired log no longer references —
            # 10^10-event runs keep a FLAT metadata + orphan footprint
            # (single-writer stream, so expiry/vacuum cannot race a
            # reader pinned to an expired snapshot)
            if expire_keep:
                table.expire_snapshots(keep_last=expire_keep)
                # grace 0 is safe HERE: this loop is the table's only
                # writer, so no staged-but-uncommitted files can exist
                table.vacuum(grace_sec=0)

    writer = events.writeStream.foreachBatch(_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if continuous is None:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=continuous)
    run.query = writer.start()
    return run


def write_events_kafka(
    df: DataFrame,
    bootstrap_servers: str,
    topic: str,
    checkpoint_dir: str | None = None,
    streaming: bool = False,
):
    """KafkaOutputDevice parity (core:devices/KafkaOutputDevice.scala:
    138-155): publish change events to a topic — key = doc_id (keeps a
    key's events in one partition => per-key order preserved, the LWW
    precondition), value = the event as JSON. Jar-gated in this sandbox;
    on a cluster add the spark-sql-kafka package.

    streaming=False writes a batch DataFrame; True starts a writeStream
    (checkpoint_dir required)."""
    from pyspark.sql import functions as F

    payload = df.select(
        F.col("doc_id").cast("string").alias("key"),
        F.to_json(F.struct(*[F.col(c) for c in df.columns])).alias("value"),
    )
    if streaming:
        if not checkpoint_dir:
            raise ValueError("streaming kafka sink needs checkpoint_dir")
        return (
            payload.writeStream.format("kafka")
            .option("kafka.bootstrap.servers", bootstrap_servers)
            .option("topic", topic)
            .option("checkpointLocation", checkpoint_dir)
            .start()
        )
    (
        payload.write.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("topic", topic)
        .save()
    )


def follow_changes(
    spark: SparkSession,
    table,
    sink_fn,
    start_version: int | None = None,
    poll_sec: float = 5.0,
    max_polls: int | None = None,
    granular: bool = True,
    window: int | None = None,
    sleep=time.sleep,
    on_advance=None,
) -> int:
    """CDC-out daemon: tail a lake table's commit log and hand each new
    change window to ``sink_fn(feed_df, from_version, to_version)`` —
    the downstream half of the pipeline (feed a search index, a replica
    via lake.changes.replicate, a kafka topic via write_events_kafka).

    Polls ``current_version()`` (one tiny JSON stat per poll — the
    manifest dir IS the notification channel, like Iceberg's snapshot
    polling); between sink calls nothing is scanned. The sink sees each
    commit window exactly once in order; if it throws, the loop exits
    without advancing, so a restarted follower resumes from the same
    version (at-least-once into an idempotent sink = exactly-once, the
    same contract as the ingest side). ``max_polls`` bounds the loop
    (tests / drain-then-exit); None runs until killed.

    Resume point: the return value only surfaces on a bounded drain —
    a daemon (max_polls=None) never returns, and a throwing sink
    propagates before any return. Pass ``on_advance(version)`` to
    persist the resume point durably after EACH successful sink call
    (write it next to the sink's own output); restart with
    start_version = the persisted value."""
    last = table.current_version() if start_version is None else start_version
    polls = 0
    while max_polls is None or polls < max_polls:
        polls += 1
        head = table.current_version()
        if head > last:
            from qwery_spark.lake.changes import read_changes

            sink_fn(
                read_changes(
                    spark, table, last, head, granular=granular, window=window
                ),
                last, head,
            )
            last = head
            if on_advance is not None:
                on_advance(last)
        if max_polls is None or polls < max_polls:
            sleep(poll_sec)
    return last


@dataclass
class Maintainer:
    """One incremental view a follower keeps current off the change
    feed: ``build(at_version)`` materializes it from the source state at
    the resume point, ``update(lo, hi, feed)`` folds the window (lo, hi]
    in from the shared preimage-bearing ``feed``, and ``policy`` is the
    ``CompactionPolicy`` bounding a MOR view's delta files (None for the
    self-compacting COW views).

    Build/crash contract (``build_missing``): a view is built when its
    path is missing OR is an empty v0 shell — a build that crashed
    between table-create and its first commit leaves one, so path
    existence is not a completed-build signal. A completed view
    (version > 0) is never rebuilt: rebuilding it at a later resume
    point would double-apply the windows in between.

    Window-epoch contract (``maintain_window``): every update is keyed
    by its window, so a crashed-and-restarted window re-applies as a
    no-op; updates drop the feed's preimage rows themselves."""

    name: str
    path: str
    build: Callable[[int], object]
    update: Callable[[int, int, DataFrame], object]
    policy: CompactionPolicy | None = None


def build_missing(maintainers: list[Maintainer], at_version: int) -> None:
    """Build, at ``at_version``, every maintainer whose view is missing
    or an empty v0 shell (the Maintainer build/crash contract)."""
    for m in maintainers:
        if not os.path.exists(m.path) or LakeTable(m.path).current_version() == 0:
            m.build(at_version)


def maintain_window(spark: SparkSession, table: LakeTable,
                    maintainers: list[Maintainer], lo: int, hi: int) -> None:
    """Advance every maintainer over the window (lo, hi]: the updates
    share ONE persisted preimage-bearing feed and run in registry order,
    then each view with a policy gets its compaction tick."""
    if not maintainers:
        return
    from qwery_spark.lake.changes import read_changes

    feed = read_changes(
        spark, table, lo, hi, granular=False, include_preimages=True
    ).persist()
    try:
        for m in maintainers:
            m.update(lo, hi, feed)
    finally:
        feed.unpersist()
    for m in maintainers:
        if m.policy is not None:
            maybe_compact(spark, LakeTable(m.path), m.policy)
