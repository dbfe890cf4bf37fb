"""Streaming ingest: checkpoint resume, crash-replay idempotency,
end-state equality vs the oracle."""

import os

import pytest

from qwery_spark.cdc.apply import apply_changes, read_lineage
from qwery_spark.datagen import make_events, write_event_chunks
from qwery_spark.lake.table import LakeTable
from qwery_spark.schema import EVENT_SCHEMA, TARGET_SCHEMA
from qwery_spark.streaming import run_stream

from tests.helpers import assert_state_equals_oracle


def _setup(tmp_table_dir, n_events=4000, n_chunks=8, seed=17):
    events = make_events(n_events, seed=seed)
    ev_dir = os.path.join(tmp_table_dir, "events")
    paths = write_event_chunks(events, ev_dir, n_chunks)
    tbl = LakeTable.create(os.path.join(tmp_table_dir, "tbl"), TARGET_SCHEMA, n_buckets=8)
    return events, ev_dir, paths, tbl


def test_stream_drain_matches_oracle(spark, tmp_table_dir):
    events, ev_dir, paths, tbl = _setup(tmp_table_dir)
    ckpt = os.path.join(tmp_table_dir, "ckpt")
    run = run_stream(spark, tbl, ev_dir, ckpt, max_files_per_trigger=2,
                     lineage_dir=os.path.join(tmp_table_dir, "lineage"))
    run.query.awaitTermination(300)
    assert len(run.results) >= 4  # 8 files / 2 per trigger
    assert_state_equals_oracle(spark, tbl, events.to_pandas())
    lin = read_lineage(spark, os.path.join(tmp_table_dir, "lineage")).orderBy("epoch_id").collect()
    assert sum(r["rows_in"] for r in lin) == events.num_rows


def test_stream_resume_from_checkpoint(spark, tmp_table_dir):
    """Stop after the first half of the log, restart with the same
    checkpoint, deliver the rest: epochs continue, no re-application,
    final state equals the full-log oracle."""
    events = make_events(4000, seed=19)
    ev_dir = os.path.join(tmp_table_dir, "events")
    tbl = LakeTable.create(os.path.join(tmp_table_dir, "tbl"), TARGET_SCHEMA, n_buckets=8)
    ckpt = os.path.join(tmp_table_dir, "ckpt")

    # phase 1: only the first 4 chunks exist
    first, second = events.slice(0, 2000), events.slice(2000, 2000)
    write_event_chunks(first, ev_dir, 4)
    run1 = run_stream(spark, tbl, ev_dir, ckpt)
    run1.query.awaitTermination(300)
    v_mid = tbl.snapshot().version
    epochs_mid = tbl.snapshot().applied_epochs

    # phase 2: rest of the log arrives; restart from the same checkpoint
    import pyarrow.parquet as pq
    for i in range(4):
        pq.write_table(second.slice(i * 500, 500), os.path.join(ev_dir, f"chunk-1{i:04d}.parquet"))
    run2 = run_stream(spark, tbl, ev_dir, ckpt)
    run2.query.awaitTermination(300)

    assert tbl.snapshot().version > v_mid
    # epochs continued (no overlap reuse collapsed the counter)
    assert epochs_mid < tbl.snapshot().applied_epochs
    assert_state_equals_oracle(spark, tbl, events.to_pandas())


def test_crash_after_commit_before_checkpoint(spark, tmp_table_dir):
    """REAL crash surgery: run batch 0, then delete the checkpoint's
    commit marker for it (the lake commit happened, Spark's checkpoint
    commit did not — exactly the crash window). On restart Spark
    re-delivers batch 0; the run-scoped epoch key must no-op it and the
    final state stays correct."""
    import shutil

    events = make_events(2000, seed=23)
    ev_dir = os.path.join(tmp_table_dir, "events")
    first, rest = events.slice(0, 500), events.slice(500, 1500)
    write_event_chunks(first, ev_dir, 1)
    tbl = LakeTable.create(os.path.join(tmp_table_dir, "tbl"), TARGET_SCHEMA, n_buckets=8)
    ckpt = os.path.join(tmp_table_dir, "ckpt")

    run1 = run_stream(spark, tbl, ev_dir, ckpt)
    run1.query.awaitTermination(300)
    assert sum(r.rows_in for r in run1.results) == 500
    v_after = tbl.snapshot().version

    # crash window: lake committed batch 0, Spark checkpoint commit lost
    # (the .crc checksum sidecar must go too or the local-fs checkpoint
    # manager refuses to recreate the marker)
    os.unlink(os.path.join(ckpt, "commits", "0"))
    crc = os.path.join(ckpt, "commits", ".0.crc")
    if os.path.exists(crc):
        os.unlink(crc)

    # rest of the log arrives; restart re-delivers batch 0 first
    import pyarrow.parquet as pq

    for i in range(3):
        pq.write_table(rest.slice(i * 500, 500),
                       os.path.join(ev_dir, f"chunk-1{i:04d}.parquet"))
    run2 = run_stream(spark, tbl, ev_dir, ckpt)
    run2.query.awaitTermination(300)
    # the re-delivered batch 0 was skipped as already-applied
    assert any(r.merge.skipped and r.epoch_id == 0 for r in run2.results)
    assert_state_equals_oracle(spark, tbl, events.to_pandas())


def test_stream_with_ddl_mid_stream(spark, tmp_table_dir):
    """A DDL change event arriving inside a later micro-batch evolves the
    table mid-stream; earlier rows null-fill the new column on read."""
    from qwery_spark.datagen import make_events

    events = make_events(
        2000, seed=29,
        ddl_events=[(1500, {"action": "add_column", "name": "meta", "type": "string"})],
    )
    ev_dir = os.path.join(tmp_table_dir, "events")
    write_event_chunks(events, ev_dir, 4)
    tbl = LakeTable.create(os.path.join(tmp_table_dir, "tbl"), TARGET_SCHEMA, n_buckets=4)
    run = run_stream(spark, tbl, ev_dir, os.path.join(tmp_table_dir, "ckpt"))
    run.query.awaitTermination(300)
    assert sum(r.ddl_applied for r in run.results) == 1
    assert "meta" in tbl.read(spark).columns
    assert_state_equals_oracle(spark, tbl, events.to_pandas())


def test_continuous_trigger_picks_up_late_files(spark, tmp_table_dir):
    """processingTime trigger: files arriving AFTER the stream starts are
    ingested; stop via stop() once lineage shows them applied."""
    import time

    from qwery_spark.datagen import make_events

    events = make_events(1200, seed=103)
    first, second = events.slice(0, 600), events.slice(600, 600)
    ev_dir = os.path.join(tmp_table_dir, "events")
    write_event_chunks(first, ev_dir, 2)
    tbl = LakeTable.create(os.path.join(tmp_table_dir, "tbl"), TARGET_SCHEMA, n_buckets=4,
                           write_mode="mor")
    run = run_stream(spark, tbl, ev_dir, os.path.join(tmp_table_dir, "ckpt"),
                     continuous="0 seconds", max_files_per_trigger=4)
    try:
        deadline = time.monotonic() + 120
        while time.monotonic() < deadline and sum(r.rows_in for r in run.results) < 600:
            time.sleep(0.5)
        # late arrivals while the query is live
        import pyarrow.parquet as pq

        pq.write_table(second, os.path.join(ev_dir, "chunk-99999.parquet"))
        while time.monotonic() < deadline and sum(r.rows_in for r in run.results) < 1200:
            time.sleep(0.5)
    finally:
        run.query.stop()
    assert sum(r.rows_in for r in run.results) == 1200
    assert_state_equals_oracle(spark, tbl, events.to_pandas())


def test_stream_run_lists_keep_last_epochs(spark, tmp_table_dir, monkeypatch, caplog):
    """StreamRun's per-epoch lists are bounded to the last RUN_HISTORY
    epochs, while every WAP decision still reaches the module logger."""
    import json
    import logging

    from qwery_spark.lake.maintenance import CompactionPolicy
    from qwery_spark.streaming import stream

    monkeypatch.setattr(stream, "RUN_HISTORY", 2)
    events, ev_dir, paths, tbl = _setup(tmp_table_dir, n_events=1000, n_chunks=5, seed=41)
    with caplog.at_level(logging.INFO, logger=stream.__name__):
        run = run_stream(spark, tbl, ev_dir, os.path.join(tmp_table_dir, "ckpt"),
                         audit_sql="SELECT 1 FROM staged WHERE 1 = 0",
                         compaction_policy=CompactionPolicy(max_files_per_bucket=64))
        run.query.awaitTermination(300)
    assert run.query.exception() is None
    assert [r.epoch_id for r in run.results] == [3, 4]
    assert [w["epoch_id"] for w in run.wap] == [3, 4]
    assert len(run.maintenance) == 2
    logged = [json.loads(r.getMessage())["wap"] for r in caplog.records
              if r.name == stream.__name__]
    assert [w["epoch_id"] for w in logged] == [0, 1, 2, 3, 4]
    assert all(w["published"] for w in logged)
    assert_state_equals_oracle(spark, tbl, events.to_pandas())


def test_stream_dataframe_events_per_partition_lineage(spark, tmp_table_dir):
    """A ready streaming frame carrying _partition (the kafka tail's
    shape) streams like a directory and yields, per epoch, one lineage
    row per source partition plus the batch-total row."""
    from pyspark.sql import functions as F

    from qwery_spark.streaming.stream import stream_events

    events, ev_dir, paths, tbl = _setup(tmp_table_dir, n_events=2000, n_chunks=4, seed=43)
    df = stream_events(spark, ev_dir, max_files_per_trigger=2).withColumn(
        "_partition", (F.col("ordinal") % 3).cast("int"))
    lin_dir = os.path.join(tmp_table_dir, "lineage")
    run = run_stream(spark, tbl, df, os.path.join(tmp_table_dir, "ckpt"),
                     lineage_dir=lin_dir)
    run.query.awaitTermination(300)
    assert run.query.exception() is None
    assert len(run.results) == 2  # 4 files / 2 per trigger
    assert_state_equals_oracle(spark, tbl, events.to_pandas())
    lin = read_lineage(spark, lin_dir).toPandas()
    for _epoch, rows in lin.groupby("epoch_id"):
        assert sorted(rows["partition"]) == [-1, 0, 1, 2]
        total = rows[rows.partition == -1].iloc[0]
        assert rows[rows.partition >= 0]["rows_in"].sum() == total["rows_in"]
    assert lin[lin.partition == -1]["rows_in"].sum() == events.num_rows


def test_stream_maintenance_bounds_log_and_files(spark, tmp_table_dir):
    """compact_every + expire_keep keeps the commit-log length and live
    file count flat during a long tail (maintenance rides compaction)."""
    import os

    from qwery_spark.datagen import make_events, write_event_chunks
    from qwery_spark.lake.table import LakeTable
    from qwery_spark.schema import TARGET_SCHEMA
    from qwery_spark.streaming import run_stream

    from tests.helpers import assert_state_equals_oracle

    events = make_events(4000, seed=97)
    ev_dir = os.path.join(tmp_table_dir, "events")
    write_event_chunks(events, ev_dir, 8)
    tbl = LakeTable.create(os.path.join(tmp_table_dir, "t"), TARGET_SCHEMA,
                           n_buckets=4, write_mode="mor")
    run = run_stream(spark, tbl, ev_dir, os.path.join(tmp_table_dir, "ckpt"),
                     compact_every=2, expire_keep=3)
    run.query.awaitTermination(300)
    mdir = os.path.join(tbl.path, "_manifests")
    records = [n for n in os.listdir(mdir) if n.startswith("v")]
    assert len(records) <= 6  # expired down, not 8 epochs + compactions
    # vacuum reclaimed the files the expired log no longer references
    live = {f["path"] for f in tbl.snapshot().files()}
    on_disk = set()
    for root, _d, files in os.walk(os.path.join(tbl.path, "data")):
        for f in files:
            if f.endswith(".parquet"):
                on_disk.add(os.path.relpath(os.path.join(root, f), tbl.path))
    orphans = on_disk - {f["path"] for v in range(
        min(int(n[1:9]) for n in records), tbl.current_version() + 1)
        for f in tbl.snapshot(v).files()}
    assert orphans == set()
    assert_state_equals_oracle(spark, tbl, events.to_pandas())


def test_fresh_checkpoint_does_not_collide_with_old_epochs(spark, tmp_table_dir):
    """Two different checkpoints feeding one table both start at batch 0;
    bare epoch keys would make the second run silently skip its first
    batch (round-2 CLI e2e caught this). run_id namespacing must keep
    them distinct while same-checkpoint replays still dedupe."""
    events, ev_dir, paths, tbl = _setup(tmp_table_dir, n_events=1000, n_chunks=2, seed=37)
    run1 = run_stream(spark, tbl, ev_dir, os.path.join(tmp_table_dir, "ckptA"),
                      max_files_per_trigger=2)
    run1.query.awaitTermination(300)
    n1 = tbl.read(spark).count()

    # a second pipeline with a NEW checkpoint delivers a disjoint tail
    ev2 = make_events(400, seed=38, start_ordinal=1000)
    ev2_dir = os.path.join(tmp_table_dir, "events2")
    write_event_chunks(ev2, ev2_dir, 1)
    run2 = run_stream(spark, tbl, ev2_dir, os.path.join(tmp_table_dir, "ckptB"),
                      max_files_per_trigger=1)
    run2.query.awaitTermination(300)
    # its batch 0 must have APPLIED (not been skipped as a dup of run1's)
    assert not any(r.merge.skipped for r in run2.results)
    import pandas as pd

    combined = pd.concat([events.to_pandas(), ev2.to_pandas()], ignore_index=True)
    assert_state_equals_oracle(spark, tbl, combined)


def test_lineage_stats_rates_and_eta(spark, tmp_table_dir):
    """read_lineage_stats derives per-epoch events/sec, cumulative rows,
    rate trend, and (given the planned total) pct_complete + ETA — the
    reference's Statistics feed (core:sources/Statistics.scala:17-25)
    reconstructed from lineage rows."""
    from qwery_spark.cdc.apply import read_lineage_stats

    events, ev_dir, paths, tbl = _setup(tmp_table_dir, n_events=3000, n_chunks=6)
    ckpt = os.path.join(tmp_table_dir, "ckpt")
    lin_dir = os.path.join(tmp_table_dir, "lineage")
    run = run_stream(spark, tbl, ev_dir, ckpt, max_files_per_trigger=2,
                     lineage_dir=lin_dir)
    run.query.awaitTermination(300)

    stats = read_lineage_stats(spark, lin_dir).orderBy("committed_utc", "epoch_id")
    rows = stats.collect()
    assert len(rows) >= 3
    assert all(r["events_per_sec"] > 0 for r in rows)
    cum = [r["rows_cumulative"] for r in rows]
    assert cum == sorted(cum) and cum[-1] == events.num_rows
    assert all(r["rate_trend"] is not None and r["rate_trend"] > 0 for r in rows)

    total = events.num_rows
    with_eta = read_lineage_stats(spark, lin_dir, total_expected=total).orderBy(
        "committed_utc", "epoch_id").collect()
    assert with_eta[-1]["pct_complete"] == 100.0
    assert with_eta[-1]["eta_seconds"] == 0.0
    assert 0 < with_eta[0]["pct_complete"] < 100.0
    assert with_eta[0]["eta_seconds"] > 0


def test_follow_changes_daemon(spark, tmp_path):
    """The feed follower must hand each commit window to the sink
    exactly once, in order, resume from a persisted version, and a
    replicate-sink replica must converge."""
    import pandas as pd

    from qwery_spark.cdc.apply import apply_changes
    from qwery_spark.lake.changes import replicate
    from qwery_spark.lake.table import LakeTable
    from qwery_spark.schema import EVENT_SCHEMA, TARGET_SCHEMA
    from qwery_spark.streaming.stream import follow_changes

    src = LakeTable.create(str(tmp_path / "src"), TARGET_SCHEMA, n_buckets=2)
    dst = LakeTable.create(str(tmp_path / "dst"), TARGET_SCHEMA, n_buckets=2)
    cols = ["ordinal", "op", "doc_id", "tokens", "n_tok", "source", "ddl"]

    def apply(rows, epoch):
        df = spark.createDataFrame(pd.DataFrame(rows, columns=cols), schema=EVENT_SCHEMA)
        apply_changes(spark, src, df, epoch_id=epoch, collect_stats=False)

    apply([(1, "I", "a", [1], 1, "web", None)], 0)

    windows = []
    epochs = iter([
        [(2, "U", "a", [2, 2], 2, "web", None)],
        [(3, "D", "a", None, None, "web", None), (4, "I", "b", [3], 1, "code", None)],
        None,
    ])

    def tick(_secs):  # new commits arrive between polls
        rows = next(epochs)
        if rows is not None:
            apply(rows, len(windows) + 1)

    def sink(feed, lo, hi):
        windows.append((lo, hi))
        replicate(spark, src, dst, lo, hi, epoch_id=f"sync-{hi}")

    last = follow_changes(
        spark, src, sink, start_version=0, max_polls=4, sleep=tick
    )
    # every window delivered once, contiguous, ending at the head
    assert windows == [(0, 1), (1, 2), (2, 3)]
    assert last == src.current_version() == 3

    def state(t):
        return {
            (r["doc_id"], tuple(r["tokens"])) for r in t.read(spark).collect()
        }

    assert state(dst) == state(src) == {("b", (3,))}
