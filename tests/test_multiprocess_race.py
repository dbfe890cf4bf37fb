"""TRUE multi-process writer race (r4 verdict task 6): an ingest writer
and a compaction-policy daemon in SEPARATE OS processes (separate
SparkSessions, separate JVMs) hammer one lake table concurrently. The
manifest CAS (os.link) + commit_rewrite auto-rebase must let BOTH make
progress under real race timing — not the scripted interleavings of
test_concurrency.py — and the final state must equal the serial
oracle's replay of the same events."""

import json
import multiprocessing as mp
import os
import time

import pytest

from qwery_spark.lake.table import LakeTable
from qwery_spark.schema import TARGET_SCHEMA

N_EPOCHS = 6
PER_EPOCH = 400


def _events(epoch: int):
    from qwery_spark.datagen import make_events

    return make_events(
        PER_EPOCH, seed=1234, start_ordinal=epoch * PER_EPOCH
    ).to_pandas()


def _ingest_worker(path: str, done_flag: str, err_file: str):
    try:
        from qwery_spark.cdc.apply import apply_changes
        from qwery_spark.schema import EVENT_SCHEMA
        from qwery_spark.session import get_spark

        spark = get_spark(
            "race-ingest", cpus=4, shuffle_partitions=4,
            extra_conf={"spark.ui.enabled": "false"},
        )
        tbl = LakeTable(path)
        for e in range(N_EPOCHS):
            df = spark.createDataFrame(_events(e), schema=EVENT_SCHEMA)
            apply_changes(spark, tbl, df, epoch_id=e, scan_ddl=False,
                          collect_stats=False)
        spark.stop()
    except BaseException as exc:  # report across the process boundary
        with open(err_file, "w") as f:
            f.write(f"ingest: {type(exc).__name__}: {exc}")
    finally:
        with open(done_flag, "w") as f:
            f.write("done")


def _policy_worker(path: str, done_flag: str, err_file: str, stats_file: str):
    try:
        from qwery_spark.lake.maintenance import CompactionPolicy, maybe_compact
        from qwery_spark.session import get_spark

        spark = get_spark(
            "race-policy", cpus=4, shuffle_partitions=4,
            extra_conf={"spark.ui.enabled": "false"},
        )
        tbl = LakeTable(path)
        policy = CompactionPolicy(max_files_per_bucket=2)
        triggered = conflicts = ticks = 0
        # keep ticking until the ingest side reports done, then one
        # final tick against the settled head
        while not os.path.exists(done_flag):
            rep = maybe_compact(spark, tbl, policy)
            ticks += 1
            triggered += int(rep.triggered)
            conflicts += int(rep.conflict)
            time.sleep(0.2)
        rep = maybe_compact(spark, tbl, policy)
        ticks += 1
        triggered += int(rep.triggered)
        conflicts += int(rep.conflict)
        with open(stats_file, "w") as f:
            json.dump(
                {"ticks": ticks, "triggered": triggered,
                 "conflicts": conflicts}, f,
            )
        spark.stop()
    except BaseException as exc:
        with open(err_file, "w") as f:
            f.write(f"policy: {type(exc).__name__}: {exc}")


def _follow_worker(path: str, done_flag: str, err_file: str, out_json: str,
                   replica_path: str, agg_path: str, scd2_path: str,
                   vocab_path: str):
    """run_follow-style window maintenance DURING the race: tail the
    racing table's commit log and keep a replica, plus a min/max rollup,
    an SCD2 history and a vocabulary view off the follower's maintainer
    registry, current off each window — exactly the deployment shape
    (ingest + compaction daemon + follower all live at once)."""
    try:
        from qwery_spark.lake.changes import read_changes, replicate
        from qwery_spark.lake.table import LakeTable
        from qwery_spark.operators import materialize, vocab
        from qwery_spark.schema import TARGET_SCHEMA
        from qwery_spark.session import get_spark
        from qwery_spark.streaming.stream import (
            Maintainer, build_missing, maintain_window)

        spark = get_spark(
            "race-follow", cpus=4, shuffle_partitions=4,
            extra_conf={"spark.ui.enabled": "false"},
        )
        tbl = LakeTable(path)
        extrema = {"min_cols": ["n_tok"], "max_cols": ["n_tok"]}
        views = [
            Maintainer(
                "agg", agg_path,
                lambda v: materialize.build_agg(
                    spark, tbl, agg_path, "source", ["n_tok"], n_buckets=4,
                    at_version=v, **extrema),
                lambda lo, hi, feed: materialize.update_agg(
                    spark, tbl, LakeTable(agg_path), "source", ["n_tok"],
                    lo, hi, feed=feed, **extrema),
            ),
            Maintainer(
                "scd2", scd2_path,
                lambda v: materialize.build_scd2(
                    spark, tbl, scd2_path, n_buckets=4, at_version=v),
                lambda lo, hi, feed: materialize.update_scd2(
                    spark, tbl, LakeTable(scd2_path), lo, hi, feed=feed),
            ),
            Maintainer(
                "vocab", vocab_path,
                lambda v: vocab.build_vocab(
                    spark, tbl, vocab_path, "tokens", n_buckets=4,
                    at_version=v),
                lambda lo, hi, feed: vocab.update_vocab(
                    spark, tbl, LakeTable(vocab_path), "tokens", lo, hi,
                    feed=feed),
            ),
        ]
        # resume point 0: views built from the (empty) v0 snapshot,
        # then advanced purely from change-feed windows
        build_missing(views, 0)
        LakeTable.create(replica_path, TARGET_SCHEMA, n_buckets=4,
                         write_mode="mor")
        last = 0
        windows = 0
        while True:
            head = tbl.current_version()
            if head > last:
                feed = read_changes(spark, tbl, last, head, granular=False)
                replicate(spark, tbl, LakeTable(replica_path), last, head,
                          epoch_id=f"follow:{head}", feed=feed)
                maintain_window(spark, tbl, views, last, head)
                last = head
                windows += 1
            elif os.path.exists(done_flag):
                # ingest is done and every commit <= head is applied;
                # trailing policy compactions are state no-ops
                break
            else:
                time.sleep(0.15)
        with open(out_json, "w") as f:
            json.dump({"windows": windows, "last_synced": last}, f)
        spark.stop()
    except BaseException:
        import traceback

        with open(err_file, "w") as f:
            f.write("follow: " + traceback.format_exc())


def test_three_process_race_with_follower(spark, tmp_table_dir):
    """Ingest writer + compaction-policy daemon + live follower in THREE
    OS processes against one table: the follower's replica, min/max
    rollup, SCD2 history and vocabulary view must come out EXACT vs the
    serial oracle / a from-scratch recompute, despite racing window
    boundaries that interleave arbitrarily with data and compaction
    commits."""
    import pandas as pd
    from pyspark.sql import functions as F

    from qwery_spark.cdc.oracle import replay_oracle
    from qwery_spark.lake.table import LakeTable as LT

    path = tmp_table_dir + "/race3"
    LakeTable.create(path, TARGET_SCHEMA, n_buckets=4, write_mode="mor")
    done_flag = tmp_table_dir + "/ingest3_done"
    errs = [tmp_table_dir + f"/err3_{i}" for i in range(3)]
    stats_file = tmp_table_dir + "/policy3_stats.json"
    follow_out = tmp_table_dir + "/follow3_out.json"
    replica = tmp_table_dir + "/replica3"
    agg = tmp_table_dir + "/agg3"
    scd2 = tmp_table_dir + "/scd2_3"
    vocab = tmp_table_dir + "/vocab3"

    ctx = mp.get_context("spawn")
    procs = [
        ctx.Process(target=_ingest_worker, args=(path, done_flag, errs[0])),
        ctx.Process(target=_policy_worker,
                    args=(path, done_flag, errs[1], stats_file)),
        ctx.Process(target=_follow_worker,
                    args=(path, done_flag, errs[2], follow_out,
                          replica, agg, scd2, vocab)),
    ]
    for p in procs:
        p.start()
    for p in procs:
        p.join(timeout=900)
    assert not any(p.is_alive() for p in procs), "worker hung"
    for ef in errs:
        if os.path.exists(ef):
            pytest.fail(open(ef).read())

    events = pd.concat([_events(e) for e in range(N_EPOCHS)])
    want, _ = replay_oracle(events)

    def state_of(tbl_path):
        got = LT(tbl_path).read(spark).orderBy("doc_id").toPandas()
        toks = [None if t is None else list(t) for t in got["tokens"]]
        return list(got["doc_id"]), list(got["n_tok"].fillna(-1)), toks

    want_tok = [None if t is None else list(t) for t in want["tokens"]]
    # the racing source AND the follower's replica both equal the oracle
    for p in (path, replica):
        ids, ntoks, toks = state_of(p)
        assert ids == list(want["doc_id"]), p
        assert ntoks == list(want["n_tok"].fillna(-1)), p
        assert toks == want_tok, p

    # rollup == from-scratch recompute of the final source state
    got_agg = sorted(
        tuple(x)
        for x in LT(agg).read(spark)
        .select("source", "n_rows", "sum_n_tok", "min_n_tok", "max_n_tok")
        .collect()
    )
    want_agg = sorted(
        tuple(x)
        for x in LT(path).read(spark)
        .filter(F.col("source").isNotNull())
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.col("n_tok").cast("double")).alias("sum_n_tok"),
            F.min(F.col("n_tok").cast("double")).alias("min_n_tok"),
            F.max(F.col("n_tok").cast("double")).alias("max_n_tok"),
        )
        .collect()
    )
    assert got_agg == want_agg

    # SCD2: exactly one OPEN row per live key, matching the live state
    hist = LT(scd2).read(spark)
    open_rows = (
        hist.filter("valid_to IS NULL")
        .select("doc_id", "n_tok")
        .orderBy("doc_id")
        .collect()
    )
    assert [r["doc_id"] for r in open_rows] == list(want["doc_id"])
    assert [
        -1 if r["n_tok"] is None else r["n_tok"] for r in open_rows
    ] == list(want["n_tok"].fillna(-1))

    # vocabulary view == a from-scratch exploded recompute
    got_v = sorted(
        tuple(x)
        for x in LT(vocab).read(spark).select("token", "cnt", "n_docs").collect()
    )
    want_v = sorted(
        tuple(x)
        for x in LT(path).read(spark)
        .select(F.explode("tokens").alias("token"), "doc_id")
        .groupBy(F.col("token").cast("long").alias("token"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("cnt"),
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
        )
        .collect()
    )
    assert got_v == want_v and len(want_v) > 0

    with open(follow_out) as f:
        fo = json.load(f)
    # the follower really ran DURING the race (>=1 window) and synced
    # through every data commit
    assert fo["windows"] >= 1
    assert set(LT(path).snapshot().applied_epochs) == set(range(N_EPOCHS))


def test_two_process_ingest_vs_policy_compaction(spark, tmp_table_dir):
    import pandas as pd

    from qwery_spark.cdc.oracle import replay_oracle

    path = tmp_table_dir + "/race"
    LakeTable.create(path, TARGET_SCHEMA, n_buckets=4, write_mode="mor")
    done_flag = tmp_table_dir + "/ingest_done"
    err_a = tmp_table_dir + "/err_a"
    err_b = tmp_table_dir + "/err_b"
    stats_file = tmp_table_dir + "/policy_stats.json"

    ctx = mp.get_context("spawn")
    a = ctx.Process(target=_ingest_worker, args=(path, done_flag, err_a))
    b = ctx.Process(target=_policy_worker,
                    args=(path, done_flag, err_b, stats_file))
    a.start()
    b.start()
    a.join(timeout=600)
    b.join(timeout=600)
    assert not a.is_alive() and not b.is_alive(), "worker hung"
    for ef in (err_a, err_b):
        if os.path.exists(ef):
            pytest.fail(open(ef).read())

    tbl = LakeTable(path)
    snap = tbl.snapshot()
    # every ingest epoch landed exactly once despite the interleaved
    # compaction commits
    assert set(snap.applied_epochs) == set(range(N_EPOCHS))
    with open(stats_file) as f:
        st = json.load(f)
    # the policy made progress (its last tick runs against the settled
    # head, so at least one compaction must have landed)
    assert st["triggered"] >= 1
    # final state == serial oracle over the full event stream
    events = pd.concat([_events(e) for e in range(N_EPOCHS)])
    want, _ = replay_oracle(events)
    got = (
        tbl.read(spark)
        .orderBy("doc_id")
        .toPandas()
    )
    assert list(got["doc_id"]) == list(want["doc_id"])
    assert list(got["n_tok"].fillna(-1)) == list(want["n_tok"].fillna(-1))
    got_tok = [None if t is None else list(t) for t in got["tokens"]]
    want_tok = [None if t is None else list(t) for t in want["tokens"]]
    assert got_tok == want_tok
    # read-amplification bound held: policy kept file counts near the
    # threshold (final tick compacts the settled head)
    from collections import Counter

    per_bucket = Counter(f["bucket"] for f in tbl.snapshot().files())
    assert max(per_bucket.values()) <= 2


def _wap_ingest_worker(path: str, done_flag: str, err_file: str, wap_json: str):
    """Ingest through the write-audit-publish path: every epoch stages
    on a branch and fast-forwards — under a live compaction daemon the
    publish CAS can lose and must re-stage against the new head."""
    try:
        from qwery_spark.cdc.apply import apply_changes
        from qwery_spark.schema import EVENT_SCHEMA
        from qwery_spark.session import get_spark
        from qwery_spark.streaming.stream import _wap_batch

        spark = get_spark(
            "race-wap-ingest", cpus=4, shuffle_partitions=4,
            extra_conf={"spark.ui.enabled": "false"},
        )
        tbl = LakeTable(path)
        wap_log: list = []
        for e in range(N_EPOCHS):
            df = spark.createDataFrame(_events(e), schema=EVENT_SCHEMA)

            def _apply(target, _df=df, _e=e):
                return apply_changes(
                    spark, target, _df, epoch_id=_e, scan_ddl=False,
                    collect_stats=False,
                )

            _wap_batch(
                spark, tbl, _apply,
                "SELECT 1 FROM staged WHERE 1 = 0",  # audit always passes
                "race", e, df, None, wap_log, max_restages=10,
            )
        with open(wap_json, "w") as f:
            json.dump(wap_log, f)
        spark.stop()
    except BaseException as exc:
        with open(err_file, "w") as f:
            f.write(f"wap-ingest: {type(exc).__name__}: {exc}")
    finally:
        with open(done_flag, "w") as f:
            f.write("done")


def test_wap_publish_races_compaction_daemon(spark, tmp_table_dir):
    """WAP ingest (branch stage -> audit -> fast-forward) in one OS
    process vs the compaction-policy daemon in another: every epoch
    must publish exactly once even when the publish CAS loses to a
    maintenance commit and re-stages; final state equals the serial
    oracle."""
    import pandas as pd

    from tests.helpers import assert_state_equals_oracle

    path = os.path.join(tmp_table_dir, "t")
    LakeTable.create(path, TARGET_SCHEMA, n_buckets=4, write_mode="mor")
    done_flag = os.path.join(tmp_table_dir, "done")
    errs = [os.path.join(tmp_table_dir, f"err{i}") for i in range(2)]
    stats_file = os.path.join(tmp_table_dir, "policy.json")
    wap_json = os.path.join(tmp_table_dir, "wap.json")

    ctx = mp.get_context("spawn")
    procs = [
        ctx.Process(target=_wap_ingest_worker,
                    args=(path, done_flag, errs[0], wap_json)),
        ctx.Process(target=_policy_worker,
                    args=(path, done_flag, errs[1], stats_file)),
    ]
    for p in procs:
        p.start()
    for p in procs:
        p.join(timeout=800)
        assert not p.is_alive(), "worker hung"
    for e in errs:
        assert not os.path.exists(e), open(e).read()

    with open(wap_json) as f:
        wap = json.load(f)
    assert len(wap) == N_EPOCHS
    assert all(w["published"] for w in wap)

    tbl = LakeTable(path)
    snap = tbl.snapshot()
    assert snap.applied_epochs == set(range(N_EPOCHS))
    assert tbl.list_branches() == []  # every stage published or rebuilt
    events = pd.concat([_events(e) for e in range(N_EPOCHS)], ignore_index=True)
    assert_state_equals_oracle(spark, tbl, events)
