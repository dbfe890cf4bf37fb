"""Branch refs (write-audit-publish) + rollback on the lake table.

The WAP contract under test (Iceberg branch semantics; beyond the
reference, which has no snapshot/branch concept at all):
  * branch commits are invisible to main until PUBLISH (isolation)
  * publish is metadata-only fast-forward, resumable after a crash,
    and conflicts if main advanced past the fork
  * audit-reject (drop_branch) reclaims the branch's data files
  * vacuum/expire respect live branches (files + fork pinned)
  * rollback restores an old version's state as a new head commit and
    re-opens epochs applied after it
"""

import json
import os

import pytest
from pyspark.sql import types as T

from qwery_spark.lake.table import CommitConflict, LakeTable, open_lake
from qwery_spark.lake.merge import compact, merge_changes

SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("v", T.IntegerType()),
    ]
)


def _batch(spark, rows):
    return spark.createDataFrame(rows, "doc_id string, op string, ordinal long, v int")


def _mk(tmp_table_dir, mode="mor"):
    return LakeTable.create(
        tmp_table_dir + "/t", SCHEMA, n_buckets=4, write_mode=mode
    )


def _rows(spark, t):
    return sorted(tuple(r) for r in t.read(spark).collect())


def test_branch_isolation_and_publish(spark, tmp_table_dir):
    t = _mk(tmp_table_dir)
    merge_changes(spark, t, _batch(spark, [("a", "U", 1, 10), ("b", "U", 2, 20)]), epoch_id=0)

    br = t.create_branch("audit")
    assert br._fork_version() == 1
    merge_changes(spark, br, _batch(spark, [("a", "U", 3, 11), ("c", "U", 4, 30)]), epoch_id=1)

    # isolation: main untouched, branch sees fork + its own commits
    assert _rows(spark, t) == [("a", 10), ("b", 20)]
    assert _rows(spark, br) == [("a", 11), ("b", 20), ("c", 30)]
    assert t.list_branches() == [
        {"name": "audit", "fork_version": 1, "head_version": 2, "commits": 1}
    ]

    snap = t.publish_branch("audit")
    assert snap.version == 2
    # exactly-once protection crosses the publish: branch epochs land
    assert snap.applied_epochs == {0, 1}
    assert _rows(spark, t) == [("a", 11), ("b", 20), ("c", 30)]
    assert t.list_branches() == []
    # re-delivery of the published epoch is still a no-op on main
    s = merge_changes(spark, t, _batch(spark, [("a", "U", 3, 99)]), epoch_id=1)
    assert s.skipped


def test_branch_reject_reclaims_files(spark, tmp_table_dir):
    t = _mk(tmp_table_dir)
    merge_changes(spark, t, _batch(spark, [("a", "U", 1, 10)]), epoch_id=0)
    before = {f["path"] for f in t.snapshot().m["files"]}

    br = t.create_branch("audit")
    merge_changes(spark, br, _batch(spark, [("x", "U", 2, -1)]), epoch_id=1)
    staged = [
        os.path.join(t.path, f["path"])
        for f in br.snapshot().m["files"]
        if f["path"] not in {g["path"] for g in t.snapshot().m["files"]}
    ]
    assert staged and all(os.path.exists(p) for p in staged)

    removed = t.drop_branch("audit")
    assert removed == len(staged)
    assert not any(os.path.exists(p) for p in staged)
    assert _rows(spark, t) == [("a", 10)]
    # the rejected epoch is NOT recorded: a corrected window can reuse it
    s = merge_changes(spark, t, _batch(spark, [("x", "U", 2, 5)]), epoch_id=1)
    assert not s.skipped
    # main's pre-branch files were never touched by the reject
    assert before <= {f["path"] for f in t.snapshot().m["files"]}


def test_publish_conflict_when_main_advances(spark, tmp_table_dir):
    t = _mk(tmp_table_dir)
    merge_changes(spark, t, _batch(spark, [("a", "U", 1, 10)]), epoch_id=0)
    br = t.create_branch("audit")
    merge_changes(spark, br, _batch(spark, [("b", "U", 2, 20)]), epoch_id=1)
    # a main commit lands after the fork -> fast-forward must refuse
    merge_changes(spark, t, _batch(spark, [("c", "U", 3, 30)]), epoch_id=2)
    with pytest.raises(CommitConflict):
        t.publish_branch("audit")
    # the stage survives the refusal; re-staging path: drop + re-fork
    assert t.list_branches()[0]["name"] == "audit"
    t.drop_branch("audit")
    assert _rows(spark, t) == [("a", 10), ("c", 30)]


def test_publish_resumes_after_partial_crash(spark, tmp_table_dir):
    t = _mk(tmp_table_dir)
    merge_changes(spark, t, _batch(spark, [("a", "U", 1, 10)]), epoch_id=0)
    br = t.create_branch("audit")
    merge_changes(spark, br, _batch(spark, [("b", "U", 2, 20)]), epoch_id=1)
    merge_changes(spark, br, _batch(spark, [("c", "U", 3, 30)]), epoch_id=2)
    # simulate a publish that crashed after linking the FIRST record
    first = t._branch_records("audit")[0]
    os.link(
        os.path.join(t._bdir("audit"), f"v{first:08d}.json"),
        os.path.join(t._mdir(), f"v{first:08d}.json"),
    )
    snap = t.publish_branch("audit")  # must recognize + skip, then finish
    assert snap.version == 3
    assert _rows(spark, t) == [("a", 10), ("b", 20), ("c", 30)]


def test_branch_ddl_publishes_schema(spark, tmp_table_dir):
    t = _mk(tmp_table_dir)
    merge_changes(spark, t, _batch(spark, [("a", "U", 1, 10)]), epoch_id=0)
    br = t.create_branch("schema_stage")
    br.add_column("lang", "string")
    assert [f["name"] for f in t.snapshot().fields()] == [
        "doc_id", "v", "last_ordinal", "_deleted"
    ]
    t.publish_branch("schema_stage")
    assert "lang" in [f["name"] for f in t.snapshot().fields()]


def test_vacuum_protects_live_branch_files(spark, tmp_table_dir):
    t = _mk(tmp_table_dir)
    merge_changes(spark, t, _batch(spark, [("a", "U", 1, 10)]), epoch_id=0)
    br = t.create_branch("audit")
    merge_changes(spark, br, _batch(spark, [("b", "U", 2, 20)]), epoch_id=1)
    assert t.vacuum(grace_sec=0) == 0  # staged branch files are live
    assert _rows(spark, br) == [("a", 10), ("b", 20)]
    t.publish_branch("audit")
    assert t.vacuum(grace_sec=0) == 0


def test_expire_pins_branch_fork(spark, tmp_table_dir):
    t = _mk(tmp_table_dir)
    for i in range(3):
        merge_changes(
            spark, t, _batch(spark, [(f"k{i}", "U", i + 1, i)]), epoch_id=i
        )
    br = t.create_branch("old", at_version=2)
    for i in range(3, 6):
        merge_changes(
            spark, t, _batch(spark, [(f"k{i}", "U", i + 1, i)]), epoch_id=i
        )
    # keep_last=1 would drop everything below the head — the live
    # branch's fork (v2) must pin the log at or below it
    t.expire_snapshots(keep_last=1)
    assert t.earliest_version() <= 2
    assert _rows(spark, br) == [("k0", 0), ("k1", 1)]  # still reconstructable
    # dropping the branch releases the pin
    t.drop_branch("old")
    t.expire_snapshots(keep_last=1)
    assert t.earliest_version() == t.current_version()


def test_rollback_restores_state_and_reopens_epochs(spark, tmp_table_dir):
    t = _mk(tmp_table_dir)
    merge_changes(spark, t, _batch(spark, [("a", "U", 1, 10)]), epoch_id=0)
    merge_changes(spark, t, _batch(spark, [("b", "U", 2, 20)]), epoch_id=1)
    merge_changes(spark, t, _batch(spark, [("a", "U", 3, 99)]), epoch_id=2)
    head = t.current_version()
    snap = t.rollback(2)
    assert snap.version == head + 1
    assert _rows(spark, t) == [("a", 10), ("b", 20)]
    # epoch 2 was un-applied by the rollback; epochs 0/1 stay protected
    assert merge_changes(
        spark, t, _batch(spark, [("a", "U", 1, 0)]), epoch_id=0
    ).skipped
    s = merge_changes(spark, t, _batch(spark, [("a", "U", 3, 42)]), epoch_id=2)
    assert not s.skipped
    assert _rows(spark, t) == [("a", 42), ("b", 20)]
    # time travel across the rollback still works
    assert sorted(
        tuple(r) for r in t.read(spark, snapshot_version=head).collect()
    ) == [("a", 99), ("b", 20)]


def test_branch_compaction_stays_on_branch(spark, tmp_table_dir):
    t = _mk(tmp_table_dir)
    merge_changes(spark, t, _batch(spark, [("a", "U", 1, 10)]), epoch_id=0)
    br = t.create_branch("audit")
    merge_changes(spark, br, _batch(spark, [("a", "U", 2, 11)]), epoch_id=1)
    merge_changes(spark, br, _batch(spark, [("a", "U", 3, 12)]), epoch_id=2)
    compact(spark, br)
    assert not br.snapshot().unresolved_buckets
    assert t.snapshot().version == 1  # main log untouched
    t.publish_branch("audit")
    assert _rows(spark, t) == [("a", 12)]


def test_guards_and_errors(spark, tmp_table_dir):
    t = _mk(tmp_table_dir)
    merge_changes(spark, t, _batch(spark, [("a", "U", 1, 10)]), epoch_id=0)
    br = t.create_branch("audit")
    with pytest.raises(ValueError):
        br.create_branch("nested")
    with pytest.raises(ValueError):
        br.expire_snapshots()
    with pytest.raises(ValueError):
        br.vacuum()
    with pytest.raises(ValueError):
        br.rollback(0)
    with pytest.raises(FileExistsError):
        t.create_branch("audit")  # create-exclusive
    with pytest.raises(FileNotFoundError):
        t.branch_view("nope")
    with pytest.raises(FileNotFoundError):
        t.drop_branch("nope")
    with pytest.raises(ValueError):
        t.create_branch("bad name!")
    with pytest.raises(ValueError):
        t.create_branch("v2", at_version=99)


def test_open_lake_routing(spark, tmp_table_dir):
    t = _mk(tmp_table_dir)
    t.create_branch("audit")
    assert open_lake(t.path).branch is None
    ol = open_lake(t.path + "@audit")
    assert ol.branch == "audit" and ol.path == t.path
    # a literal directory containing '@' wins over the branch parse
    weird = tmp_table_dir + "/w@x"
    LakeTable.create(weird, SCHEMA, n_buckets=2)
    assert open_lake(weird).branch is None


def test_engine_wap_verbs(spark, tmp_table_dir):
    from qwery_spark.compiler.engine import ScriptEngine

    eng = ScriptEngine(spark)
    p = tmp_table_dir + "/t"
    eng.execute(
        f"CREATE LAKE '{p}' (doc_id string, v int) KEYED ON doc_id "
        "BUCKETS 4 MODE mor"
    )
    eng.execute(
        f"UPSERT INTO LAKE '{p}' KEYED ON doc_id "
        "SELECT 'a' AS doc_id, 10 AS v, 1 AS ordinal"
    )
    r = eng.execute(f"CREATE BRANCH 'audit' ON LAKE '{p}'").collect()
    assert r[0]["fork_version"] == 1
    eng.execute(
        f"UPSERT INTO LAKE '{p}@audit' KEYED ON doc_id "
        "SELECT 'b' AS doc_id, 20 AS v, 2 AS ordinal"
    )
    assert [tuple(x) for x in eng.execute(f"SELECT * FROM '{p}' ORDER BY doc_id").collect()] == [("a", 10)]
    assert [
        tuple(x)
        for x in eng.execute(f"SELECT * FROM '{p}@audit' ORDER BY doc_id").collect()
    ] == [("a", 10), ("b", 20)]
    assert eng.execute(f"SHOW BRANCHES '{p}'").collect()[0]["branch"] == "audit"
    assert eng.execute(f"SHOW SNAPSHOTS '{p}@audit'").count() == 3
    eng.execute(f"PUBLISH BRANCH 'audit' ON LAKE '{p}'")
    assert [
        tuple(x) for x in eng.execute(f"SELECT * FROM '{p}' ORDER BY doc_id").collect()
    ] == [("a", 10), ("b", 20)]
    eng.execute(f"ROLLBACK LAKE '{p}' TO VERSION 1")
    assert [tuple(x) for x in eng.execute(f"SELECT * FROM '{p}'").collect()] == [("a", 10)]
    # reject path via verbs
    eng.execute(f"CREATE BRANCH 'bad' ON LAKE '{p}'")
    eng.execute(
        f"UPSERT INTO LAKE '{p}@bad' KEYED ON doc_id "
        "SELECT 'z' AS doc_id, -1 AS v, 9 AS ordinal"
    )
    assert eng.execute(f"DROP BRANCH 'bad' ON LAKE '{p}'").collect()[0][0] == 1
    assert eng.execute(f"SHOW BRANCHES '{p}'").count() == 0


def test_decompiler_branch_roundtrip():
    from qwery_spark.compiler.decompiler import decompile, parse_statement

    stmts = [
        "CREATE BRANCH 'a' ON LAKE '/x' AT VERSION 3",
        "CREATE BRANCH 'a' ON LAKE '/x'",
        "PUBLISH BRANCH 'a' ON LAKE '/x'",
        "DROP BRANCH 'a' ON LAKE '/x' KEEP FILES",
        "DROP BRANCH 'a' ON LAKE '/x'",
        "SHOW BRANCHES '/x'",
        "ROLLBACK LAKE '/x' TO VERSION 7",
    ]
    for s in stmts:
        assert decompile(s) == s
        assert parse_statement(s).kind != "sql"


def test_branch_ref_contents(spark, tmp_table_dir):
    t = _mk(tmp_table_dir)
    merge_changes(spark, t, _batch(spark, [("a", "U", 1, 10)]), epoch_id=0)
    t.create_branch("audit")
    with open(t._branch_ref_path("audit")) as fh:
        ref = json.load(fh)
    assert ref["fork_version"] == 1
    assert ref["forked_snapshot_id"] == t.snapshot().snapshot_id


def test_branch_changelog_reads_window_diff(spark, tmp_table_dir):
    """read_changes on a branch VIEW yields the staged window's net
    diff vs the fork — the feed run_stream registers as
    ``staged_changes`` for audits."""
    from qwery_spark.lake.changes import read_changes

    t = _mk(tmp_table_dir)
    merge_changes(spark, t, _batch(spark, [("a", "U", 1, 10), ("b", "U", 2, 20)]), epoch_id=0)
    br = t.create_branch("audit")
    merge_changes(
        spark, br,
        _batch(spark, [("a", "U", 3, 11), ("c", "U", 4, 30), ("b", "D", 5, None)]),
        epoch_id=1,
    )
    rows = {
        r["doc_id"]: r["_change_type"]
        for r in read_changes(spark, br, br._fork_version(), granular=False).collect()
    }
    assert rows == {"a": "update_postimage", "b": "delete", "c": "insert"}
    # main's changelog is untouched by the stage
    assert read_changes(spark, t, 1).count() == 0


def test_changelog_spans_published_windows(spark, tmp_table_dir):
    """Published branch records are ordinary data commits in the main
    log: a downstream follower's change feed (granular AND coarse)
    crosses the publish seamlessly."""
    from qwery_spark.lake.changes import read_changes

    t = _mk(tmp_table_dir)
    merge_changes(spark, t, _batch(spark, [("a", "U", 1, 10)]), epoch_id=0)
    for w, rows in enumerate(
        [[("b", "U", 2, 20)], [("a", "U", 3, 11), ("b", "D", 4, None)]]
    ):
        br = t.create_branch(f"w{w}")
        merge_changes(spark, br, _batch(spark, rows), epoch_id=w + 1)
        t.publish_branch(f"w{w}")
    gran = {
        (r["doc_id"], r["_change_type"], r["_commit_version"])
        for r in read_changes(spark, t, 1).collect()
    }
    assert gran == {
        ("b", "insert", 2),
        ("a", "update_postimage", 3),
        ("b", "delete", 3),
    }
    coarse = {
        (r["doc_id"], r["_change_type"])
        for r in read_changes(spark, t, 1, granular=False).collect()
    }
    assert coarse == {("a", "update_postimage")}  # b inserted+deleted nets out


def test_policy_expire_older_than(spark, tmp_table_dir):
    from qwery_spark.lake.maintenance import CompactionPolicy, maybe_compact
    from qwery_spark.lake.merge import append_changes

    t = _mk(tmp_table_dir)
    # MOR delta appends so buckets genuinely accumulate >1 file and the
    # max_files_per_bucket=1 policy is due (a COW merge rewrites each
    # touched bucket to ONE file from one write task, so it can never
    # make this policy fire)
    for e in range(6):
        append_changes(spark, t, _batch(spark, [(f"k{e}", "U", e + 1, e)]), epoch_id=e)
    pol = CompactionPolicy(
        max_files_per_bucket=1, expire_keep=1, expire_older_than_sec=86400
    )
    rep = maybe_compact(spark, t, pol)
    assert rep.triggered
    # everything is young: nothing expired despite keep_last=1
    assert rep.snapshots_expired == 0
    assert t.earliest_version() == 0
