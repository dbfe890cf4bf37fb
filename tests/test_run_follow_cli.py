"""End-to-end smoke of the CDC-out follower entrypoint
(jobs/run_follow.py) as a real subprocess: drain a table's commit log
into per-window parquet + a replica, persist the resume state, then a
SECOND run resumes from the state file and ships only the new window."""

import json
import os
import subprocess
import sys

import pytest

from qwery_spark.datagen import make_events

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run_follow(args, timeout=420):
    env = dict(os.environ, PYTHONPATH=REPO)
    return subprocess.run(
        [sys.executable, os.path.join(REPO, "jobs", "run_follow.py"), *args],
        capture_output=True, text=True, timeout=timeout, env=env, cwd=REPO,
    )


def test_run_follow_cli_drain_and_resume(spark, tmp_path):
    from qwery_spark.cdc.apply import apply_changes
    from qwery_spark.lake.table import LakeTable
    from qwery_spark.schema import EVENT_SCHEMA, TARGET_SCHEMA

    table = str(tmp_path / "src")
    replica = str(tmp_path / "rep")
    sink = str(tmp_path / "out")
    state = str(tmp_path / "state.json")
    src = LakeTable.create(table, TARGET_SCHEMA, n_buckets=2)
    LakeTable.create(replica, TARGET_SCHEMA, n_buckets=2)
    ev = make_events(2000, seed=91).to_pandas()
    for i, (lo, hi) in enumerate([(0, 700), (700, 1400)]):
        df = spark.createDataFrame(ev.iloc[lo:hi], schema=EVENT_SCHEMA)
        apply_changes(spark, src, df, epoch_id=i, collect_stats=False)

    r = _run_follow([
        "--table", table, "--sink", sink, "--replica", replica,
        "--state", state, "--from-version", "0", "--max-polls", "1",
        "--coarse",
    ])
    assert r.returncode == 0, r.stderr[-2000:]
    assert json.loads(r.stdout.strip().splitlines()[-1])["last_synced_version"] == 2
    assert json.load(open(state))["version"] == 2
    windows = sorted(os.listdir(sink))
    assert windows == ["from=0"]

    # new commit, then resume purely from the state file
    df = spark.createDataFrame(ev.iloc[1400:2000], schema=EVENT_SCHEMA)
    apply_changes(spark, src, df, epoch_id=2, collect_stats=False)
    r = _run_follow([
        "--table", table, "--sink", sink, "--replica", replica,
        "--state", state, "--max-polls", "1",
    ])
    assert r.returncode == 0, r.stderr[-2000:]
    assert json.load(open(state))["version"] == 3
    assert sorted(os.listdir(sink)) == ["from=0", "from=2"]

    # a drain with NO new commits still pins the state (first-run gap
    # protection) and ships nothing new
    r = _run_follow([
        "--table", table, "--sink", sink, "--replica", replica,
        "--state", state, "--max-polls", "1",
    ])
    assert r.returncode == 0, r.stderr[-2000:]
    assert json.load(open(state))["version"] == 3
    assert sorted(os.listdir(sink)) == ["from=0", "from=2"]

    # a state file from another table is refused
    bad = _run_follow([
        "--table", replica, "--sink", sink, "--state", state, "--max-polls", "1",
    ])
    assert bad.returncode != 0 and "was written for table" in bad.stderr

    # replica converged to the source's live state
    rep = LakeTable(replica)
    src_state = {
        (r_["doc_id"], tuple(r_["tokens"])) for r_ in src.read(spark).collect()
    }
    rep_state = {
        (r_["doc_id"], tuple(r_["tokens"])) for r_ in rep.read(spark).collect()
    }
    assert rep_state == src_state and len(src_state) > 0


def test_run_follow_cli_incremental_views(spark, tmp_path):
    """Follower maintaining incremental views: the rollup and SCD2
    history are built at the resume point and advanced per window —
    final rollup equals a from-scratch recompute of the source. The
    SCD2 path starts as an empty v0 shell (a build that crashed between
    table-create and its first commit), which must be built, not
    mistaken for a completed view."""
    from pyspark.sql import functions as F

    from qwery_spark.cdc.apply import apply_changes
    from qwery_spark.lake.table import LakeTable
    from qwery_spark.operators.materialize import _reuse_or_create, _scd2_schema
    from qwery_spark.schema import EVENT_SCHEMA, TARGET_SCHEMA

    table = str(tmp_path / "src")
    agg = str(tmp_path / "agg")
    scd2 = str(tmp_path / "hist")
    vocab = str(tmp_path / "vocab")
    spanidx = str(tmp_path / "spanidx")
    state = str(tmp_path / "state.json")
    src = LakeTable.create(table, TARGET_SCHEMA, n_buckets=2)
    ev = make_events(1500, seed=17).to_pandas()
    df = spark.createDataFrame(ev.iloc[:700], schema=EVENT_SCHEMA)
    apply_changes(spark, src, df, epoch_id=0, collect_stats=False)

    # first run: builds the views at the pinned start, drains window 1
    df = spark.createDataFrame(ev.iloc[700:1100], schema=EVENT_SCHEMA)
    apply_changes(spark, src, df, epoch_id=1, collect_stats=False)
    shell = _reuse_or_create(
        scd2, _scd2_schema("doc_id", src.snapshot()), 8, "hist_id", "mor"
    )
    assert shell.current_version() == 0
    r = _run_follow([
        "--table", table, "--state", state, "--from-version", "1",
        "--agg-table", agg, "--agg-group", "source", "--agg-sum", "n_tok",
        "--agg-min", "n_tok", "--agg-max", "n_tok",
        "--scd2-table", scd2, "--vocab-table", vocab,
        "--spanindex-table", spanidx, "--spanindex-length", "4",
        "--max-polls", "1",
    ])
    assert r.returncode == 0, r.stderr[-2000:]

    # second run resumes and advances the same views
    df = spark.createDataFrame(ev.iloc[1100:1500], schema=EVENT_SCHEMA)
    apply_changes(spark, src, df, epoch_id=2, collect_stats=False)
    r = _run_follow([
        "--table", table, "--state", state,
        "--agg-table", agg, "--agg-group", "source", "--agg-sum", "n_tok",
        "--agg-min", "n_tok", "--agg-max", "n_tok",
        "--scd2-table", scd2, "--vocab-table", vocab,
        "--spanindex-table", spanidx, "--spanindex-length", "4",
        "--max-polls", "1",
    ])
    assert r.returncode == 0, r.stderr[-2000:]

    got = sorted(
        tuple(x)
        for x in LakeTable(agg).read(spark)
        .select("source", "n_rows", "sum_n_tok", "min_n_tok", "max_n_tok")
        .collect()
    )
    want = sorted(
        tuple(x)
        for x in src.read(spark)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.col("n_tok").cast("double")).alias("sum_n_tok"),
            F.min(F.col("n_tok").cast("double")).alias("min_n_tok"),
            F.max(F.col("n_tok").cast("double")).alias("max_n_tok"),
        )
        .collect()
    )
    assert got == want
    # SCD2: exactly one open version per live key, and closed rows exist
    hist = LakeTable(scd2).read(spark)
    live_keys = src.read(spark).count()
    assert hist.filter("valid_to IS NULL").count() == live_keys
    assert hist.filter("valid_to IS NOT NULL").count() > 0
    # vocabulary view equals a from-scratch exploded recompute
    got_v = sorted(
        tuple(x)
        for x in LakeTable(vocab).read(spark)
        .select("token", "cnt", "n_docs").collect()
    )
    want_v = sorted(
        tuple(x)
        for x in src.read(spark)
        .select(F.explode("tokens").alias("token"), "doc_id")
        .groupBy(F.col("token").cast("long").alias("token"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("cnt"),
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
        )
        .collect()
    )
    assert got_v == want_v
    # span index equals a from-scratch re-fingerprint of the corpus
    from qwery_spark.operators.spandedup import dup_spans

    got_s = sorted(
        tuple(x)
        for x in LakeTable(spanidx).read(spark)
        .select("span_hash", "cnt", "n_docs").collect()
    )
    want_s = sorted(
        tuple(x)
        for x in dup_spans(src.read(spark), "doc_id", "tokens", 4, 1)
        .select("span_hash", F.col("n_occ").alias("cnt"), "n_docs")
        .collect()
    )
    assert got_s == want_s


def test_run_follow_cli_maintains_both_indexes(spark, tmp_path):
    """One follower maintains the MinHash signature index AND the IVF
    ANN index off a single shared diff per window; both converge to a
    from-scratch rebuild of the final state."""
    import json as _json

    from pyspark.sql import types as T

    from qwery_spark.lake.merge import append_changes
    from qwery_spark.lake.table import LakeTable
    from qwery_spark.operators.annindex import build_ann_index
    from qwery_spark.operators.sigindex import (
        build_signature_index,
        index_candidates,
    )

    table = str(tmp_path / "src")
    sig = str(tmp_path / "sig")
    ann = str(tmp_path / "ann")
    state = str(tmp_path / "state.json")
    cent_file = str(tmp_path / "centroids.json")
    centroids = [[10.0, 0.0], [0.0, 10.0]]
    with open(cent_file, "w") as fh:
        _json.dump(centroids, fh)

    src = LakeTable.create(
        table,
        T.StructType([
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("embedding", T.ArrayType(T.DoubleType())),
        ]),
        n_buckets=2, key_col="doc_id", write_mode="mor",
    )

    def rows(lo, hi, ordinal0, tag):
        # embedding cell depends on (i + tag length) parity: the beta
        # window's re-upserts FLIP docs 0-3 across cells, so the
        # follower's cell-migration path is genuinely exercised
        return spark.createDataFrame(
            [(i, f"doc {i} {tag} " + " ".join(f"w{(i + k) % 9}" for k in range(8)),
              [9.0 + 0.1 * (i % 3), 0.2] if (i + len(tag)) % 2 == 0
              else [0.2, 9.0 + 0.1 * (i % 3)],
              "U", ordinal0 + i)
             for i in range(lo, hi)],
            "doc_id long, text string, embedding array<double>, op string, "
            "ordinal long",
        )

    append_changes(spark, src, rows(0, 20, 0, "alpha"))       # v1

    # window 1: update some docs (text + embedding flip), add, delete
    append_changes(spark, src, rows(0, 4, 1000, "beta"))       # v2
    r = _run_follow([
        "--table", table, "--state", state, "--from-version", "1",
        "--sigindex-table", sig,
        "--annindex-table", ann, "--annindex-centroids", cent_file,
        "--max-polls", "1",
    ])
    assert r.returncode == 0, r.stderr[-2000:]

    # window 2 on resume
    append_changes(spark, src, spark.createDataFrame(
        [(30, "totally new doc gamma one two three four five",
          [0.1, 9.5], "U", 2000),
         (7, None, None, "D", 2001)],
        "doc_id long, text string, embedding array<double>, op string, "
        "ordinal long",
    ))                                                          # v3
    r = _run_follow([
        "--table", table, "--state", state,
        "--sigindex-table", sig,
        "--annindex-table", ann, "--annindex-centroids", cent_file,
        "--auto-compact-views", "1",
        "--max-polls", "1",
    ])
    assert r.returncode == 0, r.stderr[-2000:]

    # the view-maintenance policy bounded both indexes' per-bucket file
    # counts (build + 2 window deltas would exceed 1 otherwise)
    from collections import Counter

    for t in (sig, ann):
        per_bucket = Counter(
            f["bucket"] for f in LakeTable(t).snapshot().files()
        )
        assert max(per_bucket.values()) <= 1, (t, per_bucket)

    # both maintained artifacts equal from-scratch rebuilds
    sig_rebuilt = build_signature_index(spark, src, str(tmp_path / "sig2"))
    got = sorted(tuple(x) for x in index_candidates(spark, LakeTable(sig)).collect())
    want = sorted(tuple(x) for x in index_candidates(spark, sig_rebuilt).collect())
    assert got == want

    ann_rebuilt = build_ann_index(spark, src, str(tmp_path / "ann2"), centroids)

    def cells(t):
        return sorted(
            tuple(x) for x in t.read(spark).select("doc_id", "cell").collect()
        )

    assert cells(LakeTable(ann)) == cells(ann_rebuilt)
    assert (30, 1) in cells(LakeTable(ann))
    assert all(d != 7 for d, _ in cells(LakeTable(ann)))


def test_run_follow_cli_cluster_every(spark, tmp_path):
    """--cluster-every N: the replica's compaction policy runs a full
    key-sorted rewrite after N replica data commits, automatically —
    and replication stays exact across it."""
    from qwery_spark.cdc.apply import apply_changes
    from qwery_spark.lake.table import LakeTable
    from qwery_spark.schema import EVENT_SCHEMA, TARGET_SCHEMA

    table = str(tmp_path / "src")
    replica = str(tmp_path / "rep")
    state = str(tmp_path / "state.json")
    src = LakeTable.create(table, TARGET_SCHEMA, n_buckets=2)
    rep_tbl = LakeTable.create(
        replica, TARGET_SCHEMA, n_buckets=2, write_mode="mor"
    )
    ev = make_events(1800, seed=92).to_pandas()

    # misuse is rejected up front
    bad = _run_follow(["--table", table, "--replica", replica,
                       "--state", state, "--cluster-every", "2",
                       "--max-polls", "1"])
    assert bad.returncode != 0 and "--cluster-every" in bad.stderr

    slices = [(0, 600), (600, 1200), (1200, 1800)]
    for i, (lo, hi) in enumerate(slices):
        df = spark.createDataFrame(ev.iloc[lo:hi], schema=EVENT_SCHEMA)
        apply_changes(spark, src, df, epoch_id=i, collect_stats=False)
        r = _run_follow([
            "--table", table, "--replica", replica, "--state", state,
            "--max-polls", "1", "--coarse",
            "--auto-compact-files", "50",  # count trigger effectively off
            "--cluster-every", "2",
        ] + (["--from-version", "0"] if i == 0 else []))
        assert r.returncode == 0, r.stderr[-2000:]

    # the cadence fired: some commit in the replica log is a FULL
    # sorted compact
    markers = []
    v = rep_tbl.current_version()
    for ver in range(v + 1):
        s = json.load(open(rep_tbl._manifest_path(ver))).get("summary") or {}
        if s.get("operation") == "compact" and s.get("sort_cols"):
            markers.append((ver, len(s.get("buckets", []))))
    assert markers, "cluster cadence never fired"
    assert any(nb == 2 for _, nb in markers)  # full coverage

    src_state = {
        (r_["doc_id"], tuple(r_["tokens"])) for r_ in src.read(spark).collect()
    }
    rep_state = {
        (r_["doc_id"], tuple(r_["tokens"]))
        for r_ in rep_tbl.read(spark).collect()
    }
    assert rep_state == src_state and len(src_state) > 0


def test_run_follow_cli_expired_resume_exits_with_rebuild_contract(
    spark, tmp_path
):
    """A follower restarted after its resume point fell out of the
    source's retention window exits 3 with a version_expired JSON error
    naming the rebuild contract — not a stack trace (round 6)."""
    from pyspark.sql import functions as F  # noqa: F401

    from qwery_spark.lake.merge import append_changes
    from qwery_spark.lake.table import LakeTable
    from qwery_spark.schema import TARGET_SCHEMA

    table = str(tmp_path / "src")
    replica = str(tmp_path / "rep")
    state = str(tmp_path / "state.json")
    src = LakeTable.create(table, TARGET_SCHEMA, n_buckets=2,
                           write_mode="mor")
    LakeTable.create(replica, TARGET_SCHEMA, n_buckets=2, write_mode="mor")
    for c in range(5):
        append_changes(spark, src, spark.createDataFrame(
            [(f"doc-{c}", [c], 1, "web", "U", c)],
            "doc_id string, tokens array<int>, n_tok int, source string, "
            "op string, ordinal long",
        ))
    # follower synced long ago at v1, then the source expired history
    with open(state, "w") as f:
        json.dump({"version": 1, "table": src.path}, f)
    src.expire_snapshots(keep_last=2)
    r = _run_follow([
        "--table", table, "--replica", replica, "--state", state,
        "--max-polls", "1", "--poll", "0.1",
    ])
    assert r.returncode == 3, (r.returncode, r.stderr[-1500:])
    err_line = next(
        ln for ln in r.stderr.splitlines() if '"version_expired"' in ln
    )
    err = json.loads(err_line)
    assert err["error"] == "version_expired"
    assert "rebuild" in err["message"]
    # the state file still names the expired version for the rebuild
    # script to read
    with open(state) as f:
        assert json.load(f)["version"] == 1


def test_run_follow_cli_join_view(spark, tmp_path):
    """Follower maintaining an incremental materialized JOIN view: the
    view is built at the resume point (pinning BOTH resume points into
    --state), then advanced per window off the shared fact diff while
    the dim side diffs its own commits — including a dim change landing
    BETWEEN the two runs. Final view equals a from-scratch join."""
    import json as _json

    from pyspark.sql import functions as F

    from qwery_spark.cdc.apply import apply_changes
    from qwery_spark.lake.merge import append_changes
    from qwery_spark.lake.table import LakeTable
    from qwery_spark.schema import EVENT_SCHEMA, TARGET_SCHEMA

    table = str(tmp_path / "src")
    dim = str(tmp_path / "dim")
    view = str(tmp_path / "view")
    state = str(tmp_path / "state.json")
    src = LakeTable.create(table, TARGET_SCHEMA, n_buckets=2)
    ev = make_events(1200, seed=23).to_pandas()
    apply_changes(spark, src,
                  spark.createDataFrame(ev.iloc[:600], schema=EVENT_SCHEMA),
                  epoch_id=0, collect_stats=False)
    from pyspark.sql import types as T

    dim_tbl = LakeTable.create(
        dim,
        T.StructType([T.StructField("source", T.StringType()),
                      T.StructField("trust", T.LongType())]),
        n_buckets=2, key_col="source",
    )
    srcs = [r["source"] for r in
            src.read(spark).select("source").distinct().collect()]
    append_changes(spark, dim_tbl, spark.createDataFrame(
        [(s, len(s), "U", i) for i, s in enumerate(sorted(srcs))],
        "source string, trust long, op string, ordinal long"))

    join_args = [
        "--join-table", view, "--join-dim", dim, "--join-fk", "source",
        "--join-left-cols", "n_tok", "--join-right-cols", "trust",
    ]
    # first run: builds the view at the pinned start, drains window 1
    apply_changes(spark, src,
                  spark.createDataFrame(ev.iloc[600:900], schema=EVENT_SCHEMA),
                  epoch_id=1, collect_stats=False)
    r = _run_follow([
        "--table", table, "--state", state, "--from-version", "1",
        *join_args, "--max-polls", "1",
    ])
    assert r.returncode == 0, r.stderr[-2000:]
    st = _json.load(open(state))
    assert st["dim_version"] == 1  # pinned at the build

    # between runs: a dim trust bump AND a new fact window
    append_changes(spark, dim_tbl, spark.createDataFrame(
        [(sorted(srcs)[0], 999, "U", 100)],
        "source string, trust long, op string, ordinal long"))
    apply_changes(spark, src,
                  spark.createDataFrame(ev.iloc[900:1200], schema=EVENT_SCHEMA),
                  epoch_id=2, collect_stats=False)
    r = _run_follow([
        "--table", table, "--state", state, *join_args, "--max-polls", "1",
    ])
    assert r.returncode == 0, r.stderr[-2000:]
    assert _json.load(open(state))["dim_version"] == 2

    got = sorted(
        tuple(x)
        for x in LakeTable(view).read(spark)
        .select("doc_id", "source", "n_tok", "trust").collect()
    )
    want = sorted(
        tuple(x)
        for x in src.read(spark).select("doc_id", "source", "n_tok")
        .join(dim_tbl.read(spark), "source")
        .select("doc_id", "source", "n_tok", "trust").collect()
    )
    assert got == want
    # an existing view with a pre-join-era state file (no dim_version)
    # is refused with the rebuild contract, not silently mis-resumed
    st.pop("dim_version", None)
    with open(state, "w") as f:
        _json.dump(st, f)
    bad = _run_follow([
        "--table", table, "--state", state, *join_args, "--max-polls", "1",
    ])
    assert bad.returncode != 0 and "no dim_version" in bad.stderr


@pytest.mark.parametrize("args, message", [
    ([], "need --sink, --replica, --agg-table"),
    (["--agg-table", "agg"], "--agg-table requires --agg-group"),
    (["--join-table", "view", "--join-dim", "dim"],
     "--join-table requires --join-dim, --join-fk and --join-right-cols"),
    (["--annindex-table", "ann"],
     "--annindex-table requires --annindex-centroids"),
], ids=["no-output", "agg-no-group", "join-no-fk", "ann-no-centroids"])
def test_run_follow_cli_argument_errors(tmp_path, args, message):
    """Misuse exits 2 with its usage message before any Spark session
    starts (so these cost one interpreter start each)."""
    r = _run_follow(["--table", str(tmp_path / "src"),
                     "--state", str(tmp_path / "state.json"), *args],
                    timeout=120)
    assert r.returncode == 2, (r.returncode, r.stderr[-1500:])
    assert message in r.stderr
    assert not os.path.exists(tmp_path / "state.json")
