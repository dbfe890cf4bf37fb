"""Physical-plan quality gates: the plan shape IS part of the contract.
A correct-but-mis-planned operator (scan without pushdown, dim join
without broadcast, dedup with an extra shuffle) fails here even though
its results match the oracle."""

import re

import pytest

from qwery_spark.suite import REGISTRY

SF = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    df = REGISTRY[name].fn(spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_and_column_pruning(spark):
    p = _plan(spark, "q06_forecast_revenue")
    assert "PushedFilters: [" in p and "IsNotNull(l_shipdate)" in p
    m = re.search(r"ReadSchema: ([^\n]*)", p)
    read = m.group(1)
    # only the 4 needed columns reach the scan
    assert "l_quantity" in read and "l_orderkey" not in read and "l_tax" not in read


def test_star_join_broadcasts_dims(spark):
    assert _plan(spark, "q05_nation_revenue").count("BroadcastHashJoin") >= 3


def test_topk_avoids_global_sort(spark):
    assert "TakeOrderedAndProject" in _plan(spark, "q_top10_orders")


def test_aggregations_single_shuffle(spark):
    for q in ("q01_pricing_summary", "dedup_exact"):
        p = _plan(spark, q)
        assert "HashAggregate" in p and p.count("Exchange") == 1, q


def test_ann_probe_broadcasts(spark):
    assert "BroadcastExchange" in _plan(spark, "ann_cosine_topk")


def test_lsh_topk_operator_single_branch(spark):
    """operators/similarity.lsh_topk resolves the probe driver-side: the
    remaining plan is ONE corpus branch (scan→filter→topk) — no join of
    any kind, and the hyperplane evaluation appears once."""
    from qwery_spark.operators.similarity import lsh_topk
    from qwery_spark.suite import load

    e = load(spark, SF, "embeddings")
    p = (
        lsh_topk(e, query_id=0, k=5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Join" not in p and "Cartesian" not in p
    assert "TakeOrderedAndProject" in p


def _spy_write_plans(monkeypatch) -> list:
    """Record the executed plan of every lake write (merge._stage_write)."""
    import qwery_spark.lake.merge as M

    plans = []
    orig = M._stage_write

    def spy(df, *a, **k):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return orig(df, *a, **k)

    monkeypatch.setattr(M, "_stage_write", spy)
    return plans


def _keyed_batch(spark, keys, ordinal: int):
    """A key-unique change batch built from local rows, so its plan
    carries no aggregate or exchange of its own."""
    return spark.createDataFrame(
        [(f"k{i}", "U", ordinal, [i], 1, "web") for i in keys],
        "doc_id string, op string, ordinal bigint, tokens array<int>, "
        "n_tok int, source string",
    )


def test_mor_dedup_is_single_shuffle(spark, tmp_table_dir, monkeypatch):
    """append_changes' write plan: the fused dedup+bucket layout stays
    ONE exchange — the bucket repartition satisfies the
    groupBy(_bucket, key) clustering."""
    from qwery_spark.datagen import make_events
    from qwery_spark.lake.merge import append_changes
    from qwery_spark.lake.table import LakeTable
    from qwery_spark.schema import EVENT_SCHEMA, TARGET_SCHEMA

    plans = _spy_write_plans(monkeypatch)
    tbl = LakeTable.create(tmp_table_dir + "/t", TARGET_SCHEMA, n_buckets=16,
                           write_mode="mor")
    ev = spark.createDataFrame(make_events(500, seed=1).to_pandas(), schema=EVENT_SCHEMA)
    append_changes(spark, tbl, ev, epoch_id=0)
    assert plans[-1].count("Exchange") == 1, plans[-1]


def test_lww_dedup_partial_aggregates(spark):
    """max_by dedup must partial-aggregate map-side (skew defense)."""
    from qwery_spark.cdc.dedup import lww_dedup
    from qwery_spark.datagen import make_events
    from qwery_spark.schema import EVENT_SCHEMA

    ev = spark.createDataFrame(make_events(500, seed=2).to_pandas(), schema=EVENT_SCHEMA)
    dd = lww_dedup(ev.drop("ddl"))
    p = dd._jdf.queryExecution().executedPlan().toString()
    assert "partial_max_by" in p, p


def _subtrees(plan: str, node: str):
    """Each plan line naming ``node``, with the lines of its subtree
    (the following lines indented deeper than it)."""
    lines = plan.splitlines()

    def depth(line):
        return len(line) - len(line.lstrip(" :+-"))

    for i, line in enumerate(lines):
        if node in line:
            sub = []
            for below in lines[i + 1:]:
                if depth(below) <= depth(line):
                    break
                sub.append(below)
            yield line, sub


def test_broadcast_merge_no_target_shuffle(spark, tmp_table_dir, monkeypatch):
    """The broadcast merge's write plan: the target side reaches the
    write without any hash-partitioning exchange — every hash exchange
    is the batch winners' bucket shuffle, and none has the target's
    parquet scan beneath it. The load before it, into an empty table,
    is one bucket shuffle (its in-shuffle LWW) with no cached relation."""
    import qwery_spark.lake.merge as M
    from qwery_spark.lake.table import LakeTable
    from qwery_spark.schema import TARGET_SCHEMA

    plans = _spy_write_plans(monkeypatch)
    monkeypatch.setattr(M, "LWW_MAX_TARGET_ROWS", 0)
    tbl = LakeTable.create(tmp_table_dir + "/t", TARGET_SCHEMA, n_buckets=8)
    M.merge_changes(spark, tbl, _keyed_batch(spark, range(2000), 1), epoch_id=0)
    assert plans[-1].count("Exchange") == 1, plans[-1]
    assert "Exchange hashpartitioning(_bucket" in plans[-1]
    assert "InMemoryRelation" not in plans[-1]
    st = M.merge_changes(spark, tbl, _keyed_batch(spark, range(1500, 2500), 2),
                         epoch_id=1)
    assert st.summary["merge_arm"] == "broadcast"
    assert st.rows_upserted == 1000
    plan = plans[-1]
    assert "BroadcastHashJoin" in plan and "LeftOuter" in plan
    hashed = list(_subtrees(plan, "Exchange hashpartitioning"))
    assert hashed, plan
    for line, sub in hashed:
        assert "Exchange hashpartitioning(_bucket" in line, line
        assert not any("FileScan" in below for below in sub), plan


def test_cow_apply_is_single_bucket_shuffle(spark, tmp_table_dir, monkeypatch):
    """A COW apply_changes epoch hands its raw batch — keys repeated —
    to merge_changes, which resolves the in-batch LWW inside its own
    bucket shuffle: the write plan holds exactly ONE exchange, on
    _bucket, into an empty target and into a non-empty one (no per-key
    shuffle of the batch before it)."""
    from qwery_spark.cdc.apply import apply_changes
    from qwery_spark.datagen import make_events
    from qwery_spark.lake.table import LakeTable
    from qwery_spark.schema import EVENT_SCHEMA, TARGET_SCHEMA

    plans = _spy_write_plans(monkeypatch)
    tbl = LakeTable.create(tmp_table_dir + "/t", TARGET_SCHEMA, n_buckets=8)
    batches = [make_events(2000, seed=3), make_events(500, seed=5, start_ordinal=2000)]
    for epoch, ev in enumerate(batches):
        pdf = ev.to_pandas()
        assert pdf["doc_id"].dropna().duplicated().any()
        res = apply_changes(spark, tbl, spark.createDataFrame(pdf, schema=EVENT_SCHEMA),
                            epoch_id=epoch)
        assert res.merge.summary["merge_arm"] == "lww"
        assert plans[-1].count("Exchange") == 1, (epoch, plans[-1])
        assert "Exchange hashpartitioning(_bucket" in plans[-1]


def test_broadcast_merge_single_target_scan(spark, tmp_table_dir, monkeypatch):
    """The broadcast COW merge (the at-scale arm — big touched sets)
    must scan the touched target buckets exactly ONCE: the left join is
    persisted, and the write plan (matched ∪ inserts) reads the cached
    blocks — no parquet FileScan of the target can appear in it
    (round-2 verdict #3). Forced by dropping the target-size gate: small
    tables otherwise take the lww arm (own gate below)."""
    import qwery_spark.lake.merge as M
    from qwery_spark.cdc.apply import apply_changes
    from qwery_spark.datagen import make_events
    from qwery_spark.lake.table import LakeTable
    from qwery_spark.schema import EVENT_SCHEMA, TARGET_SCHEMA

    monkeypatch.setattr(M, "LWW_MAX_TARGET_ROWS", 0)
    tbl = LakeTable.create(tmp_table_dir + "/t", TARGET_SCHEMA, n_buckets=8)
    first = make_events(2000, seed=3)
    apply_changes(spark, tbl, spark.createDataFrame(first.to_pandas(), schema=EVENT_SCHEMA),
                  epoch_id=0)

    plans = _spy_write_plans(monkeypatch)
    more = make_events(500, seed=5, start_ordinal=2000)
    res = apply_changes(spark, tbl, spark.createDataFrame(more.to_pandas(), schema=EVENT_SCHEMA),
                        epoch_id=1)
    assert res.merge.summary["merge_arm"] == "broadcast"
    write_plan = plans[-1]
    # the write side reads the target through the persisted join output:
    # the FIRST scan node in the plan is an InMemoryTableScan (the
    # matched branch — the target-volume branch), and the matched-keys
    # derivation for the insert anti-join reads the same cache (_mk).
    # FileScan strings appear only INSIDE InMemoryRelation dumps (the
    # cached relation's stored lineage, kept for recompute-on-executor-
    # loss — never executed as long as the cache lives).
    assert "InMemoryTableScan" in write_plan
    assert write_plan.index("InMemoryTableScan") < write_plan.index("FileScan")
    assert "isnotnull(_mk" in write_plan
    # every FileScan is a cached relation's stored plan: each occurrence
    # is preceded by more InMemoryRelation markers than executed scans
    # would allow (textual proxy; the persist+count in the broadcast
    # arm is the mechanism)
    assert write_plan.count("InMemoryRelation") >= write_plan.count("FileScan")


def test_single_pass_merge_one_shuffle_no_join(spark, tmp_table_dir, monkeypatch):
    """The lww COW merge runs as ONE union+LWW aggregation: the write
    plan must contain NO join of any kind, exactly one hash-partitioned
    exchange (the bucket shuffle), and one parquet FileScan of the
    target (target read exactly once)."""
    from qwery_spark.cdc.apply import apply_changes
    from qwery_spark.datagen import make_events
    from qwery_spark.lake.table import LakeTable
    from qwery_spark.schema import EVENT_SCHEMA, TARGET_SCHEMA

    tbl = LakeTable.create(tmp_table_dir + "/t", TARGET_SCHEMA, n_buckets=8)
    first = make_events(2000, seed=3)
    apply_changes(spark, tbl, spark.createDataFrame(first.to_pandas(), schema=EVENT_SCHEMA),
                  epoch_id=0)

    plans = _spy_write_plans(monkeypatch)
    more = make_events(500, seed=5, start_ordinal=2000)
    res = apply_changes(spark, tbl, spark.createDataFrame(more.to_pandas(), schema=EVENT_SCHEMA),
                        epoch_id=1)
    assert res.merge.summary["merge_arm"] == "lww"
    write_plan = plans[-1]
    # everything after the first InMemoryTableScan is the cached batch
    # relation's STORED lineage (kept for recompute-on-executor-loss,
    # never executed while the cache lives) — assert on the executed
    # section only
    executed = write_plan.split("InMemoryTableScan")[0]
    assert "Join" not in executed, "lww merge must not join"
    assert "Union" in executed
    assert executed.count("Exchange hashpartitioning") == 1
    # target parquet read exactly once (the batch side reads the cache)
    assert executed.count("FileScan parquet") == 1


def test_mor_replicate_adds_one_shuffle_to_its_feed(spark, tmp_table_dir, monkeypatch):
    """A replicate into a MOR replica adds exactly ONE exchange to the
    read_changes feed it consumes: the raw window events go straight to
    append_changes, whose bucket shuffle also resolves the in-batch LWW
    (no separate per-key winners shuffle). Replica state and merge
    counts still match the source window."""
    from pyspark.sql import functions as F

    from qwery_spark.lake.changes import read_changes, replicate
    from qwery_spark.lake.merge import append_changes
    from qwery_spark.lake.table import LakeTable
    from qwery_spark.schema import TARGET_SCHEMA

    src = LakeTable.create(tmp_table_dir + "/src", TARGET_SCHEMA, n_buckets=8,
                           write_mode="mor")
    dst = LakeTable.create(tmp_table_dir + "/dst", TARGET_SCHEMA, n_buckets=8,
                           write_mode="mor")
    append_changes(spark, src, _keyed_batch(spark, range(200), 1))  # v1
    replicate(spark, src, dst, 0, 1)
    append_changes(spark, src, _keyed_batch(spark, range(66), 2))   # v2
    append_changes(spark, src, _keyed_batch(spark, range(66, 100), 3)
                   .withColumn("op", F.lit("D")))                   # v3

    feed = read_changes(spark, src, 1, 3, granular=False)
    feed_exchanges = (
        feed._jdf.queryExecution().executedPlan().toString().count("Exchange")
    )
    plans = _spy_write_plans(monkeypatch)
    stats = replicate(spark, src, dst, 1, 3, feed=feed)
    assert plans[-1].count("Exchange") == feed_exchanges + 1, plans[-1]
    assert (stats.rows_upserted, stats.rows_deleted) == (66, 34)

    def state(t):
        return sorted(
            (r["doc_id"], tuple(r["tokens"])) for r in t.read(spark).collect()
        )

    assert state(dst) == state(src) and len(state(src)) == 166


def test_ntile_no_single_partition_window(spark):
    """q_ntile must rank via the range-partition + offset scheme — a
    global Window.orderBy would show an Exchange SinglePartition that
    funnels every row through one task."""
    p = _plan(spark, "q_ntile_quartiles")
    assert "SinglePartition" not in p
    # the row_number window is partitioned by _pid (the range-partition
    # id materialized by the checkpointed first pass), never global
    assert "windowspecdefinition(_pid" in p


def test_sharded_packing_no_single_partition(spark):
    """tok_packing_sharded's running-sum window must partition by the
    shard (parallel across shards) — never the global-order window's
    Exchange SinglePartition (the round-2 verdict's last single-task
    plan)."""
    from pyspark.sql import functions as F

    from qwery_spark.operators.packing import local_packs
    from qwery_spark.suite.cdc import _with_tokens

    base = _with_tokens(spark, SF).select(
        "ordinal",
        F.size("tokens").alias("n_tok"),
        (F.col("ordinal") % 8).cast("int").alias("shard"),
    )
    p = (
        local_packs(base, 64, "n_tok", ["ordinal"], "shard")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "SinglePartition" not in p
    assert "windowspecdefinition(shard" in p
    # ...and the full suite query (offset join + rollup) stays clean too
    assert "SinglePartition" not in _plan(spark, "tok_packing_sharded")


def test_engine_replay_returns_lazy_scan(spark):
    """cdc_engine_replay's result must be a parquet scan (kept scratch
    dir), not a driver-side collected LocalTableScan."""
    p = _plan(spark, "cdc_engine_replay")
    assert "LocalTableScan" not in p
    assert "parquet" in p.lower()


def test_cap_sampler_window_group_limit(spark):
    """sample_cap_per_group's rk<=40 must push below the sort as a
    WindowGroupLimit (per-partition 40-row heap), not sort whole groups."""
    assert "WindowGroupLimit" in _plan(spark, "sample_cap_per_group")


def test_chunking_query_no_shuffle_of_chunks(spark):
    """Chunk generation is map-only; the ONE exchange allowed is the
    round-7 pre-derivation spread of the RAW events rows (load_spread —
    the expensive slice+md5 synthesis must not run inside the input
    file's few scan tasks). Nothing downstream of the Generate may
    shuffle: in the top-down plan dump the spread exchange appears
    BELOW the chunk Generate, and it is the only exchange."""
    p = _plan(spark, "tok_chunking")
    assert p.count("Exchange") == 1 and "REPARTITION_BY_NUM" in p
    assert p.index("Generate") < p.index("Exchange")


def test_decontaminate_broadcasts_benchmark(spark):
    p = _plan(spark, "text_decontaminate")
    assert "BroadcastHashJoin" in p


def test_sigindex_candidates_bucket_join(spark, tmp_path):
    """index_candidates: the (band, minhash) self-join must be an
    equi-join over the durable index parquet — never a nested loop or
    cartesian — and no signature recomputation subtree (no explode of
    shingles; the only explodes unpack the stored sigs arrays)."""
    from pyspark.sql import functions as F, types as T

    from qwery_spark.lake.merge import append_changes
    from qwery_spark.lake.table import LakeTable
    from qwery_spark.operators.sigindex import (
        build_signature_index,
        index_candidates,
    )

    docs = LakeTable.create(
        str(tmp_path / "docs"),
        T.StructType([T.StructField("doc_id", T.LongType()),
                      T.StructField("text", T.StringType())]),
        n_buckets=2, key_col="doc_id", write_mode="mor",
    )
    rows = [(i, f"w{i} w{i+1} w{i+2} w{i+3} tail words", "U", i)
            for i in range(30)]
    append_changes(spark, docs, spark.createDataFrame(
        rows, "doc_id long, text string, op string, ordinal long"))
    idx = build_signature_index(spark, docs, str(tmp_path / "idx"))
    p = (
        index_candidates(spark, idx)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "SortMergeJoin" in p or "ShuffledHashJoin" in p or "BroadcastHashJoin" in p
    # both sides read the index parquet (sigs struct in the scan
    # schema), never the docs table (its text column would appear)
    assert "sigs:array<struct<band" in p
    assert "text:string" not in p


def test_incremental_agg_delta_single_shuffle(spark, tmp_path):
    """update_agg's delta fold: ONE exchange on the group column sized
    by the window (partial-agg'd map-side), then a broadcast merge into
    the small rollup — the base table never rescanned."""
    from pyspark.sql import types as T

    from qwery_spark.lake.changes import read_changes
    from qwery_spark.lake.merge import append_changes
    from qwery_spark.lake.table import LakeTable

    src = LakeTable.create(
        str(tmp_path / "src"),
        T.StructType([T.StructField("doc_id", T.LongType()),
                      T.StructField("lang", T.StringType()),
                      T.StructField("n_chars", T.LongType())]),
        n_buckets=2, key_col="doc_id", write_mode="mor",
    )
    ddl = "doc_id long, lang string, n_chars long, op string, ordinal long"
    append_changes(spark, src, spark.createDataFrame(
        [(i, "en", 10 * i, "U", i) for i in range(40)], ddl))
    v1 = src.current_version()
    append_changes(spark, src, spark.createDataFrame(
        [(0, "de", 999, "U", 100)], ddl))
    from qwery_spark.operators.materialize import agg_deltas

    feed = read_changes(spark, src, v1, include_preimages=True)
    # the PRODUCT delta builder (update_agg calls this exact function)
    deltas = agg_deltas(feed, "lang", ["n_chars"])
    p = deltas._jdf.queryExecution().executedPlan().toString()
    # partial + final HashAggregate around exactly one group-by exchange
    assert p.count("Exchange hashpartitioning(lang") == 1
    assert "HashAggregate" in p


def test_changelog_key_set_reaches_parquet_scan(spark, tmp_path, monkeypatch):
    """The key-set diff restriction must land as a pushed-down In
    predicate on the parquet scans of BOTH diff sides — the row-group
    pruning it exists for happens nowhere else."""
    import qwery_spark.lake.changes as ch
    from qwery_spark.lake.changes import read_changes
    from qwery_spark.lake.merge import append_changes
    from qwery_spark.lake.table import LakeTable
    from qwery_spark.schema import TARGET_SCHEMA

    monkeypatch.setattr(ch, "_KEY_SET_MIN_KEPT_ROWS", 0)
    tbl = LakeTable.create(
        str(tmp_path / "t"), TARGET_SCHEMA, n_buckets=2, write_mode="mor"
    )

    def batch(rows):
        return spark.createDataFrame(
            rows,
            "doc_id string, tokens array<int>, n_tok int, source string, "
            "op string, ordinal long",
        )

    for c in range(10):
        append_changes(spark, tbl, batch(
            [(f"doc-{c * 50 + i:04d}", [i], 1, "web", "U", c * 50 + i)
             for i in range(50)]))
    v = tbl.current_version()
    append_changes(spark, tbl, batch(
        [("doc-0000", [9], 1, "web", "U", 900),
         ("doc-0499", [9], 1, "web", "U", 901)]))

    df = read_changes(spark, tbl, v)
    plan = df._jdf.queryExecution().executedPlan().toString()
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    with_in = [p for p in pushed if "In(doc_id" in p]
    # both the before side and the after side scans carry the In
    assert len(with_in) >= 2, plan[:4000]


def test_join_view_window_batch_broadcast_semi_joins(spark, tmp_path):
    """update_join's window recompute (joinview.window_batch — the
    product function): the affected-key set and the window's dim keys
    reach the base scans as BROADCAST left-semi joins; the final
    fact->dim decoration broadcasts the (window-bounded) dim slice.
    No sort-merge join, no cartesian product — the maintenance plan
    stays window-sized no matter how deep the base tables are."""
    from pyspark.sql import types as T

    from qwery_spark.lake.merge import append_changes
    from qwery_spark.lake.table import LakeTable
    from qwery_spark.operators.joinview import window_batch

    left = LakeTable.create(
        str(tmp_path / "fact"),
        T.StructType([T.StructField("doc_id", T.LongType()),
                      T.StructField("source", T.StringType()),
                      T.StructField("n_chars", T.LongType())]),
        n_buckets=2, key_col="doc_id", write_mode="mor",
    )
    right = LakeTable.create(
        str(tmp_path / "dim"),
        T.StructType([T.StructField("source", T.StringType()),
                      T.StructField("weight", T.LongType())]),
        n_buckets=2, key_col="source",
    )
    append_changes(spark, left, spark.createDataFrame(
        [(i, f"s{i % 3}", i, "U", i) for i in range(30)],
        "doc_id long, source string, n_chars long, op string, ordinal long"))
    append_changes(spark, right, spark.createDataFrame(
        [(f"s{j}", j, "U", j) for j in range(3)],
        "source string, weight long, op string, ordinal long"))
    affected = spark.createDataFrame([(0,), (1,)], "doc_id long")
    batch = window_batch(
        spark, left, right, affected, "source", ["n_chars"], ["weight"],
        left.current_version(), right.current_version(), "inner",
    )
    p = batch._jdf.queryExecution().executedPlan().toString()
    assert p.count("BroadcastHashJoin") >= 3  # 2 semi probes + dim decorate
    assert "LeftSemi" in p
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
