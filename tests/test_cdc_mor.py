"""Merge-on-read write mode: same semantics as COW (oracle-verified),
O(batch) writes, read-time resolution, compaction."""

import pandas as pd

from qwery_spark.cdc.apply import apply_changes
from qwery_spark.datagen import make_events
from qwery_spark.lake.merge import compact
from qwery_spark.lake.table import LakeTable
from qwery_spark.schema import EVENT_SCHEMA, TARGET_SCHEMA

from tests.helpers import assert_state_equals_oracle, table_state


def _mk(tmp_table_dir, n_buckets=8):
    return LakeTable.create(tmp_table_dir + "/tbl", TARGET_SCHEMA, n_buckets=n_buckets,
                            write_mode="mor")


def _df(spark, pa_table):
    return spark.createDataFrame(pa_table.to_pandas(), schema=EVENT_SCHEMA)


def test_mor_multi_batch_matches_oracle(spark, tmp_table_dir):
    tbl = _mk(tmp_table_dir)
    events = make_events(6000, seed=31)
    for i, (lo, hi) in enumerate([(0, 2000), (2000, 4000), (4000, 6000)]):
        apply_changes(spark, tbl, _df(spark, events.slice(lo, hi - lo)), epoch_id=i)
    assert not tbl.snapshot().m["resolved"]
    assert_state_equals_oracle(spark, tbl, events.to_pandas())


def test_mor_compaction_preserves_state(spark, tmp_table_dir):
    tbl = _mk(tmp_table_dir)
    events = make_events(5000, seed=37)
    for i, (lo, hi) in enumerate([(0, 2500), (2500, 5000)]):
        apply_changes(spark, tbl, _df(spark, events.slice(lo, hi - lo)), epoch_id=i)
    files_before = len(tbl.snapshot().files())
    r = compact(spark, tbl)
    assert r["compacted_buckets"] > 0
    assert tbl.snapshot().m["resolved"]
    assert len(tbl.snapshot().files()) <= files_before
    assert_state_equals_oracle(spark, tbl, events.to_pandas())
    # post-compaction ingest continues correctly
    more = make_events(2000, seed=41, start_ordinal=5000)
    apply_changes(spark, tbl, _df(spark, more), epoch_id=2)
    import pyarrow as pa

    allev = pa.concat_tables([events, more])
    assert_state_equals_oracle(spark, tbl, allev.to_pandas())


def test_mor_straggler_and_tombstone(spark, tmp_table_dir):
    tbl = _mk(tmp_table_dir)
    cols = ["ordinal", "op", "doc_id", "tokens", "n_tok", "source", "ddl"]
    b1 = pd.DataFrame([
        (1, "I", "doc-a", [1, 2], 2, "web", None),
        (10, "D", "doc-a", None, None, None, None),
        (11, "I", "doc-b", [7], 1, "web", None),
    ], columns=cols)
    b2 = pd.DataFrame([
        (5, "U", "doc-a", [5], 1, "web", None),   # straggler below tombstone
        (3, "U", "doc-b", [9], 1, "web", None),   # straggler below live row
    ], columns=cols)
    apply_changes(spark, tbl, spark.createDataFrame(b1, schema=EVENT_SCHEMA), epoch_id=0)
    apply_changes(spark, tbl, spark.createDataFrame(b2, schema=EVENT_SCHEMA), epoch_id=1)
    state = table_state(spark, tbl)
    assert list(state.doc_id) == ["doc-b"]
    assert list(state.tokens.iloc[0]) == [7]
    assert_state_equals_oracle(spark, tbl, pd.concat([b1, b2]))


def test_mor_duplicate_epoch_idempotent(spark, tmp_table_dir):
    tbl = _mk(tmp_table_dir)
    events = make_events(2000, seed=43)
    df = _df(spark, events)
    apply_changes(spark, tbl, df, epoch_id=0)
    v1 = tbl.snapshot().version
    r2 = apply_changes(spark, tbl, df, epoch_id=0)
    assert r2.merge.skipped
    assert tbl.snapshot().version == v1
    assert_state_equals_oracle(spark, tbl, events.to_pandas())


def test_mor_then_cow_merge_on_same_table(spark, tmp_table_dir):
    """A COW-style merge on a table carrying unresolved MOR deltas must
    read the RESOLVED target (read_physical resolves per bucket)."""
    from qwery_spark.cdc.validate import split_valid
    from qwery_spark.lake.merge import merge_changes
    from pyspark.sql import functions as F

    tbl = _mk(tmp_table_dir)
    events = make_events(3000, seed=47)
    apply_changes(spark, tbl, _df(spark, events), epoch_id=0)  # MOR deltas
    more = make_events(1000, seed=53, start_ordinal=3000)
    df = _df(spark, more)
    valid, _ = split_valid(df.filter(F.col("op") != "DDL").drop("ddl"))
    merge_changes(spark, tbl, valid, epoch_id=1)  # explicit COW pass
    import pyarrow as pa

    assert_state_equals_oracle(spark, tbl, pa.concat_tables([events, more]).to_pandas())
