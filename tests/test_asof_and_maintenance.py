"""The as-of join matches hand-derived rows; lake snapshot expiry +
orphan vacuum preserve state."""

import pandas as pd

from qwery_spark.operators.asof import asof_join


def test_asof_strategies_agree(spark):
    left = spark.createDataFrame(
        pd.DataFrame({
            "k": ["a", "a", "a", "b", "b", "c"],
            "t": [1, 5, 10, 2, 3, 4],
        })
    )
    right = spark.createDataFrame(
        pd.DataFrame({
            "k": ["a", "a", "b", "z"],
            "t": [2, 5, 3, 1],
            "v": [20.0, 50.0, 30.0, 99.0],
        })
    )
    w = asof_join(left, right, key="k", time_col="t").orderBy("k", "t").collect()
    got_w = [(r["k"], r["t"], r["right_v"]) for r in w]
    expected = [
        ("a", 1, None),     # nothing at or before t=1
        ("a", 5, 50.0),     # exact-time right row matches
        ("a", 10, 50.0),    # carried forward
        ("b", 2, None),
        ("b", 3, 30.0),
        ("c", 4, None),     # key with no right rows at all
    ]
    assert got_w == expected


def test_expire_and_vacuum(spark, tmp_table_dir):
    from qwery_spark.cdc.apply import apply_changes
    from qwery_spark.datagen import make_events
    from qwery_spark.lake.merge import compact
    from qwery_spark.lake.table import LakeTable
    from qwery_spark.schema import EVENT_SCHEMA, TARGET_SCHEMA

    tbl = LakeTable.create(tmp_table_dir + "/t", TARGET_SCHEMA, n_buckets=4,
                           write_mode="mor")
    ev = make_events(2000, seed=61)
    for i in range(2):
        df = spark.createDataFrame(ev.slice(i * 1000, 1000).to_pandas(), schema=EVENT_SCHEMA)
        apply_changes(spark, tbl, df, epoch_id=i)
    compact(spark, tbl)
    before = tbl.read(spark).orderBy("doc_id").toPandas()

    dropped = tbl.expire_snapshots(keep_last=1)
    assert dropped >= 2
    removed = tbl.vacuum(grace_sec=0)  # single-writer test
    assert removed > 0  # pre-compaction delta files were orphaned
    after = tbl.read(spark).orderBy("doc_id").toPandas()
    assert list(before["doc_id"]) == list(after["doc_id"])
    # epoch replay protection survives expiry
    assert {0, 1} <= tbl.snapshot().applied_epochs
    r = apply_changes(spark, tbl, spark.createDataFrame(
        ev.slice(0, 1000).to_pandas(), schema=EVENT_SCHEMA), epoch_id=0)
    assert r.merge.skipped


def test_sorted_compaction_orders_rows_within_buckets(spark, tmp_table_dir):
    """compact(sort_cols=['doc_id']) is the Iceberg sort-order rewrite:
    each bucket's file comes out key-sorted (row-group min/max stats
    then prune point lookups), and the resolved state is unchanged."""
    import os

    from pyspark.sql import functions as F

    from qwery_spark.cdc.apply import apply_changes
    from qwery_spark.datagen import make_events
    from qwery_spark.lake.merge import compact
    from qwery_spark.lake.table import DATA_DIR, LakeTable
    from qwery_spark.schema import EVENT_SCHEMA, TARGET_SCHEMA

    tbl = LakeTable.create(tmp_table_dir + "/t", TARGET_SCHEMA, n_buckets=8,
                           write_mode="mor")
    ev = make_events(3000, seed=23)
    apply_changes(spark, tbl, spark.createDataFrame(ev.to_pandas(), schema=EVENT_SCHEMA),
                  epoch_id=0)
    before = sorted(
        (r["doc_id"], list(r["tokens"] or []))
        for r in tbl.read(spark).collect()
    )
    res = compact(spark, tbl, sort_cols=["doc_id"])
    assert res["compacted_buckets"] == 8
    after = sorted(
        (r["doc_id"], list(r["tokens"] or []))
        for r in tbl.read(spark).collect()
    )
    assert before == after  # state unchanged
    # every post-compaction file is internally sorted by doc_id
    snap = tbl.snapshot()
    for f in snap.files():
        rows = spark.read.parquet(os.path.join(tbl.path, f["path"])).select("doc_id").collect()
        ids = [r["doc_id"] for r in rows]
        assert ids == sorted(ids), f["path"]
