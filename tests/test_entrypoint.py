"""jobs/run_ingest.py (the spark-submit vehicle) driven in-process, and
the kafka wire-format decoder on a mocked kafka frame."""

import json
import os
import sys

import pandas as pd

from qwery_spark.datagen import make_events, write_event_chunks
from qwery_spark.lake.table import LakeTable
from qwery_spark.streaming.stream import parse_kafka_events

from tests.helpers import assert_state_equals_oracle

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_run_ingest_entrypoint(spark, tmp_table_dir):
    events = make_events(2000, seed=97)
    ev_dir = os.path.join(tmp_table_dir, "events")
    write_event_chunks(events, ev_dir, 4)
    sys.path.insert(0, os.path.join(REPO, "jobs"))
    import run_ingest

    rc = run_ingest.main([
        "--events", ev_dir,
        "--table", os.path.join(tmp_table_dir, "lake"),
        "--checkpoint", os.path.join(tmp_table_dir, "ckpt"),
        "--lineage", os.path.join(tmp_table_dir, "lineage"),
        "--create", "--mode", "mor", "--buckets", "8", "--compact-after",
    ])
    assert rc == 0
    tbl = LakeTable(os.path.join(tmp_table_dir, "lake"))
    assert tbl.snapshot().m["resolved"]  # compact-after ran
    assert_state_equals_oracle(spark, tbl, events.to_pandas())


def test_parse_kafka_events_wire_shape(spark):
    """Decode a mocked kafka frame (value JSON + partition/offset); a
    missing ordinal falls back to the kafka offset."""
    msgs = [
        (json.dumps({"ordinal": 7, "op": "I", "doc_id": "a", "tokens": [1, 2],
                     "n_tok": 2, "source": "web"}).encode(), 0, 100),
        (json.dumps({"op": "D", "doc_id": "b"}).encode(), 1, 101),  # no ordinal
    ]
    kafka_df = spark.createDataFrame(
        pd.DataFrame(msgs, columns=["value", "partition", "offset"]),
        schema="value binary, partition int, offset long",
    )
    out = parse_kafka_events(kafka_df).orderBy("ordinal").collect()
    assert [r["ordinal"] for r in out] == [7, 101]
    assert out[0]["doc_id"] == "a" and list(out[0]["tokens"]) == [1, 2]
    assert out[1]["op"] == "D" and out[1]["tokens"] is None


def test_per_partition_lineage(spark, tmp_table_dir):
    """Batches carrying a _partition column (kafka tail) produce one
    lineage row per source partition plus the batch-total row."""
    from pyspark.sql import functions as F

    from qwery_spark.cdc.apply import apply_changes, read_lineage
    from qwery_spark.schema import TARGET_SCHEMA

    events = make_events(1000, seed=107)
    df = spark.createDataFrame(events.to_pandas()).withColumn(
        "_partition", (F.col("ordinal") % 3).cast("int")
    )
    tbl = LakeTable.create(os.path.join(tmp_table_dir, "t"), TARGET_SCHEMA, n_buckets=4,
                           write_mode="mor")
    apply_changes(spark, tbl, df, epoch_id=0,
                  lineage_dir=os.path.join(tmp_table_dir, "lin"))
    lin = read_lineage(spark, os.path.join(tmp_table_dir, "lin")).toPandas()
    parts = sorted(lin["partition"])
    assert parts == [-1, 0, 1, 2]
    total = lin[lin.partition == -1].iloc[0]
    per_part = lin[lin.partition >= 0]
    assert per_part["rows_in"].sum() == total["rows_in"]
    assert per_part["ordinal_min"].min() == total["ordinal_min"]
    assert per_part["ordinal_max"].max() == total["ordinal_max"]
