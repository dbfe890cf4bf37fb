"""End-to-end batch CDC correctness vs the single-threaded replay oracle.

Covers FIXTURES.md §F2 adversarial sub-fixtures: out-of-order within a
batch, low-ordinal stragglers across batches, delete-then-reinsert,
duplicate delivery (epoch idempotency).
"""

import numpy as np
import pandas as pd
import pytest

from qwery_spark.cdc.apply import apply_changes
from qwery_spark.datagen import make_events
from qwery_spark.lake.table import LakeTable
from qwery_spark.schema import EVENT_SCHEMA, TARGET_SCHEMA

from tests.helpers import assert_state_equals_oracle, table_state


def _mk_table(tmp_table_dir, n_buckets=8) -> LakeTable:
    return LakeTable.create(tmp_table_dir + "/tbl", TARGET_SCHEMA, n_buckets=n_buckets)


def _events_df(spark, pa_table):
    return spark.createDataFrame(pa_table.to_pandas(), schema=EVENT_SCHEMA)


def test_single_batch_matches_oracle(spark, tmp_table_dir):
    tbl = _mk_table(tmp_table_dir)
    events = make_events(5000, seed=7)
    df = _events_df(spark, events)
    res = apply_changes(spark, tbl, df, epoch_id=0)
    assert not res.merge.skipped
    assert res.rows_in == 5000
    assert res.rows_rejected > 0  # seeded 0.1% violations
    counters = assert_state_equals_oracle(spark, tbl, events.to_pandas())
    assert counters["rejected"] == res.rows_rejected


def test_multi_batch_matches_oracle(spark, tmp_table_dir):
    tbl = _mk_table(tmp_table_dir)
    events = make_events(6000, seed=11)
    n = events.num_rows
    for i, (lo, hi) in enumerate([(0, 2000), (2000, 4000), (4000, n)]):
        df = _events_df(spark, events.slice(lo, hi - lo))
        apply_changes(spark, tbl, df, epoch_id=i)
    assert_state_equals_oracle(spark, tbl, events.to_pandas())


def test_out_of_order_within_batch(spark, tmp_table_dir):
    """Shuffle event order inside the batch; ordinal stays authoritative."""
    tbl = _mk_table(tmp_table_dir)
    events = make_events(3000, seed=13).to_pandas()
    shuffled = events.sample(frac=1.0, random_state=99).reset_index(drop=True)
    df = spark.createDataFrame(shuffled, schema=EVENT_SCHEMA)
    apply_changes(spark, tbl, df, epoch_id=0)
    assert_state_equals_oracle(spark, tbl, events)


def _hand_events(rows):
    cols = ["ordinal", "op", "doc_id", "tokens", "n_tok", "source", "ddl"]
    return pd.DataFrame(rows, columns=cols)


def test_low_ordinal_straggler_across_batches(spark, tmp_table_dir):
    """An update with a LOWER ordinal arriving in a LATER batch must be
    ignored (last_ordinal guard) — FIXTURES.md adversarial case 2."""
    tbl = _mk_table(tmp_table_dir)
    b1 = _hand_events([
        (1, "I", "doc-a", [1, 2, 3], 3, "web", None),
        (5, "U", "doc-a", [9, 9], 2, "web", None),
    ])
    b2 = _hand_events([
        (3, "U", "doc-a", [7], 1, "web", None),  # straggler: ordinal 3 < 5
        (6, "I", "doc-b", [4], 1, "code", None),
    ])
    apply_changes(spark, tbl, spark.createDataFrame(b1, schema=EVENT_SCHEMA), epoch_id=0)
    apply_changes(spark, tbl, spark.createDataFrame(b2, schema=EVENT_SCHEMA), epoch_id=1)
    state = table_state(spark, tbl)
    row = state[state.doc_id == "doc-a"].iloc[0]
    assert list(row["tokens"]) == [9, 9], "straggler must not clobber newer row"
    assert_state_equals_oracle(spark, tbl, pd.concat([b1, b2]))


def test_delete_then_late_update_stays_deleted(spark, tmp_table_dir):
    """Delete at ordinal k; a straggler update with ordinal < k in a later
    batch must NOT resurrect the row (tombstone guard)."""
    tbl = _mk_table(tmp_table_dir)
    b1 = _hand_events([
        (1, "I", "doc-x", [1], 1, "web", None),
        (10, "D", "doc-x", None, None, None, None),
    ])
    b2 = _hand_events([
        (5, "U", "doc-x", [5, 5], 2, "web", None),  # pre-delete ordinal
    ])
    apply_changes(spark, tbl, spark.createDataFrame(b1, schema=EVENT_SCHEMA), epoch_id=0)
    apply_changes(spark, tbl, spark.createDataFrame(b2, schema=EVENT_SCHEMA), epoch_id=1)
    state = table_state(spark, tbl)
    assert len(state[state.doc_id == "doc-x"]) == 0
    assert_state_equals_oracle(spark, tbl, pd.concat([b1, b2]))


def test_delete_then_reinsert(spark, tmp_table_dir):
    tbl = _mk_table(tmp_table_dir)
    b1 = _hand_events([
        (1, "I", "doc-y", [1], 1, "web", None),
        (2, "D", "doc-y", None, None, None, None),
        (3, "I", "doc-y", [3, 3, 3], 3, "books", None),
    ])
    apply_changes(spark, tbl, spark.createDataFrame(b1, schema=EVENT_SCHEMA), epoch_id=0)
    state = table_state(spark, tbl)
    row = state[state.doc_id == "doc-y"].iloc[0]
    assert list(row["tokens"]) == [3, 3, 3]
    assert_state_equals_oracle(spark, tbl, b1)


def test_duplicate_delivery_is_idempotent(spark, tmp_table_dir):
    """Re-delivering a committed epoch (crash-before-checkpoint replay)
    must be a no-op — FIXTURES.md adversarial case 4."""
    tbl = _mk_table(tmp_table_dir)
    events = make_events(2000, seed=3)
    df = _events_df(spark, events)
    r1 = apply_changes(spark, tbl, df, epoch_id=0)
    v1 = tbl.snapshot().version
    r2 = apply_changes(spark, tbl, df, epoch_id=0)  # duplicate
    assert r2.merge.skipped
    assert tbl.snapshot().version == v1
    assert_state_equals_oracle(spark, tbl, events.to_pandas())


def test_bucket_pruning_rewrites_only_touched_buckets(spark, tmp_table_dir):
    """A batch touching one key must only rewrite that key's bucket."""
    tbl = _mk_table(tmp_table_dir, n_buckets=8)
    events = make_events(4000, seed=5)
    apply_changes(spark, tbl, _events_df(spark, events), epoch_id=0)
    files_before = {f["path"]: f for f in tbl.snapshot().files()}
    buckets_before = {f["bucket"] for f in files_before.values()}
    assert len(buckets_before) == 8  # all buckets populated

    one = _hand_events([(10_000_000, "U", "doc-000000000000", [42], 1, "web", None)])
    res = apply_changes(spark, tbl, spark.createDataFrame(one, schema=EVENT_SCHEMA), epoch_id=1)
    assert res.merge.touched_buckets == 1
    files_after = {f["path"]: f for f in tbl.snapshot().files()}
    changed = set(files_after) ^ set(files_before)
    changed_buckets = {
        (files_after | files_before)[p]["bucket"] for p in changed
    }
    assert len(changed_buckets) == 1, "only one bucket may be rewritten"


def test_validation_builtin_matches_oracle(spark):
    """The engine's validation agrees row by row with the replay
    oracle's independent per-row check on a generated batch."""
    from qwery_spark.cdc.oracle import _valid
    from qwery_spark.cdc.validate import with_reject_reason
    from qwery_spark.schema import VOCAB_SIZE

    pdf = make_events(4000, seed=21).to_pandas().sort_values("ordinal")
    df = spark.createDataFrame(pdf, schema=EVENT_SCHEMA)
    got = (
        with_reject_reason(df).select("ordinal", "reject_reason")
        .toPandas().sort_values("ordinal")
    )
    want = [
        _valid(r.op, r.doc_id, r.tokens, r.n_tok, VOCAB_SIZE)
        for r in pdf.itertuples(index=False)
    ]
    assert list(got["ordinal"]) == list(pdf["ordinal"])
    assert list(got["reject_reason"]) == want
    assert sum(w is not None for w in want) > 0


@pytest.mark.parametrize(
    "arm, gates",
    [
        ("lww", {}),
        ("broadcast", {"LWW_MAX_TARGET_ROWS": 0}),
        # the bytes cap (the OOM guard for wide payloads) keeps a big
        # target on lww even for a tiny batch
        ("lww", {"LWW_MAX_TARGET_ROWS": 0, "BROADCAST_MAX_BYTES": 0}),
    ],
    ids=["lww", "broadcast", "bytes_gate"],
)
def test_merge_arm_matches_oracle(spark, tmp_table_dir, monkeypatch, arm, gates):
    """Each COW merge arm matches the replay oracle over three epochs
    carrying deletes and low-ordinal stragglers (a held-back tenth of
    epoch 0 arrives with epoch 2). The arm is forced through the gate
    constants; the first epoch, into an empty table, always takes lww."""
    import qwery_spark.lake.merge as M

    for name, value in gates.items():
        monkeypatch.setattr(M, name, value)
    tbl = _mk_table(tmp_table_dir)
    events = make_events(4000, seed=113).to_pandas()
    late = events.iloc[:1500].sample(frac=0.1, random_state=5)
    epochs = [
        events.iloc[:1500].drop(late.index),
        events.iloc[1500:3000],
        pd.concat([events.iloc[3000:], late]),
    ]
    assert (late["op"] == "D").any()
    for i, ev in enumerate(epochs):
        # raw batches, keys repeated: the merge resolves in-batch LWW
        assert ev["doc_id"].dropna().duplicated().any()
        res = apply_changes(
            spark, tbl, spark.createDataFrame(ev, schema=EVENT_SCHEMA), epoch_id=i
        )
        assert res.merge.summary["merge_arm"] == ("lww" if i == 0 else arm)
    assert res.merge.rows_stale > 0  # the stragglers reached the guard
    assert_state_equals_oracle(spark, tbl, events)
