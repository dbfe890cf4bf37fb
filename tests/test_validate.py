"""Validation reasons on every edge: null doc_id, null tokens, null
n_tok with a non-null payload (the three-valued-logic trap), null token
elements, empty arrays, and out-of-range values. The replay oracle's
_valid is the independent vote."""

import pandas as pd
import pytest

from pyspark.sql import functions as F
from pyspark.sql import types as T

from qwery_spark.cdc.oracle import _valid
from qwery_spark.cdc.validate import REASON_COL, with_reject_reason

VOCAB = 100

CASES = [
    # (op, doc_id, tokens, n_tok, expected_reason)
    ("I", "d1", [1, 2, 3], 3, None),
    ("U", "d2", [0, 99], 2, None),
    ("D", "d3", None, None, None),            # deletes carry no payload
    ("DDL", None, None, None, None),          # DDL needs no doc_id
    ("I", None, [1], 1, "null_doc_id"),
    ("U", None, None, None, "null_doc_id"),   # doc_id beats payload checks
    ("I", "d4", None, 3, "null_tokens"),
    ("I", "d5", [1, 2], 3, "n_tok_mismatch"),
    ("U", "d6", [1, 2, 3], None, "n_tok_mismatch"),  # NULL n_tok, payload present
    ("I", "d7", [], 1, "n_tok_mismatch"),
    ("I", "d8", [], 0, None),                 # empty array is legal
    ("I", "d9", [1, -1], 2, "token_out_of_range"),
    ("I", "d10", [1, 100], 2, "token_out_of_range"),
    ("I", "d11", [1, None, 2], 3, "token_out_of_range"),  # null element
    ("I", "d12", [5, 200], 3, "n_tok_mismatch"),  # mismatch wins over range
]

SCHEMA = T.StructType(
    [
        T.StructField("op", T.StringType()),
        T.StructField("doc_id", T.StringType()),
        T.StructField("tokens", T.ArrayType(T.IntegerType())),
        T.StructField("n_tok", T.IntegerType()),
        T.StructField("i", T.IntegerType()),
    ]
)


@pytest.fixture(scope="module")
def case_df(spark):
    rows = [(op, d, t, n, i) for i, (op, d, t, n, _) in enumerate(CASES)]
    return spark.createDataFrame(rows, schema=SCHEMA)


def test_reasons_match_expected(case_df):
    got = {
        r["i"]: r[REASON_COL]
        for r in with_reject_reason(case_df, vocab=VOCAB).collect()
    }
    for i, (_, _, _, _, want) in enumerate(CASES):
        assert got[i] == want, f"case {i}: got {got[i]!r}, want {want!r}"


def test_oracle_agrees_on_non_null_element_cases():
    for op, d, t, n, want in CASES:
        if t is not None and any(x is None for x in t):
            continue  # oracle's numpy min() can't rank None (never generated)
        assert _valid(op, d, t, pd.NA if n is None else n, VOCAB) == want


def test_null_ntok_row_is_quarantined_not_merged(spark):
    """End-to-end: the round-1 escape (validation passed NULL-n_tok rows
    into the merge while the oracle rejected them) must be closed."""
    from qwery_spark.cdc.validate import split_valid

    df = spark.createDataFrame(
        [("I", "doc-x", [1, 2, 3], None, 0)], schema=SCHEMA
    )
    valid, rejected = split_valid(df, vocab=VOCAB)
    assert valid.count() == 0
    rej = rejected.collect()
    assert len(rej) == 1 and rej[0][REASON_COL] == "n_tok_mismatch"
