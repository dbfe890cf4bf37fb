"""Reusable DataFrame -> DataFrame operators for training-data pipelines.

Each operator is a plain function over DataFrames (no engine state), so
a reference user can compose them exactly like qwery's SELECT-INTO
transform stages. The query suite (qwery_spark.suite) wraps these with
oracle SQL for the correctness gate.
"""

from qwery_spark.operators.dedupe import (  # noqa: F401
    exact_duplicates,
    minhash_signatures,
    minhash_candidates,
    ngram_jaccard,
    simhash64,
)
from qwery_spark.operators.similarity import (  # noqa: F401
    cosine_topk,
    lsh_bucket,
    lsh_topk,
)
from qwery_spark.operators.asof import asof_join  # noqa: F401
from qwery_spark.operators.text import (  # noqa: F401
    token_stats,
    quality_score,
    fingerprint,
)
