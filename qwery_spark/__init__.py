"""qwery-spark: a PySpark-native CDC / incremental-ingest engine.

A from-scratch re-imagining of the query/ETL capabilities of
ldaniels528/qwery (SQL-like SELECT-INTO transforms, keyed UPSERT,
offset-addressed resumable ingestion) as an idiomatic Spark pipeline:

  ordered change events (binlog/WAL-tail shaped)
    -> Structured Streaming / batch replay
    -> Catalyst validation + quarantine
    -> keyed write into a snapshot-versioned lake table (Iceberg-shaped;
       epoch-keyed idempotent commits): per-key last-writer-wins inside
       its one bucket shuffle, then a merge-on-read delta append or a
       bucket-pruned copy-on-write MERGE
    -> per-batch lineage + metrics rows

Reference semantics honored (see SURVEY.md §7.0):
  UPSERT KEYED ON = keyed last-writer-wins in stream order
  (reference: app/jvm/core/src/main/scala/com/github/ldaniels528/
  qwery/ops/sql/Upsert.scala:14-33, sources/JDBCOutputSource.scala:62-80).
"""

__version__ = "0.1.0"

from qwery_spark.session import get_spark  # noqa: F401
