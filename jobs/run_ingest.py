"""Cluster entrypoint: continuous CDC ingest via spark-submit.

    spark-submit \
      --py-files qwery_spark.zip \
      jobs/run_ingest.py \
      --events /data/wal-tail --table /lake/tok_sequences \
      --checkpoint /chk/tok_sequences --lineage /lake/_lineage \
      --quarantine /lake/_quarantine --buckets 4096 --mode mor \
      [--kafka broker:9092 --topic changes] [--continuous 30s]

On a cluster, executor count/size come from spark-submit flags
(--num-executors etc.); this script carries NO local-mode assumptions —
it uses the ambient SparkSession. Build the zip with jobs/package.sh.

The job is a CLI over ``qwery_spark.streaming.stream.run_stream``, the
one micro-batch loop: it parses arguments, creates the table
(--create), builds the seek and the kafka source, makes one run_stream
call, waits on its query and compacts after a drain (--compact-after).
With --audit-sql, each write-audit-publish decision is one
``{"wap": ...}`` JSON line on stderr, written as the batch decides.

The same job runs at N and 4N executors for the scaling criterion;
lineage rows (per-epoch offsets, counts, snapshot ids, wall ms) land in
--lineage for throughput accounting.
"""

from __future__ import annotations

import argparse
import logging
import sys


def main(argv=None):
    p = argparse.ArgumentParser()
    p.add_argument("--events", help="WAL-tail directory (parquet chunks)")
    p.add_argument("--kafka", help="kafka bootstrap servers (alternative to --events)")
    p.add_argument("--topic", help="kafka topic (with --kafka)")
    p.add_argument("--table", required=True)
    p.add_argument("--checkpoint", required=True)
    p.add_argument("--lineage")
    p.add_argument("--quarantine")
    p.add_argument("--buckets", type=int, default=4096)
    p.add_argument("--mode", choices=["cow", "mor"], default="mor")
    p.add_argument("--create", action="store_true", help="create the table if absent")
    p.add_argument("--continuous", metavar="INTERVAL",
                   help="processingTime trigger (e.g. '30 seconds'); default: drain+stop")
    p.add_argument("--compact-after", action="store_true",
                   help="compact MOR deltas after an availableNow drain")
    p.add_argument("--max-files-per-trigger", type=int, default=8)
    p.add_argument("--starting-offsets", default=None,
                   help="kafka seek: 'earliest' | 'latest' | per-partition JSON "
                        "(reference KafkaInputDevice.seek/rewind/fastForward); "
                        "default earliest on first run, checkpoint thereafter")
    p.add_argument("--from-ordinal", type=int, default=None,
                   help="file-source seek: replay events with ordinal >= N")
    p.add_argument("--resume-from-lineage", action="store_true",
                   help="derive the seek position from --lineage (replay "
                        "everything after the last committed ordinal/offset)")
    p.add_argument("--topic-partitions", type=int, default=None,
                   help="the kafka topic's partition count, required with "
                        "--resume-from-lineage when lineage may not cover "
                        "every partition: Spark rejects specific-offset "
                        "JSON that misses a partition, so uncovered "
                        "partitions are filled with earliest (-2)")
    p.add_argument("--transform-sql",
                   help="qwery-style SELECT-transform over the view `events`, "
                        "applied per micro-batch before validation+merge")
    p.add_argument("--audit-sql",
                   help="write-audit-publish: stage each micro-batch on a "
                        "branch, run this query over the staged state (view "
                        "`staged`); publish iff it returns zero rows")
    p.add_argument("--rejected-dir",
                   help="with --audit-sql: window-level dead-letter dir for "
                        "rejected micro-batches (epoch-scoped parquet)")
    args = p.parse_args(argv)

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("qwery-cdc-ingest").getOrCreate()

    from qwery_spark.lake.merge import compact
    from qwery_spark.lake.table import LakeTable
    from qwery_spark.schema import TARGET_SCHEMA
    from qwery_spark.streaming.stream import (
        parse_kafka_events,
        resume_ordinal,
        run_stream,
        starting_offsets_from_lineage,
        stream_events,
    )

    # WAP decisions: one {"wap": ...} JSON line on stderr per batch
    wap_log = logging.getLogger("qwery_spark.streaming.stream")
    if not wap_log.handlers:
        handler = logging.StreamHandler(sys.stderr)
        handler.setFormatter(logging.Formatter("%(message)s"))
        wap_log.addHandler(handler)
        wap_log.setLevel(logging.INFO)

    if args.create:
        try:
            LakeTable(args.table).snapshot()
        except FileNotFoundError:
            LakeTable.create(args.table, TARGET_SCHEMA, n_buckets=args.buckets,
                             write_mode=args.mode)
    table = LakeTable(args.table)

    min_ord = None
    if args.kafka:
        offsets = args.starting_offsets
        if args.resume_from_lineage and args.lineage and offsets is None:
            offsets = starting_offsets_from_lineage(
                spark, args.lineage, args.topic,
                n_partitions=args.topic_partitions,
            )
        raw = stream_events(spark, "", source_format="kafka", kafka_options={
            "kafka.bootstrap.servers": args.kafka,
            "subscribe": args.topic,
        }, starting_offsets=offsets or "earliest")
        events = parse_kafka_events(raw)
    else:
        events = args.events
        min_ord = args.from_ordinal
        if args.resume_from_lineage and args.lineage and min_ord is None:
            min_ord = resume_ordinal(spark, args.lineage)

    run = run_stream(
        spark, table, events, args.checkpoint,
        lineage_dir=args.lineage, quarantine_dir=args.quarantine,
        max_files_per_trigger=args.max_files_per_trigger,
        continuous=args.continuous, transform_sql=args.transform_sql,
        min_ordinal=min_ord, audit_sql=args.audit_sql,
        rejected_dir=args.rejected_dir,
    )
    run.query.awaitTermination()
    if (not args.continuous and args.compact_after
            and table.snapshot().write_mode == "mor"):
        compact(spark, table)
    return 0


if __name__ == "__main__":
    sys.exit(main())
