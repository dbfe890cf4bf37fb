"""Keyed writes into a lake table: the engine's UPSERT / UPDATE KEYED ON.

Set-oriented restatement of qwery's row-at-a-time UPSERT (reference:
app/jvm/core/.../ops/sql/Upsert.scala:14-33 — INSERT, and on a
duplicate key UPDATE, i.e. the last writer in stream order wins) and
of its matched-only UPDATE (core:ops/sql/Update.scala:19-44). A whole
micro-batch is applied at once, with the guard of

  MERGE INTO target t USING batch s ON t.doc_id = s.doc_id
    WHEN MATCHED AND s.ordinal > t.last_ordinal AND s.op='D'
         THEN tombstone
    WHEN MATCHED AND s.ordinal > t.last_ordinal THEN UPDATE payload
    WHEN NOT MATCHED THEN INSERT (or tombstone for a delete of an
         unseen key — keeps the cross-batch LWW guard airtight)

where, per key, only the batch's last writer (max ordinal) takes part.
Both write paths take the validated raw events, any number per key, and
resolve that in-batch LWW inside their one ``_bucket`` shuffle.

  * ``append_changes`` (merge-on-read): one shuffle on the bucket,
    LWW per key, append the winners as delta files. No target read;
    reads resolve the deltas by max ordinal until ``compact``.
  * ``merge_changes`` (copy-on-write): rewrite exactly the buckets the
    batch touches, in one of two arms —
      - **lww** (default): union the touched buckets' rows with the
        batch shaped as delta rows and keep the max-(ordinal,
        target-wins-ties) row per key in one bucket shuffle, no join.
        On an empty target the batch's per-key winners (the append
        path's rows) are written, with no target read.
      - **broadcast**: when the manifest row counts of the touched
        buckets exceed ``LWW_MAX_TARGET_ROWS`` and the cached raw batch
        fits ``BROADCAST_MAX_ROWS`` / ``BROADCAST_MAX_BYTES``, the batch
        is reduced to its per-key winners once (cached), a broadcast
        left join of them keeps the big target side from shuffling, and
        a broadcast anti join adds the inserts.
    The arm that ran is recorded as ``merge_arm`` in the commit summary.

Scale properties: only touched buckets are read and rewritten (at 4096
buckets a batch touching 1% of the keyspace rewrites ~41 buckets);
stale events (ordinal <= last_ordinal) lose to the stored row and
tombstones block resurrection; commits are epoch-keyed, so re-delivery
is a no-op. Skew: a hot key's events reach its bucket task with no
map-side partial combine (the bucket repartition precedes the
aggregate), on both paths.

On a real cluster this file collapses to an Iceberg
``MERGE INTO ... WHEN MATCHED AND s.ordinal > t.last_ordinal ...``
with storage-partitioned join removing the target-side shuffle.
"""

from __future__ import annotations

import os
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from qwery_spark.lake.table import DATA_DIR, LakeTable, Snapshot

ENGINE_COLS = ("last_ordinal", "_deleted")

# merge_changes arm gate. Up to this many manifest rows in the touched
# buckets, one union+LWW shuffle of target + batch beats the broadcast
# arm's persist, matched-keys pass and anti join.
LWW_MAX_TARGET_ROWS = 8_000_000
# above it, the broadcast arm runs while the cached batch fits these
BROADCAST_MAX_ROWS = 4_000_000
BROADCAST_MAX_BYTES = 256 << 20

# per-row MERGE actions counted on the write job into MergeStats
_ACTS = ("up", "del", "stale")

# wall-clock of the LAST _stage_write, split into the Spark write job
# vs the driver-side footer-stats pass — a pure instrumentation hook
# (tools/lc_decompose.py reads it to attribute per-epoch driver time);
# no engine behavior depends on it
LAST_STAGE_TIMINGS: dict = {}


def observed_or(obs, fallback_df, exprs: list) -> dict:
    """Observation.get, falling back to a direct aggregation when the
    metrics row can't be materialized (Spark's toPyRow chokes on
    observations over empty writes). The fallback re-runs only a skinny
    agg and only on that rare empty-batch path."""
    try:
        return dict(obs.get)
    except Exception:
        return fallback_df.agg(*exprs).collect()[0].asDict()


@dataclass
class MergeStats:
    skipped: bool = False
    rows_upserted: int = 0
    rows_deleted: int = 0
    rows_stale: int = 0
    touched_buckets: int = 0
    snapshot_version: int | None = None
    snapshot_id: str | None = None
    summary: dict = field(default_factory=dict)


def _payload(snap: Snapshot) -> list[dict]:
    """The user columns other than the key."""
    skip = (snap.m["key_col"], *ENGINE_COLS)
    return [f for f in snap.fields() if f["name"] not in skip]


def _bucket_of(key: str, n_buckets: int):
    return F.pmod(F.xxhash64(F.col(key)), F.lit(n_buckets)).cast("int")


def _align_batch(batch: DataFrame, snap: Snapshot, key: str):
    """Project a change batch onto the current user schema (null-fill
    newly added columns, cast widened ones) + derive the bucket."""
    have = set(batch.columns)
    sel = [F.col(key), F.col("op"), F.col("ordinal").cast("bigint").alias("ordinal")]
    for f in _payload(snap):
        if f["name"] in have:
            sel.append(F.col(f"`{f['name']}`").cast(f["type"]).alias(f["name"]))
        else:
            sel.append(F.lit(None).cast(f["type"]).alias(f["name"]))
    return batch.select(*sel).withColumn("_bucket", _bucket_of(key, snap.n_buckets))


def _delta_rows(src: DataFrame, key: str, payload: list[dict]) -> DataFrame:
    """An aligned batch as physical rows: a delete becomes a tombstone
    (null payload, ``_deleted``), the event ordinal its last_ordinal."""
    is_delete = F.col("op") == "D"
    return src.select(
        F.col(key),
        *[
            F.when(is_delete, F.lit(None).cast(f["type"]))
            .otherwise(F.col(f"`{f['name']}`"))
            .alias(f["name"])
            for f in payload
        ],
        F.col("ordinal").alias("last_ordinal"),
        is_delete.alias("_deleted"),
        F.col("_bucket"),
    )


def _write_act():
    """The ``_act`` of a row that is written unopposed."""
    return F.when(F.col("_deleted"), "del").otherwise("up")


def _lww(rows: DataFrame, key: str, order, *aggs) -> DataFrame:
    """One row per (bucket, key): the max-``order`` row, flattened back
    to ``rows``' columns, plus ``aggs``. The caller's bucket repartition
    already satisfies this grouping's clustering, so the aggregate adds
    no second exchange."""
    carry = [c for c in rows.columns if c not in (key, "_bucket")]
    w = rows.groupBy("_bucket", key).agg(
        F.max_by(F.struct(*[F.col(f"`{c}`") for c in carry]), order).alias("w"),
        *aggs,
    )
    return w.select(
        F.col(key),
        *[F.col(f"w.`{c}`").alias(c) for c in carry],
        F.col("_bucket"),
        *[c for c in w.columns if c not in (key, "_bucket", "w")],
    )


def _winners(src: DataFrame, key: str, payload: list[dict], n_buckets: int) -> DataFrame:
    """An aligned raw batch reduced to its per-key last writers, as
    delta rows: one repartition on ``_bucket`` (the write layout), then
    the max-ordinal row per key inside it."""
    return _lww(
        _delta_rows(src, key, payload).repartition(n_buckets, "_bucket"),
        key,
        F.col("last_ordinal"),
    )


def _stage_write(
    df: DataFrame,
    table: LakeTable,
    schema_version: int,
    n_partitions: int,
    max_records_per_file: int,
    repartition: bool = True,
    stats_col: str | None = None,
) -> list[dict]:
    """Write ``df`` (carrying _bucket) as bucket-partitioned parquet under
    a fresh staging dir; return manifest file entries. Pass
    repartition=False when df is already bucket-partitioned (avoids a
    second shuffle). With ``stats_col``, each entry also records that
    column's min/max (from the parquet footers — metadata only, no data
    read), enabling manifest-level file skipping on key predicates."""
    stage = f"snap-{uuid.uuid4().hex[:12]}"
    stage_dir = os.path.join(table.path, DATA_DIR, stage)
    snap = table.snapshot()  # one manifest read for codec + stats_cols
    if repartition:
        df = df.repartition(max(n_partitions, 1), "_bucket")
    writer = (
        df.write.option("maxRecordsPerFile", max_records_per_file)
        .option("compression", snap.codec)
    )
    # parquet-native bloom filters on the configured columns: written
    # by parquet-mr into each row group, used by the reader to skip
    # row groups on pushed equality predicates (the scattered-key
    # point-lookup case min/max stats can't prune). Every write path
    # funnels through here, so compaction/binpack regenerate them.
    for c in snap.m.get("bloom_filter_cols") or ():
        writer = writer.option(f"parquet.bloom.filter.enabled#{c}", "true")
        ndv = snap.m.get("bloom_ndv")
        if ndv:
            writer = writer.option(
                f"parquet.bloom.filter.expected.ndv#{c}", str(ndv)
            )
    import time as _time

    _t0 = _time.monotonic()
    writer.partitionBy("_bucket").parquet(stage_dir)
    _t1 = _time.monotonic()
    new_files = []
    for bdir in os.listdir(stage_dir):
        if not bdir.startswith("_bucket="):
            continue
        b = int(bdir.split("=")[1])
        for fn in os.listdir(os.path.join(stage_dir, bdir)):
            if fn.endswith(".parquet"):
                new_files.append({
                    "path": os.path.join(DATA_DIR, stage, bdir, fn),
                    "bucket": b,
                    "schema_version": schema_version,
                })
    # key bounds + the table's stats_cols payload bounds (Iceberg column
    # bounds) in ONE footer open per file — THREADED: these opens are
    # driver-side serial metadata IO on the commit path of every epoch
    # (64-bucket commit = 64 opens); on separate-executor-JVM clusters
    # this serial driver tail is exactly the per-epoch term the
    # local-cluster scaling rung exposes, so amortize it across a small
    # pool (pyarrow releases the GIL during footer reads). On a real
    # cluster these stats ride the write tasks' commit messages instead.
    want = ([stats_col] if stats_col else []) + snap.stats_cols
    if want and new_files:
        from concurrent.futures import ThreadPoolExecutor

        def _stat(entry):
            fstats = _footer_stats(os.path.join(table.path, entry["path"]), want)
            if stats_col is not None and stats_col in fstats:
                entry["key_min"], entry["key_max"] = fstats[stats_col]
            elif stats_col is not None and fstats.get(f"__all_null__{stats_col}"):
                # the file carries ONLY null keys (a bucket, or a
                # maxRecordsPerFile split of one, holding nothing else):
                # null keys emit no change rows, so pruning may skip it
                entry["key_all_null"] = True
            if "__num_rows" in fstats:
                entry["rows"] = fstats["__num_rows"]
            cstats = {
                c: list(fstats[c]) for c in snap.stats_cols if c in fstats
            }
            if cstats:
                entry["col_stats"] = cstats

        with ThreadPoolExecutor(max_workers=min(16, len(new_files))) as pool:
            list(pool.map(_stat, new_files))
    LAST_STAGE_TIMINGS.update(
        write_sec=_t1 - _t0, footer_sec=_time.monotonic() - _t1
    )
    return new_files


def _footer_stats(path: str, cols: list[str]) -> dict:
    """{col: (min, max)} for every requested top-level column, from ONE
    parquet-footer open (metadata only, no data read). A column missing
    from the result simply isn't skippable — any row group without
    statistics, or a stat type that doesn't serialize to JSON, drops
    that column (pruning stays conservative). This is the local
    stand-in for Iceberg's per-data-file column bounds, which write
    tasks report on a real cluster; here the driver reads footers of
    the files it just staged (O(files) metadata reads)."""
    out: dict = {}
    try:
        import pyarrow.parquet as pq

        pf = pq.ParquetFile(path)
        name_to_idx = {
            pf.schema.column(i).path: i
            for i in range(pf.metadata.num_columns)
        }
        for col in cols:
            idx = name_to_idx.get(col)
            if idx is None:
                continue
            lo = hi = None
            ok = True
            for rg in range(pf.metadata.num_row_groups):
                meta_rg = pf.metadata.row_group(rg)
                st = meta_rg.column(idx).statistics
                if st is None:
                    ok = False
                    break
                if not st.has_min_max:
                    # min/max absent: a PROVABLY all-null row group
                    # (null count == row count) simply contributes no
                    # values — skip it; anything else is genuinely
                    # stat-less and voids the column
                    if st.has_null_count and st.null_count == meta_rg.num_rows:
                        continue
                    ok = False
                    break
                lo = st.min if lo is None else min(lo, st.min)
                hi = st.max if hi is None else max(hi, st.max)
            if not ok:
                continue
            if lo is None:
                # every row group all-null: the file holds NO values of
                # this column — recorded so key pruning can skip the
                # file instead of conservatively voiding the whole hull
                # (null keys never join and emit no change rows)
                out[f"__all_null__{col}"] = True
                continue
            # manifest is JSON: only store plainly serializable types
            if not isinstance(lo, (str, int, float)) or isinstance(lo, bool):
                continue
            out[col] = (lo, hi)
        # row count rides the same footer open — the changelog's
        # key-set pruning gate (changes._diff_pruning) sizes windows
        # with it, zero extra IO
        out["__num_rows"] = pf.metadata.num_rows
    except Exception:
        pass  # stats are an optimization; never fail a write
    return out


def _write_commit(
    table: LakeTable,
    snap: Snapshot,
    rows: DataFrame,
    epoch_id,
    collect_stats: bool,
    max_records_per_file: int,
    operation: str,
    touched: set | None = None,
    **summary,
) -> MergeStats:
    """The one tail of every keyed write: count ``rows``' per-row
    ``_act`` (up/del/stale) on the write job itself, write the
    already-bucket-partitioned rows, commit, fill MergeStats.
    ``operation`` "append-delta" appends delta files to the buckets
    written; "merge" rewrites ``touched`` (default: the buckets
    written), and an empty merge result commits nothing."""
    counts = [F.sum((F.col("_act") == a).cast("int")).alias(a) for a in _ACTS]
    plain = rows
    obs = None
    if collect_stats:
        from pyspark.sql import Observation

        obs = Observation()
        rows = rows.observe(obs, *counts)
    new_files = _stage_write(
        rows.drop("_act"), table, snap.schema_version, snap.n_buckets,
        max_records_per_file, repartition=False, stats_col=snap.m["key_col"],
    )
    append = operation == "append-delta"
    if not append and not new_files:
        return MergeStats(skipped=True, snapshot_version=snap.version,
                          snapshot_id=snap.snapshot_id)
    if touched is None:
        touched = {f["bucket"] for f in new_files}
    stats = MergeStats(touched_buckets=len(touched))
    if obs is not None:
        vals = observed_or(obs, plain, counts)
        stats.rows_upserted, stats.rows_deleted, stats.rows_stale = (
            int(vals[a] or 0) for a in _ACTS
        )
    newsnap = table.commit_rewrite(
        base=snap,
        new_files=new_files,
        replaced_buckets=set() if append else set(touched),
        epoch_id=epoch_id,
        summary={
            "operation": operation,
            "epoch_id": epoch_id,
            "touched_buckets": sorted(touched),
            "rows_upserted": stats.rows_upserted,
            "rows_deleted": stats.rows_deleted,
            "rows_stale": stats.rows_stale,
            **summary,
        },
        append_buckets=touched if append else None,
    )
    if newsnap is None:  # epoch raced in since our check: no-op
        return MergeStats(skipped=True)
    stats.snapshot_version = newsnap.version
    stats.snapshot_id = newsnap.snapshot_id
    stats.summary = newsnap.m["summary"]
    return stats


def append_changes(
    spark: SparkSession,
    table: LakeTable,
    batch: DataFrame,
    epoch_id: int | None = None,
    collect_stats: bool = True,
    max_records_per_file: int = 2_000_000,
) -> MergeStats:
    """Merge-on-read fast path: dedup the batch to per-key LWW winners
    and APPEND them (updates as full rows, deletes as tombstones) as new
    delta files — NO target read, NO join, write volume O(batch).
    Read-time resolution (LakeTable._resolve_lww) picks the max-ordinal
    row per key, so cross-batch stragglers and delete-resurrection are
    impossible by construction. compact() folds deltas back to one file
    per bucket.

    ``batch`` is the VALIDATED raw event batch (NOT pre-deduped): dedup
    and bucket layout share ONE shuffle — repartition on _bucket, then
    groupBy(_bucket, key), whose clustering the bucket partitioning
    already satisfies, and partitionBy(_bucket) writes from
    bucket-local tasks.

    This is the Iceberg merge-on-read (equality-delete) shape — the only
    write mode whose per-batch cost stays flat across a 10^10-event run.
    """
    snap = table.snapshot()
    if epoch_id is not None and epoch_id in snap.applied_epochs:
        return MergeStats(skipped=True, snapshot_version=snap.version, snapshot_id=snap.snapshot_id)
    key = snap.m["key_col"]
    src = _align_batch(batch, snap, key)
    additive = snap.additive_cols
    if additive:
        # aggregating-payload table: batch rows are DELTAS — the
        # in-batch reduction is SUM per key (not LWW), there are no
        # tombstones (a key dies when its summed count reaches <= 0 at
        # read time), and 'op' is ignored by construction
        rows = (
            src.repartition(snap.n_buckets, "_bucket")
            .groupBy("_bucket", key)
            .agg(
                *[F.sum(F.col(f"`{c}`")).cast("long").alias(c) for c in additive],
                F.max("ordinal").alias("last_ordinal"),
            )
            .select(
                F.col(key),
                *[F.col(f"`{c}`") for c in additive],
                F.col("last_ordinal"),
                F.lit(False).alias("_deleted"),
                F.col("_bucket"),
                F.lit("up").alias("_act"),
            )
        )
    else:
        rows = _winners(src, key, _payload(snap), snap.n_buckets).withColumn(
            "_act", _write_act()
        )
    return _write_commit(
        table, snap, rows, epoch_id, collect_stats, max_records_per_file,
        "append-delta",
    )


# exact numeric base types for zorder validation — startswith('int')
# would also accept e.g. 'interval day to second'
_ZORDER_NUMERIC = {
    "int", "bigint", "smallint", "tinyint", "float", "double", "decimal"
}


def validate_zorder_cols(snap: Snapshot, cols: list, ctx: str) -> None:
    """Fail a z-order spec before any scan: every column must exist and
    have an exactly-numeric base type (the Morton rank code is built on
    width_bucket). Shared by compact() and the compaction policy so the
    two paths cannot drift."""
    types = {f["name"]: f["type"] for f in snap.fields()}
    bad = [
        c for c in cols
        if c not in types
        or types[c].split("(", 1)[0].strip() not in _ZORDER_NUMERIC
    ]
    if bad:
        raise ValueError(
            f"{ctx}: ZORDER BY needs numeric columns, got {bad} "
            f"(types: {[types.get(c) for c in bad]})"
        )


def compact(
    spark: SparkSession,
    table: LakeTable,
    buckets: set[int] | None = None,
    drop_tombstones: bool = False,
    max_records_per_file: int = 2_000_000,
    sort_cols: list[str] | None = None,
    zorder_cols: list[str] | None = None,
) -> dict:
    """Fold MOR delta files back into one resolved file per bucket
    (Iceberg rewrite_data_files analogue). With drop_tombstones=True,
    delete markers are vacuumed too — only safe once no straggler below
    the tombstone's ordinal can still arrive (retention watermark).

    ``sort_cols`` sorts rows WITHIN each bucket before writing (Iceberg
    sort-order rewrite): parquet row-group min/max stats then prune
    key-range predicates inside a bucket — at 100 TB a point lookup
    reads bucket-pruned files AND skips all but one row group. Sorting
    is per-partition (sortWithinPartitions after the bucket
    repartition), never a global sort.

    ``zorder_cols`` (mutually exclusive with sort_cols) sorts each
    bucket by the columns' Morton interleave instead (Delta OPTIMIZE
    ZORDER BY analogue, operators/zorder.py): every listed column's
    per-file bounds stay tight SIMULTANEOUSLY, so files(col_ranges=)
    prunes on any of them — a 1D sort only serves its leading column.

    Default scope: the unresolved (delta-bearing) buckets — EXCEPT when
    a sort/zorder is given, where the point is the whole table's
    clustering, so the default widens to every bucket (a user asking
    for a sort-order rewrite would otherwise silently get only the
    buckets that happened to carry deltas). Pass ``buckets`` to narrow."""
    if sort_cols and zorder_cols:
        raise ValueError("compact: sort_cols and zorder_cols are exclusive")
    snap = table.snapshot()
    if zorder_cols:
        validate_zorder_cols(snap, zorder_cols, "compact")
    if buckets is not None:
        target = buckets
    elif sort_cols or zorder_cols:
        target = set(range(snap.n_buckets))
    else:
        target = snap.unresolved_buckets or set(range(snap.n_buckets))
    if not target:
        return {"compacted_buckets": 0}
    key = snap.m["key_col"]
    df = table.read_physical(spark, buckets=target, resolve=True)
    if drop_tombstones:
        df = df.filter(~F.col("_deleted"))
    df = df.withColumn("_bucket", _bucket_of(key, snap.n_buckets))
    cached = None
    if zorder_cols:
        from qwery_spark.operators.zorder import column_bounds, zorder_col

        # the bounds aggregate and the write would otherwise each run
        # the full resolve-LWW scan — persist it across the two jobs
        cached = df = df.persist()
        bounds = column_bounds(df, zorder_cols)
        df = (
            df.withColumn("_z", zorder_col(bounds, zorder_cols))
            .repartition(max(len(target), 1), "_bucket")
            .sortWithinPartitions("_bucket", "_z")
            .drop("_z")  # projection preserves the within-partition order
        )
        repart = False
    elif sort_cols:
        df = df.repartition(max(len(target), 1), "_bucket").sortWithinPartitions(
            "_bucket", *sort_cols
        )
        repart = False
    else:
        repart = True
    try:
        new_files = _stage_write(
            df, table, snap.schema_version, len(target), max_records_per_file,
            repartition=repart, stats_col=key,
        )
    finally:
        if cached is not None:
            cached.unpersist()
    newsnap = table.commit_rewrite(
        base=snap,
        new_files=new_files,
        replaced_buckets=set(target),
        epoch_id=None,
        summary={
            "operation": "compact", "buckets": sorted(target),
            # recorded so CompactionPolicy.cluster_every_commits can
            # find the last clustering rewrite by scanning summaries
            **({"sort_cols": list(sort_cols)} if sort_cols else {}),
            **({"zorder_cols": list(zorder_cols)} if zorder_cols else {}),
        },
    )
    return {
        "compacted_buckets": len(target),
        "snapshot_version": newsnap.version if newsnap else None,
    }


def rebucket(
    spark: SparkSession,
    table: LakeTable,
    new_n_buckets: int,
    max_records_per_file: int = 2_000_000,
    sort_cols: list[str] | None = None,
) -> dict:
    """Partition-spec evolution (Iceberg analogue): rewrite the table
    with a different bucket count in ONE commit. At 10^10 events the
    bucket count chosen at creation stops fitting — buckets outgrow a
    task's memory, or thousands of buckets fragment a small table — and
    hash-bucketed layouts can't grow incrementally (every key moves), so
    this is a full rewrite by design: one shuffle on the NEW bucket id,
    cost O(table), amortized over the table's lifetime (run it like a
    major compaction, e.g. at 4x growth: 64 -> 256 -> 1024 -> 4096).

    Tombstones are preserved (the cross-batch straggler guard must
    survive the move), MOR deltas are resolved on the way through, and
    the bucket count stays per-snapshot state: time travel to an older
    version keeps routing by the old count, and the next merge reads
    the new count from its base snapshot automatically.
    """
    if new_n_buckets < 1:
        raise ValueError(f"new_n_buckets must be >= 1, got {new_n_buckets}")
    snap = table.snapshot()
    key = snap.m["key_col"]
    df = table.read_physical(spark, resolve=True).withColumn(
        "_bucket", _bucket_of(key, new_n_buckets)
    )
    n_parts = max(min(new_n_buckets, 256), 1)
    df = df.repartition(n_parts, "_bucket")
    if sort_cols:
        df = df.sortWithinPartitions("_bucket", *sort_cols)
    new_files = _stage_write(
        df, table, snap.schema_version, n_parts, max_records_per_file,
        repartition=False, stats_col=key,
    )
    newsnap = table.commit_rewrite(
        base=snap,
        new_files=new_files,
        replaced_buckets=set(range(snap.n_buckets)),
        epoch_id=None,
        summary={
            "operation": "rebucket",
            "from_buckets": snap.n_buckets,
            "to_buckets": new_n_buckets,
            **({"sort_cols": list(sort_cols)} if sort_cols else {}),
        },
        new_n_buckets=new_n_buckets,
    )
    return {
        "from_buckets": snap.n_buckets,
        "to_buckets": new_n_buckets,
        "files_written": len(new_files),
        "snapshot_version": newsnap.version if newsnap else None,
    }


def _merge_lww(
    spark: SparkSession,
    table: LakeTable,
    snap: Snapshot,
    src: DataFrame,
    touched: set | None,
    epoch_id,
    collect_stats: bool,
    max_records_per_file: int,
    insert_missing: bool,
) -> MergeStats:
    """The union+LWW COW merge, in ONE write job: union the touched
    buckets' physical rows with the batch shaped as delta rows, keep
    the max-(ordinal, target-wins-ties) row per key in a single bucket
    shuffle, and rewrite exactly the touched buckets. Semantically a MOR
    delta append fused with an immediate compaction of those buckets:
    max_by over (ordinal, is_target) is the ``s.ordinal > t.last_ordinal``
    guard, and a delete of an unseen key wins unopposed as a tombstone.

    ``touched=None`` is the empty target (initial view build, first
    window into a fresh table): the batch's per-key winners are written
    as the append path writes them — no target read.

    ``insert_missing=False`` (UPDATE) keeps only keys with a live target
    row: a tombstone outranks the batch, and keys the target lacks are
    dropped."""
    key = snap.m["key_col"]
    payload = _payload(snap)
    if touched is None:
        rows = _winners(src, key, payload, snap.n_buckets).withColumn(
            "_act", _write_act()
        )
        return _write_commit(
            table, snap, rows, epoch_id, collect_stats, max_records_per_file,
            "merge", merge_arm="lww",
        )
    s_rows = _delta_rows(src, key, payload)
    t_rows = table.read_physical(spark, buckets=touched).select(
        F.col(key),
        *[F.col(f"`{f['name']}`") for f in payload],
        F.col("last_ordinal"),
        F.col("_deleted"),
        _bucket_of(key, snap.n_buckets).alias("_bucket"),
        F.lit(0).alias("_is_src"),
    )
    both = t_rows.unionByName(s_rows.withColumn("_is_src", F.lit(1)))
    is_src = F.col("_is_src")
    order = [F.col("last_ordinal"), F.lit(1) - is_src]
    if not insert_missing:
        order.insert(0, ((is_src == 0) & F.col("_deleted")).cast("int"))
    rows = _lww(
        both.repartition(len(touched), "_bucket"),
        key,
        F.struct(*order),
        F.max(is_src).alias("_n_src"),
        F.min(is_src).alias("_no_tgt"),
    )
    won = is_src == 1
    stale = F.col("_n_src") == 1
    if not insert_missing:
        # a tombstone matched nothing; a key the target lacks is dropped
        stale = stale & ~F.col("_deleted")
        rows = rows.filter(F.col("_no_tgt") == 0)
    rows = rows.withColumn(
        "_act",
        F.when(won & F.col("_deleted"), "del").when(won, "up").when(stale, "stale"),
    ).drop("_is_src", "_n_src", "_no_tgt")
    return _write_commit(
        table, snap, rows, epoch_id, collect_stats, max_records_per_file,
        "merge", touched, merge_arm="lww",
    )


def _merge_broadcast(
    spark: SparkSession,
    table: LakeTable,
    snap: Snapshot,
    src: DataFrame,
    touched: set,
    epoch_id,
    collect_stats: bool,
    max_records_per_file: int,
) -> MergeStats:
    """The big-target COW merge: the touched target side NEVER shuffles
    and is scanned exactly ONCE. The batch is reduced to its per-key
    winners once (persisted). One broadcast left join of the target
    against them applies the guard to matched rows and tags them with
    the matched batch key (``_mk``); it is persisted and eagerly
    materialized, so both the write and the matched-keys derivation
    read cached blocks, never the parquet again (plan-asserted in
    tests/test_plans.py). Winners absent from the target become inserts
    through a broadcast anti join; already bucket-partitioned, they add
    no shuffle of their own. persist, NOT localCheckpoint: on executor
    loss cached partitions recompute from the parquet lineage (a
    checkpoint would truncate it and fail the merge permanently)."""
    key = snap.m["key_col"]
    payload = _payload(snap)
    won = _winners(src, key, payload, snap.n_buckets).persist()
    tgt = table.read_physical(spark, buckets=touched).withColumn(
        "_bucket", _bucket_of(key, snap.n_buckets)
    ).alias("t")
    s = won.alias("s")
    # null on unmatched target rows — when() then keeps the target row;
    # a winning tombstone already carries a null payload
    apply_change = F.col("s.last_ordinal") > F.col("t.last_ordinal")
    merged = tgt.join(
        F.broadcast(s), F.col(f"t.`{key}`") == F.col(f"s.`{key}`"), "left"
    ).select(
        F.col(f"t.`{key}`").alias(key),
        *[
            F.when(apply_change, F.col(f"s.`{f['name']}`"))
            .otherwise(F.col(f"t.`{f['name']}`"))
            .alias(f["name"])
            for f in payload
        ],
        *[
            F.when(apply_change, F.col(f"s.{c}")).otherwise(F.col(f"t.{c}")).alias(c)
            for c in ENGINE_COLS
        ],
        F.col("t._bucket").alias("_bucket"),
        F.when(apply_change & F.col("s._deleted"), "del")
        .when(apply_change, "up")
        .when(F.col("s.last_ordinal").isNotNull(), "stale")
        .alias("_act"),
        F.col(f"s.`{key}`").alias("_mk"),
    ).persist()
    try:
        merged.count()  # the ONE scan of the touched target buckets
        matched_keys = merged.filter(F.col("_mk").isNotNull()).select(
            F.col("_mk").alias(key)
        )
        inserts = won.join(F.broadcast(matched_keys), key, "left_anti").withColumn(
            "_act", _write_act()
        )
        # matched rows are target-scan-local and inserts bucket-
        # partitioned: written as is (partitionBy routes the bucket dirs)
        return _write_commit(
            table, snap, merged.drop("_mk").unionByName(inserts), epoch_id,
            collect_stats, max_records_per_file, "merge", touched,
            merge_arm="broadcast",
        )
    finally:
        merged.unpersist()
        won.unpersist()


def merge_changes(
    spark: SparkSession,
    table: LakeTable,
    batch: DataFrame,
    epoch_id: int | None = None,
    collect_stats: bool = True,
    max_records_per_file: int = 2_000_000,
    insert_missing: bool = True,
) -> MergeStats:
    """Apply a change batch to the table (copy-on-write).

    ``batch`` contract, the same as append_changes': the validated raw
    events, any number per key, with columns (<key>, op in {'I','U','D'},
    ordinal bigint, <user payload columns>); the max-ordinal event per
    key is the batch's last writer, resolved in the merge's one bucket
    shuffle. Missing user columns (e.g. just added via DDL) null-fill.
    Skew profile: the MOR append's — a hot key's events reach its
    bucket task with no map-side partial combine.

    insert_missing=False gives UPDATE ... KEYED ON semantics: only keys
    with a live target row change; other batch rows are no-ops
    (reference: core:ops/sql/Update.scala:19-44).

    Arms (recorded as ``merge_arm`` in the commit summary): ``lww``,
    unless the manifest row counts of the touched buckets exceed
    LWW_MAX_TARGET_ROWS (or are unknown) and the cached batch fits
    BROADCAST_MAX_ROWS and BROADCAST_MAX_BYTES — then ``broadcast``.
    The gate counts the raw batch's rows and bytes, never fewer than its
    winners', so it errs toward lww. UPDATE always takes ``lww``. An
    empty target skips the batch cache and the touched-bucket count: its
    merge is one write job.
    """
    snap = table.snapshot()
    if epoch_id is not None and epoch_id in snap.applied_epochs:
        return MergeStats(skipped=True, snapshot_version=snap.version, snapshot_id=snap.snapshot_id)
    if snap.additive_cols:
        raise ValueError(
            "merge_changes on an aggregating-payload (additive) table — "
            "its rows are deltas; use append_changes"
        )
    key = snap.m["key_col"]
    src = _align_batch(batch, snap, key)
    args = (epoch_id, collect_stats, max_records_per_file)
    if not snap.m["files"]:
        if not insert_missing:  # an UPDATE of an empty table matches nothing
            return MergeStats(skipped=True, snapshot_version=snap.version,
                              snapshot_id=snap.snapshot_id)
        return _merge_lww(spark, table, snap, src, None, *args, insert_missing)

    src.persist()
    try:
        # one driver job yields both the touched-bucket set (bounded by
        # n_buckets, safe to collect) and the batch row count
        bucket_counts = src.groupBy("_bucket").count().collect()
        touched = {r[0] for r in bucket_counts}
        n_src = sum(r[1] for r in bucket_counts)
        if not touched:
            return MergeStats(skipped=True, snapshot_version=snap.version,
                              snapshot_id=snap.snapshot_id)
        touched_rows = [f.get("rows") for f in snap.files(touched)]
        big_target = None in touched_rows or sum(touched_rows) > LWW_MAX_TARGET_ROWS
        if insert_missing and big_target and n_src <= BROADCAST_MAX_ROWS:
            # gate on MEASURED bytes too: wide token-array payloads can
            # push a few million rows to multi-GB. The persisted
            # InMemoryRelation stats are the actual cached size; if the
            # stats call fails, the row cap alone decides.
            try:
                src_bytes = int(
                    src._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
                )
            except Exception:
                src_bytes = 0
            if src_bytes <= BROADCAST_MAX_BYTES:
                return _merge_broadcast(spark, table, snap, src, touched, *args)
        return _merge_lww(spark, table, snap, src, touched, *args, insert_missing)
    finally:
        src.unpersist()


def binpack(
    spark: SparkSession,
    table: LakeTable,
    small_bytes: int = 32 << 20,
    min_files: int = 4,
    buckets: set[int] | None = None,
    max_records_per_file: int = 2_000_000,
) -> dict:
    """Partial small-file compaction (Iceberg rewrite_data_files
    binpack): per bucket, merge ONLY the files under ``small_bytes``
    into one, leaving the bucket's large (already-compacted, sorted)
    files untouched. Versus compact(), which rewrites every touched
    bucket wholesale, binpack bounds maintenance write amplification by
    the SMALL-file volume — at 100 TB a bucket is one multi-GB sorted
    file plus a tail of per-epoch delta files, and rewriting the big
    file every maintenance tick is the single largest wasted-write
    lever (measured: BASELINE.md "Round-6: binpack partial compaction").

    Soundness: LWW resolution is an associative max_by per key, so
    resolving a SUBSET of a bucket's files produces subset-winners that
    still compete correctly with the untouched files' rows at read
    time; tombstones are kept (they must keep suppressing rows in the
    untouched files). An unresolved bucket stays unresolved, a resolved
    bucket's subset concatenates losslessly (disjoint keys make the
    resolve an identity). The commit is a strict-CAS partial rewrite
    (remove exactly the merged files, add their replacement —
    LakeTable.commit_remove_add); any concurrent head movement raises
    CommitConflict and maintenance recomputes.

    File sizes come from the local filesystem (os.path.getsize — one
    stat per candidate, metadata only); on an object store the size
    would ride the manifest entry like rows/key bounds do."""
    snap = table.snapshot()
    key = snap.m["key_col"]
    scope = buckets if buckets is not None else {
        f["bucket"] for f in snap.m["files"]
    }
    plans: list[tuple[int, list[dict]]] = []
    for b in sorted(scope):
        entries = snap.files({b})
        small = [
            f for f in entries
            if os.path.getsize(os.path.join(table.path, f["path"])) < small_bytes
        ]
        # merging one small file is a pure rewrite; require a win
        if len(small) >= min_files:
            plans.append((b, small))
    if not plans:
        return {"binpacked_buckets": 0, "files_merged": 0, "files_written": 0}

    merged = [f for _b, fs in plans for f in fs]
    df = table._aligned_scan(spark, snap, None, file_subset=merged)
    # identity on resolved buckets; SUM-folds additive tables' deltas
    # (subset sums stack associatively, same soundness as subset LWW)
    df = LakeTable._resolve(df, key, snap)
    df = df.withColumn("_bucket", table.bucket_expr())
    new_files = _stage_write(
        df,
        table,
        snap.schema_version,
        n_partitions=len(plans),
        max_records_per_file=max_records_per_file,
        repartition=True,
        stats_col=key,
    )
    table.commit_remove_add(
        snap,
        [f["path"] for f in merged],
        new_files,
        summary={
            "operation": "binpack",
            "touched_buckets": sorted(b for b, _ in plans),
            "files_merged": len(merged),
            "files_written": len(new_files),
        },
    )
    return {
        "binpacked_buckets": len(plans),
        "files_merged": len(merged),
        "files_written": len(new_files),
    }
