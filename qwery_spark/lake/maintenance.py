"""State-driven compaction policy: compact WHEN the manifest says read
amplification crossed a bound, not every N epochs.

A fixed ``compact_every=N`` cadence is wrong in both directions at
10^10-event scale: skewed ingest piles deltas onto hot buckets long
before epoch N (reads of those buckets resolve dozens of delta files),
while cold buckets get rewritten for nothing. The policy reads the
ONLY signal that matters — per-bucket live-file counts, already in the
folded manifest state, zero extra IO — and compacts exactly the
buckets over threshold. Each MOR read of a bucket opens every one of
its delta files, so ``max_files_per_bucket`` IS the read-amplification
bound: the policy keeps per-bucket file counts ≤ threshold forever,
regardless of tail length or skew.

Runs inline in the ingest loop (run_stream), the follower
(jobs/run_follow.py), or a standalone daemon tick — and because
compaction commits now auto-rebase over disjoint concurrent appends
(table.commit_rewrite retry), a policy daemon can run beside a live
ingest writer.

Reference analogue: the ETL server's background file-maintenance loop
(etl:actors/FileManagementActor.scala:62-97) — there a directory
sweep on a timer; here a manifest-threshold trigger.
"""

from __future__ import annotations

from collections import Counter
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from qwery_spark.lake.table import LakeTable, Snapshot


@dataclass
class CompactionPolicy:
    """Compact a bucket when its live-file count exceeds
    ``max_files_per_bucket`` (base file + deltas; each file is one more
    open-and-merge on every read of that bucket). ``min_due_buckets``
    batches tiny maintenance commits: wait until that many buckets are
    due (1 = eager). ``expire_keep``/``vacuum`` piggyback log expiry
    and orphan GC on each triggered compaction, keeping metadata and
    dead-file footprints flat on long runs."""

    max_files_per_bucket: int = 8
    min_due_buckets: int = 1
    expire_keep: int | None = None
    # time-based retention rider (round-6): with expire_keep, commits
    # younger than this many seconds survive expiry regardless of count
    # — "keep a week of time travel" independent of commit rate
    expire_older_than_sec: float | None = None
    vacuum: bool = False
    # clustering applied to triggered compactions: maintenance rewrites
    # are the natural (free) moment to restore sort/z-order — the data
    # is being rewritten anyway
    sort_cols: list | None = None
    zorder_cols: list | None = None
    # clustering CADENCE (round-6): scattered-update feeds degrade the
    # changelog's key-hull pruning without necessarily crossing the
    # file-count bound — each wide delta overlaps every base file, so
    # a maintenance window's hull keeps the whole bucket. When set, a
    # full-table clustered rewrite (sort_cols/zorder_cols required)
    # triggers after this many DATA commits since the last clustering
    # rewrite, restoring key-narrow files so hull + row-group pruning
    # bite again (tools/ivm_bench.py measured the scatter drift
    # 1.08-1.23 and cadence-4 clustering holding it <= ~1.07).
    cluster_every_commits: int | None = None
    max_records_per_file: int = 2_000_000
    # cheap-tick mode (round-6): when set, file-count-triggered ticks
    # BINPACK the due buckets (merge only files under this byte size —
    # write volume bounded by the delta tail, the multi-GB sorted base
    # files never rewritten; measured 179.7x less write volume,
    # BASELINE.md "Round-6: binpack partial compaction") instead of
    # whole-bucket compaction. A due bucket whose file count binpack
    # cannot reduce (all files large) falls back to a full compact the
    # same tick — the read-amplification bound stays a guarantee, not a
    # hope. The cluster_every_commits cadence still runs the full sorted
    # rewrite (binpack leaves buckets unresolved; the cadence restores
    # read speed + clustering).
    binpack_small_bytes: int | None = None

    def __post_init__(self):
        # a policy misconfiguration must fail at CONSTRUCTION, not at
        # the first triggered tick hours into a stream
        if self.sort_cols and self.zorder_cols:
            raise ValueError(
                "CompactionPolicy: sort_cols and zorder_cols are exclusive"
            )
        if self.max_files_per_bucket < 1:
            raise ValueError("CompactionPolicy: max_files_per_bucket >= 1")
        if self.cluster_every_commits is not None:
            if self.cluster_every_commits < 1:
                raise ValueError(
                    "CompactionPolicy: cluster_every_commits >= 1"
                )
            if not (self.sort_cols or self.zorder_cols):
                raise ValueError(
                    "CompactionPolicy: cluster_every_commits needs "
                    "sort_cols or zorder_cols (the clustering to restore)"
                )

    def due_buckets(self, snap: Snapshot) -> set[int]:
        counts = Counter(f["bucket"] for f in snap.files())
        return {b for b, n in counts.items() if n > self.max_files_per_bucket}

    def cluster_due(self, table: LakeTable, snap: Snapshot) -> bool:
        """True when >= cluster_every_commits data commits landed since
        the last clustering rewrite matching this policy's spec.

        Cost: raw commit-record summary reads (tiny JSON files, no
        folding, no data IO), walking back from the head and stopping
        as soon as the count reaches the threshold or the marker is
        found — O(cluster_every_commits + interleaved maintenance
        commits), independent of history depth. Expired (missing)
        records end the walk as 'due': one triggered rewrite plants a
        fresh marker and the walk never reaches that depth again."""
        if self.cluster_every_commits is None:
            return False
        want_sort = list(self.sort_cols or [])
        want_z = list(self.zorder_cols or [])
        import json
        import os

        data_since = 0
        v = snap.version
        while v >= 0:
            try:
                with open(table._manifest_path(v)) as f:
                    summary = json.load(f).get("summary") or {}
            except (FileNotFoundError, ValueError):
                return True  # expired/unreadable history: no marker
            op = summary.get("operation")
            if op in ("merge", "append-delta"):
                data_since += 1
                if data_since >= self.cluster_every_commits:
                    return True
            elif op in ("compact", "rebucket"):
                matches = (
                    list(summary.get("sort_cols") or []) == want_sort
                    and list(summary.get("zorder_cols") or []) == want_z
                )
                # the marker must be a FULL-coverage rewrite: a partial
                # file-count compact (sorted or not) leaves the other
                # buckets' drift in place and must not reset the
                # cadence. No rebucket lies above this record (the walk
                # would have stopped there), so snap.n_buckets is the
                # bucket count this compact saw.
                full = op == "rebucket" or (
                    len(summary.get("buckets") or []) >= snap.n_buckets
                )
                if matches and full:
                    return False  # fresh enough clustering marker
                if full and not matches:
                    # a full rewrite with DIFFERENT (or no) clustering
                    # destroyed this policy's ordering everywhere — an
                    # older marker must not count; restore it now
                    return True
                # partial rewrite: neither a marker nor proof of loss —
                # keep walking, only data commits move the counter
            elif op == "create":
                # unclustered since birth: due only once enough data
                # commits exist to be worth rewriting
                return data_since >= self.cluster_every_commits
            v -= 1
        return data_since >= self.cluster_every_commits


@dataclass
class MaintenanceReport:
    triggered: bool = False
    # this tick ran a full-table clustering rewrite (cadence trigger)
    clustered: bool = False
    # files merged by the cheap binpack tick (0 when binpack is off or
    # the tick fell through to full compaction)
    binpacked_files: int = 0
    due_buckets: set[int] = field(default_factory=set)
    files_before: int = 0
    files_after: int = 0
    snapshots_expired: int = 0
    files_vacuumed: int = 0
    # a concurrent writer won the commit race this tick; the next tick
    # retries against the new head (the due buckets are by definition
    # the hot buckets a live ingest writer appends to)
    conflict: bool = False


def maybe_compact(
    spark: SparkSession, table: LakeTable, policy: CompactionPolicy
) -> MaintenanceReport:
    """One policy tick: read the manifest (no data IO), compact the due
    buckets if enough are due, optionally expire + vacuum. Safe to call
    after every epoch — a no-op tick costs one cached snapshot read."""
    snap = table.snapshot()
    rep = MaintenanceReport(files_before=len(snap.files()))
    if snap.write_mode != "mor":
        rep.files_after = rep.files_before
        return rep
    if policy.zorder_cols:
        # surface a bad zorder spec on EVERY tick (cheap dict lookups),
        # not only when a bucket finally crosses the threshold
        from qwery_spark.lake.merge import validate_zorder_cols

        validate_zorder_cols(
            snap, policy.zorder_cols, "CompactionPolicy.zorder_cols"
        )
    due = policy.due_buckets(snap)
    rep.due_buckets = due
    # cadence clustering subsumes the file-count trigger (it rewrites
    # every bucket, sorted); checked second because it costs a few raw
    # record reads where due_buckets is a dict pass over the manifest
    cluster = policy.cluster_due(table, snap)
    if not cluster and len(due) < max(policy.min_due_buckets, 1):
        rep.files_after = rep.files_before
        return rep
    from qwery_spark.lake.merge import binpack, compact
    from qwery_spark.lake.table import CommitConflict

    try:
        if not cluster and policy.binpack_small_bytes is not None:
            # cheap tick: merge only the due buckets' small files; any
            # bucket still over the bound afterwards (all-large files)
            # gets the full rewrite — the bound is a guarantee
            res = binpack(
                spark, table, small_bytes=policy.binpack_small_bytes,
                min_files=2, buckets=due,
                max_records_per_file=policy.max_records_per_file,
            )
            rep.binpacked_files = res["files_merged"]
            still_due = policy.due_buckets(table.snapshot())
            if still_due:
                compact(
                    spark, table, buckets=still_due,
                    sort_cols=policy.sort_cols,
                    zorder_cols=policy.zorder_cols,
                    max_records_per_file=policy.max_records_per_file,
                )
        else:
            compact(
                spark, table, buckets=None if cluster else due,
                sort_cols=policy.sort_cols, zorder_cols=policy.zorder_cols,
                max_records_per_file=policy.max_records_per_file,
            )
            rep.clustered = cluster
    except CommitConflict:
        # the advertised concurrent mode's COMMON case: an ingest
        # append to a due (hot) bucket landed between our snapshot
        # read and the rewrite commit, beyond what commit_rewrite's
        # disjoint-bucket rebase can absorb. Losing the race is not an
        # error for a policy daemon — the work is still due, the next
        # tick resnapshots and retries against the new head.
        rep.conflict = True
        rep.files_after = len(table.snapshot().files())
        return rep
    rep.triggered = True
    if policy.expire_keep:
        rep.snapshots_expired = table.expire_snapshots(
            keep_last=policy.expire_keep,
            older_than_sec=policy.expire_older_than_sec,
        )
    if policy.vacuum:
        # default grace protects concurrent writers' staged files (the
        # policy daemon is explicitly allowed to run beside a writer)
        rep.files_vacuumed = table.vacuum()
    rep.files_after = len(table.snapshot().files())
    return rep
