"""Changelog reads (CDC-out): per-commit change rows derived by
snapshot-diffing at read time.

This is the Iceberg ``create_changelog_view`` design — the changelog is
COMPUTED from snapshot pairs when a downstream consumer asks for it,
never persisted on the write path — so the hot MERGE/append path stays
zero-overhead and the same code serves both write modes (COW rewrites
and MOR delta appends, which read-time LWW resolution makes
indistinguishable here).

Scale shape: each commit's diff reads ONLY the buckets that commit
touched (recorded in the commit summary at write time), at the two
bounding snapshot versions, and joins them on the table key — cost is
O(touched data per commit), i.e. proportional to the write
amplification already paid, never O(table). State-preserving commits
(compaction, snapshot expiry, schema DDL) are skipped without any scan.
Within the touched buckets, purely-additive ranges (MOR delta appends
— no compaction/rebucket in between) additionally prune BOTH diff
sides to the files overlapping the ADDED delta files' key range
(manifest key_min/key_max, zero extra IO — see _added_key_range): an
append-mostly feed's maintenance window reads O(window) data even when
its bucket holds years of compacted history.

The reference engine (ldaniels528/qwery) has no change-feed surface;
this is a beyond-reference capability a CDC engine owes its downstream
incremental consumers (re-deriving aggregates without re-reading the
table).

Change row contract (Delta CDF naming):
  _change_type    'insert' | 'update_postimage' | 'delete'
                  (+ 'update_preimage' when include_preimages=True —
                  old payload at the old ordinal, emitted beside every
                  update_postimage; incremental-aggregate consumers
                  subtract it)
  _commit_version the snapshot version whose commit caused the change
  _ordinal        the change event's ordinal (for deletes: the delete
                  event's ordinal; payload columns carry the preimage)
Unchanged rows, stale-dropped events, tombstone re-deletes and
delete-of-absent-key tombstones produce NO row (visible state did not
change).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from qwery_spark.lake.table import LakeTable

# commits that can change visible rows; everything else (compact,
# schema DDL, expire) is state-preserving and skipped scan-free
_DATA_OPS = {"merge", "append-delta"}

CHANGE_TYPE_COL = "_change_type"
COMMIT_VERSION_COL = "_commit_version"
ORDINAL_COL = "_ordinal"
# only present when include_preimages=True
PREIMAGE_ORDINAL_COL = "_preimage_ordinal"


# key-set pruning gate: collect the window's exact changed-key set only
# when the added row count is known and bounded (a driver-side list this
# size is a normal pushdown predicate, not a data collect).
# 250 — NOT higher — for two measured reasons (round 6):
#   1. safety: parquet-mr evaluates a pushed In as a linear OR chain,
#      one stack frame per value; the scan task StackOverflows near
#      ~1000 long values on a default-Xss JVM, and the boundary moves
#      with surrounding stack depth. 250 = ~4x margin, and
#      session.get_spark pins inFilterThreshold to the same bound so an
#      over-limit list can never reach parquet as an exact In anyway.
#   2. payoff: the win shrinks as the key count grows (2.4x at 8M rows
#      x100 keys, 1.1-1.34x at x1000 — BASELINE.md "Round-5: changelog
#      diff pruning"); past
#      a few hundred keys the row-group hit set approaches the file
#      set and hull pruning already covers it.
# Over-limit windows degrade to hull-only pruning — never crash.
_KEY_SET_MAX_ROWS = 250
# ...and only against a scan deep enough to repay the key-collect job's
# fixed cost (~0.3-1 s): measured crossover is ~4M kept rows
# (BASELINE.md "Round-5: changelog diff pruning" — 2.4x at 8M/100, a
# mild loss at 2M/1000).
# Both knobs are module-level so the soundness tests can force the
# path on tiny tables.
_KEY_SET_MIN_KEPT_ROWS = 4_000_000
_KEY_SET_MIN_RATIO = 100
# granular/windowed catch-up over many data commits: the key-set layer
# launches one driver-side collect job per qualifying diff, which makes
# read_changes eager and O(commits) in driver jobs — past this many
# per-commit diffs, keep only the zero-IO hull pruning
_KEY_SET_MAX_DIFFS = 16


class VersionExpiredError(LookupError):
    """The changelog start version predates the table's retention
    window (expire_snapshots dropped its manifest): the consumer fell
    too far behind and the net diff it needs no longer exists. The
    only sound recovery is a REBUILD from a current snapshot —
    replicate(from_version=0 is gone; re-create the replica and copy
    the head state, or build_* the view at the head) — then resume
    following from the version the rebuild pinned. Same contract as
    Iceberg incremental scans / Delta CDF past the retention period."""


def _check_retained(table: LakeTable, from_version: int) -> None:
    try:
        table.snapshot(from_version)  # cached for the diff reads below
    except FileNotFoundError as e:
        earliest = table.earliest_version()
        if from_version < earliest:
            raise VersionExpiredError(
                f"changelog start v{from_version} predates the earliest "
                f"retained snapshot v{earliest} of {table.path!r} — the "
                "consumer fell behind the retention window; rebuild the "
                "replica/view from a current snapshot and resume from "
                "the rebuild's pinned version"
            ) from e
        raise


def _path_set(
    table: LakeTable, version: int, cache: dict | None
) -> set:
    """Manifest file-path set at ``version``, memoized in ``cache`` so a
    multi-commit loop (granular/windowed read_changes) builds each
    version's set once instead of O(commits x files) times — adjacent
    diffs share an endpoint version."""
    if cache is not None and version in cache:
        return cache[version]
    s = {f["path"] for f in table.snapshot(version).m["files"]}
    if cache is not None:
        cache[version] = s
    return s


def _added_files(
    table: LakeTable, before_version: int, after_version: int,
    path_cache: dict | None = None,
) -> list | None:
    """Manifest entries of files ADDED in ``(before, after]``, or None
    when the range also removed files (rewrite inside the range — the
    two-sided pruning soundness argument needs a purely additive
    range). Metadata only, zero data IO."""
    before = _path_set(table, before_version, path_cache)
    after = table.snapshot(after_version).m["files"]
    added = [f for f in after if f["path"] not in before]
    if len(after) - len(added) != len(before):
        return None
    if path_cache is not None and after_version not in path_cache:
        # additive range: the after set is exactly before + additions
        path_cache[after_version] = before | {f["path"] for f in added}
    return added


def _added_key_range(
    table: LakeTable, before_version: int, after_version: int,
    added: list | None = None,
) -> tuple | None:
    """Key range covering every key whose visible state can have changed
    in ``(before_version, after_version]`` — the union of the ADDED data
    files' manifest key_min/key_max stats — or None when pruning is
    unsound or unavailable. Zero data IO (manifest file lists only).

    Soundness: when the range removed no files, the after snapshot's
    file set is exactly the before set plus additions, so pruning BOTH
    diff sides by overlap-with-R reads the same before-files for every
    key: keys inside R (all changed keys — each lives inside some added
    file's stats) resolve from their complete file sets on both sides;
    keys outside R resolve from identical (possibly partial) subsets on
    both sides and cancel in the join. A compaction/rebucket/COW-merge
    inside the range REMOVES files, which breaks the identical-subset
    argument — those ranges return None and diff unpruned.

    This is what makes single-commit (granular) maintenance of a
    downstream view O(window) instead of O(touched buckets): an
    append-mostly CDC feed's delta files cover a narrow recent key
    range, so the before-side scan skips every compacted historical
    file whose key range doesn't overlap the window's."""
    if added is None:
        added = _added_files(table, before_version, after_version)
    if not added:
        return None  # rewrite inside the range, or no data change
    # files PROVEN to hold only null keys (manifest key_all_null, from
    # parquet null counts) contribute no joinable keys — null keys emit
    # no change rows on either diff side — so they neither extend nor
    # void the hull
    keyed = [f for f in added if not f.get("key_all_null")]
    if not keyed:
        return None  # nothing but null keys: no prunable bound
    if any(f.get("key_min") is None or f.get("key_max") is None for f in keyed):
        return None  # a file without key stats voids the bound
    try:
        return (
            min(f["key_min"] for f in keyed),
            max(f["key_max"] for f in keyed),
        )
    except TypeError:
        # key stats of incomparable Python types (key column type
        # evolved across the added files' schema versions) — disable
        # pruning conservatively instead of crashing the read
        return None


def _diff_pruning(
    spark: SparkSession,
    table: LakeTable,
    before_version: int,
    after_version: int,
    key: str,
    path_cache: dict | None = None,
    allow_key_set: bool = True,
) -> tuple:
    """(key_range, key_set) scan restrictions for one diff range.

    key_range: the added files' key hull (see _added_key_range) —
    always applied when the range is additive; file-level pruning.

    key_set: the EXACT set of keys the window touched, read from the
    added delta files' key column (window-sized columnar scan) and
    applied as a pushed-down In filter on BOTH diff sides — parquet
    row-group stats then prune INSIDE the files the hull kept. This is
    what keeps scattered-update windows O(window) after a
    compact(sort_cols=[key]) made historical files key-narrow: the
    hull of a scattered window spans the whole table (no file pruning),
    but each of its ~hundreds of keys hits one row group. Gated to
    windows whose added row count (manifest, exact) is <=
    _KEY_SET_MAX_ROWS (250 — see the constant for the StackOverflow
    and diminishing-returns measurements behind the bound) AND whose
    hull still keeps substantially more files than the window added —
    small tables and already-tight hulls skip the extra key read.

    Soundness (same shape as the hull argument): every changed key
    appears in an added file, so restricting both sides to the set
    keeps all changed keys; unchanged keys inside the set resolve
    identically on both sides and cancel in the join; keys outside the
    set are provably untouched (additive range) and emit nothing."""
    added = _added_files(table, before_version, after_version, path_cache)
    # the hull goes through the module-level name so pruning stays
    # monkeypatch-disableable as one switch (tests, A/B arms)
    rng = _added_key_range(table, before_version, after_version, added)
    if rng is None or not added:
        return None, None
    if not allow_key_set:
        return rng, None  # many-commit loop: hull only, no eager jobs
    rows = [f.get("rows") for f in added]
    if any(r is None for r in rows) or sum(rows) > _KEY_SET_MAX_ROWS:
        return rng, None
    # pay the key read only when the hull-kept scan is substantially
    # bigger than the window itself — by ROWS when the manifest knows
    # them (a compacted bucket is one huge file; counting files would
    # miss it), by file count otherwise
    touched = {f["bucket"] for f in added}
    kept = table.snapshot(before_version).files(touched, rng)
    kept_rows = [f.get("rows") for f in kept]
    if kept and all(r is not None for r in kept_rows):
        if sum(kept_rows) < max(
            _KEY_SET_MIN_KEPT_ROWS, _KEY_SET_MIN_RATIO * sum(rows)
        ):
            return rng, None  # scan too small to repay the key read
    elif len(kept) <= 2 * len(added) + 4:
        return rng, None  # rows unknown (pre-round-5 manifest): by file count
    import os as _os

    snap = table.snapshot(after_version)
    cur = next((f for f in snap.fields() if f["name"] == key), None)
    if cur is None:
        return rng, None
    keys: set = set()
    by_sv: dict[int, list] = {}
    for f in added:
        by_sv.setdefault(f["schema_version"], []).append(f)
    for sv, fs in by_sv.items():
        old = next(
            (f for f in snap.fields(sv) if f["id"] == cur["id"]), None
        )
        if old is None:
            return rng, None  # key column absent at that version
        paths = [_os.path.join(table.path, f["path"]) for f in fs]
        kdf = spark.read.parquet(*paths).select(F.col(f"`{old['name']}`"))
        keys.update(r[0] for r in kdf.distinct().collect())
    # null keys never join and emit no change rows (both the pruned
    # isin filter and the unpruned full-outer join drop them the same
    # way), so dropping None keeps pruned == unpruned — and keeps
    # sorted() from raising on a None/str comparison
    keys.discard(None)
    if not keys:
        return rng, None
    try:
        return rng, sorted(keys)
    except TypeError:
        return rng, None  # mixed key types (evolved column): skip


def _diff_snapshots(
    spark: SparkSession,
    table: LakeTable,
    before_version: int,
    after_version: int,
    buckets: set[int] | None,
    key: str,
    label_version: int,
    include_preimages: bool = False,
    key_range: tuple | None = None,
    key_set: list | None = None,
) -> DataFrame:
    """Change rows between two snapshots: full-outer join of the
    touched buckets at ``before_version`` (live rows only) vs
    ``after_version`` (physical rows — tombstones kept so a delete can
    report the deleting ordinal). ``label_version`` becomes the rows'
    _commit_version (the commit itself in granular mode, the range end
    in coarse mode).

    The before side is field-id-ALIGNED to the after snapshot's schema
    (its schemas dict is a superset), so a range spanning DDL commits
    (coarse mode) still joins/projects one column set: mid-range adds
    null-fill on the before side, renames map old data to the new name,
    drops vanish from both sides."""
    after_snap = table.snapshot(after_version)
    before_df = table.read_physical(
        spark,
        buckets=buckets,
        snapshot_version=before_version,
        align_to=after_snap,
        key_range=key_range,
    ).filter(~F.col("_deleted"))
    after_df = table.read_physical(
        spark, buckets=buckets, snapshot_version=after_version,
        key_range=key_range,
    )
    if key_set is not None:
        # pushed-down In predicate: parquet row-group stats prune
        # inside the hull-kept files (both sides identically — see
        # _diff_pruning soundness note)
        before_df = before_df.where(F.col(f"`{key}`").isin(key_set))
        after_df = after_df.where(F.col(f"`{key}`").isin(key_set))
    before = before_df.alias("b")
    after = after_df.alias("a")

    payload = [
        c
        for c in after.columns
        if c not in (key, "last_ordinal", "_deleted", "_bucket")
    ]
    a_key, b_key = F.col(f"a.`{key}`"), F.col(f"b.`{key}`")
    a_del = F.coalesce(F.col("a.`_deleted`"), F.lit(False))
    changed = F.col("a.`last_ordinal`") != F.col("b.`last_ordinal`")

    ct = (
        F.when(a_key.isNotNull() & a_del & b_key.isNotNull(), "delete")
        # before-only live row: its tombstone was vacuumed by a
        # drop-tombstones compaction inside a coarse range — still a
        # delete (within one granular commit this branch can't fire:
        # merge always writes the tombstone it applies)
        .when(a_key.isNull() & b_key.isNotNull(), "delete")
        .when(a_key.isNotNull() & ~a_del & b_key.isNull(), "insert")
        .when(a_key.isNotNull() & ~a_del & b_key.isNotNull() & changed,
              "update_postimage")
    )
    take_after = a_key.isNotNull() & ~a_del  # deletes report the preimage
    joined = after.join(before, a_key == b_key, "full_outer")
    # insert/update: the new winner's ordinal; delete: the tombstone's
    # (the event that removed the row). When the tombstone was vacuumed
    # (a-side absent), the true ordinal is gone — report
    # preimage.last_ordinal + 1, a safe lower bound: the delete happened
    # strictly after the preimage, and any REAL later event outranks it.
    ordinal_expr = F.coalesce(
        F.col("a.`last_ordinal`"), F.col("b.`last_ordinal`") + 1
    )
    if not include_preimages:
        return (
            joined.select(
                F.coalesce(a_key, b_key).alias(key),
                *[
                    F.when(take_after, F.col(f"a.`{c}`"))
                    .otherwise(F.col(f"b.`{c}`"))
                    .alias(c)
                    for c in payload
                ],
                ct.alias(CHANGE_TYPE_COL),
                F.lit(label_version).alias(COMMIT_VERSION_COL),
                ordinal_expr.alias(ORDINAL_COL),
            )
            .filter(F.col(CHANGE_TYPE_COL).isNotNull())
        )
    # Delta-CDF parity: an updated key emits TWO rows — update_preimage
    # (old payload, old ordinal) then update_postimage. Single pass over
    # the same full-outer join: per joined row an array of 0-2 change
    # structs, exploded; no second join execution. Consumers that
    # maintain incremental aggregates need the preimage to subtract.
    # _preimage_ordinal: the replaced row's last_ordinal, set on
    # update_postimage and delete rows (null on inserts/preimages) —
    # lets a history consumer (SCD2) address the open version a change
    # closed without reading its own state
    pre_ord = F.when(
        ct.isin("update_postimage", "delete"),
        F.col("b.`last_ordinal`").cast("bigint"),
    )
    post_struct = F.struct(
        *[
            F.when(take_after, F.col(f"a.`{c}`"))
            .otherwise(F.col(f"b.`{c}`"))
            .alias(c)
            for c in payload
        ],
        ct.alias("_ct"),
        ordinal_expr.cast("bigint").alias("_o"),
        pre_ord.alias("_po"),
    )
    pre_struct = F.struct(
        *[F.col(f"b.`{c}`").alias(c) for c in payload],
        F.lit("update_preimage").alias("_ct"),
        F.col("b.`last_ordinal`").cast("bigint").alias("_o"),
        F.lit(None).cast("bigint").alias("_po"),
    )
    rows = F.filter(
        F.array(
            F.when(ct == "update_postimage", pre_struct),
            F.when(ct.isNotNull(), post_struct),
        ),
        lambda x: x.isNotNull(),
    )
    return (
        joined.select(
            F.coalesce(a_key, b_key).alias(key), F.explode(rows).alias("r")
        )
        .select(
            key,
            *[F.col(f"r.`{c}`").alias(c) for c in payload],
            F.col("r._ct").alias(CHANGE_TYPE_COL),
            F.lit(label_version).alias(COMMIT_VERSION_COL),
            F.col("r._o").alias(ORDINAL_COL),
            F.col("r._po").alias(PREIMAGE_ORDINAL_COL),
        )
    )


def read_changes(
    spark: SparkSession,
    table: LakeTable,
    from_version: int,
    to_version: int | None = None,
    granular: bool = True,
    window: int | None = None,
    include_preimages: bool = False,
) -> DataFrame:
    """Changelog of ``table`` for commits in ``(from_version,
    to_version]`` (Iceberg incremental-scan bounds: exclusive start,
    inclusive end; ``to_version`` defaults to the current head).

    granular=True (default) attributes each change row to the commit
    that caused it — one snapshot diff per data commit, cost linear in
    the range. granular=False collapses the whole range into ONE
    endpoint diff (net changes only; intermediate states a key passed
    through are invisible, _commit_version = to_version for every row)
    — two scans + one join regardless of range length, the right mode
    for long-range catch-up consumers like replicate().

    ``window=W`` (overrides granular) is the hybrid for a follower K
    commits behind: one endpoint diff per chunk of <= W data commits,
    rows attributed with _commit_version = that chunk's end version —
    ceil(K/W) diffs instead of K, near-coarse cost with window-level
    staleness attribution and exact cross-window ordering.

    Returns one row per visible-state change with the contract described
    in the module docstring. Schema follows each commit's own snapshot
    (columns added by mid-range DDL null-fill in earlier commits' rows
    via unionByName(allowMissingColumns=True))."""
    head = table.current_version()
    to_version = head if to_version is None else to_version
    if not (0 <= from_version <= to_version <= head):
        raise ValueError(
            f"bad version range ({from_version}, {to_version}] for head v{head}"
        )
    # a resume point that expire_snapshots already dropped must fail
    # with the rebuild contract, not a raw FileNotFoundError mid-plan
    _check_retained(table, from_version)
    key = table.snapshot(to_version).m["key_col"]

    data_commits: list[tuple[int, set[int] | None]] = []
    rebucket_versions: set[int] = set()
    rebucketed = False
    for v in range(from_version + 1, to_version + 1):
        summary = table.snapshot(v).m.get("summary") or {}
        op = summary.get("operation")
        if op == "rebucket":
            rebucketed = True
            rebucket_versions.add(v)
        if op not in _DATA_OPS:
            continue
        tb = summary.get("touched_buckets")
        data_commits.append((v, set(tb) if tb is not None else None))

    parts: list[DataFrame] = []
    if window is not None:
        # ---- window-attributed hybrid (granular ignored) ----
        # One endpoint diff per chunk of <= `window` DATA commits;
        # every row in a chunk carries _commit_version = the chunk's
        # end version. Cost is linear in ceil(K / window) windows, not
        # K commits — the far-behind-follower mode that still gives
        # bounded-staleness attribution (which pure coarse, labeling
        # everything with the range end, cannot). Net-change semantics
        # WITHIN a window, exact ordering ACROSS windows.
        if window < 1:
            raise ValueError(f"window must be >= 1, got {window}")
        prev_end = from_version
        path_cache: dict[int, set] = {}
        n_chunks = (len(data_commits) + window - 1) // window
        allow_ks = n_chunks <= _KEY_SET_MAX_DIFFS
        for i in range(0, len(data_commits), window):
            chunk = data_commits[i : i + window]
            end_v = chunk[-1][0]
            # per-window rebucket fallback: summaries' bucket ids are
            # layout-relative, so a rebucket inside (prev_end, end_v]
            # voids the pruning for THIS window only
            win_rebucket = any(
                prev_end < rv <= end_v for rv in rebucket_versions
            )
            touched: set[int] | None = set()
            for _v, buckets in chunk:
                if buckets is None or win_rebucket:
                    touched = None
                    break
                touched |= buckets
            rng, keys = _diff_pruning(
                spark, table, prev_end, end_v, key,
                path_cache=path_cache, allow_key_set=allow_ks,
            )
            parts.append(
                _diff_snapshots(
                    spark, table, prev_end, end_v, touched, key, end_v,
                    include_preimages=include_preimages,
                    key_range=rng, key_set=keys,
                )
            )
            prev_end = end_v
    elif granular:
        parts = []
        path_cache: dict[int, set] = {}
        allow_ks = len(data_commits) <= _KEY_SET_MAX_DIFFS
        for v, buckets in data_commits:
            rng, keys = _diff_pruning(
                spark, table, v - 1, v, key,
                path_cache=path_cache, allow_key_set=allow_ks,
            )
            parts.append(
                _diff_snapshots(spark, table, v - 1, v, buckets, key, v,
                                include_preimages=include_preimages,
                                key_range=rng, key_set=keys)
            )
    elif data_commits:
        # bucket ids in commit summaries are relative to each commit's
        # OWN layout — a rebucket inside the range invalidates them for
        # both endpoints, so fall back to scanning every bucket (a
        # rebucket is a full rewrite; the full diff matches its cost)
        touched: set[int] | None = set()
        for _v, buckets in data_commits:
            if buckets is None or rebucketed:
                touched = None  # unknown somewhere: scan all buckets
                break
            touched |= buckets
        rng, keys = _diff_pruning(spark, table, from_version, to_version, key)
        parts = [
            _diff_snapshots(
                spark, table, from_version, to_version, touched, key,
                to_version, include_preimages=include_preimages,
                key_range=rng, key_set=keys,
            )
        ]
    if not parts:
        snap = table.snapshot(to_version)
        # the empty frame must match the non-empty contract EXACTLY —
        # consumers select _preimage_ordinal unconditionally in
        # preimage mode, and a maintenance-only window (compact/expire,
        # no data commits) lands here
        extra = (
            f", `{PREIMAGE_ORDINAL_COL}` bigint" if include_preimages else ""
        )
        schema = T.StructType.fromDDL(
            ", ".join(
                f"`{f['name']}` {f['type']}"
                for f in snap.fields()
                if f["name"] not in ("last_ordinal", "_deleted")
            )
            + f", `{CHANGE_TYPE_COL}` string, `{COMMIT_VERSION_COL}` int,"
            f" `{ORDINAL_COL}` bigint" + extra
        )
        return spark.createDataFrame([], schema)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p, allowMissingColumns=True)
    return out


def sync_schema_from_source(
    src: LakeTable,
    dst: LakeTable,
    from_version: int,
    to_version: int | None = None,
    protect: frozenset = frozenset(),
) -> int:
    """Replay the source's schema evolution over ``(from, to]`` onto a
    derived table (replica, SCD2 history) so the window's change feed —
    which carries the TO-version schema — merges cleanly. Returns the
    number of DDL ops applied.

    The diff is FIELD-ID-aligned inside the source (same id + new name
    = rename; new id = add; id gone = drop; same id + new type =
    widen) and applied to ``dst`` BY NAME — sound because the derived
    table's user columns mirror the source's names by construction.
    Field ids never reuse across drops (table.add_column), so a
    drop+re-add of one name in a single window resolves as drop-then-
    add, not a no-op, and the reincarnated column starts clean.

    Idempotent under window replay (the crash-recovery contract every
    maintainer shares): each op is guarded on the destination's current
    schema — an add whose name exists, a rename whose old name is gone
    and new name present, a widen already at the target type all skip.
    Rename chains apply in dependency order; a pure cycle (a<->b)
    breaks via a temp name. ``protect`` names structural destination
    columns (e.g. SCD2's valid_from) — a source column evolving onto
    one of those raises instead of corrupting the view.

    Reference anchor: the reference applies DDL events to its ONE
    output table (core ScriptEngine ALTER handling); propagating them
    through the change feed to downstream replicas/views is the
    lake-native extension of the same rule."""
    snap_to = src.snapshot(to_version)
    sv_to = snap_to.schema_version
    sv_from = src.snapshot(from_version).schema_version
    if sv_from == sv_to:
        return 0
    from qwery_spark.lake.merge import ENGINE_COLS

    key = snap_to.m["key_col"]
    f_from = {
        f["id"]: f for f in snap_to.fields(sv_from)
        if f["name"] not in ENGINE_COLS
    }
    f_to = {
        f["id"]: f for f in snap_to.fields(sv_to)
        if f["name"] not in ENGINE_COLS
    }

    def dst_user():
        return [
            (d["name"], d["type"]) for d in dst.snapshot().fields()
            if d["name"] not in ENGINE_COLS
        ]

    # window-level replay guard FIRST: after a crash between sync and
    # the state-file persist, the whole window re-delivers — and the
    # per-op guards alone cannot survive every shape (a window that
    # renames c1->c2 AND re-adds a new c1 would re-fire the rename
    # against the re-added column). Ordered delivery (the contract all
    # maintainers share) guarantees dst mirrors sv_from before a first
    # application and sv_to after a completed one, so name+type
    # equality with the target schema IS "already applied".
    target = [(f["name"], f["type"]) for f in snap_to.fields(sv_to)
              if f["name"] not in ENGINE_COLS]
    if dst_user() == target:
        return 0

    def dst_names() -> set:
        return {d["name"] for d in dst.snapshot().fields()}

    def check(name: str, op: str):
        if name in protect:
            raise ValueError(
                f"sync_schema_from_source: source {op} touches {name!r}, "
                f"a structural column of the derived table {dst.path!r} — "
                "rebuild the view instead"
            )

    ops = 0
    # drops first: they free names for renames/adds within the window
    for fid, f in f_from.items():
        if fid not in f_to:
            check(f["name"], "drop_column")
            if f["name"] in dst_names():
                dst.drop_column(f["name"])
                ops += 1
    # renames (same id, new name), untangled in dependency order
    pending = {
        fid: (f_from[fid]["name"], f_to[fid]["name"])
        for fid in f_from.keys() & f_to.keys()
        if f_from[fid]["name"] != f_to[fid]["name"]
    }
    for old, new in pending.values():
        if old == key:
            raise ValueError(
                "sync_schema_from_source: key column rename is not "
                "replayable onto a derived table"
            )
        check(old, "rename_column"), check(new, "rename_column")
    while pending:
        progressed = False
        names = dst_names()
        for fid, (old, new) in list(pending.items()):
            if old not in names and new in names:
                del pending[fid]  # already applied (window replay)
                progressed = True
            elif old in names and new not in names:
                dst.rename_column(old, new)
                ops += 1
                del pending[fid]
                progressed = True
        if not progressed:
            # rename cycle (a<->b): break it with a temp name
            fid, (old, new) = next(iter(sorted(pending.items())))
            tmp = f"__schema_sync_tmp_{fid}"
            dst.rename_column(old, tmp)
            ops += 1
            pending[fid] = (tmp, new)
    # adds (new field ids)
    names = dst_names()
    for fid in sorted(f_to.keys() - f_from.keys()):
        f = f_to[fid]
        check(f["name"], "add_column")
        if f["name"] not in names:
            dst.add_column(f["name"], f["type"])
            ops += 1
    # widens (same id, same final name, wider type) — dst.widen_type
    # re-validates legality, so a diverged destination fails loudly
    for fid in sorted(f_from.keys() & f_to.keys()):
        want = f_to[fid]
        cur = next(
            (d for d in dst.snapshot().fields()
             if d["name"] == want["name"]), None,
        )
        if cur is not None and cur["type"] != want["type"]:
            check(want["name"], "widen_type")
            dst.widen_type(want["name"], want["type"])
            ops += 1
    return ops


def replicate(
    spark: SparkSession,
    src: LakeTable,
    dst: LakeTable,
    from_version: int = 0,
    to_version: int | None = None,
    epoch_id=None,
    feed: DataFrame | None = None,
):
    """Apply ``src``'s changelog over ``(from_version, to_version]`` to
    ``dst`` as one merge batch — CDC replication built purely on the
    change feed, which doubles as the feed's completeness contract: a
    replica fed only change rows converges to the source state
    (tests/test_changes.py asserts byte equality).

    Uses the COARSE feed (granular=False): a replica only needs the net
    endpoint diff — two scans + one join regardless of how many commits
    the range spans — and the per-key LWW makes coarse and granular
    feeds converge to the same replica state anyway (a key that
    appeared and disappeared entirely inside the range leaves no
    visible state either way). The raw window events go straight to
    the replica's keyed write — append_changes (MOR) or merge_changes
    (COW) — whose one bucket shuffle resolves the in-batch LWW; no
    per-key reduction runs first. Deletes become 'D' events carrying the
    tombstone's ordinal, so the replica's straggler guard keeps working
    across replication boundaries. Incremental feeds applied in order
    and a single full-range feed produce the same replica.

    Pass ``feed`` to reuse an already-built changelog DataFrame for the
    same range (a follower shipping the window to parquet AND a replica
    must not pay the endpoint scans twice); granular or coarse both
    work — the per-key LWW normalizes them.

    Source DDL inside the range replays onto the replica FIRST
    (sync_schema_from_source): the feed carries the to-version schema,
    so adds/renames/widens/drops must land on ``dst`` before the merge
    — a follower crossing an evolution commit needs no manual ALTER."""
    _check_retained(src, from_version)
    sync_schema_from_source(src, dst, from_version, to_version)
    if feed is None:
        feed = read_changes(spark, src, from_version, to_version, granular=False)
    key = src.snapshot().m["key_col"]
    dst_key = dst.snapshot().m["key_col"]
    if key != dst_key:
        raise ValueError(
            f"replicate: source key {key!r} != destination key {dst_key!r}"
        )
    payload = [
        c
        for c in feed.columns
        if c not in (key, CHANGE_TYPE_COL, COMMIT_VERSION_COL, ORDINAL_COL)
    ]
    events = feed.select(
        F.col(f"`{key}`"),
        *[F.col(f"`{c}`") for c in payload],
        F.when(F.col(CHANGE_TYPE_COL) == "delete", "D").otherwise("U").alias("op"),
        F.col(ORDINAL_COL).alias("ordinal"),
    )
    # honor the REPLICA's write mode: MOR appends the window as delta
    # files (O(batch) write amplification; run_follow
    # --auto-compact-files bounds their count), COW rewrites buckets
    from qwery_spark.lake.merge import append_changes, merge_changes

    write = append_changes if dst.snapshot().write_mode == "mor" else merge_changes
    return write(spark, dst, events, epoch_id=epoch_id)
