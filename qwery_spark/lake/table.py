"""Snapshot-versioned, bucket-partitioned lake table (Iceberg-shaped).

The sandbox image ships no Iceberg/Delta jars, so the engine implements
the storage contract it needs directly on parquet + JSON manifests. The
design mirrors Iceberg 1:1 so the table layer can be swapped for a real
Iceberg catalog on a cluster (see docstrings on each method):

  * every commit writes an immutable record ``_manifests/v{N}.json``
    (atomic create-exclusive; single-writer driver). Records are
    DELTAS — only the files added and the buckets replaced by THAT
    commit — so commit metadata cost is O(touched buckets), never
    O(table files). Every CKPT_EVERY commits a derived checkpoint
    ``_manifests/ckpt-{N}.json`` materializes the full folded state
    (the Delta-Lake log/checkpoint shape; Iceberg's manifest-list is
    the same idea). Snapshot isolation, time travel and O(1) rollback
    fall out of replaying the log to any version.
  * data files live under ``data/snap-{N}/_bucket={B}/`` where
    B = pmod(xxhash64(doc_id), n_buckets)  — Iceberg's hidden
    ``bucket(N, doc_id)`` partition transform. MERGE prunes to the
    buckets a batch touches and rewrites only those (copy-on-write).
  * commits carry an ``epoch_id``; committing an epoch that any live
    ancestor snapshot already applied is a no-op -> idempotent,
    exactly-once foreachBatch sink (Iceberg analogue: snapshot summary
    property checked before commit).
  * schemas carry stable field ids; add/rename/widen produce a new
    schema version. Old data files are aligned to the current schema
    at read time by field id (rename = metadata-only, widen = cast on
    read, add = null-fill) — exactly Iceberg's resolution rules.

Reference semantics being served (SURVEY.md §2.10): qwery's
UPSERT ... KEYED ON row-at-a-time insert-or-update
(app/jvm/core/.../ops/sql/Upsert.scala:14-33) becomes a set-oriented
MERGE in qwery_spark.lake.merge.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

MANIFEST_DIR = "_manifests"
DATA_DIR = "data"


class CommitConflict(RuntimeError):
    """A commit lost the optimistic-concurrency race and could not be
    rebased: an interleaved winner touched the same buckets (or changed
    the partition spec), so the loser's staged files were computed from
    state that no longer holds. The caller must recompute from the new
    head. Disjoint-bucket losers never see this — they auto-rebase
    (Iceberg's commit.retry semantics)."""

# checkpoint cadence: a full-state snapshot every K commits bounds log
# replay to K delta reads; between checkpoints each commit writes only
# its own delta (O(touched buckets) bytes — the 10^10-event requirement)
CKPT_EVERY = 32

# folded-state cache: records are immutable, so (version -> state) can
# never go stale; keyed by table path, holding only the newest folded
# version per table (the head advances incrementally, O(1) per commit).
# LRU-bounded: a long-lived driver touching many tables (per-file
# workflow tables, bench loops) must not accumulate a full file list
# per path forever.
_STATE_CACHE_MAX = 16
_STATE_CACHE: "dict[str, tuple[int, dict]]" = {}


def _cache_put(path: str, version: int, state: dict) -> None:
    _STATE_CACHE.pop(path, None)
    _STATE_CACHE[path] = (version, state)  # insertion order == recency
    while len(_STATE_CACHE) > _STATE_CACHE_MAX:
        _STATE_CACHE.pop(next(iter(_STATE_CACHE)))


# historical-version memo for snapshot-walking readers (the change feed
# folds states for EVERY version in its range; without this each
# _load_state(v<head) replays up to CKPT_EVERY manifest JSONs, an
# O(range x K) driver cost). Same immutability argument as above —
# except a DROP + recreate reuses the path with fresh version numbers,
# so both caches must be purged together (_invalidate).
_HIST_CACHE_MAX = 64
_HIST_CACHE: "dict[tuple[str, int], dict]" = {}


def _hist_put(path: str, version: int, state: dict) -> None:
    _HIST_CACHE.pop((path, version), None)
    _HIST_CACHE[(path, version)] = state
    while len(_HIST_CACHE) > _HIST_CACHE_MAX:
        _HIST_CACHE.pop(next(iter(_HIST_CACHE)))


def _invalidate(path: str) -> None:
    """Purge all cached state for a table path (DROP / recreate),
    including any branch views' entries (cache keys 'path@branch')."""
    pre = path + "@"
    for k in [k for k in _STATE_CACHE if k == path or k.startswith(pre)]:
        _STATE_CACHE.pop(k, None)
    for k in [k for k in _HIST_CACHE if k[0] == path or k[0].startswith(pre)]:
        _HIST_CACHE.pop(k, None)

# widenings permitted by widen_type (Iceberg-compatible set)
_ALLOWED_WIDEN = {
    ("int", "bigint"),
    ("int", "double"),
    ("float", "double"),
    ("array<int>", "array<bigint>"),
}


def _type_of(dt: T.DataType) -> str:
    return dt.simpleString()


class Snapshot:
    """An immutable view of one committed manifest."""

    def __init__(self, manifest: dict, table_path: str):
        self.m = manifest
        self.table_path = table_path

    @property
    def version(self) -> int:
        return self.m["version"]

    @property
    def snapshot_id(self) -> str:
        return self.m["snapshot_id"]

    @property
    def schema_version(self) -> int:
        return self.m["schema_version"]

    @property
    def n_buckets(self) -> int:
        return self.m["n_buckets"]

    @property
    def applied_epochs(self) -> set:
        return set(self.m.get("applied_epochs", []))

    @property
    def write_mode(self) -> str:
        return self.m.get("write_mode", "cow")

    @property
    def codec(self) -> str:
        return self.m.get("codec", "snappy")

    @property
    def unresolved_buckets(self) -> set:
        return set(self.m.get("unresolved_buckets", []))

    @property
    def stats_cols(self) -> list:
        return list(self.m.get("stats_cols", []))

    @property
    def additive_cols(self) -> list:
        """Non-empty => aggregating-payload table (Hudi aggregating-
        payload / additive-MOR design): physical rows are DELTAS of
        these numeric columns, resolution is SUM per key instead of
        LWW, and a key whose summed first additive column is <= 0 is
        dead. Lets a counting view (span index) absorb a maintenance
        window as a blind O(window) append — no current-state read."""
        return list(self.m.get("additive_cols", []))

    def fields(self, schema_version: int | None = None) -> list[dict]:
        sv = self.schema_version if schema_version is None else schema_version
        return self.m["schemas"][str(sv)]

    def files(
        self,
        buckets: set[int] | None = None,
        key_range: tuple | None = None,
        col_ranges: dict | None = None,
    ) -> list[dict]:
        """Live file entries, optionally pruned to a bucket subset and —
        when the entries carry key_min/key_max footer stats (written by
        merge._stage_write) — to files whose key range overlaps
        ``key_range`` (lo, hi), either bound None = unbounded. Entries
        without stats are never pruned (conservative).

        ``col_ranges`` ({col: (lo, hi)}) prunes by PAYLOAD-column
        bounds (per-file ``col_stats``, recorded for the table's
        stats_cols). Soundness under MOR: a file in an UNRESOLVED
        bucket may carry the winning version (or the tombstone) of a
        key whose other versions live in files that match the range, so
        unresolved buckets prune all-or-nothing — every file stays if
        ANY of the bucket's files overlaps; resolved buckets (rows
        disjoint and final) prune per-file. Range predicates are
        null-rejecting by construction — the caller still applies the
        row-level filter."""
        fs = self.m["files"]
        if buckets is not None:
            fs = [f for f in fs if f["bucket"] in buckets]
        if key_range is not None:
            lo, hi = key_range
            fs = [
                f
                for f in fs
                if "key_min" not in f
                or not (
                    (hi is not None and f["key_min"] > hi)
                    or (lo is not None and f["key_max"] < lo)
                )
            ]
        if not col_ranges:
            return fs

        # stats are keyed by NAME but only trustworthy when the name
        # denotes the SAME field id in the file's schema version as in
        # the current schema — a rename chain that reuses a name would
        # otherwise let an old file's stats (describing a different
        # logical column) wrongly prune it
        cur_ids = {f["name"]: f["id"] for f in self.fields()}
        id_by_sv: dict[int, dict] = {}

        def _trusted(sv: int, c: str) -> bool:
            if sv not in id_by_sv:
                id_by_sv[sv] = {f["name"]: f["id"] for f in self.fields(sv)}
            return id_by_sv[sv].get(c) == cur_ids.get(c)

        def _overlaps(f: dict) -> bool:
            cs = f.get("col_stats") or {}
            for c, (lo, hi) in col_ranges.items():
                st = cs.get(c)
                if st is None or not _trusted(f["schema_version"], c):
                    continue  # no stats / untrusted: conservative keep
                mn, mx = st
                if (hi is not None and mn > hi) or (lo is not None and mx < lo):
                    return False
            return True

        unresolved = self.unresolved_buckets
        keep_buckets = {f["bucket"] for f in fs if _overlaps(f)}
        return [
            f
            for f in fs
            if (
                f["bucket"] in keep_buckets
                if f["bucket"] in unresolved
                else _overlaps(f)
            )
        ]

    def spark_schema(self) -> T.StructType:
        return T.StructType.fromDDL(
            ", ".join(f"`{f['name']}` {f['type']}" for f in self.fields())
        )


class LakeTable:
    """A bucket-partitioned, snapshot-versioned table of keyed rows.

    Physical rows always carry the engine columns ``last_ordinal`` and
    ``_deleted`` in addition to the user schema; ``read()`` hides them.
    """

    def __init__(self, path: str, branch: str | None = None):
        # normalized: the folded-state cache is keyed by this string, so
        # '/x/t' and '/x/t/' must resolve to ONE cache entry (a drop +
        # recreate via a different spelling must not serve stale state)
        self.path = os.path.normpath(path)
        # branch view (Iceberg branch ref / WAP stage): commits land in
        # an isolated sub-log forked from a pinned main version; main
        # readers never see them until publish_branch fast-forwards.
        self.branch = branch
        self._fork: int | None = None  # lazy fork_version for branch views

    @property
    def _ck(self) -> str:
        """State-cache key: branch views must never share folded state
        with the main view of the same path."""
        return self.path if self.branch is None else f"{self.path}@{self.branch}"

    # ---------------- manifest plumbing (delta log + checkpoints) -------
    def _bdir(self, name: str | None = None) -> str:
        return os.path.join(
            self.path, MANIFEST_DIR, f"branch-{name or self.branch}"
        )

    def _branch_ref_path(self, name: str | None = None) -> str:
        return os.path.join(self._bdir(name), "ref.json")

    def _fork_version(self) -> int:
        """Main-log version this branch view forked from (pinned at
        CREATE BRANCH; versions <= fork read from the main log)."""
        if self._fork is None:
            try:
                with open(self._branch_ref_path()) as fh:
                    self._fork = int(json.load(fh)["fork_version"])
            except OSError:
                raise FileNotFoundError(
                    f"no such branch {self.branch!r} on {self.path}"
                ) from None
        return self._fork

    def _manifest_path(self, version: int) -> str:
        if self.branch is not None and version > self._fork_version():
            return os.path.join(self._bdir(), f"v{version:08d}.json")
        return os.path.join(self.path, MANIFEST_DIR, f"v{version:08d}.json")

    def _ckpt_path(self, version: int) -> str:
        return os.path.join(self.path, MANIFEST_DIR, f"ckpt-{version:08d}.json")

    def _mdir(self) -> str:
        return os.path.join(self.path, MANIFEST_DIR)

    def current_version(self) -> int:
        if self.branch is not None:
            fork = self._fork_version()
            versions = [
                int(n[1:9]) for n in os.listdir(self._bdir())
                if n.startswith("v") and n.endswith(".json")
            ]
            return max(versions) if versions else fork
        mdir = self._mdir()
        if not os.path.isdir(mdir):
            raise FileNotFoundError(f"not a lake table: {self.path}")
        versions = [
            int(n[1:9]) for n in os.listdir(mdir) if n.startswith("v") and n.endswith(".json")
        ]
        if not versions:
            raise FileNotFoundError(f"no manifests in {mdir}")
        return max(versions)

    @staticmethod
    def _fold(state: dict, rec: dict) -> dict:
        """Apply one delta record to a folded state. A record carrying a
        full ``files`` list IS a state (the create record, a manually
        materialized manifest, or a legacy round-1 full manifest)."""
        if "files" in rec:
            d = dict(rec)
            # ts is per-RECORD metadata (commit wall-clock), not folded
            # state — a later delta must not inherit its base's stamp
            d.pop("ts", None)
            return d
        s = dict(state)
        s["version"] = rec["version"]
        s["parent"] = rec.get("parent")
        s["snapshot_id"] = rec["snapshot_id"]
        s["epoch_id"] = rec.get("epoch_id")
        if rec.get("epoch_id") is not None:
            # keys may mix bare ints (batch callers) and 'run:epoch'
            # strings (streaming) — sort by str for a stable manifest
            s["applied_epochs"] = sorted(
                set(s.get("applied_epochs", [])) | {rec["epoch_id"]}, key=str
            )
        rep = set(rec.get("replace_buckets", ()))
        rem = set(rec.get("remove_paths", ()))  # binpack partial rewrite
        if rep or rem or rec.get("add_files"):
            s["files"] = [
                f for f in s["files"]
                if f["bucket"] not in rep and f["path"] not in rem
            ] + rec.get("add_files", [])
        unresolved = (set(s.get("unresolved_buckets", ())) - rep) | set(
            rec.get("append_buckets", ())
        )
        s["unresolved_buckets"] = sorted(unresolved)
        s["resolved"] = not unresolved
        sc = rec.get("schema_change")
        if sc is not None:
            s["schema_version"] = sc["schema_version"]
            schemas = dict(s["schemas"])
            schemas[str(sc["schema_version"])] = sc["fields"]
            s["schemas"] = schemas
        if rec.get("stats_cols") is not None:
            # rename_column remaps stats_cols so footer stats keep
            # being recorded under the column's current name
            s["stats_cols"] = rec["stats_cols"]
        if rec.get("bloom_filter_cols") is not None:
            # same remap for the parquet bloom columns
            s["bloom_filter_cols"] = rec["bloom_filter_cols"]
        if rec.get("n_buckets") is not None:
            # partition-spec evolution (rebucket): the bucket count is
            # per-snapshot state, so time travel before this commit
            # keeps routing reads/merges by the OLD count
            s["n_buckets"] = rec["n_buckets"]
        s["summary"] = rec.get("summary", {})
        return s

    def _load_state(self, v: int) -> dict:
        """Reconstruct the folded state at version ``v``: newest full
        state (checkpoint / full record / cached head) <= v, then replay
        the delta records up to v."""
        cached = _STATE_CACHE.get(self._ck)
        if cached is not None and cached[0] == v:
            return cached[1]
        hist = _HIST_CACHE.get((self._ck, v))
        if hist is not None:
            return hist
        if self.branch is not None:
            # branch view: fold main state at the fork, then this
            # branch's own delta records. Branch lifetimes are a few
            # WAP commits, so a linear fold (no branch checkpoints)
            # stays O(branch length).
            fork = self._fork_version()
            main = LakeTable(self.path)
            if v <= fork:
                return main._load_state(v)
            state = main._load_state(fork)
            for i in range(fork + 1, v + 1):
                with open(self._manifest_path(i)) as fh:
                    state = self._fold(state, json.load(fh))
            _hist_put(self._ck, v, state)
            return state
        mdir = self._mdir()
        names = os.listdir(mdir)
        ckpts = [
            int(n[5:13]) for n in names if n.startswith("ckpt-") and n.endswith(".json")
        ]
        base_v, state = -1, None
        if cached is not None and cached[0] < v:
            base_v, state = cached
        best_hist = max(
            (hv for (p, hv) in _HIST_CACHE if p == self.path and base_v < hv <= v),
            default=None,
        )
        if best_hist is not None:
            base_v, state = best_hist, _HIST_CACHE[(self.path, best_hist)]
        best_ckpt = max((c for c in ckpts if base_v < c <= v), default=None)
        if best_ckpt is not None:
            with open(self._ckpt_path(best_ckpt)) as fh:
                base_v, state = best_ckpt, json.load(fh)
        start = base_v + 1
        for i in range(start, v + 1):
            with open(self._manifest_path(i)) as fh:
                rec = json.load(fh)
            if state is None and "files" not in rec:
                raise FileNotFoundError(
                    f"no full state at or below v{i} in {mdir} (expired?)"
                )
            state = self._fold(state or {}, rec)
        if state is None:
            raise FileNotFoundError(f"no manifest v{v} in {mdir}")
        _hist_put(self.path, v, state)
        return state

    def snapshot(self, version: int | None = None) -> Snapshot:
        head = self.current_version()
        v = head if version is None else version
        state = self._load_state(v)
        if v == head:
            _cache_put(self._ck, v, state)
        return Snapshot(state, self.path)

    def _write_manifest(self, manifest: dict) -> Snapshot:
        """Write one commit record (delta or full). Create-exclusive:
        os.link fails if the version exists, giving atomic single-winner
        semantics (Iceberg: catalog CAS). On a lost race the tmp file is
        still removed — the loser leaves no litter behind.

        Every record is stamped with its wall-clock commit time ``ts``
        (Iceberg snapshot timestamp-ms) — the input to OLDER THAN
        retention and the SHOW SNAPSHOTS ops surface. Records published
        from a branch keep their ORIGINAL stamp (publish hard-links the
        files; commit time is when the work committed, not when it was
        fast-forwarded)."""
        import time as _time

        manifest.setdefault("ts", _time.time())
        path = self._manifest_path(manifest["version"])
        tmp = path + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as fh:
            json.dump(manifest, fh)
        try:
            os.link(tmp, path)
        finally:
            os.unlink(tmp)
        return Snapshot(manifest, self.path)

    def _commit_record(self, rec: dict, folded: dict) -> Snapshot:
        """Write a delta record, advance the state cache, and drop a
        checkpoint every CKPT_EVERY commits (amortized O(files)/K)."""
        self._write_manifest(rec)
        _cache_put(self._ck, rec["version"], folded)
        if self.branch is None and rec["version"] % CKPT_EVERY == 0:
            ck = self._ckpt_path(rec["version"])
            tmp = ck + f".tmp-{uuid.uuid4().hex[:8]}"
            with open(tmp, "w") as fh:
                json.dump(folded, fh)
            os.replace(tmp, ck)  # derived cache: last writer fine
        return Snapshot(folded, self.path)

    # ---------------- DDL ----------------
    @classmethod
    def create(
        cls,
        path: str,
        schema: T.StructType,
        n_buckets: int = 16,
        key_col: str = "doc_id",
        write_mode: str = "cow",
        codec: str = "snappy",
        stats_cols: list[str] | None = None,
        bloom_filter_cols: list[str] | None = None,
        bloom_ndv: int | None = None,
        additive_cols: list[str] | None = None,
    ) -> "LakeTable":
        """Create an empty table. ``schema`` is the USER schema; engine
        columns are appended automatically. Partition spec is the hidden
        transform bucket(n_buckets, key_col). n_buckets must be >= 1
        (pmod-by-zero would break the first write, not the create).

        write_mode (Iceberg's write.merge.mode analogue):
          'cow' — copy-on-write MERGE: each batch rewrites touched
                  buckets; reads are resolve-free. Read-optimized.
          'mor' — merge-on-read: each batch APPENDS its LWW winners and
                  delete tombstones; reads resolve per-key max-ordinal;
                  compact() folds deltas back into one file per bucket.
                  Write amplification drops from O(table) to O(batch) —
                  the only shape that scales to 10^10-event ingest.
        """
        if write_mode not in ("cow", "mor"):
            raise ValueError(f"write_mode must be cow|mor, got {write_mode}")
        if additive_cols:
            # the aggregating-payload contract needs every non-key user
            # column to be additive (SUM has no defined meaning for a
            # bystander payload column) and MOR layout (the whole point
            # is append-only maintenance)
            if write_mode != "mor":
                raise ValueError("additive_cols requires write_mode='mor'")
            user = {f.name for f in schema.fields} - {key_col}
            if set(additive_cols) != user:
                raise ValueError(
                    f"additive_cols {sorted(additive_cols)} must equal the "
                    f"non-key user columns {sorted(user)}"
                )
        if codec not in ("snappy", "zstd", "gzip", "lz4", "uncompressed"):
            raise ValueError(f"unsupported codec: {codec}")
        if n_buckets < 1:
            raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
        path = os.path.normpath(path)  # cache keys are normalized paths
        # a deleted-and-recreated path must not serve the old table's
        # folded state from either cache
        _invalidate(path)
        os.makedirs(os.path.join(path, MANIFEST_DIR), exist_ok=True)
        os.makedirs(os.path.join(path, DATA_DIR), exist_ok=True)
        fields = [
            {"id": i + 1, "name": f.name, "type": _type_of(f.dataType)}
            for i, f in enumerate(schema.fields)
        ]
        nxt = len(fields) + 1
        fields.append({"id": nxt, "name": "last_ordinal", "type": "bigint"})
        fields.append({"id": nxt + 1, "name": "_deleted", "type": "boolean"})
        manifest = {
            "version": 0,
            "snapshot_id": uuid.uuid4().hex,
            "parent": None,
            "epoch_id": None,
            "applied_epochs": [],
            "key_col": key_col,
            "n_buckets": n_buckets,
            "write_mode": write_mode,
            # parquet codec for every data write (Iceberg
            # write.parquet.compression-codec table property). zstd ≈
            # 30-40% smaller files than snappy at 100-TB scale for a
            # small CPU cost — the scan is usually IO-bound there.
            "codec": codec,
            # payload columns whose per-file min/max get recorded in the
            # manifest at every write (Iceberg column bounds) — enables
            # file skipping on non-key predicates via files(col_ranges=)
            "stats_cols": list(stats_cols or ()),
            # parquet-NATIVE bloom filters (parquet.bloom.filter.* write
            # options, applied at every _stage_write — so compaction and
            # binpack regenerate them). The reader uses them
            # automatically for row-group skipping on pushed equality
            # predicates: the point-lookup rung manifest min/max can't
            # serve — SCATTERED keys inside an unsorted bucket, where
            # every row group's hull spans the key space. Manifest-level
            # blooms were considered and rejected: at ~10 bits/row a
            # useful bloom is MBs per 100-TB-scale file, which belongs
            # in the data files (the parquet format already standardizes
            # exactly this), not in a JSON manifest every planner read
            # must parse. bloom_ndv is the PER-ROW-GROUP distinct-count
            # hint; without it parquet-mr allocates its 1 MiB maximum
            # per row group — harmless at the default 128 MiB row
            # groups, pathological for small ones (measured 6x file
            # bloat in the layout of BASELINE.md "Parquet-native bloom
            # filters").
            "bloom_filter_cols": list(bloom_filter_cols or ()),
            "bloom_ndv": bloom_ndv,
            # aggregating-payload (additive-MOR) columns — see
            # Snapshot.additive_cols; empty = normal LWW table
            "additive_cols": list(additive_cols or ()),
            "resolved": True,  # False once MOR deltas overlap keys
            "schema_version": 0,
            "schemas": {"0": fields},
            "files": [],
            "summary": {"operation": "create"},
        }
        t = cls(path)
        t._write_manifest(manifest)
        return t

    # ---------------- reads ----------------
    def _aligned_scan(
        self,
        spark: SparkSession,
        snap: Snapshot,
        buckets: set[int] | None,
        key_range: tuple | None = None,
        align_to: "Snapshot | None" = None,
        col_ranges: dict | None = None,
        file_subset: list[dict] | None = None,
    ) -> DataFrame:
        """Read live data files, aligning every historical schema version
        to the current one by field id (rename: metadata-only; widen:
        cast-on-read; added column: null-fill). ``align_to`` projects
        onto a DIFFERENT (later) snapshot's schema instead — its
        schemas dict is a superset of this one's, so every file still
        maps by field id (the coarse changelog diff aligns the range's
        before-endpoint to the after-endpoint this way).
        ``file_subset`` scans exactly those manifest entries instead of
        the snapshot's pruned file list (binpack reads the small-file
        subset it is about to replace)."""
        tgt = align_to or snap
        cur = tgt.fields()
        files = (
            file_subset
            if file_subset is not None
            else snap.files(buckets, key_range, col_ranges)
        )
        if not files:
            empty = T.StructType.fromDDL(
                ", ".join(f"`{f['name']}` {f['type']}" for f in cur)
            )
            return spark.createDataFrame([], empty)
        by_sv: dict[int, list[str]] = {}
        for f in files:
            by_sv.setdefault(f["schema_version"], []).append(
                os.path.join(self.path, f["path"])
            )
        parts = []
        for sv, paths in sorted(by_sv.items()):
            old = {f["id"]: f for f in tgt.fields(sv)}
            cols = []
            for f in cur:
                o = old.get(f["id"])
                if o is None:
                    cols.append(F.lit(None).cast(f["type"]).alias(f["name"]))
                elif o["type"] != f["type"]:
                    cols.append(F.col(f"`{o['name']}`").cast(f["type"]).alias(f["name"]))
                elif o["name"] != f["name"]:
                    cols.append(F.col(f"`{o['name']}`").alias(f["name"]))
                else:
                    cols.append(F.col(f"`{f['name']}`"))
            parts.append(spark.read.parquet(*paths).select(*cols))
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        return df

    @staticmethod
    def _resolve_sum(df: DataFrame, key: str, additive_cols: list) -> DataFrame:
        """Aggregating-payload resolution: physical rows are deltas, the
        visible row per key is their SUM (one hash aggregation, partial
        sums combine map-side — same skew argument as LWW max_by). A key
        whose first additive column sums <= 0 resolves as dead
        (_deleted=True) — the additive analogue of a tombstone winning;
        there are no physical tombstones in this layout. Rows already
        folded by compaction participate as ordinary deltas (their sum
        is their value), so resolving any union of folded and delta
        files is associative and always correct."""
        aggs = [
            F.sum(F.col(f"`{c}`")).cast("long").alias(c) for c in additive_cols
        ] + [F.max("last_ordinal").alias("last_ordinal")]
        live = F.col(f"`{additive_cols[0]}`") > 0
        cols = [c for c in df.columns if c != key]
        return (
            df.groupBy(key)
            .agg(*aggs)
            .withColumn("_deleted", ~live)
            .select(key, *cols)
        )

    @classmethod
    def _resolve(cls, df: DataFrame, key: str, snap: "Snapshot") -> DataFrame:
        ac = snap.additive_cols
        if ac:
            return cls._resolve_sum(df, key, ac)
        return cls._resolve_lww(df, key)

    @staticmethod
    def _resolve_lww(df: DataFrame, key: str) -> DataFrame:
        """Merge-on-read resolution: one winner row per key, the one with
        the highest last_ordinal (tombstones compete like normal rows, so
        a delete with the max ordinal wins — the straggler guard falls out
        of the resolution itself). Hash aggregation with map-side partial
        max_by: hot keys combine before the shuffle."""
        cols = [c for c in df.columns if c != key]
        w = F.max_by(F.struct(*[F.col(f"`{c}`") for c in cols]), F.col("last_ordinal")).alias("w")
        return (
            df.groupBy(key)
            .agg(w)
            .select(key, *[F.col(f"w.`{c}`").alias(c) for c in cols])
        )

    def read_physical(
        self,
        spark: SparkSession,
        buckets: set[int] | None = None,
        snapshot_version: int | None = None,
        resolve: bool = True,
        key_range: tuple | None = None,
        align_to: "Snapshot | None" = None,
        col_ranges: dict | None = None,
    ) -> DataFrame:
        """All physical rows (tombstones + engine columns included),
        optionally pruned to a bucket subset (the MERGE fast path)
        and/or a key range (manifest file skipping — all rows for a key
        live in files whose stats cover it, so dropping non-overlapping
        files loses nothing, including under MOR resolution).

        With resolve=True (default), buckets carrying unresolved MOR
        deltas are LWW-resolved; already-resolved buckets pass through
        untouched (no shuffle paid where none is needed)."""
        snap = self.snapshot(snapshot_version)
        unresolved = snap.unresolved_buckets
        if buckets is not None:
            unresolved = unresolved & buckets
        if not resolve or not unresolved:
            return self._aligned_scan(
                spark, snap, buckets, key_range, align_to, col_ranges
            )
        clean = (buckets if buckets is not None else set(range(snap.n_buckets))) - unresolved
        key = snap.m["key_col"]
        parts = []
        if clean:
            parts.append(
                self._aligned_scan(
                    spark, snap, clean, key_range, align_to, col_ranges
                )
            )
        parts.append(
            self._resolve(
                self._aligned_scan(
                    spark, snap, unresolved, key_range, align_to, col_ranges
                ),
                key,
                snap,
            )
        )
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        return df

    def read(
        self,
        spark: SparkSession,
        snapshot_version: int | None = None,
        col_ranges: dict | None = None,
    ) -> DataFrame:
        """Public read: live rows only, user columns only (MOR deltas
        resolved transparently). ``col_ranges`` ({col: (lo, hi)}) skips
        files whose recorded payload-column bounds cannot match — a scan
        HINT only: the caller still applies the actual (null-rejecting)
        row filter."""
        snap = self.snapshot(snapshot_version)
        df = self.read_physical(
            spark, snapshot_version=snapshot_version, col_ranges=col_ranges
        )
        user_cols = [
            f["name"] for f in snap.fields() if f["name"] not in ("_deleted", "last_ordinal")
        ]
        return df.filter(~F.col("_deleted")).select(*[f"`{c}`" for c in user_cols])

    def lookup(self, spark: SparkSession, key_value) -> DataFrame:
        """Point read of one key with the full pruning stack: hash to
        ONE bucket, manifest key_min/key_max stats skip that bucket's
        non-overlapping files (written per-file at merge/compact time),
        and the pushed-down equality filter lets parquet row-group
        min/max skip pages inside what's left (maximal after a
        compact(sort_cols=[key])). At 100 TB this touches one file's
        worth of metadata + one row group, not a bucket scan.

        The bucket id is computed driver-side with lake/xxh64.py (pure
        Python, property-pinned to Spark's xxhash64 in tests/test_xxh64
        — a divergence would silently read the wrong bucket, hence the
        pin) so a probe launches ZERO extra jobs; key types the pin
        doesn't cover fall back to a 1-row Spark job."""
        snap = self.snapshot()
        key = snap.m["key_col"]
        ktype = next(f["type"] for f in snap.fields() if f["name"] == key)
        from qwery_spark.lake.xxh64 import spark_bucket

        b = spark_bucket(key_value, snap.n_buckets, ktype)
        if b is None:
            b = (
                spark.range(1)
                .select(
                    F.pmod(
                        F.xxhash64(F.lit(key_value).cast(ktype)), F.lit(snap.n_buckets)
                    ).cast("int")
                )
                .first()[0]
            )
        user_cols = [
            f["name"] for f in snap.fields() if f["name"] not in ("_deleted", "last_ordinal")
        ]
        return (
            self.read_physical(
                spark, buckets={b}, key_range=(key_value, key_value)
            )
            .filter((F.col(f"`{key}`") == key_value) & ~F.col("_deleted"))
            .select(*[f"`{c}`" for c in user_cols])
        )

    # ---------------- commit ----------------
    def bucket_expr(self, col: str | None = None):
        snap = self.snapshot()
        key = col or snap.m["key_col"]
        return F.pmod(F.xxhash64(F.col(key)), F.lit(snap.n_buckets)).cast("int")

    def commit_rewrite(
        self,
        base: Snapshot,
        new_files: list[dict],
        replaced_buckets: set[int],
        epoch_id: int | None,
        summary: dict | None = None,
        new_schema: tuple[int, dict] | None = None,
        append_buckets: set[int] | None = None,
        new_n_buckets: int | None = None,
        max_retries: int = 5,
    ) -> Snapshot | None:
        """Commit new files: a copy-on-write rewrite of
        ``replaced_buckets`` and/or a merge-on-read delta append to
        ``append_buckets`` (those become unresolved until compaction).

        Returns the new Snapshot, or None if ``epoch_id`` was already
        applied by a live snapshot (idempotent re-delivery no-op).

        Optimistic concurrency with automatic rebase (Iceberg's
        commit.retry semantics): when the head moved past ``base``, the
        staged files are still valid as long as no interleaved winner
        touched the buckets this commit replaces — a COW rewrite was
        computed from its base's bucket state, so a winner's replace OR
        delta-append to the same bucket means committing would silently
        drop the winner's rows. Disjoint losers (and MOR delta appends,
        which read-time LWW resolution makes commutative per key) are
        rebased onto the new head and retried, up to ``max_retries``
        lost os.link races; conflicting losers raise CommitConflict for
        the caller to recompute. Interleaved schema changes rebase fine
        (files carry their schema_version; reads align by field id);
        an interleaved REBUCKET conflicts with everything — the bucket
        mapping the staged files were routed by no longer exists.
        """
        for _ in range(max_retries + 1):
            latest = self.snapshot()
            if epoch_id is not None and epoch_id in latest.applied_epochs:
                return None
            if latest.version != base.version:
                reason = self._rebase_conflict(
                    base.version,
                    latest.version,
                    replaced_buckets,
                    has_schema_change=new_schema is not None,
                )
                if reason is not None:
                    raise CommitConflict(
                        f"concurrent commit: base v{base.version} != latest "
                        f"v{latest.version} and rebase is unsafe ({reason})"
                    )
            rec = {
                "version": latest.version + 1,
                "parent": latest.snapshot_id,
                "snapshot_id": uuid.uuid4().hex,
                "epoch_id": epoch_id,
                "replace_buckets": sorted(replaced_buckets),
                "append_buckets": sorted(append_buckets or ()),
                "add_files": new_files,
                "summary": summary or {},
            }
            if new_n_buckets is not None:
                rec["n_buckets"] = new_n_buckets
            if new_schema is not None:
                sv, fields = new_schema
                rec["schema_change"] = {"schema_version": sv, "fields": fields}
            try:
                return self._commit_record(rec, self._fold(latest.m, rec))
            except FileExistsError:
                # lost the create-exclusive link race to a concurrent
                # writer — loop: re-read the head, re-check rebase
                # safety against the newly landed commit(s), retry
                continue
        raise CommitConflict(
            f"lost the commit race {max_retries + 1} times in a row "
            f"(replaced_buckets={sorted(replaced_buckets)})"
        )

    def _rebase_conflict(
        self,
        base_version: int,
        head_version: int,
        replaced_buckets: set[int],
        has_schema_change: bool = False,
    ) -> str | None:
        """Return None when a commit staged against ``base_version`` can
        rebase onto ``head_version``, else a human-readable reason.

        Safe  : interleaved winners' (replace ∪ append) buckets are
                disjoint from OUR replaced buckets. Pure appends (ours)
                always rebase — read-time LWW ordinal resolution makes
                delta appends commutative, and a winner's compaction
                folded only files visible at ITS base, so our deltas
                stack on top untouched.
        Unsafe: bucket overlap with our replace set, an interleaved
                REBUCKET (partition-spec change invalidates every staged
                file's routing), or unreadable interleaved records
                (expired mid-flight — cannot prove safety).

        Append ∥ compact(drop_tombstones=True) stays safe under that
        mode's own documented precondition (no straggler below the
        tombstone retention watermark can still arrive) — the rebase
        adds no new hazard beyond what drop_tombstones already assumes.

        Interleaved BINPACK commits (remove_paths records) deliberately
        contribute NOTHING to the winner's touched set: binpack is a
        logical identity (same rows, fewer files), its data files are
        never physically deleted before vacuum (our staged read already
        completed), and a rebased replace of the same bucket simply
        drops the binpack output as an orphan — so rebasing over one is
        always sound. Binpack's own commits never rebase at all
        (commit_remove_add is strict CAS).
        """
        mine = set(replaced_buckets)
        for v in range(base_version + 1, head_version + 1):
            try:
                with open(self._manifest_path(v)) as fh:
                    w = json.load(fh)
            except OSError:
                return f"interleaved commit v{v} is unreadable/expired"
            if "n_buckets" in w:
                return f"v{v} changed the partition spec (rebucket)"
            if has_schema_change and w.get("schema_change"):
                # two concurrent schema evolutions numbered their new
                # schema_version from the same base — merging them needs
                # a recompute, not a blind rebase
                return f"v{v} also changed the schema"
            theirs = set(w.get("replace_buckets") or ()) | set(
                w.get("append_buckets") or ()
            )
            hit = mine & theirs
            if hit:
                return f"v{v} touched replaced bucket(s) {sorted(hit)}"
        return None

    def commit_remove_add(
        self,
        base: Snapshot,
        remove_paths: list[str],
        new_files: list[dict],
        summary: dict,
    ) -> Snapshot:
        """Partial-rewrite commit: drop specific files, add replacements
        (the binpack shape — lake/merge.binpack). STRICT CAS, no rebase:
        the replacement rows were computed from exactly ``base``'s file
        set, and unlike a pure append or a whole-bucket replace there is
        no cheap proof that an interleaved winner's files are disjoint
        from the removed subset — any head movement raises
        CommitConflict and the caller (maintenance) just recomputes
        against the new head. Maintenance races are rare and cheap to
        lose; unsound merges of 100 TB are not."""
        latest = self.snapshot()
        if latest.version != base.version:
            raise CommitConflict(
                f"binpack staged at v{base.version} but head is "
                f"v{latest.version}; recompute against the new head"
            )
        rec = {
            "version": latest.version + 1,
            "parent": latest.snapshot_id,
            "snapshot_id": uuid.uuid4().hex,
            "epoch_id": None,
            "remove_paths": sorted(remove_paths),
            "add_files": new_files,
            "summary": summary,
        }
        try:
            return self._commit_record(rec, self._fold(latest.m, rec))
        except FileExistsError:
            raise CommitConflict(
                "binpack lost the commit race; recompute against the new head"
            ) from None

    def commit_schema_change(
        self,
        fields: list[dict],
        summary: dict,
        max_retries: int = 5,
        base: Snapshot | None = None,
        new_stats_cols: list[str] | None = None,
        new_bloom_cols: list[str] | None = None,
    ) -> Snapshot:
        """Metadata-only commit: new schema version, files untouched.
        Retries over interleaved DATA commits (they can't invalidate a
        field list); a concurrent schema change raises CommitConflict —
        the caller computed ``fields`` from a schema that moved.

        ``base`` must be the snapshot the field list was DERIVED from
        (every in-class caller passes it): capturing it here instead
        would silently absorb a schema change landing between the
        caller's read and this call, clobbering that change."""
        if base is None:
            base = self.snapshot()
        for _ in range(max_retries + 1):
            latest = self.snapshot()
            if latest.version != base.version:
                reason = self._rebase_conflict(
                    base.version, latest.version, set(), has_schema_change=True
                )
                if reason is not None:
                    raise CommitConflict(
                        f"schema change staged at v{base.version} cannot "
                        f"rebase onto v{latest.version} ({reason})"
                    )
            rec = {
                "version": latest.version + 1,
                "parent": latest.snapshot_id,
                "snapshot_id": uuid.uuid4().hex,
                "epoch_id": None,
                "schema_change": {
                    "schema_version": latest.schema_version + 1,
                    "fields": fields,
                },
                "summary": summary,
            }
            if new_stats_cols is not None:
                rec["stats_cols"] = new_stats_cols
            if new_bloom_cols is not None:
                rec["bloom_filter_cols"] = new_bloom_cols
            try:
                return self._commit_record(rec, self._fold(latest.m, rec))
            except FileExistsError:
                continue
        raise CommitConflict(
            f"lost the schema-change commit race {max_retries + 1} times"
        )

    # ---------------- branches (Iceberg refs / write-audit-publish) ------
    # A branch is an isolated sub-log ``_manifests/branch-{name}/``
    # forked from a pinned main version F: records are numbered
    # v{F+1}.. with the SAME delta-record shape as main's, and every
    # data file they add lives under the table's normal data/ tree — so
    # publish is METADATA-ONLY (link the records into the main log),
    # the WAP property. Audit queries read the branch view with the
    # full engine read path (MOR resolution, schema alignment);
    # rejecting a window = drop_branch, which reclaims its files.
    _BRANCH_NAME = re.compile(r"^[A-Za-z][A-Za-z0-9_\-]*$")

    def _require_main(self, op: str) -> None:
        if self.branch is not None:
            raise ValueError(f"{op} must run on the main table, not a branch view")

    def create_branch(self, name: str, at_version: int | None = None) -> "LakeTable":
        """Fork a branch at ``at_version`` (default: current head) and
        return its writable view. Create-exclusive: a second creator of
        the same name loses (FileExistsError)."""
        self._require_main("create_branch")
        if not self._BRANCH_NAME.match(name or ""):
            raise ValueError(f"bad branch name: {name!r}")
        head = self.current_version()
        fork = head if at_version is None else int(at_version)
        if not 0 <= fork <= head:
            raise ValueError(f"fork version {fork} outside [0, {head}]")
        fork_state = self._load_state(fork)  # reconstructable (not expired)?
        bdir = self._bdir(name)
        os.makedirs(bdir, exist_ok=False)
        ref = {"name": name, "fork_version": fork,
               "forked_snapshot_id": fork_state["snapshot_id"]}
        with open(self._branch_ref_path(name) + ".tmp", "w") as fh:
            json.dump(ref, fh)
        os.replace(self._branch_ref_path(name) + ".tmp", self._branch_ref_path(name))
        return LakeTable(self.path, branch=name)

    def branch_view(self, name: str) -> "LakeTable":
        t = LakeTable(self.path, branch=name)
        t._fork_version()  # raise early if the branch doesn't exist
        return t

    def list_branches(self) -> list[dict]:
        """[{name, fork_version, head_version, commits}] for live refs."""
        mdir = self._mdir()
        out = []
        for n in sorted(os.listdir(mdir)) if os.path.isdir(mdir) else []:
            if not n.startswith("branch-"):
                continue
            name = n[len("branch-"):]
            try:
                v = self.branch_view(name)
            except FileNotFoundError:
                continue  # half-created/half-dropped ref
            fork, head = v._fork_version(), v.current_version()
            out.append({"name": name, "fork_version": fork,
                        "head_version": head, "commits": head - fork})
        return out

    def _branch_records(self, name: str) -> list[int]:
        return sorted(
            int(f[1:9]) for f in os.listdir(self._bdir(name))
            if f.startswith("v") and f.endswith(".json")
        )

    def publish_branch(self, name: str) -> Snapshot:
        """Fast-forward main to the branch head (Iceberg
        fastForwardBranch / WAP publish). Metadata-only: each branch
        record hard-links into the main log under its own version
        number via the same create-exclusive CAS every commit uses.

        Precondition: main head still equals the branch's fork version
        (the branch's records were staged against it). A main commit
        that landed after the fork owns v{fork+1}, so the first link
        collides -> CommitConflict; re-stage on a fresh branch. A
        publish that crashed midway is resumable: already-linked
        records are recognized by snapshot_id and skipped."""
        self._require_main("publish_branch")
        view = self.branch_view(name)
        fork = view._fork_version()
        versions = self._branch_records(name)
        for v in versions:
            src = os.path.join(self._bdir(name), f"v{v:08d}.json")
            dst = os.path.join(self._mdir(), f"v{v:08d}.json")
            try:
                os.link(src, dst)
            except FileExistsError:
                with open(src) as fh:
                    want = json.load(fh).get("snapshot_id")
                with open(dst) as fh:
                    have = json.load(fh).get("snapshot_id")
                if want != have:
                    raise CommitConflict(
                        f"cannot fast-forward branch {name!r}: main advanced "
                        f"past fork v{fork} (v{v} is a different commit)"
                    ) from None
                # same record already linked (resumed publish) — continue
        self.drop_branch(name, delete_files=False)  # records now live in main
        return self.snapshot()

    def drop_branch(self, name: str, delete_files: bool = True) -> int:
        """Delete a branch ref (WAP audit-reject). With
        ``delete_files`` (the reject path), also unlink the data files
        its records added — branch commits only ever add NEW files
        under fresh snap dirs, so they are branch-private by
        construction and safe to reclaim eagerly. Returns data files
        removed."""
        self._require_main("drop_branch")
        bdir = self._bdir(name)
        if not os.path.isdir(bdir):
            raise FileNotFoundError(f"no such branch {name!r} on {self.path}")
        removed = 0
        if delete_files:
            for v in self._branch_records(name):
                with open(os.path.join(bdir, f"v{v:08d}.json")) as fh:
                    rec = json.load(fh)
                for f in rec.get("add_files", []):
                    try:
                        os.unlink(os.path.join(self.path, f["path"]))
                        removed += 1
                    except FileNotFoundError:
                        pass
        shutil.rmtree(bdir)
        pre_ck = f"{self.path}@{name}"
        _STATE_CACHE.pop(pre_ck, None)
        for k in [k for k in _HIST_CACHE if k[0] == pre_ck]:
            _HIST_CACHE.pop(k, None)
        return removed

    def rollback(self, to_version: int, max_retries: int = 5) -> Snapshot:
        """Restore the file set (and schema/applied-epochs state) of
        ``to_version`` as a NEW head commit (Iceberg
        rollback_to_snapshot): time travel stays intact, the rolled-past
        records remain until expire_snapshots, and epochs applied after
        ``to_version`` become re-appliable — a rollback un-applies them.
        The record is a full state, so it is self-reconstructable."""
        self._require_main("rollback")
        state = self._load_state(to_version)
        for _ in range(max_retries + 1):
            head = self.snapshot()
            if to_version > head.version:
                raise ValueError(
                    f"rollback target v{to_version} is ahead of head v{head.version}"
                )
            rec = dict(state)
            rec.pop("ts", None)  # legacy checkpoints may carry a stamp
            rec.update(
                version=head.version + 1,
                parent=head.snapshot_id,
                snapshot_id=uuid.uuid4().hex,
                summary={"operation": "rollback", "to_version": to_version},
                epoch_id=None,
            )
            try:
                # folded state is a COPY: _write_manifest stamps ts onto
                # the record, and the cached state must stay ts-free
                return self._commit_record(rec, dict(rec))
            except FileExistsError:
                continue  # lost the CAS race; re-read head and retry
        raise CommitConflict(f"lost the rollback commit race {max_retries + 1} times")

    # ---------------- maintenance (Iceberg expire_snapshots / orphan GC) --
    def earliest_version(self) -> int:
        """Oldest version still reconstructable (time-travel floor).
        0 for a never-expired table; after expire_snapshots it is the
        oldest retained manifest (a checkpoint is materialized there
        before older manifests are dropped). A changelog consumer whose
        resume point is below this has fallen out of the retention
        window and must rebuild from a current snapshot."""
        mdir = os.path.join(self.path, MANIFEST_DIR)
        names = os.listdir(mdir)
        vs = sorted(
            int(n[1:9]) for n in names
            if n.startswith("v") and n.endswith(".json")
        )
        if not vs:
            raise FileNotFoundError(f"no manifests in {mdir}")
        cks = {
            int(n[5:13]) for n in names
            if n.startswith("ckpt-") and n.endswith(".json")
        }
        for v in vs:
            if v == 0 or any(c <= v for c in cks):
                return v
            with open(self._manifest_path(v)) as fh:
                if "files" in json.load(fh):
                    return v  # full record: reconstructable on its own
        raise FileNotFoundError(
            f"no reconstructable version in {mdir} (all checkpoints gone?)"
        )

    def expire_snapshots(
        self, keep_last: int = 3, older_than_sec: float | None = None
    ) -> int:
        """Drop all but the newest ``keep_last`` manifests (time travel
        window). applied_epochs accumulate forward, so exactly-once
        replay protection survives expiry. Returns manifests removed.

        ``older_than_sec`` (Iceberg expire_snapshots older_than)
        ADDITIONALLY requires an expired record's commit stamp to be at
        least that old — so `keep_last=1, older_than_sec=7*86400` reads
        "keep a week of time travel, however many commits that is".
        Records predating the stamp (legacy logs) count as old. The
        age check walks the candidate prefix oldest-first and stops at
        the first too-young record, preserving the contiguous-prefix
        invariant the log requires even across clock skew.

        Live branch refs PIN their fork versions (Iceberg: refs protect
        snapshots from expiration): a branch's state folds from main at
        its fork, so expiry never drops below the oldest live fork."""
        self._require_main("expire_snapshots")
        mdir = os.path.join(self.path, MANIFEST_DIR)
        names = os.listdir(mdir)
        versions = sorted(
            int(n[1:9]) for n in names if n.startswith("v") and n.endswith(".json")
        )
        to_drop = versions[:-keep_last] if keep_last > 0 else versions[:-1]
        min_fork = min(
            (b["fork_version"] for b in self.list_branches()), default=None
        )
        if min_fork is not None:
            to_drop = [v for v in to_drop if v < min_fork]
        if older_than_sec is not None:
            import time as _time

            cutoff = _time.time() - older_than_sec
            aged = []
            for v in to_drop:
                with open(self._manifest_path(v)) as fh:
                    ts = json.load(fh).get("ts")
                if ts is not None and ts > cutoff:
                    break  # too young: this and everything after stays
                aged.append(v)
            to_drop = aged
        if not to_drop:
            return 0
        oldest_kept = versions[len(to_drop)]
        # the oldest surviving version must stay reconstructable after the
        # log below it is gone: materialize a checkpoint there first
        if not os.path.exists(self._ckpt_path(oldest_kept)):
            state = self._load_state(oldest_kept)
            tmp = self._ckpt_path(oldest_kept) + f".tmp-{uuid.uuid4().hex[:8]}"
            with open(tmp, "w") as fh:
                json.dump(state, fh)
            os.replace(tmp, self._ckpt_path(oldest_kept))
        for v in to_drop:
            os.unlink(self._manifest_path(v))
        for n in names:
            if n.startswith("ckpt-") and n.endswith(".json") and int(n[5:13]) < oldest_kept:
                os.unlink(os.path.join(mdir, n))
        # cached states for expired versions must not outlive their
        # manifests (vacuum may delete the files they reference)
        for k in [k for k in _HIST_CACHE if k[0] == self.path and k[1] < oldest_kept]:
            _HIST_CACHE.pop(k, None)
        return len(to_drop)

    def vacuum(self, grace_sec: float = 3600.0) -> int:
        """Delete data files not referenced by any live manifest (orphans
        from expired snapshots / failed stages). Returns files removed.

        ``grace_sec`` (Iceberg remove_orphan_files' older_than): a file
        younger than the grace window is NEVER deleted even if
        unreferenced — a concurrent writer stages parquet FIRST and
        links its manifest after, so with multi-writer rebase enabled a
        zero-grace vacuum could unlink a commit-in-flight's staged
        files and corrupt its commit. Pass 0 only when provably
        single-process (e.g. the single-writer ingest loop's inline
        maintenance)."""
        import time as _time

        self._require_main("vacuum")
        mdir = os.path.join(self.path, MANIFEST_DIR)
        live: set[str] = set()
        # live branch sub-logs reference files too (unpublished WAP
        # stages must survive a concurrent vacuum until publish/reject)
        rec_dirs = [mdir] + [
            os.path.join(mdir, n) for n in os.listdir(mdir)
            if n.startswith("branch-") and os.path.isdir(os.path.join(mdir, n))
        ]
        for d in rec_dirs:
            for n in os.listdir(d):
                if n.endswith(".json") and (n.startswith("v") or n.startswith("ckpt-")):
                    with open(os.path.join(d, n)) as fh:
                        rec = json.load(fh)
                    # full states carry "files"; deltas carry "add_files"
                    live.update(
                        f["path"] for f in rec.get("files", []) + rec.get("add_files", [])
                    )
        removed = 0
        cutoff = _time.time() - grace_sec
        droot = os.path.join(self.path, DATA_DIR)
        for root, _dirs, files in os.walk(droot, topdown=False):
            for f in files:
                full = os.path.join(root, f)
                rel = os.path.relpath(full, self.path)
                if (
                    rel not in live
                    and f.endswith(".parquet")
                    and os.path.getmtime(full) <= cutoff
                ):
                    os.unlink(full)
                    removed += 1
            if not os.listdir(root) and root != droot:
                os.rmdir(root)
        return removed

    # ---------------- schema evolution (Iceberg UpdateSchema API shape) --
    def add_column(self, name: str, type_ddl: str) -> Snapshot:
        latest = self.snapshot()
        fields = [dict(f) for f in latest.fields()]
        if any(f["name"] == name for f in fields):
            raise ValueError(f"column exists: {name}")
        # new ids must never reuse one from ANY schema version — after a
        # drop_column, reusing the dropped id would resurrect the old
        # files' bytes under the new column at aligned-read time
        next_id = (
            max(f["id"] for sv in latest.m["schemas"].values() for f in sv) + 1
        )
        # engine columns stay last for readability (not semantically needed)
        eng = [f for f in fields if f["name"] in ("last_ordinal", "_deleted")]
        usr = [f for f in fields if f["name"] not in ("last_ordinal", "_deleted")]
        usr.append({"id": next_id, "name": name, "type": type_ddl})
        return self.commit_schema_change(
            usr + eng, {"operation": "add_column", "name": name, "type": type_ddl}, base=latest
        )

    def rename_column(self, old: str, new: str) -> Snapshot:
        latest = self.snapshot()
        fields = [dict(f) for f in latest.fields()]
        if not any(f["name"] == old for f in fields):
            raise ValueError(f"no such column: {old}")
        if any(f["name"] == new for f in fields):
            raise ValueError(f"column exists: {new}")
        for f in fields:
            if f["name"] == old:
                f["name"] = new
        stats = latest.stats_cols
        new_stats = (
            [new if c == old else c for c in stats] if old in stats else None
        )
        bloom = list(latest.m.get("bloom_filter_cols") or ())
        new_bloom = (
            [new if c == old else c for c in bloom] if old in bloom else None
        )
        return self.commit_schema_change(
            fields, {"operation": "rename_column", "from": old, "to": new},
            base=latest, new_stats_cols=new_stats, new_bloom_cols=new_bloom,
        )

    def drop_column(self, name: str) -> Snapshot:
        """Metadata-only drop (Iceberg deleteColumn): the field leaves
        the CURRENT schema; existing files keep its bytes, which the
        field-id-aligned read simply stops projecting. Time travel to a
        pre-drop version still sees the column. Re-adding the same name
        later gets a FRESH field id, so old data cannot leak into the
        reincarnated column. The key and engine columns are
        undroppable."""
        latest = self.snapshot()
        if name == latest.m["key_col"] or name in ("last_ordinal", "_deleted"):
            raise ValueError(f"cannot drop {name!r} (key/engine column)")
        fields = [dict(f) for f in latest.fields()]
        if not any(f["name"] == name for f in fields):
            raise ValueError(f"no such column: {name}")
        kept = [f for f in fields if f["name"] != name]
        return self.commit_schema_change(
            kept, {"operation": "drop_column", "name": name}, base=latest
        )

    def widen_type(self, name: str, new_type: str) -> Snapshot:
        latest = self.snapshot()
        fields = [dict(f) for f in latest.fields()]
        tgt = next((f for f in fields if f["name"] == name), None)
        if tgt is None:
            raise ValueError(f"no such column: {name}")
        if tgt["type"] != new_type and (tgt["type"], new_type) not in _ALLOWED_WIDEN:
            raise ValueError(f"illegal widen {tgt['type']} -> {new_type}")
        tgt["type"] = new_type
        return self.commit_schema_change(
            fields, {"operation": "widen_type", "name": name, "type": new_type}, base=latest
        )


def open_lake(spec: str) -> LakeTable:
    """Resolve a user-facing lake path operand, including the
    ``path@branch`` branch-view form used by the statement verbs
    (Iceberg's ``table.branch_name`` read/write syntax). A literal
    directory wins over the '@' interpretation, so tables whose path
    genuinely contains '@' stay addressable."""
    p = os.path.normpath(spec)
    if os.path.isdir(os.path.join(p, MANIFEST_DIR)):
        return LakeTable(p)
    if "@" in spec:
        base, _, br = spec.rpartition("@")
        base = os.path.normpath(base)
        if os.path.isdir(os.path.join(base, MANIFEST_DIR, f"branch-{br}")):
            return LakeTable(base, branch=br)
    return LakeTable(p)  # downstream raises 'not a lake table'
