"""Full-engine replay entry: derives a deterministic change stream FROM
the driver's `events` table (so the DuckDB oracle can mirror it in pure
SQL), replays it through the REAL pipeline — LakeTable + validation +
quarantine + LWW dedup + bucket-pruned MERGE, in 4 micro-batches — and
returns the final table state.

This puts the engine itself (not just its operators) on the driver's
correctness gate.

Mapping (all SQL-expressible):
  ordinal = event_id, doc_id = str(user_id),
  op      = 'D' when event_type='error' else 'U',
  tokens  = [ (event_id*31 + i) % VOCAB for i in 0..(event_id % 5) ],
  n_tok   = len(tokens) + 1 when event_id % 997 == 0 (seeded violation
            -> engine must quarantine; oracle simply excludes the event)
  source  = event_type
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile

from pyspark.sql import functions as F

from qwery_spark.cdc.apply import apply_changes
from qwery_spark.lake.table import LakeTable
from qwery_spark.schema import TARGET_SCHEMA, VOCAB_SIZE
from qwery_spark.suite import load, register

_N_BATCHES = 4


def _derived_events(spark, sf_dir):
    # NOT load_spread: this derivation is cheap (<=5-int arrays, no
    # md5), and the replay consumers re-evaluate the plan once per
    # micro-batch — a pre-derivation repartition costs 4 extra shuffles
    # per replay and measured slower (optimization round 7 A/B)
    ev = load(spark, sf_dir, "events")
    tokens = F.transform(
        F.sequence(F.lit(0), (F.col("event_id") % 5).cast("int")),
        lambda i: ((F.col("event_id") * 31 + i) % VOCAB_SIZE).cast("int"),
    )
    is_del = F.col("event_type") == "error"
    violation = (F.col("event_id") % 997 == 0) & ~is_del
    return ev.select(
        F.col("event_id").alias("ordinal"),
        F.when(is_del, "D").otherwise("U").alias("op"),
        F.col("user_id").cast("string").alias("doc_id"),
        F.when(is_del, F.lit(None)).otherwise(tokens).alias("tokens"),
        F.when(is_del, F.lit(None).cast("int"))
        .otherwise((F.size(tokens) + F.when(violation, 1).otherwise(0)).cast("int"))
        .alias("n_tok"),
        F.col("event_type").alias("source"),
        F.lit(None).cast("string").alias("ddl"),
    )


@register(
    "cdc_engine_replay",
    """
    WITH replay AS (
      SELECT event_id, user_id, event_type,
             row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
      FROM events
      WHERE NOT (event_id % 997 = 0 AND event_type <> 'error')  -- quarantined
    )
    SELECT CAST(user_id AS VARCHAR) AS doc_id,
           CAST((event_id % 5) + 1 AS INTEGER) AS n_tok,
           event_type AS source,
           md5(array_to_string(list_transform(range(0, CAST(event_id % 5 AS INTEGER) + 1),
               i -> (event_id * 31 + i) % 50257), ',')) AS tokens_md5
    FROM replay
    WHERE rn = 1 AND event_type <> 'error'
    """,
    doc="THE engine end-to-end: 4-micro-batch replay into a fresh lake "
    "table (validation+quarantine -> epoch-keyed MERGE with in-batch LWW "
    "and tombstones), final state vs a pure-SQL LWW oracle. Token arrays "
    "verified via md5(join(tokens)).",
)
def cdc_engine_replay(spark, sf_dir):
    return _engine_replay(spark, sf_dir, write_mode="cow")


def _engine_replay(spark, sf_dir, write_mode: str):
    events = _derived_events(spark, sf_dir)
    # stable ordinal-range batching (any batching is semantically safe —
    # stragglers are guarded — but ranges keep the run deterministic)
    bounds = events.agg(F.min("ordinal"), F.max("ordinal")).collect()[0]
    lo, hi = bounds[0], bounds[1]
    step = (hi - lo + _N_BATCHES) // _N_BATCHES

    # the final state lands in a kept, deterministic scratch dir and the
    # entry returns a LAZY parquet scan — no driver-side collect of the
    # result (round-1 verdict: .toPandas() funneled the whole table
    # through the driver on the hot bench query)
    tag = hashlib.md5(f"{sf_dir}|{write_mode}".encode()).hexdigest()[:10]
    out_dir = os.path.join(tempfile.gettempdir(), f"qwery_engine_replay_{tag}")
    d = tempfile.mkdtemp(prefix="qwery_engine_replay_tbl_")
    try:
        tbl = LakeTable.create(d + "/t", TARGET_SCHEMA, n_buckets=16, write_mode=write_mode)
        for b in range(_N_BATCHES):
            batch = events.filter(
                (F.col("ordinal") >= lo + b * step) & (F.col("ordinal") < lo + (b + 1) * step)
            )
            # scan_ddl=False: _derived_events carries no DDL events, so
            # the per-epoch DDL-collect job is a guaranteed-empty scan
            # of the whole derivation (guide §1.2) — one less job/epoch
            apply_changes(spark, tbl, batch, epoch_id=b,
                          collect_stats=False, scan_ddl=False)
        (
            tbl.read(spark)
            .select(
                "doc_id",
                "n_tok",
                "source",
                F.md5(F.array_join(F.transform("tokens", lambda x: x.cast("string")), ","))
                .alias("tokens_md5"),
            )
            .write.mode("overwrite")
            .parquet(out_dir)
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)
    return spark.read.parquet(out_dir)


from qwery_spark.suite import REGISTRY  # noqa: E402


@register(
    "cdc_engine_replay_mor",
    REGISTRY["cdc_engine_replay"].sql,  # identical final state, same oracle
    doc="The same 4-batch engine replay through the MERGE-ON-READ write "
    "path (delta append + read-time LWW resolution) — both write modes "
    "sit on the driver's correctness gate with one shared SQL oracle.",
)
def cdc_engine_replay_mor(spark, sf_dir):
    return _engine_replay(spark, sf_dir, write_mode="mor")


@register(
    "cdc_engine_time_travel",
    """
    WITH bounds AS (
      SELECT min(event_id) AS lo,
             CAST(FLOOR((max(event_id) - min(event_id) + 4) / 4) AS BIGINT) AS step
      FROM events
    ),
    replay AS (
      SELECT e.event_id, e.user_id, e.event_type,
             row_number() OVER (PARTITION BY e.user_id ORDER BY e.event_id DESC) AS rn
      FROM events e, bounds b
      WHERE e.event_id < b.lo + 2 * b.step                     -- first 2 of 4 batches
        AND NOT (e.event_id % 997 = 0 AND e.event_type <> 'error')  -- quarantined
    )
    SELECT CAST(user_id AS VARCHAR) AS doc_id,
           CAST((event_id % 5) + 1 AS INTEGER) AS n_tok,
           event_type AS source,
           md5(array_to_string(list_transform(range(0, CAST(event_id % 5 AS INTEGER) + 1),
               i -> (event_id * 31 + i) % 50257), ',')) AS tokens_md5
    FROM replay
    WHERE rn = 1 AND event_type <> 'error'
    """,
    doc="Snapshot isolation on the driver's correctness gate: replay ALL "
    "4 epochs, then read PINNED at the snapshot committed after epoch 1 "
    "— the pinned state must equal an oracle replay of only the first "
    "two ordinal-range batches (time travel is value-checked, not just "
    "version-checked).",
)
def cdc_engine_time_travel(spark, sf_dir):
    events = _derived_events(spark, sf_dir)
    bounds = events.agg(F.min("ordinal"), F.max("ordinal")).collect()[0]
    lo, hi = bounds[0], bounds[1]
    step = (hi - lo + _N_BATCHES) // _N_BATCHES

    tag = hashlib.md5(f"{sf_dir}|tt".encode()).hexdigest()[:10]
    out_dir = os.path.join(tempfile.gettempdir(), f"qwery_engine_replay_{tag}")
    d = tempfile.mkdtemp(prefix="qwery_engine_tt_tbl_")
    try:
        tbl = LakeTable.create(d + "/t", TARGET_SCHEMA, n_buckets=16, write_mode="cow")
        pinned = None
        for b in range(_N_BATCHES):
            batch = events.filter(
                (F.col("ordinal") >= lo + b * step) & (F.col("ordinal") < lo + (b + 1) * step)
            )
            apply_changes(spark, tbl, batch, epoch_id=b,
                          collect_stats=False, scan_ddl=False)
            if b == 1:
                pinned = tbl.current_version()
        (
            tbl.read(spark, snapshot_version=pinned)
            .select(
                "doc_id",
                "n_tok",
                "source",
                F.md5(F.array_join(F.transform("tokens", lambda x: x.cast("string")), ","))
                .alias("tokens_md5"),
            )
            .write.mode("overwrite")
            .parquet(out_dir)
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)
    return spark.read.parquet(out_dir)


_DIFF_CASE = """
      CASE
        WHEN c.event_type <> 'error'
             AND (p.user_id IS NULL OR p.event_type = 'error') THEN 'insert'
        WHEN c.event_type = 'error' AND p.event_type <> 'error' THEN 'delete'
        WHEN c.event_type <> 'error' AND p.event_type <> 'error'
             AND c.event_id <> p.event_id THEN 'update_postimage'
      END
"""

# one snapshot-diff SELECT: cumulative full-state c vs p (c ⊇ p keys),
# delete rows carry the PREIMAGE payload + the tombstone's ordinal
_DIFF_SQL = """
    SELECT CAST(c.user_id AS VARCHAR) AS doc_id,
           CAST(((CASE WHEN c.event_type = 'error' THEN p.event_id
                       ELSE c.event_id END) % 5) + 1 AS INTEGER) AS n_tok,
           CASE WHEN c.event_type = 'error' THEN p.event_type
                ELSE c.event_type END AS source,
           md5(array_to_string(list_transform(
               range(0, CAST((CASE WHEN c.event_type = 'error' THEN p.event_id
                              ELSE c.event_id END) % 5 AS INTEGER) + 1),
               i -> ((CASE WHEN c.event_type = 'error' THEN p.event_id
                      ELSE c.event_id END) * 31 + i) % 50257), ',')) AS tokens_md5,
           {case} AS _change_type,
           CAST({v} AS INTEGER) AS _commit_version,
           c.event_id AS _ordinal
    FROM {cur} c LEFT JOIN {prev} p ON c.user_id = p.user_id
"""


def _feed_oracle_sql() -> str:
    state = """
  f{k} AS (
    SELECT user_id, event_id, event_type FROM (
      SELECT user_id, event_id, event_type,
             row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) rn
      FROM valid WHERE event_id < lo + {n} * step
    ) WHERE rn = 1)"""
    diffs = " UNION ALL ".join(
        "SELECT * FROM (" + _DIFF_SQL.format(case=_DIFF_CASE, v=v, cur=c, prev=p)
        + ") WHERE _change_type IS NOT NULL"
        for v, p, c in ((3, "f1", "f2"), (4, "f2", "f3"))
    )
    return (
        """
    WITH bounds AS (
      SELECT min(event_id) AS lo,
             CAST(FLOOR((max(event_id) - min(event_id) + 4) / 4) AS BIGINT) AS step
      FROM events
    ),
    valid AS (
      SELECT e.event_id, e.user_id, e.event_type, b.lo, b.step
      FROM events e, bounds b
      WHERE NOT (e.event_id % 997 = 0 AND e.event_type <> 'error')
    ),"""
        + ",".join(state.format(k=k, n=k + 1) for k in (1, 2, 3))
        + diffs
    )


@register(
    "cdc_change_feed",
    _feed_oracle_sql(),
    doc="CDC-OUT on the correctness gate: replay all 4 epochs, then read "
    "the CHANGELOG of commits 3-4 via snapshot-diffing (lake/changes.py, "
    "the Iceberg create_changelog_view design) — insert/update_postimage/"
    "delete rows incl. delete preimages and per-change ordinals, vs a "
    "pure-SQL cumulative-LWW-state diff oracle.",
)
def cdc_change_feed(spark, sf_dir):
    from qwery_spark.lake.changes import read_changes

    events = _derived_events(spark, sf_dir)
    bounds = events.agg(F.min("ordinal"), F.max("ordinal")).collect()[0]
    lo, hi = bounds[0], bounds[1]
    step = (hi - lo + _N_BATCHES) // _N_BATCHES

    tag = hashlib.md5(f"{sf_dir}|feed".encode()).hexdigest()[:10]
    out_dir = os.path.join(tempfile.gettempdir(), f"qwery_engine_replay_{tag}")
    d = tempfile.mkdtemp(prefix="qwery_engine_feed_tbl_")
    try:
        tbl = LakeTable.create(d + "/t", TARGET_SCHEMA, n_buckets=16, write_mode="cow")
        from_v = None
        for b in range(_N_BATCHES):
            batch = events.filter(
                (F.col("ordinal") >= lo + b * step) & (F.col("ordinal") < lo + (b + 1) * step)
            )
            apply_changes(spark, tbl, batch, epoch_id=b,
                          collect_stats=False, scan_ddl=False)
            if b == 1:
                from_v = tbl.current_version()
        assert from_v == 2, f"unexpected commit numbering: {from_v}"
        (
            read_changes(spark, tbl, from_v, tbl.current_version())
            .select(
                "doc_id",
                "n_tok",
                "source",
                F.md5(F.array_join(F.transform("tokens", lambda x: x.cast("string")), ","))
                .alias("tokens_md5"),
                "_change_type",
                "_commit_version",
                "_ordinal",
            )
            .write.mode("overwrite")
            .parquet(out_dir)
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)
    return spark.read.parquet(out_dir)


@register(
    "cdc_engine_replay_ddl",
    """
    WITH bounds AS (
      SELECT min(event_id) AS lo,
             CAST(FLOOR((max(event_id) - min(event_id) + 4) / 4) AS BIGINT) AS step
      FROM events
    ),
    replay AS (
      SELECT e.event_id, e.user_id, e.event_type, b.lo, b.step,
             row_number() OVER (PARTITION BY e.user_id ORDER BY e.event_id DESC) AS rn
      FROM events e, bounds b
      WHERE NOT (e.event_id % 997 = 0 AND e.event_type <> 'error')
    )
    SELECT CAST(user_id AS VARCHAR) AS doc_id,
           CAST((event_id % 5) + 1 AS BIGINT) AS n_tok,
           CASE WHEN event_id >= lo + 2 * step THEN NULL
                ELSE event_type END AS origin,
           md5(array_to_string(list_transform(range(0, CAST(event_id % 5 AS INTEGER) + 1),
               i -> (event_id * 31 + i) % 50257), ',')) AS tokens_md5
    FROM replay
    WHERE rn = 1 AND event_type <> 'error'
    """,
    doc="Schema evolution ON the driver gate: the 4-batch replay with "
    "DDL CHANGE EVENTS in-stream — widen n_tok int->bigint at batch 1, "
    "rename source->origin at batch 2. The final read must show the "
    "widened type (dtype-sensitive hash), field-id-mapped old data under "
    "the new name, and NULL origin for rows whose winner arrived after "
    "the rename (post-rename events don't carry the old column).",
)
def cdc_engine_replay_ddl(spark, sf_dir):
    events = _derived_events(spark, sf_dir)
    bounds = events.agg(F.min("ordinal"), F.max("ordinal")).collect()[0]
    lo, hi = bounds[0], bounds[1]
    step = (hi - lo + _N_BATCHES) // _N_BATCHES
    ddl = spark.createDataFrame(
        [
            (int(lo + step), "DDL", None, None, None, None,
             '{"action": "widen_type", "name": "n_tok", "type": "bigint"}'),
            (int(lo + 2 * step), "DDL", None, None, None, None,
             '{"action": "rename_column", "from": "source", "to": "origin"}'),
        ],
        events.schema,
    )
    events = events.unionByName(ddl)

    tag = hashlib.md5(f"{sf_dir}|ddl".encode()).hexdigest()[:10]
    out_dir = os.path.join(tempfile.gettempdir(), f"qwery_engine_replay_{tag}")
    d = tempfile.mkdtemp(prefix="qwery_engine_ddl_tbl_")
    try:
        tbl = LakeTable.create(d + "/t", TARGET_SCHEMA, n_buckets=16, write_mode="cow")
        for b in range(_N_BATCHES):
            batch = events.filter(
                (F.col("ordinal") >= lo + b * step) & (F.col("ordinal") < lo + (b + 1) * step)
            )
            apply_changes(spark, tbl, batch, epoch_id=b, collect_stats=False)
        (
            tbl.read(spark)
            .select(
                "doc_id",
                "n_tok",
                "origin",
                F.md5(F.array_join(F.transform("tokens", lambda x: x.cast("string")), ","))
                .alias("tokens_md5"),
            )
            .write.mode("overwrite")
            .parquet(out_dir)
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)
    return spark.read.parquet(out_dir)


_REPL_DDL_SQL = """
WITH b AS (
  SELECT CAST(FLOOR((min(event_id) + max(event_id)) / 2.0) AS BIGINT) AS mid
  FROM events
),
r AS (
  SELECT CAST(user_id AS VARCHAR) AS doc_id,
         round(value, 4) AS score,
         event_type,
         CASE WHEN event_id > (SELECT mid FROM b) THEN 2 END AS half,
         row_number()
           OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
  FROM events
)
SELECT doc_id, score, event_type AS source, CAST(half AS INT) AS half
FROM r WHERE rn = 1 AND event_type <> 'error'
"""


@register(
    "cdc_replicate_ddl_sync",
    _REPL_DDL_SQL,
    doc="CDC replication ACROSS in-stream schema evolution with ZERO "
    "manual replica DDL (round 6, lake/changes.sync_schema_from_source)"
    ": epoch 1 lands under the original schema and replicates; the "
    "source then renames a column (val->score, field-id-true: "
    "untouched replica rows keep their bytes under the new name) and "
    "adds one (half); epoch 2 lands under the evolved schema and "
    "replicates — the follower replays the DDL onto the replica before "
    "each window merge. Oracle: global LWW over the event stream, "
    "half=2 only when the winning event is post-evolution. At 100 TB "
    "the sync is O(schema) driver-side metadata; the window merge "
    "stays O(window).",
)
def cdc_replicate_ddl_sync(spark, sf_dir):
    from pyspark.sql import types as T

    from qwery_spark.lake.changes import replicate
    from qwery_spark.lake.merge import append_changes

    ev = load(spark, sf_dir, "events")
    bounds = ev.agg(F.min("event_id"), F.max("event_id")).collect()[0]
    mid = (bounds[0] + bounds[1]) // 2

    def stream(df, post):
        cols = [
            F.col("user_id").cast("string").alias("doc_id"),
            F.round("value", 4).alias("score" if post else "val"),
            F.col("event_type").alias("source"),
        ]
        if post:
            cols.append(F.lit(2).cast("int").alias("half"))
        return df.select(
            *cols,
            F.when(F.col("event_type") == "error", "D").otherwise("U").alias("op"),
            F.col("event_id").alias("ordinal"),
        )

    schema = T.StructType([
        T.StructField("doc_id", T.StringType()),
        T.StructField("val", T.DoubleType()),
        T.StructField("source", T.StringType()),
    ])
    tag = hashlib.md5(f"{sf_dir}|replddl".encode()).hexdigest()[:10]
    out_dir = os.path.join(tempfile.gettempdir(), f"qwery_repl_ddl_{tag}")
    d = tempfile.mkdtemp(prefix="qwery_repl_ddl_tbl_")
    try:
        src = LakeTable.create(
            d + "/src", schema, n_buckets=8, key_col="doc_id",
            write_mode="mor",
        )
        rep = LakeTable.create(
            d + "/rep", schema, n_buckets=8, key_col="doc_id",
            write_mode="mor",
        )
        append_changes(
            spark, src, stream(ev.filter(F.col("event_id") <= mid), False)
        )
        v1 = src.current_version()
        replicate(spark, src, rep, 0, v1, epoch_id="w1")
        # in-stream evolution: rename + add, then the post-DDL epoch
        src.rename_column("val", "score")
        src.add_column("half", "int")
        append_changes(
            spark, src, stream(ev.filter(F.col("event_id") > mid), True)
        )
        replicate(spark, src, rep, v1, src.current_version(), epoch_id="w2")
        (
            rep.read(spark)
            .select("doc_id", "score", "source", "half")
            .write.mode("overwrite")
            .parquet(out_dir)
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)
    return spark.read.parquet(out_dir)


@register(
    "cdc_wap_publish",
    """
    WITH bounds AS (
      SELECT min(event_id) AS lo,
             CAST(FLOOR((max(event_id) - min(event_id) + 4) / 4) AS BIGINT) AS step
      FROM events
    ),
    ev AS (
      SELECT e.event_id, e.user_id, e.event_type,
             CAST(FLOOR((e.event_id - b.lo) / b.step) AS INTEGER) AS win
      FROM events e, bounds b
    ),
    bad AS (
      -- the audit rule (mass-delete guard shape): a window carrying an
      -- ODD number of delete events is rejected wholesale
      -- (drop_branch); the rest publish
      SELECT win FROM ev GROUP BY win
      HAVING COUNT(*) FILTER (WHERE event_type = 'error') % 2 = 1
    ),
    replay AS (
      SELECT event_id, user_id, event_type,
             row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
      FROM ev
      WHERE win NOT IN (SELECT win FROM bad)
        AND NOT (event_id % 997 = 0 AND event_type <> 'error')  -- quarantined
    )
    SELECT CAST(user_id AS VARCHAR) AS doc_id,
           CAST((event_id % 5) + 1 AS INTEGER) AS n_tok,
           event_type AS source,
           md5(array_to_string(list_transform(range(0, CAST(event_id % 5 AS INTEGER) + 1),
               i -> (event_id * 31 + i) % 50257), ',')) AS tokens_md5
    FROM replay
    WHERE rn = 1 AND event_type <> 'error'
    """,
    doc="Write-audit-publish on the driver's correctness gate: every "
    "ordinal-range window is staged on an isolated BRANCH of the table "
    "(Iceberg branch ref), an audit inspects the staged window (delete-"
    "count parity), and the branch is either fast-forward PUBLISHED into main "
    "(metadata-only) or DROPPED with its files reclaimed. Final main "
    "state must equal a pure-SQL replay of only the published windows — "
    "rejected windows leave zero trace.",
)
def cdc_wap_publish(spark, sf_dir):
    """WAP loop: stage -> audit -> publish|reject, one branch per window.

    Rejected windows' epochs stay unapplied (a corrected re-stage may
    reuse them); published branches carry their epoch into main's
    exactly-once set. Iceberg analogue: write.wap.enabled staging +
    fast_forward; reference has no snapshot machinery at all (the gap
    this closes: core:ops/sql/Upsert.scala applies in place, so a bad
    window corrupts the table irreversibly)."""
    events = _derived_events(spark, sf_dir)
    bounds = events.agg(F.min("ordinal"), F.max("ordinal")).collect()[0]
    lo, hi = bounds[0], bounds[1]
    step = (hi - lo + _N_BATCHES) // _N_BATCHES

    tag = hashlib.md5(f"{sf_dir}|wap".encode()).hexdigest()[:10]
    out_dir = os.path.join(tempfile.gettempdir(), f"qwery_engine_replay_{tag}")
    d = tempfile.mkdtemp(prefix="qwery_engine_wap_tbl_")
    try:
        tbl = LakeTable.create(d + "/t", TARGET_SCHEMA, n_buckets=16, write_mode="mor")
        # audit input: delete-count parity per window (the mass-delete-
        # guard shape). All 4 window parities come from ONE aggregation
        # scan instead of a per-branch count job — 4 scans of the
        # md5-free derivation replaced by 1 (guide §1.2); the per-window
        # decision is unchanged. A real deployment would run arbitrary
        # SELECTs on the branch view.
        win = F.floor((F.col("ordinal") - F.lit(lo)) / F.lit(step)).cast("int")
        parities = {
            r["win"]: r["p"]
            for r in events.groupBy(win.alias("win"))
            .agg((F.sum(F.when(F.col("op") == "D", 1).otherwise(0)) % 2).alias("p"))
            .collect()
        }
        for b in range(_N_BATCHES):
            batch = events.filter(
                (F.col("ordinal") >= lo + b * step) & (F.col("ordinal") < lo + (b + 1) * step)
            )
            br = tbl.create_branch(f"w{b}")
            apply_changes(spark, br, batch, epoch_id=b,
                          collect_stats=False, scan_ddl=False)
            parity = int(parities.get(b, 0)) % 2
            if parity == 1:
                tbl.drop_branch(f"w{b}")  # reject: reclaim staged files
            else:
                tbl.publish_branch(f"w{b}")
        (
            tbl.read(spark)
            .select(
                "doc_id",
                "n_tok",
                "source",
                F.md5(F.array_join(F.transform("tokens", lambda x: x.cast("string")), ","))
                .alias("tokens_md5"),
            )
            .write.mode("overwrite")
            .parquet(out_dir)
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)
    return spark.read.parquet(out_dir)


@register(
    "cdc_rollback_state",
    """
    WITH bounds AS (
      SELECT min(event_id) AS lo,
             CAST(FLOOR((max(event_id) - min(event_id) + 4) / 4) AS BIGINT) AS step
      FROM events
    ),
    replay AS (
      SELECT e.event_id, e.user_id, e.event_type,
             row_number() OVER (PARTITION BY e.user_id ORDER BY e.event_id DESC) AS rn
      FROM events e, bounds b
      WHERE e.event_id < b.lo + 2 * b.step                     -- windows 0-1 survive
        AND NOT (e.event_id % 997 = 0 AND e.event_type <> 'error')  -- quarantined
    )
    SELECT CAST(user_id AS VARCHAR) AS doc_id,
           CAST((event_id % 5) + 1 AS INTEGER) AS n_tok,
           event_type AS source,
           md5(array_to_string(list_transform(range(0, CAST(event_id % 5 AS INTEGER) + 1),
               i -> (event_id * 31 + i) % 50257), ',')) AS tokens_md5
    FROM replay
    WHERE rn = 1 AND event_type <> 'error'
    """,
    doc="ROLLBACK TO VERSION on the driver's correctness gate: replay "
    "all 4 windows, then roll the table back to the commit after window "
    "1 — the restored head (a NEW full-state commit; time travel over "
    "the rolled-past range stays intact) must equal an oracle replay of "
    "only the first two windows. Iceberg rollback_to_snapshot semantics: "
    "epochs applied after the target become re-appliable.",
)
def cdc_rollback_state(spark, sf_dir):
    events = _derived_events(spark, sf_dir)
    bounds = events.agg(F.min("ordinal"), F.max("ordinal")).collect()[0]
    lo, hi = bounds[0], bounds[1]
    step = (hi - lo + _N_BATCHES) // _N_BATCHES

    tag = hashlib.md5(f"{sf_dir}|rollback".encode()).hexdigest()[:10]
    out_dir = os.path.join(tempfile.gettempdir(), f"qwery_engine_replay_{tag}")
    d = tempfile.mkdtemp(prefix="qwery_engine_rb_tbl_")
    try:
        tbl = LakeTable.create(d + "/t", TARGET_SCHEMA, n_buckets=16, write_mode="cow")
        target = None
        for b in range(_N_BATCHES):
            batch = events.filter(
                (F.col("ordinal") >= lo + b * step) & (F.col("ordinal") < lo + (b + 1) * step)
            )
            apply_changes(spark, tbl, batch, epoch_id=b,
                          collect_stats=False, scan_ddl=False)
            if b == 1:
                target = tbl.current_version()
        tbl.rollback(target)
        (
            tbl.read(spark)
            .select(
                "doc_id",
                "n_tok",
                "source",
                F.md5(F.array_join(F.transform("tokens", lambda x: x.cast("string")), ","))
                .alias("tokens_md5"),
            )
            .write.mode("overwrite")
            .parquet(out_dir)
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)
    return spark.read.parquet(out_dir)


@register(
    "cdc_quarantine_audit",
    """
    WITH bounds AS (
      SELECT min(event_id) AS lo,
             CAST(FLOOR((max(event_id) - min(event_id) + 4) / 4) AS BIGINT) AS step
      FROM events
    )
    SELECT CAST(e.user_id AS VARCHAR) AS doc_id,
           e.event_id AS ordinal,
           'n_tok_mismatch' AS reject_reason,
           CAST(FLOOR((e.event_id - b.lo) / b.step) AS BIGINT) AS epoch_id
    FROM events e, bounds b
    WHERE e.event_id % 997 = 0 AND e.event_type <> 'error'
    """,
    doc="The dead-letter queue on the correctness gate: replay all 4 "
    "windows with a quarantine dir and return the quarantined events "
    "(key, ordinal, machine-readable reject_reason, epoch) — the oracle "
    "derives the same rows from the seeded violation rule. Epoch-scoped "
    "overwrite keeps the quarantine idempotent under re-delivery "
    "(reference analogue: ROWS_REJECTED counters, core:ops/sql/"
    "Update.scala row loop — which only counts; the rows themselves "
    "are lost there).",
)
def cdc_quarantine_audit(spark, sf_dir):
    events = _derived_events(spark, sf_dir)
    bounds = events.agg(F.min("ordinal"), F.max("ordinal")).collect()[0]
    lo, hi = bounds[0], bounds[1]
    step = (hi - lo + _N_BATCHES) // _N_BATCHES

    tag = hashlib.md5(f"{sf_dir}|quar".encode()).hexdigest()[:10]
    out_dir = os.path.join(tempfile.gettempdir(), f"qwery_engine_replay_{tag}")
    d = tempfile.mkdtemp(prefix="qwery_engine_quar_tbl_")
    try:
        from qwery_spark.cdc.apply import read_quarantine

        tbl = LakeTable.create(d + "/t", TARGET_SCHEMA, n_buckets=16, write_mode="mor")
        qdir = d + "/quarantine"
        for b in range(_N_BATCHES):
            batch = events.filter(
                (F.col("ordinal") >= lo + b * step) & (F.col("ordinal") < lo + (b + 1) * step)
            )
            apply_changes(
                spark, tbl, batch, epoch_id=b, collect_stats=False,
                quarantine_dir=qdir, scan_ddl=False,
            )
        (
            read_quarantine(spark, qdir)
            .select("doc_id", "ordinal", "reject_reason", "epoch_id")
            .write.mode("overwrite")
            .parquet(out_dir)
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)
    return spark.read.parquet(out_dir)
