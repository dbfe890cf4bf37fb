"""The benchmark workloads.

Each workload has three phases:

* ``generate`` (untimed): seeded inputs from ``qwery_spark.datagen``
  written as parquet, plus every oracle the run checks against.
* ``setup`` (timed as ``setup_s``): the starting tables, built through
  the engine's public API.
* ``cycle``: one closed-loop pass from a hard-linked copy of the set-up
  tables (data files and manifests are immutable, so a link copy is a
  faithful, cheap reset). Every cycle starts from the same state and
  runs the same inputs, so cycle costs do not drift with table growth.

All load comes from one caller: the next epoch, window, lookup or query
starts only after the previous one completes.
"""

from __future__ import annotations

import os
import shutil
import time
from collections import Counter

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql import types as T

from qwery_spark.cdc.oracle import replay_oracle
from qwery_spark.datagen import make_events, write_event_chunks
from qwery_spark.schema import EVENT_SCHEMA, TARGET_SCHEMA


class CheckFailed(AssertionError):
    """An engine output disagreed with its oracle."""


# ---------------------------------------------------------------- helpers


def read_events(spark, path: str):
    return spark.read.schema(EVENT_SCHEMA).parquet(path)


CONTROL_PASSES = 8  # per cycle, half before its engine work and half after
WARM_CONTROL_PASSES = 4  # untimed, before the first cycle


def control_session(spark, cpus: int):
    """The control arm's own session. It shares the engine's
    SparkContext, so both arms run on the same JVM and host, but none of
    the engine's SQL settings: every spark.sql.* setting the engine's
    session was built with is reset to Spark's default, and shuffle
    partitions are the core count. A change to the engine's session
    settings (session.py) then moves the engine arm only."""
    ctrl = spark.newSession()
    for key, _ in spark.sparkContext.getConf().getAll():
        if key.startswith("spark.sql.") and ctrl.conf.isModifiable(key):
            ctrl.conf.unset(key)
    ctrl.conf.set("spark.sql.shuffle.partitions", str(cpus))
    return ctrl


def control_pass(ctrl, paths: list[str], out_dir: str) -> float:
    """One pass of the no-engine control arm (the frozen bench.py
    shape): scan -> LWW max_by per key -> parquet, in the control
    session. Returns its seconds."""
    t0 = time.perf_counter()
    (
        ctrl.read.schema(EVENT_SCHEMA).parquet(*paths)
        .filter(F.col("op") != "DDL")
        .groupBy("doc_id")
        .agg(
            F.max_by(F.struct("op", "tokens", "n_tok", "source"), "ordinal").alias("w"),
            F.max("ordinal").alias("o"),
        )
        .select("doc_id", "o", "w.*")
        .write.mode("overwrite").parquet(out_dir)
    )
    return time.perf_counter() - t0


def raw_control(tr, rec, ctrl, paths: list[str], out_dir: str, first_half: bool) -> None:
    """The control arm of a cycle, over the same event files as its
    engine work. One pass is a handful of short jobs, so a cycle runs
    several; each is recorded. A cycle runs the first half of its passes
    before its engine work and the rest after, so the control's time is
    centred on the engine's."""
    passes = range(CONTROL_PASSES)
    mid = len(passes) // 2
    with tr.span("bench.control"):
        for i in passes[:mid] if first_half else passes[mid:]:
            rec.cycle["ctrl_s"].append(control_pass(ctrl, paths, f"{out_dir}/{i}"))


def state_dict(final: pd.DataFrame) -> dict:
    """Oracle final state as doc_id -> (tokens list, n_tok, source)."""
    return {
        r.doc_id: ([int(t) for t in r.tokens], int(r.n_tok), r.source)
        for r in final.itertuples(index=False)
    }


def source_agg(state: dict) -> dict:
    """Expected per-source (row count, sum of n_tok) of a state dict."""
    n, s = Counter(), Counter()
    for _tokens, n_tok, source in state.values():
        n[source] += 1
        s[source] += n_tok
    return {k: (n[k], s[k]) for k in n}


def digest(df) -> tuple:
    """Order-free (row count, sum of 64-bit row hashes) of a table's
    doc_id, tokens, n_tok and source."""
    exprs = [F.col(c).cast("bigint") if c == "n_tok" else F.col(c)
             for c in ("doc_id", "tokens", "n_tok", "source")]
    row = df.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*exprs).cast("decimal(38,0)")).alias("h"),
    ).first()
    return int(row["n"]), int(row["h"] or 0)


_STATE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("tokens", T.ArrayType(T.IntegerType())),
        T.StructField("n_tok", T.LongType()),
        T.StructField("source", T.StringType()),
    ]
)


def state_digest(spark, state: dict) -> tuple:
    rows = [(k, toks, n, src) for k, (toks, n, src) in state.items()]
    return digest(spark.createDataFrame(rows, _STATE_SCHEMA))


def check(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


class Recorder:
    """Samples and counters of a run's cycles."""

    def __init__(self):
        self.cycles: list[dict] = []
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.table_state: list[dict] = []

    def start_cycle(self) -> None:
        self.cycles.append({"events": 0, "ingest_s": 0.0, "ctrl_s": [], "epoch_s": [],
                            "lookup_ms": [], "read_s": []})

    @property
    def cycle(self) -> dict:
        """The current cycle: events written, engine seconds spent
        writing them until visible, the control arm's seconds per pass
        over them, and the cycle's latency samples."""
        return self.cycles[-1]

    def op(self, fn, *args):
        """Run one counted operation; a raise or an oracle mismatch
        counts as failed and is remembered."""
        self.attempted += 1
        try:
            return fn(*args)
        except Exception as exc:  # every failure is counted, then reported
            self.failed += 1
            self.errors.append(f"{type(exc).__name__}: {exc}"[:300])
            return None


def table_files_state(tbl) -> dict:
    snap = tbl.snapshot()
    files = snap.files()
    unresolved = snap.unresolved_buckets
    return {
        "files": len(files),
        "delta_files": sum(1 for f in files if f["bucket"] in unresolved),
        "bytes": sum(os.path.getsize(os.path.join(tbl.path, f["path"])) for f in files),
    }


def run_lookup(tr, rec, spark, tbl, key, expected) -> None:
    def one():
        t0 = time.perf_counter()
        with tr.span("lake.table.lookup"):
            rows = tbl.lookup(spark, key).collect()
        rec.cycle["lookup_ms"].append((time.perf_counter() - t0) * 1000.0)
        if expected is None:
            check(not rows, f"lookup {key}: expected no row, got {len(rows)}")
            return
        check(len(rows) == 1, f"lookup {key}: expected 1 row, got {len(rows)}")
        r = rows[0]
        got = (list(r["tokens"]), int(r["n_tok"]), r["source"])
        check(got == expected, f"lookup {key}: row differs from oracle")

    rec.op(one)


SQL_AGG = "SELECT source, COUNT(*) AS n, SUM(n_tok) AS s FROM '{path}' GROUP BY source"


def run_sql_agg(tr, rec, engine, path: str, expected: dict) -> None:
    """One compiler SELECT ... GROUP BY over a live lake table."""

    def one():
        t0 = time.perf_counter()
        with tr.span("compiler.execute"):
            df = engine.execute(SQL_AGG.format(path=path))
        with tr.span("compiler.collect"):
            rows = df.collect()
        rec.cycle["read_s"].append(time.perf_counter() - t0)
        got = {r["source"]: (int(r["n"]), int(r["s"])) for r in rows}
        check(got == expected, f"sql aggregate differs from oracle: {got} != {expected}")

    rec.op(one)


def pick_keys(rng, state: dict, touched, n: int) -> list[str]:
    """Lookup keys in fixed shares, a third each: live keys the epoch
    touched, live keys it did not, and deleted keys (which must come back
    empty). Keys never inserted are left out: one costs about twice a
    live or deleted key, and a seed-drawn share of them moved the median
    lookup by tens of percent from seed to seed."""
    touched = set(touched)
    hot = sorted(k for k in touched if k in state)
    cold = sorted(state.keys() - touched)
    top = max(int(k.split("-")[1]) for k in state)
    deleted = [k for k in (f"doc-{i:012d}" for i in range(top)) if k not in state]
    per = n // 3
    keys = []
    for pool, m in ((hot, per), (cold, per), (deleted, n - 2 * per)):
        keys += list(rng.choice(pool, size=min(m, len(pool)), replace=False))
    return keys


class Workload:
    name = ""

    def __init__(self, work: str, seed: int, size: dict):
        self.work = work
        self.seed = seed
        self.size = size
        self.rng = np.random.default_rng(seed)
        self.pristine = None
        self.n_cycles = 0
        self._digest = None
        self.ctrl = None  # the control arm's session (control_session)
        self.control_files: list[str] = []  # what the control arm reads

    def warm_control(self) -> None:
        """Untimed control passes before the first timed cycle: the
        control keeps speeding up over its first few passes, and no
        set-up runs its code."""
        for i in range(WARM_CONTROL_PASSES):
            control_pass(self.ctrl, self.control_files,
                         os.path.join(self.work, "control-warm", str(i)))

    def expected_digest(self, spark) -> tuple:
        """digest() of the oracle's final state (computed once)."""
        if self._digest is None:
            self._digest = state_digest(spark, self.state)
        return self._digest

    def pristine_dir(self) -> str:
        """A new directory for the next set-up; it replaces the last."""
        if self.pristine is not None:
            shutil.rmtree(self.pristine)
        self.pristine = os.path.join(self.work, f"pristine-{time.monotonic_ns()}")
        return self.pristine

    def cycle_dir(self) -> str:
        """A link copy of the set-up tables at a path no cycle used
        before: the engine caches table state by path, so a reset must
        never reuse one. The previous cycle's copy is removed."""
        shutil.rmtree(os.path.join(self.work, f"cycle{self.n_cycles}"), ignore_errors=True)
        self.n_cycles += 1
        d = os.path.join(self.work, f"cycle{self.n_cycles}")
        shutil.copytree(self.pristine, d, copy_function=os.link)
        return d


# ------------------------------------------------------- A: ingest_shipped


class IngestShipped(Workload):
    """The shipped run_ingest.py shape: a MOR table fed by run_stream
    (availableNow, file source, checkpoint) with the DDL scan,
    quarantine and lineage on, then compaction and a reader. The set-up
    streams the preload the same way, so it also warms the stream path
    before the timed cycle."""

    name = "ingest_shipped"

    def generate(self) -> None:
        s = self.size
        n0, n = s["preload"], s["stream"]
        ddl = [
            (n0 + n // 3, {"action": "add_column", "name": "lang", "type": "string"}),
            (n0 + 2 * n // 3, {"action": "widen_type", "name": "n_tok", "type": "bigint"}),
        ]
        ev = make_events(n0 + n, seed=self.seed, max_len=s["max_len"], ddl_events=ddl)
        pre, stream = ev.slice(0, n0), ev.slice(n0, n)
        # each micro-batch reads files_per_trigger chunk files (8, the
        # run_ingest.py default); the preload is one micro-batch
        self.preload_dir = os.path.join(self.work, "in", "preload")
        write_event_chunks(pre, self.preload_dir, s["files_per_trigger"])
        self.events_dir = os.path.join(self.work, "in", "stream")
        self.control_files = write_event_chunks(
            stream, self.events_dir, s["batches"] * s["files_per_trigger"])

        final, counters = replay_oracle(ev.to_pandas())
        _, pre_counters = replay_oracle(pre.to_pandas())
        check("lang" in final.columns, "oracle final state lacks the added column")
        self.state = state_dict(final)
        self.expect = {
            "rows_in": n,
            "rows_rejected": counters["rejected"] - pre_counters["rejected"],
            "ddl_applied": counters["ddl"] - pre_counters["ddl"],
        }
        self.expect_agg = source_agg(self.state)
        touched = {k for k in stream.column("doc_id").to_pylist() if k is not None}
        self.lookup_keys = pick_keys(self.rng, self.state, touched, s["lookups"])

    def stream(self, spark, tbl, events_dir: str, d: str):
        """Drain events_dir into tbl; checkpoint, lineage and quarantine
        go under d."""
        from qwery_spark.streaming.stream import run_stream

        run = run_stream(spark, tbl, events_dir, d + "/ckpt", lineage_dir=d + "/lineage",
                         quarantine_dir=d + "/quarantine",
                         max_files_per_trigger=self.size["files_per_trigger"])
        run.query.awaitTermination()
        check(run.query.exception() is None, f"stream failed: {run.query.exception()}")
        return run

    def setup(self, spark):
        from qwery_spark.lake.merge import compact
        from qwery_spark.lake.table import LakeTable

        path = self.pristine_dir()
        tbl = LakeTable.create(path + "/t", TARGET_SCHEMA, n_buckets=self.size["buckets"],
                               write_mode="mor")
        self.stream(spark, tbl, self.preload_dir, path + "/preload")
        compact(spark, tbl)

    def cycle(self, spark, tr, rec):
        from qwery_spark.compiler import ScriptEngine
        from qwery_spark.lake.merge import compact
        from qwery_spark.lake.table import LakeTable

        d = self.cycle_dir()
        tbl = LakeTable(d + "/t")
        raw_control(tr, rec, self.ctrl, self.control_files, d + "/control", first_half=True)

        def ingest():
            t0 = time.perf_counter()
            with tr.span("streaming.run"):
                run = self.stream(spark, tbl, self.events_dir, d)
            rec.cycle["ingest_s"] += time.perf_counter() - t0
            rec.cycle["events"] += self.expect["rows_in"]
            rec.cycle["epoch_s"] += [p["durationMs"]["triggerExecution"] / 1000.0
                                     for p in run.query.recentProgress if p["numInputRows"] > 0]
            compact(spark, tbl)
            got = {
                "batches": len(run.results),
                **{c: sum(getattr(r, c) for r in run.results) for c in self.expect},
            }
            want = {"batches": self.size["batches"], **self.expect}
            check(got == want, f"stream counters {got} != oracle {want}")

        rec.op(ingest)
        rec.table_state.append(table_files_state(tbl))
        engine = ScriptEngine(spark, import_env=False)
        for key in self.lookup_keys:
            run_lookup(tr, rec, spark, tbl, key, self.state.get(key))
        for _ in range(self.size["reads"]):
            run_sql_agg(tr, rec, engine, tbl.path, self.expect_agg)
        raw_control(tr, rec, self.ctrl, self.control_files, d + "/control", first_half=False)

        def verify():
            df = tbl.read(spark)
            check("lang" in df.columns and dict(df.dtypes)["n_tok"] == "bigint",
                  "DDL (add_column lang, widen n_tok) missing from the schema")
            check(digest(df) == self.expected_digest(spark),
                  "final state differs from replay_oracle")

        return verify


# ---------------------------------------------------------- C: follow_views


class FollowViews(Workload):
    """Small ingest epochs on a MOR source, each followed by one
    follow_changes step whose sink has the run_follow.py shape: a MOR
    replica, an agg rollup (source, sum n_tok) and a vocabulary view,
    the two views sharing one preimage feed. After the last window a
    reader serves point lookups and a compiler SQL aggregate from the
    replica."""

    name = "follow_views"

    def generate(self) -> None:
        s = self.size
        n0, w, per = s["preload"], s["windows"], s["window_events"]
        ev = make_events(n0 + w * per, seed=self.seed, max_len=s["max_len"])
        os.makedirs(os.path.join(self.work, "in"))
        self.preload_path = os.path.join(self.work, "in", "preload.parquet")
        pq.write_table(ev.slice(0, n0), self.preload_path)
        self.window_paths = []
        for i in range(w):
            p = os.path.join(self.work, "in", f"window-{i:03d}.parquet")
            pq.write_table(ev.slice(n0 + i * per, per), p)
            self.window_paths.append(p)
        self.control_files = self.window_paths
        self.n_window = per

        events = ev.to_pandas()
        self.state = state_dict(replay_oracle(events)[0])
        self.expect_agg = source_agg(self.state)
        cnt, docs = Counter(), Counter()
        for tokens, _n_tok, _source in self.state.values():
            cnt.update(tokens)
            docs.update(set(tokens))
        self.expect_vocab = {t: (cnt[t], docs[t]) for t in cnt}
        touched = events["doc_id"].iloc[n0:].dropna()
        self.lookup_keys = pick_keys(self.rng, self.state, touched, s["lookups"])

    def setup(self, spark):
        from qwery_spark.cdc.apply import apply_changes
        from qwery_spark.lake.changes import replicate
        from qwery_spark.lake.table import LakeTable
        from qwery_spark.operators.materialize import build_agg
        from qwery_spark.operators.vocab import build_vocab

        path = self.pristine_dir()
        b = self.size["buckets"]
        src = LakeTable.create(path + "/src", TARGET_SCHEMA, n_buckets=b, write_mode="mor")
        apply_changes(spark, src, read_events(spark, self.preload_path), epoch_id=0)
        head = src.current_version()
        rep = LakeTable.create(path + "/replica", TARGET_SCHEMA, n_buckets=b, write_mode="mor")
        replicate(spark, src, rep, 0, head, epoch_id=f"follow:{head}")
        build_agg(spark, src, path + "/agg", "source", ["n_tok"], at_version=head)
        build_vocab(spark, src, path + "/vocab", "tokens", at_version=head)

    def cycle(self, spark, tr, rec):
        from qwery_spark.cdc.apply import apply_changes
        from qwery_spark.compiler import ScriptEngine
        from qwery_spark.lake.changes import read_changes, replicate
        from qwery_spark.lake.table import LakeTable
        from qwery_spark.operators.materialize import update_agg
        from qwery_spark.operators.vocab import update_vocab
        from qwery_spark.streaming.stream import follow_changes

        d = self.cycle_dir()
        src, rep = LakeTable(d + "/src"), LakeTable(d + "/replica")
        agg, voc = LakeTable(d + "/agg"), LakeTable(d + "/vocab")
        # a run_follow.py process has every table's state cached after
        # its first poll; load it here, untimed, at the copy's new path
        for t in (src, rep, agg, voc):
            t.snapshot()
        engine = ScriptEngine(spark, import_env=False)

        def sink(feed, lo, hi):
            replicate(spark, src, rep, lo, hi, epoch_id=f"follow:{hi}", feed=feed)
            pfeed = read_changes(spark, src, lo, hi, granular=False,
                                 include_preimages=True).persist()
            try:
                update_agg(spark, src, agg, "source", ["n_tok"], lo, hi, feed=pfeed)
                update_vocab(spark, src, voc, "tokens", lo, hi, feed=pfeed)
            finally:
                pfeed.unpersist()

        raw_control(tr, rec, self.ctrl, self.control_files, d + "/control", first_half=True)
        for i, path in enumerate(self.window_paths):
            def window():
                last = src.current_version()
                t0 = time.perf_counter()
                apply_changes(spark, src, read_events(spark, path), epoch_id=i + 1)
                t1 = time.perf_counter()
                with tr.span("streaming.follow_changes"):
                    new = follow_changes(spark, src, sink, start_version=last,
                                         max_polls=1, poll_sec=0.0)
                t2 = time.perf_counter()
                # ingest: the source commit; epoch: the follow lag, from
                # that commit until every view reflects it
                rec.cycle["ingest_s"] += t1 - t0
                rec.cycle["epoch_s"].append(t2 - t1)
                rec.cycle["events"] += self.n_window
                check(new == src.current_version(), "follower did not reach the head")

            rec.op(window)
        for key in self.lookup_keys:
            run_lookup(tr, rec, spark, rep, key, self.state.get(key))
        for _ in range(self.size["reads"]):
            run_sql_agg(tr, rec, engine, rep.path, self.expect_agg)
        raw_control(tr, rec, self.ctrl, self.control_files, d + "/control", first_half=False)
        rec.table_state.append(table_files_state(src))

        def verify():
            want = self.expected_digest(spark)
            check(digest(src.read(spark)) == want, "source differs from replay_oracle")
            check(digest(rep.read(spark)) == want, "replica differs from replay_oracle")
            # the views against a recompute over the oracle's final state
            view = {r["source"]: (r["n_rows"], r["sum_n_tok"]) for r in agg.read(spark).collect()}
            check(view == self.expect_agg, "agg view differs from a recompute")
            vocab = {int(r["token"]): (int(r["cnt"]), int(r["n_docs"]))
                     for r in voc.read(spark).collect()}
            check(vocab == self.expect_vocab, "vocab view differs from a recompute")

        return verify


WORKLOADS = {w.name: w for w in (IngestShipped, FollowViews)}

# sizes: "full" is the benchmark; "smoke" runs the same code in seconds
SIZES = {
    "ingest_shipped": {
        "full": dict(preload=25000, stream=100000, batches=4, files_per_trigger=8, max_len=64,
                     buckets=16, lookups=30, reads=10),
        "smoke": dict(preload=400, stream=1200, batches=2, files_per_trigger=2, max_len=8,
                      buckets=4, lookups=4, reads=1),
    },
    "follow_views": {
        "full": dict(preload=25000, windows=2, window_events=12500, max_len=64, buckets=16,
                     lookups=24, reads=10),
        "smoke": dict(preload=600, windows=2, window_events=60, max_len=8, buckets=4,
                      lookups=3, reads=1),
    },
}
