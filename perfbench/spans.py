"""In-memory span tracer for the traced benchmark run.

A span records its name, start, end and parent. Spans that may run
Spark work also get their own Spark job group, so after the run every
span can be charged the jobs, stages and tasks it launched itself.
Nested spans set their own group and restore the parent's on exit;
a span opened on the streaming callback thread sets the group on the
JVM thread that runs the micro-batch and restores the stream's own
group afterwards.

The engine is not edited: ``instrument`` rebinds the public entry
points of each layer module (including names other modules bound at
import time, such as ``streaming.stream.apply_changes``) to wrappers
that open a span, and returns a function that puts the originals back.
"""

from __future__ import annotations

import contextlib
import threading
import time
from dataclasses import dataclass, field

LAYERS = (
    "streaming",
    "cdc",
    "lake.merge",
    "lake.table",
    "lake.changes",
    "operators",
    "compiler",
)

_GROUP_PROPS = (
    "spark.jobGroup.id",
    "spark.job.description",
    "spark.job.interruptOnCancel",
)


def layer_of(name: str) -> str:
    """The layer a span name belongs to (longest matching prefix), or
    'bench' for the benchmark's own spans."""
    matches = [la for la in LAYERS if name == la or name.startswith(la + ".")]
    return max(matches, key=len, default="bench")


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    group: str | None = None
    attrs: dict = field(default_factory=dict)
    jobs: int = 0
    stages: int = 0
    tasks: int = 0


class NullTracer:
    """Tracing off: every span is a shared no-op context."""

    enabled = False
    _null = contextlib.nullcontext({})

    def span(self, name: str, spark_jobs: bool = True):
        return self._null


class Tracer:
    enabled = True

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next = 0
        # parent for spans opened on a thread with no open span of its
        # own (the streaming callback thread): the innermost span open
        # on the main thread, which waits on the stream meanwhile
        self.ambient: int | None = None

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str, spark_jobs: bool = True):
        stack = self._stack()
        with self._lock:
            sid = self._next
            self._next += 1
        parent = stack[-1].sid if stack else self.ambient
        sp = Span(sid, name, parent, 0.0)
        saved = None
        if spark_jobs:
            sp.group = f"perfbench-{sid}"
            saved = [self.sc.getLocalProperty(k) for k in _GROUP_PROPS]
            self.sc.setLocalProperty("spark.jobGroup.id", sp.group)
            self.sc.setLocalProperty("spark.job.description", name)
        on_main = threading.current_thread() is threading.main_thread()
        stack.append(sp)
        if on_main:
            self.ambient = sid
        sp.start = time.perf_counter()
        try:
            yield sp.attrs
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            if on_main:
                self.ambient = stack[-1].sid if stack else None
            if saved is not None:
                for k, v in zip(_GROUP_PROPS, saved):
                    self.sc.setLocalProperty(k, v)
            with self._lock:
                self.spans.append(sp)

    def resolve_spark_counts(self) -> None:
        """Charge each span the jobs, executed stages and completed
        tasks of its own job group. Waits for the listener bus first:
        job events reach the status store asynchronously."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
        tracker = self.sc.statusTracker()
        stage_cache: dict[int, tuple[int, int]] = {}
        for sp in self.spans:
            if sp.group is None:
                continue
            for jid in tracker.getJobIdsForGroup(sp.group):
                info = tracker.getJobInfo(jid)
                if info is None:
                    continue
                sp.jobs += 1
                for sid in info.stageIds:
                    if sid not in stage_cache:
                        st = tracker.getStageInfo(sid)
                        done = st.numCompletedTasks if st is not None else 0
                        stage_cache[sid] = (1 if done > 0 else 0, done)
                    ran, done = stage_cache[sid]
                    sp.stages += ran
                    sp.tasks += done


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of its interval its children cover
    (children never outlive their parent, so the covered part is the
    union of the children's intervals)."""
    children: dict[int, list[Span]] = {}
    for sp in spans:
        if sp.parent is not None:
            children.setdefault(sp.parent, []).append(sp)
    out = {}
    for sp in spans:
        covered, hi = 0.0, sp.start
        for c in sorted(children.get(sp.sid, ()), key=lambda s: s.start):
            lo, end = max(c.start, hi), min(c.end, sp.end)
            if end > lo:
                covered += end - lo
                hi = end
        out[sp.sid] = (sp.end - sp.start) - covered
    return out


def subtree_counts(spans: list[Span]) -> dict[int, int]:
    """Jobs launched inside each span, its descendants' included."""
    by_id = {sp.sid: sp for sp in spans}
    total = {sp.sid: sp.jobs for sp in spans}
    for sp in spans:
        p = sp.parent
        while p is not None and p in by_id:
            total[p] += sp.jobs
            p = by_id[p].parent
    return total


def _wrap(tracer: Tracer, fn, name: str, spark_jobs: bool, on_result=None):
    def wrapper(*args, **kwargs):
        with tracer.span(name, spark_jobs) as attrs:
            try:
                res = fn(*args, **kwargs)
            except Exception as exc:
                attrs["error"] = type(exc).__name__
                raise
            if on_result is not None:
                on_result(attrs, res)
            return res

    wrapper.__wrapped__ = fn
    wrapper.__name__ = getattr(fn, "__name__", name)
    return wrapper


def _apply_attrs(attrs, res):
    attrs.update(
        rows_in=res.rows_in, rows_rejected=res.rows_rejected,
        ddl_applied=res.ddl_applied, skipped=res.merge.skipped,
    )


def _merge_attrs(attrs, res):
    attrs.update(
        touched_buckets=res.touched_buckets, rows_stale=res.rows_stale,
        rows=res.rows_upserted + res.rows_deleted, skipped=res.skipped,
    )


def _agg_attrs(attrs, res):
    attrs.update(groups_touched=res.groups_touched)


def instrument(tracer: Tracer):
    """Rebind every traced entry point; returns the undo function."""
    import qwery_spark.cdc as cdc_pkg
    import qwery_spark.cdc.apply as apply_mod
    import qwery_spark.lake.changes as changes
    import qwery_spark.lake.merge as merge
    import qwery_spark.lake.table as table
    import qwery_spark.operators.materialize as materialize
    import qwery_spark.operators.vocab as vocab
    import qwery_spark.streaming.stream as stream

    LT = table.LakeTable
    # (owners that hold the name, attribute, span name, spark_jobs, attrs)
    plan = [
        ((apply_mod, stream, cdc_pkg), "apply_changes", "cdc.apply", True, _apply_attrs),
        ((merge, apply_mod), "append_changes", "lake.merge.append", True, _merge_attrs),
        ((merge, apply_mod), "merge_changes", "lake.merge.merge", True, _merge_attrs),
        ((merge,), "compact", "lake.merge.compact", True, None),
        ((LT,), "snapshot", "lake.table.snapshot", False, None),
        ((LT,), "read", "lake.table.read", True, None),
        ((LT,), "commit_rewrite", "lake.table.commit", False, None),
        ((LT,), "commit_remove_add", "lake.table.commit", False, None),
        ((LT,), "commit_schema_change", "lake.table.commit", False, None),
        ((changes, materialize, vocab), "read_changes", "lake.changes.feed", True, None),
        ((changes,), "replicate", "lake.changes.replicate", True, _merge_attrs),
        ((materialize,), "update_agg", "operators.materialize.update_agg", True, _agg_attrs),
        ((vocab,), "update_vocab", "operators.vocab.update_vocab", True, None),
    ]
    undo = []
    for owners, attr, name, jobs, on_result in plan:
        orig = owners[0].__dict__[attr]
        wrapped = _wrap(tracer, orig, name, jobs, on_result)
        for owner in owners:
            undo.append((owner, attr, owner.__dict__[attr]))
            setattr(owner, attr, wrapped)

    def restore():
        for owner, attr, orig in reversed(undo):
            setattr(owner, attr, orig)

    return restore
