"""Per-layer metrics of a traced run, computed from its spans.

Every value is per traced cycle (the median over the run's traced
cycles), so runs of different lengths compare. A metric of a layer the
workload does not reach reads 0.
"""

from __future__ import annotations

import statistics

from spans import LAYERS, layer_of, self_times, subtree_counts

# (metric, unit) in report order; README.md maps each to the
# end-to-end metric and workload it should move
PER_LAYER = [
    ("streaming.overhead_s", "s"),
    ("streaming.batches", "count"),
    ("cdc.apply_s", "s"),
    ("cdc.side_s", "s"),
    ("cdc.jobs_per_epoch", "count"),
    ("cdc.rows_in", "rows"),
    ("cdc.rows_rejected", "rows"),
    ("cdc.ddl_applied", "count"),
    ("lake.merge.append_s", "s"),
    ("lake.merge.append_jobs", "count"),
    ("lake.merge.merge_s", "s"),
    ("lake.merge.merge_jobs", "count"),
    ("lake.merge.touched_buckets", "count"),
    ("lake.merge.rows_stale", "rows"),
    ("lake.merge.compact_s", "s"),
    ("lake.table.commit_s", "s"),
    ("lake.table.commit_conflicts", "count"),
    ("lake.table.snapshot_calls", "count"),
    ("lake.table.snapshot_s", "s"),
    ("lake.table.delta_files", "count"),
    ("lake.table.files", "count"),
    ("lake.table.bytes", "bytes"),
    ("lake.table.read_s", "s"),
    ("lake.table.lookup_s", "s"),
    ("lake.table.lookup_jobs", "count"),
    ("lake.changes.feed_s", "s"),
    ("lake.changes.feed_rows", "rows"),
    ("lake.changes.feed_jobs", "count"),
    ("lake.changes.replicate_s", "s"),
    ("operators.materialize.update_agg_s", "s"),
    ("operators.materialize.update_agg_jobs", "count"),
    ("operators.materialize.groups_touched", "count"),
    ("operators.vocab.update_vocab_s", "s"),
    ("operators.vocab.update_vocab_jobs", "count"),
    ("compiler.execute_s", "s"),
    ("compiler.collect_s", "s"),
    *[(f"self_s.{layer}", "s") for layer in LAYERS],
    ("unattributed_s", "s"),
    ("bench.control_s", "s"),
    *[(f"spark.{kind}.{layer}", "count")
      for kind in ("jobs", "stages", "tasks") for layer in (*LAYERS, "bench")],
    ("spark.jobs", "count"),
    ("spark.stages", "count"),
    ("spark.tasks", "count"),
    ("trace.spans", "count"),
    ("trace.overhead_s", "s"),
]


def _cycle_metrics(spans, root) -> dict:
    by_id = {sp.sid: sp for sp in spans}
    selfs = self_times(spans)
    jobs = subtree_counts(spans)

    def named(name):
        return [sp for sp in spans if sp.name == name]

    def dur(sps):
        return sum(sp.end - sp.start for sp in sps)

    def attr(sps, key):
        return sum(sp.attrs.get(key, 0) for sp in sps)

    def under(sp, name):
        p = sp.parent
        while p is not None:
            if by_id[p].name == name:
                return True
            p = by_id[p].parent
        return False

    applies = named("cdc.apply")
    streamed = [sp for sp in applies if under(sp, "streaming.run")]
    merge_children = [
        sp for sp in spans
        if sp.name.startswith("lake.merge.") and sp.parent in {a.sid for a in applies}
    ]
    m = {
        "streaming.overhead_s": dur(named("streaming.run")) - dur(streamed),
        "streaming.batches": len(streamed),
        "cdc.apply_s": dur(applies),
        "cdc.side_s": dur(applies) - dur(merge_children),
        "cdc.jobs_per_epoch": (
            sum(jobs[a.sid] for a in applies) / len(applies) if applies else 0
        ),
        "cdc.rows_in": attr(applies, "rows_in"),
        "cdc.rows_rejected": attr(applies, "rows_rejected"),
        "cdc.ddl_applied": attr(applies, "ddl_applied"),
        "lake.table.commit_conflicts": sum(
            1 for sp in named("lake.table.commit") if sp.attrs.get("error") == "CommitConflict"
        ),
        "lake.table.snapshot_calls": len(named("lake.table.snapshot")),
        "lake.changes.feed_rows": attr(named("lake.changes.replicate"), "rows"),
        "operators.materialize.groups_touched": attr(
            named("operators.materialize.update_agg"), "groups_touched"
        ),
        "lake.merge.touched_buckets": attr(named("lake.merge.merge"), "touched_buckets"),
        "lake.merge.rows_stale": attr(named("lake.merge.merge"), "rows_stale"),
        "unattributed_s": selfs[root.sid],
        "bench.control_s": dur(named("bench.control")),
        "trace.spans": len(spans),
    }
    for metric, name in (
        ("lake.merge.append", "lake.merge.append"),
        ("lake.merge.merge", "lake.merge.merge"),
        ("lake.table.lookup", "lake.table.lookup"),
        ("lake.changes.feed", "lake.changes.feed"),
        ("operators.materialize.update_agg", "operators.materialize.update_agg"),
        ("operators.vocab.update_vocab", "operators.vocab.update_vocab"),
    ):
        sps = named(name)
        m[metric + "_s"] = dur(sps)
        m[metric + "_jobs"] = sum(jobs[sp.sid] for sp in sps)
    for metric, name in (
        ("lake.merge.compact_s", "lake.merge.compact"),
        ("lake.table.commit_s", "lake.table.commit"),
        ("lake.table.snapshot_s", "lake.table.snapshot"),
        ("lake.table.read_s", "lake.table.read"),
        ("lake.changes.replicate_s", "lake.changes.replicate"),
        ("compiler.execute_s", "compiler.execute"),
        ("compiler.collect_s", "compiler.collect"),
    ):
        m[metric] = dur(named(name))
    for layer in (*LAYERS, "bench"):
        mine = [sp for sp in spans if layer_of(sp.name) == layer]
        if layer != "bench":
            m[f"self_s.{layer}"] = sum(selfs[sp.sid] for sp in mine)
        for kind in ("jobs", "stages", "tasks"):
            m[f"spark.{kind}.{layer}"] = sum(getattr(sp, kind) for sp in mine)
    for kind in ("jobs", "stages", "tasks"):
        m[f"spark.{kind}"] = sum(getattr(sp, kind) for sp in spans)
    return m


def per_layer(spans, rec, cycle_walls: dict) -> dict:
    children: dict[int, list] = {}
    for sp in spans:
        children.setdefault(sp.parent, []).append(sp)
    roots = [sp for sp in spans if sp.name == "bench.cycle"]
    per_cycle = []
    for root in roots:
        tree, todo = [], [root]
        while todo:
            sp = todo.pop()
            tree.append(sp)
            todo.extend(children.get(sp.sid, ()))
        per_cycle.append(_cycle_metrics(tree, root))
    out = {}
    for name, unit in PER_LAYER:
        if name == "trace.overhead_s":
            value = (statistics.median(cycle_walls["traced"])
                     - statistics.median(cycle_walls["untraced"][1:]))
        elif name.startswith("lake.table.") and name.rsplit(".", 1)[1] in (
            "files", "delta_files", "bytes"
        ):
            value = statistics.median(s[name.rsplit(".", 1)[1]] for s in rec.table_state)
        else:
            value = statistics.median(c[name] for c in per_cycle)
        out[name] = {"value": value, "unit": unit}
    return out
