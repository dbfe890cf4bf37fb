"""Cluster entrypoint: CDC-out follower via spark-submit — the
downstream half of the pipeline (jobs/run_ingest.py writes the table;
this job tails its commit log and ships change rows to consumers).

    spark-submit \
      --py-files qwery_spark.zip \
      jobs/run_follow.py \
      --table /lake/tok_sequences --sink /exports/changes \
      --state /exports/changes/_follow_state.json \
      [--replica /lake/replica] [--poll 30] [--max-polls N] [--coarse]
      [--join-table /lake/enriched --join-dim /lake/sources
       --join-fk source --join-right-cols trust]

Each new commit window lands as parquet under ``--sink/from=<lo>/``
(insert/update_postimage/delete rows, Delta-CDF column contract; the
window END travels in the rows' _commit_version), and/or merges into
``--replica`` (epoch key ``follow:<to>`` makes re-delivery idempotent).
The sink dir is keyed by the window START only: a crash-before-persist
re-ships from the same lo and OVERWRITES the partial dir — consumers
reading ``sink/**`` see each change exactly once, because successive
persisted los partition the version axis. The resume point is pinned to
``--state`` on startup and after every successful window via
``follow_changes(on_advance=...)``; a restarted job picks up exactly
where the previous one stopped, even if the first run shipped nothing.
``--max-polls`` bounds the run (drain-style); omit it for a daemon.

The incremental views (``--agg-table`` … ``--join-table``) are declared
in one registry, a list of ``streaming.stream.Maintainer`` entries, one
per view flag: ``build_missing`` builds them at the resume point, and
``maintain_window`` advances them off one shared feed per window.

No local-mode assumptions: uses the ambient SparkSession from
spark-submit.
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def main(argv=None):
    p = argparse.ArgumentParser()
    p.add_argument("--table", required=True)
    p.add_argument("--sink", help="directory for per-window change parquet")
    p.add_argument("--replica", help="lake table to replicate into")
    p.add_argument("--state", required=True,
                   help="JSON file persisting the last synced version")
    p.add_argument("--from-version", type=int, default=None,
                   help="override the resume point (default: --state file, "
                        "else the table head = follow new commits only)")
    p.add_argument("--poll", type=float, default=30.0)
    p.add_argument("--max-polls", type=int, default=None)
    p.add_argument("--coarse", action="store_true",
                   help="net endpoint diff per window instead of per-commit "
                        "rows (the cheap mode for far-behind consumers)")
    p.add_argument("--window", type=int, default=None,
                   help="window-attributed hybrid feed: one endpoint diff "
                        "per chunk of <= N data commits (near-coarse cost "
                        "for a far-behind follower, window-level "
                        "_commit_version attribution); overrides --coarse")
    p.add_argument("--agg-table",
                   help="maintain an incremental COUNT/SUM rollup lake "
                        "table at this path from each window "
                        "(operators/materialize; built from the source's "
                        "state at the resume point if missing)")
    p.add_argument("--agg-group", help="group column for --agg-table")
    p.add_argument("--agg-sum", default="",
                   help="comma-separated numeric columns to SUM for "
                        "--agg-table")
    p.add_argument("--agg-min", default="",
                   help="comma-separated numeric columns to MIN for "
                        "--agg-table (retraction of a group's stored "
                        "extremum recomputes ONLY that group from the "
                        "base)")
    p.add_argument("--agg-max", default="",
                   help="comma-separated numeric columns to MAX for "
                        "--agg-table (same retraction fallback)")
    p.add_argument("--scd2-table",
                   help="maintain an incremental SCD2 history lake table "
                        "at this path from each window (built from the "
                        "source's state at the resume point if missing)")
    p.add_argument("--sigindex-table",
                   help="maintain a persisted MinHash signature index "
                        "(operators/sigindex) at this path from each "
                        "window; only changed docs re-shingle")
    p.add_argument("--sigindex-text", default="text",
                   help="source text column for --sigindex-table")
    p.add_argument("--annindex-table",
                   help="maintain a persisted IVF ANN index "
                        "(operators/annindex) at this path from each "
                        "window; only changed vectors re-assign")
    p.add_argument("--annindex-centroids",
                   help="JSON file holding the fixed centroid vectors "
                        "(list of float lists) for --annindex-table")
    p.add_argument("--annindex-emb", default="embedding",
                   help="source embedding column for --annindex-table")
    p.add_argument("--vocab-table",
                   help="maintain an incremental token-frequency "
                        "(vocabulary) lake table (operators/vocab) at "
                        "this path from each window; the window's arrays "
                        "explode and partial-aggregate before one "
                        "token-keyed shuffle")
    p.add_argument("--vocab-tokens", default="tokens",
                   help="source token-array column for --vocab-table")
    p.add_argument("--spanindex-table",
                   help="maintain a persisted exact-span (substring) "
                        "index (operators/spanindex) at this path from "
                        "each window; changed docs re-fingerprint, the "
                        "corpus never does (token-array column taken "
                        "from --vocab-tokens)")
    p.add_argument("--spanindex-length", type=int, default=16,
                   help="window length L for --spanindex-table")
    p.add_argument("--join-table",
                   help="maintain an incremental materialized JOIN view "
                        "(operators/joinview; fact = the followed table "
                        "enriched with --join-dim columns) at this path "
                        "from each window; the dim side's change window "
                        "is its commits since the dim version in --state")
    p.add_argument("--join-dim",
                   help="dimension lake table for --join-table (keyed by "
                        "the join column)")
    p.add_argument("--join-fk",
                   help="fact-side foreign-key column joining to "
                        "--join-dim's key")
    p.add_argument("--join-left-cols", default="",
                   help="comma-separated fact columns carried into the "
                        "view (beyond key + fk)")
    p.add_argument("--join-right-cols", default="",
                   help="comma-separated dim columns carried into the "
                        "view")
    p.add_argument("--join-how", default="inner", choices=["inner", "left"],
                   help="join semantics for --join-table")
    p.add_argument("--auto-compact-files", type=int, default=None,
                   help="replica maintenance: compact any replica bucket "
                        "whose live-file count exceeds this bound after a "
                        "window applies (state-driven, skew-aware)")
    p.add_argument("--cluster-every", type=int, default=None,
                   help="with --auto-compact-files: additionally rewrite "
                        "the whole replica sorted by its key after this "
                        "many data commits since the last full sorted "
                        "rewrite (CompactionPolicy.cluster_every_commits) "
                        "— keeps changelog hull/row-group pruning tight "
                        "under scattered-update feeds with no "
                        "hand-scheduled compaction")
    p.add_argument("--auto-compact-views", type=int, default=None,
                   help="same manifest-threshold policy applied to the "
                        "maintained MOR view tables (SCD2 history, "
                        "signature index, ANN index — each window appends "
                        "delta files to them too); the ANN index is "
                        "re-clustered by cell on trigger so probe file "
                        "pruning stays tight")
    args = p.parse_args(argv)
    if args.agg_table and not args.agg_group:
        p.error("--agg-table requires --agg-group")
    if args.join_table and not (args.join_dim and args.join_fk
                                and args.join_right_cols):
        p.error("--join-table requires --join-dim, --join-fk and "
                "--join-right-cols")
    if args.cluster_every and not (args.auto_compact_files and args.replica):
        p.error("--cluster-every requires --auto-compact-files and "
                "--replica (it extends the replica's compaction policy)")
    if args.annindex_table and not args.annindex_centroids:
        p.error("--annindex-table requires --annindex-centroids")

    from qwery_spark.lake.changes import replicate
    from qwery_spark.lake.maintenance import CompactionPolicy, maybe_compact
    from qwery_spark.lake.table import LakeTable
    from qwery_spark.operators import (
        annindex, joinview, materialize, sigindex, spanindex, vocab)
    from qwery_spark.streaming.stream import (
        Maintainer, build_missing, follow_changes, maintain_window)

    table = LakeTable(args.table)
    # dim-side resume point for --join-table, persisted alongside the
    # fact version (the two feeds advance in lockstep per window)
    dim_state = {"v": None}

    def persist(version: int) -> None:
        tmp = args.state + ".tmp"
        st = {"version": version, "table": table.path}
        if dim_state["v"] is not None:
            st["dim_version"] = dim_state["v"]
        with open(tmp, "w") as fh:
            json.dump(st, fh)
        os.replace(tmp, args.state)

    def cols(csv: str) -> list:
        return [c for c in csv.split(",") if c]

    # the build_*/update_* shape every view but the join one shares;
    # `spark` binds below, before any build or update runs
    def maintainer(name, path, build, update, policy=None, **kw):
        view = LakeTable(path)
        return Maintainer(
            name, view.path,
            lambda v: build(spark, table, view.path, at_version=v, **kw),
            lambda lo, hi, feed: update(spark, table, view, from_version=lo,
                                        to_version=hi, feed=feed, **kw),
            policy)

    def mor_policy(**kw):
        # MOR views accumulate per-window delta files like the replica
        # does (agg, vocab and join are COW and self-compacting)
        if args.auto_compact_views:
            return CompactionPolicy(
                max_files_per_bucket=args.auto_compact_views, **kw)
        return None

    # the view registry, one entry per view flag, in window-update order
    views = []
    if args.agg_table:
        views.append(maintainer(
            "agg", args.agg_table, materialize.build_agg,
            materialize.update_agg,
            group_col=args.agg_group, sum_cols=cols(args.agg_sum),
            min_cols=cols(args.agg_min), max_cols=cols(args.agg_max)))
    if args.scd2_table:
        views.append(maintainer(
            "scd2", args.scd2_table, materialize.build_scd2,
            materialize.update_scd2, mor_policy()))
    if args.sigindex_table:
        views.append(maintainer(
            "sigindex", args.sigindex_table, sigindex.build_signature_index,
            sigindex.update_signature_index, mor_policy(),
            text_col=args.sigindex_text))
    if args.annindex_table:
        with open(args.annindex_centroids) as fh:
            centroids = json.load(fh)
        # re-clustered by cell on trigger so probe file pruning stays tight
        views.append(maintainer(
            "annindex", args.annindex_table, annindex.build_ann_index,
            annindex.update_ann_index, mor_policy(sort_cols=["cell"]),
            centroids=centroids, emb_col=args.annindex_emb))
    if args.vocab_table:
        views.append(maintainer(
            "vocab", args.vocab_table, vocab.build_vocab, vocab.update_vocab,
            tokens_col=args.vocab_tokens))
    if args.spanindex_table:
        views.append(maintainer(
            "spanindex", args.spanindex_table, spanindex.build_span_index,
            spanindex.update_span_index, mor_policy(),
            tokens_col=args.vocab_tokens, length=args.spanindex_length))
    join = None
    if args.join_table:
        join_view = LakeTable(args.join_table)
        dim_tbl = LakeTable(args.join_dim)
        join_kw = {"fk_col": args.join_fk, "how": args.join_how,
                   "left_cols": cols(args.join_left_cols),
                   "right_cols": cols(args.join_right_cols)}

        def build_join_view(v):
            # a fresh build pins BOTH resume points (fact at v, dim at its
            # head), re-pinned so a drain that ships no window keeps them
            dim_state["v"] = dim_tbl.current_version()
            joinview.build_join(spark, table, dim_tbl, join_view.path,
                                at_left_version=v,
                                at_right_version=dim_state["v"], **join_kw)
            persist(v)

        def update_join_view(lo, hi, feed):
            # the fact side reuses the shared window diff; the dim side
            # diffs its own commits since the persisted dim resume point.
            # A crash between this commit and persist() re-applies with a
            # wider dim window — safe: the window batch is a recompute of
            # the affected keys at the current heads, so re-application
            # converges (and the higher LWW ordinal wins)
            dim_hi = dim_tbl.current_version()
            joinview.update_join(
                spark, table, dim_tbl, join_view, from_left=lo,
                from_right=dim_state["v"], to_left=hi, to_right=dim_hi,
                left_feed=feed, **join_kw)
            dim_state["v"] = dim_hi

        join = Maintainer("join", join_view.path, build_join_view,
                          update_join_view)
        views.append(join)
    if not (args.sink or args.replica or views):
        p.error("need --sink, --replica, --agg-table, --scd2-table, "
                "--sigindex-table, --annindex-table, --join-table, "
                "--vocab-table and/or --spanindex-table")

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("qwery-follow").getOrCreate()

    start = args.from_version
    if os.path.exists(args.state):
        with open(args.state) as fh:
            st = json.load(fh)
        if os.path.normpath(st.get("table", "")) != table.path:
            p.error(
                f"--state {args.state} was written for table "
                f"{st.get('table')!r}, not {table.path!r}"
            )
        if start is None:
            start = st["version"]
        dim_state["v"] = st.get("dim_version")
    if start is None:
        start = table.current_version()

    # pin the resume point BEFORE the loop: a drain that sees no new
    # commits must still leave a state file, or the next run would
    # re-default to the then-current head and silently skip the gap
    persist(start)

    build_missing(views, start)
    if join is not None and dim_state["v"] is None:
        # an existing view with no recorded dim resume point cannot be
        # continued: the dim changes since its build are unknowable
        p.error(
            f"--state {args.state} has no dim_version for the "
            f"existing join view {join.path!r} — delete the "
            "view to rebuild it at the current resume point"
        )

    def sink(feed, lo, hi):
        if args.sink:
            feed.write.mode("overwrite").parquet(
                os.path.join(args.sink, f"from={lo}")
            )
        if args.replica:
            # epoch-keyed: a crashed-and-restarted window re-merge
            # no-ops; the feed DataFrame is reused, not recomputed
            replica = LakeTable(args.replica)
            replicate(
                spark, table, replica, lo, hi,
                epoch_id=f"follow:{hi}", feed=feed,
            )
            if args.auto_compact_files:
                cluster_kw = {}
                if args.cluster_every:
                    cluster_kw = {
                        "sort_cols": [replica.snapshot().m["key_col"]],
                        "cluster_every_commits": args.cluster_every,
                    }
                maybe_compact(
                    spark, replica,
                    CompactionPolicy(
                        max_files_per_bucket=args.auto_compact_files,
                        **cluster_kw,
                    ),
                )
        # the views need preimages, which the sink feed lacks by design
        maintain_window(spark, table, views, lo, hi)

    from qwery_spark.lake.changes import VersionExpiredError

    try:
        last = follow_changes(
            spark,
            table,
            sink,
            start_version=start,
            poll_sec=args.poll,
            max_polls=args.max_polls,
            granular=not args.coarse,
            window=args.window,
            on_advance=persist,
        )
    except VersionExpiredError as e:
        # the resume point fell out of the source's retention window:
        # exit with the rebuild contract instead of a stack trace (the
        # state file is left at the expired version deliberately — a
        # rebuild script reads it to know what was lost)
        print(json.dumps({"error": "version_expired", "message": str(e)}),
              file=sys.stderr)
        return 3
    print(json.dumps({"last_synced_version": last}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
