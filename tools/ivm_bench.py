"""IVM flatness evidence (r4 verdict task 4): the per-window cost of
maintaining downstream views — update_agg, update_scd2,
update_signature_index, update_ann_index, update_vocab — must track the WINDOW's
change volume, not the base table's depth. Fixed-size change windows
are applied while the base grows ~10x; per-window wall is recorded for
each maintainer, and flatness = median(second half)/median(first half).

Workloads (third arg):
  recent   inserts + updates/deletes of RECENT keys (the common CDC
           recency skew). The changelog's key-range pruning
           (changes._added_key_range) keeps every window's before-side
           scan at O(window): old files never overlap the window span.
  scatter  updates/deletes of uniformly random OLD keys — the hull of
           the window's key range covers the whole table, pruning
           cannot fire, and the before-side scan is O(touched buckets).
           Recorded as the honest worst case.
  policy   the scatter workload with ONE CompactionPolicy tick per
           window (cluster_every_commits=4, sort_cols=[doc_id]) and no
           hand-scheduled compaction — the round-6 automatic form of
           "sorted"; flatness must match it (<= ~1.07).
  sorted   the scatter workload with a periodic compact(sort_cols=key)
           BETWEEN windows: proves between-window compaction never
           voids pruning (granular windows diff single commits, which
           stay additive) and bounds delta accumulation. The
           row-group-level win sorting enables (exact key-set In
           pushdown inside big sorted files) needs a deep base to
           amortize the key-read job — measured separately in
           BASELINE.md "Round-5: changelog diff pruning" (2.4x at 8M
           rows / 100-key window); at THIS bench's scale the gate (changes._KEY_SET_MIN_KEPT_
           ROWS) correctly keeps the key-set layer off.

Run: python tools/ivm_bench.py [windows] [inserts_per_window] [workload]
Prints one JSON line per maintainer plus a summary.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SEED_ROWS = 40_000
N_BUCKETS = 16
UPDATES_PER_WINDOW = 1_500
DELETES_PER_WINDOW = 300


def _docs(spark, lo: int, n: int, ordinal0: int, lang_tag: str):
    """Deterministic docs [lo, lo+n): 8-word text from md5 so the
    signature index has real shingles; no Python row loops."""
    from pyspark.sql import functions as F

    words = [
        F.substring(F.md5(F.concat_ws("-", F.col("id"), F.lit(str(w)))), 1, 6)
        for w in range(8)
    ]
    emb = F.array(*[
        (
            F.conv(
                F.substring(
                    F.md5(F.concat_ws("-", F.col("id"), F.lit(f"e{d}{lang_tag}"))),
                    1, 4,
                ), 16, 10,
            ).cast("double") % 100
        ) / 10.0
        for d in range(4)
    ])
    return (
        spark.range(lo, lo + n)
        .select(
            F.col("id").alias("doc_id"),
            F.concat(F.lit(lang_tag), (F.col("id") % 5)).alias("lang"),
            (F.col("id") % 997).cast("long").alias("n_chars"),
            F.concat_ws(" ", *words).alias("text"),
            emb.alias("embedding"),
            F.expr(f"transform(sequence(0, 11), i -> "
                   f"CAST((id * 37 + i * 13 + {ord(lang_tag[0])}) % 50257 "
                   f"AS INT))").alias("tokens"),
            F.lit("U").alias("op"),
            (F.lit(ordinal0) + F.col("id") - lo).alias("ordinal"),
        )
    )


def main():
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from qwery_spark.lake.merge import append_changes, compact
    from qwery_spark.lake.table import LakeTable
    from qwery_spark.operators.materialize import (
        build_agg, build_scd2, update_agg, update_scd2,
    )
    from qwery_spark.operators.annindex import (
        build_ann_index, update_ann_index,
    )
    from qwery_spark.operators.sigindex import (
        build_signature_index, update_signature_index,
    )
    from qwery_spark.operators.vocab import build_vocab, update_vocab
    from qwery_spark.session import get_spark

    windows = int(sys.argv[1]) if len(sys.argv) > 1 else 16
    per_win = int(sys.argv[2]) if len(sys.argv) > 2 else 10_000
    workload = sys.argv[3] if len(sys.argv) > 3 else "recent"
    if workload not in ("recent", "scatter", "sorted", "policy"):
        raise SystemExit("workload must be recent|scatter|sorted|policy")
    if windows < 4:
        raise SystemExit("windows must be >= 4")

    spark = get_spark("ivm-bench", cpus=32, shuffle_partitions=32)
    base = "/dev/shm" if os.path.isdir("/dev/shm") else None
    d = tempfile.mkdtemp(prefix="ivm_bench_", dir=base)
    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("lang", T.StringType()),
        T.StructField("n_chars", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("embedding", T.ArrayType(T.DoubleType())),
        T.StructField("tokens", T.ArrayType(T.IntegerType())),
    ])
    centroids = [
        [2.0, 2.0, 2.0, 2.0], [8.0, 2.0, 8.0, 2.0],
        [2.0, 8.0, 2.0, 8.0], [8.0, 8.0, 8.0, 8.0],
    ]
    try:
        src = LakeTable.create(
            d + "/src", schema, n_buckets=N_BUCKETS, key_col="doc_id",
            write_mode="mor",
        )
        from qwery_spark.lake.maintenance import (
            CompactionPolicy,
            maybe_compact,
        )

        # the "policy" workload replaces the hand-scheduled every-4-
        # windows sort with a per-window policy tick: the cadence
        # trigger owns the schedule (1 window = 1 data commit here)
        cluster_policy = CompactionPolicy(
            max_files_per_bucket=8,
            sort_cols=["doc_id"],
            cluster_every_commits=4,
        )
        clustered_at: list[int] = []
        append_changes(spark, src, _docs(spark, 0, SEED_ROWS, 0, "l"))
        agg = build_agg(spark, src, d + "/agg", "lang", ["n_chars"])
        hist = build_scd2(spark, src, d + "/hist")
        sidx = build_signature_index(spark, src, d + "/sidx")
        aidx = build_ann_index(spark, src, d + "/aidx", centroids)
        vocab = build_vocab(spark, src, d + "/vocab", "tokens")

        walls = {"agg": [], "scd2": [], "sigindex": [], "annindex": [],
                 "vocab": [], "window_total": []}
        next_id = SEED_ROWS
        ordinal = 10_000_000
        for w in range(windows):
            ins = _docs(spark, next_id, per_win, ordinal, "l")
            if workload == "recent":
                upd_lo = max(next_id - per_win, 0)          # last window's keys
                upd = _docs(spark, upd_lo, UPDATES_PER_WINDOW,
                            ordinal + per_win, "m")
                dels = spark.range(upd_lo + per_win // 2,
                                   upd_lo + per_win // 2 + DELETES_PER_WINDOW)
            else:
                # uniform spread over everything inserted so far
                stride = max(next_id // UPDATES_PER_WINDOW, 1)
                upd = (
                    spark.range(0, next_id, stride)
                    .limit(UPDATES_PER_WINDOW)
                    .select(
                        F.col("id").alias("doc_id"),
                        F.concat(F.lit("m"), F.col("id") % 5).alias("lang"),
                        ((F.col("id") + w) % 997).cast("long").alias("n_chars"),
                        F.concat_ws(
                            " ",
                            *[F.substring(F.md5(F.concat_ws(
                                "-", F.col("id"), F.lit(f"w{w}-{i}"))), 1, 6)
                              for i in range(8)],
                        ).alias("text"),
                        F.array(*[
                            (F.conv(F.substring(F.md5(F.concat_ws(
                                "-", F.col("id"), F.lit(f"u{w}-{dd}"))), 1, 4),
                                16, 10).cast("double") % 100) / 10.0
                            for dd in range(4)
                        ]).alias("embedding"),
                        F.expr(f"transform(sequence(0, 11), i -> "
                               f"CAST((id * 41 + i * 13 + {w}) % 50257 "
                               f"AS INT))").alias("tokens"),
                        F.lit("U").alias("op"),
                        (F.lit(ordinal + per_win) + F.col("id")).alias("ordinal"),
                    )
                )
                dstride = max(next_id // DELETES_PER_WINDOW, 1)
                dels = (spark.range(3, next_id, dstride)
                        .limit(DELETES_PER_WINDOW))
            del_rows = dels.select(
                F.col("id").alias("doc_id"),
                F.lit(None).cast("string").alias("lang"),
                F.lit(None).cast("long").alias("n_chars"),
                F.lit(None).cast("string").alias("text"),
                F.lit(None).cast("array<double>").alias("embedding"),
                F.lit(None).cast("array<int>").alias("tokens"),
                F.lit("D").alias("op"),
                (F.lit(ordinal + 2 * per_win) + F.col("id")).alias("ordinal"),
            )
            v = src.current_version()
            append_changes(spark, src, ins.unionByName(upd).unionByName(del_rows))
            t0 = time.monotonic()
            t = time.monotonic()
            update_agg(spark, src, agg, "lang", ["n_chars"], from_version=v)
            walls["agg"].append(round((time.monotonic() - t) * 1000))
            t = time.monotonic()
            update_scd2(spark, src, hist, from_version=v)
            walls["scd2"].append(round((time.monotonic() - t) * 1000))
            t = time.monotonic()
            update_signature_index(spark, src, sidx, from_version=v)
            walls["sigindex"].append(round((time.monotonic() - t) * 1000))
            t = time.monotonic()
            update_ann_index(spark, src, aidx, centroids, from_version=v)
            walls["annindex"].append(round((time.monotonic() - t) * 1000))
            t = time.monotonic()
            update_vocab(spark, src, vocab, "tokens", from_version=v)
            walls["vocab"].append(round((time.monotonic() - t) * 1000))
            walls["window_total"].append(round((time.monotonic() - t0) * 1000))
            next_id += per_win
            ordinal += 3 * per_win
            if workload == "sorted" and (w + 1) % 4 == 0:
                # between-window maintenance: granular window diffs stay
                # additive, so this never voids key-range pruning
                compact(spark, src, sort_cols=["doc_id"])
            elif workload == "policy":
                # round-6: the same remedy, UNSCHEDULED — one policy
                # tick per window; CompactionPolicy.cluster_every_
                # commits decides when the full sorted rewrite runs
                rep = maybe_compact(spark, src, cluster_policy)
                if rep.clustered:
                    clustered_at.append(w)

        def med(xs):
            s = sorted(xs)
            return s[len(s) // 2]

        half = windows // 2
        out = {
            "workload": workload,
            "windows": windows,
            "inserts_per_window": per_win,
            "updates_per_window": UPDATES_PER_WINDOW,
            "deletes_per_window": DELETES_PER_WINDOW,
            "base_rows_start": SEED_ROWS,
            "base_rows_end": next_id,
            "depth_growth_x": round(next_id / SEED_ROWS, 1),
            "policy_clustered_at_windows": clustered_at,
            "wall_ms": walls,
            "flatness_second_over_first": {
                # skip window 0 (JIT warm-up)
                k: round(med(v[half:]) / med(v[1:half]), 3)
                for k, v in walls.items()
            },
        }
        print(json.dumps(out))
    finally:
        shutil.rmtree(d, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
