"""Streaming near-dup index at scale: the incremental probe against a
GROWING persisted index, measured and exactness-checked.

`tests/test_streaming.py` pins maintain_near_dup_index's contract at
380 docs; `tools/curation_scale.py` proves the batch near-dup chain at
2M/10M.  What neither shows is the incremental path's behavior when the
index it probes is itself large: per-batch cost as history accumulates,
and zero recall loss across batch boundaries.  This tool streams the
planted corpus through in micro-batches whose boundaries deliberately
SPLIT duplicate groups (chunk size coprime to the group size), so a
group's tail members must dedup against the persisted index, not
in-batch — at every batch after the first.

Exactness: ``--n-tokens 60`` + single-row bands give the same per-doc
isolation margin as curation_scale ((1-J)^bands ~ 3e-12), and planted
groups are all-pairs similar, so first-arrival == min-id and the
retained set must equal the planted heads EXACTLY — count and id-sum
both asserted.

Usage: PYTHONPATH=. python tools/streaming_neardup_scale.py
       [--n 500000] [--batches 5] [--out STREAMING_NEARDUP_SCALE.json]
"""

from __future__ import annotations

import argparse
import json
import os
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n", type=int, default=500_000)
    ap.add_argument("--group", type=int, default=10)
    ap.add_argument("--batches", type=int, default=5)
    ap.add_argument("--n-tokens", type=int, default=60)
    ap.add_argument(
        "--trickle", type=int, default=0,
        help="after the bulk build, append this many SMALL (1k-doc) "
        "micro-batches — the maxFilesPerTrigger=1 ingest regime the "
        "shard-pruned probe serves; reports their per-batch walls "
        "against the full-size index",
    )
    ap.add_argument(
        "--compact-every", type=int, default=0,
        help="pass through to maintain_near_dup_index: the tiered-fold "
        "fanout (adjacent same-tier live dirs merge once this many "
        "accumulate; 0 = pure append log)",
    )
    ap.add_argument(
        "--max-fold-width", type=int, default=None,
        help="pass through: seal dirs covering this many batches "
        "(default compact_every**2) — never rewritten again",
    )
    ap.add_argument(
        "--n-shards", type=int, default=16,
        help="pass through: index layout shard count — the documented "
        "probe-pruning lever (VERDICT r11 #3); per-batch probe bytes "
        "are recorded so the lever's effect is measured, not assumed",
    )
    ap.add_argument("--workdir", type=str, default=None)
    ap.add_argument("--out", type=str, default=None)
    args = ap.parse_args()

    import tempfile

    from pyspark.sql import functions as F

    from gmail_etl_spark.session import get_spark
    from gmail_etl_spark.streaming.jobs import (
        maintain_near_dup_index,
        read_near_dup_index,
    )
    from gmail_etl_spark.synthetic import planted_near_dup_corpus

    spark = get_spark("streaming-neardup-scale")
    spark.sparkContext.setLogLevel("ERROR")
    n, group = args.n, args.group

    work = args.workdir or tempfile.mkdtemp(prefix="stream_nd_scale_")
    src = os.path.join(work, "docs")
    os.makedirs(src, exist_ok=True)
    # chunk size ends in 5 (coprime to group=10), so every batch
    # boundary splits a duplicate group across batches
    chunk = (n // args.batches // 10) * 10 + 5
    from gmail_etl_spark.synthetic import write_mtime_ordered_batches

    corpus = planted_near_dup_corpus(spark, n, group=group, n_tokens=args.n_tokens)
    # one distributed pass writes every mtime-ordered batch file (a 2M
    # corpus fits through neither toPandas nor per-range re-generation)
    n_files = write_mtime_ordered_batches(corpus, src, chunk)

    index = os.path.join(work, "index")
    # per-batch wall deltas (publish-completion timestamps): the v2
    # sharded layout must keep per-batch cost from growing with index
    # size in the wide (hsh) dimension — batch N's wall vs batch 1's is
    # the evidence column VERDICT r9 #1 asked for
    import gmail_etl_spark.streaming.jobs as J

    publish_done: list[float] = []
    orig_publish = J._publish_index_batch

    def publish_timed(*a, **k):
        r = orig_publish(*a, **k)
        publish_done.append(time.perf_counter())
        return r

    J._publish_index_batch = publish_timed
    fold_log: list = []
    probe_log: list = []
    t0 = time.perf_counter()
    try:
        maintain_near_dup_index(
            spark, src, index, os.path.join(work, "ckpt"),
            k=3, n_hashes=16, bands=16, threshold=0.5,
            n_shards=args.n_shards,
            compact_every=args.compact_every,
            max_fold_width=args.max_fold_width,
            fold_log=fold_log,
            probe_log=probe_log,
        )
    finally:
        J._publish_index_batch = orig_publish
    wall = round(time.perf_counter() - t0, 2)
    batch_walls = [
        round(t - prev, 2)
        for prev, t in zip([t0] + publish_done[:-1], publish_done)
    ]

    retained = read_near_dup_index(spark, index)
    agg = retained.agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("id").alias("s")
    ).collect()[0]
    heads = list(range(0, n, group))
    assert agg["cnt"] == len(heads), (agg["cnt"], len(heads))
    assert agg["s"] == sum(heads), (agg["s"], sum(heads))
    index_bytes = sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, fs in os.walk(index) for f in fs
    )
    print(
        f"[ok] retained={agg['cnt']} == planted heads, id_sum exact; "
        f"{n_files} batches, {wall}s, index {index_bytes >> 20} MiB"
    )
    trickle_walls: list[float] = []
    trickle_exact = None
    if args.trickle:
        import pandas as pd

        # the ingest regime the index serves: small daily batches against
        # the full-size history.  Each trickle batch = 500 NOVEL docs
        # (disjoint token namespaces — nothing may drop) + 500 byte-exact
        # copies of planted heads (every one must drop against history).
        # Only the heads the trickle actually copies come to the driver
        # (bounded ≤ trickle*500 rows — the full corpus no longer does).
        need_heads = min(args.trickle * 500, n // group)
        head_rows = (
            corpus.filter(
                (F.col("doc_id") % group == 0)
                & (F.col("doc_id") < need_heads * group)
            )
            .orderBy("doc_id")
            .toPandas()
            .reset_index(drop=True)
        )
        for t in range(args.trickle):
            novel = pd.DataFrame(
                {
                    "doc_id": [10_000_000 + t * 1000 + i for i in range(500)],
                    "text": [
                        " ".join(
                            f"trk{t}x{i}y{j}" for j in range(args.n_tokens)
                        )
                        for i in range(500)
                    ],
                }
            )
            picks = [(t * 500 + i) % len(head_rows) for i in range(500)]
            dups = pd.DataFrame(
                {
                    "doc_id": [20_000_000 + t * 1000 + i for i in range(500)],
                    "text": head_rows.iloc[picks]["text"].tolist(),
                }
            )
            batch = pd.concat([novel, dups], ignore_index=True)
            path = os.path.join(src, f"t{n_files + t:04d}.parquet")
            batch.to_parquet(path)
            os.utime(path, (1_000_000_000 + n_files + t,) * 2)

        publish_done.clear()
        J._publish_index_batch = publish_timed
        t1 = time.perf_counter()
        try:
            maintain_near_dup_index(
                spark, src, index, os.path.join(work, "ckpt"),
                k=3, n_hashes=16, bands=16, threshold=0.5,
                n_shards=args.n_shards,
                compact_every=args.compact_every,
                max_fold_width=args.max_fold_width,
                fold_log=fold_log,
                probe_log=probe_log,
            )
        finally:
            J._publish_index_batch = orig_publish
        trickle_walls = [
            round(t_ - prev, 2)
            for prev, t_ in zip([t1] + publish_done[:-1], publish_done)
        ]
        agg2 = read_near_dup_index(spark, index).agg(
            F.count(F.lit(1)).alias("cnt"), F.sum("id").alias("s")
        ).collect()[0]
        exp_cnt = len(heads) + 500 * args.trickle
        exp_sum = sum(heads) + sum(
            10_000_000 + t * 1000 + i
            for t in range(args.trickle)
            for i in range(500)
        )
        assert agg2["cnt"] == exp_cnt, (agg2["cnt"], exp_cnt)
        assert agg2["s"] == exp_sum, (agg2["s"], exp_sum)
        trickle_exact = True
        print(
            f"[ok] trickle: {args.trickle} x 1k-doc batches vs the "
            f"{n}-doc index; retained/dropped exact; walls {trickle_walls}"
        )

    folds = [e for e in fold_log if e.get("fold")]
    # the r10->r11 headline column: bytes REWRITTEN per batch.  Under
    # the tiered policy every fold's input is bounded by its tier (and
    # sealed dirs never re-fold); the r10 full-history fold would show
    # bytes_folded_in ~= index_bytes on every compact_every-th batch.
    bytes_rewritten_per_batch = [
        next(
            (e.get("bytes_folded_in", 0) for e in fold_log
             if e["batch_id"] == b and e.get("fold")),
            0,
        )
        for b in sorted({e["batch_id"] for e in fold_log})
    ]
    # per-batch probe accounting (VERDICT r11 #3): bytes a single scan
    # of the matched shards reads, buckets + hsh, measured at probe
    # time by _probe_dup_ids — the column that makes the n_shards
    # lever's effect (or non-effect) visible instead of argued
    def _pbytes(e: dict) -> int:
        return int(e.get("bytes_buckets", 0)) + int(e.get("bytes_hsh", 0))

    bulk_probe = [e for e in probe_log if e["batch_id"] < n_files]
    trickle_probe = [e for e in probe_log if e["batch_id"] >= n_files]

    result = {
        "metric": "streaming_neardup_scale",
        "n_docs": n,
        "group": group,
        "n_tokens": args.n_tokens,
        "batches": n_files,
        "chunk": chunk,
        "n_shards": args.n_shards,
        "retained": agg["cnt"],
        "retained_id_sum_exact": True,
        "wall_s": wall,
        "batch_walls_s": batch_walls,
        "compact_every": args.compact_every,
        "max_fold_width": args.max_fold_width,
        "n_folds": len(folds),
        "bytes_rewritten_per_batch": bytes_rewritten_per_batch,
        "max_fold_bytes_in": max((e["bytes_folded_in"] for e in folds), default=0),
        "total_bytes_rewritten": sum(e["bytes_folded_in"] for e in folds),
        "bytes_appended_per_batch": [
            e.get("bytes_appended", 0) for e in fold_log
        ],
        "folds": [
            {k: e[k] for k in ("batch_id", "fold", "lo", "hi", "n_dirs",
                               "bytes_folded_in", "bytes_folded_out")}
            for e in folds
        ],
        "probe_bytes_per_batch": [_pbytes(e) for e in bulk_probe],
        "probe_shards_hit_per_batch": [
            [
                len(e["probe_shards"]) if e.get("probe_shards") is not None
                else None,
                len(e["cand_shards"]) if e.get("cand_shards") is not None
                else None,
            ]
            for e in bulk_probe
        ],
        "trickle_batches": args.trickle,
        "trickle_batch_walls_s": trickle_walls,
        "trickle_probe_bytes_per_batch": [_pbytes(e) for e in trickle_probe],
        "trickle_probe_shards_hit": [
            [
                len(e["probe_shards"]) if e.get("probe_shards") is not None
                else None,
                len(e["cand_shards"]) if e.get("cand_shards") is not None
                else None,
            ]
            for e in trickle_probe
        ],
        "trickle_retained_exact": trickle_exact,
        "docs_per_sec": round(n / wall, 1),
        "index_bytes": index_bytes,
        "live_dirs_final": len(J._published_index(spark, index)[1]),
        "loadavg": list(os.getloadavg()),
    }
    line = json.dumps(result)
    print(line)
    if args.out:
        with open(args.out, "w") as f:
            f.write(line + "\n")


if __name__ == "__main__":
    main()
