"""Adversarial hot-bucket gate for the streaming index's PROBE-side cap.

Round 10 added a probe-side analog of ``capped_pair_candidates``'s
bound (ADVICE r9): when a micro-batch probes the persisted near-dup
index, buckets with more than ``max_bucket`` INDEX members are dropped
before the candidate expansion — otherwise one boilerplate band-key
collision cluster in a 100 TB index would expand |index-bucket| x
|batch-docs-in-bucket| candidate rows for every batch that touches it.
``tests/test_streaming.py`` pins the semantics at 600 index members;
this tool plants the adversarial regime two decades up and checks the
claims EXACTLY:

  1. BOUNDEDNESS — a 50k-member boilerplate bucket probed by 1k batch
     docs would expand 50M candidate rows uncapped; with the cap the
     candidate count equals the analytic sum over NON-hot matched
     buckets only (asserted, both counts computed analytically from
     per-bucket membership, no 50M-row materialization).
  2. CORRECTNESS — true near-dups that reach the index through COLD
     buckets are still caught under the cap; a planted dup reachable
     ONLY through the hot bucket is missed under the cap and found
     with the cap lifted — pinning that the miss is the documented
     recall sacrifice, not a detection bug.

The index is built directly through ``_publish_index_batch`` (the unit
test's construction, at scale) so membership is exact by design.

Usage: PYTHONPATH=. python tools/probe_hot_bucket_scale.py
       [--idx-n 100000] [--hot 50000] [--batch-n 1000]
       [--max-bucket 512] [--out PROBE_HOT_BUCKET_SCALE.json]
"""

from __future__ import annotations

import argparse
import json
import os
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--idx-n", type=int, default=100_000)
    ap.add_argument("--hot", type=int, default=50_000)
    ap.add_argument("--batch-n", type=int, default=1_000)
    ap.add_argument("--max-bucket", type=int, default=512)
    ap.add_argument("--n-shards", type=int, default=16)
    ap.add_argument("--out", type=str, default=None)
    args = ap.parse_args()

    import tempfile

    from pyspark.sql import functions as F

    import gmail_etl_spark.streaming.jobs as J
    from gmail_etl_spark.session import get_spark

    spark = get_spark("probe-hot-bucket-scale")
    spark.sparkContext.setLogLevel("ERROR")
    idx_n, hot_n, batch_n = args.idx_n, args.hot, args.batch_n
    HOT = 777_777  # the boilerplate band bucket

    # index: ids [0, idx_n); the first hot_n share the HOT bucket (plus a
    # unique bucket each), the rest carry two unique buckets; every id
    # has a DISTINCT 8-hash verify set (no true dups inside the index)
    ids = spark.range(idx_n)
    hsh_of = lambda col: F.array(
        *[F.xxhash64(col, F.lit(j)) for j in range(8)]
    )
    idx_buckets = (
        ids.filter(F.col("id") < hot_n)
        .select(F.lit(HOT).alias("bucket"), "id")
        .unionByName(ids.select((F.lit(1_000_000) + F.col("id")).alias("bucket"), "id"))
    )
    idx_hsh = ids.select("id", hsh_of(F.col("id")).alias("hsh"))

    work = tempfile.mkdtemp(prefix="probe_hot_")
    index = os.path.join(work, "index")
    # the engine's layout-3 _META at the maintainer's default LSH shape
    # (the hand-built buckets above never go through a signature)
    J._write_index_meta(
        spark, index,
        {"layout": 3, "n_shards": args.n_shards, "k": 3, "n_hashes": 16,
         "bands": 8, "hash_family": "xxhash64"},
    )
    J._publish_index_batch(
        spark, index, idx_buckets, idx_hsh, 0, n_shards=args.n_shards
    )
    dirs = J._published_index(spark, index)[1]
    assert len(dirs) == 1

    # probe batch: ids [10M, 10M + batch_n); EVERY batch doc carries the
    # HOT bucket plus one unique bucket.  Planted truths:
    #   * docs 0..9   -> also carry index doc i's unique COLD bucket and
    #     ITS verify set (J=1): must be caught under the cap
    #   * doc batch_n-1 -> carries index doc 5's verify set (a HOT
    #     member) but does NOT carry doc 5's cold bucket, so the hot
    #     bucket is its only link: missed under the cap, found with the
    #     cap lifted (its own unique bucket matches nothing)
    b = spark.range(batch_n).select((F.lit(10_000_000) + F.col("id")).alias("id"),
                                    F.col("id").alias("i"))
    bkeys = (
        b.select("id", F.lit(HOT).alias("bucket"))
        .unionByName(b.select("id", (F.lit(2_000_000) + F.col("i")).alias("bucket")))
        .unionByName(
            b.filter(F.col("i") < 10).select(
                "id", (F.lit(1_000_000) + F.col("i")).alias("bucket")
            )
        )
    )
    b_hsh = b.select(
        "id",
        F.when(F.col("i") < 10, hsh_of(F.col("i")))
        .when(F.col("i") == batch_n - 1, hsh_of(F.lit(5).cast("long")))
        .otherwise(hsh_of(F.col("id")))
        .alias("hsh"),
    )

    # analytic candidate counts from per-bucket membership (no expansion)
    idx_counts = idx_buckets.groupBy("bucket").agg(F.count(F.lit(1)).alias("ni"))
    b_counts = bkeys.groupBy("bucket").agg(F.count(F.lit(1)).alias("nb"))
    joined = idx_counts.join(b_counts, "bucket")
    sums = joined.agg(
        F.sum(F.col("ni") * F.col("nb")).alias("uncapped"),
        F.sum(
            F.when(F.col("ni") <= args.max_bucket, F.col("ni") * F.col("nb"))
            .otherwise(F.lit(0))
        ).alias("capped"),
    ).collect()[0]
    uncapped, capped = int(sums["uncapped"]), int(sums["capped"])
    # hot bucket contributes hot_n * batch_n; cold: 10 one-to-one links
    assert uncapped == hot_n * batch_n + 10, uncapped
    assert capped == 10, capped

    def probe(max_bucket: int) -> list[int]:
        pins: list = []
        try:
            return sorted(
                r["id"]
                for r in J._probe_dup_ids(
                    spark, dirs, bkeys, b_hsh, 0.5, max_bucket, args.n_shards, pins
                ).collect()
            )
        finally:
            for frame in pins:
                frame.unpersist()

    t0 = time.perf_counter()
    got = probe(args.max_bucket)
    wall_capped = round(time.perf_counter() - t0, 2)
    expect_capped = [10_000_000 + i for i in range(10)]
    assert got == expect_capped, (got[:12], len(got))

    t0 = time.perf_counter()
    got_uncapped = probe(10**9)
    wall_uncapped = round(time.perf_counter() - t0, 2)
    expect_uncapped = expect_capped + [10_000_000 + batch_n - 1]
    assert got_uncapped == expect_uncapped, (got_uncapped[:12], len(got_uncapped))

    result = {
        "metric": "probe_hot_bucket_scale",
        "index_docs": idx_n,
        "hot_bucket_members": hot_n,
        "batch_docs": batch_n,
        "max_bucket": args.max_bucket,
        "uncapped_candidates_analytic": uncapped,
        "capped_candidates_analytic": capped,
        "capped_dup_ids_exact": True,
        "hot_only_dup_missed_capped_found_uncapped": True,
        "wall_capped_s": wall_capped,
        "wall_uncapped_s": wall_uncapped,
        "loadavg": list(os.getloadavg()),
    }
    line = json.dumps(result)
    print(line)
    if args.out:
        with open(args.out, "w") as f:
            f.write(line + "\n")

    import shutil

    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
