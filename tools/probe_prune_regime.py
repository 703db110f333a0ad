"""Shard-pruning regime map for the near-dup index probe (VERDICT r11
#3 follow-through): the 2M-doc scale legs show a 1,000-doc trickle
batch hits ALL shards at both n_shards=16 and 64 — with ``bands`` band
keys per doc, a batch saturates the shard space once
``|batch| * bands >> n_shards``, so raising ``n_shards`` cannot cut
probe bytes in that regime (the same regime-honesty result
PROBE_BYTES_r11 recorded for the packed-vs-sharded layout).  The
lever's REAL regime is the few-doc probe — per-document
decontamination lookups, dedup-on-ingest of single documents — where
a doc's ``bands`` band keys map to at most ``bands`` of ``n_shards``
shards and pruning skips the rest.

This tool probes two ALREADY-BUILT indexes of the same corpus (one per
shard count) with batches of 1 / 10 / 100 / 1000 docs and records, per
(n_shards, batch_size): shards hit, bytes one scan of the matched
bucket shards reads, and wall — the artifact that maps WHERE the
n_shards lever pays.

Usage:
  PYTHONPATH=. python tools/probe_prune_regime.py \
      --index LABEL=PATH [--index LABEL=PATH ...] \
      --docs-src DIR_WITH_CORPUS_PARQUET \
      [--batch-sizes 1,10,100,1000] [--repeats 3] [--out OUT.json]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--index", action="append", required=True,
        help="LABEL=PATH of a built index (repeatable)",
    )
    ap.add_argument(
        "--docs-src", required=True,
        help="parquet dir of the corpus the indexes were built from "
        "(dup probe texts are drawn from it)",
    )
    ap.add_argument("--batch-sizes", default="1,10,100,1000")
    ap.add_argument("--repeats", type=int, default=3)
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    import pandas as pd

    import gmail_etl_spark.streaming.jobs as J
    from gmail_etl_spark.operators.dedup import _banded_keys, _lsh_sigs
    from gmail_etl_spark.session import get_spark

    spark = get_spark("probe-prune-regime")
    spark.sparkContext.setLogLevel("ERROR")
    sizes = [int(s) for s in args.batch_sizes.split(",")]

    # dup texts: one corpus file is enough — every corpus doc's group
    # head is retained, so any corpus text must flag as a near-dup
    one_file = sorted(
        f for f in os.listdir(args.docs_src) if f.endswith(".parquet")
    )[0]
    src = pd.read_parquet(os.path.join(args.docs_src, one_file)).head(
        max(sizes)
    )

    results = []
    for spec in args.index:
        label, path = spec.split("=", 1)
        meta, dirs = J._published_index(spark, path)
        n_shards = int(meta["n_shards"])
        k, n_hashes, bands = (
            int(meta["k"]), int(meta["n_hashes"]), int(meta["bands"])
        )
        index_bucket_bytes = J._bytes_under(
            spark, [f"{d.rstrip('/')}/{J._IDX_BUCKETS}" for d in dirs]
        )
        for size in sizes:
            n_dup = max(1, size // 2)
            walls, bytes_b, shards_hit, flagged_ok = [], [], [], True
            for rep in range(args.repeats):
                dup = pd.DataFrame(
                    {
                        "doc_id": [
                            900_000_000 + rep * 10_000 + i
                            for i in range(n_dup)
                        ],
                        "text": src["text"].iloc[:n_dup].tolist(),
                    }
                )
                novel = pd.DataFrame(
                    {
                        "doc_id": [
                            910_000_000 + rep * 10_000 + i
                            for i in range(size - n_dup)
                        ],
                        "text": [
                            " ".join(
                                f"prr{rep}s{size}x{i}y{j}"
                                for j in range(60)
                            )
                            for i in range(size - n_dup)
                        ],
                    }
                )
                probe = spark.createDataFrame(
                    pd.concat([dup, novel], ignore_index=True)
                )
                sigs = _lsh_sigs(
                    probe, "doc_id", "text", k, n_hashes,
                    str(meta.get("hash_family", "xxhash64")),
                )
                bkeys = _banded_keys(sigs, n_hashes, bands)
                stats: dict = {}
                pins: list = []
                t0 = time.perf_counter()
                try:
                    got = {
                        r["id"]
                        for r in J._probe_dup_ids(
                            spark, dirs, bkeys,
                            sigs.select("id", "hsh"),
                            0.5, None, n_shards,
                            pins=pins, stats=stats,
                        ).collect()
                    }
                finally:
                    for fr in pins:
                        fr.unpersist()
                walls.append(time.perf_counter() - t0)
                # every dup must flag, no novel may (exactness first)
                want = set(dup["doc_id"])
                flagged_ok = flagged_ok and got == want
                bytes_b.append(stats.get("bytes_buckets", 0))
                ps = stats.get("probe_shards")
                shards_hit.append(len(ps) if ps is not None else n_shards)
            results.append(
                {
                    "index": label,
                    "n_shards": n_shards,
                    "index_bucket_bytes": index_bucket_bytes,
                    "batch_size": size,
                    "exact": flagged_ok,
                    "shards_hit": shards_hit,
                    "bytes_buckets": bytes_b,
                    "bytes_buckets_frac_of_index": round(
                        statistics.median(bytes_b) / index_bucket_bytes, 4
                    ),
                    "wall_s": [round(w, 2) for w in walls],
                    "wall_s_median": round(statistics.median(walls), 2),
                }
            )
            print(f"[ok] {results[-1]}")

    out = {
        "metric": "probe_prune_regime",
        "docs_src": args.docs_src,
        "repeats": args.repeats,
        "rows": results,
        "loadavg": list(os.getloadavg()),
    }
    print(json.dumps(out))
    if args.out:
        with open(args.out, "w") as f:
            json.dump(out, f, indent=1)
        print(f"wrote {args.out}")


if __name__ == "__main__":
    main()
