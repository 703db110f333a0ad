"""Near-dup index listing/planning cost vs LIVE-DIR count (VERDICT r11
#2): under the tiered fold policy sealed ``_m`` dirs accrete ~1 per
``fanout * max_fold_width`` batches (defaults: 1 per 4,096), so a
long-lived index eventually holds 100+ live dirs that every probe must
list and every publish must re-plan.  The r11 analysis called this
bounded; nothing measured it.  This tool synthesizes an index of N
SEALED width-``max_fold_width`` ``_m`` dirs (tiny real data per dir —
the cost under test is listing/planning, not scan bytes), checkpoints
at several live-dir counts, and at each runs trickle probes recording:

* ``listing_ms``  — ``_index_entries`` wall (the one-scan live-set
  derivation every reader and publisher starts from),
* ``plan_ms``     — ``_plan_index_fold`` over the live list (the
  per-publish planning cost),
* ``probe_wall_s``— a full 100-doc ``probe_near_dup_index`` including
  Spark's own file listing over all live dirs.

Usage: PYTHONPATH=. python tools/index_listing_scale.py
       [--max-dirs 128] [--checkpoints 8,32,64,128] [--probes 10]
       [--out INDEX_LISTING_SCALE.json]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import tempfile
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--max-dirs", type=int, default=128)
    ap.add_argument("--checkpoints", type=str, default="8,32,64,128")
    ap.add_argument("--probes", type=int, default=10)
    ap.add_argument("--docs-per-dir", type=int, default=40)
    ap.add_argument("--n-shards", type=int, default=16)
    ap.add_argument("--out", type=str, default=None)
    args = ap.parse_args()

    import atexit
    import shutil

    import pandas as pd

    import gmail_etl_spark.streaming.jobs as J
    from gmail_etl_spark.operators.dedup import _banded_keys, _lsh_sigs
    from gmail_etl_spark.session import get_spark

    spark = get_spark("index-listing-scale")
    spark.sparkContext.setLogLevel("ERROR")

    work = tempfile.mkdtemp(prefix="idx_listing_")
    atexit.register(shutil.rmtree, work, ignore_errors=True)
    index = os.path.join(work, "index")

    fanout, max_width = 16, 256
    k, n_hashes, bands = 3, 16, 8
    J._write_index_meta(
        spark, index,
        {"layout": 3, "n_shards": args.n_shards, "k": k,
         "n_hashes": n_hashes, "bands": bands, "hash_family": "xxhash64"},
    )

    def _docs_df(lo_id: int, n: int, tag: str):
        return spark.createDataFrame(
            pd.DataFrame(
                {
                    "doc_id": [lo_id + i for i in range(n)],
                    "text": [
                        " ".join(f"{tag}d{lo_id + i}t{j}" for j in range(20))
                        for i in range(n)
                    ],
                }
            )
        )

    checkpoints = sorted(int(x) for x in args.checkpoints.split(","))
    assert checkpoints[-1] <= args.max_dirs
    results = []
    n_dirs = 0
    t_build0 = time.perf_counter()
    for target in checkpoints:
        while n_dirs < target:
            lo = n_dirs * max_width
            hi = lo + max_width - 1
            # each sealed dir holds a disjoint token namespace — real
            # sharded parquet in the exact production layout, tiny rows
            sigs = _lsh_sigs(
                _docs_df(lo * 1000, args.docs_per_dir, f"s{n_dirs}x"),
                "doc_id", "text", k, n_hashes, "xxhash64",
            )
            J._write_index_tables(
                spark,
                f"{index}/_m{lo:015d}_{hi:015d}",
                _banded_keys(sigs, n_hashes, bands),
                sigs.select("id", "hsh"),
                args.n_shards,
            )
            n_dirs += 1
            J._publish_head(spark, index, hi)
        head = n_dirs * max_width - 1

        listing_ms, plan_ms, probe_walls = [], [], []
        live = None
        for p in range(args.probes):
            t0 = time.perf_counter()
            entries, live = J._index_entries(spark, index, head)
            listing_ms.append((time.perf_counter() - t0) * 1000)
            t0 = time.perf_counter()
            plan = J._plan_index_fold(live, fanout, max_width)
            plan_ms.append((time.perf_counter() - t0) * 1000)
            assert plan is None, plan  # sealed: a fold here = bug
            # trickle probe: byte-copies of dir 0's docs (every one must
            # flag) + novel docs (none may) — correctness asserted,
            # wall recorded
            n_copy = args.docs_per_dir
            probe = _docs_df(0, n_copy, "s0x").union(
                _docs_df(90_000_000 + p * 1000, 100 - n_copy, f"novelp{p}x")
            ).withColumn("doc_id", _F_col_bump(p))
            t0 = time.perf_counter()
            flagged = J.probe_near_dup_index(spark, index, probe).count()
            probe_walls.append(round(time.perf_counter() - t0, 3))
            assert flagged == n_copy, (flagged, n_copy)
        n_files = sum(
            len(fs)
            for _, _, fs in os.walk(index)
        )
        results.append(
            {
                "live_dirs": len(live),
                "head": head,
                "total_files": n_files,
                "listing_ms": round(statistics.mean(listing_ms), 1),
                "listing_ms_min": round(min(listing_ms), 1),
                "plan_ms": round(statistics.mean(plan_ms), 3),
                "probe_wall_s": [round(w, 2) for w in probe_walls],
                "probe_wall_s_median": round(statistics.median(probe_walls), 2),
            }
        )
        print(f"[ok] {len(live)} live dirs: {results[-1]}")

    out = {
        "metric": "index_listing_scale",
        "fanout": fanout,
        "max_fold_width": max_width,
        "n_shards": args.n_shards,
        "docs_per_dir": args.docs_per_dir,
        "probes_per_checkpoint": args.probes,
        "build_wall_s": round(time.perf_counter() - t_build0, 1),
        "checkpoints": results,
        "loadavg": list(os.getloadavg()),
    }
    print(json.dumps(out))
    if args.out:
        with open(args.out, "w") as f:
            json.dump(out, f, indent=1)
        print(f"wrote {args.out}")


def _F_col_bump(p: int):
    """Unique probe doc_ids per iteration (dup copies keep distinct ids
    from the indexed originals so the flag decision is the LSH match,
    never an id collision)."""
    from pyspark.sql import functions as F

    return F.col("doc_id") + F.lit(80_000_000 + p * 100_000)


if __name__ == "__main__":
    main()
