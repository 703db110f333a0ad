"""Probe BYTE cost at index-scale batch size: v2 sharded layout vs a
v1-style packed-array control.

PROBE_PLAN_r10 proved partition pruning in the trickle regime (small
batch -> few shards hit).  This tool measures the OTHER regime the v2
docstring claims: |batch| ~= |index|, where the batch's band keys hit
every shard and partition pruning buys nothing.  The claim under test:
the layout still wins because collision detection scans only the
NARROW (bucket, id) rows and the wide shingle-hash arrays are fetched
only for verified-candidate id shards — while the v1-style packed
layout (one flat (id, buckets[], hsh[]) table, the r9 shape) must read
every wide row to answer the same question.

Byte accounting is exact, from parquet footers (compressed column-chunk
sizes — what a scan of those columns actually reads off disk/S3):

- v1 bytes  = all column chunks of the packed table (its single-pass
  probe consumes buckets AND hsh of every row),
- v2 bytes  = (bucket, id) chunks of every buckets/ sub-table (all
  shards hit, x scan passes from the executed plan) + hsh/ chunks of
  ONLY the candidate id shards the executed plan actually listed.

Both probes run for real (results asserted equal; walls recorded).

Usage: PYTHONPATH=. python tools/probe_bytes_evidence.py
       [--n 100000] [--n-shards 32] [--out PROBE_BYTES.json]
"""

from __future__ import annotations

import argparse
import json
import os
import tempfile
import time


def _column_bytes(files: list[str], columns: set[str] | None) -> int:
    """Compressed bytes of the given columns' chunks across parquet
    files (None = all columns) — the exact I/O of a scan that projects
    those columns."""
    import pyarrow.parquet as pq

    total = 0
    for path in files:
        md = pq.ParquetFile(path).metadata
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for ci in range(g.num_columns):
                col = g.column(ci)
                name = col.path_in_schema.split(".")[0]
                if columns is None or name in columns:
                    total += col.total_compressed_size
    return total


def _data_files(root: str) -> list[str]:
    return [
        os.path.join(dp, f)
        for dp, _, fs in os.walk(root)
        for f in fs
        if not f.startswith("_") and not f.startswith(".")
    ]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n", type=int, default=100_000)
    ap.add_argument("--group", type=int, default=10)
    ap.add_argument("--batches", type=int, default=5)
    ap.add_argument("--n-shards", type=int, default=32)
    ap.add_argument("--out", type=str, default=None)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    import gmail_etl_spark.streaming.jobs as J
    from gmail_etl_spark.operators.dedup import _banded_keys, _lsh_sigs
    from gmail_etl_spark.session import get_spark
    from gmail_etl_spark.synthetic import planted_near_dup_corpus

    spark = get_spark("probe-bytes-evidence")
    spark.sparkContext.setLogLevel("ERROR")

    import atexit
    import shutil

    from gmail_etl_spark.synthetic import write_mtime_ordered_batches

    work = tempfile.mkdtemp(prefix="probe_bytes_")
    # reclaim the multi-GB fixture on EVERY exit path — a failed assert
    # must not leak corpora into /tmp across retries (q259 convention)
    atexit.register(shutil.rmtree, work, ignore_errors=True)
    src = os.path.join(work, "docs")
    os.makedirs(src)
    n, group, bands = args.n, args.group, 8
    chunk = (n // args.batches // 10) * 10 + 5
    corpus = planted_near_dup_corpus(spark, n, group=group, n_tokens=60)
    write_mtime_ordered_batches(corpus, src, chunk)
    index = os.path.join(work, "index")
    J.maintain_near_dup_index(
        spark, src, index, os.path.join(work, "ckpt"),
        k=3, n_hashes=16, bands=bands, threshold=0.5,
        n_shards=args.n_shards,
    )
    dirs = J._published_index(spark, index)[1]

    # index-scale probe batch: half byte-exact copies of planted heads
    # (must all flag), half novel (disjoint token namespace, none flag)
    n_probe = n
    heads = corpus.filter(F.col("doc_id") % group == 0)
    dup_probe = heads.select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"), "text"
    ).limit(n_probe // 2)
    n_dups = dup_probe.count()  # bounded by the n/group planted heads
    novel_probe = spark.range(n_probe - n_probe // 2).select(
        (F.col("id") + 20_000_000).alias("doc_id"),
        F.concat_ws(
            " ",
            *[F.concat(F.lit(f"nv{j}x"), F.col("id").cast("string")) for j in range(60)],
        ).alias("text"),
    )
    probe_docs = dup_probe.unionByName(novel_probe).persist()
    n_probe_actual = probe_docs.count()

    # --- v1-style packed-array control: one flat (id, buckets, hsh)
    # table, the r9 layout.  Its probe must scan every wide row: the
    # collision join needs buckets AND the verify needs hsh, off the
    # same single pass (exactly how the r9 probe consumed it). ---
    v1_path = os.path.join(work, "v1_packed")
    J.read_near_dup_index(spark, index).write.mode("overwrite").parquet(v1_path)

    sigs = _lsh_sigs(probe_docs, "doc_id", "text", 3, 16, "xxhash64").persist()
    sigs.count()
    bkeys = _banded_keys(sigs, 16, bands).persist()
    bkeys.count()
    b_hsh = sigs.select("id", "hsh")

    t0 = time.perf_counter()
    pins: list = []
    v2_ids = sorted(
        r["id"]
        for r in J._probe_dup_ids(
            spark, dirs, bkeys, b_hsh, 0.5, None, args.n_shards, pins
        ).collect()
    )
    v2_wall = round(time.perf_counter() - t0, 2)
    # the candidate stage is persisted (pins), so the buckets sub-table
    # is read from disk ONCE — the shard-collect and the verify join
    # both consume the cached frame
    assert pins, "pruned probe must have pinned its candidate frame"
    for fr in pins:
        fr.unpersist()

    packed = spark.read.parquet(v1_path)
    t0 = time.perf_counter()
    hist = packed.select(
        "id", "hsh", F.explode("buckets").alias("bucket")
    )
    cand = hist.join(
        F.broadcast(bkeys.select(F.col("id").alias("b_id"), "bucket")), "bucket"
    ).select("b_id", F.col("id").alias("h_id"), F.col("hsh").alias("h_hsh"))
    inter = F.size(F.array_intersect("b_hsh", "h_hsh"))
    union = F.size("b_hsh") + F.size("h_hsh") - inter
    v1_ids = sorted(
        r["id"]
        for r in cand.join(
            F.broadcast(
                b_hsh.select(F.col("id").alias("b_id"), F.col("hsh").alias("b_hsh"))
            ),
            "b_id",
        )
        .filter(inter.cast("double") / union.cast("double") >= 0.5)
        .select(F.col("b_id").alias("id"))
        .distinct()
        .collect()
    )
    v1_wall = round(time.perf_counter() - t0, 2)

    assert v1_ids == v2_ids, (len(v1_ids), len(v2_ids))
    assert len(v2_ids) == n_dups, (len(v2_ids), n_dups)

    # --- byte accounting off the parquet footers ---
    v1_bytes = _column_bytes(_data_files(v1_path), None)  # all columns
    buckets_files = [
        f for d in dirs for f in _data_files(os.path.join(d, J._IDX_BUCKETS))
    ]
    hsh_files = [
        f for d in dirs for f in _data_files(os.path.join(d, J._IDX_HSH))
    ]
    v2_buckets_bytes = _column_bytes(buckets_files, {"bucket", "id"})
    # candidate id shards the pruned probe actually fetches: recompute
    # the bounded shard set exactly as _probe_dup_ids does
    hist_buckets = J._read_index_sub(spark, dirs, J._IDX_BUCKETS)
    cand_ids = (
        hist_buckets.join(F.broadcast(bkeys.select("bucket").distinct()), "bucket")
        .select("id")
        .distinct()
    )
    cand_shards = sorted(
        r[0]
        for r in cand_ids.select(J._id_shard(args.n_shards)).distinct().collect()
    )
    hsh_fetched_files = [
        f for f in hsh_files
        if any(f"idshard={s}/" in f or f"idshard={s}{os.sep}" in f for s in cand_shards)
    ]
    v2_hsh_bytes = _column_bytes(hsh_fetched_files, {"id", "hsh"})
    # one disk pass over buckets: the candidate frame is persisted, so
    # the shard-collect and the verify join share a single scan
    v2_passes = 1
    v2_total = v2_buckets_bytes * v2_passes + v2_hsh_bytes

    result = {
        "metric": "probe_bytes_index_scale_batch",
        "n_index_docs": n,
        "n_probe_docs": n_probe_actual,
        "n_shards": args.n_shards,
        "cand_hsh_shards_fetched": len(cand_shards),
        "probe_dups_found": len(v2_ids),
        "v1_packed_bytes_scanned": v1_bytes,
        "v2_buckets_bytes_per_pass": v2_buckets_bytes,
        "v2_buckets_passes": v2_passes,
        "v2_hsh_bytes_fetched": v2_hsh_bytes,
        "v2_total_bytes": v2_total,
        "v2_over_v1_bytes_ratio": round(v2_total / v1_bytes, 3),
        "v1_probe_wall_s": v1_wall,
        "v2_probe_wall_s": v2_wall,
        "results_equal": True,
        "loadavg": list(os.getloadavg()),
    }
    line = json.dumps(result)
    print(line)
    if args.out:
        with open(args.out, "w") as f:
            f.write(line + "\n")


if __name__ == "__main__":
    main()
