"""Probe-plan pruning evidence for the streaming near-dup index (v2
sharded layout).

VERDICT r9 graded the r9-layout index `weak` because every micro-batch's
history probe full-scanned the entire index.  The v2 layout publishes
survivors as (bucket, id) rows directory-partitioned by
``shard = pmod(bucket, n_shards)`` plus an id-sharded (id, hsh) side
table, and the probe pushes the batch's bounded shard sets down as
partition filters.  This tool PROVES the pruning from the executed
physical plan, not the design argument:

1. builds an index from several micro-batches (enough data files that
   the size-aware pruning gate engages),
2. probes it with a single-doc batch (whose band keys hit only a few
   bucket shards),
3. executes the probe and reads each parquet scan's ``numFiles`` metric
   and ``PartitionFilters`` metadata off the executed plan,
4. records scanned vs total file counts for both sub-tables.

Done = scanned < total on the buckets side with the shard filter
visible in the plan, and the probe's answer equal to the unpruned
probe's.  AQE is disabled for the evidence run only (plain plan tree to
walk); the probe result is plan-shape independent.

Usage: PYTHONPATH=. python tools/probe_plan_evidence.py
       [--n 16000] [--batches 8] [--n-shards 32] [--out PROBE_PLAN.json]
"""

from __future__ import annotations

import argparse
import json
import os
import tempfile
import time


def _walk_scans(node, out: list, seen: set) -> None:
    cname = node.getClass().getSimpleName()
    if cname == "AdaptiveSparkPlanExec":
        _walk_scans(node.executedPlan(), out, seen)
        return
    if cname == "InMemoryTableScanExec":
        # the probe persists its candidate frame: the index scans run
        # inside the cached plan, which every reader of the frame shares
        cached = node.relation().cachedPlan()
        key = cached.getClass().getName() + "@" + str(cached.hashCode())
        if key not in seen:
            seen.add(key)
            _walk_scans(cached, out, seen)
        return
    if cname == "FileSourceScanExec":
        out.append(node)
    children = node.children()
    for i in range(children.size()):
        _walk_scans(children.apply(i), out, seen)


def scan_evidence(df) -> list[dict]:
    """(path root, numFiles metric, partition-filter string) per parquet
    scan in ``df``'s EXECUTED plan."""
    qe = df._jdf.queryExecution()
    scans: list = []
    _walk_scans(qe.executedPlan(), scans, set())
    out = []
    for s in scans:
        meta = s.metadata()
        loc = str(meta.apply("Location"))
        pf = str(meta.apply("PartitionFilters")) if meta.contains("PartitionFilters") else ""
        n_files = int(s.metrics().apply("numFiles").value())
        out.append({"location": loc[:400], "num_files": n_files, "partition_filters": pf})
    return out


def count_files(root: str) -> int:
    n = 0
    for dp, _, fs in os.walk(root):
        n += sum(
            1 for f in fs if not f.startswith("_") and not f.startswith(".")
        )
    return n


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n", type=int, default=16_000)
    ap.add_argument("--group", type=int, default=10)
    ap.add_argument("--batches", type=int, default=8)
    ap.add_argument("--n-shards", type=int, default=32)
    ap.add_argument("--out", type=str, default=None)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    import gmail_etl_spark.streaming.jobs as J
    from gmail_etl_spark.operators.dedup import _banded_keys, _lsh_sigs
    from gmail_etl_spark.session import get_spark
    from gmail_etl_spark.synthetic import planted_near_dup_corpus

    spark = get_spark("probe-plan-evidence")
    spark.sparkContext.setLogLevel("ERROR")

    work = tempfile.mkdtemp(prefix="probe_plan_")
    src = os.path.join(work, "docs")
    os.makedirs(src)
    n, group = args.n, args.group
    chunk = (n // args.batches // 10) * 10 + 5  # straddle duplicate groups
    pdf = (
        planted_near_dup_corpus(spark, n, group=group, n_tokens=60)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    n_files = 0
    for i in range(0, n, chunk):
        path = os.path.join(src, f"b{n_files:04d}.parquet")
        pdf.iloc[i : i + chunk].to_parquet(path)
        os.utime(path, (1_000_000_000 + n_files,) * 2)
        n_files += 1
    index = os.path.join(work, "index")
    bands = 8
    J.maintain_near_dup_index(
        spark, src, index, os.path.join(work, "ckpt"),
        k=3, n_hashes=16, bands=bands, threshold=0.5,
        n_shards=args.n_shards,
    )

    buckets_total = count_files(index)  # all data files (both sub-tables)
    dirs = J._published_index(spark, index)[1]
    b_total = sum(count_files(f"{d}/{J._IDX_BUCKETS}") for d in dirs)
    h_total = sum(count_files(f"{d}/{J._IDX_HSH}") for d in dirs)
    gate_files = J._data_file_count(spark, dirs, J._IDX_BUCKETS, J._PRUNE_MIN_FILES)
    assert gate_files >= J._PRUNE_MIN_FILES, (
        f"pruning gate not engaged ({gate_files} files < {J._PRUNE_MIN_FILES}); "
        "raise --batches/--n-shards"
    )

    # single-doc probe: a known near-dup of a planted group head — its
    # `bands` band keys map to at most `bands` of the n_shards shards
    probe_docs = spark.createDataFrame(
        [(10_000_000, pdf.iloc[1]["text"])], "doc_id long, text string"
    )

    # probe_near_dup_index checkpoints its result, which leaves no scan
    # in the returned plan: read the plan of the pruned probe it wraps
    sigs = _lsh_sigs(probe_docs, "doc_id", "text", 3, 16, "xxhash64")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    pins: list = []
    try:
        t0 = time.perf_counter()
        probed = J._probe_dup_ids(
            spark, dirs, _banded_keys(sigs, 16, bands), sigs.select("id", "hsh"),
            0.5, None, args.n_shards, pins,
        )
        dup_ids = sorted(r["id"] for r in probed.collect())
        wall = round(time.perf_counter() - t0, 2)
        scans = scan_evidence(probed)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        for frame in pins:
            frame.unpersist()

    # unpruned cross-check: force the gate off; answers must be equal
    saved = J._PRUNE_MIN_FILES
    try:
        J._PRUNE_MIN_FILES = 10**9  # gate can never engage -> no filters
        unpruned = sorted(
            r["id"]
            for r in J.probe_near_dup_index(
                spark, index, probe_docs, k=3, n_hashes=16, bands=bands,
                threshold=0.5,
            ).collect()
        )
    finally:
        J._PRUNE_MIN_FILES = saved
    assert dup_ids == unpruned, (dup_ids, unpruned)
    assert dup_ids, "probe doc is a planted near-dup; must be flagged"

    bucket_scans = [s for s in scans if f"/{J._IDX_BUCKETS}" in s["location"]]
    hsh_scans = [s for s in scans if f"/{J._IDX_HSH}" in s["location"]]
    b_scanned = sum(s["num_files"] for s in bucket_scans)
    h_scanned = sum(s["num_files"] for s in hsh_scans)
    # the probe makes several passes over the buckets table (hot-bucket
    # count, candidate join); raw sums triple-count pruning, so also
    # report the per-pass figure (scan nodes / index dirs = passes)
    b_passes = max(1, len(bucket_scans) // len(dirs))
    h_passes = max(1, len(hsh_scans) // len(dirs))
    b_per_pass = b_scanned // b_passes
    h_per_pass = h_scanned // h_passes
    shard_filtered = sum(
        1 for s in bucket_scans + hsh_scans if "shard" in s["partition_filters"]
    )
    assert bucket_scans and shard_filtered == len(bucket_scans) + len(hsh_scans), (
        "every index scan must carry a shard partition filter",
        [s["partition_filters"] for s in scans],
    )
    assert b_scanned < b_total, (b_scanned, b_total)

    result = {
        "metric": "probe_plan_evidence",
        "n_docs": n,
        "batches": n_files,
        "n_shards": args.n_shards,
        "bands": bands,
        "index_dirs": len(dirs),
        "buckets_files_total": b_total,
        "buckets_files_scanned_per_pass": b_per_pass,
        "buckets_scan_passes": b_passes,
        "hsh_files_total": h_total,
        "hsh_files_scanned_per_pass": h_per_pass,
        "hsh_scan_passes": h_passes,
        "buckets_pruned_pct": round(100 * (1 - b_per_pass / b_total), 1),
        "hsh_pruned_pct": round(100 * (1 - h_per_pass / h_total), 1) if h_total else 0.0,
        "partition_filters": sorted(
            {s["partition_filters"] for s in bucket_scans + hsh_scans}
        ),
        "probe_dup_ids": dup_ids,
        "pruned_equals_unpruned": True,
        "probe_wall_s": wall,
        "total_index_files": buckets_total,
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
