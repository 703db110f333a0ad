"""Capture .explain("formatted") for every bench entry (r12 optimization
round evidence) and optionally time each with the noop sink.

Writes plans/r12/<entry>_<tag>.txt for the 7 headline catalog queries
plus the three synthetic bench entries (gmail_pipeline_20k_msgs,
knn_100k_vectorized, near_dedup_100k_docs — their *final* pre-readout
DataFrames).

Usage: PYTHONPATH=. python tools/bench_plans_r12.py --tag before [--time]
"""

from __future__ import annotations

import argparse
import os
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--tag", default="before")
    ap.add_argument("--time", action="store_true", help="noop-sink timings")
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--only", default=None, help="comma-separated entry filter")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from gmail_etl_spark.plans.catalog import CATALOG, _ensure_loaded
    from gmail_etl_spark.session import get_spark

    _ensure_loaded()
    spark = get_spark("bench-plans-r12")
    spark.sparkContext.setLogLevel("ERROR")
    sf_dir = args.sf_dir
    outdir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r12")
    os.makedirs(outdir, exist_ok=True)

    entries: dict[str, object] = {}
    for name, cq in sorted(CATALOG.items()):
        if cq.headline:
            entries[name] = lambda cq=cq: cq.builder(spark, sf_dir)

    # the three synthetic bench entries, same construction as bench.py
    from gmail_etl_spark.operators.dedup import (
        connected_components,
        minhash_lsh_pairs,
    )
    from gmail_etl_spark.operators.similarity import cosine_topk_vectorized
    from gmail_etl_spark.pipeline import transform_stage1
    from gmail_etl_spark.sources.fixtures import fixture_raw_df
    from gmail_etl_spark.synthetic import planted_near_dup_corpus

    corpus = (
        fixture_raw_df(spark)
        .crossJoin(spark.range(2000).select(F.col("id").alias("_rep")))
        .withColumn("id", F.concat_ws("-", "id", "_rep"))
        .drop("_rep")
    )
    entries["gmail_pipeline_20k_msgs"] = lambda: transform_stage1(corpus)

    emb = (
        spark.range(100_000)
        .select(
            F.col("id").alias("vec_id"),
            F.transform(
                F.sequence(F.lit(0), F.lit(63)),
                lambda j: F.pmod(F.xxhash64(F.col("id"), j), F.lit(1000)) / 500.0 - 1.0,
            ).alias("embedding"),
        )
        .repartition(32)
        .cache()
    )
    emb.count()
    entries["knn_100k_vectorized"] = lambda: cosine_topk_vectorized(
        emb.filter(F.col("vec_id") < 8), emb, k=10
    )

    docs = planted_near_dup_corpus(spark, 100_000).cache()
    docs.count()

    def _near_dedup_df():
        pairs = minhash_lsh_pairs(
            docs, "doc_id", "text", k=3, n_hashes=16, bands=8, threshold=0.5,
            broadcast_verify=True,
        )
        return connected_components(
            pairs.select(F.col("a_id").alias("u"), F.col("b_id").alias("v")),
            canonical_input=True,
        ).select("component").distinct()

    # NOTE: connected_components EXECUTES jobs at build time (iterative
    # localCheckpoint rounds), so its "plan" is the final star-forest
    # readout plan; the before/after evidence for the iterative body is
    # the per-layer timing of ``perfbench/run.py --trace 1`` (span
    # operators.dedup.connected_components).
    entries["near_dedup_100k_docs"] = _near_dedup_df

    only = set(args.only.split(",")) if args.only else None
    for name, build in entries.items():
        if only and name not in only:
            continue
        spark.sparkContext.setJobDescription(f"r12-plan:{name}")
        df = build()
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(outdir, f"{name}_{args.tag}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        line = f"{name}: plan -> {path}"
        if args.time:
            df.write.format("noop").mode("overwrite").save()  # warm
            best = float("inf")
            for _ in range(3):
                t0 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                best = min(best, time.perf_counter() - t0)
            line += f"  noop_best3={best:.3f}s"
        print(line, flush=True)
        spark.sparkContext.setJobDescription(None)


if __name__ == "__main__":
    main()
