"""ANN scaling series: planted-center embedding corpus at N vectors,
time exact brute-force top-k (the cosine_topk_vectorized baseline)
against IVF index build + probed query, and report recall@k vs exact.

Mirrors tools/near_dedup_scale.py's role for the similarity-search
surface: same synthetic corpus module (gmail_etl_spark/synthetic.py),
so the per-decade scaling shape (100k -> 1M -> ...) stays comparable
round over round.

Ground truth is structural: the corpus plants n_cells well-separated
centers and vector i belongs to center (i mod n_cells), so quantizer
quality is checkable exactly (planted-agreement) on top of the
recall@k-vs-brute-force measurement.

Usage:
    PYTHONPATH=. python tools/ann_scale.py --n 1000000 \
        [--dim 64] [--cells 256] [--nprobe 8] [--n-queries 100] \
        [--k 10] [--partitions 64] [--keep-index]
"""

from __future__ import annotations

import argparse
import shutil
import tempfile
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n", type=int, default=1_000_000)
    ap.add_argument("--dim", type=int, default=64)
    ap.add_argument("--cells", type=int, default=256)
    ap.add_argument("--nprobe", type=int, default=8)
    ap.add_argument("--n-queries", type=int, default=100)
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--iters", type=int, default=2)
    ap.add_argument("--partitions", type=int, default=64)
    ap.add_argument("--keep-index", action="store_true")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from gmail_etl_spark.operators.similarity import (
        cosine_topk_vectorized,
        query_ivf_index,
        save_ivf_index,
        train_kmeans,
    )
    from gmail_etl_spark.session import get_spark
    from gmail_etl_spark.synthetic import planted_embedding_corpus

    spark = get_spark("ann-scale")
    spark.sparkContext.setLogLevel("ERROR")

    t0 = time.time()
    corpus_full = planted_embedding_corpus(
        spark, args.n, dim=args.dim, n_centers=args.cells,
        partitions=args.partitions,
    ).cache()
    corpus = corpus_full.select("vec_id", "embedding")
    n = corpus_full.count()
    t_gen = time.time() - t0
    print(f"corpus: {n} vectors dim={args.dim} ({t_gen:.1f}s)", flush=True)

    stride = max(1, args.n // args.n_queries)
    queries = corpus.filter(F.col("vec_id") % stride == 0).cache()
    nq = queries.count()

    # exact brute-force baseline
    t0 = time.time()
    exact = (
        cosine_topk_vectorized(queries, corpus, k=args.k)
        .select("query_id", "neighbor_id")
        .collect()
    )
    t_exact = time.time() - t0
    truth: dict = {}
    for r in exact:
        truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    print(f"exact top-{args.k}: {nq} queries in {t_exact:.1f}s", flush=True)

    # IVF build + planted-agreement audit
    path = tempfile.mkdtemp(prefix="ann_scale_") + "/ivf"
    t0 = time.time()
    save_ivf_index(spark, corpus, path, k_cells=args.cells, iters=args.iters)
    t_build = time.time() - t0
    assign, _ = train_kmeans(corpus, k=args.cells, iters=args.iters)
    agree = (
        assign.join(corpus_full, assign["id"] == corpus_full["vec_id"])
        .filter(F.col("cluster") == F.col("center"))
        .count()
    )
    print(
        f"ivf build: {t_build:.1f}s  cells={args.cells} "
        f"planted-agreement {agree}/{n} ({100.0 * agree / n:.2f}%)",
        flush=True,
    )

    # probed query
    t0 = time.time()
    got = (
        query_ivf_index(spark, path, queries, k=args.k, nprobe=args.nprobe)
        .select("query_id", "neighbor_id")
        .collect()
    )
    t_query = time.time() - t0
    found: dict = {}
    for r in got:
        found.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recalls = [
        len(truth[q] & found.get(q, set())) / max(1, len(truth[q]))
        for q in truth
    ]
    recall = sum(recalls) / len(recalls)
    print(
        f"ivf query: {nq} queries nprobe={args.nprobe}/{args.cells} in "
        f"{t_query:.1f}s  recall@{args.k}={recall:.4f}",
        flush=True,
    )
    print(
        f"SUMMARY n={n} dim={args.dim} cells={args.cells} "
        f"nprobe={args.nprobe} gen={t_gen:.1f}s exact={t_exact:.1f}s "
        f"build={t_build:.1f}s query={t_query:.1f}s recall={recall:.4f} "
        f"agreement={100.0 * agree / n:.2f}%",
        flush=True,
    )
    if not args.keep_index:
        shutil.rmtree(path.rsplit("/", 1)[0], ignore_errors=True)
    assert recall >= 0.95, f"recall@{args.k} {recall} below 0.95 gate"


if __name__ == "__main__":
    main()
