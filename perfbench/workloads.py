"""The three workloads: one untraced pass, its correctness gate, and the
traced pass that splits it into layers.

A pass calls the program only through its public functions and ends in a
parquet sink write, so the optimizer cannot prune any of its work.  The
gate reads the written files with pyarrow, independently of Spark, and
compares them with what the generator planted.
"""

from __future__ import annotations

import gc
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow.dataset as pads
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gmail_etl_spark import pipeline
from gmail_etl_spark.functions.dates import fuzzy_parse_ts
from gmail_etl_spark.functions.html import html_to_text, plain_text_no_markup
from gmail_etl_spark.functions.scalar import (
    body_text_fixed_depth,
    clean_date_header,
    header_map,
    lenient_timestamp_cleaned,
    parse_sender,
)
from gmail_etl_spark.functions.vendor import INDEED_SENDER, extract_indeed
from gmail_etl_spark.operators.dedup import minhash_lsh_pairs, near_dedup
from gmail_etl_spark.operators.similarity import cosine_topk_vectorized

import gen

#: bench.py's near_dedup parameters.
NEAR_PARAMS = dict(k=3, n_hashes=16, bands=8, threshold=0.5, broadcast_verify=True)


def materialize(df: DataFrame) -> int:
    """Run ``df`` to completion and return its row count.  Every column
    feeds an xxhash64 that bit_xor consumes, so no column can be pruned
    (a bare count() over a projection is a dead plan)."""
    row = df.select(F.xxhash64(*df.columns).alias("_h")).agg(
        F.count(F.lit(1)).alias("n"), F.bit_xor("_h").alias("x")
    ).collect()[0]
    return int(row["n"])


def read_output(path: str) -> pd.DataFrame:
    return pads.dataset(path, format="parquet").to_table().to_pandas()


def output_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(path, f))
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )


def output_rows(path: str) -> int:
    return pads.dataset(path, format="parquet").count_rows()


def checksum(df: pd.DataFrame) -> str:
    """Order-insensitive checksum of a table's rows."""
    h = pd.util.hash_pandas_object(df[sorted(df.columns)], index=False).to_numpy()
    return f"{len(df)}:{int(h.sum(dtype=np.uint64)):016x}:{int(np.bitwise_xor.reduce(h)):016x}"


class Workload:
    name = ""
    #: why the workload is in the benchmark (as in BENCHMARK.json)
    why = ""

    def __init__(self, spark, seed: int, root: str) -> None:
        self.spark, self.seed, self.root = spark, seed, root
        self.props, self.expect = gen.GENERATORS[self.name](seed, root)
        self.out = os.path.join(root, "out")

    def input_rows(self) -> int:
        raise NotImplementedError

    def load(self) -> None:
        """Read (and cache) the inputs; runs after setup, before warm-up."""

    def prepare(self) -> None:
        """Reset state a pass consumes; outside the timed window."""
        shutil.rmtree(self.out, ignore_errors=True)
        gc.collect()

    def run_pass(self) -> None:
        raise NotImplementedError

    def check(self) -> tuple[bool, str]:
        """(output is correct, output checksum)."""
        raise NotImplementedError

    def trace_pass(self, tr) -> None:
        raise NotImplementedError

    def trace_probes(self, tr) -> None:
        """Extra layer timings outside the traced pass."""


class GmailEtl(Workload):
    name = "gmail_etl"
    why = "the reference's raw-to-stage-1 job: JSON read, ledger dedup, three pandas UDFs, parquet sink and ledger append"

    def __init__(self, spark, seed, root):
        super().__init__(spark, seed, root)
        self.raw = os.path.join(root, "raw")
        self.seed_ledger = os.path.join(root, "ledger")
        self.ledger = os.path.join(root, "pass_ledger")

    def input_rows(self) -> int:
        return self.props["raw_rows"]

    def prepare(self) -> None:
        super().prepare()
        shutil.rmtree(self.ledger, ignore_errors=True)
        shutil.copytree(self.seed_ledger, self.ledger)

    def run_pass(self) -> None:
        pipeline.run_pipeline(self.spark, self.raw, self.out, self.ledger)

    def check(self) -> tuple[bool, str]:
        out = read_output(self.out)
        ledger_rows = output_rows(self.ledger)
        fresh = self.expect["fresh_ids"]
        ok = (
            len(out) == len(fresh)
            and sorted(out["id"]) == fresh
            and ledger_rows == self.expect["ledger_rows"] + len(fresh)
        )
        return ok, checksum(out)

    def trace_pass(self, tr) -> None:
        spark = self.spark
        with tr.span("pipeline.read_raw") as s:
            raw = pipeline.read_raw(spark, self.raw).persist()
            rows_in = materialize(raw)
            s.counts.update(rows=rows_in, blobs=len(os.listdir(self.raw)))
        with tr.span("pipeline.dedup_against_ledger") as s:
            ledger = spark.read.parquet(self.ledger)
            fresh = pipeline.dedup_against_ledger(raw, ledger).persist()
            n = materialize(fresh)
            s.counts.update(rows=n, keep_ratio=n / rows_in)
        with tr.span("pipeline.transform_stage1") as s:
            stage1 = pipeline.transform_stage1(fresh).persist()
            s.counts.update(rows=materialize(stage1))
        with tr.span("pipeline.write_stage1_parquet") as s:
            pipeline.write_stage1_parquet(stage1, self.out)
            s.counts.update(rows=n, bytes=output_bytes(self.out))
        with tr.span("pipeline.new_ledger_entries") as s:
            before = output_bytes(self.ledger)
            pipeline.new_ledger_entries(fresh).write.mode("append").parquet(self.ledger)
            s.counts.update(rows=n, bytes=output_bytes(self.ledger) - before)
        for df in (raw, fresh, stage1):
            df.unpersist()

    def trace_probes(self, tr) -> None:
        """Each pandas UDF timed alone on the rows its gate lets through,
        i.e. the rows that cross the Arrow boundary in transform_stage1."""
        self.prepare()  # the traced pass appended the fresh ids to the ledger
        ledger = self.spark.read.parquet(self.ledger)
        fresh = pipeline.dedup_against_ledger(pipeline.read_raw(self.spark, self.raw), ledger)
        n = self.props["fresh_ids"]
        hm = header_map(F.col("payload.headers"))
        cols = fresh.select(
            body_text_fixed_depth(F.col("payload")).alias("body"),
            hm["date"].alias("date"),
            parse_sender(hm["from"]).alias("sender"),
        ).persist()
        cols.count()
        gated = {
            "functions.html_to_text": (
                cols.filter(~plain_text_no_markup(F.col("body"))),
                lambda d: d.select(html_to_text(F.col("body")).alias("v")),
            ),
            "functions.extract_indeed": (
                cols.filter(F.col("sender") == INDEED_SENDER),
                lambda d: d.select(extract_indeed(F.col("body")).alias("v")),
            ),
            "functions.fuzzy_parse_ts": (
                cols.filter(lenient_timestamp_cleaned(clean_date_header(F.col("date"))).isNull()),
                lambda d: d.select(fuzzy_parse_ts(F.col("date")).alias("v")),
            ),
        }
        for name, (rows, udf) in gated.items():
            rows = rows.persist()
            k = rows.count()
            with tr.span(name) as s:
                materialize(udf(rows))
                s.counts.update(rows=k, cross_ratio=k / n)
            rows.unpersist()
        cols.unpersist()


class NearDupBatch(Workload):
    name = "near_dup_batch"
    why = "MinHash-LSH near-dedup: JVM signature fold, candidate shuffle and verify, connected-components rounds; no Python"

    def input_rows(self) -> int:
        return self.props["docs"]

    def load(self) -> None:
        self.docs = self.spark.read.parquet(os.path.join(self.root, "docs")).cache()
        self.docs.count()  # builds every cached column

    def run_pass(self) -> None:
        pairs = minhash_lsh_pairs(self.docs, "doc_id", "text", **NEAR_PARAMS)
        near_dedup(self.docs, "doc_id", pairs).write.parquet(self.out)

    def check(self) -> tuple[bool, str]:
        out = read_output(self.out)
        ok = sorted(out["doc_id"].tolist()) == self.expect["survivors"]
        return ok, checksum(out)

    def trace_pass(self, tr) -> None:
        with tr.span("operators.dedup.signatures"):
            pairs = minhash_lsh_pairs(self.docs, "doc_id", "text", **NEAR_PARAMS)
        with tr.span("operators.dedup.pairs") as s:
            pairs = pairs.persist()
            n = materialize(pairs)
            s.counts.update(rows=n, verified_ratio=n / self.props["planted_pairs"])
        with tr.span("operators.dedup.connected_components"):
            survivors = near_dedup(self.docs, "doc_id", pairs)
        with tr.span("operators.dedup.near_dedup") as s:
            survivors.write.parquet(self.out)
        k = output_rows(self.out)
        s.counts.update(rows=k, survivor_ratio=k / len(self.expect["survivors"]))
        pairs.unpersist()


class KnnTopk(Workload):
    name = "knn_topk"
    why = "cosine top-k: a numeric mapInArrow kernel and a tiny shuffle; bypasses pipeline and operators.dedup"

    def input_rows(self) -> int:
        return self.props["n"]

    def load(self) -> None:
        self.corpus = self.spark.read.parquet(os.path.join(self.root, "corpus")).cache()
        self.corpus.count()  # builds every cached column
        q = [int(x) for x in self.expect["queries"]]
        self.queries = self.corpus.filter(F.col("vec_id").isin(q))
        self.reference = gen.knn_reference(self.expect["vecs"], self.expect["queries"], gen.KNN_K)

    def run_pass(self) -> None:
        cosine_topk_vectorized(self.queries, self.corpus, k=gen.KNN_K).write.parquet(self.out)

    def check(self) -> tuple[bool, str]:
        out = read_output(self.out)
        ok = len(out) == len(self.reference) * gen.KNN_K
        for qid, grp in out.sort_values("rank").groupby("query_id"):
            ids, sims = self.reference.get(int(qid), (None, None))
            ok = ok and ids is not None and self._topk_matches(grp, ids, sims)
        return ok, checksum(out)

    @staticmethod
    def _topk_matches(grp: pd.DataFrame, ids: np.ndarray, sims: np.ndarray) -> bool:
        # The operator rounds sims to 6 places; its matmul may round the
        # other way from numpy's.  Allow that much disagreement, and id
        # swaps only among neighbors that tie within it.
        tol = 1.5e-6
        got_ids, got_sims = grp["neighbor_id"].to_numpy(), grp["sim"].to_numpy()
        if grp["rank"].tolist() != list(range(1, len(ids) + 1)):
            return False
        if not (np.abs(got_sims - sims) <= tol).all():
            return False
        must = set(ids[sims > sims[-1] + tol].tolist())
        return must <= set(got_ids.tolist()) and len(set(got_ids.tolist())) == len(ids)

    def trace_pass(self, tr) -> None:
        name = "operators.similarity.cosine_topk_vectorized"
        with tr.span(name) as s:
            with tr.span(name + ".collect"):
                res = cosine_topk_vectorized(self.queries, self.corpus, k=gen.KNN_K)
            res.write.parquet(self.out)
        s.counts.update(rows=output_rows(self.out))


WORKLOADS = {w.name: w for w in (GmailEtl, NearDupBatch, KnnTopk)}
