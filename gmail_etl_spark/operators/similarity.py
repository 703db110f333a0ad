"""Similarity search over embedding columns (SURVEY §2.8 X1).

Brute-force cosine top-k is the exactness baseline: a broadcast of the
(small) query set against a distributed corpus scan — no shuffle at all
until the final per-query top-k, which AQE keeps tiny.  The scale path
partitions the corpus into coarse cells (IVF) so each query probes a
cell subset; here the cell id is a column (label / any clustering
output), keeping the operator declarative.

The dot products run as JVM array expressions (``zip_with`` +
``aggregate``) — vectorized codegen, no Python.  Arrays are cast to
double so results are bit-identical to any double-precision oracle.

Each kernel exists once and every operator calls that copy: squared L2
(:func:`_sq_dist`), nearest centroid over plan literals
(:func:`_nearest`) and in numpy (:func:`_nearest_np`), the IVF cell
assignment kernel (:func:`_assign_cells`), the IVF probe rule
(:func:`_nearest_cells`), the cosine verify join
(:func:`_cosine_verify`), the per-batch Arrow cosine top-k
(:func:`_cosine_topk_arrow`), the PQ/ADC search (:func:`_adc_search`)
and the (score, id) top-k merge window (:func:`_rank_topk`).  The
driver-side numpy distances (PQ training, LUTs, probe picks) stay in the
direct (v - c)² form: the expanded form rounds differently, and the
trained codebooks and probe sets depend on those bits.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from gmail_etl_spark.operators.dedup import (
    _pair_expansion,
    _score_barrier,
    capped_pair_candidates,
)


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v))


def _sq_dist(a: Column, b: Column) -> Column:
    """Squared L2 distance of two ARRAY<DOUBLE> columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, d: acc + d,
    )


def _lit_vec(values) -> Column:
    """A vector compiled into the plan as an ARRAY<DOUBLE> literal."""
    return F.array(*[F.lit(x) for x in values])


def _nearest(v: Column, centroids) -> Column:
    """Index of the literal centroid nearest ``v`` by squared L2: a
    map-only ``array_min`` over (dist, index) structs, so equal distances
    break to the lowest index.  The plan holds len(centroids)·dim
    literals."""
    return F.array_min(
        F.array(
            *[
                F.struct(_sq_dist(v, _lit_vec(c)).alias("dist"), F.lit(i).alias("idx"))
                for i, c in enumerate(centroids)
            ]
        )
    )["idx"]


def _nearest_np(v, C):
    """Row-wise index of the nearest row of ``C`` by squared L2, numpy
    side.  The expanded form costs one BLAS matmul per batch instead of
    a (batch, k, dim) difference tensor, so peak memory stays O(batch·k)
    at any k.  ``argmin`` returns the first minimum: the same
    lowest-index tie-break as :func:`_nearest`."""
    d2 = (v * v).sum(axis=1)[:, None] - 2.0 * (v @ C.T) + (C * C).sum(axis=1)[None, :]
    return d2.argmin(axis=1)


def _assign_cells(
    base: DataFrame, centroids, out: str, keep_v: bool = False
) -> DataFrame:
    """``base``'s (id, v ARRAY<DOUBLE>) rows with ``out``, the index of
    each row's nearest centroid: one :func:`_nearest_np` matmul per
    Arrow batch, with the centroids in the kernel closure, so the plan
    carries no centroid literals at any cell count.  No join, no
    shuffle.  ``keep_v`` carries ``v`` through; without it the kernel
    emits only (id, ``out``)."""
    import numpy as np

    C = np.asarray(centroids, dtype=np.float64)
    cols = ["id", "v"] if keep_v else ["id"]

    def kern(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            v = np.array(pdf["v"].tolist(), dtype=np.float64)
            yield pdf[cols].assign(**{out: _nearest_np(v, C).astype("int32")})

    fields = [f"{c} {base.schema[c].dataType.simpleString()}" for c in cols]
    return base.mapInPandas(kern, ", ".join([*fields, f"{out} int"]))


def _nearest_cells(C, v, nprobe: int):
    """Row indices of the ``nprobe`` rows of ``C`` nearest ``v``, ordered
    by (squared L2 rounded to 9 places, index): the probe rule of both
    IVF searches (:func:`query_ivf_index` and :func:`ivf_pq_topk`).  The
    rounding makes distances that differ only in summation order tie,
    and ties go to the lowest index."""
    import numpy as np

    d2 = np.round(((C - v[None, :]) ** 2).sum(axis=1), 9)
    return np.argsort(d2, kind="stable")[:nprobe]


def _rank_topk(
    df: DataFrame, k: int, score: str, ascending: bool = False, rank: str = "rank"
) -> DataFrame:
    """Each query's first ``k`` rows in the total order (``score``,
    ``neighbor_id`` asc), numbered from 1 in column ``rank``."""
    order = F.asc(score) if ascending else F.desc(score)
    w = Window.partitionBy("query_id").orderBy(order, F.asc("neighbor_id"))
    return df.withColumn(rank, F.row_number().over(w)).filter(F.col(rank) <= k)


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two ARRAY<DOUBLE> columns."""
    return _dot(a, b) / (_norm(a) * _norm(b))


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    cell_col: str | None = None,
) -> DataFrame:
    """Top-k corpus neighbors per query by cosine similarity.

    ``cell_col`` switches brute-force → IVF: the join keys on the cell
    so each query only scans its cell's corpus partition.  Returns
    (query_id, neighbor_id, sim, rank).
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("q_vec"),
        *([F.col(cell_col).alias("q_cell")] if cell_col else []),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("c_vec"),
        *([F.col(cell_col).alias("c_cell")] if cell_col else []),
    )
    # norms are computed ONCE per input row in each side's pre-join
    # projection (projects don't collapse across joins): inlining
    # cosine() post-join re-evaluates the corpus norm per (query,
    # corpus) pair — n_queries× the HOF work.  dot/(q_norm*c_norm) is
    # the identical double expression, so sims are bit-equal (measured
    # q50 at sf0.1: 0.90 → 0.67 s, same checksum; guide §1.2).
    q = q.withColumn("q_norm", _norm(F.col("q_vec")))
    c = c.withColumn("c_norm", _norm(F.col("c_vec")))
    if cell_col:
        joined = c.join(F.broadcast(q), F.col("q_cell") == F.col("c_cell"))
    else:
        joined = c.crossJoin(F.broadcast(q))
    scored = joined.filter(F.col("query_id") != F.col("neighbor_id")).select(
        "query_id",
        "neighbor_id",
        F.round(
            _dot(F.col("q_vec"), F.col("c_vec")) / (F.col("q_norm") * F.col("c_norm")),
            6,
        ).alias("sim"),
    )
    return _rank_topk(scored, k, "sim")


def _hyperplane(plane: int, dim: int) -> list[float]:
    """Deterministic pseudo-random unit-free hyperplane components in
    [-1, 1), derived from a splitmix64-style integer mix of (plane, j) —
    reproducible across sessions with no RNG state."""
    out = []
    for j in range(dim):
        x = (plane * 0x9E3779B97F4A7C15 + j * 0xBF58476D1CE4E5B9 + 0x94D049BB133111EB) % (1 << 64)
        x ^= x >> 30
        x = (x * 0xBF58476D1CE4E5B9) % (1 << 64)
        x ^= x >> 27
        x = (x * 0x94D049BB133111EB) % (1 << 64)
        x ^= x >> 31
        out.append((x % (1 << 53)) / float(1 << 52) - 1.0)
    return out


def srp_params_for_recall(
    threshold: float,
    target_recall: float = 0.99,
    max_planes: int = 256,
) -> tuple[int, int]:
    """Derive (n_planes, bands) from the sign-random-projection S-curve
    for a target recall — the SRP analog of
    :func:`gmail_etl_spark.operators.dedup.lsh_params_for_recall`.

    Charikar'02: two vectors at cosine similarity ``s`` agree on one
    sign bit with probability ``p(s) = 1 − arccos(s)/π``; a band of
    ``r`` bits collides with ``p^r`` and recall over ``b`` bands is
    ``1 − (1 − p^r)^b``.  For each ``r`` the minimal band count meeting
    the floor at the threshold is ``b(r) = ⌈ln(1−R) / ln(1−p^r)⌉``;
    among feasible (r, b(r)) with ``r·b(r) ≤ max_planes`` this picks
    the LARGEST ``r`` — the steepest S-curve the bit budget affords
    (MMDS §3.7.3's banding rule applied to the SRP family), which pins
    recall at the threshold while collapsing sub-threshold candidate
    volume.

    Returns (n_planes, bands) with ``n_planes = r · bands``, directly
    usable as ``hyperplane_lsh_pairs(..., n_planes=n, bands=b)``;
    raises when even r=1 cannot meet the recall within ``max_planes``.
    """
    import math

    if not -1.0 < threshold < 1.0:
        raise ValueError(f"cosine threshold must be in (-1,1), got {threshold}")
    if not 0.0 < target_recall < 1.0:
        raise ValueError(f"target_recall must be in (0,1), got {target_recall}")
    p = 1.0 - math.acos(threshold) / math.pi
    if p <= 0.0:
        raise ValueError(
            f"threshold={threshold} gives non-positive bit-agreement "
            "probability — SRP banding cannot target recall there"
        )
    best: tuple[int, int] | None = None
    for r in range(1, max_planes + 1):
        p_hi = p**r
        denom = math.log1p(-p_hi)
        if denom == 0.0:
            break
        b = max(1, math.ceil(math.log(1.0 - target_recall) / denom))
        n = r * b
        if n <= max_planes:
            best = (n, b)  # larger r always wins — keep scanning up
    if best is None:
        raise ValueError(
            f"no (bits, bands) within max_planes={max_planes} meets "
            f"recall>={target_recall} at threshold={threshold}; raise "
            "max_planes"
        )
    return best


def hyperplane_lsh_pairs(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 16,
    bands: int = 4,
    threshold: float = 0.9,
    max_bucket: int = 512,
    target_recall: float | None = None,
    max_planes: int = 256,
) -> DataFrame:
    """Near-duplicate embedding pairs via sign-random-projection LSH
    (Charikar'02): bit p of a vector's signature is sign(v · h_p) for a
    fixed pseudo-random hyperplane h_p; P[bits agree] = 1 - θ/π, so
    near-parallel vectors collide in some band of bits with high
    probability.  Candidates are verified with exact cosine — no false
    positives, recall is the only approximation.

    Same scale shape as ``minhash_lsh_pairs``: candidate pairs come from
    ONE shuffle of the narrow (id, band, bucket) rows — groupBy bucket,
    collect the id list, expand i<j pairs JVM-side (a self-join would
    shuffle the banded rows twice for the same key distribution);
    buckets over ``max_bucket`` ids are split into salted sub-buckets so
    a hot bucket's pair expansion is O(B·max_bucket), not O(B²) (see
    ``capped_pair_candidates``); vectors re-enter by id only for
    surviving candidates.  All JVM expressions — the dot products
    against literal hyperplanes run in whole-stage codegen.

    ``target_recall`` makes the recall contract explicit: when set, the
    (n_planes, bands) arguments are REPLACED by
    :func:`srp_params_for_recall`'s S-curve derivation at this
    threshold — the same parameterization MinHash gained in round 5
    (``lsh_params_for_recall``), so callers state the recall they need
    instead of hand-tuning bit counts.
    """
    if target_recall is not None:
        n_planes, bands = srp_params_for_recall(
            threshold, target_recall, max_planes
        )
    if not 1 <= bands <= n_planes or n_planes % bands != 0:
        # same guard as the MinHash path: bands > n_planes makes every
        # band's bucket constant; a non-divisor silently drops bits
        raise ValueError(
            f"bands must divide n_planes with 1 <= bands <= n_planes; "
            f"got n_planes={n_planes}, bands={bands}"
        )
    rows_per_band = n_planes // bands
    v = F.col("v")
    bits = [(_dot(v, _lit_vec(_hyperplane(p, dim))) > 0).cast("int") for p in range(n_planes)]
    sig = corpus.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    ).select("id", "v", F.array(*bits).alias("bits"))
    banded = sig.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            *[F.col("bits")[b * rows_per_band + r] for r in range(rows_per_band)]
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bucket")
    buckets = (
        banded.groupBy("band", "bucket")
        .agg(F.collect_list("id").alias("ids"))
        .filter(F.size("ids") > 1)
    )
    candidates = capped_pair_candidates(buckets, max_bucket)
    return _cosine_verify(candidates, sig.select("id", "v"), threshold).select(
        "a_id", "b_id", F.round("_sim", 6).alias("sim")
    )


def _cosine_verify(candidates: DataFrame, vecs: DataFrame, threshold: float) -> DataFrame:
    """Exact cosine verify of candidate pairs: (a_id, b_id, _sim) for
    every ``candidates`` (a_id, b_id) pair whose cosine is at least
    ``threshold``; ``vecs`` is (id, v ARRAY<DOUBLE>).

    Vectors re-enter by id through shuffle-hash joins, so the corpus
    side is never mis-broadcast.  Per-vector norms are computed once
    below the joins (cosine_topk's pre-norm discipline): a vector in
    many candidate pairs would otherwise pay its norm per pair, and
    dot/(na*nb) is the identical double expression.  The sim itself is
    materialized ONCE per pair behind ``_score_barrier`` (r13): without
    the barrier the threshold filter is pushed into the join condition
    and the interpreted-HOF dot product runs twice per surviving pair
    (once in the condition, once in the output projection).  The
    barrier is the identity on every double and on NULL."""
    vecs = vecs.select("id", "v", _norm(F.col("v")).alias("nrm")).hint("shuffle_hash")

    def side(s: str) -> DataFrame:
        return vecs.select(
            F.col("id").alias(f"{s}_id"), F.col("v").alias(f"v{s}"), F.col("nrm").alias(f"n{s}")
        )

    sim = _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    return (
        candidates.join(side("a"), "a_id")
        .join(side("b"), "b_id")
        .select("a_id", "b_id", _score_barrier(sim).alias("_sim"))
        .filter(F.col("_sim") >= threshold)
    )


def _batch_topk(ids, sims, q_ids, k: int, cand=None):
    """Per-batch partial top-k of every query at once.

    ``sims`` is the (batch, n_queries) similarity matrix of corpus rows
    ``ids`` against queries ``q_ids``; ``cand`` optionally restricts each
    query to a (n_queries, batch) boolean candidate mask.  A query never
    matches its own id.  Each query keeps its first ``k`` candidates in
    the final ranking's total order, (round(sim, 6) desc, id asc) with
    NaN last, so merging the partials of every batch is lossless.

    One ``np.partition`` finds each query's k-th rounded similarity; only
    the rows at or above it (ties included) go through the ``lexsort``.
    Excluded rows and NaN sort as -inf in that key.  Returns
    ``(query_index, row_index, sim)`` arrays, query-major, with ``sim``
    the unrounded value from ``sims``.
    """
    import numpy as np

    # one rounded, C-contiguous transpose: each query's key is a row
    key = np.round(sims.T, 6, out=np.empty(sims.shape[::-1]))
    key[np.isnan(key)] = -np.inf
    valid = ids[None, :] != q_ids[:, None]
    if cand is not None:
        valid &= cand
    key[~valid] = -np.inf
    n = key.shape[1]
    if 0 < k < n:
        kth = np.partition(key, n - k, axis=1)[:, n - k]
        valid &= key >= kth[:, None]
    qi, ri = np.nonzero(valid)
    order = np.lexsort((ids[ri], -key[qi, ri], qi))
    qi, ri = qi[order], ri[order]
    rank = np.arange(qi.size) - np.searchsorted(qi, qi)
    keep = rank < k
    qi, ri = qi[keep], ri[keep]
    return qi, ri, sims[ri, qi]


def cosine_topk_vectorized(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Brute-force cosine top-k, Arrow/numpy path (the 100 TB form of
    ``cosine_topk``).

    The query set (small by contract) is collected once and closed over
    by a ``mapInArrow`` kernel; each corpus Arrow batch becomes one
    numpy matmul (batch × dim @ dim × n_queries), and only the per-batch
    top-k rows per query — ordered by (sim desc, id asc), the same total
    order as the final ranking, so the global top-k survives partial
    selection — leave the executor.  The selection is batched over all
    queries (:func:`_batch_topk`): one transpose and one rounding of the
    similarity matrix, one ``np.partition`` for every query's k-th
    rounded similarity, and one ``lexsort`` over only the rows at or
    above it, ties included — not a full sort of the batch per query
    (64 queries, 25k-row batch, k=10, one Xeon thread: 0.24 → 0.062 s,
    identical rows).  A final window merges partials:
    shuffle volume is O(n_batches · k · n_queries), independent of
    corpus size.  ~50-100× the array-expression path at wide dims: one
    BLAS call replaces per-row ``zip_with``/``aggregate`` trees.

    The kernel consumes raw Arrow record batches (``mapInArrow``): the
    vector column's values buffer is sliced straight into the (batch,
    dim) matrix via ``flatten()`` + reshape instead of the pandas path's
    per-row Python-object round trip (``Series.tolist()`` → np.array) —
    measured 0.82 → 0.62 s on the 100k×64 bench entry, identical output
    checksum (guide §4.2: hand whole batches to vectorized native code).
    Partial top-k is batching-independent, so the rewrite cannot change
    results even where Arrow batch boundaries differ.
    """
    q_rows = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("q_vec"),
    ).collect()
    return _cosine_topk_arrow(
        corpus,
        id_col,
        vec_col,
        k,
        queries.schema[id_col].dataType,
        [r["query_id"] for r in q_rows],
        [r["q_vec"] for r in q_rows],
    )


def _cosine_topk_arrow(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    q_id_dt,
    q_ids: list,
    q_vecs: list,
    probed=None,
) -> DataFrame:
    """The per-batch Arrow cosine top-k behind
    :func:`cosine_topk_vectorized` and :func:`query_ivf_index`.

    ``q_ids``/``q_vecs`` is the collected query set, its ids of Spark
    type ``q_id_dt``.  ``probed`` (IVF only) is an (n_queries, n_cells)
    boolean matrix, True where query j probes cell c; the corpus then
    carries a ``cluster`` column, and a row is a candidate only for the
    queries that probe its cell (:func:`_batch_topk`'s ``cand`` mask).
    Without it, the plan and the per-batch work are the brute-force
    path's alone.
    """
    import numpy as np
    import pyarrow as pa

    q_id_type = q_id_dt.simpleString()
    if not q_ids:
        # empty query set: empty result with the normal path's schema
        # (query_id in the queries' id type, plus the rank column the
        # window adds), not a driver-side numpy AxisError
        return corpus.select(
            F.col(id_col).cast(q_id_type).alias("query_id"),
            F.col(id_col).alias("neighbor_id"),
            F.lit(0.0).alias("sim"),
            F.lit(1).alias("rank"),
        ).limit(0)
    q_mat = np.array(q_vecs, dtype=np.float64)
    # zero-norm queries get sim 0 everywhere (id-ordered top-k), the
    # same convention as the corpus-side guard below — not NaN rankings
    q_norms = np.linalg.norm(q_mat, axis=1, keepdims=True)
    np.divide(q_mat, q_norms, out=q_mat, where=q_norms > 0)

    # id types follow the input schemas (the pq_topk discipline): a
    # string-keyed corpus must not crash a generic signature.  Neighbor
    # ids are taken straight from each batch's own id column, so their
    # Arrow type is the batch schema's.  The query id type comes from
    # to_arrow_type, which lives in a private PySpark module whose
    # location has moved across releases (ADVICE r12) — fall back to an
    # explicit map of the id types this operator supports rather than
    # crash on a version bump.
    c_id_type = corpus.schema[id_col].dataType.simpleString()
    try:
        from pyspark.sql.pandas.types import to_arrow_type

        q_id_pa = to_arrow_type(q_id_dt)
    except ImportError:
        from pyspark.sql.types import DecimalType

        _PA_BY_SIMPLE = {
            "tinyint": pa.int8(), "smallint": pa.int16(), "int": pa.int32(),
            "bigint": pa.int64(), "float": pa.float32(), "double": pa.float64(),
            "string": pa.string(), "binary": pa.binary(), "boolean": pa.bool_(),
            "date": pa.date32(), "timestamp": pa.timestamp("us", tz="UTC"),
            "timestamp_ntz": pa.timestamp("us"),
        }
        if isinstance(q_id_dt, DecimalType):
            q_id_pa = pa.decimal128(q_id_dt.precision, q_id_dt.scale)
        elif q_id_type in _PA_BY_SIMPLE:
            q_id_pa = _PA_BY_SIMPLE[q_id_type]
        else:
            raise TypeError(
                f"cosine_topk_vectorized: unsupported id column type "
                f"{q_id_type!r} (supported without pyspark's to_arrow_type: "
                f"decimal and {sorted(_PA_BY_SIMPLE)})"
            ) from None
    q_id_arr = pa.array(q_ids, type=q_id_pa)
    q_ids_np = q_id_arr.to_numpy(zero_copy_only=False)

    def _kernel(batches):
        for b in batches:
            if b.num_rows == 0:
                continue
            ids = b.column(0).to_numpy(zero_copy_only=False)
            # list<double> values buffer → (batch, dim), no per-row
            # Python objects; copy=True so the in-place normalize never
            # writes into the shared Arrow buffer.  Contract guard
            # (ADVICE r12): a null vector or ragged dims would make
            # flatten() drop/shift elements, and when the total still
            # divides num_rows the reshape would silently misalign every
            # following row — reject both explicitly instead.
            vec_col = b.column(1)
            if vec_col.null_count:
                raise ValueError(
                    "cosine_topk_vectorized: corpus batch contains null "
                    f"{vec_col.null_count} embedding(s); drop or impute "
                    "null vectors before calling"
                )
            offs = vec_col.offsets.to_numpy(zero_copy_only=False)
            widths = offs[1:] - offs[:-1]
            if widths.size and (widths != widths[0]).any():
                raise ValueError(
                    "cosine_topk_vectorized: ragged embedding dims in "
                    f"batch (saw lengths {sorted(set(widths.tolist()))[:5]}"
                    "...); all corpus vectors must share one dimension"
                )
            c = (
                vec_col
                .flatten()
                .to_numpy(zero_copy_only=False)
                .reshape(b.num_rows, -1)
                .astype(np.float64, copy=True)
            )
            norms = np.linalg.norm(c, axis=1, keepdims=True)
            np.divide(c, norms, out=c, where=norms > 0)
            sims = c @ q_mat.T  # (batch, n_queries)
            cand = None
            if probed is not None:
                cand = probed[:, b.column(2).to_numpy(zero_copy_only=False)]
            qi, ri, sim = _batch_topk(ids, sims, q_ids_np, k, cand)
            yield pa.RecordBatch.from_arrays(
                [q_id_arr.take(qi), b.column(0).take(ri), pa.array(sim)],
                names=["query_id", "neighbor_id", "sim"],
            )

    cols = [
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("c_vec"),
    ]
    if probed is not None:
        cols.append(F.col("cluster"))
    partials = corpus.select(*cols).mapInArrow(
        _kernel, f"query_id {q_id_type}, neighbor_id {c_id_type}, sim double"
    )
    return _rank_topk(partials.withColumn("sim", F.round("sim", 6)), k, "sim")


def train_kmeans(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 3,
    exact_updates: bool = False,
) -> tuple[DataFrame, list[list[float]]]:
    """Lloyd's k-means as a DataFrame iteration — the IVF coarse-quantizer
    trainer (q51's cell assignment, learned instead of given).

    Deterministic: centroids initialize from the k lowest-id vectors, and
    every assignment argmin tie-breaks on cluster index (both
    :func:`_nearest` and :func:`_nearest_np` pick the lowest cluster
    index on equal distance).  Corpus rows never shuffle.

    ``exact_updates`` names the trainer:

    - ``False`` (default): the numpy trainer.  Centroids are closed over
      by Arrow ``mapInPandas`` kernels — one numpy matmul per corpus
      batch for assignment (:func:`_assign_cells`), and per-batch
      sufficient statistics (cluster, count, sum-vector) collected to
      the driver for the centroid update (the :func:`pca_fit` pattern;
      O(n_batches·k·dim) driver bytes, corpus-size-independent).  The
      plan carries no centroid literals, so it stays the same size at
      any k.
    - ``True``: the oracle-replayable reference.  Centroids are k×dim
      literals compiled into the plan, assignment is a map-only argmin
      in whole-stage codegen (:func:`_nearest`), and the recompute
      shuffles only k×dim partial (sum, count) pairs per partition.
      Per-dim sums go through DECIMAL(20,12) (the q52 centroid
      discipline) and the mean is one double division at the end, so
      the trained centroids — and therefore every assignment — are a
      pure data function, independent of partitioning, and exactly
      replayable by a SQL oracle as chained per-iteration CTEs (how
      q75/q110 are hash-oracled).  The plan is O(k·dim) expression
      nodes, so this trainer suits tens of cells, not hundreds.

    The two trainers compute the same argmin and agree on every
    assignment except where distances tie at float rounding
    granularity; their centroids agree up to summation order and the
    decimal rounding of the sums (test-pinned).

    Returns (assignments DataFrame (id, cluster), final centroids).
    """
    dim_rows = (
        corpus.orderBy(id_col)
        .limit(k)
        .select(F.col(vec_col).cast("array<double>").alias("v"))
        .collect()
    )
    centroids = [list(r["v"]) for r in dim_rows]
    base = corpus.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    if not exact_updates:
        return _train_kmeans_vectorized(base, centroids, iters)

    def _assign(cents: list[list[float]]):
        return base.withColumn("cluster", _nearest(F.col("v"), cents))

    for _ in range(iters):
        assigned = _assign(centroids)
        stats = (
            assigned.select("cluster", F.posexplode("v").alias("dim", "val"))
            .groupBy("cluster", "dim")
            .agg(
                F.sum(F.col("val").cast("decimal(20,12)")).alias("s"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        )
        new_c = [list(c) for c in centroids]  # empty clusters keep position
        by_cluster: dict[int, dict[int, float]] = {}
        for r in stats:
            # float(Decimal) is correctly rounded, matching the oracle's
            # CAST(decimal AS DOUBLE); the division is double both ways
            by_cluster.setdefault(r["cluster"], {})[r["dim"]] = float(r["s"]) / r["n"]
        for ci, dims in by_cluster.items():
            new_c[ci] = [dims[j] for j in range(len(dims))]
        centroids = new_c
    return _assign(centroids).select("id", "cluster"), centroids


def _train_kmeans_vectorized(
    base: DataFrame,
    centroids: list[list[float]],
    iters: int,
) -> tuple[DataFrame, list[list[float]]]:
    """The ``exact_updates=False`` body of :func:`train_kmeans` — see its
    docstring for the contract.  ``base`` is the normalized
    (id, v array<double>) projection."""
    import numpy as np
    import pandas as pd

    def _partial_stats(cents: list[list[float]]) -> DataFrame:
        C = np.array(cents, dtype=np.float64)

        def kern(batches):
            for pdf in batches:
                if pdf.empty:
                    continue
                v = np.array(pdf["v"].tolist(), dtype=np.float64)
                a = _nearest_np(v, C)
                present = np.unique(a)
                sums = np.zeros((len(present), v.shape[1]), dtype=np.float64)
                counts = np.zeros(len(present), dtype=np.int64)
                for i, ci in enumerate(present):
                    mask = a == ci
                    sums[i] = v[mask].sum(axis=0)
                    counts[i] = int(mask.sum())
                yield pd.DataFrame(
                    {
                        "cluster": present.astype("int32"),
                        "n": counts,
                        "s": list(sums),
                    }
                )

        return base.mapInPandas(kern, "cluster int, n long, s array<double>")

    for _ in range(iters):
        sums: dict[int, "np.ndarray"] = {}
        counts: dict[int, int] = {}
        for r in _partial_stats(centroids).collect():
            ci = r["cluster"]
            vec = np.array(r["s"], dtype=np.float64)
            if ci in sums:
                sums[ci] += vec
                counts[ci] += r["n"]
            else:
                sums[ci] = vec
                counts[ci] = r["n"]
        new_c = [list(c) for c in centroids]  # empty clusters keep position
        for ci, s in sums.items():
            new_c[ci] = (s / counts[ci]).tolist()
        centroids = new_c
    return _assign_cells(base, centroids, "cluster"), centroids


def semantic_dedup(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 3,
    threshold: float = 0.995,
    exact_updates: bool = False,
) -> DataFrame:
    """SemDeDup-shaped semantic deduplication: partition the embedding
    space with the deterministic k-means coarse quantizer, generate
    within-cluster candidate pairs, keep pairs with cosine >=
    ``threshold``, cluster them with connected components, and keep one
    canonical row (min id) per duplicate group plus every unpaired row.

    Scale shape: pairwise comparison happens only WITHIN a k-means cell
    (the SemDeDup observation — semantic duplicates land in the same
    cell), so cost is sum over cells of |cell|^2, never corpus^2; raise
    k so cells stay bounded (the default numpy trainer keeps the
    quantizer viable at the hundreds of cells that implies — see
    :func:`train_kmeans`; ``exact_updates`` passes through for the
    oracle-replayable trainer).  Candidate ids expand from ONE shuffle of
    the narrow (cluster, id) rows (same grouped i<j expansion as the
    LSH paths); vectors re-enter by id only for candidate pairs, through
    the same verify join as :func:`hyperplane_lsh_pairs`.
    Returns ``corpus``'s schema filtered to survivors.
    """
    from gmail_etl_spark.operators.dedup import near_dedup

    assign, _ = train_kmeans(
        corpus, id_col, vec_col, k=k, iters=iters, exact_updates=exact_updates
    )
    ids = assign.select(F.col("cluster"), F.col("id"))
    candidates = (
        ids.groupBy("cluster")
        .agg(F.collect_list("id").alias("ids"))
        .filter(F.size("ids") > 1)
        .select(F.explode(F.expr(_pair_expansion("ids"))).alias("p"))
        .select("p.a_id", "p.b_id")
    )
    vecs = corpus.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    pairs = _cosine_verify(candidates, vecs, threshold).select("a_id", "b_id")
    return near_dedup(corpus, id_col, pairs)


def train_pq(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    ksub: int = 16,
    iters: int = 5,
    sample_n: int = 4096,
) -> list[list[list[float]]]:
    """Product-quantization codebooks: split the vector into ``m``
    contiguous subspaces and run Lloyd's k-means (``ksub`` centroids)
    independently in each, numpy-side on a bounded deterministic sample.

    Training on a fixed-size sample is the standard IVF/PQ recipe
    (codebooks need thousands of vectors, not the corpus): the sample is
    the ``sample_n`` lowest-id vectors; initialization is deterministic
    greedy farthest-point seeding (first seed = sample subvector 0, each
    further seed maximizes its min distance to the chosen set, ties →
    lowest index) — the k-means++ hard-max variant, which spreads seeds
    across the data instead of collapsing onto near-duplicate leading
    rows; argmin ties break to the lowest centroid index; clusters that
    empty out reseed on the point farthest from its assigned centroid.
    Fully deterministic, no RNG state.  The returned codebooks are plain
    literals (m × ksub × dim/m) that compile into encode/search plans,
    so nothing here ever joins at corpus scale.
    """
    import numpy as np

    rows = (
        corpus.orderBy(id_col)
        .limit(sample_n)
        .select(F.col(vec_col).cast("array<double>").alias("v"))
        .collect()
    )
    X = np.asarray([r["v"] for r in rows], dtype=np.float64)
    n, dim = X.shape
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    books: list[list[list[float]]] = []
    for s in range(m):
        sub = X[:, s * dsub : (s + 1) * dsub]
        k = min(ksub, n)
        # Deterministic farthest-point seeding.
        seed_idx = [0]
        mind2 = ((sub - sub[0]) ** 2).sum(axis=1)
        for _ in range(1, k):
            nxt = int(mind2.argmax())  # argmax first occurrence = lowest index
            seed_idx.append(nxt)
            mind2 = np.minimum(mind2, ((sub - sub[nxt]) ** 2).sum(axis=1))
        cents = sub[seed_idx].copy()
        for _ in range(iters):
            d2 = ((sub[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)  # first occurrence = lowest index
            for ci in range(k):
                mask = assign == ci
                if mask.any():
                    cents[ci] = sub[mask].mean(axis=0)
                else:
                    # Reseed an empty cluster on the worst-served point.
                    cents[ci] = sub[int(d2[np.arange(n), assign].argmax())]
        books.append([[float(x) for x in c] for c in cents])
    return books


def pq_encode(
    corpus: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Encode each vector to ``m`` one-byte codes: per subspace, the
    argmin-distance codebook entry (ties → lowest code, the array_min
    struct idiom).  Map-only whole-stage codegen — the codebooks are
    plan literals, rows never shuffle, and the 64-dim double vector
    compresses to an m-int code array (the 100 TB posture: the encoded
    corpus is what a search fleet keeps hot; 32× smaller here)."""
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    base = corpus.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
        *keep_cols,
    )
    code_cols = [
        _nearest(F.slice(F.col("v"), s * dsub + 1, dsub), codebooks[s]) for s in range(m)
    ]
    return base.select("id", F.array(*code_cols).alias("codes"), *keep_cols)


def pq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    rerank: int = 5,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k with exact re-ranking — the
    classic two-stage PQ search (Jégou et al. 2011; FAISS
    IndexPQ + refine): the un-quantized query precomputes an m × ksub
    lookup table of exact query-subvector→centroid squared distances;
    the ADC scan shortlists ``k * rerank`` candidates per query by
    summed table entries; exact L2 on the shortlist picks the final
    top-k.  Re-ranking is what buys accuracy at low code budgets — at
    m=8/ksub=16 (0.5 bits/dim) raw ADC ordering is too coarse for
    top-10 precision, while a 5× re-ranked shortlist recovers it.

    Scale shape: the query set is small by contract (same contract as
    ``cosine_topk``).  The ADC scan is a ``mapInPandas`` kernel over the
    encoded corpus — per Arrow batch one numpy gather-sum scores all
    queries, and only per-batch shortlist rows leave the executor
    (ordered by the final (rounded adist, id) total order, so partial
    selection is lossless); the merge window sees
    O(n_batches · k·rerank · n_queries) rows, independent of corpus
    size.  The re-rank pass broadcasts the tiny candidate set against
    the raw corpus (broadcast hash join, no corpus shuffle) and computes
    exact distances JVM-side.  Returns (query_id, neighbor_id, adist,
    dist, rank) — adist the ADC estimate, dist the exact squared L2
    used for the final rank."""
    enc = pq_encode(corpus, codebooks, id_col, vec_col)
    return _adc_search(queries, corpus, enc, codebooks, id_col, vec_col, k, rerank)


def ivf_pq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    codebooks: list[list[list[float]]],
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nprobe: int = 2,
    rerank: int = 5,
) -> DataFrame:
    """IVFADC (Jégou et al. 2011): the full big-ANN search architecture —
    an IVF coarse quantizer prunes the corpus to each query's ``nprobe``
    nearest cells, PQ/ADC scores only those rows, and exact L2 re-ranks
    a ``k * rerank`` shortlist.  Compose with :func:`train_kmeans` (the
    cell centroids) and :func:`train_pq` (the codebooks).

    Scale shape: cell assignment is a map-only numpy argmin
    (:func:`_assign_cells`: zero plan literals, no join, no shuffle);
    each query probes its ``nprobe`` nearest cells by the rule of
    :func:`_nearest_cells`; the ADC kernel skips every row
    outside the query's probed cells, so scan cost per query drops by
    ~k_cells/nprobe; per-batch partial top-k bounds the merge shuffle at
    O(n_batches · k·rerank · n_queries); the re-rank pass broadcasts the
    tiny shortlist.  At 100 TB the corpus would be written partitioned
    BY cell so probing prunes parquet partitions instead of filtering
    rows — the plan shape here is the in-memory form of that layout.
    Returns (query_id, neighbor_id, adist, dist, rank)."""
    base = corpus.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    with_cell = _assign_cells(base, centroids, "cell", keep_v=True)
    # cell rides along through the encode projection: no join, no shuffle
    enc = pq_encode(with_cell, codebooks, "id", "v", keep_cols=("cell",))
    return _adc_search(
        queries, corpus, enc, codebooks, id_col, vec_col, k, rerank, centroids, nprobe
    )


def _adc_search(
    queries: DataFrame,
    corpus: DataFrame,
    enc: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str,
    vec_col: str,
    k: int,
    rerank: int,
    centroids: list[list[float]] | None = None,
    nprobe: int = 0,
) -> DataFrame:
    """The two-stage PQ search of :func:`pq_topk` and
    :func:`ivf_pq_topk`: an ADC shortlist of ``k * rerank`` rows per
    query over the encoded corpus ``enc`` (id, codes), then the exact L2
    re-rank against ``corpus``.

    With ``centroids``, ``enc`` also carries each row's ``cell`` and a
    query scores only the rows of its ``nprobe`` nearest cells; without,
    every row is probed."""
    import numpy as np
    import pandas as pd

    m = len(codebooks)
    dsub = len(codebooks[0][0])
    q_rows = (
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).cast("array<double>").alias("v"),
        )
        .orderBy("query_id")
        .collect()
    )
    q_ids = np.array([r["query_id"] for r in q_rows])
    q_vecs = [np.asarray(r["v"], dtype=np.float64) for r in q_rows]
    books = [np.asarray(b, dtype=np.float64) for b in codebooks]
    # (n_queries, m, ksub) LUT tensor: exact subvector→centroid distances.
    luts = np.asarray(
        [
            [
                ((books[s] - v[s * dsub : (s + 1) * dsub][None, :]) ** 2).sum(axis=1)
                for s in range(m)
            ]
            for v in q_vecs
        ]
    )
    probed = None
    if centroids is not None:
        cents = np.asarray(centroids, dtype=np.float64)
        probed = _probed_cells(
            [_nearest_cells(cents, v, nprobe) for v in q_vecs], len(centroids)
        )
    kk = k * rerank

    def _adc_kernel(batches):
        sub = np.arange(m)[None, :]
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf["id"].to_numpy()
            codes = np.array(pdf["codes"].tolist(), dtype=np.int64)  # (batch, m)
            cand = ids[None, :] != q_ids[:, None]
            if probed is not None:
                cand &= probed[:, pdf["cell"].to_numpy()]
            out_q, out_n, out_d = [], [], []
            for qi, qid in enumerate(q_ids):
                rows = cand[qi]
                cand_ids = ids[rows]
                # gather-sum over the candidates only: adist[i] = Σ_s lut[s, codes[i, s]]
                ad = luts[qi][sub, codes[rows]].sum(axis=1)
                order = np.lexsort((cand_ids, np.round(ad, 6)))[:kk]
                out_q.extend([qid] * len(order))
                out_n.extend(cand_ids[order])
                out_d.extend(ad[order])
            yield pd.DataFrame(
                {"query_id": out_q, "neighbor_id": out_n, "adist": out_d}
            )

    id_type = queries.schema[id_col].dataType.simpleString()
    nbr_type = corpus.schema[id_col].dataType.simpleString()
    partials = enc.mapInPandas(
        _adc_kernel,
        f"query_id {id_type}, neighbor_id {nbr_type}, adist double",
    )
    shortlist = _rank_topk(
        partials.withColumn("adist", F.round("adist", 6)), kk, "adist", ascending=True, rank="_rn"
    ).drop("_rn")
    # Exact re-rank: fetch candidate vectors (broadcast the tiny
    # shortlist into the corpus scan) and score against the exact query
    # vector, carried as a second broadcast column.
    qvec_df = corpus.sparkSession.createDataFrame(
        [(r["query_id"], [float(x) for x in r["v"]]) for r in q_rows],
        f"query_id {id_type}, q_vec array<double>",
    )
    cvecs = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("c_vec"),
    )
    dist = F.round(_sq_dist(F.col("q_vec"), F.col("c_vec")), 6)
    scored = (
        cvecs.join(F.broadcast(shortlist), "neighbor_id")
        .join(F.broadcast(qvec_df), "query_id")
        .select("query_id", "neighbor_id", "adist", dist.alias("dist"))
    )
    return _rank_topk(scored, k, "dist", ascending=True)


def _probed_cells(probes, n_cells: int):
    """(n_queries, n_cells) boolean matrix, True where query j probes
    cell c, from each query's probed cell ids.  Indexed by a batch's
    cell column, it gives every query's candidate mask at once."""
    import numpy as np

    probed = np.zeros((len(probes), n_cells), dtype=bool)
    for j, cells in enumerate(probes):
        probed[j, list(cells)] = True
    return probed


# ---------------------------------------------------------------------------
# distributed PCA (covariance method) — X1/X3 dimensionality reduction
# ---------------------------------------------------------------------------


def pca_fit(df: DataFrame, vec_col: str, k: int):
    """Fit PCA by the covariance method, the only shape that scales to
    100 TB of embeddings: ONE ``mapInPandas`` pass emits per-batch
    sufficient statistics (n, Σx, XᵀX) — d + d² doubles per batch,
    independent of row count — the driver sums them (batch-count-bounded
    collect, the PQ-codebook contract), forms the covariance
    C = (XᵀX − n·x̄x̄ᵀ)/(n−1), and takes the top-k eigenvectors of the
    d×d matrix with numpy eigh (d=64 here; eigh of d×d is driver-trivial
    for any d where the covariance method applies).

    Determinism: batch statistics are float sums whose per-batch
    partials are summed in a FIXED order (sorted by partition/batch
    index) and eigh of the same matrix is deterministic; each
    eigenvector's sign is canonicalized so its largest-magnitude entry
    is positive.  Returns (components k×d numpy array, explained
    variance ratios length-k list, mean length-d numpy array)."""
    import numpy as np
    import pandas as pd

    def stats_kernel(batches):
        import numpy as _np

        idx = 0
        for pdf in batches:
            X = _np.asarray(pdf[vec_col].tolist(), dtype=_np.float64)
            if len(X) == 0:
                continue
            yield pd.DataFrame(
                {
                    "bidx": [idx],
                    "n": [len(X)],
                    "s": [X.sum(axis=0).tolist()],
                    "xtx": [(X.T @ X).ravel().tolist()],
                }
            )
            idx += 1

    parts = (
        df.select(vec_col)
        .mapInPandas(
            stats_kernel,
            schema="bidx long, n long, s array<double>, xtx array<double>",
        )
        .collect()
    )
    # stable total order: bidx restarts per partition task, so the sum
    # order is pinned by the statistics themselves (deterministic for a
    # deterministic input partitioning)
    parts = sorted(parts, key=lambda r: (r["bidx"], r["n"], tuple(r["s"])))
    n = sum(r["n"] for r in parts)
    d = len(parts[0]["s"])
    s = np.zeros(d)
    xtx = np.zeros((d, d))
    for r in parts:
        s += np.asarray(r["s"])
        xtx += np.asarray(r["xtx"]).reshape(d, d)
    mean = s / n
    cov = (xtx - n * np.outer(mean, mean)) / (n - 1)
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(evals)[::-1][:k]
    comps = evecs[:, order].T  # k × d
    for i in range(len(comps)):
        j = int(np.abs(comps[i]).argmax())
        if comps[i][j] < 0:
            comps[i] = -comps[i]
    ratios = (evals[order] / evals.sum()).tolist()
    return comps, ratios, mean


def pca_project(
    df: DataFrame, id_col: str, vec_col: str, comps, mean
) -> DataFrame:
    """Project vectors onto fitted components: map-only second pass —
    the k×d component matrix and mean ride the closure (plan literals),
    each Arrow batch is one centered matmul, no shuffle anywhere."""
    import numpy as np
    import pandas as pd

    V = np.asarray(comps, dtype=np.float64)  # k × d
    mu = np.asarray(mean, dtype=np.float64)
    k = V.shape[0]

    def proj_kernel(batches):
        for pdf in batches:
            X = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
            P = (X - mu) @ V.T if len(X) else np.zeros((0, k))
            out = pd.DataFrame({id_col: pdf[id_col]})
            out["proj"] = [row.tolist() for row in P]
            yield out

    id_type = dict(df.dtypes)[id_col]
    return df.select(id_col, vec_col).mapInPandas(
        proj_kernel, schema=f"{id_col} {id_type}, proj array<double>"
    )


# ---------------------------------------------------------------------------
# X1 — persistable IVF index: build once, query many (index-as-table)
# ---------------------------------------------------------------------------


def save_ivf_index(
    spark,
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k_cells: int = 8,
    iters: int = 3,
    exact_updates: bool = False,
) -> None:
    """Materialize an IVF index as a TABLE: train the coarse quantizer
    (:func:`train_kmeans`, deterministic), write the corpus partitioned
    by its cell assignment, and persist the centroids beside it.  The
    layout IS the index — probing a cell becomes parquet partition
    pruning, so queries read only nprobe/k_cells of the corpus bytes
    (the PartitionFilters posture, test-pinned).  Build cost is paid
    once; at 100 TB this is the difference between an ANN system and an
    ANN query.  ``exact_updates=True`` passes the decimal-sum centroid
    discipline through, making the WHOLE persisted layout (assignments
    included) a pure data function of the corpus — independent of input
    partitioning (forensic-pinned by tools/nondeterminism_forensic.py)."""
    assignments, centroids = train_kmeans(
        corpus,
        id_col=id_col,
        vec_col=vec_col,
        k=k_cells,
        iters=iters,
        exact_updates=exact_updates,
    )
    indexed = corpus.join(
        assignments, corpus[id_col] == assignments["id"]
    ).select(
        corpus[id_col].alias(id_col),
        corpus[vec_col].cast("array<double>").alias(vec_col),
        assignments["cluster"],
    )
    indexed.write.partitionBy("cluster").mode("overwrite").parquet(
        f"{path}/vectors"
    )
    spark.createDataFrame(
        [(i, c) for i, c in enumerate(centroids)],
        "cluster int, centroid array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")


def query_ivf_index(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 3,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_queries: int | None = 1024,
) -> DataFrame:
    """Query the persisted index: assign each query to its ``nprobe``
    nearest centroids, scan ONLY the probed partitions (`cluster IN
    (...)` reaches the reader as a partition filter), and rank exact
    cosine within the per-query probed cells under the (sim rounded to
    6 DESC, neighbor id) total order.  Results are identical to running
    the same nprobe IVF search in one job; the test asserts it
    row-for-row.

    The query set is small by contract: it is collected once, and each
    query's ``nprobe`` cells are picked on the driver by the rule of
    :func:`_nearest_cells` — (distance rounded to 9 places, cell id) —
    so the plan carries no centroid literals at any cell count.  The
    ranking is :func:`cosine_topk_vectorized`'s Arrow kernel over the
    probed scan, with each query's probed cells as its candidate mask:
    one numpy matmul per probed Arrow batch with per-batch partial
    top-k, so the probed scan's byte savings are not given back as
    per-row expression overhead at wide dims.

    ``max_queries`` enforces the bounded-queries contract: a caller
    accidentally passing a corpus-sized frame fails loudly (raise)
    instead of collecting it.  The collect is a ``limit(max_queries+1)``,
    so it costs O(max_queries) rows even on an unbounded input.
    ``None`` disables the guard (caller takes responsibility)."""
    import numpy as np

    cents = sorted(
        (r["cluster"], list(r["centroid"]))
        for r in spark.read.parquet(f"{path}/centroids").collect()
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("q_vec"),
    )
    q_rows = (q if max_queries is None else q.limit(max_queries + 1)).collect()
    if max_queries is not None and len(q_rows) > max_queries:
        raise ValueError(
            f"query_ivf_index: query set has >{max_queries} rows, and the "
            "queries are collected to the driver — pass a bounded query "
            "frame, or raise max_queries explicitly"
        )
    cell_ids = np.array([ci for ci, _ in cents], dtype=np.int64)
    C = np.array([c for _, c in cents], dtype=np.float64)
    probes = [
        cell_ids[_nearest_cells(C, np.asarray(r["q_vec"], dtype=np.float64), nprobe)]
        for r in q_rows
    ]
    probe_set = sorted({int(c) for cells in probes for c in cells})
    vectors = spark.read.parquet(f"{path}/vectors").filter(
        F.col("cluster").isin(probe_set)
    )
    return _cosine_topk_arrow(
        vectors,
        id_col,
        vec_col,
        k,
        queries.schema[id_col].dataType,
        [r["query_id"] for r in q_rows],
        [r["q_vec"] for r in q_rows],
        # ``vectors`` holds only probe_set cells
        _probed_cells(probes, max(probe_set, default=-1) + 1),
    )
