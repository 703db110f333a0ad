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
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from gmail_etl_spark.operators.dedup import _pair_expansion, capped_pair_candidates


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v))


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
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


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
    bits = [
        (_dot(v, F.array(*[F.lit(c) for c in _hyperplane(p, dim)])) > 0).cast("int")
        for p in range(n_planes)
    ]
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
    # per-vector norms computed once below the join (cosine_topk's
    # pre-norm discipline): a vector in many candidate pairs would
    # otherwise pay its norm per pair.  The sim expression itself is
    # materialized ONCE per pair behind _score_barrier (r13): without
    # the barrier the threshold filter is pushed into the join condition
    # and the interpreted-HOF dot product runs twice per surviving pair
    # (once in the condition, once in the output projection).  The
    # barrier is the identity on every double and on NULL.
    from gmail_etl_spark.operators.dedup import _score_barrier

    vecs = sig.select("id", "v", _norm(F.col("v")).alias("nrm")).hint("shuffle_hash")
    sim = _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    scored = (
        candidates.join(
            vecs.select(
                F.col("id").alias("a_id"), F.col("v").alias("va"), F.col("nrm").alias("na")
            ),
            "a_id",
        )
        .join(
            vecs.select(
                F.col("id").alias("b_id"), F.col("v").alias("vb"), F.col("nrm").alias("nb")
            ),
            "b_id",
        )
        .select("a_id", "b_id", _score_barrier(sim).alias("_sim"))
    )
    return (
        scored.filter(F.col("_sim") >= threshold)
        .select("a_id", "b_id", F.round("_sim", 6).alias("sim"))
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
    import numpy as np
    import pyarrow as pa

    q_rows = (
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).cast("array<double>").alias("q_vec"),
        )
        .collect()
    )
    if not q_rows:
        # empty query set: empty result with the normal path's schema
        # (query_id in the queries' id type, plus the rank column the
        # window adds), not a driver-side numpy AxisError
        return corpus.select(
            F.col(id_col)
            .cast(queries.schema[id_col].dataType.simpleString())
            .alias("query_id"),
            F.col(id_col).alias("neighbor_id"),
            F.lit(0.0).alias("sim"),
            F.lit(1).alias("rank"),
        ).limit(0)
    q_mat = np.array([r["q_vec"] for r in q_rows], dtype=np.float64)
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
    q_id_dt = queries.schema[id_col].dataType
    q_id_type = q_id_dt.simpleString()
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
    q_id_arr = pa.array([r["query_id"] for r in q_rows], type=q_id_pa)
    q_ids = q_id_arr.to_numpy(zero_copy_only=False)

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
            qi, ri, sim = _batch_topk(ids, sims, q_ids, k)
            yield pa.RecordBatch.from_arrays(
                [q_id_arr.take(qi), b.column(0).take(ri), pa.array(sim)],
                names=["query_id", "neighbor_id", "sim"],
            )

    partials = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("c_vec"),
    ).mapInArrow(
        _kernel, f"query_id {q_id_type}, neighbor_id {c_id_type}, sim double"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        partials.withColumn("sim", F.round("sim", 6))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def train_kmeans(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 3,
    assign_strategy: str = "expr",
    exact_updates: bool = False,
) -> tuple[DataFrame, list[list[float]]]:
    """Lloyd's k-means as a DataFrame iteration — the IVF coarse-quantizer
    trainer (q51's cell assignment, learned instead of given).

    Deterministic: centroids initialize from the k lowest-id vectors, and
    every assignment argmin tie-breaks on cluster index (both strategies:
    ``array_min`` over (dist, cluster) structs and ``numpy.argmin``
    first-occurrence pick the lowest cluster index on equal distance).

    ``assign_strategy``:

    - ``"expr"`` (default, the oracled-query path): centroids are k×dim
      literals compiled into the plan (a broadcast in spirit, no join),
      assignment is a map-only argmin in whole-stage codegen, and the
      recompute shuffles only k×dim partial (sum, count) pairs per
      partition — corpus rows never shuffle.  The compiled plan is
      O(k·dim) expression nodes, which is the right trade only while
      k·dim stays small (tens of cells): past that, codegen size and
      Catalyst analysis time blow up long before the data does.
    - ``"vectorized"`` (the 100 TB form, for k in the hundreds+):
      centroids are closed over by Arrow ``mapInPandas`` kernels — one
      numpy matmul per corpus batch for assignment, and per-batch
      sufficient statistics (cluster, count, sum-vector) collected to
      the driver for the centroid update (the :func:`pca_fit` pattern;
      O(n_batches·k·dim) driver bytes, corpus-size-independent).
      Corpus rows never shuffle on either path.

    The two strategies compute the same argmin over the same distances
    and are assignment-identical except where distances tie at float
    rounding granularity (test-pinned on the planted corpus).

    ``exact_updates=True`` (expr strategy only) makes the centroid
    recompute accumulation-order-FREE: per-dim sums go through
    DECIMAL(20,12) (the q52 centroid discipline) and the mean is one
    double division at the end, so the trained centroids — and therefore
    every assignment — are a pure data function, independent of
    partitioning, and exactly replayable by a SQL oracle as chained
    per-iteration CTEs (how q75/q110 are hash-oracled).  The default
    float sums are kept for the throughput paths: decimal aggregation
    measured ≈2× the codegen cost of double sums (r1 note), and ulp-level
    centroid drift is irrelevant when the output feeds a recall-gated
    ANN probe rather than an equality gate.

    Returns (assignments DataFrame (id, cluster), final centroids).
    """
    if assign_strategy not in ("expr", "vectorized"):
        raise ValueError(
            f"assign_strategy must be 'expr' or 'vectorized', got {assign_strategy!r}"
        )
    if exact_updates and assign_strategy != "expr":
        raise ValueError(
            "exact_updates requires assign_strategy='expr' (the vectorized "
            "path accumulates float sufficient statistics per batch)"
        )
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
    if assign_strategy == "vectorized":
        return _train_kmeans_vectorized(base, centroids, iters, corpus, id_col)

    def _assign(cents: list[list[float]]):
        dists = [
            F.aggregate(
                F.zip_with(
                    F.col("v"),
                    F.array(*[F.lit(c) for c in cent]),
                    lambda x, y: (x - y) * (x - y),
                ),
                F.lit(0.0),
                lambda acc, d: acc + d,
            )
            for cent in cents
        ]
        pairs = F.array(
            *[
                F.struct(d.alias("dist"), F.lit(i).alias("cluster"))
                for i, d in enumerate(dists)
            ]
        )
        # array_min on structs orders by (dist, cluster): deterministic tie-break
        return base.withColumn("cluster", F.array_min(pairs)["cluster"])

    sum_col = (
        F.sum(F.col("val").cast("decimal(20,12)")) if exact_updates else F.sum("val")
    )
    for _ in range(iters):
        assigned = _assign(centroids)
        stats = (
            assigned.select("cluster", F.posexplode("v").alias("dim", "val"))
            .groupBy("cluster", "dim")
            .agg(sum_col.alias("s"), F.count(F.lit(1)).alias("n"))
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
    corpus: DataFrame,
    id_col: str,
) -> tuple[DataFrame, list[list[float]]]:
    """The ``assign_strategy="vectorized"`` body of :func:`train_kmeans`
    — see its docstring for the contract.  ``base`` is the normalized
    (id, v array<double>) projection; ``corpus``/``id_col`` are only
    needed to carry the id dtype through the Arrow kernel schema."""
    import numpy as np
    import pandas as pd

    id_type = corpus.schema[id_col].dataType.simpleString()

    def _dists(v: "np.ndarray", C: "np.ndarray") -> "np.ndarray":
        # squared euclidean via the expanded form: one BLAS matmul per
        # batch instead of a (batch, k, dim) difference tensor, so peak
        # memory stays O(batch·k) at any k
        return (
            (v * v).sum(axis=1)[:, None]
            - 2.0 * (v @ C.T)
            + (C * C).sum(axis=1)[None, :]
        )

    def _assign_vec(cents: list[list[float]]) -> DataFrame:
        C = np.array(cents, dtype=np.float64)

        def kern(batches):
            for pdf in batches:
                if pdf.empty:
                    continue
                v = np.array(pdf["v"].tolist(), dtype=np.float64)
                # argmin returns the FIRST minimal index: same lowest-
                # cluster tie-break as the expr path's array_min struct
                yield pd.DataFrame(
                    {
                        "id": pdf["id"],
                        "cluster": _dists(v, C).argmin(axis=1).astype("int32"),
                    }
                )

        return base.mapInPandas(kern, f"id {id_type}, cluster int")

    def _partial_stats(cents: list[list[float]]) -> DataFrame:
        C = np.array(cents, dtype=np.float64)

        def kern(batches):
            for pdf in batches:
                if pdf.empty:
                    continue
                v = np.array(pdf["v"].tolist(), dtype=np.float64)
                a = _dists(v, C).argmin(axis=1)
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
    return _assign_vec(centroids).select("id", "cluster"), centroids


def semantic_dedup(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 3,
    threshold: float = 0.995,
    assign_strategy: str = "expr",
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
    k so cells stay bounded (``assign_strategy="vectorized"`` keeps the
    quantizer viable at the hundreds of cells that implies — see
    :func:`train_kmeans`; ``exact_updates`` passes through for the
    oracle-replayable trainer).  Candidate ids expand from ONE shuffle of
    the narrow (cluster, id) rows (same grouped i<j expansion as the
    LSH paths); vectors re-enter by id only for candidate pairs, with
    shuffle_hash so the corpus side can never be mis-broadcast.
    Returns ``corpus``'s schema filtered to survivors.
    """
    from gmail_etl_spark.operators.dedup import near_dedup

    assign, _ = train_kmeans(
        corpus, id_col, vec_col, k=k, iters=iters,
        assign_strategy=assign_strategy, exact_updates=exact_updates,
    )
    ids = assign.select(F.col("cluster"), F.col("id"))
    candidates = (
        ids.groupBy("cluster")
        .agg(F.collect_list("id").alias("ids"))
        .filter(F.size("ids") > 1)
        .select(F.explode(F.expr(_pair_expansion("ids"))).alias("p"))
        .select("p.a_id", "p.b_id")
    )
    # per-vector norms below the join (cosine_topk's pre-norm
    # discipline): a vector in many within-cell pairs pays its norm
    # once, not per pair; dot/(na*nb) is the identical double expression
    vecs = corpus.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
        _norm(F.col(vec_col).cast("array<double>")).alias("nrm"),
    ).hint("shuffle_hash")
    pairs = (
        candidates.join(
            vecs.select(
                F.col("id").alias("a_id"), F.col("v").alias("va"), F.col("nrm").alias("na")
            ),
            "a_id",
        )
        .join(
            vecs.select(
                F.col("id").alias("b_id"), F.col("v").alias("vb"), F.col("nrm").alias("nb")
            ),
            "b_id",
        )
        .filter(
            (_dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))) >= threshold
        )
        .select("a_id", "b_id")
    )
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
    code_cols = []
    for s in range(m):
        sub = F.slice(F.col("v"), s * dsub + 1, dsub)
        pairs = F.array(
            *[
                F.struct(
                    F.aggregate(
                        F.zip_with(
                            sub,
                            F.array(*[F.lit(x) for x in cent]),
                            lambda a, b: (a - b) * (a - b),
                        ),
                        F.lit(0.0),
                        lambda acc, d: acc + d,
                    ).alias("dist"),
                    F.lit(ci).alias("code"),
                )
                for ci, cent in enumerate(codebooks[s])
            ]
        )
        code_cols.append(F.array_min(pairs)["code"])
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
    import numpy as np
    import pandas as pd

    m = len(codebooks)
    dsub = len(codebooks[0][0])
    enc = pq_encode(corpus, codebooks, id_col, vec_col)
    q_rows = (
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).cast("array<double>").alias("v"),
        )
        .orderBy("query_id")
        .collect()
    )
    q_ids = [r["query_id"] for r in q_rows]
    # (n_queries, m, ksub) LUT tensor: exact subvector→centroid distances.
    luts = np.asarray(
        [
            [
                ((np.asarray(codebooks[s], dtype=np.float64)
                  - np.asarray(r["v"], dtype=np.float64)[s * dsub : (s + 1) * dsub][None, :])
                 ** 2).sum(axis=1)
                for s in range(m)
            ]
            for r in q_rows
        ]
    )
    kk = k * rerank

    def _adc_kernel(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf["id"].to_numpy()
            codes = np.array(pdf["codes"].tolist(), dtype=np.int64)  # (batch, m)
            out_q, out_n, out_d = [], [], []
            for qi, qid in enumerate(q_ids):
                # gather-sum: adist[i] = Σ_s lut[s, codes[i, s]]
                ad = luts[qi][np.arange(m)[None, :], codes].sum(axis=1)
                mask = ids != qid
                cand_ids, cand_d = ids[mask], ad[mask]
                if len(cand_ids) > kk:
                    order = np.lexsort((cand_ids, np.round(cand_d, 6)))[:kk]
                else:
                    order = np.arange(len(cand_ids))
                out_q.extend([qid] * len(order))
                out_n.extend(cand_ids[order])
                out_d.extend(cand_d[order])
            yield pd.DataFrame(
                {"query_id": out_q, "neighbor_id": out_n, "adist": out_d}
            )

    id_type = queries.schema[id_col].dataType.simpleString()
    nbr_type = corpus.schema[id_col].dataType.simpleString()
    partials = enc.mapInPandas(
        _adc_kernel,
        f"query_id {id_type}, neighbor_id {nbr_type}, adist double",
    )
    w_short = Window.partitionBy("query_id").orderBy(
        F.asc("adist"), F.asc("neighbor_id")
    )
    shortlist = (
        partials.withColumn("adist", F.round("adist", 6))
        .withColumn("_rn", F.row_number().over(w_short))
        .filter(F.col("_rn") <= kk)
        .drop("_rn")
    )
    # Exact re-rank: fetch candidate vectors (broadcast the tiny
    # shortlist into the corpus scan) and score against the exact query
    # vector, carried as a second broadcast column.
    spark = corpus.sparkSession
    qvec_df = spark.createDataFrame(
        [(r["query_id"], [float(x) for x in r["v"]]) for r in q_rows],
        f"query_id {id_type}, q_vec array<double>",
    )
    cvecs = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("c_vec"),
    )
    dist = F.aggregate(
        F.zip_with(F.col("q_vec"), F.col("c_vec"), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, d: acc + d,
    )
    w_final = Window.partitionBy("query_id").orderBy(F.asc("dist"), F.asc("neighbor_id"))
    return (
        cvecs.join(F.broadcast(shortlist), "neighbor_id")
        .join(F.broadcast(qvec_df), "query_id")
        .select("query_id", "neighbor_id", "adist", F.round(dist, 6).alias("dist"))
        .withColumn("rank", F.row_number().over(w_final))
        .filter(F.col("rank") <= k)
    )


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
    assign_strategy: str = "expr",
) -> DataFrame:
    """IVFADC (Jégou et al. 2011): the full big-ANN search architecture —
    an IVF coarse quantizer prunes the corpus to each query's ``nprobe``
    nearest cells, PQ/ADC scores only those rows, and exact L2 re-ranks
    a ``k * rerank`` shortlist.  Compose with :func:`train_kmeans` (the
    cell centroids) and :func:`train_pq` (the codebooks).

    Scale shape: cell assignment is a map-only argmin — over centroid
    literals by default, or inside a numpy/Arrow kernel with
    ``assign_strategy="vectorized"`` (identical assignments by test;
    the large-cell-count form, zero plan literals — see
    :func:`train_kmeans`); either way no join, no shuffle; the ADC
    kernel skips every row
    outside the query's probed cells, so scan cost per query drops by
    ~k_cells/nprobe; per-batch partial top-k bounds the merge shuffle at
    O(n_batches · k·rerank · n_queries); the re-rank pass broadcasts the
    tiny shortlist.  At 100 TB the corpus would be written partitioned
    BY cell so probing prunes parquet partitions instead of filtering
    rows — the plan shape here is the in-memory form of that layout.
    Returns (query_id, neighbor_id, adist, dist, rank)."""
    import numpy as np
    import pandas as pd

    if assign_strategy not in ("expr", "vectorized"):
        raise ValueError(
            f"assign_strategy must be 'expr' or 'vectorized', got {assign_strategy!r}"
        )
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    base = corpus.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    if assign_strategy == "vectorized":
        # large-k form (same trade as train_kmeans's vectorized path):
        # centroids in a kernel closure, one matmul per Arrow batch,
        # zero plan literals; argmin first-occurrence = the expr path's
        # lowest-cell tie-break
        C_cells = np.asarray(centroids, dtype=np.float64)
        c2_cells = (C_cells * C_cells).sum(axis=1)
        corpus_id_type = corpus.schema[id_col].dataType.simpleString()

        def _cell_kern(batches):
            for pdf in batches:
                if pdf.empty:
                    continue
                v = np.array(pdf["v"].tolist(), dtype=np.float64)
                d2 = (
                    (v * v).sum(axis=1)[:, None]
                    - 2.0 * (v @ C_cells.T)
                    + c2_cells[None, :]
                )
                yield pd.DataFrame(
                    {
                        "id": pdf["id"],
                        "v": pdf["v"],
                        "cell": d2.argmin(axis=1).astype("int32"),
                    }
                )

        with_cell = base.mapInPandas(
            _cell_kern, f"id {corpus_id_type}, v array<double>, cell int"
        )
    else:
        # map-only cell assignment compiled from centroid literals
        cell_pairs = F.array(
            *[
                F.struct(
                    F.aggregate(
                        F.zip_with(
                            F.col("v"),
                            F.array(*[F.lit(c) for c in cent]),
                            lambda x, y: (x - y) * (x - y),
                        ),
                        F.lit(0.0),
                        lambda acc, d: acc + d,
                    ).alias("dist"),
                    F.lit(ci).alias("cell"),
                )
                for ci, cent in enumerate(centroids)
            ]
        )
        with_cell = base.withColumn("cell", F.array_min(cell_pairs)["cell"])
    # cell rides along through the encode projection: no join, no shuffle
    enc = pq_encode(with_cell, codebooks, "id", "v", keep_cols=("cell",))

    q_rows = (
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).cast("array<double>").alias("v"),
        )
        .orderBy("query_id")
        .collect()
    )
    q_ids = [r["query_id"] for r in q_rows]
    cents = np.asarray(centroids, dtype=np.float64)
    luts, probes = [], []
    for r in q_rows:
        v = np.asarray(r["v"], dtype=np.float64)
        cd = ((cents - v[None, :]) ** 2).sum(axis=1)
        probes.append(set(np.argsort(cd, kind="stable")[:nprobe].tolist()))
        luts.append(
            [
                ((np.asarray(codebooks[s], dtype=np.float64)
                  - v[s * dsub : (s + 1) * dsub][None, :]) ** 2).sum(axis=1)
                for s in range(m)
            ]
        )
    luts = np.asarray(luts)
    kk = k * rerank

    def _adc_kernel(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf["id"].to_numpy()
            cells = pdf["cell"].to_numpy()
            codes = np.array(pdf["codes"].tolist(), dtype=np.int64)
            out_q, out_n, out_d = [], [], []
            for qi, qid in enumerate(q_ids):
                probe_mask = np.isin(cells, list(probes[qi])) & (ids != qid)
                if not probe_mask.any():
                    continue
                cand_ids = ids[probe_mask]
                ad = luts[qi][np.arange(m)[None, :], codes[probe_mask]].sum(axis=1)
                if len(cand_ids) > kk:
                    order = np.lexsort((cand_ids, np.round(ad, 6)))[:kk]
                else:
                    order = np.arange(len(cand_ids))
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
    w_short = Window.partitionBy("query_id").orderBy(
        F.asc("adist"), F.asc("neighbor_id")
    )
    shortlist = (
        partials.withColumn("adist", F.round("adist", 6))
        .withColumn("_rn", F.row_number().over(w_short))
        .filter(F.col("_rn") <= kk)
        .drop("_rn")
    )
    spark = corpus.sparkSession
    qvec_df = spark.createDataFrame(
        [(r["query_id"], [float(x) for x in r["v"]]) for r in q_rows],
        f"query_id {id_type}, q_vec array<double>",
    )
    cvecs = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("c_vec"),
    )
    dist = F.aggregate(
        F.zip_with(F.col("q_vec"), F.col("c_vec"), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, d: acc + d,
    )
    w_final = Window.partitionBy("query_id").orderBy(F.asc("dist"), F.asc("neighbor_id"))
    return (
        cvecs.join(F.broadcast(shortlist), "neighbor_id")
        .join(F.broadcast(qvec_df), "query_id")
        .select("query_id", "neighbor_id", "adist", F.round(dist, 6).alias("dist"))
        .withColumn("rank", F.row_number().over(w_final))
        .filter(F.col("rank") <= k)
    )


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
    assign_strategy: str = "expr",
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
        assign_strategy=assign_strategy,
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
    probe_strategy: str = "expr",
    rank_strategy: str = "expr",
    max_queries: int | None = 1024,
) -> DataFrame:
    """Query the persisted index: assign each query to its ``nprobe``
    nearest centroids, scan ONLY the probed partitions (`cluster IN
    (...)` reaches the reader as a partition filter), and rank exact
    cosine within the per-query probed cells under the (sim DESC, id)
    total order.  The collected probe set is bounded by k_cells — the
    same bounded-scalar contract as the query set itself.  Results are
    identical to running the same nprobe IVF search in one job; the
    test asserts it row-for-row.

    ``probe_strategy`` mirrors :func:`train_kmeans`'s
    ``assign_strategy``: ``"expr"`` (default) compiles the centroids
    into the plan as k_cells×dim literals — right while the cell count
    is small; ``"vectorized"`` collects the (small-by-contract) query
    set, picks each query's ``nprobe`` cells with one numpy matmul on
    the driver, and re-enters the plan as a q×nprobe-row DataFrame —
    the probe step carries zero centroid literals, so plan size is
    independent of k_cells.  Both order probes by (distance rounded to
    9 places, cell id), so the probed cells are identical.

    ``rank_strategy`` picks the within-cell ranking kernel over the
    SAME candidate set (probed cells minus the query itself, under the
    (sim rounded to 6 DESC, neighbor id) total order, row-identical by
    test): ``"expr"`` (default) joins queries to probed vectors and
    ranks with the codegen cosine; ``"vectorized"`` closes the
    (bounded) query set over a ``mapInPandas`` kernel — one numpy
    matmul per probed Arrow batch with per-batch partial top-k, the
    :func:`cosine_topk_vectorized` discipline, so the probed scan's
    byte savings are not given back as per-row expression overhead at
    wide dims.  ``"auto"`` routes on the measured crossover (DEVNOTES):
    once the per-query probe sets union to ~the whole cell space
    (``n_queries × nprobe >= k_cells``), the join path materializes
    nearly query×corpus candidate rows and the matmul kernel wins;
    below it, partition pruning dominates and the join path wins.

    ``max_queries`` enforces the bounded-queries contract: both
    vectorized paths COLLECT the query set to the driver, so a caller
    accidentally passing a corpus-sized frame must fail loudly (raise),
    never silently collect — the check is a ``limit(max_queries+1)``
    count, so it costs O(max_queries) rows even on an unbounded input.
    ``None`` disables the guard (caller takes responsibility)."""
    if probe_strategy not in ("expr", "vectorized"):
        raise ValueError(
            f"probe_strategy must be 'expr' or 'vectorized', got {probe_strategy!r}"
        )
    if rank_strategy not in ("expr", "vectorized", "auto"):
        raise ValueError(
            "rank_strategy must be 'expr', 'vectorized' or 'auto', "
            f"got {rank_strategy!r}"
        )
    cents = sorted(
        (r["cluster"], list(r["centroid"]))
        for r in spark.read.parquet(f"{path}/centroids").collect()
    )
    n_q: int | None = None
    if probe_strategy == "vectorized" or rank_strategy in ("vectorized", "auto"):
        cap = max_queries if max_queries is not None else 1_000_000
        n_q = queries.limit(cap + 1).count()
    if rank_strategy == "auto":
        rank_strategy = "vectorized" if n_q * nprobe >= len(cents) else "expr"
    if (
        max_queries is not None
        and n_q is not None
        and n_q > max_queries
        and (probe_strategy == "vectorized" or rank_strategy == "vectorized")
    ):
        raise ValueError(
            f"query_ivf_index: query set has >{max_queries} rows but a "
            "vectorized strategy collects queries to the driver — pass a "
            "bounded query frame, raise max_queries explicitly, or use "
            "probe_strategy='expr', rank_strategy='expr' (fully "
            "distributed, no collect)"
        )

    def dist2(vec: Column, c: list[float]) -> Column:
        return F.aggregate(
            F.zip_with(
                vec,
                F.array(*[F.lit(x) for x in c]),
                lambda x, y: (x - y) * (x - y),
            ),
            F.lit(0.0),
            lambda acc, d: acc + d,
        )

    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("q_vec"),
    )
    if probe_strategy == "vectorized":
        import numpy as np

        q_id_type = queries.schema[id_col].dataType.simpleString()
        q_rows = q.collect()
        cell_ids = np.array([ci for ci, _ in cents], dtype=np.int64)
        C = np.array([c for _, c in cents], dtype=np.float64)
        probe_rows = []
        for r in q_rows:
            v = np.array(r["q_vec"], dtype=np.float64)
            d2 = np.round(((C - v[None, :]) ** 2).sum(axis=1), 9)
            # (rounded distance, cell id) ascending — the expr path's
            # array_sort(struct(d, cell)) order, so probes match exactly
            order = np.lexsort((cell_ids, d2))[:nprobe]
            for ci in cell_ids[order]:
                probe_rows.append((r["query_id"], list(r["q_vec"]), int(ci)))
        scored_cells = spark.createDataFrame(
            probe_rows,
            f"query_id {q_id_type}, q_vec array<double>, cluster int",
        )
    else:
        scored_cells = q.select(
            "query_id",
            "q_vec",
            F.slice(
                F.array_sort(
                    F.array(
                        *[
                            F.struct(
                                F.round(dist2(F.col("q_vec"), c), 9).alias("d"),
                                F.lit(ci).alias("cell"),
                            )
                            for ci, c in cents
                        ]
                    )
                ),
                1,
                nprobe,
            ).alias("probes"),
        ).select(
            "query_id", "q_vec", F.explode("probes.cell").alias("cluster")
        )
    probe_set = sorted(
        {r["cluster"] for r in scored_cells.select("cluster").distinct().collect()}
    )
    vectors = spark.read.parquet(f"{path}/vectors").filter(
        F.col("cluster").isin(probe_set)
    )
    from pyspark.sql import Window as W

    if rank_strategy == "vectorized":
        import numpy as np
        import pandas as pd

        q_id_type2 = queries.schema[id_col].dataType.simpleString()
        c_id_type = vectors.schema[id_col].dataType.simpleString()
        per_q: dict = {}
        for r in scored_cells.select(
            "query_id", "q_vec", "cluster"
        ).collect():  # bounded: q × nprobe rows
            vec, cells = per_q.setdefault(
                r["query_id"], (list(r["q_vec"]), set())
            )
            cells.add(r["cluster"])
        if not per_q:
            # empty query set: empty result with the join path's schema,
            # not a driver-side numpy AxisError
            return vectors.select(
                F.col(id_col).cast(q_id_type2).alias("query_id"),
                F.col(id_col).alias("neighbor_id"),
                F.lit(0.0).alias("sim"),
                F.lit(1).alias("rank"),
            ).limit(0)
        q_ids = list(per_q)
        q_mat = np.array([per_q[q][0] for q in q_ids], dtype=np.float64)
        q_norms = np.linalg.norm(q_mat, axis=1, keepdims=True)
        np.divide(q_mat, q_norms, out=q_mat, where=q_norms > 0)
        q_ids = np.array(q_ids)
        # same candidate set as the join path: rows in a query's probed
        # cells.  ``vectors`` holds only probe_set cells, so a row's
        # cluster indexes a column of this (query, probed cell) matrix.
        probe_cells = np.array(probe_set, dtype=np.int64)
        probed = np.zeros((len(q_ids), len(probe_cells)), dtype=bool)
        for j, (_, q_cells) in enumerate(per_q.values()):
            probed[j, np.searchsorted(probe_cells, list(q_cells))] = True

        def _kern(batches):
            for pdf in batches:
                if pdf.empty:
                    continue
                ids = pdf["__nid"].to_numpy()
                cand = probed[
                    :, np.searchsorted(probe_cells, pdf["cluster"].to_numpy())
                ]
                c = np.array(pdf["__cvec"].tolist(), dtype=np.float64)
                norms = np.linalg.norm(c, axis=1, keepdims=True)
                np.divide(c, norms, out=c, where=norms > 0)
                sims = c @ q_mat.T  # (batch, n_queries)
                qi, ri, sim = _batch_topk(ids, sims, q_ids, k, cand)
                yield pd.DataFrame(
                    {"query_id": q_ids[qi], "neighbor_id": ids[ri], "sim": sim}
                )

        partials = vectors.select(
            F.col(id_col).alias("__nid"),
            F.col(vec_col).cast("array<double>").alias("__cvec"),
            "cluster",
        ).mapInPandas(
            _kern,
            f"query_id {q_id_type2}, neighbor_id {c_id_type}, sim double",
        )
        w = W.partitionBy("query_id").orderBy(
            F.desc("sim"), F.asc("neighbor_id")
        )
        return (
            partials.withColumn("sim", F.round("sim", 6))
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
        )

    joined = scored_cells.join(vectors, "cluster").filter(
        F.col("query_id") != F.col(id_col)
    )
    sim = F.round(cosine(F.col("q_vec"), F.col(vec_col)), 6)
    w = W.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    return (
        joined.select(
            "query_id", F.col(id_col).alias("neighbor_id"), sim.alias("sim")
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
