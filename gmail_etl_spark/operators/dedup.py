"""Deduplication operators at training-data scale (SURVEY §2.8 D1/D2).

Generalizes the reference's only join — the ledger anti-join dedup
(``resources/gmail_functions.py:115-126,172-178``; ``init.sql:25-28``) —
into the dedup family a 100 TB text pipeline needs:

* **exact**: content-hash groupBy (one shuffle on a 32-byte key);
* **near-dup MinHash+LSH**: shingle → minhash signature → band buckets →
  candidate join → exact-Jaccard verify.  Everything is built from
  JVM-side expressions (``xxhash64`` as the seeded hash family) — no
  Python in the path, no driver-side state, and the only shuffles are
  the band-bucket groupBys whose keys are (band, bucket-hash), which is
  uniform by construction;
* **SimHash**: 64-bit near-dup signature via per-token hash bit voting;
* **exact Jaccard**: token-level pair verification (the oracle for the
  approximate paths).

All operators take/return DataFrames so they compose with the rest of
the catalog.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# D1 — exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(df: DataFrame, id_col: str, content_col: str) -> DataFrame:
    """Canonical row per distinct content: min id wins.

    Returns (content_hash, canonical_id, dup_count).  At 100 TB the
    groupBy shuffles 32-byte hashes + ids only — content bytes never
    move (Catalyst prunes them after the hash projection).
    """
    return (
        df.select(
            F.sha2(F.col(content_col), 256).alias("content_hash"),
            F.col(id_col).alias("_id"),
        )
        .groupBy("content_hash")
        .agg(
            F.min("_id").alias("canonical_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


# ---------------------------------------------------------------------------
# shingling + MinHash (D2)
# ---------------------------------------------------------------------------


def _tokens(text: Column) -> Column:
    return F.split(text, " ")


def _let(value: Column, body) -> Column:
    """``body(value)`` with ``value`` evaluated ONCE and bound to the
    lambda variable — a one-element ``transform`` is the only let-binding
    Spark expressions have, and higher-order functions are interpreted
    (no common-subexpression elimination), so an expression captured
    inside a lambda is otherwise re-evaluated on every invocation."""
    return F.element_at(F.transform(F.array(value), body), 1)


def shingles(text: Column, k: int = 3) -> Column:
    """Distinct k-token shingles as an array column (JVM-side).

    The token array is bound once with :func:`_let` and the size, the
    index sequence and every shingle's ``slice`` read that bound array.
    Capturing the inlined ``split`` inside the per-shingle lambda instead
    re-splits the whole document once per shingle (the lambda is
    interpreted, nothing deduplicates it), which makes shingling
    quadratic in document length: at 180k total tokens, 2,000-token
    documents took 6.6 s that way against 0.20 s bound once (4 vCPUs).
    The shingle strings are byte-identical either way.

    ``k < 1`` raises ``ValueError``: ``k=0`` would make every document's
    shingle set ``{""}`` (so every pair scores Jaccard 1.0), and a
    negative ``k`` fails at action time inside ``slice``."""
    if k < 1:
        raise ValueError(f"shingle size k must be >= 1, got {k}")

    def body(toks: Column) -> Column:
        n = F.size(toks)
        return F.when(
            n >= k,
            F.transform(
                F.sequence(F.lit(0), n - k),
                lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)),
            ),
        ).otherwise(F.array(F.concat_ws(" ", toks)))

    return F.array_distinct(_let(_tokens(text), body))


#: Mersenne prime 2^31−1 for the universal-hash permutation family.
_MH_P = (1 << 31) - 1


def _sha_base31(s: Column) -> Column:
    """Portable base hash: first 8 hex nibbles of sha256 as an int in
    [0, 2^32), reduced mod 2^31−1.

    This is the cross-engine hash recipe (see q145's feature hashing):
    DuckDB recomputes the identical value with
    ``strpos('0123456789abcdef', substr(sha256(s), i, 1))`` nibble
    arithmetic, so a MinHash pipeline built on this base is exactly
    replayable by a SQL oracle.  ~40× slower per shingle than xxhash64
    (crypto hash + hex parse), so it is the ORACLE family, not the
    production default."""
    return F.pmod(
        F.conv(F.substring(F.sha2(s, 256), 1, 8), 16, 10).cast("long"),
        F.lit(_MH_P),
    )


def _mh_ab(i: int) -> tuple[int, int]:
    """Deterministic (a, b) for permutation i: golden-ratio / xxhash
    avalanche constants spread over [1, p) — fixed, no random state."""
    a = (i * 0x9E3779B97F4A7C15 + 0x632BE59BD9B4E019) % (_MH_P - 1) + 1
    b = (i * 0xC2B2AE3D27D4EB4F + 0x165667B19E3779F9) % _MH_P
    return a, b


def _sig_from_base(base: Column, n_hashes: int) -> Column:
    """Signature array from a PRE-HASHED base array (values in [0, p)):
    n_hashes Carter–Wegman permutation minima, folded in ONE pass.

    Each shingle is string-hashed ONCE upstream (→ [0, p), p = 2^31−1;
    see ``_lsh_sigs``), then permutation i is the universal-hash map
    h ↦ (a_i·h + b_i) mod p (Carter–Wegman; the standard MinHash family,
    e.g. Broder 1997) — integer ops over the pre-hashed array instead of
    re-hashing every string n_hashes times, which profiling showed
    dominated the LSH stage.  a_i·h < 2^31·2^31 = 2^62 keeps the product
    inside long range, so ANSI arithmetic never overflows.  Constants
    are fixed avalanche mixes of i (:func:`_mh_ab`) — deterministic
    across sessions.

    Two layers of per-row-work discipline (both measured on the 100k-doc
    bench, identical bucket checksums):

    * ``base`` should be a bare column reference — HOFs are interpreted
      (no codegen), so common-subexpression elimination never
      deduplicates an inlined base and an embedded hash chain would be
      re-evaluated per permutation (see ``_lsh_sigs``).
    * The fold is a single ``aggregate`` over ``base`` carrying all
      n_hashes running minima (``acc[i] = min(acc[i], (a_i·h+b_i) mod
      p)``), instead of n_hashes separate ``array_min(transform(...))``
      traversals — one pass and one accumulator allocation per element
      vs n_hashes full-array materializations per row (interleaved med
      1.92 → 1.70 s on the sig+bucket stage).

    Equivalence with the per-permutation ``array_min`` form: identical
    minima for any non-empty base (``shingles`` guarantees ≥1 element
    per row, so the empty-array corner — null under array_min, the p
    sentinel under the fold — is unreachable); p itself is never a hash
    value since pmod yields [0, p).  On degenerate input the fold's
    conventions hold: an EMPTY base yields an array of the 2^31−1
    sentinel (the fold's init value), and a NULL base yields NULL.  Gate
    degenerate rows upstream if a caller needs another convention."""
    a_arr = F.array(*[F.lit(_mh_ab(i)[0]) for i in range(n_hashes)])
    b_arr = F.array(*[F.lit(_mh_ab(i)[1]) for i in range(n_hashes)])
    init = F.transform(
        F.sequence(F.lit(0), F.lit(n_hashes - 1)),
        lambda _: F.lit(_MH_P).cast("long"),
    )
    return F.aggregate(
        base,
        init,
        lambda acc, h: F.zip_with(
            acc,
            F.zip_with(a_arr, b_arr, lambda a, b: F.pmod(h * a + b, F.lit(_MH_P))),
            lambda mn, v: F.least(mn, v),
        ),
    )


def _score_barrier(x: Column, seed: int = 42) -> Column:
    """Pass-through for a similarity/Jaccard score column that stops the
    optimizer from duplicating the (non-cheap) score expression.

    ``x - rand(seed) * 0.0`` is value-identical to ``x`` for EVERY input:
    ``rand`` lies in [0, 1), so the product is always +0.0, and
    subtracting +0.0 returns any double unchanged — ±0.0, ±Infinity and
    NaN included — while a NULL score stays NULL.  There is no domain
    precondition and no threshold a caller could pick that lets the rand
    draw decide a row.  But the expression is NON-DETERMINISTIC, which
    (a) stops CollapseProject from inlining the score back over its
    materialized inputs and (b) stops PushPredicateThroughNonJoin from
    cloning a ``score >= threshold`` filter (and with it the full score
    expression) into the join condition below.  Without it, the
    committed r12 plan evaluated
    ``array_intersect`` up to 4× per verified pair: twice inside the
    join condition (no subexpression elimination there) and twice more
    in the output projection (see
    ``plans/r12/near_dedup_pairs_subplan_after.txt:140-143``); measured
    on the 100k-doc bench verify stage at 8 cores: med 0.871 → 0.541 s,
    faster 6/6 interleaved rounds, identical (count, xor) checksums
    (``OPTIMIZATION_r13.md`` §1; guide §1.2 per-task work and §4.4's
    mark-non-deterministic-to-stop-duplication principle applied to a
    JVM expression).  A plain ``rand() < -1`` OR-guard on the filter
    does NOT work: Spark 4 folds comparisons outside Rand's known
    [0, 1) range.  Under task retries a re-drawn rand changes nothing,
    since the product is +0.0 for every draw."""
    return x - F.rand(seed) * F.lit(0.0)


def _pair_expansion(ids: str) -> str:
    """Canonical i<j pair expansion of an array column as a codegen'd
    SQL expression — THE single definition (also used by
    ``jaccard_pairs`` and ``semantic_dedup``); emits
    struct(a_id, b_id) with least/greatest canonicalization."""
    return (
        f"flatten(transform({ids}, (x, i) ->"
        f" transform(slice({ids}, i + 2, size({ids}) - i - 1),"
        f" y -> struct(least(x, y) as a_id, greatest(x, y) as b_id))))"
    )


def capped_pair_candidates(
    buckets: DataFrame, max_bucket: int, complete: bool = False
) -> DataFrame:
    """i<j pair expansion of per-bucket id lists, with oversized buckets
    split into sub-buckets of at most ``max_bucket`` ids.

    Input: (band, bucket, ids) with ``size(ids) > 1``.  Output: deduped
    (a_id, b_id) candidate pairs.

    Unbounded expansion of a hot bucket — an adversarial corpus can put
    thousands of near-identical docs in ONE bucket — is O(B²) pairs in a
    single task.  Chunking caps that at O(B · max_bucket) per bucket:
    ids are ordered by a per-(band, bucket)-salted xxhash64 and sliced
    into ceil(B / max_bucket) chunks, each expanded independently.  The
    recall trade: a pair surfaces only when some band co-chunks it, but
    because the salt differs per band, the chunk partitions are
    independent across bands — a clique bigger than max_bucket stays one
    connected component through cross-band chunk overlap even though not
    every pair is emitted (each chunk is a clique of max_bucket; the
    union over bands of independent chunk-partitions of the same id set
    is connected with overwhelming probability).

    **The default mode is therefore only sound for callers with MULTIPLE
    independent bands** (MinHash LSH, hyperplane LSH).  A caller whose
    guarantee requires EVERY bucket-cohabiting pair to surface — an
    exact join where a pair may share exactly one bucket
    (``jaccard_pairs_prefix``), or a pigeonhole recall proof
    (``dhash_near_dup_pairs``) — must pass ``complete=True``: oversized
    buckets are then expanded over all chunk PAIRS (within-chunk i<j
    plus full cross-chunk products), which emits every pair exactly at
    the same O(B²) total work as the uncapped form but bounds per-task
    materialization at O(max_bucket²) instead of O(B²).  Size
    ``max_bucket`` so max_bucket² structs fit a task (~1024 → ≈16 MB).

    The common case barely pays for the cap in either mode: the CASE's
    THEN branch for an in-budget bucket is a bare ``array(ids)`` wrap
    (one chunk, one (0,0) index pair under ``complete``), so codegen
    never touches the salt/sort machinery unless the bucket is actually
    oversized.  (Catalyst's InferFiltersFromGenerate inlines a
    ``size(CASE ...) > 0`` predicate under the explode, but that too
    only evaluates the trivial THEN arm per normal bucket — measured
    ~0.5 s on the 100k-doc bench vs the uncapped r1 expansion, where the
    earlier always-sort form and a filter-split two-aggregation variant
    cost 2.7 s and 1.4 s respectively.)

    ``max_bucket < 2`` raises ``ValueError``: a one-id chunk holds no
    pair, so every oversized bucket would silently emit nothing.
    """
    if max_bucket < 2:
        raise ValueError(f"max_bucket must be >= 2, got {max_bucket}")
    chunks = (
        f"CASE WHEN size(ids) <= {max_bucket} THEN array(ids) "
        f"ELSE transform("
        f"  sequence(0, cast(ceil(size(ids) / cast({max_bucket} AS DOUBLE)) AS INT) - 1),"
        f"  c -> slice("
        f"    transform(array_sort(transform(ids,"
        f"      x -> struct(xxhash64(x, band, bucket) AS h, x AS v))), s -> s.v),"
        f"    c * {max_bucket} + 1, {max_bucket})) END"
    )
    if complete:
        # all chunk pairs (i <= j): within-chunk i<j expansion on the
        # diagonal, full cross product off it — exact coverage with
        # per-task arrays bounded by max_bucket²
        ch = buckets.select(F.expr(chunks).alias("ch"))
        idx = (
            "flatten(transform(sequence(0, size(ch) - 1), i ->"
            " transform(sequence(i, size(ch) - 1), j -> struct(i, j))))"
        )
        chunk_pairs = ch.select("ch", F.explode(F.expr(idx)).alias("pp")).select(
            F.expr("element_at(ch, pp.i + 1)").alias("ca"),
            F.expr("element_at(ch, pp.j + 1)").alias("cb"),
            (F.col("pp.i") == F.col("pp.j")).alias("diag"),
        )
        expand = (
            "CASE WHEN diag THEN " + _pair_expansion("ca") + " ELSE"
            " flatten(transform(ca, x -> transform(cb,"
            " y -> struct(least(x, y) as a_id, greatest(x, y) as b_id)))) END"
        )
        return (
            chunk_pairs.select(F.explode(F.expr(expand)).alias("p"))
            .select("p.a_id", "p.b_id")
            .dropDuplicates(["a_id", "b_id"])
        )
    capped = buckets.select(F.explode(F.expr(chunks)).alias("ids")).filter(
        F.size("ids") > 1
    )
    return (
        capped.select(F.explode(F.expr(_pair_expansion("ids"))).alias("p"))
        .select("p.a_id", "p.b_id")
        .dropDuplicates(["a_id", "b_id"])
    )


def lsh_params_for_recall(
    threshold: float,
    target_recall: float = 0.99,
    max_hashes: int = 256,
) -> tuple[int, int]:
    """Derive (n_hashes, bands) from the LSH S-curve for a target recall.

    A pair with true Jaccard ``j`` collides in at least one of ``b``
    bands of ``r`` rows with probability ``1 − (1 − j^r)^b``.  For each
    ``r`` the minimal band count meeting the recall floor at the
    threshold is ``b(r) = ⌈ln(1−R) / ln(1−t^r)⌉``; among the feasible
    (r, b(r)) with ``r·b(r) ≤ max_hashes`` this picks the LARGEST ``r``
    — the steepest S-curve the signature budget affords (the standard
    rule, e.g. Leskovec/Rajaraman/Ullman, *Mining of Massive Datasets*
    §3.4).  Steeper is strictly better for cost: recall at the
    threshold is pinned by construction, and a larger ``r`` collapses
    the collision probability of sub-threshold pairs (the candidate
    volume the verify join must pay for) — at t=0.5, R=0.99 the budget
    admits r=3/b=35 (105 hashes), whose candidate rate at j=0.25 is
    0.42 vs 0.67 for r=2/b=17.  There is no absolute precision knob
    because none exists: the curve's transition width is bounded below
    by the hash budget, so demanding both 0.99 recall at t and a few-%
    candidate rate at t/2 is infeasible for any (r, b) — callers
    control precision through ``max_hashes``.

    Recall here is per-PAIR.  For cluster integrity the relevant figure
    is per-group: a planted group of ``g`` docs stays one connected
    component unless its surfaced pair graph disconnects, which is
    dominated by one doc losing all ``g−1`` of its pairs — probability
    ≈ ``g·(1−recall)^(g−1)``.  The round-4 diagnosis (split-group rate
    ≈ 7e-5 at 1M docs with the legacy 16-hash/8-band constants) is
    exactly this effect; the default ``target_recall=0.99`` bounds the
    per-group split rate near 1e-17 for g = 10.

    Returns (n_hashes, bands) with ``n_hashes = r · bands``, directly
    usable as ``minhash_lsh_pairs(..., n_hashes=n, bands=b)``; raises
    ``ValueError`` when even r=1 cannot meet the recall within
    ``max_hashes`` rather than silently degrading recall.
    """
    import math

    if not 0.0 < threshold < 1.0:
        raise ValueError(f"threshold must be in (0,1), got {threshold}")
    if not 0.0 < target_recall < 1.0:
        raise ValueError(f"target_recall must be in (0,1), got {target_recall}")
    best: tuple[int, int] | None = None
    # scan every rows-per-band the budget could host (b >= 1 forces
    # r <= max_hashes) — at high thresholds the steepest feasible curve
    # sits far above small-r territory (e.g. t=0.99 admits r > 100)
    for r in range(1, max_hashes + 1):
        p_hi = threshold**r
        denom = math.log1p(-p_hi)  # log(1 - p_hi), exact for tiny p_hi
        if denom == 0.0:
            break  # t^r underflowed — no band count can meet the recall
        # minimal bands meeting the recall: 1-(1-p_hi)^b >= R
        b = max(1, math.ceil(math.log(1.0 - target_recall) / denom))
        n = r * b
        if n <= max_hashes:
            best = (n, b)  # larger r always wins — keep scanning up
    if best is None:
        raise ValueError(
            f"no (rows, bands) within max_hashes={max_hashes} meets "
            f"recall>={target_recall} at threshold={threshold}; raise "
            "max_hashes"
        )
    return best


def _check_hash_family(hash_family: str) -> None:
    """Reject a ``hash_family`` the LSH kernels do not implement (a typo
    would otherwise hash with xxhash64 under the misspelled name)."""
    if hash_family not in ("xxhash64", "sha256"):
        raise ValueError(
            f"hash_family must be 'xxhash64' or 'sha256', got {hash_family!r}"
        )


def _lsh_sigs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    n_hashes: int,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """(id, shingles, sig, hsh) per doc — the per-row stage of the LSH
    pipeline.  Its cost is the ``operators.dedup.signatures`` span of
    ``perfbench/run.py --workload near_dup_batch --trace 1``, which
    times the real operator (this stage plus its eager checkpoint).

    The shingle array is materialized once, then the signature derives
    from the column — otherwise the shingle expression is inlined into
    all n_hashes aggregates and evaluated n_hashes times per row.

    ``hash_family="sha256"`` swaps both hash kernels for the portable
    cross-engine family (signature base = :func:`_sha_base31`; verify
    set elements = the first 16 sha256 hex chars per shingle) so a SQL
    oracle can replay the whole pipeline value-for-value.

    Each shingle string is hashed EXACTLY ONCE: ``hsh`` (the verify-set
    hashes) is materialized first and the signature's base array derives
    from it with integer/substring ops, fed to the permutation fold as a
    materialized ``_base`` column.  Both layers matter because transform/
    array_min are interpreted (no codegen ⇒ no common-subexpression
    elimination): inlining the base chain into the n_hashes permutation
    expressions re-evaluates it per permutation.  Measured on the
    100k-doc bench corpus (sig+bucket stage, best-of-3): inlined-base
    7.13 s, materialized-base-but-rehash 4.26 s, this form 1.80 s —
    identical bucket checksums (guide §1.2 "per-task work", §4 boundary
    discipline applied to JVM expression evaluation).

    Bit-equivalence of deriving base from the DEDUPED ``hsh`` array:
    ``shingles`` is already distinct, so dedup only fires on a 64-bit
    (or 16-hex-char) hash collision between distinct shingles — and the
    signature consumes base only through per-permutation minima, which
    are invariant under dropping duplicate values.
    """
    _check_hash_family(hash_family)
    if hash_family == "sha256":
        hsh = "array_distinct(transform(shingles, s -> substring(sha2(s, 256), 1, 16)))"
        # first 8 hex chars of sha256 are a prefix of the 16 stored in
        # hsh — _sha_base31 recomputed without a second sha2
        base = F.transform(
            F.col("hsh"),
            lambda h: F.pmod(
                F.conv(F.substring(h, 1, 8), 16, 10).cast("long"), F.lit(_MH_P)
            ),
        )
    else:
        hsh = "array_distinct(transform(shingles, s -> xxhash64(s)))"
        base = F.transform(F.col("hsh"), lambda h: F.pmod(h, F.lit(_MH_P)))
    return (
        df.select(
            F.col(id_col).alias("id"), shingles(F.col(text_col), k).alias("shingles")
        )
        .withColumn("hsh", F.expr(hsh))
        .withColumn("_base", base)
        .withColumn("sig", _sig_from_base(F.col("_base"), n_hashes))
        .select("id", "shingles", "sig", "hsh")
    )


def _banded_keys(sigs: DataFrame, n_hashes: int, bands: int) -> DataFrame:
    """(id, bucket) band-key rows from banded signatures — one row per
    (doc, band), the per-doc half of the LSH bucket join.

    The band index is FUSED into the bucket hash (the band literal
    seeds xxhash64), so a collision key is one long instead of an
    (int, long) pair — cross-band bucket merges need a 64-bit hash
    collision (~n_buckets²/2⁶⁵) and would only add candidates that the
    exact verify then filters.  Shared by :func:`_lsh_buckets` (batch
    grouping) and the streaming near-dup index (probe/store keys), so
    the two can never desync on the key definition."""
    if not 1 <= bands <= n_hashes or n_hashes % bands != 0:
        # bands > n_hashes would give rows_per_band = 0 (every band's
        # bucket a constant — the whole corpus in one bucket per band);
        # a non-divisor would silently drop trailing signature hashes
        raise ValueError(
            f"bands must divide n_hashes with 1 <= bands <= n_hashes; "
            f"got n_hashes={n_hashes}, bands={bands}"
        )
    rows_per_band = n_hashes // bands
    return sigs.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.xxhash64(
                        F.lit(b),
                        *[F.col("sig")[b * rows_per_band + r] for r in range(rows_per_band)],
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bucket"),
    )


def _lsh_buckets(sigs: DataFrame, n_hashes: int, bands: int) -> DataFrame:
    """(band, bucket, ids) collision buckets from banded signatures —
    the one LSH shuffle (see :func:`_banded_keys` for the fused-key
    rationale).  The constant band column keeps
    ``capped_pair_candidates``' (band, bucket, ids) contract; per-band
    salt independence survives because the bucket value itself differs
    per band.
    """
    return (
        _banded_keys(sigs, n_hashes, bands).groupBy("bucket")
        .agg(F.collect_list("id").alias("ids"))
        .filter(F.size("ids") > 1)
        .select(F.lit(0).alias("band"), "bucket", "ids")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    n_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    max_bucket: int = 512,
    broadcast_verify: bool = False,
    target_recall: float | None = None,
    max_hashes: int = 256,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Near-duplicate pairs via MinHash + banded LSH + exact verify.

    rows-per-band = n_hashes / bands; a pair collides in some band with
    probability 1-(1-j^r)^b (j = true Jaccard).  Candidates are verified
    with exact shingle-Jaccard so the output has no false positives —
    recall is the only approximation (SURVEY D2).

    Scale shape: candidate pairs come from ONE shuffle of the narrow
    (id, band, bucket) rows — groupBy bucket, collect the id list,
    expand i<j pairs with a JVM higher-order function.  A self-join
    would shuffle the banded rows twice for the same key distribution;
    a hot bucket lands on a single task either way (hash relation vs
    collected array — same O(bucket) memory), so the group form is
    strictly cheaper; buckets over ``max_bucket`` ids are split into
    salted sub-buckets so per-task pair expansion is O(B·max_bucket),
    not O(B²), on adversarial corpora (see
    ``capped_pair_candidates``).  Verification then joins the
    xxhash64-hashed shingle sets — longs, not strings — by id for the
    surviving candidates only: shuffle volume is O(candidates × k·8
    bytes), ~5× smaller than shipping string shingles, and
    array_intersect compares longs.  Jaccard over hashed sets equals
    string-set Jaccard absent 64-bit collisions (~n²/2⁶⁵).

    ``target_recall`` overrides (n_hashes, bands) with the S-curve
    parameterization from ``lsh_params_for_recall`` — the preset for a
    corpus-scale recall guarantee instead of hand-tuned constants —
    within the ``max_hashes`` signature budget (so the caller's compute
    ceiling passes through instead of being silently replaced by the
    library default; ``max_hashes`` is only consulted on this path).

    ``hash_family="sha256"`` swaps the signature base hash and the
    verify-set hash for the portable cross-engine family (see
    :func:`_sha_base31`): every value in the pipeline is then exactly
    recomputable by a DuckDB oracle, which is how catalog row q44 is
    hash-oracled.  The band-bucket fusion stays xxhash64 — grouping by
    the fused hash equals grouping by the (band, signature-slice) tuple
    itself absent a 64-bit collision among the corpus' band keys
    (~n_keys²/2⁶⁵, and deterministic per corpus), so the oracle replays
    it as tuple equality.
    """
    _check_threshold(threshold)
    if target_recall is not None:
        n_hashes, bands = lsh_params_for_recall(
            threshold, target_recall, max_hashes=max_hashes
        )
    # The signature frame feeds TWO sub-plans (band buckets and the
    # verify side), and without a barrier each recomputes the full
    # shingle+hash pass over the corpus.  localCheckpoint materializes
    # the narrow (id, sig, hsh) frame once — shingles are dropped first,
    # they never leave this stage — measured −1.5 s median on the
    # 100k-doc bench entry (interleaved A/B, 5/6 rounds faster; guide §5
    # cache-vs-recompute rule: the string shingling is the expensive
    # pass).  At cluster scale the materialized frame is ~300 B/doc in
    # executor memory/disk, replacing a second full text pass.  This
    # makes the builder EAGER (the signature pass runs at plan-build
    # time).
    #
    # Fault-tolerance caveat (ADVICE r12): localCheckpoint is
    # NON-RELIABLE — lineage is truncated, so losing an executor between
    # build and action fails the downstream job instead of recomputing,
    # and the checkpointed storage lives until the executors do (an
    # unpersist handle would be unsafe: releasing blocks whose lineage
    # is gone breaks every later action on the returned frame).  A
    # session-level reliable checkpoint mode is ROADMAP direction 6.
    sigs = (
        _lsh_sigs(df, id_col, text_col, k, n_hashes, hash_family)
        .select("id", "sig", "hsh")
        .localCheckpoint(eager=True)
    )
    return _pairs_from_sigs(
        sigs, n_hashes, bands, threshold, max_bucket, broadcast_verify
    )


def _pairs_from_sigs(
    sigs: DataFrame,
    n_hashes: int,
    bands: int,
    threshold: float,
    max_bucket: int,
    broadcast_verify: bool = False,
) -> DataFrame:
    """Bucket → candidate-pair → exact-verify stages of
    :func:`minhash_lsh_pairs`, taking a PRECOMPUTED ``_lsh_sigs`` frame.
    Module-level so the streaming near-dup index can reuse one persisted
    signature frame across the history probe and the in-batch pairing
    instead of recomputing shingles+minhash per sub-plan; the (k,
    n_hashes, hash_family) used to build ``sigs`` are the caller's
    contract."""
    buckets = _lsh_buckets(sigs, n_hashes, bands)
    candidates = capped_pair_candidates(buckets, max_bucket)
    # Verify-join strategy.  Default: the verify side is corpus-sized,
    # so hint shuffle-hash — the planner must never attempt a broadcast
    # off a bad size estimate (range/explode-derived stats wildly
    # under-count array payloads), and at 100 TB the hashed-shingle
    # table is terabytes.  ``broadcast_verify=True`` is the caller's
    # assertion that the table fits executor memory (≈ n_docs ×
    # avg_shingles × 8 B; e.g. 100k docs × 28 shingles ≈ 25 MB): then
    # ONE broadcast replaces two candidate-side shuffles — measured
    # ~1.5 s (25%) on the 100k-doc bench.  Same join keys either way;
    # output is strategy-independent.
    sh = sigs.select("id", F.col("hsh").alias("set"))
    sh = F.broadcast(sh) if broadcast_verify else sh.hint("shuffle_hash")
    return _jaccard_verify(candidates, sh, sh, threshold)


def _check_threshold(threshold: float) -> None:
    """Reject a Jaccard threshold outside [0, 1], NaN included: above 1
    the prefix filter's slice length goes negative and fails at action
    time without a name, and NaN compares false against every score, so
    a verify join would silently return nothing."""
    if not 0.0 <= threshold <= 1.0:
        raise ValueError(f"Jaccard threshold must be in [0, 1], got {threshold!r}")


def _jaccard(inter: Column, a_n: Column, b_n: Column) -> Column:
    """Set Jaccard from the intersection size and the two set sizes:
    ``inter / (a_n + b_n − inter)``, the union by inclusion–exclusion."""
    return inter.cast("double") / (a_n + b_n - inter).cast("double")


def _jaccard_verify(
    cands: DataFrame, a_side: DataFrame, b_side: DataFrame, threshold: float
) -> DataFrame:
    """Exact-Jaccard verify join — the one kernel behind the LSH pairs
    (:func:`_pairs_from_sigs`), the prefix-filter join
    (:func:`jaccard_pairs_prefix`) and the streaming near-dup index
    probe.

    ``cands`` holds (a_id, b_id) candidate pairs; ``a_side`` and
    ``b_side`` are (id, set) frames that already carry the caller's join
    hint (a hint on a side survives the projections below — Spark
    resolves join hints through unary nodes).  Returns (a_id, b_id,
    jaccard) for every candidate scoring at or above ``threshold``.

    Single-intersect discipline: per-side set sizes are computed BELOW
    the joins (once per doc, not twice per pair), and the intersection
    is materialized in ONE projection whose consumer is the
    :func:`_score_barrier`-wrapped score — so ``array_intersect`` runs
    exactly once per candidate pair and never inside a join condition
    (plan-pinned by ``test_verify_stage_single_intersect_plan``).
    Without the barrier the threshold filter is pushed into the join
    condition, where the intersect is evaluated again with no
    subexpression elimination; the r12 plan paid up to 4 evaluations
    per pair (see :func:`_score_barrier` for the plan evidence and the
    8-core A/B)."""
    _check_threshold(threshold)

    def side(df: DataFrame, p: str) -> DataFrame:
        return df.select(
            F.col("id").alias(f"{p}_id"),
            F.col("set").alias(f"{p}_set"),
            F.size("set").alias(f"{p}_n"),
        )

    with_inter = (
        cands.join(side(a_side, "a"), "a_id")
        .join(side(b_side, "b"), "b_id")
        .select(
            "a_id",
            "b_id",
            "a_n",
            "b_n",
            F.size(F.array_intersect("a_set", "b_set")).alias("_inter"),
        )
    )
    jaccard = _jaccard(F.col("_inter"), F.col("a_n"), F.col("b_n"))
    return with_inter.select(
        "a_id", "b_id", _score_barrier(jaccard).alias("jaccard")
    ).filter(F.col("jaccard") >= threshold)


# ---------------------------------------------------------------------------
# connected components — near-dup pairs → duplicate clusters (D2 end-game)
# ---------------------------------------------------------------------------


def _canonical_edges(e: DataFrame, dedup: bool = True) -> DataFrame:
    """Undirected edge set in canonical (u < v) form, self-loops dropped.

    ``dedup=False`` skips the distinct: used for the LARGE-star output
    inside a round, where the following small-star aggregates by u
    (min is duplicate-insensitive) and its own output distinct restores
    canonical form — one exchange per round saved (measured 2.44 →
    2.07 s on the bench's 447k-pair CC, identical labels).  Duplicate
    multiplicity there is bounded by node degree, which the LSH
    candidate cap already bounds, so the un-deduped intermediate cannot
    blow up at scale."""
    out = (
        e.select(F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v"))
        .filter(F.col("u") != F.col("v"))
    )
    return out.distinct() if dedup else out


def _directed(e: DataFrame) -> DataFrame:
    return e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))


def connected_components(
    edges: DataFrame,
    src: str = "u",
    dst: str = "v",
    max_iter: int = 25,
    canonical_input: bool = False,
) -> DataFrame:
    """Component label (min node id in the component) per node, via the
    alternating large-star / small-star algorithm (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14).

    Pure DataFrame composition — each round is two groupBy/join stages
    over the edge set, and the edge set contracts toward a star per
    component in O(log n) rounds, so a 100 TB pair set converges in a
    bounded number of shuffles (vs O(diameter) for naive label
    propagation).  ``localCheckpoint`` truncates lineage each round so
    the plan doesn't grow with iterations.

    Convergence is detected STRUCTURALLY: the fixpoint of the
    alternation is exactly a star forest in canonical (u < v) form —
    every leaf (v) appears on exactly one edge, and no node is both a
    root (u side) and a leaf.  Sufficiency: then each star is disjoint
    with root < all its leaves, so m(u) = u for roots and m(v) = root
    for leaves, and both star moves re-emit the same edge set.
    Necessity: a duplicate leaf ({(5,9),(6,9)} — shared leaf, missing
    root-root edge) or a root-and-leaf node is rewired by the next
    small-star.  The probe is one per-node aggregation, run on the
    contracted edge set and after every round — ~6× cheaper than the
    extra full confirm round an edge-checksum fixpoint test costs.

    Input: any DataFrame of undirected pairs (direction/duplicates/
    self-loops tolerated).  ``canonical_input=True`` is the caller's
    assertion that edges are already distinct with ``src < dst`` (e.g.
    ``minhash_lsh_pairs`` output — least/greatest + dropDuplicates by
    construction), which skips one corpus-sized dedup shuffle.  Output:
    (node, component) covering every node incident to an edge;
    singleton nodes never enter the edge set and keep their identity
    label implicitly (callers left-join).
    """
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    if not canonical_input:
        e = _canonical_edges(e)
    e = e.localCheckpoint(eager=True)

    # Pre-contraction (hash-to-min half-round, Rastogi et al. 2013):
    # label every node with min(N(node) ∪ {node}) in one aggregation,
    # relabel the edge set through it, and run the star alternation on
    # the CONTRACTED graph.  LSH candidate graphs are locally dense
    # (near-cliques), so the contraction collapses most components to
    # singletons before the first star round — measured on the bench's
    # 447k-pair graph: med 2.79 → 1.81 s, faster in 6/6 interleaved
    # rounds, identical (node, component) checksum.  Sparse graphs get
    # the same ~halving a star round gives, at the same O(edges)
    # exchange cost, so the worst case is one extra relabel pass.
    # Correctness: labels are component-preserving (label(x) stays in
    # x's component; the component minimum m has label(m) = m), so
    # components of the contracted graph map back through the label
    # table, and singleton-contracted components keep their label.
    labels = (
        _directed(e)
        .groupBy("u")
        .agg(F.min("v").alias("_mn"))
        .select(F.col("u").alias("node"), F.least("u", "_mn").alias("lbl"))
        .localCheckpoint(eager=True)
    )
    lu = labels.select(F.col("node").alias("u"), F.col("lbl").alias("lu")).hint(
        "shuffle_hash"
    )
    lv = labels.select(F.col("node").alias("v"), F.col("lbl").alias("lv")).hint(
        "shuffle_hash"
    )
    e = (
        e.join(lu, "u")
        .join(lv, "v")
        .select(F.least("lu", "lv").alias("u"), F.greatest("lu", "lv").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def _star(d: DataFrame, large: bool) -> DataFrame:
        # large-star output skips the mid-round distinct (see
        # _canonical_edges dedup=False); the small-star output keeps it
        # — that frame is checkpointed, probed, and read out.
        # m(u) = min(N(u) ∪ {u}) over the (possibly filtered) neighborhood
        nbrs = d if large else d.filter(F.col("v") <= F.col("u"))
        # shuffle_hash: both sides are already exchanged on u; hashing
        # the (node, min) side skips the per-round sort-merge sorts.
        # The build side is one row per node — bounded by node count,
        # partitioned, so per-partition hash maps stay small even when
        # the edge side is huge.
        m = (
            nbrs.groupBy("u")
            .agg(F.min("v").alias("_mn"))
            .select("u", F.least("u", "_mn").alias("m"))
            .hint("shuffle_hash")
        )
        if large:
            # connect strictly-larger neighbors to m(u)
            moved = (
                d.filter(F.col("v") > F.col("u"))
                .join(m, "u")
                .select(F.col("v").alias("u"), F.col("m").alias("v"))
            )
        else:
            moved = (
                nbrs.join(m, "u")
                .select(F.col("v").alias("u"), F.col("m").alias("v"))
            )
        return _canonical_edges(
            moved.union(m.select(F.col("u"), F.col("m").alias("v"))), dedup=not large
        )

    def _is_star_forest(d: DataFrame) -> bool:
        # canonical star forest ⇔ every leaf (v) has exactly ONE root
        # (no duplicate v — a shared leaf like {(5,9),(6,9)} is a
        # bipartite non-fixpoint) AND no node is both root and leaf.
        # Both conditions fall out of ONE per-node aggregation over the
        # exploded (node, role) stream — a single exchange, vs the
        # earlier leaf-agg + root-distinct + semi-join formulation
        # (two exchanges and a join for the same answer).
        roles = d.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("u").alias("node"),
                        F.lit(1).alias("root"),
                        F.lit(0).alias("leaf"),
                    ),
                    F.struct(
                        F.col("v").alias("node"),
                        F.lit(0).alias("root"),
                        F.lit(1).alias("leaf"),
                    ),
                )
            ).alias("r")
        ).select("r.*")
        per_node = roles.groupBy("node").agg(
            F.max("root").alias("is_root"), F.sum("leaf").alias("leaf_deg")
        )
        violations = per_node.filter(
            (F.col("leaf_deg") > 1)
            | ((F.col("is_root") == 1) & (F.col("leaf_deg") > 0))
        )
        return violations.isEmpty()

    # Probe BEFORE each round, starting with the contracted edge set:
    # the pre-contraction already leaves LSH pair graphs a star forest
    # (perfbench near_dup_batch: 6,569 verified pairs contract to 0
    # edges on seeds 70–74), so they run no star round at all; a graph
    # that needs rounds pays one extra probe over the contracted set,
    # which is smaller than the pair set.
    #
    # The per-round checkpoint is LAZY (r13, VERDICT item 4): the
    # probe's aggregation is always the next action, and its shuffle-map
    # stage computes EVERY partition of the round's edge set before any
    # reduce task runs, so the probe job itself materializes the
    # checkpoint — one job per round instead of a materialize job plus a
    # probe job, with lineage truncated exactly as before and the probe
    # invariants untouched.  (Lazy is only safe here because the probe
    # is a blocking single consumer that fully materializes the frame
    # before the next round or the readout scans it twice via union —
    # the pre-contraction checkpoints above keep eager=True because
    # their consumers are concurrent stages that would otherwise race to
    # recompute the expensive upstream.)
    rounds = 0
    while not _is_star_forest(e):
        if rounds == max_iter:
            # truncated output would be silently-wrong partial components
            raise RuntimeError(
                f"connected_components did not converge within max_iter={max_iter} "
                "rounds (edge set is not yet a star forest per the structural "
                "probe); raise max_iter — large-star/small-star needs O(log n) "
                "rounds"
            )
        e = _star(_directed(e), large=True)
        e = _star(_directed(e), large=False).localCheckpoint(eager=False)
        rounds += 1
    # converged edge set is a star per component OF LABELS: (leaf, root)
    # with root the component min; the certified star-forest shape makes
    # a union-level distinct redundant (probe invariants).  Original
    # nodes map back through the label table: node → lbl → component,
    # with lbl itself the component wherever the contraction already
    # collapsed the component to a singleton (left join + coalesce).
    leaves = e.select(F.col("v").alias("lbl2"), F.col("u").alias("component"))
    roots = e.select(F.col("u").alias("lbl2"), F.col("u").alias("component")).distinct()
    comp2 = leaves.union(roots)
    return labels.join(comp2, labels["lbl"] == comp2["lbl2"], "left").select(
        labels["node"].alias("node"),
        F.coalesce(comp2["component"], labels["lbl"]).alias("component"),
    )


def near_dedup(
    df: DataFrame,
    id_col: str,
    pairs: DataFrame,
) -> DataFrame:
    """End-to-end near-dedup: given candidate duplicate pairs (from
    ``minhash_lsh_pairs`` or ``jaccard_pairs``), cluster them with
    connected components and keep one canonical row per cluster (min id)
    plus every unclustered row.  Returns ``df``'s schema filtered.

    Contract: ``pairs`` must be canonical — distinct with
    ``a_id < b_id`` — which BOTH supported generators guarantee
    (least/greatest + dropDuplicates in ``minhash_lsh_pairs``;
    least/greatest + groupBy grain in ``jaccard_pairs``), so the
    clustering skips one corpus-pairs-sized canonicalization shuffle.
    Arbitrary hand-built pair sets should go through
    ``connected_components`` directly instead."""
    comp = connected_components(
        pairs.select(F.col("a_id").alias("u"), F.col("b_id").alias("v")),
        canonical_input=True,
    )
    return (
        df.join(comp, df[id_col] == comp["node"], "left")
        .filter(F.col("component").isNull() | (F.col("component") == df[id_col]))
        .select(*[df[c] for c in df.columns])
    )


# ---------------------------------------------------------------------------
# exact n-gram Jaccard (D2 oracle path)
# ---------------------------------------------------------------------------


def _doc_tokens(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, token): one row per distinct space-split token of each
    document — the input of every token-set operator below."""
    return df.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(_tokens(F.col(text_col)))).alias("token"),
    )


def jaccard_pairs(
    df: DataFrame, id_col: str, text_col: str, threshold: float
) -> DataFrame:
    """All-pairs token-set Jaccard via an inverted index.

    Explodes distinct tokens, groups postings per token, expands i<j
    pairs JVM-side, counts common tokens per pair — the classic sparse
    similarity join: cost is sum over tokens of df(token)^2, not n^2,
    and the postings move through ONE shuffle (a postings self-join
    would shuffle them twice for the same token-key distribution).
    Callers bound the input (or pre-filter by LSH) at scale.
    """
    _check_threshold(threshold)
    toks = _doc_tokens(df, id_col, text_col)
    sizes = toks.groupBy("id").agg(F.count(F.lit(1)).alias("n_tok"))
    postings = (
        toks.groupBy("token")
        .agg(F.collect_list("id").alias("ids"))
        .filter(F.size("ids") > 1)
    )
    common = (
        postings.select(F.explode(F.expr(_pair_expansion("ids"))).alias("p"))
        .groupBy("p.a_id", "p.b_id")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("id").alias("a_id"), F.col("n_tok").alias("a_n"))
    sb = sizes.select(F.col("id").alias("b_id"), F.col("n_tok").alias("b_n"))
    jac = _jaccard(F.col("n_common"), F.col("a_n"), F.col("b_n"))
    return (
        common.join(sa, "a_id")
        .join(sb, "b_id")
        .select("a_id", "b_id", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# SimHash (D2 alternate signature)
# ---------------------------------------------------------------------------


def simhash_signatures_portable(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """64-bit SimHash on the portable cross-engine hash family:
    bit b of a token's hash is the PARITY of hex nibble b of its sha256
    (64 nibbles ↔ 64 bits), so a DuckDB oracle recomputes every vote,
    every bit, and the packed signature value-for-value (catalog row
    q45).

    Emits the signature as two 32-bit halves ``(sim_hi, sim_lo)``
    instead of one BIGINT: packing bit 63 into an int64 wraps negative
    in Spark but overflows (raises) in DuckDB HUGEINT shift semantics —
    split halves are the portable representation (the q142 dHash
    discipline).  Hamming distance is ``bit_count(xor(hi_a, hi_b)) +
    bit_count(xor(lo_a, lo_b))`` over the halves, so downstream pairing
    loses nothing.

    Scale shape: explode to (doc, token, bit) votes — three narrow
    integer aggregations, all map-side combinable; no Python, no
    windows.  Each token's sha256 is computed once and bound with
    :func:`_let`; the 64-way nibble ``transform`` reads the bound hex
    string (inlined into the interpreted lambda it would be recomputed
    per nibble, 64 times per token)."""
    toks = _doc_tokens(df, id_col, text_col)
    nibbles = _let(
        F.sha2(F.col("token"), 256),
        lambda hx: F.transform(
            F.sequence(F.lit(1), F.lit(64)), lambda i: F.substring(hx, i, 1)
        ),
    )
    nib = toks.select("id", F.posexplode(nibbles).alias("b", "nibble"))
    parity = (F.instr(F.lit("0123456789abcdef"), F.col("nibble")) - 1) % 2
    votes = (
        nib.withColumn("vote", F.when(parity == 1, F.lit(1)).otherwise(F.lit(-1)))
        .groupBy("id", "b")
        .agg(F.sum("vote").alias("v"))
    )
    bits = votes.select(
        "id",
        "b",
        F.when(F.col("v") > 0, F.lit(1).cast("long"))
        .otherwise(F.lit(0).cast("long"))
        .alias("bit"),
    )
    return bits.groupBy("id").agg(
        F.sum(
            F.when(F.col("b") >= 32, F.expr("shiftleft(bit, b - 32)")).otherwise(F.lit(0))
        ).alias("sim_hi"),
        F.sum(
            F.when(F.col("b") < 32, F.expr("shiftleft(bit, b)")).otherwise(F.lit(0))
        ).alias("sim_lo"),
    )


def jaccard_pairs_prefix(
    df: DataFrame, id_col: str, text_col: str, threshold: float
) -> DataFrame:
    """Exact token-set Jaccard join with PREFIX FILTERING (the
    PPJoin/AllPairs family, Chaudhuri et al. 2006 / Xiao et al. 2008):
    identical output to :func:`jaccard_pairs`, far fewer candidates.

    Tokens get a global rarity rank (ascending document frequency,
    token tie-break); each document only indexes its
    ``n - ceil(t·n) + 1`` rarest tokens.  Prefix-filter lemma: two sets
    with Jaccard ≥ t overlap in ≥ ceil(t·max(n_a, n_b)) tokens, so
    under a CONSISTENT global order their prefixes must share at least
    one token — candidate generation over prefixes alone loses nothing,
    while the postings for frequent tokens (the df² blow-up of the
    naive inverted index) never materialize.  Candidates are then
    verified with an exact rank-set intersection.

    Scale shape: the rank table is vocabulary-sized (broadcast); the
    candidate shuffle carries only prefix postings (the df² term now
    bounded by prefix occupancy); verification joins fixed-width int
    arrays by id.  This is the exact-join engine you run INSIDE LSH
    buckets or after MinHash at 100 TB."""
    _check_threshold(threshold)
    toks = _doc_tokens(df, id_col, text_col)
    # Global rarity rank over the (unbounded) vocabulary: two-phase
    # distributed row number, never a single-partition sort.
    from gmail_etl_spark.operators.distributed_window import attach_row_number

    dfreq = toks.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    rank = attach_row_number(
        dfreq, [F.asc("df"), F.asc("token")], out="rank"
    ).select("token", "rank")
    ranked = toks.join(F.broadcast(rank), "token").select("id", "rank")
    # per-doc rank set, rarity-ordered, with its prefix slice
    per_doc = ranked.groupBy("id").agg(
        F.array_sort(F.collect_list("rank")).alias("ranks")
    )
    n = F.size("ranks")
    prefix_len = n - F.ceil(n * F.lit(float(threshold))).cast("int") + 1
    prefixes = per_doc.select(
        "id", F.explode(F.slice("ranks", 1, prefix_len)).alias("rank")
    )
    buckets = (
        prefixes.groupBy("rank")
        .agg(F.collect_list("id").alias("ids"))
        .filter(F.size("ids") > 1)
        .select(F.lit(0).alias("band"), F.col("rank").alias("bucket"), "ids")
    )
    # complete=True: the prefix filter gives each qualifying pair at
    # least ONE shared prefix token, not several independent ones — a
    # plain chunk split of an oversized posting list could silently drop
    # a pair whose only shared token is that hot one, violating this
    # function's exactness contract.  Complete chunk-pair expansion
    # keeps every pair at bounded (max_bucket²) per-task cost.
    candidates = capped_pair_candidates(buckets, max_bucket=1024, complete=True)
    side = per_doc.select("id", F.col("ranks").alias("set")).hint("shuffle_hash")
    return _jaccard_verify(candidates, side, side, threshold)
