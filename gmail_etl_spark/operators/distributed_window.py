"""Distributed (two-phase) global window primitives.

An unpartitioned ``Window.orderBy(...)`` is correct but executes in
Spark as ``Exchange SinglePartition`` + one ``WindowExec`` task: the
whole frame is sorted and scanned by a single core.  Fine at sf0.1,
an OOM/straggler at 100 TB.  These helpers compute the same *exact*
results with a scale-safe shape:

1. a partition-id column whose ranges are disjoint and ascend with
   the sort order — by default a deterministic equi-depth HISTOGRAM
   cut of the leading key (a pure data function, no physical
   partitioning involved), falling back to ``repartitionByRange`` +
   ``spark_partition_id`` behind a ``localCheckpoint`` barrier for
   non-numeric keys — so a global order statistic decomposes into a
   partition-local statistic plus a carry from preceding partitions;
2. a *partitioned* window (one hash shuffle, all partitions in
   parallel) computes the local statistic;
3. the per-partition carries form a tiny frame (≤ ``num_partitions``
   rows — bounded by configuration, not by data), folded with one
   bounded single-partition window and broadcast-joined back.

Both phases are exact integer/order arithmetic, so the result is
row-identical to the single-window form — proven by
``tests/test_distributed_window.py`` and by the DuckDB oracles of the
queries built on top (q82, q165, q220, q227, q251, q254).

Ordering keys must form a total order (callers always pass a unique
tie-break column), which all catalog users do.

Cross-consumer PID consistency (the round-8 corruption find): the
local and carry phases are two CONSUMERS of the ranged frame, and
nothing in Spark guarantees they observe the same row→partition
mapping.  Two independent mechanisms break it in practice:

1. ``RangePartitioner`` seeds its reservoir sampler with the RDD id,
   so two materializations of the "same" range exchange sample
   DIFFERENT boundaries — and the branches do materialize it twice
   whenever exchange reuse fails (DeduplicateRelations re-aliases the
   carry branch; AQE materializes sibling stages concurrently, so
   both can miss the stage cache).
2. When the exchange is AQE-sized (``REPARTITION_BY_COL``), each
   read additionally coalesces independently.

Observed consequence at 5M rows / 4 cores: the round-7 inner-join
form silently produced a DIFFERENT wrong global rank on every run.
Two fixes, chosen per input (see ``_with_range_pid``):

- HISTOGRAM pid (default for plain asc/desc numeric/timestamp/date
  leading keys): pid becomes a pure DATA function — an equi-depth cut
  of a 64k-bucket histogram of the leading key — so every consumer
  computes the identical mapping by construction, with no range
  exchange and no barrier at all.
- CHECKPOINT barrier (fallback for everything else): the ranged frame
  (pid already attached) is ``localCheckpoint``-ed, so partitioning
  and pid are computed exactly once and both phases read the same
  pinned blocks — the lineage-truncation precedent
  ``operators/dedup.py`` uses for connected components.  Cluster
  caveat (documented there too): localCheckpoint blocks are not
  recomputable after executor loss; the job fails and reruns instead
  of silently degrading.

On top of either path, a RUNTIME reconciliation guard stays armed: the
broadcast join back is a LEFT join guarded by ``raise_error`` — a
local-frame PID missing from the carry frame, or a local partition
holding more rows than the carry pass recorded, fails loudly instead
of dropping rows or mis-carrying.  (Equal grand totals + every local
count ≤ recorded count ⇒ identical splits, so the per-row guard is a
complete reconciliation, not a spot check.)
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: Internal column names — double-underscored and prefixed to avoid
#: colliding with caller columns; all are dropped before returning.
PID = "__dw_pid"
_LOC = "__dw_loc"
_TOT = "__dw_tot"
_CARRY = "__dw_carry"
_OFF = "__dw_off"
_CNT = "__dw_cnt"
_IDX = "__dw_idx"


def _order_cols(order_by: Sequence[Column | str]) -> list[Column | str]:
    return list(order_by)


def _checked(bad: Column, value: Column, what: str) -> Column:
    """Runtime reconciliation of the cross-consumer PID assumption (see
    module docstring): evaluate ``value``, but fail the job loudly if
    ``bad`` — the two reads of the range exchange disagreed on the
    partition split, which would otherwise silently drop rows or
    mis-carry.  Per-row codegen cost is one null/compare check."""
    return F.when(
        bad,
        F.raise_error(
            F.lit(
                "distributed_window: two consumers observed different "
                f"row→pid mappings ({what}) — the cross-consumer PID "
                "consistency invariant broke (RangePartitioner boundary "
                "resampling on an exchange-reuse miss, independent AQE "
                "coalesce of the two shuffle reads, or an unmapped "
                "histogram bucket code)"
            )
        ),
    ).otherwise(value)


#: equi-width micro-buckets the histogram path quantizes the leading
#: sort key into before the driver cuts them into equi-depth pids;
#: 64k keeps the histogram collect ≤64k rows and the pid→bucket map a
#: trivially broadcastable frame
_MICRO_BUCKETS = 1 << 16
#: micro-bucket codes outside width_bucket's [0, n+1] range
_MB_NULL = -1  # null leading key (sorts FIRST asc, LAST desc)
_MB_NAN = _MICRO_BUCKETS + 8  # NaN (Spark: greater than any value)


def _leading_sort_info(leading: Column | str) -> tuple[str, bool] | None:
    """(column name, is_descending) for the leading order key, or None
    when it can't be established safely.  Plain strings are ascending
    by contract; Column reprs are parsed only for the two standard
    direction forms (``ASC NULLS FIRST`` / ``DESC NULLS LAST``, i.e.
    what ``F.asc``/``F.desc``/``.desc()`` produce) — anything else
    (expressions, custom null ordering) falls back to the
    checkpoint-barrier path rather than guessing."""
    import re

    if isinstance(leading, str):
        return leading, False
    m = re.fullmatch(
        r"Column<'([A-Za-z_][A-Za-z0-9_]*)"
        r"(?: (ASC NULLS FIRST|DESC NULLS LAST))?'>",
        str(leading),
    )
    if not m:
        return None
    return m.group(1), (m.group(2) or "").startswith("DESC")


def _histogram_pid(
    df: DataFrame, order_by: Sequence[Column | str], n_parts: int
) -> DataFrame | None:
    """Deterministic equi-depth PID from a histogram of the leading
    sort key — a pure DATA function, so every consumer of the frame
    computes the identical row→pid mapping with no materialization
    barrier and no range exchange at all (the partitioned window's own
    hash exchange on pid becomes the only corpus shuffle).

    Shape: one min/max aggregate and one ≤64k-row histogram aggregate
    (both prune the scan to the single leading-key column), a driver
    prefix-sum that cuts micro-buckets into ≤``n_parts`` contiguous
    equi-depth pids, and a broadcast join of the tiny bucket→pid map.
    Rows equal on the leading key always share a micro-bucket, hence a
    pid, so pid ranges are disjoint under the total order and the
    carry fold stays exact.  Key quantization casts through double —
    two longs that collide in double land in the SAME bucket, which
    only coarsens the split, never reorders it.

    Returns None (caller falls back to the checkpoint barrier) when
    the leading key is not a plain asc/desc numeric, timestamp, or
    date column, or when the frame is empty/degenerate in a way the
    fallback handles more simply."""
    from pyspark.sql.types import (
        DateType,
        DoubleType,
        FloatType,
        NumericType,
        TimestampType,
    )

    info = _leading_sort_info(order_by[0])
    if info is None:
        return None
    name, desc = info
    try:
        dtype = df.select(name).schema[0].dataType
    except Exception:  # noqa: BLE001 — unresolvable name: let the fallback try
        return None
    col = F.col(name)
    if isinstance(dtype, TimestampType):
        keyd = F.unix_micros(col).cast("double")
    elif isinstance(dtype, DateType):
        keyd = F.unix_date(col).cast("double")
    elif isinstance(dtype, NumericType):
        keyd = col.cast("double")
    else:
        return None
    floating = isinstance(dtype, (FloatType, DoubleType))

    # histogram bounds must be FINITE: NaN would poison min/max (Spark
    # sorts it greater than everything), and ±inf bounds make
    # width_bucket return null.  ±inf VALUES need no bounds — they land
    # in the underflow (0) / overflow (n+1) buckets, which order
    # correctly against every finite bucket.
    if floating:
        finite = (~F.isnan(keyd)) & (F.abs(keyd) != F.lit(float("inf")))
        bounded = F.when(finite, keyd)
    else:
        bounded = keyd
    stats = df.agg(
        F.min(bounded).alias("mn"), F.max(bounded).alias("mx")
    ).collect()[0]
    mn, mx = stats["mn"], stats["mx"]

    if mn is None or mx is None or not mn < mx:
        # empty frame, all-null keys, or a single key value: one bucket
        inner = F.lit(1)
    else:
        inner = F.width_bucket(
            keyd, F.lit(mn), F.lit(mx), F.lit(_MICRO_BUCKETS)
        )
    mb = F.when(col.isNull(), F.lit(_MB_NULL))
    if floating:
        mb = mb.when(F.isnan(keyd), F.lit(_MB_NAN))
    mb = mb.otherwise(inner)

    rows = (
        df.groupBy(mb.alias("__dw_mb"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    )
    if not rows:
        return None  # empty frame: the fallback's empty path is fine
    if any(r["__dw_mb"] is None for r in rows):
        # a null bucket code means an unanticipated width_bucket edge —
        # take the type-agnostic barrier path rather than guessing
        return None
    hist = sorted((r["__dw_mb"], r["cnt"]) for r in rows)
    if desc:
        # ascending code order is [null, values..., NaN]; descending
        # sort order is exactly its reverse (NaN greatest → first,
        # NULLS LAST → last)
        hist.reverse()
    total = sum(c for _, c in hist)
    target = -(-total // n_parts)  # ceil: equi-depth cut size
    mapping, cum = [], 0
    for code, cnt in hist:
        mapping.append((code, min(cum // target, n_parts - 1)))
        cum += cnt
    map_df = df.sparkSession.createDataFrame(
        mapping, f"__dw_mb long, {PID} int"
    )
    # LEFT join + runtime guard, not a bare inner join: the map covers
    # only bucket codes observed in the driver-side histogram collect.
    # If the leading-key expression or input re-evaluated differently
    # at execution time (nondeterministic column, re-read source), an
    # inner join would silently drop the unseen-code rows from BOTH
    # phases — the exact silent-corruption class this module exists to
    # eliminate, and one the downstream _checked guards cannot see
    # because the row vanishes before they run.  The guard here turns
    # an unmapped code into a loud failure instead.
    return (
        df.withColumn("__dw_mb", mb)
        .join(F.broadcast(map_df), "__dw_mb", "left")
        .withColumn(
            PID,
            _checked(F.col(PID).isNull(), F.col(PID), "histogram_pid_map"),
        )
        .drop("__dw_mb")
    )


def _with_range_pid(
    df: DataFrame,
    order_by: Sequence[Column | str],
    num_partitions: int | None,
) -> DataFrame:
    """Attach a partition-id column that ascends with the sort order —
    ``PID`` is a coarse, explicit version of the global order, the
    pivot both phases share.  Cross-consumer consistency of the pid is
    the load-bearing property (module docstring): the round-7 form
    derived it from physical partitioning and silently corrupted.

    The leading order key picks the path:

    - a plain asc/desc numeric/timestamp/date column takes the
      HISTOGRAM path — pid is a pure data function (equi-depth cut of a
      64k-bucket histogram), so no barrier and no range exchange at
      all;
    - anything else, and the empty or degenerate frames
      :func:`_histogram_pid` declines, takes the CHECKPOINT barrier —
      ``repartitionByRange`` with an EXPLICIT partition count (an
      AQE-sized exchange lets each consumer coalesce its read
      independently) + ``spark_partition_id`` + ``localCheckpoint`` so
      partitioning and pid are computed exactly once.  Type-agnostic;
      pays one materialization of the frame to block storage.

    The partition count is always explicit (caller's value, else
    cores × 8): the rank phase is CPU-bound, so partitions scale with
    cores — AQE's advisory-size coalesce trapped a 100M-row local rank
    at ~19 partitions (158.8 s, DEVNOTES r7) — and the per-partition
    carry frame stays ≤ count rows, bounded by configuration.  The
    runtime ``_checked`` guards stay armed on both paths.

    EAGER at plan-build time: the histogram path runs two driver
    actions on ``df`` (a min/max aggregate and a ≤64k-row histogram
    aggregate, both pruned to the leading-key column) BEFORE the
    returned plan executes, and the checkpoint path materializes the
    frame on first action.  Batch-only by construction — a streaming
    ``df`` can neither run build-time actions nor localCheckpoint, so
    it raises here rather than failing obscurely inside Spark (route
    streaming global ranks through ``foreachBatch``)."""
    if df.isStreaming:
        raise TypeError(
            "distributed_window helpers are batch-only: the histogram "
            "path runs driver actions at plan-build time and the "
            "checkpoint fallback requires localCheckpoint, neither of "
            "which a streaming DataFrame supports — apply them inside "
            "foreachBatch instead"
        )
    if num_partitions is None:
        num_partitions = max(
            1, df.sparkSession.sparkContext.defaultParallelism * 8
        )
    num_partitions = int(num_partitions)
    fast = _histogram_pid(df, order_by, num_partitions)
    if fast is not None:
        return fast
    ranged = df.repartitionByRange(num_partitions, *_order_cols(order_by))
    return ranged.withColumn(PID, F.spark_partition_id()).localCheckpoint(
        eager=False
    )


def attach_row_number(
    df: DataFrame,
    order_by: Sequence[Column | str],
    out: str = "rn",
    total_out: str | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Global 1-based row_number over ``order_by`` without a
    single-partition sort.

    Equivalent to ``F.row_number().over(Window.orderBy(*order_by))``
    when ``order_by`` is a total order.  Optionally attaches the total
    row count as ``total_out`` (needed by ntile/percent_rank/cume_dist
    derivations) — computed from the same tiny per-partition counts
    frame, no extra pass over the data.

    NOT lazy: building the plan runs bounded driver actions on ``df``
    (histogram path: pruned min/max + ≤64k-row histogram) or
    materializes it (checkpoint path).  Batch-only; a streaming input
    raises (see ``_with_range_pid``).
    """
    ranged = _with_range_pid(df, order_by, num_partitions)

    # Phase 1: partition-local row number — a *partitioned* window, so
    # every range partition ranks in parallel.
    w_local = Window.partitionBy(PID).orderBy(*_order_cols(order_by))
    local = ranged.withColumn(_LOC, F.row_number().over(w_local))

    # Phase 2: per-partition counts (tiny: ≤ num_partitions rows; the
    # range exchange is reused) → exclusive prefix-sum over pid is the
    # carry each partition adds.  The single-partition window here is
    # over a configuration-bounded frame, which is the documented
    # exception to the "no unpartitioned windows" posture rule.
    counts = ranged.groupBy(PID).agg(F.count(F.lit(1)).alias(_CNT))
    w_off = Window.orderBy(PID).rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        PID,
        _CNT,
        F.coalesce(F.sum(_CNT).over(w_off), F.lit(0)).alias(_OFF),
        F.sum(_CNT)
        .over(
            Window.orderBy(PID).rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        .alias(_TOT),
    )

    # LEFT join + runtime guard, not a bare inner join: see the
    # cross-consumer PID consistency note in the module docstring.
    joined = local.join(F.broadcast(offsets), PID, "left")
    bad = F.col(_OFF).isNull() | (F.col(_LOC) > F.col(_CNT))
    result = joined.withColumn(
        out, _checked(bad, (F.col(_LOC) + F.col(_OFF)).cast("long"), "row_number")
    )
    if total_out is not None:
        result = result.withColumn(total_out, F.col(_TOT).cast("long"))
    return result.drop(PID, _LOC, _OFF, _TOT, _CNT)


def attach_prefix_agg(
    df: DataFrame,
    order_by: Sequence[Column | str],
    value_col: str,
    out: str,
    op: str = "sum",
    inclusive: bool = True,
    total_out: str | None = None,
    num_partitions: int | None = None,
    allow_float: bool = False,
) -> DataFrame:
    """Global running sum/max of ``value_col`` over ``order_by``.

    Equivalent to ``F.sum/max(value_col).over(Window.orderBy(*order_by)
    .rowsBetween(unboundedPreceding, 0 if inclusive else -1))`` —
    the exclusive form yields NULL for the globally-first row, matching
    the window semantics.  ``op='max'`` works for any orderable type
    (timestamps included); ``op='sum'`` for numeric.

    Exactness contract (ENFORCED): the two-phase sum re-associates the
    addition (partition subtotal + local prefix), which is bit-identical
    for integer/decimal values but NOT for floating point, where
    addition order matters at the ulp level.  A float/double
    ``value_col`` with ``op='sum'`` therefore raises ``TypeError`` —
    route float sums through a scaled-decimal column first (the
    catalog's standard order-free-arithmetic discipline), or pass
    ``allow_float=True`` to explicitly accept ulp-level divergence from
    the single-window form.  Every catalog caller sums exact integers
    (counts, µs gaps, token counts, +1/−1 deltas).

    NOT lazy: building the plan runs bounded driver actions on ``df``
    (histogram path: pruned min/max + ≤64k-row histogram) or
    materializes it (checkpoint path).  Batch-only; a streaming input
    raises (see ``_with_range_pid``).
    """
    if op not in ("sum", "max"):
        raise ValueError(f"unsupported prefix op: {op!r}")
    agg = F.sum if op == "sum" else F.max
    if op == "sum" and not allow_float:
        vtype = df.select(F.col(value_col)).schema[0].dataType.typeName()
        if vtype in ("float", "double"):
            raise TypeError(
                f"attach_prefix_agg: op='sum' over {vtype} column "
                f"{value_col!r} re-associates addition and is not "
                "bit-identical to the single-window form; cast to "
                "decimal/integer first or pass allow_float=True"
            )

    ranged = _with_range_pid(df, order_by, num_partitions)

    upper = 0 if inclusive else -1
    w_order = Window.partitionBy(PID).orderBy(*_order_cols(order_by))
    w_local = w_order.rowsBetween(Window.unboundedPreceding, upper)
    # The local row index rides the same sort as the agg window — it
    # exists only to feed the PID reconciliation guard below.
    local = ranged.withColumn(_LOC, agg(value_col).over(w_local)).withColumn(
        _IDX, F.row_number().over(w_order)
    )

    # Tiny carry frame: per-partition totals, exclusive prefix over pid.
    totals = ranged.groupBy(PID).agg(
        agg(value_col).alias(_TOT), F.count(F.lit(1)).alias(_CNT)
    )
    w_carry = Window.orderBy(PID).rowsBetween(Window.unboundedPreceding, -1)
    carry_cols = [
        F.col(PID),
        F.col(_CNT),
        agg(_TOT).over(w_carry).alias(_CARRY),
    ]
    if total_out is not None:
        carry_cols.append(
            agg(_TOT)
            .over(
                Window.orderBy(PID).rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            )
            .alias(total_out)
        )
    carries = totals.select(*carry_cols)

    # LEFT join + runtime guard, not a bare inner join: see the
    # cross-consumer PID consistency note in the module docstring.
    # (_CARRY is legitimately NULL for pid 0, so the guard keys on the
    # per-pid count, which the carry frame always materializes.)
    joined = local.join(F.broadcast(carries), PID, "left")
    if op == "max":
        # greatest() skips NULLs; NULL only when both sides are (the
        # globally-first row of an exclusive frame).
        combined = F.greatest(F.col(_LOC), F.col(_CARRY))
    else:
        combined = F.when(
            F.col(_LOC).isNull() & F.col(_CARRY).isNull(), F.lit(None)
        ).otherwise(
            F.coalesce(F.col(_LOC), F.lit(0)) + F.coalesce(F.col(_CARRY), F.lit(0))
        )
    bad = F.col(_CNT).isNull() | (F.col(_IDX) > F.col(_CNT))
    return joined.withColumn(out, _checked(bad, combined, "prefix_agg")).drop(
        PID, _LOC, _CARRY, _TOT, _CNT, _IDX
    )


def _floor_div(numer: Column, denom: Column) -> Column:
    """Non-negative integer floor division that stays exact over the
    FULL long range: subtract the remainder so the division is of an
    exact multiple, then use Spark's integral `div` (codegen'd
    long-by-long division — the old double division lost exactness
    once the multiple exceeded 2^53; a decimal(38,0) route is exact
    too but measured ~1.3x slower per row at 20M rows).  `div`
    truncates toward zero, which equals floor here because the
    multiple is exact and the operands are non-negative."""
    return F.call_function("div", numer - F.pmod(numer, denom), denom)


def _ceil_div(a: Column, b: Column) -> Column:
    return _floor_div(a + b - F.lit(1), b)


def ntile_from_rn(rn: Column, total: Column, n: int) -> Column:
    """SQL NTILE(n) as pure integer arithmetic over a global row number.

    Standard semantics: the first ``total % n`` buckets hold
    ``total div n + 1`` rows, the rest ``total div n``.  Matches
    ``F.ntile(n).over(...)`` and DuckDB's NTILE exactly when ``rn`` is
    the 1-based position under the same (total) order.
    """
    q = _floor_div(total, F.lit(n))
    r = F.pmod(total, F.lit(n))
    head = (q + 1) * r  # rows occupied by the r "big" buckets
    big = _ceil_div(rn, q + 1)
    # greatest(q, 1): never divide by zero; when q == 0 every row is in
    # the `big` branch so the small-bucket expression is unused.
    small = r + _ceil_div(rn - head, F.greatest(q, F.lit(1)))
    return F.when(rn <= head, big).otherwise(small).cast("int")


def percent_rank_from_rn(rn: Column, total: Column) -> Column:
    """``percent_rank()`` under a total order: (rn-1)/(N-1), 0.0 for a
    single-row frame — the same double division Spark and DuckDB
    evaluate, so hash-identical."""
    return F.when(total > 1, (rn - 1).cast("double") / (total - 1).cast("double")).otherwise(
        F.lit(0.0)
    )


def cume_dist_from_rn(rn: Column, total: Column) -> Column:
    """``cume_dist()`` under a total order (each row its own peer
    group): rn/N as double division."""
    return rn.cast("double") / total.cast("double")


def attach_ntile(
    df: DataFrame,
    order_by: Sequence[Column | str],
    n: int,
    out: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """Global ``NTILE(n)`` over ``order_by`` via the two-phase row
    number — exact, no single-partition sort.  NOT lazy / batch-only
    (see ``attach_row_number``)."""
    rn_col, tot_col = "__dw_rn", "__dw_total"
    ranked = attach_row_number(
        df,
        order_by,
        out=rn_col,
        total_out=tot_col,
        num_partitions=num_partitions,
    )
    return ranked.withColumn(
        out, ntile_from_rn(F.col(rn_col), F.col(tot_col), n)
    ).drop(rn_col, tot_col)
