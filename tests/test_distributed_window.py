"""Row-identity proofs for the two-phase distributed window primitives
(operators/distributed_window.py) against the exact single-partition
window forms they replace — the same discipline as near-dedup's
broadcast_verify/shuffle_hash strategy pair: the naive exact form is
the oracle, the scale-safe form must match it row for row.

Covers the primitives (row_number / ntile / prefix sum / prefix max,
inclusive and exclusive, asc and desc) and the six catalog queries that
were rewritten onto them (q82, q165, q220, q227, q251, q254).
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from gmail_etl_spark.operators.distributed_window import (
    attach_ntile,
    attach_prefix_agg,
    attach_row_number,
    cume_dist_from_rn,
    ntile_from_rn,
    percent_rank_from_rn,
)
from gmail_etl_spark.plans.catalog import CATALOG, _ensure_loaded, load_table
from tests.conftest import SF_DIR

_ensure_loaded()


def _rows(df, *cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


@pytest.fixture(scope="module")
def orders(spark):
    return load_table(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_totalprice"
    )


def test_row_number_matches_global_window(spark, orders):
    order = ["o_totalprice", "o_orderkey"]
    exact = orders.withColumn("rn", F.row_number().over(Window.orderBy(*order)))
    mine = attach_row_number(orders, order, out="rn", total_out="n")
    assert _rows(exact, "o_orderkey", "rn") == _rows(mine, "o_orderkey", "rn")
    totals = mine.select("n").distinct().collect()
    assert [r.n for r in totals] == [orders.count()]


def test_row_number_desc_order(spark, orders):
    order = [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()]
    exact = orders.withColumn("rn", F.row_number().over(Window.orderBy(*order)))
    mine = attach_row_number(orders, order, out="rn")
    assert _rows(exact, "o_orderkey", "rn") == _rows(mine, "o_orderkey", "rn")


@pytest.mark.parametrize("n", [1, 2, 4, 5, 7, 10, 1499, 1500, 5000])
def test_ntile_matches_window_ntile(spark, orders, n):
    """All bucket-size regimes: n=1, n divides N, n doesn't, n == N-1,
    n == N, n > N (every row its own bucket)."""
    order = ["o_totalprice", "o_orderkey"]
    exact = orders.withColumn("t", F.ntile(n).over(Window.orderBy(*order)))
    mine = attach_ntile(orders, order, n, "t")
    assert _rows(exact, "o_orderkey", "t") == _rows(mine, "o_orderkey", "t")


def test_rank_stat_derivations_match_window_functions(spark, orders):
    """percent_rank / cume_dist derived from the distributed row number
    are bit-identical to the window functions under a total order
    (exact float equality, not tolerance)."""
    order = ["o_totalprice", "o_orderkey"]
    w = Window.orderBy(*order)
    exact = orders.select(
        "o_orderkey",
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
        F.ntile(4).over(w).alias("nt"),
    )
    ranked = attach_row_number(orders, order, out="rn", total_out="n")
    rn, n = F.col("rn"), F.col("n")
    mine = ranked.select(
        "o_orderkey",
        percent_rank_from_rn(rn, n).alias("pr"),
        cume_dist_from_rn(rn, n).alias("cd"),
        ntile_from_rn(rn, n, 4).alias("nt"),
    )
    assert _rows(exact, "o_orderkey", "pr", "cd", "nt") == _rows(
        mine, "o_orderkey", "pr", "cd", "nt"
    )


def test_prefix_sum_inclusive_and_exclusive(spark, orders):
    grain = orders.groupBy("o_totalprice").agg(F.count(F.lit(1)).alias("c"))
    w_inc = Window.orderBy("o_totalprice").rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_exc = Window.orderBy("o_totalprice").rowsBetween(
        Window.unboundedPreceding, -1
    )
    exact = grain.select(
        "o_totalprice",
        F.sum("c").over(w_inc).alias("s_inc"),
        F.sum("c").over(w_exc).alias("s_exc"),
    )
    mine = attach_prefix_agg(
        grain, ["o_totalprice"], "c", "s_inc", op="sum", total_out="tot"
    )
    mine = attach_prefix_agg(
        mine, ["o_totalprice"], "c", "s_exc", op="sum", inclusive=False
    )
    assert _rows(exact, "o_totalprice", "s_inc", "s_exc") == _rows(
        mine, "o_totalprice", "s_inc", "s_exc"
    )
    # the exclusive form's globally-first row is NULL, as in the window
    first = mine.orderBy("o_totalprice").limit(1).collect()[0]
    assert first.s_exc is None
    assert [r.tot for r in mine.select("tot").distinct().collect()] == [
        grain.count()
    ]


def test_prefix_max_desc_exclusive_on_timestamps_and_longs(spark):
    e = load_table(spark, SF_DIR, "events").select("event_id", "ts")
    w = Window.orderBy("event_id").rowsBetween(Window.unboundedPreceding, 0)
    exact = e.select("event_id", F.max("ts").over(w).alias("hwm"))
    mine = attach_prefix_agg(e, ["event_id"], "ts", "hwm", op="max").select(
        "event_id", "hwm"
    )
    assert _rows(exact, "event_id", "hwm") == _rows(mine, "event_id", "hwm")


def test_prefix_agg_rejects_unknown_op(spark, orders):
    with pytest.raises(ValueError, match="unsupported prefix op"):
        attach_prefix_agg(orders, ["o_orderkey"], "o_totalprice", "x", op="avg")


def test_empty_frame(spark, orders):
    empty = orders.filter(F.lit(False))
    assert attach_row_number(empty, ["o_orderkey"], out="rn").count() == 0
    assert (
        attach_prefix_agg(empty, ["o_orderkey"], "o_orderkey", "s").count()
        == 0
    )


def test_prefix_sum_enforces_integer_exactness_contract(spark, orders):
    """op='sum' over float/double re-associates addition, so it must
    raise loudly (VERDICT r7 #1) — unless the caller opts in, or routes
    through decimal, which IS order-free and must keep working."""
    with pytest.raises(TypeError, match="re-associates addition"):
        attach_prefix_agg(orders, ["o_orderkey"], "o_totalprice", "s")
    # the decimal route is the sanctioned fix and stays exact
    as_dec = orders.withColumn(
        "price_dec", F.col("o_totalprice").cast("decimal(18,2)")
    )
    w = Window.orderBy("o_orderkey").rowsBetween(Window.unboundedPreceding, 0)
    exact = as_dec.select(
        "o_orderkey", F.sum("price_dec").over(w).alias("s")
    )
    mine = attach_prefix_agg(as_dec, ["o_orderkey"], "price_dec", "s")
    assert _rows(exact, "o_orderkey", "s") == _rows(mine, "o_orderkey", "s")
    # explicit opt-in still runs (ulp-level divergence accepted)
    assert (
        attach_prefix_agg(
            orders, ["o_orderkey"], "o_totalprice", "s", allow_float=True
        ).count()
        == orders.count()
    )
    # op='max' is order-free for any type: no guard, doubles fine
    assert (
        attach_prefix_agg(
            orders, ["o_orderkey"], "o_totalprice", "m", op="max"
        ).count()
        == orders.count()
    )


def test_floor_div_exact_beyond_double_precision(spark):
    """_floor_div must stay exact past 2^53, where the old double
    division rounded (ADVICE r7): 2^60 div 7 and (2^63-1) div 1."""
    from gmail_etl_spark.operators.distributed_window import _floor_div

    big = 1 << 60
    row = (
        spark.range(1)
        .select(
            _floor_div(F.lit(big), F.lit(7)).alias("a"),
            _floor_div(F.lit((1 << 63) - 1), F.lit(1)).alias("b"),
            _floor_div(F.lit(big - 1), F.lit(big)).alias("c"),
        )
        .collect()[0]
    )
    assert row.a == big // 7
    assert row.b == (1 << 63) - 1
    assert row.c == 0


# ---------------------------------------------------------------------------
# The six rewritten catalog queries vs their exact single-window forms.
# The DuckDB oracles already gate these (tests/test_oracle.py, driver
# hash at sf0.01); this pins the Spark-vs-Spark identity independently.
# ---------------------------------------------------------------------------


def test_q82_matches_exact_window_form(spark):
    o = load_table(spark, SF_DIR, "orders")
    w = Window.orderBy("o_totalprice", "o_orderkey")
    exact = o.select(
        F.col("o_orderkey").alias("orderkey"),
        F.ntile(4).over(w).alias("price_quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )
    mine = CATALOG["q82_window_distribution"].builder(spark, SF_DIR)
    assert _rows(exact, "orderkey", "price_quartile", "pct_rank", "cume") == _rows(
        mine, "orderkey", "price_quartile", "pct_rank", "cume"
    )


def test_q165_matches_exact_window_form(spark):
    e = load_table(spark, SF_DIR, "events")
    w = Window.orderBy("event_id").rowsBetween(Window.unboundedPreceding, 0)
    arrivals = e.select("ts", F.max("ts").over(w).alias("hwm"))
    late_30 = (F.col("ts") < F.col("hwm") - F.expr("INTERVAL 30 MINUTES")).cast(
        "int"
    )
    late_5 = (F.col("ts") < F.col("hwm") - F.expr("INTERVAL 5 MINUTES")).cast(
        "int"
    )
    exact = (
        arrivals.groupBy(F.window("ts", "10 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(late_30).cast("long").alias("n_late_30m"),
            F.sum(late_5).cast("long").alias("n_late_5m"),
        )
        .select(
            F.col("w.start").cast("long").alias("bucket_start"),
            "n_events",
            "n_late_30m",
            "n_late_5m",
        )
    )
    mine = CATALOG["q165_late_data_audit"].builder(spark, SF_DIR)
    cols = ["bucket_start", "n_events", "n_late_30m", "n_late_5m"]
    assert _rows(exact, *cols) == _rows(mine, *cols)


def test_q220_matches_exact_range_frame_form(spark):
    o = load_table(spark, SF_DIR, "orders")
    spend = o.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("cents"),
        F.count(F.lit(1)).cast("long").alias("n_orders"),
    )
    w_spend = Window.orderBy(F.col("cents").desc()).rangeBetween(
        Window.unboundedPreceding, -1
    )
    w_orders = Window.orderBy(F.col("n_orders").desc()).rangeBetween(
        Window.unboundedPreceding, -1
    )
    exact = spend.select(
        "custkey",
        "cents",
        "n_orders",
        F.max("n_orders").over(w_spend).alias("mh"),
        F.max("cents").over(w_orders).alias("mc"),
    ).filter(
        (F.col("mh").isNull() | (F.col("mh") < F.col("n_orders")))
        & (F.col("mc").isNull() | (F.col("mc") < F.col("cents")))
    )
    mine = CATALOG["q220_pareto_frontier"].builder(spark, SF_DIR)
    assert _rows(exact, "custkey", "cents", "n_orders") == _rows(
        mine, "custkey", "cents", "n_orders"
    )


def test_q251_matches_exact_window_form(spark):
    e = load_table(spark, SF_DIR, "events")
    horizon = e.agg(F.max("ts").alias("t_max"))
    rfm = (
        e.groupBy("user_id")
        .agg(
            F.max("ts").alias("t_last"),
            F.count(F.lit(1)).cast("long").alias("frequency"),
            F.sum(F.round(F.col("value") * 100).cast("long"))
            .cast("long")
            .alias("monetary_cents"),
        )
        .crossJoin(F.broadcast(horizon))
        .select(
            "user_id",
            (F.unix_micros("t_max") - F.unix_micros("t_last")).alias(
                "recency_us"
            ),
            "frequency",
            "monetary_cents",
        )
    )
    scored = rfm.select(
        "user_id",
        F.ntile(5)
        .over(Window.orderBy(F.col("recency_us").desc(), "user_id"))
        .alias("r"),
        F.ntile(5).over(Window.orderBy("frequency", "user_id")).alias("f"),
        F.ntile(5)
        .over(Window.orderBy("monetary_cents", "user_id"))
        .alias("m"),
    )
    exact = (
        scored.select(
            F.concat(
                F.col("r").cast("string"),
                F.col("f").cast("string"),
                F.col("m").cast("string"),
            ).alias("segment"),
            "user_id",
        )
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.min("user_id").cast("long").alias("first_user_id"),
        )
    )
    mine = CATALOG["q251_rfm_segmentation"].builder(spark, SF_DIR)
    cols = ["segment", "n_users", "first_user_id"]
    assert _rows(exact, *cols) == _rows(mine, *cols)


def test_q227_and_q254_match_exact_forms(spark):
    # q227: exact quartile readout vs the single-window prefix form
    e = load_table(spark, SF_DIR, "events")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_buy"))
    )
    gaps = p.join(v, "user_id").select(
        (F.unix_micros("t_buy") - F.unix_micros("t_view")).alias("gap_us")
    )
    grain = gaps.groupBy("gap_us").agg(F.count(F.lit(1)).alias("cnt"))
    wo = Window.orderBy("gap_us").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = grain.select(
        "gap_us",
        F.sum("cnt").over(wo).alias("cum_cnt"),
        F.sum("cnt").over(wall).alias("n"),
    )
    n, cc = F.col("n"), F.col("cum_cnt")
    exact = cum.agg(
        F.any_value("n").cast("long").alias("n_converted"),
        F.floor(F.min(F.when(cc * 4 >= n, F.col("gap_us"))) / 60000000)
        .cast("long")
        .alias("p25_minutes"),
        F.floor(F.min(F.when(cc * 2 >= n, F.col("gap_us"))) / 60000000)
        .cast("long")
        .alias("median_minutes"),
        F.floor(F.min(F.when(cc * 4 >= 3 * n, F.col("gap_us"))) / 60000000)
        .cast("long")
        .alias("p75_minutes"),
    )
    mine = CATALOG["q227_time_to_convert"].builder(spark, SF_DIR)
    assert [tuple(r) for r in exact.collect()] == [
        tuple(r) for r in mine.collect()
    ]

    # q254: peak concurrency vs the single-window sweep
    spans = e.groupBy("user_id").agg(
        F.unix_micros(F.min("ts")).alias("start_us"),
        (F.unix_micros(F.max("ts")) + 300000000).alias("end_us"),
    )
    points = spans.select(
        F.col("start_us").alias("t"), F.lit(1).alias("delta")
    ).unionByName(
        spans.select(F.col("end_us").alias("t"), F.lit(-1).alias("delta"))
    )
    wt = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    swept = (
        points.groupBy("t")
        .agg(F.sum("delta").alias("d"))
        .select("t", F.sum("d").over(wt).cast("long").alias("concurrency"))
    )
    exact254 = swept.withColumn(
        "m", F.max("concurrency").over(wall)
    ).agg(
        F.max("concurrency").alias("peak_concurrency"),
        F.min(F.when(F.col("concurrency") == F.col("m"), F.col("t"))).alias(
            "peak_at_us"
        ),
        F.count(F.lit(1)).cast("long").alias("n_change_points"),
    )
    mine254 = CATALOG["q254_peak_concurrency"].builder(spark, SF_DIR)
    assert [tuple(r) for r in exact254.collect()] == [
        tuple(r) for r in mine254.collect()
    ]


def test_distributed_window_invariant_to_runtime_conf(spark):
    """The two-phase carry logic leans on spark_partition_id() over a
    range exchange — it must survive the runtime knobs a foreign
    harness session may differ in: AQE off (no stage coalescing at
    all) and a much higher shuffle-partition count (mostly-empty range
    partitions).  Same rows, same ranks, under every combination."""
    o = load_table(spark, SF_DIR, "orders").select("o_orderkey", "o_totalprice")
    order = ["o_totalprice", "o_orderkey"]
    baseline = _rows(
        attach_row_number(o, order, out="rn", total_out="n"),
        "o_orderkey",
        "rn",
        "n",
    )
    conf = spark.conf
    saved_aqe = conf.get("spark.sql.adaptive.enabled")
    saved_parts = conf.get("spark.sql.shuffle.partitions")
    try:
        for aqe in ("false", "true"):
            for parts in ("3", "200"):
                conf.set("spark.sql.adaptive.enabled", aqe)
                conf.set("spark.sql.shuffle.partitions", parts)
                got = _rows(
                    attach_row_number(o, order, out="rn", total_out="n"),
                    "o_orderkey",
                    "rn",
                    "n",
                )
                assert got == baseline, (aqe, parts)
                ntiles = _rows(
                    attach_ntile(o, order, 5, "t"), "o_orderkey", "t"
                )
                exact = _rows(
                    o.withColumn(
                        "t", F.ntile(5).over(Window.orderBy(*order))
                    ),
                    "o_orderkey",
                    "t",
                )
                assert ntiles == exact, (aqe, parts)
    finally:
        conf.set("spark.sql.adaptive.enabled", saved_aqe)
        conf.set("spark.sql.shuffle.partitions", saved_parts)


def test_pid_strategy_routing_and_shapes(spark, orders):
    """PID consistency is load-bearing (the round-8 corruption find),
    so pin both strategies' shapes: a numeric asc leading key routes to
    the HISTOGRAM path (pid = pure data function: broadcast map join,
    no range exchange, no barrier — live lineage, deterministic by
    construction); anything else routes to the CHECKPOINT barrier
    (explicit cores x 8 range partitioning pinned behind a
    localCheckpoint so boundaries can never be re-sampled)."""
    from gmail_etl_spark.operators.distributed_window import (
        PID,
        _with_range_pid,
    )

    n_parts = spark.sparkContext.defaultParallelism * 8

    # numeric asc leading key -> histogram path.  The corpus must stay
    # LIVE lineage (a join against the tiny bucket->pid map, which is
    # itself a local frame); only the CHECKPOINT path collapses the
    # corpus columns into a LogicalRDD scan.
    fast = _with_range_pid(orders, ["o_orderkey"], None)
    assert PID in fast.columns
    plan = fast._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" in plan, plan[:400]
    assert "LogicalRDD [o_orderkey" not in plan, (
        "histogram path must not checkpoint the corpus"
    )
    pid_stats = fast.agg(
        F.min(PID).alias("mn"), F.max(PID).alias("mx")
    ).collect()[0]
    assert 0 <= pid_stats["mn"] and pid_stats["mx"] < n_parts
    # pid ranges must be disjoint and ascend with the key
    per_pid = (
        fast.groupBy(PID)
        .agg(F.min("o_orderkey").alias("lo"), F.max("o_orderkey").alias("hi"))
        .orderBy(PID)
        .collect()
    )
    for prev, cur in zip(per_pid, per_pid[1:]):
        assert prev["hi"] <= cur["lo"], (prev, cur)

    # string-typed leading key -> checkpoint barrier fallback
    strs = orders.select(
        F.col("o_orderkey").cast("string").alias("s"), "o_totalprice"
    )
    slow = _with_range_pid(strs, ["s"], None)
    assert slow.rdd.getNumPartitions() == n_parts
    plan = slow._jdf.queryExecution().optimizedPlan().toString()
    assert "LogicalRDD" in plan, plan[:400]
    assert PID in slow.columns

    # desc Column leading key stays on the histogram path and the
    # pid order REVERSES with the key
    fast_desc = _with_range_pid(
        orders, [F.col("o_orderkey").desc(), "o_totalprice"], None
    )
    plan = fast_desc._jdf.queryExecution().optimizedPlan().toString()
    assert "LogicalRDD [o_orderkey" not in plan
    per_pid = (
        fast_desc.groupBy(PID)
        .agg(F.min("o_orderkey").alias("lo"), F.max("o_orderkey").alias("hi"))
        .orderBy(PID)
        .collect()
    )
    for prev, cur in zip(per_pid, per_pid[1:]):
        assert prev["lo"] >= cur["hi"], (prev, cur)


def test_distributed_forms_match_on_desc_and_null_keys(spark):
    """Histogram-path edge semantics vs the naive window: desc leading
    key with nulls (asc NULLS FIRST / desc NULLS LAST are what the
    catalog uses), plus a float key with NaN — NaN sorts greater than
    everything in Spark, and the histogram codes it explicitly."""
    rows = [(None, 1), (3.5, 2), (float("nan"), 3), (0.25, 4), (3.5, 5),
            (None, 6), (float("-inf"), 7), (float("inf"), 8), (0.25, 9)]
    df = spark.createDataFrame(rows, "v double, tie long")

    for order in (
        ["v", "tie"],
        [F.col("v").desc(), F.asc("tie")],
        [F.desc("v"), "tie"],
    ):
        exact = df.withColumn(
            "rn", F.row_number().over(Window.orderBy(*order)).cast("long")
        )
        mine = attach_row_number(df, order, out="rn")
        assert _rows(exact, "tie", "rn") == _rows(mine, "tie", "rn"), order


def test_pid_consistency_no_corruption_at_5m_rows(spark):
    """Regression gate for the round-8 corruption find: at 5M rows in
    the 4-core test session, the r7 AQE-sized form produced a DIFFERENT
    wrong global rank on every run (the two range-exchange reads
    coalesced differently, so the branches disagreed on pids; the
    inner join silently mis-carried).  The fixed form must match the
    naive single-window checksum on repeated runs.  Slow; run with
    SPARK_GRAFT_SCALE_TESTS=1."""
    import os
    import time

    import pytest

    if os.environ.get("SPARK_GRAFT_SCALE_TESTS") != "1":
        pytest.skip("scale gate: set SPARK_GRAFT_SCALE_TESTS=1 to run")

    df = (
        spark.range(5_000_000)
        .select(
            (F.xxhash64("id") % 1_000_003).alias("k"),
            F.col("id").alias("tie"),
        )
        .repartition(32)
        .cache()
    )
    df.count()

    def chk(out):
        r = out.agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64("k", "tie", "rn")).alias("x"),
        ).collect()[0]
        return (r["n"], r["x"])

    w = Window.orderBy("k", "tie")
    # cast: row_number() is int, the distributed form emits long, and
    # xxhash64 is type-sensitive — the comparison is about VALUES
    truth = chk(df.withColumn("rn", F.row_number().over(w).cast("long")))
    t0 = time.perf_counter()
    for i in range(3):
        got = chk(attach_row_number(df, ["k", "tie"], out="rn"))
        assert got == truth, (i, got, truth)
    elapsed = time.perf_counter() - t0
    df.unpersist()
    # and the fixed form is not a perf cliff: 3 distributed runs of a
    # 5M rank should not take minutes on 4 cores
    assert elapsed < 300, elapsed


def test_streaming_input_raises_batch_only(spark, tmp_path):
    """ADVICE r8 (low): the helpers are EAGER at plan-build time (the
    histogram path runs two driver actions; the fallback needs
    localCheckpoint) — neither works on a stream, so a streaming input
    must refuse loudly up front instead of failing obscurely inside
    Spark."""
    src = str(tmp_path / "stream_src")
    spark.range(10).select(F.col("id").alias("k")).write.parquet(src)
    stream = spark.readStream.schema("k long").parquet(src)
    with pytest.raises(TypeError, match="batch-only"):
        attach_row_number(stream, ["k"], out="rn")


def test_histogram_unmapped_bucket_code_fails_loudly(spark, tmp_path):
    """ADVICE r8 (medium): the bucket->pid map covers only codes seen in
    the build-time histogram collect.  If the leading-key expression
    re-evaluates differently at execution time (nondeterministic
    column, re-read source), the former bare INNER join silently
    dropped the unseen-code rows from BOTH phases — invisible to the
    downstream guards because the rows vanish before they run.
    Reproduce that exact scenario: a key UDF whose value derives from a
    mutable file — build the plan (histogram collected under the old
    value), mutate the file, execute.  The left-join guard must raise,
    never return a silently smaller or mis-ranked result."""
    marker = tmp_path / "base.txt"
    marker.write_text("0")
    path = str(marker)

    @F.pandas_udf("double")
    def shifting_key(idx: pd.Series) -> pd.Series:
        base = float(open(path).read())
        return idx.astype("float64") + base

    df = spark.range(1000).withColumn("k", shifting_key("id"))
    # build-time: histogram observes keys 0..999
    ranked = attach_row_number(df, ["k", "id"], out="rn")
    # execution-time: every key lands in the UNDERFLOW bucket (code 0),
    # which build time never observed (the min key maps to bucket 1)
    marker.write_text("-1e12")
    with pytest.raises(Exception, match="pid mappings"):
        ranked.collect()


def test_q257_takes_checkpoint_barrier_and_matches_exact_window(spark):
    """q257 exists to keep the checkpoint-barrier fallback exercised in
    the driver sweep (VERDICT r8 #3) — so pin that it actually TAKES
    the barrier (string leading key → LogicalRDD scan in the optimized
    plan; the histogram path would show a broadcast map join over live
    lineage instead), and that its summary matches the naive
    single-window form."""
    q = CATALOG["q257_string_key_global_rank"]
    df = q.builder(spark, SF_DIR)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "LogicalRDD" in plan, (
        "q257 must route through the checkpoint barrier; plan:\n" + plan[:600]
    )

    d = load_table(spark, SF_DIR, "documents").select("lang", "doc_id")
    w = Window.orderBy("lang", "doc_id")
    naive = (
        d.withColumn("rn", F.row_number().over(w).cast("long"))
        .groupBy("lang")
        .agg(
            F.min("rn").alias("first_rn"),
            F.max("rn").alias("last_rn"),
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("rn").alias("rn_sum"),
        )
    )
    cols = ["lang", "first_rn", "last_rn", "n_docs", "rn_sum"]
    assert _rows(df, *cols) == _rows(naive, *cols)
