"""Structured Streaming jobs (SURVEY §2.6 ST1–ST5, §2.8 X5).

The reference's incremental machinery maps 1:1 onto streaming
primitives:

* ST1 trigger/schedule  (`gmail_dag.py:5` @daily)            → ``trigger(availableNow=True)`` run per schedule
* ST2 exactly-once dedup (`gmail_functions.py:115-137`)      → checkpoint + ``dropDuplicates('id')``
* ST3 source progress    (`nextPageToken`, not persisted)    → source offsets in the checkpoint
* ST4 processed-commit   (move blob to raw/processed/, :312) → ``cleanSource='archive'``
* ST5 task DAG           (`gmail_dag.py:6-9`)                → ``foreachBatch`` composing both stages

The checkpoint *subsumes* the JDBC ledger: offsets + state make re-runs
ingest nothing, which is exactly what the `emails` table was for.  X5
adds what the reference never had — event-time windows + watermarks for
late data.
"""

from __future__ import annotations

import json
import itertools
import logging
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from gmail_etl_spark.pipeline import transform_stage1
from gmail_etl_spark.schemas import RAW_MESSAGE_SCHEMA

# ---------------------------------------------------------------------------
# sources
# ---------------------------------------------------------------------------


def read_raw_stream(
    spark: SparkSession, raw_dir: str, archive_dir: str | None = None
) -> DataFrame:
    """S3/S4 as a file-source stream; ST4 via cleanSource archiving."""
    reader = (
        spark.readStream.schema(RAW_MESSAGE_SCHEMA)
        .option("multiLine", True)
        .option("mode", "PERMISSIVE")
        .option("maxFilesPerTrigger", 64)
    )
    if archive_dir is not None:
        reader = reader.option("cleanSource", "archive").option(
            "sourceArchiveDir", archive_dir
        )
    return reader.json(raw_dir).filter(F.col("id").isNotNull())


def read_events_stream(spark: SparkSession, path: str) -> DataFrame:
    """Version-robust events stream: the parquet ``ts`` column is
    TIMESTAMP(NANOS), which different Spark versions surface differently
    (epoch-nano longs under ``legacy.parquet.nanosAsLong``, or µs
    TIMESTAMP_NTZ).  A one-off batch probe of the same path supplies the
    schema the running version actually produces — streams require an
    explicit schema — and ``normalize_nano_ts`` then lands either form
    on the same session-UTC TIMESTAMP, exactly like the batch loader."""
    from gmail_etl_spark.plans.catalog import normalize_nano_ts

    probed = spark.read.parquet(path).schema
    df = spark.readStream.schema(probed).parquet(path)
    return normalize_nano_ts(df, "ts")


# ---------------------------------------------------------------------------
# ST1/ST2/ST5 — the pipeline as an exactly-once stream
# ---------------------------------------------------------------------------


def stream_raw_to_stage1(
    spark: SparkSession,
    raw_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    archive_dir: str | None = None,
    await_termination: bool = True,
):
    """Raw blobs → stage-1 parquet, exactly-once.

    ``foreachBatch`` composes in-batch dedup + the full transform
    (ST5); the checkpoint carries source offsets (ST3) so a restart
    ingests only new blobs — the ledger's purpose with no ledger.
    """

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        stage1 = transform_stage1(batch_df.dropDuplicates(["id"]))
        stage1.write.mode("append").parquet(out_dir)

    q = (
        read_raw_stream(spark, raw_dir, archive_dir)
        .writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    if await_termination:
        q.awaitTermination()
    return q


# ---------------------------------------------------------------------------
# X5 — event-time windows + watermark; ST2 — stateful dedup
# ---------------------------------------------------------------------------


def windowed_event_counts(
    events: DataFrame,
    window: str = "10 minutes",
    slide: str | None = None,
    watermark: str = "30 minutes",
) -> DataFrame:
    """Watermarked tumbling/sliding counts — identical expression to the
    batch catalog q60/q61, so batch results oracle the stream."""
    win = (
        F.window("ts", window) if slide is None else F.window("ts", window, slide)
    )
    return (
        events.withWatermark("ts", watermark)
        .groupBy(win.alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").cast("long").alias("bucket_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def dedup_events_stream(events: DataFrame, watermark: str = "30 minutes") -> DataFrame:
    """ST2 as streaming state: drop duplicate event_ids within the
    watermark horizon (bounded state — the scalable form of the ledger)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def sessionized_event_counts(events: DataFrame, gap: str = "5 minutes",
                             watermark: str = "1 hour") -> DataFrame:
    """X5 session windows under streaming semantics: watermarked
    ``session_window`` aggregation (append mode emits a session once the
    watermark passes its close).  Identical expression to batch q62, so
    the batch result oracles the stream."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_micros(F.col("w.start")).alias("session_start_us"),
            "n_events",
        )
    )


# ---------------------------------------------------------------------------
# versioned state: committed version dirs behind one ``_CURRENT`` head
# ---------------------------------------------------------------------------
#
# Every stateful maintainer below (the five rollups and the near-dup
# index) turns foreachBatch's at-least-once delivery into exactly-once
# state with one protocol, the idempotent-sink recipe of Structured
# Streaming (SIGMOD 2018):
#
# 1. write the batch's state into a new version dir;
# 2. mark the dir committed (_COMMIT_MARKER) after ALL of its data landed;
# 3. publish the batch id as the head (_publish_head);
# 4. skip every replayed batch with batch_id <= head (_resolve_head).
#
# Crash windows, all covered by _resolve_head's fallback to the highest
# committed dir when no pointer exists:
#
# - before the marker: the dir is partial and unmarked, so the fallback
#   and every reader ignore it, and the replay overwrites it;
# - after the marker, before the pointer moves: a surviving pointer still
#   names the previous head, so the batch replays and rewrites its dir;
#   with no pointer yet (the very first batch) the fallback treats the
#   complete dir as published and skips its replay, which is correct;
# - inside _publish_head, between deleting the old pointer and renaming
#   the new one into place: the fallback finds the just-committed dir.
#
# The state dir and its checkpoint move together: batch ids are monotone
# within ONE checkpoint lineage, so a fresh checkpoint over an existing
# state dir treats its re-numbered batches as already merged.  That is
# right for re-processing the same files and wrong if the fresh run also
# carries new files in those low-numbered batches: reset both or neither.


def _state_fs(spark: SparkSession, state_dir: str):
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    base = jvm.org.apache.hadoop.fs.Path(state_dir)
    return jvm, base.getFileSystem(conf), base


#: Engine-owned commit marker for version dirs.  Deliberately NOT the job
#: committer's ``_SUCCESS``: object-store deployments commonly set
#: ``mapreduce.fileoutputcommitter.marksuccessfuljobs=false``, and a
#: fallback gated on a marker that is never written would treat every
#: fully-written version as partial, rebuilding state from one replayed
#: batch and deleting real history.  The engine writes this file itself
#: after ALL of a version's data lands, so :func:`_resolve_head`'s
#: fallback does not depend on the committer's configuration.
_COMMIT_MARKER = "_COMMITTED"

#: The head pointer: the decimal id of the last published batch.
_HEAD = "_CURRENT"


def _read_file(fs, path) -> str:
    stream = fs.open(path)
    try:
        return bytes(stream.readAllBytes()).decode("utf-8")
    finally:
        stream.close()


def _write_file(fs, path, text: str) -> None:
    out = fs.create(path, True)
    try:
        out.write(text.encode("utf-8"))
    finally:
        out.close()


def _mark_committed(spark: SparkSession, dir_path: str) -> None:
    """Create the engine-owned commit marker inside ``dir_path``."""
    jvm, fs, _ = _state_fs(spark, dir_path)
    _write_file(fs, jvm.org.apache.hadoop.fs.Path(dir_path, _COMMIT_MARKER), "")


def _dir_interval(name: str) -> tuple[int, int] | None:
    """Batch-id interval ``(lo, hi)`` a version dir covers, or None for
    a non-conforming stray: a stray ``_bstale`` dir must be skipped, not
    abort every later micro-batch with a ValueError.  Three dir kinds:

    - ``_v<seq>``: the rollup's state after batch ``seq`` → ``[seq, seq]``;
    - ``_b<seq>``: one near-dup index append batch → ``[seq, seq]``;
    - ``_m<lo>_<hi>``: a tiered fold of the index dirs whose intervals
      tile ``[lo, hi]`` (see :func:`_plan_index_fold`).
    """
    kind, parts = name[:2], name[2:].split("_")
    if not all(p.isdecimal() for p in parts):
        return None
    if kind in ("_v", "_b") and len(parts) == 1:
        return int(parts[0]), int(parts[0])
    if kind == "_m" and len(parts) == 2 and int(parts[0]) <= int(parts[1]):
        return int(parts[0]), int(parts[1])
    return None


def _version_dirs(
    spark: SparkSession, state_dir: str, committed: bool = True
) -> list[tuple[int, int, str]]:
    """``(lo, hi, name)`` of every conforming version dir under
    ``state_dir`` — only the ones carrying :data:`_COMMIT_MARKER` when
    ``committed``, partial ones too otherwise."""
    jvm, fs, base = _state_fs(spark, state_dir)
    if not fs.exists(base):
        return []
    root = state_dir.rstrip("/")
    out = []
    for s in fs.listStatus(base):
        name = s.getPath().getName()
        iv = _dir_interval(name) if s.isDirectory() else None
        if iv is not None and (
            not committed
            or fs.exists(
                jvm.org.apache.hadoop.fs.Path(f"{root}/{name}", _COMMIT_MARKER)
            )
        ):
            out.append((iv[0], iv[1], name))
    return out


def _resolve_head(spark: SparkSession, state_dir: str) -> int:
    """Last published batch_id of a versioned state dir, or -1 when
    nothing was published: the :data:`_HEAD` pointer when present, else
    the highest interval end among the committed version dirs (the crash
    windows this fallback covers are listed above :func:`_state_fs`)."""
    jvm, fs, _ = _state_fs(spark, state_dir)
    ptr = jvm.org.apache.hadoop.fs.Path(state_dir, _HEAD)
    if fs.exists(ptr):
        return int(_read_file(fs, ptr))
    return max((hi for _, hi, _ in _version_dirs(spark, state_dir)), default=-1)


def _publish_head(spark: SparkSession, state_dir: str, batch_id: int) -> None:
    """Publish ``batch_id`` as the head: write a temp file, delete the
    old pointer and rename the temp into place (rename-over is not
    portable across Hadoop filesystems; :func:`_resolve_head` covers the
    moment with no pointer)."""
    jvm, fs, _ = _state_fs(spark, state_dir)
    ptr = jvm.org.apache.hadoop.fs.Path(state_dir, _HEAD)
    tmp = jvm.org.apache.hadoop.fs.Path(state_dir, f"{_HEAD}.{batch_id}.tmp")
    _write_file(fs, tmp, str(batch_id))
    if fs.exists(ptr):
        fs.delete(ptr, False)
    fs.rename(tmp, ptr)


def _delete_version_dirs(
    spark: SparkSession, state_dir: str, names: list[str]
) -> None:
    """Best-effort recursive delete of version dirs by name — the single
    choke point for superseded-state cleanup, so crash-injection tests
    can fault it and prove readers and replay never depended on the
    deletion having run."""
    jvm, fs, _ = _state_fs(spark, state_dir)
    root = state_dir.rstrip("/")
    for name in names:
        fs.delete(jvm.org.apache.hadoop.fs.Path(f"{root}/{name}"), True)


def _rollup_dir_at(rollup_dir: str, batch_id: int) -> str:
    """The rollup's version dir holding its state after ``batch_id``."""
    return f"{rollup_dir.rstrip('/')}/_v{batch_id:015d}"


def _maintain_rollup(
    spark: SparkSession,
    events_dir: str,
    rollup_dir: str,
    checkpoint_dir: str,
    merge: Callable[[DataFrame, DataFrame | None], DataFrame],
) -> None:
    """Run a versioned rollup over the events stream: each new batch's
    ``merge(batch_df, prev)`` — ``prev`` the published state, None before
    the first publish — is written as ``_v<batch_id>`` and published
    under the head protocol, and the superseded versions are dropped.
    Only a genuinely missing rollup starts from scratch: a failure
    reading an existing version propagates instead of silently resetting
    history."""

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark_l = batch_df.sparkSession
        head = _resolve_head(spark_l, rollup_dir)
        if batch_id <= head:
            return  # at-least-once replay of an already-published merge
        prev = None
        if head >= 0:
            prev = spark_l.read.parquet(_rollup_dir_at(rollup_dir, head))
        new_dir = _rollup_dir_at(rollup_dir, batch_id)
        merge(batch_df, prev).write.mode("overwrite").parquet(new_dir)
        _mark_committed(spark_l, new_dir)
        _publish_head(spark_l, rollup_dir, batch_id)
        superseded = _version_dirs(spark_l, rollup_dir, committed=False)
        new_name = new_dir.rsplit("/", 1)[1]
        _delete_version_dirs(
            spark_l, rollup_dir, [n for _, _, n in superseded if n != new_name]
        )

    (
        read_events_stream(spark, events_dir)
        .writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def read_daily_rollup(spark: SparkSession, rollup_dir: str) -> DataFrame:
    """Reader for the versioned rollup published by
    :func:`maintain_daily_rollup` (and the other rollup maintainers)."""
    head = _resolve_head(spark, rollup_dir)
    if head < 0:
        raise FileNotFoundError(f"no rollup published under {rollup_dir}")
    return spark.read.parquet(_rollup_dir_at(rollup_dir, head))


def maintain_daily_rollup(
    spark: SparkSession,
    events_dir: str,
    rollup_dir: str,
    checkpoint_dir: str,
) -> None:
    """Incremental materialized-view maintenance: each micro-batch's
    partial aggregate (count + integer-cents sum per (day, event_type))
    merges ADDITIVELY into the persisted rollup — the streaming form of
    the hypertable rollup (q66).  Counts and integer sums are mergeable
    state, so the rollup equals the from-scratch batch aggregate after
    any sequence of triggers.

    Exactly-once despite foreachBatch's at-least-once contract, through
    the versioned-state protocol every stateful maintainer here shares
    (see the block above :func:`_state_fs`): each merge writes a NEW
    committed version dir ``_v<batch_id>`` and publishes its batch id in
    the ``_CURRENT`` pointer, so readers (:func:`read_daily_rollup`)
    always see a complete version.  A replayed batch (crash after
    publish, before the checkpoint committed) has ``batch_id <= head``
    and is skipped, so the additive merge never double-counts.  The
    rollup and its checkpoint move together; reset both or neither.

    At 100 TB the rollup table is tiny relative to the fact stream
    (days × types), so the merge rewrite is cheap and the stream never
    re-reads history."""

    def merge(batch_df: DataFrame, prev: DataFrame | None) -> DataFrame:
        inc = batch_df.groupBy(F.to_date("ts").alias("day"), "event_type").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("value_cents"),
        )
        if prev is None:
            return inc
        return (
            prev.unionByName(inc)
            .groupBy("day", "event_type")
            .agg(
                F.sum("n_events").alias("n_events"),
                F.sum("value_cents").alias("value_cents"),
            )
        )

    _maintain_rollup(spark, events_dir, rollup_dir, checkpoint_dir, merge)


# ---------------------------------------------------------------------------
# X5 — stream-stream join (time-bounded correlation of two event streams)
# ---------------------------------------------------------------------------


def stream_stream_attribution(
    events: DataFrame,
    trigger_type: str = "click",
    outcome_type: str = "purchase",
    within: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream inner join: attribute each ``outcome_type`` event
    to the same user's preceding ``trigger_type`` events within
    ``within`` — the classic click→purchase attribution correlation.

    Both sides carry watermarks and the join condition bounds event
    time on both ends, so Spark can expire join state: per-side state
    is (watermark + within) of events, never unbounded.  The same
    expression runs in batch (the test oracles the stream against it).
    """
    a = (
        events.filter(F.col("event_type") == trigger_type)
        .select(
            F.col("user_id").alias("a_user"),
            F.col("event_id").alias("trigger_id"),
            F.col("ts").alias("trigger_ts"),
        )
        .withWatermark("trigger_ts", watermark)
    )
    b = (
        events.filter(F.col("event_type") == outcome_type)
        .select(
            F.col("user_id").alias("b_user"),
            F.col("event_id").alias("outcome_id"),
            F.col("ts").alias("outcome_ts"),
        )
        .withWatermark("outcome_ts", watermark)
    )
    return a.join(
        b,
        (F.col("a_user") == F.col("b_user"))
        & (F.col("outcome_ts") >= F.col("trigger_ts"))
        & (F.col("outcome_ts") <= F.col("trigger_ts") + F.expr(f"INTERVAL {within}")),
    ).select(
        F.col("a_user").alias("user_id"),
        "trigger_id",
        "outcome_id",
        "trigger_ts",
        "outcome_ts",
    )


# ---------------------------------------------------------------------------
# streaming corpus scrub — the X3 PII pass as an incremental job
# ---------------------------------------------------------------------------


def stream_scrub_documents(
    spark: SparkSession,
    docs_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    schema_ddl: str = "doc_id bigint, text string",
) -> None:
    """Incremental PII scrub (availableNow): new document files are
    redacted with the q116 regexp kernels and appended as parquet,
    exactly-once via the checkpoint.  The scrub is stateless (a narrow
    map), so streaming adds no state store — the natural shape for a
    continuously-arriving 100 TB corpus where re-scrubbing history every
    run is the anti-pattern.
    """
    from gmail_etl_spark.functions.pii import with_pii_report

    stream = spark.readStream.schema(schema_ddl).parquet(docs_dir)
    scrubbed = with_pii_report(stream).drop("text")
    (
        scrubbed.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


# ---------------------------------------------------------------------------
# ST5/X5 — incremental DISTINCT-count state: mergeable sketches, not counts
# ---------------------------------------------------------------------------


def maintain_daily_distinct_sketch(
    spark: SparkSession,
    events_dir: str,
    rollup_dir: str,
    checkpoint_dir: str,
) -> None:
    """The sketch-state companion to :func:`maintain_daily_rollup`:
    per-day DISTINCT users cannot be maintained by adding counts (a
    returning user must not double-count across micro-batches), but the
    HLL register state IS mergeable — each batch aggregates its rows
    into one sketch per day (`hll_sketch_agg`) and unions it into the
    persisted per-day sketch (`hll_union_agg`).  Because HLL union takes
    the register-wise max, the final state after ANY partition of the
    stream into batches is byte-identical to the one-shot batch sketch —
    the test asserts estimate equality EXACTLY, not within tolerance.

    Same crash-safety contract as the additive rollup (versioned dirs +
    `_CURRENT` pointer + batch_id idempotence).  At 100 TB the state is
    days × 2^lgK bytes — the stream never re-reads history to answer
    "distinct users per day so far"."""

    def merge(batch_df: DataFrame, prev: DataFrame | None) -> DataFrame:
        inc = batch_df.groupBy(F.to_date("ts").alias("day")).agg(
            F.expr("hll_sketch_agg(user_id, 12)").alias("sk")
        )
        if prev is None:
            return inc
        return (
            prev.unionByName(inc)
            .groupBy("day")
            .agg(F.expr("hll_union_agg(sk)").alias("sk"))
        )

    _maintain_rollup(spark, events_dir, rollup_dir, checkpoint_dir, merge)


def read_daily_distinct_estimates(spark: SparkSession, rollup_dir: str) -> DataFrame:
    """Estimates off the published sketch state: (day, approx_users)."""
    return (
        read_daily_rollup(spark, rollup_dir)
        .select(
            "day",
            F.expr("hll_sketch_estimate(sk)").cast("long").alias("approx_users"),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# X5 — streaming drift monitor (incremental TVD over maintained histograms)
# ---------------------------------------------------------------------------


def maintain_drift_histograms(
    spark: SparkSession,
    events_dir: str,
    rollup_dir: str,
    checkpoint_dir: str,
    cutoff: str = "2024-01-15",
    bin_cents: int = 3600,
) -> None:
    """Incremental form of the q205 drift readout: maintain the per
    (event_type, value-bin) first-half/second-half counts ADDITIVELY
    across micro-batches, exactly like :func:`maintain_daily_rollup`
    (versioned dirs + ``_CURRENT`` pointer + batch_id idempotence), so
    the monitoring surface — total-variation distance between reference
    and live histograms — is always answerable from state that is
    days × types × bins small, without re-reading the stream.

    Counts are mergeable integers, so after ANY partition of the stream
    into batches the state equals the one-shot batch histogram and the
    TVD readout (:func:`read_drift_tvd`) hash-matches the q205 catalog
    query — the test asserts exact equality, not tolerance.  This is the
    general recipe: any drift statistic computed from per-bin counts
    (TVD, chi-square, PSI) becomes incrementally maintainable the moment
    its sufficient statistics are additive."""
    cutoff_ts = F.lit(cutoff).cast("timestamp")

    def merge(batch_df: DataFrame, prev: DataFrame | None) -> DataFrame:
        half1 = (F.col("ts") < cutoff_ts).cast("int")
        inc = (
            batch_df.select(
                "event_type",
                F.floor(
                    F.round(F.col("value") * 100).cast("long") / F.lit(float(bin_cents))
                )
                .cast("long")
                .alias("bin"),
                half1.alias("h1"),
                (1 - half1).alias("h2"),
            )
            .groupBy("event_type", "bin")
            .agg(F.sum("h1").alias("a"), F.sum("h2").alias("b"))
        )
        if prev is None:
            return inc
        return (
            prev.unionByName(inc)
            .groupBy("event_type", "bin")
            .agg(F.sum("a").alias("a"), F.sum("b").alias("b"))
        )

    _maintain_rollup(spark, events_dir, rollup_dir, checkpoint_dir, merge)


def read_drift_tvd(spark: SparkSession, rollup_dir: str) -> DataFrame:
    """TVD readout off the maintained histogram state; column-for-column
    identical to the q205 catalog query (event_type, tvd, worst_bin)."""
    from pyspark.sql import Window

    per_bin = read_daily_rollup(spark, rollup_dir)
    tot = per_bin.groupBy("event_type").agg(
        F.sum("a").cast("long").alias("n1"), F.sum("b").cast("long").alias("n2")
    )
    dev = per_bin.join(F.broadcast(tot), "event_type").select(
        "event_type",
        "bin",
        F.abs(F.col("a") * F.col("n2") - F.col("b") * F.col("n1")).alias("cross_dev"),
        "n1",
        "n2",
    )
    wa = Window.partitionBy("event_type")
    return (
        dev.withColumn("m", F.max("cross_dev").over(wa))
        .groupBy("event_type")
        .agg(
            F.round(
                F.sum("cross_dev").cast("double")
                / (2.0 * F.any_value("n1") * F.any_value("n2")),
                6,
            ).alias("tvd"),
            F.min(F.when(F.col("cross_dev") == F.col("m"), F.col("bin"))).alias(
                "worst_bin"
            ),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# ST5/J2 — streaming upsert: latest-per-key snapshot maintained across batches
# ---------------------------------------------------------------------------


def maintain_latest_snapshot(
    spark: SparkSession,
    events_dir: str,
    rollup_dir: str,
    checkpoint_dir: str,
) -> None:
    """Streaming MERGE: maintain the per-user latest (ts, value) snapshot
    across micro-batches — the incremental form of the q200 upsert and
    the stateful generalization of the reference's insert-only ledger
    (J2).  Unlike the additive rollup, upsert state merges by MAX over
    the (ts, event_id) order; max is idempotent AND commutative, so the
    snapshot is correct under any batching and unchanged by replays —
    the batch_id guard here only saves work, it is not load-bearing for
    correctness (the additive rollup NEEDS it; this job would survive
    without it).

    Each batch reduces to one row per touched key (argmax via struct
    max), then merges with the persisted snapshot by the same struct
    max — the tie-break and ordering logic exists in exactly one
    expression.  State is keys × one row; at 100 TB the merge rewrite
    is bounded by the snapshot size, not the stream, and the same
    versioned-dir/_CURRENT publish keeps readers consistent mid-swap."""

    def pick_latest(df: DataFrame) -> DataFrame:
        # argmax by (ts, event_id): struct max orders lexicographically;
        # operates on cents so persisted state re-merges without a
        # dollars round trip
        return (
            df.groupBy("user_id")
            .agg(F.max(F.struct("ts", "event_id", "value_cents")).alias("s"))
            .select(
                "user_id",
                F.col("s.ts").alias("ts"),
                F.col("s.event_id").alias("event_id"),
                F.col("s.value_cents").alias("value_cents"),
            )
        )

    def merge(batch_df: DataFrame, prev: DataFrame | None) -> DataFrame:
        inc = pick_latest(
            batch_df.select(
                "user_id",
                "ts",
                "event_id",
                F.round(F.col("value") * 100).cast("bigint").alias("value_cents"),
            )
        )
        return inc if prev is None else pick_latest(prev.unionByName(inc))

    _maintain_rollup(spark, events_dir, rollup_dir, checkpoint_dir, merge)


def read_latest_snapshot(spark: SparkSession, rollup_dir: str) -> DataFrame:
    """The current per-user snapshot (user_id, ts, event_id, value_cents)."""
    return read_daily_rollup(spark, rollup_dir).orderBy("user_id")


# ---------------------------------------------------------------------------
# X5/sketches — streaming Misra-Gries heavy-hitter summary maintenance
# ---------------------------------------------------------------------------


def maintain_heavy_hitter_summary(
    spark: SparkSession,
    events_dir: str,
    rollup_dir: str,
    checkpoint_dir: str,
    k: int = 50,
) -> None:
    """Streaming Misra–Gries: maintain a capacity-``k`` heavy-hitter
    summary of ``user_id`` across micro-batches.  MG summaries are
    MERGEABLE (Agarwal et al., PODS 2012): add counters item-wise, then
    compact by subtracting the (k+1)-th largest counter and dropping
    non-positives — the union of any batch partition keeps the classic
    guarantee, so after the whole stream every user with global count
    > N/(k+1) is present, and each stored counter undercounts its true
    count by at most N/(k+1).

    The merge runs entirely in DataFrame ops on the BOUNDED state: the
    batch's exact per-user counts union the persisted ≤k rows, fold by
    user, and the compaction cut is a window rank over ≤k+batch-users
    rows.  Unlike the max-merge snapshot, this state is NOT
    replay-idempotent (counters add), so the versioned-dir batch_id
    guard is load-bearing, exactly as for the additive rollup.  State
    leaving any executor is ≤k rows regardless of stream volume — the
    100 TB heavy-hitter monitor with constant memory."""

    def merge(batch_df: DataFrame, prev: DataFrame | None) -> DataFrame:
        inc = batch_df.groupBy("user_id").agg(
            F.count(F.lit(1)).cast("long").alias("cnt")
        )
        if prev is not None:
            summed = (
                prev.unionByName(inc)
                .groupBy("user_id")
                .agg(F.sum("cnt").cast("long").alias("cnt"))
            )
        else:
            summed = inc
        from pyspark.sql import Window as W

        ranked = summed.withColumn(
            "rk", F.row_number().over(W.orderBy(F.col("cnt").desc(), "user_id"))
        )
        # mergeable-summaries compaction: subtract the (k+1)-th largest
        # counter (0 when the summary fits), keep positives
        cut = ranked.filter(F.col("rk") == k + 1).select(
            F.col("cnt").alias("cut")
        )
        return (
            ranked.crossJoin(F.broadcast(cut.unionByName(
                ranked.sparkSession.createDataFrame([(0,)], "cut bigint")
            ).agg(F.max("cut").alias("cut"))))
            .select(
                "user_id", (F.col("cnt") - F.col("cut")).alias("cnt")
            )
            .filter(F.col("cnt") > 0)
        )

    _maintain_rollup(spark, events_dir, rollup_dir, checkpoint_dir, merge)


def read_heavy_hitter_summary(spark: SparkSession, rollup_dir: str) -> DataFrame:
    """Current MG summary: (user_id, cnt lower-bound counter)."""
    return read_daily_rollup(spark, rollup_dir).orderBy(
        F.col("cnt").desc(), "user_id"
    )


# ---------------------------------------------------------------------------
# D2 × ST5 — streaming near-dup index: dedup new arrivals against the
# retained corpus (incremental MinHash-LSH)
# ---------------------------------------------------------------------------


def _index_entries(
    spark: SparkSession, index_dir: str, head: int
) -> tuple[list[tuple[int, int, str]], list[tuple[int, int, str]]]:
    """One directory scan → ``(committed, live)`` entries at ``head``,
    each as ``(lo, hi, name)`` with ``live`` sorted oldest-first.

    The one reader rule of the index log: a committed dir is live iff
    no other committed dir's interval strictly contains it.  A fold dir
    ``_m<lo>_<hi>`` therefore shadows exactly the dirs it folded even
    BEFORE their physical cleanup runs — a crash between the fold's
    commit and the folded dirs' deletion changes nothing for readers,
    and cleanup can complete opportunistically at any later point.  The
    committed check matters for fold dirs specifically: their interval
    hi is below ``head``, so a crash mid-fold-write leaves a partial
    ``_m`` dir that the ≤ head gate alone would admit.  Readers and the
    shadowed-dir cleaner BOTH derive from this single function, so they
    can never disagree about what is live."""
    entries = [e for e in _version_dirs(spark, index_dir) if e[1] <= head]
    return entries, _live_of(entries)


def _live_of(
    entries: list[tuple[int, int, str]]
) -> list[tuple[int, int, str]]:
    """The pure shadowing rule, factored so the property test pins the
    exact production predicate: an entry is live iff no other entry's
    interval strictly contains it; sorted oldest-first.

    Equal-interval tie-break (ADVICE r11): two distinct committed dirs
    covering the SAME interval are mutually non-containing under the
    strict rule, so both would read as live and double-count rows.
    This engine's own writes never produce that state (a fold interval
    always strictly contains its members'), but the rule is the
    load-bearing safety invariant, so it is made TOTAL: among equal
    intervals only the lexicographically greatest name is live — a
    pure, deterministic choice (and ``_m`` > ``_b`` lexicographically,
    so a fold dir beats the append dir it would tie with)."""
    return sorted(
        (lo, hi, name)
        for lo, hi, name in entries
        if not any(
            ((olo <= lo and hi <= ohi) and (olo, ohi) != (lo, hi))
            or ((olo, ohi) == (lo, hi) and oname > name)
            for olo, ohi, oname in entries
        )
    )


#: Sub-tables of one published index dir (sharded for probe pruning):
#: ``buckets/`` holds narrow (bucket, id) rows directory-partitioned by
#: ``shard`` (:func:`_bucket_shard`) and sorted by bucket within files;
#: ``hsh/`` holds the per-survivor shingle-hash sets keyed by id,
#: partitioned by ``idshard`` (:func:`_id_shard`).  The probe reads ONLY
#: the shards its batch keys fall in, and touches the (wide) hsh arrays
#: only for verified candidates.
_IDX_BUCKETS = "buckets"
_IDX_HSH = "hsh"


def _bucket_shard(n_shards: int) -> Column:
    """``buckets/`` shard of a row with a ``bucket`` column — the one
    rule the writer partitions by and the probe prunes by (a writer and
    a probe that disagreed would silently miss shards)."""
    return F.pmod(F.col("bucket"), F.lit(n_shards)).cast("int")


def _id_shard(n_shards: int) -> Column:
    """``hsh/`` shard of a row with an ``id`` column (see
    :func:`_bucket_shard`)."""
    return F.pmod(F.xxhash64(F.col("id")), F.lit(n_shards)).cast("int")


def _read_index_meta(spark: SparkSession, index_dir: str) -> dict | None:
    jvm, fs, _ = _state_fs(spark, index_dir)
    p = jvm.org.apache.hadoop.fs.Path(index_dir, "_META")
    return json.loads(_read_file(fs, p)) if fs.exists(p) else None


def _write_index_meta(spark: SparkSession, index_dir: str, meta: dict) -> None:
    jvm, fs, _ = _state_fs(spark, index_dir)
    p = jvm.org.apache.hadoop.fs.Path(index_dir, "_META")
    _write_file(fs, p, json.dumps(meta, sort_keys=True))


def _data_files(spark: SparkSession, paths: list[str]):
    """Non-hidden data files under ``paths`` (recursive), lazily, as
    Hadoop ``LocatedFileStatus`` objects — the one lister behind the
    empty-dir skip, the pruning gate and the byte accounting, so the
    hidden-name convention lives in one place."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    for p in paths:
        base = jvm.org.apache.hadoop.fs.Path(p)
        fs = base.getFileSystem(conf)
        if not fs.exists(base):
            continue
        it = fs.listFiles(base, True)
        while it.hasNext():
            st = it.next()
            if not st.getPath().getName().startswith(("_", ".")):
                yield st


def _has_data_files(spark: SparkSession, path: str) -> bool:
    """True if ``path`` holds at least one non-hidden file: a micro-batch
    whose survivors were all deduped publishes an EMPTY partitioned dir
    (no part files, so no inferable schema) which readers must skip."""
    return next(_data_files(spark, [path]), None) is not None


#: Below this many data files in the ``buckets/`` sub-tables the probe
#: skips shard pruning entirely: the two bounded driver collects that
#: compute the shard sets cost more than scanning a toy index, exactly
#: the size-aware-strategy logic of autoBroadcastJoinThreshold.  The
#: pruned and unpruned probes compute identical results (pruning is
#: I/O-only); tests pin equality by forcing the threshold to 0.
_PRUNE_MIN_FILES = 64


def _data_file_count(
    spark: SparkSession, dirs: list[str], sub: str, stop_at: int
) -> int:
    """Number of non-hidden data files across ``dirs``' ``sub`` tables,
    counting stops at ``stop_at`` (the pruning gate needs only the
    comparison, not an exact census of a huge index)."""
    files = _data_files(spark, [f"{d}/{sub}" for d in dirs])
    return sum(1 for _ in itertools.islice(files, stop_at))


def _read_index_sub(
    spark: SparkSession, dirs: list[str], sub: str
) -> DataFrame | None:
    """Union of one sub-table (``buckets``/``hsh``) across index dirs,
    or None when no dir holds data.  Each dir is read as its OWN
    partitioned root (Spark refuses partition discovery over multiple
    roots) and unioned; Catalyst pushes the probe's shard filter through
    the Union into every scan, so directory-level partition pruning
    applies per dir."""
    frames = [
        spark.read.parquet(f"{d}/{sub}")
        for d in dirs
        if _has_data_files(spark, f"{d}/{sub}")
    ]
    if not frames:
        return None
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


#: The one on-disk index layout this engine writes and reads: sharded
#: ``buckets/`` + ``hsh/`` sub-tables (see :data:`_IDX_BUCKETS`), tiered
#: ``_m`` fold dirs, and a ``_META`` recording every key below.
_INDEX_LAYOUT = 3
#: ``_META`` keys that fix every stored byte: the shard count sets the
#: directory partitioning, and the LSH shape sets every bucket hash and
#: shingle-hash element.
_INDEX_SHAPE_KEYS = ("n_shards", "k", "n_hashes", "bands", "hash_family")


def _check_index_shape(index_dir: str, meta: dict, got: dict) -> None:
    """Raise when the caller's shape contradicts the index's ``_META``:
    a mismatched maintainer or probe would match NO buckets (or prune to
    the wrong shards) and silently re-admit, or clear, every
    near-duplicate."""
    for key, val in got.items():
        if meta[key] != val:
            raise ValueError(
                f"index at {index_dir} was built with {key}={meta[key]!r}; "
                f"got {key}={val!r} — {key} is a layout constant (a "
                "mismatched probe matches no buckets or misses shards, and "
                "silently misses every near-duplicate)"
            )


def _index_meta(spark: SparkSession, index_dir: str) -> dict | None:
    """The index's ``_META``, or None for a fresh index (no ``_META``
    and no version dir).  Anything else this engine did not write —
    version dirs without ``_META`` (the flat pre-v2 layout, or a foreign
    index), another layout, a ``_META`` missing a shape key — raises:
    reading it as an empty or partial retained corpus would re-admit
    every near-duplicate while dropping prior survivors."""
    meta = _read_index_meta(spark, index_dir)
    if meta is None:
        if not _version_dirs(spark, index_dir, committed=False):
            return None
        problem = "has version dirs but no _META"
    elif meta.get("layout") != _INDEX_LAYOUT:
        problem = f"declares layout={meta.get('layout')!r}"
    elif missing := [key for key in _INDEX_SHAPE_KEYS if key not in meta]:
        problem = f"has a _META without {', '.join(missing)}"
    else:
        return meta
    raise ValueError(
        f"near-dup index at {index_dir} {problem} — unrecognized layout "
        f"(this engine reads layout {_INDEX_LAYOUT} only); rebuild it with "
        "maintain_near_dup_index"
    )


def _write_index_tables(
    spark: SparkSession,
    new_dir: str,
    buckets_out: DataFrame,
    hsh_out: DataFrame,
    n_shards: int,
) -> None:
    """Write the two sharded sub-tables of one index version dir and
    mark it ``_COMMITTED`` (shared by append publishes and tiered
    folds — a fold dir is byte-layout-identical to a batch dir)."""
    (
        buckets_out.select("bucket", "id")
        .withColumn("shard", _bucket_shard(n_shards))
        .repartition("shard")
        .sortWithinPartitions("shard", "bucket")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(f"{new_dir}/{_IDX_BUCKETS}")
    )
    (
        hsh_out.select("id", "hsh")
        .withColumn("idshard", _id_shard(n_shards))
        .repartition("idshard")
        .sortWithinPartitions("idshard")
        .write.mode("overwrite")
        .partitionBy("idshard")
        .parquet(f"{new_dir}/{_IDX_HSH}")
    )
    _mark_committed(spark, new_dir)


def _publish_index_batch(
    spark: SparkSession,
    index_dir: str,
    buckets_out: DataFrame,
    hsh_out: DataFrame,
    batch_id: int,
    n_shards: int,
) -> None:
    """Write one append dir (``_b<batch_id>``) in the sharded layout,
    mark it ``_COMMITTED``, then publish ``batch_id`` as the head.
    Folding of accumulated history is a SEPARATE, pointer-independent
    step (:func:`_maybe_fold_index`) that runs after the pointer
    advance — a crash anywhere inside it never loses batch data."""
    name = f"_b{batch_id:015d}"
    _write_index_tables(
        spark, f"{index_dir.rstrip('/')}/{name}", buckets_out, hsh_out, n_shards
    )
    _publish_head(spark, index_dir, batch_id)


def _bytes_under(spark: SparkSession, paths: list[str]) -> int:
    """Total length of the data files under ``paths`` — fold-
    amplification accounting for the scale artifacts; only called when
    a ``fold_log`` or probe ``stats`` is requested, never on the hot
    path."""
    return sum(st.getLen() for st in _data_files(spark, paths))


def _fold_tier_of(width: int, fanout: int) -> int:
    """Size tier of a live dir covering ``width`` base batches:
    ``t`` such that ``fanout**t <= width < fanout**(t+1)``.  Width is
    the tier metric (not byte size) so fold decisions are a pure
    function of the dir LISTING — deterministic under replay, no
    dependence on file-layout accidents."""
    t = 0
    w = max(1, width)
    while w >= fanout:
        w //= fanout
        t += 1
    return t


def _plan_index_fold(
    entries: list[tuple[int, int, str]], fanout: int, max_width: int
) -> tuple[int, int] | None:
    """Pick at most ONE fold for this publish: the slice ``[i, j)`` of
    the live list (sorted oldest-first) to merge, or None.

    Size-tiered (LSM-style) policy: group adjacent live dirs into
    maximal runs of equal tier (tier = :func:`_fold_tier_of` of the
    covered batch width); the lowest-tier run holding at least
    ``fanout`` dirs folds its OLDEST ``fanout`` members — provided the
    folded interval stays within ``max_width``.  Each row is therefore
    rewritten at most ``log_fanout(max_width)`` times over the corpus
    lifetime (2 under the defaults fanout=16/max_width=256), and no
    single publish ever rewrites more than ``fanout`` dirs of one tier
    — never O(index).  Dirs at or above ``max_width`` are sealed: never
    rewritten again, exactly Lucene's maxMergedSegment discipline.
    Cascades (a fold that fills the next tier) complete one fold per
    subsequent publish, spreading the work.

    Adjacency in the sorted live list is what makes the fold SAFE: live
    intervals are pairwise disjoint, so every live dir inside the folded
    interval is a member of the folded run — the new ``_m<lo>_<hi>`` dir
    shadows exactly what it absorbed (true for ANY fanout-window of the
    run, which is why the max_width slide below stays safe).  Fanout < 2
    never folds: a single-dir "fold" would publish an ``_m`` dir with an
    interval EQUAL to its member's, which shadows nothing — readers
    would see both (doubled rows).

    The fanout window SLIDES within a run (ADVICE r11): testing
    max_width only against the oldest window would let one over-wide
    dir permanently block its whole tier from folding — dir count, and
    with it listing/planning cost, would then grow without bound.  Such
    a dir appears when ``max_fold_width`` is lowered between runs: a
    width-5 fold written under ``compact_every=5`` (width cap 25) is
    tier 1 next to the width-4 folds of a later ``compact_every=4`` run,
    whose cap is 16.  Sliding picks the OLDEST window that fits
    max_width; the over-wide head dir is left behind exactly as if
    sealed."""
    if fanout < 2:
        return None
    best: tuple[int, int, int] | None = None  # (tier, i, j)
    i = 0
    n = len(entries)
    while i < n:
        t = _fold_tier_of(entries[i][1] - entries[i][0] + 1, fanout)
        j = i
        while j < n and _fold_tier_of(entries[j][1] - entries[j][0] + 1, fanout) == t:
            j += 1
        if j - i >= fanout and (best is None or t < best[0]):
            for s in range(i, j - fanout + 1):
                width = entries[s + fanout - 1][1] - entries[s][0] + 1
                if width <= max_width:
                    best = (t, s, s + fanout)
                    break
        i = j
    return None if best is None else (best[1], best[2])


def _cleanup_shadowed_index_dirs(
    spark: SparkSession, index_dir: str, head: int
) -> list[str]:
    """Delete committed dirs ≤ head that are NOT live — folded history
    whose removal a crash interrupted.  Runs after every fold AND
    opportunistically at maintainer startup, so an interrupted cleanup
    converges at the next run instead of waiting for (or never seeing)
    another fold.  Derives the shadowed set from the same single scan
    readers use (:func:`_index_entries`), so it can never delete a dir
    a reader at this head still considers live.  Returns the deleted
    names.

    CONCURRENCY (ADVICE r11): "never deletes what a reader considers
    live" holds for readers that list AFTER the fold commits.  A probe
    that listed dirs before the commit can have the old (now-shadowed)
    dirs deleted under its in-flight scan and fail with a transient
    FileNotFoundException — a visible failure, never silent wrongness,
    and rerunning the probe (which re-lists) succeeds.  The index's
    concurrency contract is therefore: ONE maintainer (Structured
    Streaming already serializes micro-batches); concurrent read-only
    probes are safe against a quiesced maintainer and retry-on-failure
    against a live one."""
    entries, live = _index_entries(spark, index_dir, head)
    live_names = {name for _, _, name in live}
    shadowed = [name for _, _, name in entries if name not in live_names]
    _delete_version_dirs(spark, index_dir, shadowed)
    return shadowed


def _maybe_fold_index(
    spark: SparkSession,
    index_dir: str,
    head: int,
    n_shards: int,
    fanout: int,
    max_width: int,
    measure: bool = False,
) -> dict | None:
    """Run at most one tiered fold at ``head`` (see
    :func:`_plan_index_fold`), publish it as ``_m<lo>_<hi>`` behind the
    ``_COMMITTED`` marker, then clean up the shadowed dirs.  Crash-safe
    at every window: a partial ``_m`` dir has no marker (invisible to
    readers); a committed ``_m`` dir shadows its inputs by interval
    containment whether or not their deletion ran; the pointer is never
    touched (folds don't change the head).  Returns a stats dict when a
    fold ran (bytes only when ``measure`` — an extra listing pass the
    hot path skips)."""
    if fanout <= 0:
        return None
    entries = _index_entries(spark, index_dir, head)[1]
    plan = _plan_index_fold(entries, fanout, max_width)
    if plan is None:
        return None
    i, j = plan
    run = entries[i:j]
    lo, hi = run[0][0], run[-1][1]
    root = index_dir.rstrip("/")
    run_dirs = [f"{root}/{name}" for _, _, name in run]
    buckets = _read_index_sub(spark, run_dirs, _IDX_BUCKETS)
    hsh = _read_index_sub(spark, run_dirs, _IDX_HSH)
    name = f"_m{lo:015d}_{hi:015d}"
    new_dir = f"{root}/{name}"
    stats: dict = {"fold": name, "lo": lo, "hi": hi, "n_dirs": len(run)}
    if measure:
        stats["bytes_folded_in"] = _bytes_under(spark, run_dirs)
    if buckets is None or hsh is None:
        # every folded dir is empty (all-dup batches; both sub-tables
        # are written by the same kept_sigs frame, so one empty implies
        # both): publish a marker-only fold dir — readers skip it via
        # _has_data_files, and the empties still collapse to one dir
        jvm, fs, _ = _state_fs(spark, index_dir)
        fs.mkdirs(jvm.org.apache.hadoop.fs.Path(new_dir))
        _mark_committed(spark, new_dir)
    else:
        _write_index_tables(spark, new_dir, buckets, hsh, n_shards)
    if measure:
        stats["bytes_folded_out"] = _bytes_under(spark, [new_dir])
    stats["cleaned"] = _cleanup_shadowed_index_dirs(spark, index_dir, head)
    return stats


_log = logging.getLogger(__name__)

#: Uncapped-probe visibility threshold (ADVICE r11): with
#: ``max_bucket=None`` a boilerplate-hot index bucket can expand
#: |index-bucket| × |batch-in-bucket| candidate rows; the expansion is
#: the documented recall contract, but a runaway bucket should be
#: VISIBLE, not silent — past this many candidates the probe logs a
#: warning naming the knob.  Checked only on the persisted pruned path,
#: where the count is a cheap cache scan.
_UNCAPPED_CAND_WARN = 5_000_000


def _probe_dup_ids(
    spark: SparkSession,
    hist_dirs: list[str],
    bkeys: DataFrame,
    b_hsh: DataFrame,
    threshold: float,
    max_bucket: int | None,
    n_shards: int,
    pins: list,
    stats: dict | None = None,
) -> DataFrame:
    """Batch ids that near-duplicate a retained doc — the pruned history
    probe of the sharded index layout.

    Scale shape (the 100 TB side is the index, the batch is small):

    1. The batch's band keys map to at most ``n_shards`` bucket shards;
       that bounded set is collected (≤ n_shards rows) and pushed down
       as a PARTITION filter on the ``buckets/`` scan, so unmatched
       shard dirs are never listed or read — per-batch I/O is
       O(index/n_shards · shards_hit), not O(index), and a small batch
       reads a small fraction of the index.
    2. Hot-bucket cap (probe side): index membership is counted per
       MATCHED bucket first (linear in members, map-side partial agg)
       and buckets over ``max_bucket`` index members are dropped before
       the candidate expansion — a boilerplate band-key collision
       cluster in the index can no longer expand |index-bucket| ×
       |batch-in-bucket| rows (the probe-side analog of
       ``capped_pair_candidates``'s bound; recall on dropped boilerplate
       buckets is the same sacrifice the in-batch cap makes).
    3. The wide shingle-hash arrays are read ONLY for candidate ids:
       the ``hsh/`` scan is partition-pruned to the candidates' id
       shards (again a bounded ≤ n_shards collect) and joined to the
       broadcast candidate-id set before the exact Jaccard verify.

    ``max_bucket=None`` disables step 2 (no cap, no recall sacrifice —
    the read-only decontamination default); past
    :data:`_UNCAPPED_CAND_WARN` candidates the uncapped expansion logs
    a warning so a runaway boilerplate bucket is visible; a
    ``max_bucket`` below 1 raises ``ValueError`` (it would drop every
    matched bucket, so nothing would ever be flagged).  Frames persisted
    to stop the candidate stage executing twice (once for the shard
    collect, once at action time) are appended to ``pins``; the CALLER
    unpersists them after consuming the result.  ``stats`` (when a
    dict) receives probe-plan accounting — ``prune`` (bool),
    ``probe_shards`` / ``cand_shards`` (the pruned partition sets, None
    when unpruned), ``bytes_buckets`` / ``bytes_hsh`` (on-disk bytes one
    scan of the matched shards reads, measured at probe time because
    folds may later delete the dirs), ``n_candidates`` (pruned path
    only) — for the scale-evidence
    harnesses; zero hot-path cost when None beyond what the plan
    already executed.
    """
    from gmail_etl_spark.operators.dedup import _jaccard_verify

    if max_bucket is not None and max_bucket < 1:
        raise ValueError(f"max_bucket must be >= 1 or None, got {max_bucket}")
    hist_buckets = _read_index_sub(spark, hist_dirs, _IDX_BUCKETS)
    if hist_buckets is None:
        return b_hsh.select("id").limit(0)
    prune = (
        _data_file_count(spark, hist_dirs, _IDX_BUCKETS, _PRUNE_MIN_FILES)
        >= _PRUNE_MIN_FILES
    )
    if stats is not None:
        stats["prune"] = prune
        stats["probe_shards"] = stats["cand_shards"] = None
        stats["bytes_buckets"] = stats["bytes_hsh"] = 0
    if prune:
        probe_shards = sorted(
            r[0]
            for r in bkeys.select(_bucket_shard(n_shards)).distinct().collect()
        )
        if stats is not None:
            stats["probe_shards"] = probe_shards
            # bytes one scan of the matched shards reads — measured NOW
            # because a later fold may delete these dirs (harness-only)
            stats["bytes_buckets"] = _bytes_under(
                spark,
                [
                    f"{d.rstrip('/')}/{_IDX_BUCKETS}/shard={s}"
                    for d in hist_dirs
                    for s in probe_shards
                ],
            )
        if not probe_shards:
            return b_hsh.select("id").limit(0)
        hb = hist_buckets.filter(F.col("shard").isin(probe_shards))
    else:
        hb = hist_buckets
        if stats is not None:
            stats["bytes_buckets"] = _bytes_under(
                spark, [f"{d.rstrip('/')}/{_IDX_BUCKETS}" for d in hist_dirs]
            )
    bucket_set = bkeys.select("bucket").distinct()
    if max_bucket is not None:
        over = (
            hb.join(F.broadcast(bucket_set), "bucket")
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("n_idx"))
            .filter(F.col("n_idx") > max_bucket)
            .select("bucket")
        )
        hb = hb.join(F.broadcast(over), "bucket", "left_anti")
    # (a_id, b_id) = (index id, batch id)
    cand = (
        hb.join(
            F.broadcast(bkeys.select(F.col("id").alias("b_id"), "bucket")),
            "bucket",
        )
        .select(F.col("id").alias("a_id"), "b_id")
        .distinct()
    )
    if prune:
        # the cand_shards collect below EXECUTES this whole candidate
        # plan (index scan + cap + expansion); without a persist the
        # returned plan re-executes it at action time — pay it once
        cand = cand.persist()
        pins.append(cand)
    h_ids = cand.select(F.col("a_id").alias("id")).distinct()
    hist_hsh = _read_index_sub(spark, hist_dirs, _IDX_HSH)
    if hist_hsh is None:
        return b_hsh.select("id").limit(0)
    if prune:
        cand_shards = sorted(
            r[0] for r in h_ids.select(_id_shard(n_shards)).distinct().collect()
        )
        if stats is not None:
            stats["cand_shards"] = cand_shards
            stats["bytes_hsh"] = _bytes_under(
                spark,
                [
                    f"{d.rstrip('/')}/{_IDX_HSH}/idshard={s}"
                    for d in hist_dirs
                    for s in cand_shards
                ],
            )
        if max_bucket is None or stats is not None:
            # cheap on the just-persisted frame; makes a runaway
            # uncapped expansion visible (ADVICE r11) and feeds the
            # harness accounting
            n_cand = cand.count()
            if stats is not None:
                stats["n_candidates"] = n_cand
            if max_bucket is None and n_cand > _UNCAPPED_CAND_WARN:
                _log.warning(
                    "uncapped near-dup probe expanded %d candidate pairs "
                    "(> %d); a boilerplate-hot index bucket may dominate "
                    "cost — pass max_bucket to cap it (recall trade, see "
                    "probe_near_dup_index docstring)",
                    n_cand,
                    _UNCAPPED_CAND_WARN,
                )
        if not cand_shards:
            return b_hsh.select("id").limit(0)
        hh = hist_hsh.filter(F.col("idshard").isin(cand_shards))
    else:
        hh = hist_hsh
        if stats is not None:
            stats["bytes_hsh"] = _bytes_under(
                spark, [f"{d.rstrip('/')}/{_IDX_HSH}" for d in hist_dirs]
            )
    h_side = hh.join(F.broadcast(h_ids), "id").select(
        "id", F.col("hsh").alias("set")
    )
    b_side = F.broadcast(b_hsh.select("id", F.col("hsh").alias("set")))
    return (
        _jaccard_verify(cand, h_side, b_side, threshold)
        .select(F.col("b_id").alias("id"))
        .distinct()
    )


def maintain_near_dup_index(
    spark: SparkSession,
    docs_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    n_hashes: int = 16,
    bands: int = 8,
    threshold: float = 0.5,
    max_bucket: int = 512,
    hash_family: str = "xxhash64",
    n_shards: int = 16,
    compact_every: int = 16,
    max_fold_width: int | None = None,
    fold_log: list | None = None,
    probe_log: list | None = None,
) -> None:
    """Incremental near-duplicate curation: each micro-batch is deduped
    IN-BATCH (MinHash-LSH pairs → connected components, exactly the
    batch operator) and AGAINST THE RETAINED CORPUS (pruned LSH probe of
    the persisted signature index + exact hashed-shingle Jaccard
    verify); survivors append their sharded (bucket, id) band keys and
    (id, hsh) shingle-hash sets to the index.  The streaming form of
    ``near_dedup`` — what a continuously ingesting training-data
    pipeline actually runs: "is this new doc a near-copy of anything we
    already kept?"

    SEMANTICS — retained-corpus, not transitive closure: a doc is
    dropped iff it is within ``threshold`` of a KEPT doc (or loses the
    in-batch canonicalization).  Batch CC additionally merges chains
    A~B~C where A≁C; here, if B arrives after A (dropped as A's dup),
    a later C~B but C≁A is KEPT — there is no retained doc it
    duplicates.  That asymmetry is deliberate (dedup-against-kept is
    the production contract; a dropped doc cannot contaminate) and is
    pinned by tests/test_streaming.py; on corpora where every cluster
    member is within threshold of the cluster's first arrival (e.g.
    all-pairs-similar duplicate groups), the retained set equals the
    batch operator's canonical set exactly.

    PRECONDITION — ids are unique across the corpus lifetime: the index
    appends survivor rows by id and never re-keys, so re-publishing a
    changed document under an OLD id that survives the probe would
    store a second (id, hsh) row — duplicate reader rows and duplicated
    verify candidates (still correct drop decisions, but violating the
    one-row-per-survivor contract).  Feed revisions under fresh ids (or
    exact-id-dedup upstream).

    Exactly-once: the index is an append-only log of committed
    per-batch survivor dirs (``_b<batch_id>``) under the same
    versioned-state protocol as the rollups (see the block above
    :func:`_state_fs`): the batch id is published in ``_CURRENT`` after
    the dir commits, a replayed batch (crash after publish, before the
    checkpoint commit) has ``batch_id <= head`` and is skipped, and
    readers see only committed dirs ≤ head.  Folds write committed
    ``_m<lo>_<hi>`` dirs below the head and never move it.  Index and
    checkpoint move together.

    Scale shape: the index side is sharded (see :data:`_IDX_BUCKETS`)
    so the per-batch probe PRUNES: it reads only the bucket shards the
    batch's band keys fall in and only the hsh shards its verified
    candidates live in, instead of scanning the whole (100 TB-side,
    monotonically growing) index every batch; hot index buckets are
    capped at ``max_bucket`` members before the candidate expansion
    (``_probe_dup_ids``).  Per batch the index grows by the survivors
    only; accumulated history is folded TIERED (LSM-style,
    :func:`_plan_index_fold`): ``compact_every`` adjacent live dirs of
    the same size tier merge into one ``_m<lo>_<hi>`` dir, at most one
    fold per publish, and dirs covering ``max_fold_width`` batches
    (default ``compact_every**2``) are sealed — never rewritten again.
    Listing/planning cost stays O(fanout·tiers + corpus/max_fold_width)
    dirs (measured: per-batch wall grows 14.5 -> 37 s over 15 unfolded
    dirs and stays flat folded — STREAMING_NEARDUP_*_r10/r11
    artifacts), each survivor row is rewritten at most
    log_fanout(max_fold_width) times EVER (2 under defaults — the r10
    full-history fold rewrote every row every 16 batches, O(index)
    I/O per fold), and no single publish rewrites more than one
    tier-run of ``compact_every`` dirs.  ``compact_every=0`` disables
    folding (pure append log); ``fold_log`` (when a list) receives one
    stats dict per fold with byte-level amplification accounting, and
    ``probe_log`` one per batch with the history probe's plan
    (``prune``/``probe_shards``/``cand_shards``/``n_candidates`` plus
    the ``hist_dirs`` probed) — measurement harnesses only, zero
    hot-path cost when None.  String
    content never enters the index — band buckets and 64-bit shingle
    hashes only.  ``n_shards`` is a LAYOUT constant and the LSH shape
    (``k``/``n_hashes``/``bands``/``hash_family``) determines every
    stored bucket and shingle hash, so ALL are recorded in ``_META`` at
    creation; reusing an index with different values raises instead of
    silently mis-pruning or matching nothing.  Size ``n_shards`` so
    each bucket shard stays a few hundred MB at the target corpus —
    pruning wins when the batch's candidates cluster in few shards,
    i.e. the trickle-ingest regime this maintainer serves (measured:
    78%/97% of files pruned, PROBE_PLAN_r10).  For |batch| ≈ |index|
    the sharded layout is byte-PARITY with a packed single-table scan,
    not a win (measured 1.07× bytes, slower wall — candidates then hit
    every id shard so the hsh fetch prunes nothing;
    PROBE_BYTES_r11.json): dedup a corpus-sized backlog with the BATCH
    operator (``near_dedup``/the q258 pipeline) and reserve this index
    for the incremental stream it exists for."""
    from gmail_etl_spark.operators.dedup import (
        _banded_keys,
        _check_hash_family,
        _check_threshold,
        _lsh_sigs,
        _pairs_from_sigs,
        near_dedup,
    )

    _check_hash_family(hash_family)
    _check_threshold(threshold)
    if int(compact_every) == 1:
        raise ValueError(
            "compact_every=1 is not a valid fold fanout (a single-dir fold "
            "would double reader rows); use 0 to disable folding or >= 2"
        )
    if max_fold_width is None:
        max_fold_width = int(compact_every) ** 2 if compact_every else 0
    shape = {
        "n_shards": int(n_shards),
        "k": int(k),
        "n_hashes": int(n_hashes),
        "bands": int(bands),
        "hash_family": str(hash_family),
    }
    meta = _index_meta(spark, index_dir)
    if meta is None:
        _write_index_meta(spark, index_dir, {"layout": _INDEX_LAYOUT, **shape})
    else:
        _check_index_shape(index_dir, meta, shape)
        # opportunistic convergence of an interrupted fold cleanup: a
        # crash between a fold's commit and its folded dirs' deletion
        # leaves committed-but-shadowed dirs that readers already
        # ignore; reclaim them now instead of waiting for another fold
        _cleanup_shadowed_index_dirs(spark, index_dir, _resolve_head(spark, index_dir))

    # schema sniff off the batch footer (readStream needs one up front)
    docs = (
        spark.readStream.schema(spark.read.parquet(docs_dir).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(docs_dir)
    )

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark_l = batch_df.sparkSession
        head = _resolve_head(spark_l, index_dir)
        if batch_id <= head:
            return  # at-least-once replay of an already-published batch
        # ONE signature computation per batch: shingles + minhash are
        # the probe keys, the verify sets, the in-batch pairing input
        # AND the published survivor rows, so persist the frame instead
        # of re-deriving it in every sub-plan.
        sigs = _lsh_sigs(
            batch_df, id_col, text_col, k, n_hashes, hash_family
        ).persist()
        kept_sigs = None
        fresh_persisted = None
        pins: list = []
        try:
            bkeys = _banded_keys(sigs, n_hashes, bands)
            hist_dirs = [
                f"{index_dir.rstrip('/')}/{name}"
                for *_, name in _index_entries(spark_l, index_dir, head)[1]
            ]
            pstats: dict | None = {} if probe_log is not None else None
            if hist_dirs:
                dup_ids = _probe_dup_ids(
                    spark_l,
                    hist_dirs,
                    bkeys,
                    sigs.select("id", "hsh"),
                    threshold,
                    max_bucket,
                    n_shards,
                    pins=pins,
                    stats=pstats,
                )
                # persist: the anti-join's lineage embeds the whole
                # index probe (scans + verify), and downstream it feeds
                # the pairing, the eager CC AND the survivor writes —
                # without the cache the probe would re-execute per action
                fresh_sigs = fresh_persisted = sigs.join(
                    dup_ids, "id", "left_anti"
                ).persist()
            else:
                fresh_sigs = sigs
            pairs = _pairs_from_sigs(
                fresh_sigs, n_hashes, bands, threshold, max_bucket
            )
            # persist: the survivor frame feeds TWO writes (buckets +
            # hsh sub-tables); without it the probe/pair/CC plan would
            # execute twice
            kept_sigs = near_dedup(fresh_sigs, "id", pairs).persist()
            buckets_out = _banded_keys(kept_sigs, n_hashes, bands)
            hsh_out = kept_sigs.select("id", "hsh")
            _publish_index_batch(
                spark_l, index_dir, buckets_out, hsh_out, batch_id, n_shards
            )
            appended = (
                _bytes_under(
                    spark_l, [f"{index_dir.rstrip('/')}/_b{batch_id:015d}"]
                )
                if fold_log is not None  # measure BEFORE a fold absorbs it
                else 0
            )
            # tiered fold AFTER the pointer advance: batch data is
            # durable whatever happens inside the fold
            stats = _maybe_fold_index(
                spark_l,
                index_dir,
                batch_id,
                n_shards,
                int(compact_every),
                int(max_fold_width),
                measure=fold_log is not None,
            )
            if fold_log is not None:
                entry = {
                    "batch_id": batch_id,
                    "fold": None,
                    "bytes_appended": appended,
                }
                if stats is not None:
                    entry.update(stats)
                fold_log.append(entry)
            if probe_log is not None:
                probe_log.append(
                    {
                        "batch_id": batch_id,
                        "hist_dirs": list(hist_dirs),
                        **(pstats or {}),
                    }
                )
        finally:
            sigs.unpersist()
            if fresh_persisted is not None:
                fresh_persisted.unpersist()
            if kept_sigs is not None:
                kept_sigs.unpersist()
            for frame in pins:
                frame.unpersist()

    q = (
        docs.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def _published_index(
    spark: SparkSession, index_dir: str
) -> tuple[dict | None, list[str]]:
    """``(_META, live dirs at the published head)`` for the read-only
    paths; the ``_META`` is validated first (see :func:`_index_meta`),
    so no dir of a layout this engine does not write is ever read."""
    meta = _index_meta(spark, index_dir)
    live = _index_entries(spark, index_dir, _resolve_head(spark, index_dir))[1]
    return meta, [f"{index_dir.rstrip('/')}/{name}" for *_, name in live]


def probe_near_dup_index(
    spark: SparkSession,
    index_dir: str,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int | None = None,
    n_hashes: int | None = None,
    bands: int | None = None,
    threshold: float = 0.5,
    max_bucket: int | None = None,
    hash_family: str | None = None,
) -> DataFrame:
    """Read-only membership probe: which of ``docs`` near-duplicate the
    retained corpus?  One ``id`` column row per duplicating doc.  The
    decontamination building block — the same pruned probe the
    maintainer runs per micro-batch, without mutating the index.

    LSH shape (``k``/``n_hashes``/``bands``/``hash_family``) defaults
    to the values the index was BUILT with, read from its ``_META``;
    passing them explicitly is validated against ``_META`` and a
    mismatch raises (a mismatched probe matches no buckets — it would
    silently clear every document).

    ``max_bucket`` defaults to ``None`` — NO hot-bucket cap.  Unlike
    the maintainer's ingest probe (where the cap is a documented
    recall/cost trade on boilerplate collision buckets, and an over-cap
    bucket's members were already salt-split in-batch), a capped
    DECONTAMINATION probe silently returns false negatives for docs
    whose only collisions are boilerplate-hot buckets — a contaminated
    doc would pass.  Set ``max_bucket`` explicitly to opt into the
    recall sacrifice when probing adversarial corpora.  Uncapped
    expansions past :data:`_UNCAPPED_CAND_WARN` candidates log a
    warning so a runaway bucket is visible without changing results.

    Probing CONCURRENTLY with a live maintainer is retry-on-failure:
    a fold that commits between this probe's dir listing and its scan
    deletes the now-shadowed dirs, which surfaces as a transient
    FileNotFoundException at action time — rerun the probe (it
    re-lists).  See :func:`_cleanup_shadowed_index_dirs`."""
    from gmail_etl_spark.operators.dedup import (
        _banded_keys,
        _check_hash_family,
        _check_threshold,
        _lsh_sigs,
    )

    _check_threshold(threshold)
    if hash_family is not None:
        _check_hash_family(hash_family)
    meta, dirs = _published_index(spark, index_dir)
    if not dirs:
        return docs.select(F.col(id_col).alias("id")).limit(0)
    explicit = {
        "k": k, "n_hashes": n_hashes, "bands": bands, "hash_family": hash_family
    }
    _check_index_shape(
        index_dir, meta, {key: v for key, v in explicit.items() if v is not None}
    )
    n_hashes = int(meta["n_hashes"])
    sigs = _lsh_sigs(
        docs, id_col, text_col, int(meta["k"]), n_hashes, str(meta["hash_family"])
    )
    bkeys = _banded_keys(sigs, n_hashes, int(meta["bands"]))
    pins: list = []
    try:
        out = _probe_dup_ids(
            spark,
            dirs,
            bkeys,
            sigs.select("id", "hsh"),
            threshold,
            max_bucket,
            int(meta["n_shards"]),
            pins=pins,
        )
        if pins:
            # materialize the (bounded: ≤ |docs| ids) result so the
            # pinned candidate frames can be released NOW instead of
            # leaking into the session cache until the caller acts
            out = out.localCheckpoint(eager=True)
        return out
    finally:
        for frame in pins:
            frame.unpersist()


def read_near_dup_index(spark: SparkSession, index_dir: str) -> DataFrame:
    """Current retained set: (id, buckets, hsh) of every survivor
    published by :func:`maintain_near_dup_index` — reassembled from the
    sharded layout (band keys regrouped per id, sorted for
    determinism, joined to the shingle-hash sets)."""
    _, dirs = _published_index(spark, index_dir)
    if not dirs:
        raise FileNotFoundError(f"no near-dup index published under {index_dir}")
    all_buckets = _read_index_sub(spark, dirs, _IDX_BUCKETS)
    all_hsh = _read_index_sub(spark, dirs, _IDX_HSH)
    if all_buckets is None or all_hsh is None:
        # published batches exist but every one kept zero survivors
        raise FileNotFoundError(f"near-dup index under {index_dir} is empty")
    buckets = all_buckets.groupBy("id").agg(
        F.array_sort(F.collect_list("bucket")).alias("buckets")
    )
    return buckets.join(all_hsh.select("id", "hsh"), "id").select(
        "id", "buckets", "hsh"
    )
