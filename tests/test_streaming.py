"""Streaming semantics tests (SURVEY §2.6): exactly-once ingest via
checkpoint (the ledger's replacement), blob archiving, and event-time
windows whose results must equal the batch catalog's q60 oracle query.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from gmail_etl_spark.sources.fixtures import fixture_messages
from gmail_etl_spark.streaming.jobs import (
    read_events_stream,
    stream_raw_to_stage1,
    windowed_event_counts,
)
from tests.conftest import LAYOUT3_META, SF_DIR


def test_stream_exactly_once_and_archive(spark, tmp_path):
    raw = tmp_path / "raw"
    raw.mkdir()
    msgs = fixture_messages()
    (raw / "b1.json").write_text(json.dumps(msgs[:6]))
    (raw / "b2.json").write_text(json.dumps(msgs[6:]))
    out = str(tmp_path / "stage1")
    ckpt = str(tmp_path / "ckpt")
    archive = str(tmp_path / "processed")

    stream_raw_to_stage1(spark, str(raw), out, ckpt, archive_dir=archive)
    first = spark.read.parquet(out)
    assert first.count() == len(msgs)

    # restart with no new files → nothing ingested (checkpoint = ledger)
    stream_raw_to_stage1(spark, str(raw), out, ckpt, archive_dir=archive)
    assert spark.read.parquet(out).count() == len(msgs)

    # new blob arrives → only its messages ingested
    extra = dict(msgs[0])
    extra = json.loads(json.dumps(extra))
    extra["id"] = "m999"
    (raw / "b3.json").write_text(json.dumps([extra]))
    stream_raw_to_stage1(spark, str(raw), out, ckpt, archive_dir=archive)
    final = spark.read.parquet(out)
    assert final.count() == len(msgs) + 1
    assert final.filter("id = 'm999'").count() == 1


def test_windowed_counts_match_batch_oracle(spark, tmp_path, duck):
    # file-source streams read directories, not single files
    events_dir = tmp_path / "events_src"
    events_dir.mkdir()
    import shutil

    shutil.copy(f"{SF_DIR}/events.parquet", events_dir / "part0.parquet")
    stream = read_events_stream(spark, str(events_dir))
    assert stream.isStreaming
    agg = windowed_event_counts(stream, "10 minutes", watermark="30 minutes")

    q = (
        agg.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["bucket_start"], r["event_type"]): (r["n_events"], round(r["sum_value"], 6))
        for r in spark.sql("select * from win_counts").collect()
    }
    expected = {
        (r[0], r[1]): (r[2], round(r[3], 6))
        for r in duck.execute(
            """
            SELECT CAST(floor(epoch(ts)/600)*600 AS BIGINT) AS bucket_start,
                   event_type, COUNT(*) AS n,
                   CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sv
            FROM events GROUP BY 1, 2
            """
        ).fetchall()
    }
    assert got == expected


def test_stream_dedup_within_watermark(spark, tmp_path):
    import pandas as pd

    # two copies of each event in one file → stateful dedup keeps one
    src = tmp_path / "events_dup"
    src.mkdir()
    base = pd.read_parquet(f"{SF_DIR}/events.parquet").head(50)
    dup = pd.concat([base, base]).reset_index(drop=True)
    dup.to_parquet(src / "part0.parquet")

    from gmail_etl_spark.streaming.jobs import dedup_events_stream

    stream = read_events_stream(spark, str(src))
    deduped = dedup_events_stream(stream, watermark="1 hour")
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt3"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    n = spark.sql("select count(distinct event_id) c, count(*) n from dedup_out").collect()[0]
    assert n["n"] == 50 and n["c"] == 50


def test_streaming_session_windows_match_batch(spark, tmp_path):
    """Append-mode session_window stream over the events table must emit
    exactly the batch q62 sessions (availableNow drains everything, the
    final watermark closes all sessions except possibly the last — so
    compare on the emitted subset and require near-complete coverage)."""
    import shutil

    from gmail_etl_spark.streaming.jobs import read_events_stream, sessionized_event_counts

    events_dir = tmp_path / "ev_sess"
    events_dir.mkdir()
    shutil.copy(f"{SF_DIR}/events.parquet", events_dir / "part0.parquet")
    stream = sessionized_event_counts(read_events_stream(spark, str(events_dir)))
    q = (
        stream.writeStream.format("memory")
        .queryName("sess_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_sess"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["user_id"], r["session_start_us"]): r["n_events"]
        for r in spark.sql("select * from sess_out").collect()
    }
    from gmail_etl_spark.plans.catalog import query_map

    batch = {
        (r["user_id"], r["session_start_us"]): r["n_events"]
        for r in query_map()["q62_session_window"](spark, SF_DIR).collect()
    }
    assert got, "stream emitted no sessions"
    # every emitted session must match the batch result exactly
    for k, v in got.items():
        assert batch.get(k) == v, k
    # and coverage must be near-complete (only watermark-tail sessions may lag)
    assert len(got) >= len(batch) - 20


def test_stream_to_partitioned_lake_with_compaction(spark, tmp_path):
    """Full lake lifecycle: events stream into a date-partitioned parquet
    lake (many small files), compaction rewrites each partition, and the
    read-back plan prunes partitions — the e2e posture a streaming sink
    needs at 100 TB."""
    import pandas as pd

    from gmail_etl_spark.sources.sinks import compact_parquet
    from tests.conftest import SF_DIR

    src = tmp_path / "ev"
    src.mkdir()
    base = pd.read_parquet(f"{SF_DIR}/events.parquet").head(400)
    for i in range(4):  # 4 triggers → many small files
        base.iloc[i * 100 : (i + 1) * 100].to_parquet(src / f"{i}.parquet")

    from pyspark.sql import functions as F

    lake = str(tmp_path / "lake")
    stream = spark.readStream.schema(
        "event_id bigint, ts timestamp_ntz, user_id bigint, event_type string, "
        "value double, props string"
    ).option("maxFilesPerTrigger", 1).parquet(str(src))
    stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))

    def sink(batch_df, batch_id):
        batch_df.withColumn("event_date", F.to_date("ts")).write.partitionBy(
            "event_date"
        ).mode("append").parquet(lake)

    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    back = spark.read.parquet(lake)
    assert back.count() == 400
    # pick one real partition and compact it
    part_dirs = [p for p in (tmp_path / "lake").iterdir() if p.name.startswith("event_date=")]
    assert part_dirs, "partitioned layout expected"
    target = sorted(part_dirs)[0]
    before = len(list(target.glob("*.parquet")))
    compact_parquet(spark, str(target))
    after = len(list(target.glob("*.parquet")))
    assert after <= before and after >= 1
    # partition pruning on the read-back
    one_date = target.name.split("=", 1)[1]
    plan = (
        spark.read.parquet(lake)
        .filter(F.col("event_date") == one_date)
        ._jdf.queryExecution()
        .explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
    )
    assert "PartitionFilters" in plan and "event_date" in plan.split("PartitionFilters")[1][:160]
    # content integrity after compaction
    assert spark.read.parquet(lake).count() == 400


def test_incremental_rollup_matches_batch(spark, tmp_path):
    """After streaming the events table through in 4 micro-batches, the
    additively-merged rollup must equal the from-scratch batch aggregate
    (counts and integer-cents sums are mergeable state)."""
    import pandas as pd

    from gmail_etl_spark.streaming.jobs import maintain_daily_rollup
    from tests.conftest import SF_DIR

    src = tmp_path / "ev"
    src.mkdir()
    base = pd.read_parquet(f"{SF_DIR}/events.parquet").head(400)
    for i in range(4):
        base.iloc[i * 100 : (i + 1) * 100].to_parquet(src / f"{i}.parquet")

    from gmail_etl_spark.streaming.jobs import read_daily_rollup

    rollup = str(tmp_path / "rollup")
    maintain_daily_rollup(spark, str(src), rollup, str(tmp_path / "ckpt"))

    def snapshot():
        return {
            (str(r["day"]), r["event_type"]): (r["n_events"], r["value_cents"])
            for r in read_daily_rollup(spark, rollup).collect()
        }

    exp_pdf = base.copy()
    exp_pdf["day"] = pd.to_datetime(exp_pdf["ts"]).dt.date.astype(str)
    exp_pdf["cents"] = (exp_pdf["value"] * 100).round().astype("int64")
    exp = {
        (day, et): (int(g["event_id"].count()), int(g["cents"].sum()))
        for (day, et), g in exp_pdf.groupby(["day", "event_type"])
    }
    assert snapshot() == exp
    # idempotent restart: re-running with the same checkpoint merges nothing
    maintain_daily_rollup(spark, str(src), rollup, str(tmp_path / "ckpt"))
    assert snapshot() == exp
    # at-least-once replay: a FRESH checkpoint replays every batch_id from
    # zero; the pointer's stored batch_id must reject each replayed merge
    # (the additive merge would otherwise double every count)
    maintain_daily_rollup(spark, str(src), rollup, str(tmp_path / "ckpt2"))
    assert snapshot() == exp


def test_stream_stream_join_matches_batch(spark, tmp_path):
    """Stream-stream attribution join (click -> purchase within 30 min,
    watermarked both sides) must produce exactly the batch join's pairs.
    Append mode works because the join condition time-bounds both sides."""
    import shutil

    from gmail_etl_spark.streaming.jobs import (
        read_events_stream,
        stream_stream_attribution,
    )

    events_dir = tmp_path / "events_ssj"
    events_dir.mkdir()
    shutil.copy(f"{SF_DIR}/events.parquet", events_dir / "part0.parquet")
    stream = read_events_stream(spark, str(events_dir))
    joined = stream_stream_attribution(stream)
    assert joined.isStreaming

    q = (
        joined.writeStream.format("memory")
        .queryName("ssj")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_ssj"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["user_id"], r["trigger_id"], r["outcome_id"])
        for r in spark.sql("select * from ssj").collect()
    }

    batch_events = spark.read.schema(
        "event_id bigint, ts timestamp_ntz, user_id bigint, event_type string, "
        "value double, props string"
    ).parquet(str(events_dir)).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    expected = {
        (r["user_id"], r["trigger_id"], r["outcome_id"])
        for r in stream_stream_attribution(batch_events).collect()
    }
    assert expected, "fixture must contain click->purchase pairs"
    assert got == expected


def test_stream_scrub_documents_incremental(spark, tmp_path):
    """Streaming PII scrub: batch parity on the first pass, exactly-once
    incrementality on the second (only new files scrubbed, history
    untouched)."""
    from pyspark.sql import functions as F

    from gmail_etl_spark.functions.pii import with_pii_report
    from gmail_etl_spark.streaming.jobs import stream_scrub_documents

    docs = str(tmp_path / "docs")
    out = str(tmp_path / "clean")
    ck = str(tmp_path / "ck")

    batch1 = spark.createDataFrame(
        [(1, "reach me at a@b.com or 415-555-1234"), (2, "no pii here")],
        "doc_id bigint, text string",
    )
    batch1.write.mode("append").parquet(docs)
    stream_scrub_documents(spark, docs, out, ck)

    got = {r["doc_id"]: r.asDict() for r in spark.read.parquet(out).collect()}
    assert got[1]["n_emails"] == 1 and got[1]["n_phones"] == 1
    assert "[EMAIL]" in got[1]["clean_text"] and "[PHONE]" in got[1]["clean_text"]
    assert "a@b.com" not in got[1]["clean_text"]
    assert got[2]["n_emails"] == 0

    # batch parity: the streaming output equals the batch operator's
    batch_out = {
        r["doc_id"]: r.asDict()
        for r in with_pii_report(batch1).drop("text").collect()
    }
    assert got == batch_out

    # second trigger: only the new file is processed (exactly-once)
    spark.createDataFrame(
        [(3, "ssn 123-45-6789")], "doc_id bigint, text string"
    ).write.mode("append").parquet(docs)
    stream_scrub_documents(spark, docs, out, ck)
    got2 = {r["doc_id"]: r.asDict() for r in spark.read.parquet(out).collect()}
    assert set(got2) == {1, 2, 3}           # no duplicates from re-scrubbing
    assert got2[3]["n_ssns"] == 1 and "[SSN]" in got2[3]["clean_text"]


def test_streaming_dhash_matches_batch(spark, tmp_path):
    """X2 × ST crossover: the perceptual-fingerprint pass runs unchanged
    inside a foreachBatch stream, and the streamed fingerprints equal
    the batch ones exactly."""
    from pyspark.sql import functions as F

    from gmail_etl_spark.operators.multimodal import attach_dhash, encode_png

    def png_for(i: int) -> bytes:
        w, h = 16, 8
        px = bytes(((x * 7 + y * 13 + i * 37) % 256) for y in range(h) for x in range(w) for _ in range(3))
        return encode_png(w, h, 3, px)

    rows = [(i, png_for(i)) for i in range(40)]
    media = spark.createDataFrame(rows, "media_id long, payload binary")
    src = str(tmp_path / "media_src")
    media.repartition(4).write.mode("overwrite").parquet(src)

    out = str(tmp_path / "fp_out")
    ckpt = str(tmp_path / "ckpt")
    stream = spark.readStream.schema("media_id long, payload binary").parquet(src)

    def process(batch_df, batch_id):
        attach_dhash(batch_df).write.mode("append").parquet(out)

    q = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    streamed = {
        r["media_id"]: (r["dhash_hi"], r["dhash_lo"])
        for r in spark.read.parquet(out).collect()
    }
    batch = {
        r["media_id"]: (r["dhash_hi"], r["dhash_lo"])
        for r in attach_dhash(media).collect()
    }
    assert streamed == batch and len(streamed) == 40


def test_incremental_distinct_sketch_equals_batch(spark, tmp_path):
    """HLL union is register-wise max, so the per-day sketch maintained
    across separate stream runs (files arriving between runs) must give
    EXACTLY the estimate of a one-shot batch sketch over all data — and
    a replay with a fresh checkpoint must change nothing."""
    import pandas as pd

    from gmail_etl_spark.streaming.jobs import (
        maintain_daily_distinct_sketch,
        read_daily_distinct_estimates,
    )
    from tests.conftest import SF_DIR

    src = tmp_path / "ev"
    src.mkdir()
    base = pd.read_parquet(f"{SF_DIR}/events.parquet").head(600)
    rollup, ckpt = str(tmp_path / "sk_rollup"), str(tmp_path / "sk_ckpt")
    # three arrivals, a separate stream run each — distinct users overlap
    # across arrivals, which additive counting would double-count
    for i in range(3):
        base.iloc[i * 200 : (i + 1) * 200].to_parquet(src / f"{i}.parquet")
        maintain_daily_distinct_sketch(spark, str(src), rollup, ckpt)

    got = {
        (str(r["day"]), r["approx_users"])
        for r in read_daily_distinct_estimates(spark, rollup).collect()
    }
    batch = spark.createDataFrame(base).groupBy(F.to_date("ts").alias("day")).agg(
        F.expr("hll_sketch_estimate(hll_sketch_agg(user_id, 12))")
        .cast("long")
        .alias("approx_users")
    )
    exp = {(str(r["day"]), r["approx_users"]) for r in batch.collect()}
    assert got == exp
    # sanity: estimates are near the true distinct counts (lgK=12 ⇒ <2%)
    true = base.copy()
    true["day"] = pd.to_datetime(true["ts"]).dt.date.astype(str)
    for day, g in true.groupby("day"):
        n = g["user_id"].nunique()
        est = dict(got)[day]
        assert abs(est - n) <= max(2, 0.02 * n)
    # at-least-once replay with a fresh checkpoint: batch_id idempotence
    maintain_daily_distinct_sketch(spark, str(src), rollup, str(tmp_path / "ck2"))
    got2 = {
        (str(r["day"]), r["approx_users"])
        for r in read_daily_distinct_estimates(spark, rollup).collect()
    }
    assert got2 == exp


def test_drift_histograms_match_batch(spark, tmp_path):
    """The incrementally-maintained drift histograms (4 micro-batches)
    must yield EXACTLY the one-shot TVD readout: per-bin counts are
    additive state, so stream order/batching cannot change the result."""
    import pandas as pd

    from gmail_etl_spark.streaming.jobs import (
        maintain_drift_histograms,
        read_drift_tvd,
    )
    from tests.conftest import SF_DIR

    src = tmp_path / "ev"
    src.mkdir()
    base = pd.read_parquet(f"{SF_DIR}/events.parquet").head(400)
    for i in range(4):
        base.iloc[i * 100 : (i + 1) * 100].to_parquet(src / f"{i}.parquet")

    # cutoff at the median timestamp so both histogram halves are
    # populated regardless of the fixture's time span
    cut = str(pd.to_datetime(base["ts"]).median().floor("s"))
    rollup = str(tmp_path / "drift")
    maintain_drift_histograms(
        spark, str(src), rollup, str(tmp_path / "ckpt"), cutoff=cut
    )

    # expected: exact integer arithmetic over the same 400 rows
    pdf = base.copy()
    pdf["bin"] = ((pdf["value"] * 100).round().astype("int64") // 3600).astype(
        "int64"
    )
    pdf["h1"] = (pd.to_datetime(pdf["ts"]) < pd.Timestamp(cut)).astype(int)
    exp = {}
    for et, g in pdf.groupby("event_type"):
        n1 = int(g["h1"].sum())
        n2 = int(len(g) - n1)
        per_bin = g.groupby("bin")["h1"].agg(["sum", "count"])
        devs = {
            int(b): abs(int(r["sum"]) * n2 - int(r["count"] - r["sum"]) * n1)
            for b, r in per_bin.iterrows()
        }
        m = max(devs.values())
        worst = min(b for b, d in devs.items() if d == m)
        exp[et] = (round(sum(devs.values()) / (2.0 * n1 * n2), 6), worst)

    def snapshot():
        return {
            r["event_type"]: (r["tvd"], r["worst_bin"])
            for r in read_drift_tvd(spark, rollup).collect()
        }

    assert snapshot() == exp
    # idempotent restart + fresh-checkpoint replay must not double state
    maintain_drift_histograms(
        spark, str(src), rollup, str(tmp_path / "ckpt"), cutoff=cut
    )
    assert snapshot() == exp
    maintain_drift_histograms(
        spark, str(src), rollup, str(tmp_path / "ck2"), cutoff=cut
    )
    assert snapshot() == exp


def test_latest_snapshot_upsert_matches_batch(spark, tmp_path):
    """Streaming upsert (4 micro-batches) must equal the one-shot
    latest-per-user reduction, and stay fixed under checkpoint restarts
    AND fresh-checkpoint replays — max-merge is idempotent, so replay
    safety holds even beyond the batch_id guard."""
    import pandas as pd

    from gmail_etl_spark.streaming.jobs import (
        maintain_latest_snapshot,
        read_latest_snapshot,
    )
    from tests.conftest import SF_DIR

    src = tmp_path / "ev"
    src.mkdir()
    base = pd.read_parquet(f"{SF_DIR}/events.parquet").head(400)
    for i in range(4):
        base.iloc[i * 100 : (i + 1) * 100].to_parquet(src / f"{i}.parquet")

    rollup = str(tmp_path / "snap")
    maintain_latest_snapshot(spark, str(src), rollup, str(tmp_path / "ckpt"))

    pdf = base.copy()
    pdf["value_cents"] = (pdf["value"] * 100).round().astype("int64")
    idx = (
        pdf.sort_values(["ts", "event_id"]).groupby("user_id").tail(1)
    )
    exp = {
        int(r.user_id): (pd.Timestamp(r.ts), int(r.event_id), int(r.value_cents))
        for r in idx.itertuples()
    }

    def snapshot():
        return {
            r["user_id"]: (pd.Timestamp(r["ts"]), r["event_id"], r["value_cents"])
            for r in read_latest_snapshot(spark, rollup).collect()
        }

    assert snapshot() == exp
    maintain_latest_snapshot(spark, str(src), rollup, str(tmp_path / "ckpt"))
    assert snapshot() == exp
    maintain_latest_snapshot(spark, str(src), rollup, str(tmp_path / "ck2"))
    assert snapshot() == exp


def test_heavy_hitter_summary_guarantee_across_batches(spark, tmp_path):
    """Streaming Misra-Gries state after 4 micro-batches must keep the
    classic guarantees vs the exact counts: every user with global
    count > N/(k+1) present, counters never overcount, undercount
    bounded by N/(k+1); and the batch_id guard must reject replays
    (counter state is additive, not idempotent)."""
    import pandas as pd

    from gmail_etl_spark.streaming.jobs import (
        maintain_heavy_hitter_summary,
        read_heavy_hitter_summary,
    )
    from tests.conftest import SF_DIR

    src = tmp_path / "ev"
    src.mkdir()
    base = pd.read_parquet(f"{SF_DIR}/events.parquet").head(400)
    # plant one unmistakable heavy hitter spread over all batches
    heavy = pd.concat([base.head(25)] * 4).reset_index(drop=True)
    heavy["user_id"] = 9999
    heavy["event_id"] = 1_000_000 + heavy.index
    full = pd.concat([base, heavy]).reset_index(drop=True)
    for i in range(4):
        full.iloc[i * 125 : (i + 1) * 125].to_parquet(src / f"{i}.parquet")

    k = 50
    rollup = str(tmp_path / "mg")
    maintain_heavy_hitter_summary(
        spark, str(src), rollup, str(tmp_path / "ckpt"), k=k
    )

    true_counts = full.groupby("user_id")["event_id"].count().to_dict()
    n_total = len(full)
    bound = n_total / (k + 1)

    def state():
        return {
            r["user_id"]: r["cnt"]
            for r in read_heavy_hitter_summary(spark, rollup).collect()
        }

    got = state()
    assert len(got) <= k
    for uid, true in true_counts.items():
        if true > bound:
            assert uid in got, (uid, true, bound)
    for uid, stored in got.items():
        true = true_counts[uid]
        assert stored <= true, (uid, stored, true)
        assert true - stored <= bound, (uid, stored, true, bound)
    assert 9999 in got
    # replay safety: same checkpoint (no-op) and a fresh checkpoint
    # (batch ids restart) must both leave the summary unchanged
    maintain_heavy_hitter_summary(
        spark, str(src), rollup, str(tmp_path / "ckpt"), k=k
    )
    assert state() == got
    maintain_heavy_hitter_summary(
        spark, str(src), rollup, str(tmp_path / "ck2"), k=k
    )
    assert state() == got


def test_streaming_near_dup_index_matches_batch(spark, tmp_path):
    """Streaming the planted corpus through in id-ordered micro-batches
    sized so duplicate groups STRADDLE batch boundaries, the retained
    set must equal the batch operator's canonical set — every planted
    group is all-pairs similar, so first-arrival == min-id and the
    retained-corpus semantics coincide with batch CC.  Then the two
    exactly-once restarts of the rollup contract."""
    import pandas as pd

    from gmail_etl_spark.operators.dedup import minhash_lsh_pairs, near_dedup
    from gmail_etl_spark.streaming.jobs import (
        maintain_near_dup_index,
        read_near_dup_index,
    )
    from gmail_etl_spark.synthetic import planted_near_dup_corpus

    n, group = 380, 10
    corpus = planted_near_dup_corpus(spark, n, group=group)
    pdf = corpus.toPandas().sort_values("doc_id").reset_index(drop=True)
    src = tmp_path / "docs"
    src.mkdir()
    # chunks of 95: every second group of 10 straddles a batch boundary,
    # so its tail members must dedup AGAINST HISTORY, not in-batch
    for i in range(4):
        pdf.iloc[i * 95 : (i + 1) * 95].to_parquet(src / f"{i}.parquet")

    index = str(tmp_path / "ndindex")
    maintain_near_dup_index(spark, str(src), index, str(tmp_path / "ckpt"))

    expected = {
        r["doc_id"]
        for r in near_dedup(
            corpus,
            "doc_id",
            minhash_lsh_pairs(corpus, "doc_id", "text", threshold=0.5,
                              n_hashes=16, bands=8),
        ).select("doc_id").collect()
    }
    assert expected == set(range(0, n, group))  # the planted heads

    def retained():
        return {r["id"] for r in read_near_dup_index(spark, index).collect()}

    assert retained() == expected
    # idempotent restart with the same checkpoint: nothing new
    maintain_near_dup_index(spark, str(src), index, str(tmp_path / "ckpt"))
    assert retained() == expected
    # fresh checkpoint replays batch_ids from zero; the head pointer
    # must reject each replayed publish (duplicates would double rows)
    maintain_near_dup_index(spark, str(src), index, str(tmp_path / "ckpt2"))
    assert retained() == expected


def test_streaming_near_dup_retained_corpus_semantics(spark, tmp_path):
    """The documented divergence from batch CC on similarity CHAINS:
    A~B and B~C but A≁C, arriving in three batches.  B drops (near the
    retained A); C is near only the DROPPED B, duplicates nothing that
    was kept, and must be RETAINED — batch CC would transitively merge
    all three.  Dedup-against-kept is the production contract: a
    dropped doc cannot contaminate the corpus."""
    import pandas as pd

    from gmail_etl_spark.streaming.jobs import (
        maintain_near_dup_index,
        read_near_dup_index,
    )

    words = [f"w{i}" for i in range(50)]
    mk = lambda lo, hi: " ".join(words[lo:hi])
    # token-set Jaccard (k=1): A∩B = 24/36 ≈ 0.67, B∩C ≈ 0.67, A∩C = 18/42 ≈ 0.43
    rows = [(0, mk(0, 30)), (1, mk(6, 36)), (2, mk(12, 42))]
    src = tmp_path / "chain"
    src.mkdir()
    for i, row in enumerate(rows):
        pd.DataFrame([row], columns=["doc_id", "text"]).to_parquet(
            src / f"{i}.parquet"
        )
    index = str(tmp_path / "ndindex")
    maintain_near_dup_index(
        spark, str(src), index, str(tmp_path / "ckpt"),
        k=1, n_hashes=16, bands=16, threshold=0.5,
    )
    assert {r["id"] for r in read_near_dup_index(spark, index).collect()} == {0, 2}


def test_streaming_near_dup_index_tiered_fold(spark, tmp_path):
    """Tiered (LSM-style) folding behind the same pointer protocol: the
    retained set is IDENTICAL to the unfolded run, history merges into
    ``_m<lo>_<hi>`` fold dirs (fanout=2: 6 batches end as two sealed
    tier dirs — never the r10 full-history fold), shadowed dirs are
    physically removed, per-fold byte accounting is bounded by the tier
    (never O(index)), and both restart forms stay idempotent."""
    import pandas as pd

    from gmail_etl_spark.streaming.jobs import (
        _index_entries,
        _resolve_head,
        maintain_near_dup_index,
        read_near_dup_index,
    )
    from gmail_etl_spark.synthetic import planted_near_dup_corpus

    n, group = 285, 10
    corpus = planted_near_dup_corpus(spark, n, group=group)
    pdf = corpus.toPandas().sort_values("doc_id").reset_index(drop=True)
    src = tmp_path / "docs"
    src.mkdir()
    for i in range(6):  # 6 micro-batches of 48: boundaries straddle groups
        chunk = pdf.iloc[i * 48 : (i + 1) * 48]
        if len(chunk):
            chunk.to_parquet(src / f"{i}.parquet")
            os.utime(src / f"{i}.parquet", (1_000_000_000 + i,) * 2)

    index = str(tmp_path / "ndindex")
    fold_log: list = []
    maintain_near_dup_index(
        spark, str(src), index, str(tmp_path / "ckpt"),
        compact_every=2, fold_log=fold_log,
    )
    expected = set(range(0, n, group))  # planted heads
    got = {r["id"] for r in read_near_dup_index(spark, index).collect()}
    assert got == expected

    head = _resolve_head(spark, index)
    live = [name for *_, name in _index_entries(spark, index, head)[1]]
    # fanout=2 over 6 batches: b0+b1->_m0_1, b2+b3->_m2_3,
    # _m0_1+_m2_3->_m0_3 (tier cascade), b4+b5->_m4_5
    assert live == [
        "_m000000000000000_000000000000003",
        "_m000000000000004_000000000000005",
    ], live
    # shadowed dirs physically removed (cleanup ran to completion)
    all_dirs = [p.name for p in (tmp_path / "ndindex").iterdir() if p.is_dir()]
    assert sorted(all_dirs) == sorted(live)

    # fold accounting: one entry per batch, 4 folds, each fold's input
    # bounded by its tier — max_fold_width=4 (auto fanout**2) means no
    # fold ever ingests more than 4 batches' worth of rows, and the
    # width-4 dir _m0_3 is SEALED (never re-folded, r10's O(index)
    # full-history rewrite is structurally impossible)
    assert [e["batch_id"] for e in fold_log] == list(range(6))
    folds = [e for e in fold_log if e["fold"]]
    assert [e["fold"][:2] for e in folds] == ["_m"] * 4
    assert all(e["hi"] - e["lo"] + 1 <= 4 for e in folds)
    assert all(e["n_dirs"] == 2 for e in folds)
    assert all(e["bytes_folded_in"] >= 0 and e["bytes_folded_out"] > 0 for e in folds)

    # exactly-once restarts: same checkpoint, then a fresh one
    maintain_near_dup_index(
        spark, str(src), index, str(tmp_path / "ckpt"), compact_every=2
    )
    assert {r["id"] for r in read_near_dup_index(spark, index).collect()} == expected
    maintain_near_dup_index(
        spark, str(src), index, str(tmp_path / "ckpt2"), compact_every=2
    )
    assert {r["id"] for r in read_near_dup_index(spark, index).collect()} == expected


def test_index_fold_planner_pure():
    """The fold planner is a pure function of the live-dir listing:
    tier grouping, the one-fold-per-publish rule, the width seal, and
    cascade behavior — no Spark needed."""
    from gmail_etl_spark.streaming.jobs import _fold_tier_of, _plan_index_fold

    # tier = floor(log_f(width))
    assert [_fold_tier_of(w, 4) for w in (1, 3, 4, 15, 16, 64)] == [0, 0, 1, 1, 2, 3]

    e = lambda lo, hi: (lo, hi, f"_x{lo}_{hi}")
    # not enough same-tier dirs: no fold
    assert _plan_index_fold([e(0, 0), e(1, 1)], 4, 16) is None
    # 4 tier-0 dirs fold; the OLDEST fanout members are picked
    assert _plan_index_fold(
        [e(0, 0), e(1, 1), e(2, 2), e(3, 3), e(4, 4)], 4, 16
    ) == (0, 4)
    # lowest-tier run wins even when a higher tier also qualifies
    hi_tier = [e(0, 3), e(4, 7), e(8, 11), e(12, 15)]
    lo_tier = [e(16, 16), e(17, 17), e(18, 18), e(19, 19)]
    assert _plan_index_fold(hi_tier + lo_tier, 4, 64) == (4, 8)
    # width seal: dirs at/above max_width never re-fold (here the 4
    # width-4 dirs would make width 16 > max_width=8 -> no fold)
    assert _plan_index_fold(hi_tier, 4, 8) is None
    # fanout=0 disables; fanout=1 must never fold (a single-dir fold's
    # interval EQUALS its member's and shadows nothing -> doubled rows)
    assert _plan_index_fold(lo_tier, 0, 16) is None
    assert _plan_index_fold(lo_tier, 1, 16) is None


def test_index_fold_planner_slides_past_overwide_head():
    """ADVICE r11: a dir at a run's head whose fanout-window exceeds
    max_width must not block the tier forever — the window slides to
    the oldest fitting position, leaving the over-wide head behind as if
    sealed."""
    from gmail_etl_spark.streaming.jobs import _plan_index_fold

    # fanout=4, max_width=16: a width-5 fold dir (tier 1, same tier as
    # width-4 dirs) heads a run of four width-4 dirs.  It was folded by
    # an earlier run with compact_every=5, whose max_fold_width was 25;
    # this run lowered the cap to 16.  Oldest window [0,4): width
    # 5+4*3 = 21 > 16 — the pre-fix planner returned None here
    # permanently; the slide picks [1,5): width 16 <= 16.
    run = [(0, 4, "_m000000000000000_000000000000004")] + [
        (5 + 4 * i, 8 + 4 * i, f"_m{5 + 4 * i:015d}_{8 + 4 * i:015d}")
        for i in range(4)
    ]
    assert _plan_index_fold(run, 4, 16) == (1, 5)
    # and a genuinely sealed run (every window over max_width) still
    # never folds
    wide = [(i * 16, i * 16 + 15, f"_m{i * 16:015d}") for i in range(4)]
    assert _plan_index_fold(wide, 4, 16) is None
    # lowest tier still wins over a slid higher-tier window
    lo = [(21 + i, 21 + i, f"_b{21 + i:015d}") for i in range(4)]
    assert _plan_index_fold(run + lo, 4, 16) == (5, 9)


def test_live_of_equal_interval_tie_break():
    """ADVICE r11: _live_of is TOTAL — two committed dirs with the same
    interval never both read as live (doubled rows); the
    lexicographically greatest name wins, so _m beats _b."""
    from gmail_etl_spark.streaming.jobs import _live_of

    b = (3, 3, "_b000000000000003")
    m = (3, 3, "_m000000000000003_000000000000003")
    assert _live_of([b, m]) == [m]
    assert _live_of([m, b]) == [m]  # order-independent
    m2 = (0, 3, "_m000000000000000_000000000000003")
    # a wider fold shadows both members of the equal-interval pair
    assert _live_of([m2, b, m]) == [m2]
    # strict containment unchanged: distinct intervals keep both
    assert _live_of([(0, 1, "_m0_1"), (2, 2, "_b2")]) == [
        (0, 1, "_m0_1"),
        (2, 2, "_b2"),
    ]


def test_write_mtime_ordered_batches(spark, tmp_path):
    """The shared streaming-fixture writer: one distributed pass, one
    FILE per id-range batch, strictly increasing mtimes (file order IS
    batch order under maxFilesPerTrigger=1), rows partitioned by
    floor(id/chunk) with the helper column dropped, nothing lost."""
    from pyspark.sql import functions as F

    from gmail_etl_spark.synthetic import write_mtime_ordered_batches

    corpus = spark.range(100).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("t"), F.col("id").cast("string")).alias("text"),
    )
    src = tmp_path / "docs"
    n_files = write_mtime_ordered_batches(corpus, str(src), chunk=30)
    assert n_files == 4  # ceil(100/30)
    files = sorted(src.iterdir())
    assert [f.name for f in files] == [f"b{i:04d}.parquet" for i in range(4)]
    mtimes = [f.stat().st_mtime for f in files]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == 4

    import pandas as pd

    seen = []
    for i, f in enumerate(files):
        pdf = pd.read_parquet(f)
        assert sorted(pdf.columns) == ["doc_id", "text"]  # __batch dropped
        lo, hi = pdf["doc_id"].min(), pdf["doc_id"].max()
        assert lo // 30 == hi // 30 == i  # the file IS its id range
        seen.extend(pdf["doc_id"].tolist())
    assert sorted(seen) == list(range(100))


def test_index_fold_algebra_properties():
    """Property test over the fold/shadow algebra with the PRODUCTION
    predicates (_plan_index_fold + _live_of + _dir_interval): for any
    publish count, fanout, width cap, and any pattern of
    crash-interrupted cleanups, after every publish

    - the live dirs' intervals are disjoint and tile [0..head] exactly
      (no batch lost, none double-counted — the invariant q259's
      correctness rests on),
    - every fold's input run itself tiles the fold's interval (a fold
      can never absorb a batch twice or skip one),
    - re-planning after a crash never produces a name collision with a
      LIVE dir (idempotent overwrite is only ever of shadowed/partial
      dirs).
    """
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from gmail_etl_spark.streaming.jobs import (
        _dir_interval,
        _live_of,
        _plan_index_fold,
    )

    @settings(max_examples=200, deadline=None)
    @given(
        n_batches=st.integers(2, 60),
        fanout=st.integers(2, 5),
        max_width=st.integers(2, 40),
        cleanups=st.lists(st.booleans(), min_size=60, max_size=60),
    )
    def run(n_batches, fanout, max_width, cleanups):
        # model the fs as name -> interval (re-publish overwrites)
        disk: dict[str, tuple[int, int]] = {}
        for b in range(n_batches):
            disk[f"_b{b:015d}"] = (b, b)
            head = b
            entries = [(lo, hi, n) for n, (lo, hi) in disk.items()]
            live = _live_of(entries)
            plan = _plan_index_fold(live, fanout, max_width)
            if plan is not None:
                i, j = plan
                run_ = live[i:j]
                lo, hi = run_[0][0], run_[-1][1]
                # the folded run tiles its own interval exactly
                covered = sorted(
                    x for rlo, rhi, _ in run_ for x in range(rlo, rhi + 1)
                )
                assert covered == list(range(lo, hi + 1)), (run_, lo, hi)
                name = f"_m{lo:015d}_{hi:015d}"
                # never collide with a live dir (overwriting one would
                # race readers); shadowed leftovers may be rewritten
                assert name not in {n for _, _, n in live}, name
                assert _dir_interval(name) == (lo, hi)
                disk[name] = (lo, hi)
                if cleanups[b]:  # cleanup ran (no crash)
                    entries = [(l, h, n) for n, (l, h) in disk.items()]
                    keep = {n for _, _, n in _live_of(entries)}
                    disk = {n: iv for n, iv in disk.items() if n in keep}
            # reader invariant: live intervals disjoint, tiling [0..head]
            entries = [(lo, hi, n) for n, (lo, hi) in disk.items()]
            tiles = sorted(
                x
                for lo, hi, _ in _live_of(entries)
                for x in range(lo, hi + 1)
            )
            assert tiles == list(range(head + 1)), (disk, head)

    run()


def test_index_interval_reader_legacy_and_partial_dirs(spark, tmp_path):
    """The interval containment rule on disk: a committed fold dir
    shadows every dir inside its interval — including a ``_b`` survivor
    of an interrupted cleanup — and an UNCOMMITTED fold dir is invisible
    even though its interval sits at or below head."""
    import gmail_etl_spark.streaming.jobs as J

    index = tmp_path / "ndindex"

    def mkdir(name, committed=True):
        d = index / name
        d.mkdir(parents=True)
        if committed:
            (d / "_COMMITTED").touch()

    def live():
        return [n for _, _, n in J._index_entries(spark, str(index), 3)[1]]

    mkdir("_b000000000000000")  # interrupted-cleanup survivor
    mkdir("_m000000000000000_000000000000001")  # its committed fold
    mkdir("_b000000000000002")
    mkdir("_b000000000000003")
    # partial fold (crash mid-write): interval <= head but NO marker
    mkdir("_m000000000000002_000000000000003", committed=False)

    assert live() == [
        "_m000000000000000_000000000000001",
        "_b000000000000002",
        "_b000000000000003",
    ], live()

    # once the fold commits, it shadows its members
    (index / "_m000000000000002_000000000000003" / "_COMMITTED").touch()
    assert live() == [
        "_m000000000000000_000000000000001",
        "_m000000000000002_000000000000003",
    ], live()
    # and the opportunistic cleanup reclaims exactly the shadowed dirs
    cleaned = J._cleanup_shadowed_index_dirs(spark, str(index), 3)
    assert sorted(cleaned) == [
        "_b000000000000000", "_b000000000000002", "_b000000000000003",
    ], cleaned
    left = sorted(p.name for p in index.iterdir() if p.is_dir())
    assert left == [
        "_m000000000000000_000000000000001",
        "_m000000000000002_000000000000003",
    ], left


def test_index_fold_crash_windows(spark, tmp_path, monkeypatch):
    """Fault-injection at the two fold crash windows: (a) after the
    fold dir commits but BEFORE the shadowed dirs' deletion — readers
    must already ignore the shadowed history, and the next maintainer
    start must converge the cleanup; (b) before the batch pointer
    advances — the fallback resolver trusts the committed batch dir and
    the replay skips it (no duplicate survivor rows)."""
    import pandas as pd
    import pytest

    import gmail_etl_spark.streaming.jobs as J

    rows = [
        (i, f"doc {i} body " + " ".join(f"t{i}_{j}" for j in range(25)))
        for i in range(8)
    ]
    src = tmp_path / "docs"
    src.mkdir()
    for i in range(4):
        pd.DataFrame(rows[i * 2 : (i + 1) * 2], columns=["doc_id", "text"]).to_parquet(
            src / f"{i}.parquet"
        )
        os.utime(src / f"{i}.parquet", (1_000_000_000 + i,) * 2)
    index = tmp_path / "ndindex"
    expected = set(range(8))  # all dissimilar: everything survives

    # window (a): cleanup dies after the fold dir committed
    boom = RuntimeError("injected: cleanup crash")

    def dying_delete(spark_arg, index_dir, names):
        if names:
            raise boom

    monkeypatch.setattr(J, "_delete_version_dirs", dying_delete)
    with pytest.raises(Exception, match="injected: cleanup crash"):
        J.maintain_near_dup_index(
            spark, str(src), str(index), str(tmp_path / "ckpt"), compact_every=2
        )
    monkeypatch.undo()
    # the fold committed, its inputs still on disk — readers must
    # shadow them by interval containment, not double-count
    names = sorted(p.name for p in index.iterdir() if p.is_dir())
    assert any(n.startswith("_m") for n in names), names
    shadowed = [n for n in names if n.startswith("_b")]
    assert shadowed, names  # the folded _b dirs survived the "crash"
    live_now = {r["id"] for r in J.read_near_dup_index(spark, str(index)).collect()}
    assert live_now <= expected and len(live_now) >= 4

    # restart WITHOUT the fault: startup cleanup converges the interrupted
    # deletion, remaining batches stream, retained set is exact
    J.maintain_near_dup_index(
        spark, str(src), str(index), str(tmp_path / "ckpt"), compact_every=2
    )
    assert {r["id"] for r in J.read_near_dup_index(spark, str(index)).collect()} == expected
    names = sorted(p.name for p in index.iterdir() if p.is_dir())
    intervals = [J._dir_interval(n) for n in names]
    # converged: no dir's interval is contained in another's
    assert not any(
        a != b and b[0] <= a[0] and a[1] <= b[1] for a in intervals for b in intervals
    ), names

    # window (b): crash between the batch dir's commit and the pointer
    # advance — fresh index, first batch only
    index2 = tmp_path / "ndindex2"

    def dying_publish(spark_arg, state_dir, batch_id):
        raise RuntimeError("injected: pointer crash")

    monkeypatch.setattr(J, "_publish_head", dying_publish)
    with pytest.raises(Exception, match="injected: pointer crash"):
        J.maintain_near_dup_index(
            spark, str(src), str(index2), str(tmp_path / "ckpt2"), compact_every=2
        )
    monkeypatch.undo()
    # no pointer, but the committed _b dir resolves via the fallback
    assert not (index2 / "_CURRENT").exists()
    assert J._resolve_head(spark, str(index2)) == 0
    # replay with the same checkpoint: batch 0 is skipped (already
    # committed), the rest stream normally, no duplicate rows
    J.maintain_near_dup_index(
        spark, str(src), str(index2), str(tmp_path / "ckpt2"), compact_every=2
    )
    out = [r["id"] for r in J.read_near_dup_index(spark, str(index2)).collect()]
    assert sorted(out) == sorted(expected)  # set-equal AND no dup rows


def test_index_fold_boundary_streaming_restart(spark, tmp_path, monkeypatch):
    """VERDICT r11 #7 backlog: kill the REAL streaming job immediately
    after a fold fully commits (fold dir + cleanup done) but BEFORE the
    micro-batch's checkpoint offset commits — the one fold window the
    crash-injection suite didn't cover.  On restart Structured Streaming
    replays that batch; the ``batch_id <= head`` replay guard must skip
    it (its data was published before the fold ran), the interrupted
    stream must resume, and the final retained set must equal the
    fault-free run's exactly — no lost batch, no duplicate rows."""
    import pandas as pd
    import pytest

    import gmail_etl_spark.streaming.jobs as J

    rows = [
        (i, f"doc {i} body " + " ".join(f"t{i}_{j}" for j in range(25)))
        for i in range(12)
    ]
    src = tmp_path / "docs"
    src.mkdir()
    for i in range(6):
        pd.DataFrame(
            rows[i * 2 : (i + 1) * 2], columns=["doc_id", "text"]
        ).to_parquet(src / f"{i}.parquet")
        os.utime(src / f"{i}.parquet", (1_000_000_000 + i,) * 2)
    index = tmp_path / "ndindex"
    expected = set(range(12))  # all dissimilar: everything survives

    orig_fold = J._maybe_fold_index

    def crash_after_first_fold(*a, **k):
        stats = orig_fold(*a, **k)
        if stats is not None:  # a fold COMPLETED (committed + cleaned)
            raise RuntimeError("injected: crash after fold commit")
        return stats

    monkeypatch.setattr(J, "_maybe_fold_index", crash_after_first_fold)
    with pytest.raises(Exception, match="injected: crash after fold commit"):
        J.maintain_near_dup_index(
            spark, str(src), str(index), str(tmp_path / "ckpt"), compact_every=2
        )
    monkeypatch.undo()
    # the fold committed and batch data is durable, but the batch's
    # offset never reached the checkpoint — head is ahead of the
    # checkpoint's committed batches
    names = sorted(p.name for p in index.iterdir() if p.is_dir())
    assert any(n.startswith("_m") for n in names), names
    head_at_crash = J._resolve_head(spark, str(index))
    assert head_at_crash >= 1

    # restart with the SAME checkpoint: the replayed batch is skipped
    # by the batch_id <= head guard, the rest stream, result exact
    J.maintain_near_dup_index(
        spark, str(src), str(index), str(tmp_path / "ckpt"), compact_every=2
    )
    out = [r["id"] for r in J.read_near_dup_index(spark, str(index)).collect()]
    assert sorted(out) == sorted(expected)  # set-equal AND no dup rows
    # layout converged: live intervals tile [0..head] disjointly
    head = J._resolve_head(spark, str(index))
    live = J._index_entries(spark, str(index), head)[1]
    tiles = sorted(x for lo, hi, _ in live for x in range(lo, hi + 1))
    assert tiles == list(range(head + 1)), live


def test_index_meta_lsh_shape_guard(spark, tmp_path):
    """_META records the full LSH shape (k/n_hashes/bands/hash_family),
    not just n_shards: a maintainer restart or probe with a different
    shape matches NO buckets and would silently re-admit/miss every
    near-duplicate — it must raise instead.  The probe defaults to the
    index's own recorded shape."""
    import pandas as pd
    import pytest

    from gmail_etl_spark.streaming.jobs import (
        _read_index_meta,
        maintain_near_dup_index,
        probe_near_dup_index,
    )

    words = [f"w{i}" for i in range(60)]
    mk = lambda lo, hi: " ".join(words[lo:hi])
    src = tmp_path / "docs"
    src.mkdir()
    pd.DataFrame(
        [(0, mk(0, 30)), (1, mk(30, 60))], columns=["doc_id", "text"]
    ).to_parquet(src / "0.parquet")
    index = str(tmp_path / "ndindex")
    maintain_near_dup_index(
        spark, str(src), index, str(tmp_path / "ckpt"),
        k=1, n_hashes=16, bands=16, threshold=0.5, hash_family="sha256",
    )
    meta = _read_index_meta(spark, index)
    assert meta["layout"] == 3
    assert (meta["k"], meta["n_hashes"], meta["bands"], meta["hash_family"]) == (
        1, 16, 16, "sha256",
    )

    # mismatched maintainer: every shape key raises
    for kwargs in (
        {"k": 3}, {"n_hashes": 8}, {"bands": 8}, {"hash_family": "xxhash64"},
        {"n_shards": 8},
    ):
        full = dict(k=1, n_hashes=16, bands=16, hash_family="sha256")
        full.update(kwargs)
        with pytest.raises(ValueError, match="layout constant"):
            maintain_near_dup_index(
                spark, str(src), index, str(tmp_path / "ckpt_bad"), **full
            )
    # mismatched probe raises too
    probe_docs = spark.createDataFrame(
        [(10, mk(0, 28))], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="layout constant"):
        probe_near_dup_index(spark, index, probe_docs, k=3)
    # shape-less probe reads the index's own shape from _META and works
    got = {r["id"] for r in probe_near_dup_index(spark, index, probe_docs).collect()}
    assert got == {10}
    # compact_every=1 is rejected up front (single-dir folds would
    # double reader rows — see _plan_index_fold)
    with pytest.raises(ValueError, match="compact_every=1"):
        maintain_near_dup_index(
            spark, str(src), index, str(tmp_path / "ckpt1"),
            k=1, n_hashes=16, bands=16, hash_family="sha256",
            compact_every=1,
        )

    # a _META missing a shape key cannot guard the shape, so the index
    # is refused by the maintainer and the probe alike
    from gmail_etl_spark.streaming.jobs import _write_index_meta

    _write_index_meta(spark, index, {"layout": 3, "n_shards": 16, "k": 1})
    with pytest.raises(ValueError, match="without n_hashes, bands, hash_family"):
        maintain_near_dup_index(
            spark, str(src), index, str(tmp_path / "ckpt2"),
            k=1, n_hashes=16, bands=16, hash_family="sha256",
        )
    with pytest.raises(ValueError, match="unrecognized layout"):
        probe_near_dup_index(spark, index, probe_docs)


def test_unknown_hash_family_rejected(spark, tmp_path):
    """An LSH hash family other than xxhash64/sha256 raises from the
    batch operator, the maintainer (before anything is written) and the
    probe, instead of hashing with xxhash64 under the misspelled name."""
    import pandas as pd

    from gmail_etl_spark.operators.dedup import minhash_lsh_pairs
    from gmail_etl_spark.streaming.jobs import (
        maintain_near_dup_index,
        probe_near_dup_index,
    )

    docs = spark.createDataFrame(
        [(0, "a b c d"), (1, "a b c e")], "doc_id long, text string"
    )
    msg = r"'xxhash64' or 'sha256', got 'sha-256'"
    with pytest.raises(ValueError, match=msg):
        minhash_lsh_pairs(docs, "doc_id", "text", hash_family="sha-256")

    src = tmp_path / "docs"
    src.mkdir()
    pd.DataFrame([(0, "a b c d")], columns=["doc_id", "text"]).to_parquet(
        src / "0.parquet"
    )
    index = str(tmp_path / "ndindex")
    with pytest.raises(ValueError, match=msg):
        maintain_near_dup_index(
            spark, str(src), index, str(tmp_path / "ckpt"), hash_family="sha-256"
        )
    assert not os.path.exists(index)
    with pytest.raises(ValueError, match=msg):
        probe_near_dup_index(spark, index, docs, hash_family="sha-256")


def test_near_dup_index_stray_dirs_and_marker_fallback(spark, tmp_path):
    """Robustness of the resolve/list protocol: a stray non-numeric
    ``_b*`` dir is skipped (not a ValueError aborting every batch); with
    the ``_CURRENT`` pointer deleted, the fallback resolves the highest
    ``_COMMITTED`` dir and ignores a partial (marker-less) one."""
    import pandas as pd

    from gmail_etl_spark.streaming.jobs import (
        _resolve_head,
        maintain_near_dup_index,
        read_near_dup_index,
    )

    rows = [(i, f"doc {i} unique text " + " ".join(f"t{i}_{j}" for j in range(20)))
            for i in range(6)]
    src = tmp_path / "docs"
    src.mkdir()
    for i in range(2):
        pd.DataFrame(rows[i * 3 : (i + 1) * 3], columns=["doc_id", "text"]).to_parquet(
            src / f"{i}.parquet"
        )
        os.utime(src / f"{i}.parquet", (1_000_000_000 + i,) * 2)
    index = tmp_path / "ndindex"
    maintain_near_dup_index(spark, str(src), str(index), str(tmp_path / "ckpt"))
    expected = {r["id"] for r in read_near_dup_index(spark, str(index)).collect()}
    assert expected == set(range(6))  # all-dissimilar docs all retained

    # stray dirs: must be skipped by every reader/resolver
    (index / "_bstale").mkdir()
    (index / "_cjunk").mkdir()
    assert {r["id"] for r in read_near_dup_index(spark, str(index)).collect()} == expected

    head_before = _resolve_head(spark, str(index))
    # partial (uncommitted) dir with a higher id than the real head
    partial = index / "_b000000000000099"
    partial.mkdir()
    # pointer gone -> fallback must pick the highest COMMITTED dir,
    # ignoring the marker-less partial
    (index / "_CURRENT").unlink()
    assert _resolve_head(spark, str(index)) == head_before
    assert {r["id"] for r in read_near_dup_index(spark, str(index)).collect()} == expected


def test_probe_dup_ids_hot_bucket_cap_and_prune_equality(spark, tmp_path):
    """Probe-side hot-bucket cap: an index bucket with more than
    ``max_bucket`` members is dropped before candidate expansion (the
    boilerplate-collision bound), while normal buckets still verify; and
    the pruned probe (shard filters forced on) returns exactly the
    unpruned result."""
    from pyspark.sql import Row

    import gmail_etl_spark.streaming.jobs as J

    # hand-built index: bucket 77 holds 600 members (boilerplate), bucket
    # 12 holds one member id=9000 whose hsh overlaps the probe doc's
    hot = [Row(bucket=77, id=i) for i in range(600)]
    cold = [Row(bucket=12, id=9000)]
    buckets_df = spark.createDataFrame(hot + cold)
    hsh_df = spark.createDataFrame(
        [Row(id=i, hsh=[100 + i, 200 + i]) for i in range(600)]
        + [Row(id=9000, hsh=[1, 2, 3, 4])]
    )
    index = str(tmp_path / "handindex")
    J._write_index_meta(spark, index, LAYOUT3_META)
    J._publish_index_batch(spark, index, buckets_df, hsh_df, 0, n_shards=16)
    dirs = J._published_index(spark, index)[1]
    assert len(dirs) == 1

    # probe batch: doc 1 collides ONLY with the hot bucket (true near-dup
    # of member 0: hsh overlap 2/2 vs [100,200]); doc 2 collides with the
    # cold bucket and verifies against id=9000 (overlap 3/5 >= 0.5)
    bkeys = spark.createDataFrame([Row(id=1, bucket=77), Row(id=2, bucket=12)])
    b_hsh = spark.createDataFrame(
        [Row(id=1, hsh=[100, 200]), Row(id=2, hsh=[1, 2, 3])]
    )

    def dup_set(max_bucket):
        pins: list = []
        try:
            return {
                r["id"]
                for r in J._probe_dup_ids(
                    spark, dirs, bkeys, b_hsh, 0.5, max_bucket, 16, pins
                ).collect()
            }
        finally:
            for frame in pins:
                frame.unpersist()

    # a cap below 1 would drop every matched bucket: nothing is ever a dup
    for bad in (0, -3):
        with pytest.raises(ValueError, match="max_bucket"):
            dup_set(bad)
    assert dup_set(1000) == {1, 2}  # uncapped: both collisions verify
    # capped at 512: the 600-member bucket is dropped -> doc 1's only
    # collision vanishes (documented recall sacrifice); doc 2 unaffected
    assert dup_set(512) == {2}

    # prune-equality: force shard pruning on despite the tiny index
    saved = J._PRUNE_MIN_FILES
    J._PRUNE_MIN_FILES = 0
    try:
        assert dup_set(1000) == {1, 2}
        assert dup_set(512) == {2}
    finally:
        J._PRUNE_MIN_FILES = saved


def test_probe_dup_ids_stats_and_uncapped_warning(
    spark, tmp_path, monkeypatch, caplog
):
    """The probe's optional ``stats`` out-param records the executed
    plan (prune flag, shard sets, per-sub-table bytes measured at probe
    time, candidate count), and an uncapped expansion past the
    visibility threshold logs a warning (ADVICE r11) without changing
    the result."""
    import logging

    from pyspark.sql import Row

    import gmail_etl_spark.streaming.jobs as J

    buckets_df = spark.createDataFrame(
        [Row(bucket=77, id=i) for i in range(10)] + [Row(bucket=12, id=9000)]
    )
    hsh_df = spark.createDataFrame(
        [Row(id=i, hsh=[100 + i, 200 + i]) for i in range(10)]
        + [Row(id=9000, hsh=[1, 2, 3, 4])]
    )
    index = str(tmp_path / "handindex")
    J._write_index_meta(spark, index, LAYOUT3_META)
    J._publish_index_batch(spark, index, buckets_df, hsh_df, 0, n_shards=16)
    dirs = J._published_index(spark, index)[1]

    bkeys = spark.createDataFrame([Row(id=1, bucket=77), Row(id=2, bucket=12)])
    b_hsh = spark.createDataFrame(
        [Row(id=1, hsh=[100, 200]), Row(id=2, hsh=[1, 2, 3])]
    )

    monkeypatch.setattr(J, "_PRUNE_MIN_FILES", 0)  # force the pruned path
    monkeypatch.setattr(J, "_UNCAPPED_CAND_WARN", 3)  # force the warning
    stats: dict = {}
    pins: list = []
    with caplog.at_level(logging.WARNING, logger=J.__name__):
        got = {
            r["id"]
            for r in J._probe_dup_ids(
                spark, dirs, bkeys, b_hsh, 0.5, None, 16,
                pins=pins, stats=stats,
            ).collect()
        }
    for frame in pins:
        frame.unpersist()
    assert got == {1, 2}
    assert stats["prune"] is True
    assert stats["probe_shards"] == sorted({77 % 16, 12 % 16})
    assert stats["cand_shards"]  # non-empty: candidates exist
    assert stats["bytes_buckets"] > 0 and stats["bytes_hsh"] > 0
    # 10 hot-bucket pairs + 1 cold pair, all distinct (b_id, h_id)
    assert stats["n_candidates"] == 11
    assert any("uncapped near-dup probe" in r.message for r in caplog.records)


def test_probe_near_dup_index_public_api(spark, tmp_path):
    """Read-only decontamination probe: near-dups of retained docs are
    flagged, novel docs are not, and the index is unchanged."""
    import pandas as pd

    from gmail_etl_spark.streaming.jobs import (
        maintain_near_dup_index,
        probe_near_dup_index,
        read_near_dup_index,
    )

    words = [f"w{i}" for i in range(60)]
    mk = lambda lo, hi: " ".join(words[lo:hi])
    src = tmp_path / "docs"
    src.mkdir()
    pd.DataFrame(
        [(0, mk(0, 30)), (1, mk(30, 60))], columns=["doc_id", "text"]
    ).to_parquet(src / "0.parquet")
    index = str(tmp_path / "ndindex")
    maintain_near_dup_index(
        spark, str(src), index, str(tmp_path / "ckpt"),
        k=1, n_hashes=16, bands=16, threshold=0.5,
    )
    before = {r["id"] for r in read_near_dup_index(spark, index).collect()}
    assert before == {0, 1}

    probe_docs = spark.createDataFrame(
        [(10, mk(0, 28)), (11, mk(2, 32)), (12, " ".join(f"x{i}" for i in range(30)))],
        "doc_id long, text string",
    )
    got = {
        r["id"]
        for r in probe_near_dup_index(
            spark, index, probe_docs, k=1, n_hashes=16, bands=16, threshold=0.5
        ).collect()
    }
    assert got == {10, 11}  # near-dups of doc 0; doc 12 is novel
    # read-only: retained set unchanged
    assert {r["id"] for r in read_near_dup_index(spark, index).collect()} == before


def test_rollup_commit_marker_fallback(spark, tmp_path):
    """The rollup pointer-missing fallback trusts the version dir that
    carries the engine-owned ``_COMMITTED`` marker (committer-conf
    independent) and ignores a partial dir without it."""
    import pandas as pd

    from gmail_etl_spark.streaming.jobs import (
        _resolve_head,
        maintain_daily_rollup,
        read_daily_rollup,
    )

    src = tmp_path / "events"
    src.mkdir()
    ts = pd.Timestamp("2024-01-01 10:00:00")
    pd.DataFrame(
        {
            "event_id": [1, 2],
            "user_id": [1, 1],
            "event_type": ["a", "b"],
            "ts": [ts, ts],
            "value": [1.5, 2.5],
        }
    ).to_parquet(src / "0.parquet")
    rollup = tmp_path / "rollup"
    maintain_daily_rollup(spark, str(src), str(rollup), str(tmp_path / "ckpt"))
    batch_id = _resolve_head(spark, str(rollup))
    assert batch_id >= 0
    assert (rollup / "_CURRENT").read_text() == str(batch_id)
    truth = sorted(
        (r["event_type"], r["n_events"], r["value_cents"])
        for r in read_daily_rollup(spark, str(rollup)).collect()
    )

    # partial higher version: dir exists but carries no marker ->
    # must NOT be trusted by the fallback
    partial = rollup / "_v000000000000099"
    partial.mkdir()
    (rollup / "_CURRENT").unlink()
    assert _resolve_head(spark, str(rollup)) == batch_id
    assert sorted(
        (r["event_type"], r["n_events"], r["value_cents"])
        for r in read_daily_rollup(spark, str(rollup)).collect()
    ) == truth
    # stray non-numeric version dir is skipped, not parsed
    (rollup / "_vjunk").mkdir()
    assert _resolve_head(spark, str(rollup)) == batch_id


def test_near_dup_index_legacy_layout_raises(spark, tmp_path):
    """An index in a layout this engine does not write must FAIL
    LOUDLY, from the reader, the probe and the maintainer alike: the
    flat pre-v2 shape (no _META) and a layout-2 index (sharded, no fold
    dirs).  Silently reading either as an empty or partial retained
    corpus would re-admit every near-duplicate while dropping prior
    survivors."""
    import pandas as pd
    import pytest

    from gmail_etl_spark.streaming.jobs import (
        _read_index_meta,
        _write_index_meta,
        maintain_near_dup_index,
        probe_near_dup_index,
        read_near_dup_index,
    )

    docs = tmp_path / "docs"
    docs.mkdir()
    pd.DataFrame({"doc_id": [5], "text": ["some fresh text tokens"]}).to_parquet(
        docs / "0.parquet"
    )

    # the v1 shape: one _b dir of flat parquet + job marker + a
    # _CURRENT pointer, and NO _META
    flat = tmp_path / "flat"
    bdir = flat / "_b000000000000000"
    bdir.mkdir(parents=True)
    pd.DataFrame({"id": [1], "buckets": [[7]], "hsh": [[11, 12]]}).to_parquet(
        bdir / "part-0.parquet"
    )
    (bdir / "_SUCCESS").touch()
    (flat / "_CURRENT").write_text("0")

    # layout 2: an index the engine built, with its _META stamped back
    # to the layout before tiered fold dirs
    layout2 = str(tmp_path / "layout2")
    maintain_near_dup_index(spark, str(docs), layout2, str(tmp_path / "ckpt0"))
    meta = _read_index_meta(spark, layout2)
    _write_index_meta(spark, layout2, {**meta, "layout": 2})

    for i, index in enumerate((str(flat), layout2)):
        with pytest.raises(ValueError, match="unrecognized layout"):
            read_near_dup_index(spark, index)
        with pytest.raises(ValueError, match="unrecognized layout"):
            probe_near_dup_index(spark, index, spark.read.parquet(str(docs)))
        with pytest.raises(ValueError, match="unrecognized layout"):
            maintain_near_dup_index(
                spark, str(docs), index, str(tmp_path / f"ckpt{i + 1}")
            )
