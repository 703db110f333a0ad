"""End-to-end pipeline test (SURVEY §5.3): raw JSON blob dir → engine →
stage-1 rows vs the independent serial implementation; idempotence via
the ledger anti-join (second run ingests nothing); corrupt-blob skip.
"""

from __future__ import annotations

import json

import pytest

from gmail_etl_spark.pipeline import (
    dedup_against_ledger,
    new_ledger_entries,
    read_raw,
    run_pipeline,
    transform_stage1,
)
from gmail_etl_spark.plans.gmail_queries import expected_stage1_rows
from gmail_etl_spark.sources.fixtures import fixture_messages, fixture_raw_df

COLS = ["id", "mimeType", "subject", "date_string", "from", "body", "role", "org", "location"]


@pytest.fixture()
def raw_dir(tmp_path):
    """Raw zone shaped like the reference's GCS blobs: JSON-array files
    named raw/<ts>.json (``resources/gmail_functions.py:127-129``)."""
    msgs = fixture_messages()
    d = tmp_path / "raw"
    d.mkdir()
    (d / "2023-05-20T000000.json").write_text(json.dumps(msgs[:5]))
    (d / "2023-05-21T000000.json").write_text(json.dumps(msgs[5:]))
    # duplicate id across blobs (FIXTURES.md case 10)
    (d / "2023-05-22T000000.json").write_text(json.dumps([msgs[0]]))
    # corrupt blob (FIXTURES.md case 11) → skipped, rest processed
    (d / "2023-05-23T000000.json").write_text("{not json[")
    return str(d)


def test_end_to_end_matches_serial_reference(spark, raw_dir, tmp_path):
    out = str(tmp_path / "stage1")
    ledger = str(tmp_path / "ledger")
    stage1 = run_pipeline(spark, raw_dir + "/*.json", out, ledger_path=ledger)
    got = {r["id"]: {c: r[c] for c in COLS} for r in stage1.collect() if r["id"]}
    expected = {r["id"]: r for r in expected_stage1_rows()}
    assert set(got) == set(expected)  # dup id collapsed, corrupt blob skipped
    for mid, exp in expected.items():
        assert got[mid] == exp, f"mismatch for {mid}"
    # written parquet round-trips
    back = spark.read.parquet(out)
    assert back.count() == len(expected)


def test_second_run_ingests_nothing(spark, raw_dir, tmp_path):
    out = str(tmp_path / "stage1")
    ledger = str(tmp_path / "ledger")
    first = run_pipeline(spark, raw_dir + "/*.json", out, ledger_path=ledger)
    assert first.count() == len(fixture_messages())
    second = run_pipeline(spark, raw_dir + "/*.json", str(tmp_path / "s2"), ledger_path=ledger)
    assert second.count() == 0  # every id already in the ledger


def test_unreadable_ledger_raises(spark, raw_dir, tmp_path):
    """Only a missing ledger path means "first run".  A ledger that
    exists but cannot be read must fail the run, not reprocess every
    message and append it to the ledger again."""
    ledger = tmp_path / "ledger"
    ledger.mkdir()
    (ledger / "part-00000.parquet").write_bytes(b"not parquet")
    out = tmp_path / "stage1"
    with pytest.raises(Exception, match="(?i)parquet"):
        run_pipeline(spark, raw_dir + "/*.json", str(out), ledger_path=str(ledger))
    assert not out.exists()
    assert [p.name for p in ledger.iterdir()] == ["part-00000.parquet"]


def test_corrupt_blob_skipped(spark, raw_dir):
    raw = read_raw(spark, raw_dir + "/*.json")
    ids = [r["id"] for r in raw.select("id").collect()]
    # corrupt file contributes a null-id row (PERMISSIVE), real ids all present
    real = [i for i in ids if i]
    assert sorted(set(real)) == sorted({m["id"] for m in fixture_messages()})


def test_ledger_dedup_is_exact(spark):
    raw = fixture_raw_df(spark)
    ledger = new_ledger_entries(raw.limit(3))
    fresh = dedup_against_ledger(raw, ledger)
    assert fresh.count() == raw.count() - 3


def test_transform_handles_null_payload_rows(spark):
    """PERMISSIVE corrupt rows (null id/payload) must not crash the plan."""
    from gmail_etl_spark.schemas import RAW_MESSAGE_SCHEMA

    df = spark.createDataFrame([{"id": None, "payload": None}], RAW_MESSAGE_SCHEMA)
    rows = transform_stage1(df).collect()
    assert len(rows) == 1
    assert rows[0]["body"] is None or rows[0]["body"] == ""


def test_observe_metrics_on_stage1_transform(spark):
    """Pipeline observability without extra actions: `df.observe`
    attaches accumulator-style metrics to the stage-1 transform, and the
    single write/collect action yields row counts + null-audit numbers
    as a side channel — at 100 TB this replaces a second audit scan."""
    from pyspark.sql import functions as F
    from pyspark.sql import Observation
    from gmail_etl_spark.pipeline import transform_stage1

    raw = fixture_raw_df(spark)
    obs = Observation("stage1_audit")
    stage1 = transform_stage1(raw).observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("date_string").isNull().cast("int")).alias("null_dates"),
    )
    n = stage1.count()
    got = obs.get
    assert got["n_rows"] == n
    assert got["null_dates"] == stage1.filter(
        F.col("date_string").isNull()
    ).count()
