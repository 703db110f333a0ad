"""End-to-end raw → stage-1 batch pipeline (reference parity).

Reproduces the reference's ``transform_load_raw`` task
(``resources/gmail_functions.py:248-324``) as one declarative DataFrame
plan, and its ledger dedup (``:115-126``, ``:172-178``; ``init.sql:25-28``)
as a single distributed anti-join.  The reference's two scalability
cliffs — the N+1 per-id ledger lookups and the per-message driver loop —
become one ``left_anti`` join and one distributed ``select`` (SURVEY §3).

Scale posture: the only Python stages are the two pandas UDFs (U1 html
strip, U3 Indeed extract); both receive a single pre-projected column
and U3 is gated by the sender predicate *before* the UDF, so at 100 TB
the Arrow boundary carries only the bytes it must.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gmail_etl_spark.functions.dates import fuzzy_parse_ts
from gmail_etl_spark.functions.html import (
    html_to_text,
    plain_text_no_markup,
    strip_plain_text,
)
from gmail_etl_spark.functions.scalar import (
    ascii_sanitize,
    body_text_fixed_depth,
    clean_date_header,
    format_date_string,
    header_map,
    lenient_timestamp_cleaned,
    parse_sender,
)
from gmail_etl_spark.functions.vendor import INDEED_SENDER, extract_indeed
from gmail_etl_spark.schemas import RAW_MESSAGE_SCHEMA


def read_raw(spark: SparkSession, path: str) -> DataFrame:
    """S3+S4: read the ``raw/`` zone of JSON-array blobs.

    ``multiLine`` because each blob is one JSON array
    (``resources/gmail_functions.py:127-129``); PERMISSIVE mode
    reproduces the reference's skip-unparsable-blob behavior (``:261``).
    """
    df = (
        spark.read.schema(RAW_MESSAGE_SCHEMA)
        .option("multiLine", True)
        .option("mode", "PERMISSIVE")
        .json(path)
    )
    # PERMISSIVE turns an unparsable blob into one all-null row; dropping
    # null ids reproduces the reference's skip-bad-blob `except: pass`
    # (real Gmail messages always carry an id).
    return df.filter(F.col("id").isNotNull())


def transform_stage1(raw: DataFrame) -> DataFrame:
    """The full per-message transform (reference ``:262-303``) as one plan.

    P1 projection → P2 header pivot (last-wins) → F7/U2 date parse →
    F2/F3 sender parse → F9/F6 body assembly → U1 html strip + F5
    sanitize → P5-gated U3 Indeed enrichment.
    """
    # Shared non-cheap subexpressions are materialized as columns: a
    # multi-referenced alias survives CollapseProject, while an inlined
    # copy is re-evaluated per consumer (HOF map builds and the 6-format
    # parse chain get no codegen subexpression elimination).  Measured on
    # the 20k-message bench corpus: 0.97 s inlined → 0.74 s with _hm /
    # _clean_date / _fast_ts materialized, identical all-column
    # checksums (OPTIMIZATION_r12.md §2; guide §1.2 per-task work).
    base = raw.select(
        F.col("id"),
        F.col("payload"),
        header_map(F.col("payload.headers")).alias("_hm"),
    ).select(
        F.col("id"),
        F.col("payload.mimeType").alias("mimeType"),
        F.col("_hm")["subject"].alias("subject"),
        F.col("_hm")["date"].alias("raw_date"),
        parse_sender(F.col("_hm")["from"]).alias("from"),
        body_text_fixed_depth(F.col("payload")).alias("raw_body"),
    )
    # F7 chain once per row (U2 fuzzy UDF only where it missed), then
    # the date_string projection reuses the materialized parse.
    base = base.withColumn("_clean_date", clean_date_header(F.col("raw_date")))
    base = base.withColumn("_fast_ts", lenient_timestamp_cleaned(F.col("_clean_date")))
    base = base.withColumn(
        "date_string",
        format_date_string(
            F.coalesce(
                F.col("_fast_ts"),
                fuzzy_parse_ts(F.when(F.col("_fast_ts").isNull(), F.col("raw_date"))),
            )
        ),
    )
    # U1 gate pushed JVM-side (r13, guide §4.1): rows with neither '<'
    # nor '&' are a single text node, so strip_html reduces to
    # str.strip() — those rows never cross the Arrow boundary (the UDF
    # input is NULLed for them; a null crosses as a validity bit, not
    # body bytes) and the JVM strip_plain_text produces the byte-
    # identical value (whitespace-set parity pinned by
    # tests/test_functions.py).  _plain is materialized so the two
    # contains() scans of the body run once per row.
    base = base.withColumn("_plain", plain_text_no_markup(F.col("raw_body")))
    base = base.withColumn(
        "body",
        ascii_sanitize(
            F.when(F.col("_plain"), strip_plain_text(F.col("raw_body"))).otherwise(
                html_to_text(F.when(~F.col("_plain"), F.col("raw_body")))
            )
        ),
    )
    # P5 gate: only Indeed rows cross the Python boundary for U3.
    indeed = extract_indeed(
        F.when(F.col("from") == INDEED_SENDER, F.col("raw_body"))
    )
    base = base.withColumn(
        "indeed",
        F.when(F.col("from") == INDEED_SENDER, indeed),
    )
    return base.select(
        "id",
        "mimeType",
        "subject",
        "date_string",
        "from",
        "body",
        F.col("indeed.role").alias("role"),
        F.col("indeed.org").alias("org"),
        F.col("indeed.location").alias("location"),
    )


def dedup_against_ledger(messages: DataFrame, ledger: DataFrame | None) -> DataFrame:
    """J1/J2/J3: in-batch exact dedup + anti-join vs the processed ledger.

    The ledger side is small relative to the batch at any scale that
    matters (ids only), so Catalyst broadcasts it; if it ever outgrows
    the threshold a shuffled hash anti-join takes over automatically.
    """
    deduped = messages.dropDuplicates(["id"])
    if ledger is None:
        return deduped
    return deduped.join(ledger.select("id"), on="id", how="left_anti")


def new_ledger_entries(messages: DataFrame) -> DataFrame:
    """Ids to append to the ledger after a successful sink write
    (reference commit-after-write ordering, ``:131-137``)."""
    return messages.select("id").distinct().withColumn("date", F.current_date())


def write_stage1_csv(df: DataFrame, path: str) -> None:
    """S6 compatibility sink (reference ``:307-309``): header + quote-all
    CSV.  The idiomatic lake sink is ``write_stage1_parquet``."""
    df.write.mode("overwrite").option("header", True).option("quoteAll", True).csv(path)


def write_stage1_parquet(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").parquet(path)


def run_pipeline(
    spark: SparkSession,
    raw_path: str,
    out_path: str,
    ledger_path: str | None = None,
    fmt: str = "parquet",
) -> DataFrame:
    """E2 lifecycle: read raw → dedup vs ledger → transform → sink →
    append ledger.  Returns the stage-1 DataFrame."""
    raw = read_raw(spark, raw_path)
    ledger = None
    if ledger_path is not None:
        try:
            ledger = spark.read.parquet(ledger_path)
        except AnalysisException as e:
            # only a missing path is a first run; an unreadable ledger must
            # not silently reprocess and re-append every message
            if e.getCondition() != "PATH_NOT_FOUND":
                raise
    fresh = dedup_against_ledger(raw, ledger)
    stage1 = transform_stage1(fresh)
    if fmt == "csv":
        write_stage1_csv(stage1, out_path)
    else:
        write_stage1_parquet(stage1, out_path)
    if ledger_path is not None:
        new_ledger_entries(fresh).write.mode("append").parquet(ledger_path)
    return stage1
