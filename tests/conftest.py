from __future__ import annotations

import os

import duckdb
import pytest

from gmail_etl_spark.plans.catalog import TABLES

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

#: The near-dup index ``_META`` that maintain_near_dup_index writes at its
#: default shape — for tests that hand-build an index.
LAYOUT3_META = {
    "layout": 3, "n_shards": 16, "k": 3, "n_hashes": 16, "bands": 8,
    "hash_family": "xxhash64",
}


@pytest.fixture(scope="session")
def spark():
    from gmail_etl_spark.session import get_spark

    # Modest parallelism for tiny test inputs; the engine config is
    # otherwise identical to production.
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    os.environ.setdefault("SPARK_GRAFT_SHUFFLE", "8")
    spark = get_spark("gmail-etl-spark-tests")
    yield spark


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()
