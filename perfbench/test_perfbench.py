"""Self-tests of the benchmark: BENCHMARK.json matches the code, and the
correctness gate catches a corrupted output.

    python3 -m pytest perfbench/test_perfbench.py -q

The gate tests start a small Spark session and run real passes on
shrunken inputs (about a minute in all).
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import gen  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def test_benchmark_json_declares_what_the_code_reports():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert bench["per_layer"] == layers.declared()
    assert [m["name"] for m in bench["end_to_end"]] == list(run.END_TO_END_UNITS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END_UNITS
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS_ORDER)
    from workloads import WORKLOADS

    assert {w["name"]: w["why"] for w in bench["workloads"]} == {n: c.why for n, c in WORKLOADS.items()}
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    assert len(names) == len(set(names)) and all(NAME.match(n) for n in names)


def _fresh_dir(name: str) -> str:
    path = os.path.join(run.WORK, "test", name)
    shutil.rmtree(path, ignore_errors=True)
    return path


@pytest.fixture(scope="module")
def spark():
    # small inputs and one warm-up pass: the gate, not the speed, is under test
    mp = pytest.MonkeyPatch()
    mp.setattr(gen, "GMAIL_ROWS", 600)
    mp.setattr(gen, "NEAR_DOCS", 600)
    mp.setattr(gen, "KNN_N", 4000)
    mp.setattr(run, "WARMUP", 1)
    s = run._session("perfbench-test")
    yield s
    s.stop()  # keeps the JVM: other test modules in this process reuse it
    mp.undo()
    shutil.rmtree(run.WORK, ignore_errors=True)


def _drop_row(path: str) -> None:
    tbl = pq.read_table(path)
    shutil.rmtree(path)
    os.makedirs(path)
    pq.write_table(tbl.slice(1), os.path.join(path, "part-0.parquet"))


def _alter_value(path: str) -> None:
    """Same rows and ids, one value changed: only the checksum sees it."""
    tbl = pq.read_table(path)
    col = tbl.schema.names[-1]
    vals = tbl.column(col).to_pylist()
    vals[0] = (vals[0] or 0) + 1 if isinstance(vals[0], (int, float)) else f"{vals[0]}x"
    tbl = tbl.set_column(tbl.schema.names.index(col), col, pa.array(vals, tbl.schema.field(col).type))
    shutil.rmtree(path)
    os.makedirs(path)
    pq.write_table(tbl, os.path.join(path, "part-0.parquet"))


@pytest.mark.parametrize(
    "workload,corrupt",
    [("gmail_etl", _drop_row), ("near_dup_batch", _alter_value), ("knn_topk", _drop_row), ("knn_topk", _alter_value)],
)
def test_a_corrupted_pass_drives_ok_ratio_below_one(spark, workload, corrupt):
    from workloads import WORKLOADS

    w = WORKLOADS[workload](spark, 7, _fresh_dir(f"{workload}-{corrupt.__name__}"))
    real_pass, calls = w.run_pass, []

    def run_pass():
        real_pass()
        calls.append(1)
        if len(calls) == run.WARMUP + 2:  # the second timed pass
            corrupt(w.out)

    w.run_pass = run_pass
    args = argparse.Namespace(seconds=0, trace=0, seed=7)
    res = run.measure(spark, w, args, {"s": 0.0, "cpu_s": 0.0})
    assert res["attempted"] == run.MIN_PASSES
    assert res["failed"] == 1 and not res["correct"]
    assert res["metrics"]["ok_ratio"] == (run.MIN_PASSES - 1) / run.MIN_PASSES


def test_clean_passes_keep_ok_ratio_at_one(spark):
    from workloads import WORKLOADS

    w = WORKLOADS["knn_topk"](spark, 8, _fresh_dir("clean"))
    res = run.measure(spark, w, argparse.Namespace(seconds=0, trace=0, seed=8), {"s": 0.0, "cpu_s": 0.0})
    assert res["correct"] and res["failed"] == 0 and res["metrics"]["ok_ratio"] == 1.0
