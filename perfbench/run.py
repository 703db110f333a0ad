"""Repository benchmark: one command, every metric by name and unit,
outputs checked.

    python3 perfbench/run.py --workload gmail_etl --seed 1 --seconds 10 --trace 0

Run it from the repository root.  The last line of stdout is the result
JSON: ``{"correct", "attempted", "failed", "metrics"}``.  With
``--trace 0`` the metrics are the end-to-end ones of BENCHMARK.json;
with ``--trace 1`` they are the per-layer ones (see layers.py), and the
spans are written to ``.perfbench_out/``.

Load model: one closed-loop client in one process on local[nproc], one
pass at a time.  A run is

1. setup, in a fresh process: start Python, ``get_spark()``, write the
   seeded inputs.  ``setup_s`` is the time from spawning the process
   until that is done;
2. read/cache the inputs, then WARMUP untimed passes (the JIT and
   Spark's codegen caches settle), then timed passes until ``--seconds``
   have passed (at least MIN_PASSES);
3. with ``--trace 1``, one more pass split into layer spans.

Every pass, warm-up included, goes through the workload's correctness
gate; a failed pass is counted, never retried.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time
from statistics import median

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")

#: The driver heap, fixed (minimum = maximum) instead of the default share
#: of host RAM: a run then asks the same of every host, stays small on a
#: shared one, and its speed does not depend on when the JVM grows its heap.
DRIVER_MEM = "2g"
#: Untimed warm-up passes.  Measured on 4 cores, pass times keep falling
#: after the first pass (JIT compilation) and flatten after about five.
#: A fixed pass count puts every run at the same point of that curve; a
#: fixed warm-up time did not, because the first pass alone takes 5-14 s.
WARMUP = 5
MIN_PASSES = 3
#: Wall-clock limit of the measuring process.
CHILD_TIMEOUT_S = 170
READY = "PERFBENCH_READY"
RESULT = "PERFBENCH_RESULT "

WORKLOADS_ORDER = ("gmail_etl", "near_dup_batch", "knn_topk")
END_TO_END_UNITS = {
    "setup_s": "s",
    "rows_per_s": "rows/s",
    "cpu_s_per_krow": "s",
    "out_bytes_per_row": "bytes",
    "ok_ratio": "ratio",
}


def _args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS_ORDER)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--role", choices=["main", "measure"], default="main", help=argparse.SUPPRESS)
    return p.parse_args(argv)


# ---------------------------------------------------------------------------
# the measuring process: setup, then the passes
# ---------------------------------------------------------------------------


def _session(app: str):
    from gmail_etl_spark.session import get_spark

    spark = get_spark(
        app,
        master=f"local[{len(os.sched_getaffinity(0))}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM}",  # see DRIVER_MEM
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers) to exit: the gateway JVM exits when its stdin closes."""
    jvm = spark.sparkContext._gateway.proc
    spark.stop()
    jvm.stdin.close()
    jvm.wait(timeout=60)


def child(a) -> int:
    sys.path[:0] = [ROOT, HERE]
    import tracing

    t0, c0 = time.perf_counter(), tracing.tree_cpu_s()
    spark = _session(f"perfbench-{a.workload}")
    get_spark = {"s": time.perf_counter() - t0, "cpu_s": tracing.tree_cpu_s() - c0}
    from workloads import WORKLOADS

    root = os.path.join(WORK, f"{a.workload}-{a.seed}-{os.getpid()}")
    try:
        w = WORKLOADS[a.workload](spark, a.seed, root)
        print(READY, flush=True)
        result = measure(spark, w, a, get_spark)
        print(RESULT + json.dumps(result), flush=True)
        return 0
    finally:
        _stop(spark)
        shutil.rmtree(root, ignore_errors=True)


def measure(spark, w, a, get_spark: dict) -> dict:
    import tracing
    from workloads import output_bytes, output_rows

    t_start = time.perf_counter()
    w.load()
    t_loaded = time.perf_counter()
    ref_sum: list[str] = []
    errors: list[str] = []

    def one_pass() -> tuple[float, float, bool]:
        """(wall s, process-tree CPU s, output correct).  A pass that
        raises counts as failed; its output is never re-run."""
        w.prepare()
        c0 = tracing.tree_cpu_s()
        t0 = time.perf_counter()
        try:
            w.run_pass()
            wall = time.perf_counter() - t0
            cpu = tracing.tree_cpu_s() - c0
            ok, cs = w.check()
        except Exception as e:  # a failing program is a result, not a crash
            errors.append(f"{type(e).__name__}: {e}"[:500])
            return time.perf_counter() - t0, tracing.tree_cpu_s() - c0, False
        if ok and not ref_sum:
            ref_sum.append(cs)
        return wall, cpu, ok and cs == ref_sum[0]

    warm = [one_pass() for _ in range(WARMUP)]
    load0, ticks0 = os.getloadavg(), tracing.host_cpu_ticks()
    t_timed0 = time.perf_counter()
    timed: list[tuple[float, float, bool]] = []
    t_end = time.perf_counter() + a.seconds
    with tracing.PeakRss() as rss:
        while len(timed) < MIN_PASSES or time.perf_counter() < t_end:
            timed.append(one_pass())
    load1, ticks1 = os.getloadavg(), tracing.host_cpu_ticks()
    phase_s = {"load": t_loaded - t_start, "warmup": t_timed0 - t_loaded, "timed": time.perf_counter() - t_timed0}
    walls = [t[0] for t in timed]
    failed = sum(1 for t in timed if not t[2])
    info = {
        "workload": w.name,
        "why": w.why,
        "seed": a.seed,
        "inputs": w.props,
        "cores": len(os.sched_getaffinity(0)),
        "loadavg_start": [round(x, 2) for x in load0],
        "loadavg_end": [round(x, 2) for x in load1],
        "steal_share": round((ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1]), 4),
        "warmup_walls_s": [round(t[0], 4) for t in warm],
        "pass_walls_s": [round(x, 4) for x in walls],
        "pass_cpu_s": [round(t[1], 3) for t in timed],
        "peak_rss_mb": rss.peak_mb,
        "checksum": ref_sum[0] if ref_sum else None,
        "errors": errors[:3],
        "phase_s": {k: round(v, 2) for k, v in phase_s.items()},
    }
    correct = failed == 0 and all(t[2] for t in warm)
    if not a.trace:
        rows = w.input_rows()
        metrics = {
            "rows_per_s": rows / median(walls),
            "cpu_s_per_krow": median(t[1] for t in timed) / (rows / 1000),
            "out_bytes_per_row": (
                output_bytes(w.out) / max(1, output_rows(w.out)) if os.path.isdir(w.out) else 0.0
            ),
            "ok_ratio": (len(timed) - failed) / len(timed),
        }
    else:
        metrics = traced(spark, w, walls, get_spark, info)
        correct = correct and info["traced_pass_ok"]
    return {"info": info, "correct": correct, "attempted": len(timed), "failed": failed, "metrics": metrics}


def traced(spark, w, walls, get_spark, info) -> dict:
    import layers
    import tracing

    tr = tracing.Tracer(spark)
    w.prepare()
    with tr.span("pass") as pass_span:
        w.trace_pass(tr)
    info["traced_pass_ok"] = w.check()[0]
    w.trace_probes(tr)
    tr.collect_stages()
    metrics = layers.per_layer_metrics(tr, pass_span, walls, get_spark, info["peak_rss_mb"])
    os.makedirs(OUT, exist_ok=True)
    path = os.path.join(OUT, f"{w.name}-seed{w.seed}-spans.json")
    tr.dump(path, {"info": info, "metrics": metrics})
    info["spans_file"] = os.path.relpath(path, ROOT)
    print("\n".join(layers.table(metrics)))
    return metrics


# ---------------------------------------------------------------------------
# parent process: repeated setup, result assembly
# ---------------------------------------------------------------------------


def _child_env() -> dict:
    env = dict(os.environ)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["TMPDIR"] = tmp
    # Every JVM, the spark-submit launcher too, keeps its temp files and
    # Spark's scratch dirs (spark.local.dir defaults to java.io.tmpdir) in
    # the checkout, and writes no hsperfdata file: the JVM puts that in the
    # system temp directory whatever java.io.tmpdir says.
    env["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    env.pop("SPARK_LOCAL_DIRS", None)
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
    env["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    return env


def _kill_group(pid: int) -> None:
    """Kill the measuring process with its JVM and Python workers."""
    try:
        os.killpg(pid, signal.SIGKILL)
    except ProcessLookupError:
        pass


def _run_child(a) -> tuple[float, dict | None]:
    """Run the measuring process; return (its setup time, its result).

    setup_s runs from spawning the process until it reports that
    ``get_spark()`` has returned and the inputs are on disk."""
    t0 = time.perf_counter()
    proc = subprocess.Popen(
        [sys.executable, os.path.abspath(__file__), "--workload", a.workload, "--seed", str(a.seed),
         "--seconds", str(a.seconds), "--trace", str(a.trace), "--role", "measure"],
        stdout=subprocess.PIPE, text=True, cwd=ROOT, env=_child_env(), start_new_session=True,
    )
    watchdog = threading.Timer(CHILD_TIMEOUT_S, _kill_group, (proc.pid,))
    watchdog.start()
    ready_at, result = None, None
    try:
        for line in proc.stdout:
            if line.startswith(READY):
                ready_at = time.perf_counter()
            elif line.startswith(RESULT):
                result = json.loads(line[len(RESULT):])
            else:
                sys.stdout.write(line)
        rc = proc.wait()
    finally:
        watchdog.cancel()
        if proc.poll() is None:
            _kill_group(proc.pid)
            proc.wait()
    if rc != 0 or ready_at is None:
        raise RuntimeError(f"measuring process failed (exit code {rc})")
    return ready_at - t0, result


def main(a) -> int:
    try:
        setup_s, res = _run_child(a)
    except RuntimeError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    if res is None:
        print("perfbench: no result from the measuring process", file=sys.stderr)
        return 1
    info = res.pop("info")
    info["setup_s"] = setup_s
    metrics = res["metrics"]
    if not a.trace:
        metrics["setup_s"] = setup_s
        metrics = {k: {"value": metrics[k], "unit": u} for k, u in END_TO_END_UNITS.items()}
    print("perfbench-run " + json.dumps(info))
    print(json.dumps({**res, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    args = _args()
    sys.exit(child(args) if args.role != "main" else main(args))
