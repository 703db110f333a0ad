"""Steadiness check: run each workload on unchanged code with several
seeds and report, per end-to-end metric, the median, the quartiles and
the spread (q3 - q1) / median next to the bound in BENCHMARK.json.

    python3 perfbench/steadiness.py --runs 10 --out perfbench/steadiness.json

Runs go seed-major (every workload for seed 1, then seed 2, ...), so a
drift of the host shows on every workload alike.  A spread within a
third of the bound is steady; within the bound passes.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time
from statistics import quantiles

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload: str, seed: int, seconds: int) -> tuple[dict, dict, float]:
    t0 = time.perf_counter()
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    if p.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}")
    lines = p.stdout.strip().splitlines()
    info = next(json.loads(x.split(" ", 1)[1]) for x in lines if x.startswith("perfbench-run "))
    return json.loads(lines[-1]), info, time.perf_counter() - t0


def stats(values: list[float]) -> dict:
    q1, q2, q3 = quantiles(values, n=4)
    return {"median": q2, "q1": q1, "q3": q3, "spread": (q3 - q1) / q2 if q2 else 0.0}


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--workloads", nargs="*")
    p.add_argument("--out")
    a = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = a.workloads or [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    samples: dict[str, dict[str, list[float]]] = {w: {} for w in workloads}
    runs: list[dict] = []
    for seed in range(a.first_seed, a.first_seed + a.runs):
        for w in workloads:
            res, info, took = run_once(w, seed, bench["run_seconds"])
            for name, m in res["metrics"].items():
                samples[w].setdefault(name, []).append(m["value"])
            # recorded to decide whether peak RSS is steady enough to be end-to-end
            samples[w].setdefault("peak_rss_mb", []).append(info["peak_rss_mb"])
            runs.append({"workload": w, "seed": seed, "run_s": round(took, 1), "correct": res["correct"],
                         "loadavg_start": info["loadavg_start"][0], "steal_share": info.get("steal_share"),
                         "setup_s": info["setup_s"], "warmup_walls_s": info["warmup_walls_s"],
                         "pass_walls_s": info["pass_walls_s"], "pass_cpu_s": info["pass_cpu_s"],
                         "metrics": {k: v["value"] for k, v in res["metrics"].items()}})
            print(f"{w} seed {seed}: {took:.1f} s correct={res['correct']} "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
    report = {"run_seconds": bench["run_seconds"], "runs": runs, "metrics": {}}
    ok = True
    for w in workloads:
        for name, vals in samples[w].items():
            st = stats(vals)
            bound = bounds.get(name)
            st["bound"] = bound
            st["steady"] = None if bound is None else st["spread"] <= bound / 3
            if bound is not None and name != "setup_s" and st["spread"] > bound:
                ok = False
            report["metrics"][f"{w}/{name}"] = st
            print(f"{w:<15} {name:<18} median {st['median']:<12.5g} q1 {st['q1']:<12.5g} "
                  f"q3 {st['q3']:<12.5g} spread {st['spread']:.4f} bound {bound}")
    report["total_run_s"] = round(sum(r["run_s"] for r in runs), 1)
    print(f"total {report['total_run_s']} s over {len(runs)} runs; spreads within bounds: {ok}")
    if a.out:
        with open(a.out, "w") as f:
            json.dump(report, f, indent=1)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
