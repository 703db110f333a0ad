"""Per-layer metrics of the traced run, and which end-to-end metric each
layer should move on which workload.

A layer is named ``<module>.<call>`` after the program function the
benchmark calls.  Every traced run reports every metric declared here;
a layer that its workload never calls reads 0, so a change to that
layer should leave the other workloads' numbers where they were.
"""

from __future__ import annotations

from statistics import median

#: Measures, where they exist:
#:   s           self wall time (span minus its child spans)
#:   cpu_s       process-tree CPU over the span (JVM, Python workers, driver)
#:   exec_cpu_s  Spark executorCpuTime of the span's stages
#:   jobs, tasks Spark jobs and tasks of the span
#:   shuffle_mb  shuffle bytes written by the span's stages
#:   gc_s        JVM GC time of the span's tasks
#:   failed_tasks failed tasks plus retried stage attempts
#:   rows        rows out of the layer
SPARK = ("s", "cpu_s", "exec_cpu_s", "jobs", "tasks", "shuffle_mb", "gc_s", "failed_tasks", "rows")
NO_SHUFFLE = tuple(m for m in SPARK if m != "shuffle_mb")
UDF = ("s", "cpu_s", "exec_cpu_s", "tasks", "rows", "cross_ratio")

_ALL = ["gmail_etl", "near_dup_batch", "knn_topk"]

#: (layer, workload, measures, end-to-end metrics it should move)
LAYERS: list[tuple[str, str, tuple, str]] = [
    ("session.get_spark", "all", ("s", "cpu_s"), "setup_s on every workload"),
    ("pipeline.read_raw", "gmail_etl", NO_SHUFFLE + ("blobs",), "rows_per_s"),
    ("pipeline.dedup_against_ledger", "gmail_etl", SPARK + ("keep_ratio",), "rows_per_s"),
    ("pipeline.transform_stage1", "gmail_etl", NO_SHUFFLE, "rows_per_s, cpu_s_per_krow"),
    ("functions.html_to_text", "gmail_etl", UDF, "cpu_s_per_krow"),
    ("functions.extract_indeed", "gmail_etl", UDF, "cpu_s_per_krow"),
    ("functions.fuzzy_parse_ts", "gmail_etl", UDF, "cpu_s_per_krow"),
    ("pipeline.write_stage1_parquet", "gmail_etl", NO_SHUFFLE + ("bytes",), "rows_per_s, out_bytes_per_row"),
    ("pipeline.new_ledger_entries", "gmail_etl", SPARK + ("bytes",), "rows_per_s"),
    ("operators.dedup.signatures", "near_dup_batch", tuple(m for m in SPARK if m != "rows"), "rows_per_s, cpu_s_per_krow"),
    ("operators.dedup.pairs", "near_dup_batch", SPARK + ("verified_ratio", "shuffle_records"), "rows_per_s"),
    ("operators.dedup.connected_components", "near_dup_batch", tuple(m for m in SPARK if m != "rows"), "rows_per_s"),
    ("operators.dedup.near_dedup", "near_dup_batch", SPARK + ("survivor_ratio",), "rows_per_s, out_bytes_per_row"),
    ("operators.similarity.cosine_topk_vectorized", "knn_topk", SPARK + ("partial_ratio",), "rows_per_s, cpu_s_per_krow"),
    ("operators.similarity.cosine_topk_vectorized.collect", "knn_topk", ("s", "exec_cpu_s"), "rows_per_s"),
    ("operators.similarity.cosine_topk_vectorized.kernel", "knn_topk", ("s", "exec_cpu_s", "tasks", "shuffle_mb"), "rows_per_s, cpu_s_per_krow"),
    ("operators.similarity.cosine_topk_vectorized.merge", "knn_topk", ("s", "exec_cpu_s", "tasks"), "rows_per_s"),
]

#: Whole-run numbers: share of the traced pass's wall time that layer
#: self times cover, traced pass wall time over the untraced median, and
#: the peak process-tree RSS over the timed passes (not an end-to-end
#: metric: on knn_topk it did not repeat within a tenth across seeds).
CHECKS = (("trace.coverage", "ratio"), ("trace.overhead", "ratio"), ("run.peak_rss_mb", "MB"))

_UNITS = {
    "s": "s", "cpu_s": "s", "exec_cpu_s": "s", "gc_s": "s", "jobs": "count",
    "tasks": "count", "failed_tasks": "count", "rows": "rows", "shuffle_mb": "MB",
    "blobs": "count", "bytes": "bytes", "shuffle_records": "count",
}


#: measures where more is better: useful outcomes, not costs
_HIGHER = {"rows", "blobs", "keep_ratio", "verified_ratio", "survivor_ratio", "coverage"}


def metric_names() -> list[tuple[str, str]]:
    """(name, unit) of every per-layer metric, in declaration order."""
    out = [(f"{layer}.{m}", _UNITS.get(m, "ratio")) for layer, _, ms, _ in LAYERS for m in ms]
    return out + list(CHECKS)


def declared() -> list[dict]:
    """The ``per_layer`` entries of BENCHMARK.json."""
    return [
        {"name": n, "unit": u, "better": "higher" if n.rsplit(".", 1)[1] in _HIGHER else "lower"}
        for n, u in metric_names()
    ]


def unchanged_on(workload: str) -> list[str]:
    return [w for w in _ALL if w != workload] if workload != "all" else []


def _stage_sum(stages: list[dict], key: str) -> float:
    return sum(st[key] for st in stages)


def _span_measures(tracer, span) -> dict[str, float]:
    st = span.stages
    kids = [k for k in tracer.spans if k.parent == span.name]
    return {
        "s": tracer.self_s(span),
        "cpu_s": span.cpu_s - sum(k.cpu_s for k in kids),
        "exec_cpu_s": _stage_sum(st, "cpu_s"),
        "jobs": len(span.job_ids),
        "tasks": _stage_sum(st, "tasks"),
        "shuffle_mb": _stage_sum(st, "shuffle_write_mb"),
        "gc_s": _stage_sum(st, "gc_s"),
        "failed_tasks": _stage_sum(st, "failed_tasks") + sum(1 for x in st if x["attempt"] > 0),
        "shuffle_records": _stage_sum(st, "shuffle_write_records"),
        **span.counts,
    }


def _knn_stage_split(tracer, values: dict) -> None:
    """Split the top-k materialization into its kernel map stage (the
    mapInArrow stage that writes the partial rows to the shuffle) and the
    merge stage (reads them, ranks, writes the result)."""
    name = "operators.similarity.cosine_topk_vectorized"
    span = next((s for s in tracer.spans if s.name == name), None)
    if span is None:
        return
    kernel = [st for st in span.stages if st["shuffle_write_records"] > 0]
    merge = [st for st in span.stages if st["shuffle_write_records"] == 0 and st["shuffle_read_mb"] > 0]
    for sub, st in (("kernel", kernel), ("merge", merge)):
        values[f"{name}.{sub}"] = {
            "s": _stage_sum(st, "wall_s"),
            "exec_cpu_s": _stage_sum(st, "cpu_s"),
            "tasks": _stage_sum(st, "tasks"),
            "shuffle_mb": _stage_sum(st, "shuffle_write_mb"),
        }
    k_rows = _stage_sum(kernel, "shuffle_write_records")
    values[name]["partial_ratio"] = k_rows / max(1, values[name].get("rows", 0))


def per_layer_metrics(tracer, pass_span, untraced_walls: list[float], setup: dict, peak_rss_mb: float) -> dict:
    """The metrics JSON of a traced run: every declared metric, 0 where the
    workload does not call the layer."""
    values: dict[str, dict] = {s.name: _span_measures(tracer, s) for s in tracer.spans}
    values["session.get_spark"] = setup
    _knn_stage_split(tracer, values)
    in_pass = [s for s in tracer.spans if s.start >= pass_span.start and s.end <= pass_span.end and s is not pass_span]
    whole_run = {
        "trace.coverage": sum(tracer.self_s(s) for s in in_pass) / pass_span.wall_s,
        "trace.overhead": pass_span.wall_s / median(untraced_walls),
        "run.peak_rss_mb": peak_rss_mb,
    }
    out = {}
    for name, unit in metric_names():
        if name in whole_run:
            v = whole_run[name]
        else:
            layer, m = name.rsplit(".", 1)
            v = values.get(layer, {}).get(m, 0)
        out[name] = {"value": float(v), "unit": unit}
    return out


def table(metrics: dict) -> list[str]:
    """Human-readable per-layer table with the layer -> metric map."""
    def g(layer, ms, m):
        return f"{metrics[f'{layer}.{m}']['value']:.3f}" if m in ms else "-"

    lines = [f"{'layer':<52} {'workload':<15} {'self_s':>7} {'cpu_s':>7} {'jobs':>5}  moves / unchanged on"]
    for layer, wl, ms, moves in LAYERS:
        cpu = "cpu_s" if "cpu_s" in ms else "exec_cpu_s"
        lines.append(
            f"{layer:<52} {wl:<15} {g(layer, ms, 's'):>7} {g(layer, ms, cpu):>7} "
            f"{g(layer, ms, 'jobs'):>5}  {moves} / {', '.join(unchanged_on(wl)) or '-'}"
        )
    lines += [f"{c:<52} {metrics[c]['value']:.3f}" for c, _ in CHECKS]
    return lines
