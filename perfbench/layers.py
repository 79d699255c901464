"""Per-layer metrics of a traced run, computed from its spans.

Each metric is a value per op (a total over the traced ops divided by
their number, unless it is a ratio). LAYER_METRICS states, for every
metric, the end-to-end metric it should move and the workload that
exercises it (and, in brackets, one that bypasses it); BENCHMARK.json
cannot carry that, so the traced run prints it beside each value.
"""

from __future__ import annotations

import stats

# name: (unit, better, moves end-to-end, exercised on (bypassed by))
LAYER_METRICS = {
    "session.get_spark_s": ("s", "lower", "setup_s", "all"),
    "job.parse_s": ("s", "lower", "op_p50_s",
                    "etl_fanout (dataops)"),
    "job.plan_s": ("s", "lower", "op_p50_s", "etl_fanout (dataops)"),
    "job.run_self_s": ("s", "lower", "op_p50_s",
                       "etl_fanout (dataops)"),
    "transforms.apply_s": ("s", "lower", "op_p50_s",
                           "etl_fanout (dataops)"),
    "transforms.calls": ("count", "lower", "op_p50_s",
                         "etl_fanout (dataops)"),
    "sources.read_s": ("s", "lower", "round_s,rows_per_s",
                       "etl_fanout (dataops)"),
    "sources.rows_read": ("rows", "lower", "round_s,rows_per_s",
                          "etl_fanout (dataops)"),
    "sources.read_amplification": ("ratio", "lower", "round_s,rows_per_s",
                                   "etl_fanout (dataops)"),
    "sinks.write_s": ("s", "lower", "round_s,rows_per_s",
                      "etl_fanout (dataops)"),
    "sinks.rows_out": ("rows", "higher", "rows_per_s",
                       "etl_fanout (dataops)"),
    "sinks.bytes_out": ("bytes", "lower", "round_s",
                        "etl_fanout (dataops)"),
    "sinks.files_out": ("count", "lower", "round_s",
                        "etl_fanout (dataops)"),
    "dataops.op_s": ("s", "lower", "round_s,op_tail_s",
                     "dataops (etl_fanout)"),
    "dataops.spark_jobs": ("count", "lower", "round_s,op_tail_s",
                           "dataops (etl_fanout)"),
    "dataops.persisted_rdds_after": ("count", "lower", "peak_rss_mb",
                                     "dataops (etl_fanout)"),
    "spark.jobs": ("count", "lower", "round_s,cold_op_s",
                   "dataops (etl_fanout)"),
    "spark.stages": ("count", "lower", "round_s", "dataops"),
    "spark.tasks": ("count", "lower", "round_s", "dataops"),
    "spark.exec_run_s": ("s", "lower", "round_s", "all"),
    "spark.exec_cpu_s": ("s", "lower", "round_s", "all"),
    "spark.gc_s": ("s", "lower", "op_tail_s", "all"),
    "spark.shuffle_read_bytes": ("bytes", "lower", "round_s", "all"),
    "spark.shuffle_write_bytes": ("bytes", "lower", "round_s", "all"),
    "spark.spill_bytes": ("bytes", "lower", "op_tail_s", "all"),
    "spark.busy_share": ("ratio", "higher", "round_s",
                         "etl_fanout (dataops)"),
    "spark.driver_gap_s": ("s", "lower", "round_s,op_tail_s",
                           "dataops (etl_fanout)"),
    "pyworker.cpu_s": ("s", "lower", "round_s",
                       "dataops (etl_fanout)"),
    "pyworker.share": ("ratio", "lower", "round_s",
                       "dataops (etl_fanout)"),
    "tracing_overhead_s": ("s", "lower", "(none: traced minus untraced round_s)",
                           "all"),
    "speedup_vs_1core": ("ratio", "higher", "round_s", "all"),
}

SELF_LAYERS = ("op", "job", "sources", "transforms", "sinks", "dataops")


def _sum_spark(spans: list[dict], key: str) -> float:
    return sum(s["spark"][key] for s in spans)


def _subtree_of(spans: list[dict]):
    children: dict[int | None, list[dict]] = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)

    def subtree(s: dict) -> list[dict]:
        out, todo = [], [s]
        while todo:
            x = todo.pop()
            out.append(x)
            todo.extend(children.get(x["id"], []))
        return out
    return subtree


def compute(spans: list[dict], ops: list[dict], cores: int) -> tuple[dict, dict]:
    """(metrics, self_time_per_layer) for the traced ops. `ops` are the
    runner's records of the traced ops, each with the `span` id of its
    root span, its `rows_in` and `persisted_rdds_after`."""
    n = len(ops)
    by_id = {s["id"]: s for s in spans}
    subtree = _subtree_of(spans)
    selfs = stats.self_times(spans)

    def named(name):
        return [s for s in spans if s["name"] == name]

    def dur(ss):
        return sum(s["end"] - s["start"] for s in ss)

    def trees(name):
        return [x for s in named(name) for x in subtree(s)]

    roots = [by_id[o["span"]] for o in ops]
    op_spans = [x for r in roots for x in subtree(r)]
    wall = dur(roots)
    run_s = _sum_spark(op_spans, "exec_run_s")
    rows_read = _sum_spark(op_spans, "input_records")
    pyw = sum(r["pyworker_cpu_s"] for r in roots)
    m = {
        "job.parse_s": dur(named("job.parse")) / n,
        "job.plan_s": dur(named("job.plan")) / n,
        "job.run_self_s": sum(selfs[s["id"]] for s in named("job.run")) / n,
        "transforms.apply_s": dur(named("transforms.apply")) / n,
        "transforms.calls": len(named("transforms.apply")) / n,
        "sources.read_s": dur(named("sources.read")) / n,
        "sources.rows_read": rows_read / n,
        "sources.read_amplification":
            rows_read / max(sum(o["rows_in"] for o in ops), 1),
        "sinks.write_s": dur(named("sinks.write")) / n,
        "sinks.rows_out": _sum_spark(trees("sinks.write"), "output_records") / n,
        "sinks.bytes_out": _sum_spark(trees("sinks.write"), "output_bytes") / n,
        "sinks.files_out": sum(s.get("files", 0)
                               for s in named("sinks.write")) / n,
        "dataops.op_s": dur(named("dataops.op")) / n,
        "dataops.spark_jobs": _sum_spark(trees("dataops.op"), "jobs") / n,
        "dataops.persisted_rdds_after":
            sum(o["persisted_rdds_after"] for o in ops) / n,
        "spark.jobs": _sum_spark(op_spans, "jobs") / n,
        "spark.stages": _sum_spark(op_spans, "stages") / n,
        "spark.tasks": _sum_spark(op_spans, "tasks") / n,
        "spark.exec_run_s": run_s / n,
        "spark.exec_cpu_s": _sum_spark(op_spans, "exec_cpu_s") / n,
        "spark.gc_s": _sum_spark(op_spans, "gc_s") / n,
        "spark.shuffle_read_bytes": _sum_spark(op_spans, "shuffle_read_bytes") / n,
        "spark.shuffle_write_bytes":
            _sum_spark(op_spans, "shuffle_write_bytes") / n,
        "spark.spill_bytes": _sum_spark(op_spans, "spill_bytes") / n,
        "spark.busy_share": run_s / (wall * cores),
        "spark.driver_gap_s": (wall - run_s / cores) / n,
        "pyworker.cpu_s": pyw / n,
        "pyworker.share": pyw / run_s if run_s else 0.0,
    }
    self_time = {layer: 0.0 for layer in SELF_LAYERS}
    for s in op_spans:
        layer = s["name"].split(".")[0]
        self_time[layer] = self_time.get(layer, 0.0) + selfs[s["id"]] / n
    return m, self_time


def per_op_name(spans: list[dict], ops: list[dict]) -> dict[str, dict]:
    """Wall seconds and Spark jobs per op, by op name (the per-query
    view of the dataops layer)."""
    by_id = {s["id"]: s for s in spans}
    subtree = _subtree_of(spans)
    out: dict[str, dict] = {}
    for o in ops:
        root = by_id[o["span"]]
        row = out.setdefault(o["name"], {"n": 0, "wall_s": 0.0, "jobs": 0})
        row["n"] += 1
        row["wall_s"] += root["end"] - root["start"]
        row["jobs"] += _sum_spark(subtree(root), "jobs")
    for row in out.values():
        row["wall_s"] /= row["n"]
        row["jobs"] /= row["n"]
    return out
