"""Metric catalogue: units, direction, and which end-to-end metric
each per-layer metric should move on which workload.

``BENCHMARK.json`` lists the same names; ``selftest.py`` checks that
the two agree.
"""

from __future__ import annotations

from perfbench.trace import Tracer, reduce_spans
from perfbench.workloads import QUERIES

END_TO_END = {
    # name: (unit, better)
    "setup_s": ("s", "lower"),
    "run_wall_s": ("s", "lower"),
    "batch_p50_s": ("s", "lower"),
    "peak_rss_mb": ("MB", "lower"),
    "op_ok_ratio": ("ratio", "higher"),
}

DH, CM = "daily_history", "catalog_mix"

# Engine functions traced, as (name the caller looks up, span name,
# counters taken from the return value). A name the engine no longer
# has fails the traced run.
WRAPS = (
    ("ulh_etl_spark.pipeline.run_practice", "pipeline.run_practice", None),
    ("ulh_etl_spark.pipeline.stage_precheck", "pipeline.stage_precheck", None),
    ("ulh_etl_spark.pipeline.precheck_file", "validate.precheck_file", None),
    ("ulh_etl_spark.validate.head_lines", "sources.files.probe", None),
    ("ulh_etl_spark.validate.count_lines", "sources.files.probe", None),
    ("ulh_etl_spark.validate.head_bytes", "sources.files.probe", None),
    ("ulh_etl_spark.pipeline.append_log", "sinks.logs.append_log", None),
    ("ulh_etl_spark.pipeline.stage_raw", "pipeline.stage_raw", lambda n: {"rows": n}),
    ("ulh_etl_spark.pipeline.stage_refined", "pipeline.stage_refined", lambda n: {"rows": n}),
    ("ulh_etl_spark.pipeline.stage_curated", "pipeline.stage_curated",
     lambda out: {"rows": out[0]}),
    ("ulh_etl_spark.pipeline.write_table", "sinks.tables.write_table", None),
    ("ulh_etl_spark.pipeline.insert_select", "sinks.tables.insert_select", None),
    ("ulh_etl_spark.pipeline.mark_consumed", "state.mark_consumed", None),
    ("ulh_etl_spark.pipeline.archive_files", "pipeline.archive_files", None),
    ("ulh_etl_spark.pipeline.move_file", "sources.files.move_file", None),
    ("ulh_etl_spark.sinks.entity.batch_upsert_http", "sinks.entity.batch_upsert_http",
     lambda r: {"batches": r.batches, "retried": r.retried, "failed": r.failed}),
    ("ulh_etl_spark.sinks.entity.entity_mirror_merge", "sinks.entity.entity_mirror_merge",
     None),
)

# (span name, fields, the end-to-end metric the fields should move, on
# which workloads). On every other workload the prediction is no
# change. A day's batch_p50_s contains its run_wall_s, so whatever
# moves run_wall_s moves batch_p50_s too. Metric names are
# "<span>.<field>"; the "pass" span's fields are named without it.
LAYERS = (
    ("pipeline.stage_precheck", ("s", "jobs"), "run_wall_s", (DH,)),
    ("validate.precheck_file", ("calls", "s"), "run_wall_s", (DH,)),
    ("sources.files.probe", ("s", "jobs"), "run_wall_s", (DH,)),
    ("sinks.logs.append_log", ("calls", "s", "jobs"), "run_wall_s", (DH,)),
    ("pipeline.stage_raw", ("s", "jobs", "input_rows"), "run_wall_s", (DH,)),
    ("pipeline.stage_refined", ("s", "jobs", "input_rows", "scan_per_row"), "run_wall_s", (DH,)),
    ("pipeline.stage_curated", ("s", "jobs", "input_rows", "scan_per_row", "self_s",
                                "shuffle_bytes"), "run_wall_s", (DH,)),
    ("sinks.tables.write_table", ("s",), "run_wall_s", (DH,)),
    ("sinks.tables.insert_select", ("s",), "run_wall_s", (DH,)),
    ("state.mark_consumed", ("calls", "s"), "run_wall_s", (DH,)),
    ("sinks.entity.batch_upsert_http", ("s", "batches", "retried", "failed"), "batch_p50_s",
     (DH,)),
    ("sinks.entity.entity_mirror_merge", ("s", "jobs", "input_rows"), "batch_p50_s", (DH,)),
    ("pipeline.archive_files", ("s",), "run_wall_s", (DH,)),
    ("sources.files.move_file", ("calls",), "run_wall_s", (DH,)),
    *((f"queries.{q}", ("s", "jobs", "shuffle_bytes", "spill_bytes"), "run_wall_s", (CM,))
      for q in QUERIES),
    ("cache.release_persisted", ("blocks",), "run_wall_s", (CM,)),
    # whole pass: Spark totals, pass time no span covers, trace cost
    ("spark", ("jobs", "tasks", "shuffle_bytes", "spill_bytes", "executor_run_s"),
     "run_wall_s", (DH, CM)),
    ("", ("unattributed_s",), "run_wall_s", (DH, CM)),
    ("trace", ("overhead_s",), "run_wall_s", (DH, CM)),
)


def unit(field: str) -> str:
    if field.endswith("_bytes"):
        return "B"
    if field == "s" or field.endswith("_s"):
        return "s"
    return {"input_rows": "rows", "scan_per_row": "ratio"}.get(field, "count")


PER_LAYER = {f"{span}.{f}".lstrip("."): (span, f, moves, workloads)
             for span, fields, moves, workloads in LAYERS for f in fields}
UNITS = {**{k: u for k, (u, _) in END_TO_END.items()},
         **{k: unit(v[1]) for k, v in PER_LAYER.items()}}


def install(tracer: Tracer) -> None:
    for target, name, counters in WRAPS:
        tracer.wrap(target, name, counters)


def per_layer(tracer: Tracer, passes: int, overhead_s: float) -> dict[str, float]:
    """Every per-layer metric, as a mean per traced pass."""
    by_name = reduce_spans(tracer)
    whole = by_name.get("pass", {})
    checks = by_name.get("check", {})  # output checks inside a pass
    out = {}
    for metric, (span, field, _, _) in PER_LAYER.items():
        agg = by_name.get(span, {})
        if span == "trace":
            out[metric] = overhead_s
        elif span == "":  # the pass span's self time
            out[metric] = whole.get("self_s", 0) / passes
        elif span == "spark":
            out[metric] = (whole.get(field, 0) - checks.get(field, 0)) / passes
        elif field == "scan_per_row":  # input rows per row written
            out[metric] = agg["input_rows"] / agg["rows"] if agg.get("rows") else 0.0
        else:
            out[metric] = agg.get(field, 0) / passes
    return out


def with_units(values: dict[str, float]) -> dict[str, dict]:
    return {k: {"value": v, "unit": UNITS[k]} for k, v in values.items()}


def benchmark_lists() -> tuple[list[dict], list[dict]]:
    """The ``end_to_end`` (without bounds) and ``per_layer`` entries
    of BENCHMARK.json."""
    e2e = [{"name": k, "unit": u, "better": b} for k, (u, b) in END_TO_END.items()]
    layers = [{"name": k, "unit": UNITS[k], "better": "lower"} for k in PER_LAYER]
    return e2e, layers
