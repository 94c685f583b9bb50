"""Per-layer metrics of a traced run, folded from its spans.

A metric is named ``<span name>.<field>``.  Span fields sum over every
span of that name in the timed loop and are reported per iteration:

- ``wall_s``: span wall time, child spans included;
- ``self_s``: wall time not covered by child spans (op spans);
- ``jobs``, ``task_s``, ``jvm_cpu_s``, ``gc_s``, ``shuffle_write_bytes``,
  ``spill_bytes``: status-store counters of the span and its children;
  ``task_s`` is executor run time, ``jvm_cpu_s`` executor JVM CPU time,
  so their difference is time a task spent off the JVM CPU (Python
  workers, Arrow transfer, I/O waits);
- ``idle_core_s``: wall × cores − task_s;
- ``rows_in``, ``rows_out``, ``files_written``, ``bytes_written``: counts
  taken by the wrappers;
- ``dirty_frac``: dirty partitions ÷ fingerprinted partitions.

A layer the workload does not call reads 0.
"""

from __future__ import annotations

import json
import os
import statistics

from spans import COUNTERS, inclusive, self_seconds

BENCHMARK = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                         "BENCHMARK.json")


def per_layer_metrics() -> list[tuple[str, str]]:
    """(name, unit) of every per-layer metric, as BENCHMARK.json lists them."""
    with open(BENCHMARK) as f:
        return [(m["name"], m["unit"]) for m in json.load(f)["per_layer"]]


def span_field(spans, cores: int, name: str, field: str) -> float:
    """Sum of one field over all spans called `name`."""
    mine = [s for s in spans.values() if s.name == name]
    if field == "dirty_frac":
        n_in = sum(s.extra.get("rows_in", 0.0) for s in mine)
        return sum(s.extra.get("rows_out", 0.0) for s in mine) / n_in if n_in else 0.0
    total = 0.0
    for s in mine:
        if field == "wall_s":
            total += s.wall
        elif field == "self_s":
            total += self_seconds(s, spans)
        elif field == "idle_core_s":
            total += s.wall * cores - inclusive(s, spans)["task_s"]
        elif field in COUNTERS:
            total += inclusive(s, spans)[field]
        else:
            total += s.extra.get(field, 0.0)
    return total


def per_layer(w, tracer, iterations: int, session_s: float, input_gen_s: float,
              rss_mb: float) -> dict[str, dict]:
    fixed = {
        "trace.op_s": statistics.median(w.samples["op"]),
        "trace.noop_s": statistics.median(w.samples["noop"]),
        "session.get_spark.wall_s": session_s,
        "setup.input_gen.wall_s": input_gen_s,
        "session.jvm_peak_rss_mb": rss_mb,
    }
    out = {}
    for metric, unit in per_layer_metrics():
        if metric in fixed:
            value = fixed[metric]
        else:
            name, field = metric.rsplit(".", 1)
            value = span_field(tracer.spans, tracer.cores, name, field)
            if field != "dirty_frac":
                value /= iterations
        out[metric] = {"value": value, "unit": unit}
    return out
