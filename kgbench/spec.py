"""Metric names, units and directions -- the single source for the result
line and for ``BENCHMARK.json`` (``python3 kgbench/spec.py`` prints the
metric lists; the workloads and run settings are written by hand)."""

from __future__ import annotations

import json

# name, unit, better, bound (share of the parent's median)
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("run_s", "s", "lower", 0.25),
    ("triples_per_s", "1/s", "higher", 0.25),
    ("spark_jobs", "count", "lower", 0.05),
    ("shuffle_mb", "MB", "lower", 0.1),
    ("written_mb", "MB", "lower", 0.1),
    ("triple_precision", "ratio", "higher", 0.02),
    ("triple_recall", "ratio", "higher", 0.02),
]

STAGE_LAYERS = ["ingest", "extract", "link", "canonicalize", "materialize"]

# per stage layer; every span's Spark counters come from the status store
STAGE_METRICS = [
    ("wall_s", "s", "lower"),
    ("self_s", "s", "lower"),
    ("jobs", "count", "lower"),
    ("stages", "count", "lower"),
    ("tasks", "count", "lower"),
    ("exec_ms", "ms", "lower"),
    ("shuffle_write_mb", "MB", "lower"),
    ("shuffle_read_mb", "MB", "lower"),
    ("spill_mb", "MB", "lower"),
    ("input_mb", "MB", "lower"),
    ("output_mb", "MB", "lower"),
    ("busy_share", "ratio", "higher"),
]

OTHER_LAYER_METRICS = [
    ("tables.write_s", "s", "lower"),
    ("tables.writes", "count", "lower"),
    ("tables.promote_s", "s", "lower"),
    ("tables.promotes", "count", "lower"),
    ("tables.overwrite_s", "s", "lower"),
    ("tables.overwrites", "count", "lower"),
    ("session.start_s", "s", "lower"),
    ("session.warmup_s", "s", "lower"),
    ("session.jvm_peak_rss_mb", "MB", "lower"),
    # domain counters, read from the pipeline after the traced run
    ("ingest.valid", "count", "higher"),
    ("ingest.rejected", "count", "lower"),
    ("extract.assertions", "count", "higher"),
    ("link.vocab", "count", "higher"),
    ("link.edges", "count", "higher"),
    ("link.hot_buckets_dropped", "count", "lower"),
    ("canonicalize.entities", "count", "higher"),
    ("canonicalize.stale_surfaces", "count", "lower"),
    ("materialize.triples", "count", "higher"),
    ("materialize.nodes", "count", "higher"),
    # traced run_s minus untraced run_s, and the job counts of both
    ("trace.overhead_s", "s", "lower"),
    ("trace.traced_run_s", "s", "lower"),
    ("trace.untraced_run_s", "s", "lower"),
    ("trace.traced_jobs", "count", "lower"),
    ("trace.untraced_jobs", "count", "lower"),
]

PER_LAYER = [
    (f"{layer}.{name}", unit, better)
    for layer in STAGE_LAYERS
    for name, unit, better in STAGE_METRICS
] + OTHER_LAYER_METRICS

UNITS = {name: unit for name, unit, *_ in END_TO_END + PER_LAYER}


def benchmark_lists() -> dict:
    return {
        "end_to_end": [
            {"name": n, "unit": u, "better": b, "bound": bound}
            for n, u, b, bound in END_TO_END
        ],
        "per_layer": [{"name": n, "unit": u, "better": b} for n, u, b in PER_LAYER],
    }


if __name__ == "__main__":
    print(json.dumps(benchmark_lists(), indent=2))
