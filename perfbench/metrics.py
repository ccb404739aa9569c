"""Metric names and units the benchmark emits; ``BENCHMARK.json`` must
declare exactly these (the benchmark's own tests check it)."""

from __future__ import annotations

# name → unit. Every workload reports every metric; what an "op" and an
# "item" are depends on the workload (see README.md). Ops are measured in
# CPU seconds, not wall seconds: on a shared host the wall time of the
# same op moves with the neighbours' load, its CPU time much less.
END_TO_END = {
    "setup_s": "s",
    "op_cpu_s": "s",
    "items_per_cpu_s": "1/s",
}

# layers whose Spark jobs are tagged with their spans and folded from
# the event log
EVENT_LAYERS = [
    "validate", "infer", "mentions", "linking", "canonicalize", "emit",
    "store", "triplestore", "sparql", "serving",
]
EVENT_UNITS = {
    "executor_cpu_s": "s", "executor_run_s": "s", "gc_s": "s",
    "shuffle_read_bytes": "bytes", "shuffle_write_bytes": "bytes",
    "spill_bytes": "bytes", "tasks": "count", "driver_s": "s",
}

PER_LAYER = {
    "session.start_s": "s",
    "validate.s": "s", "validate.rows_rejected": "count",
    "infer.s": "s", "infer.turns": "count",
    "mentions.s": "s", "mentions.rows_out": "count",
    "linking.s": "s", "linking.exact": "count", "linking.lsh": "count",
    "linking.unlinked": "count", "linking.lsh_hit_ratio": "ratio",
    "canonicalize.s": "s", "canonicalize.edges": "count",
    "canonicalize.components": "count",
    "emit.s": "s", "emit.triples_out": "count",
    "store.write_s": "s", "store.bytes_written": "bytes",
    "store.files_written": "count",
    "store.resume_check_s": "s", "store.stages_skipped": "count",
    "triplestore.write_s": "s",
    "sparql.parse_ms": "ms", "sparql.compile_ms": "ms", "sparql.plan_ms": "ms",
    "sparql.exec_ms": "ms", "sparql.rows_out": "count",
    "serving.build_ms": "ms", "serving.plan_ms": "ms", "serving.exec_ms": "ms",
    "serving.requests": "count", "serving.errors": "count",
    "op.s": "s", "op.self_s": "s", "trace.overhead_ms": "ms",
    "env.steal_s": "s", "env.peak_rss_mb": "MB",
    **{f"{layer}.{k}": u for layer in EVENT_LAYERS for k, u in EVENT_UNITS.items()},
}

# metrics where a larger value is the better outcome
HIGHER_IS_BETTER = {
    "items_per_cpu_s", "infer.turns", "mentions.rows_out", "linking.exact", "linking.lsh",
    "linking.lsh_hit_ratio", "emit.triples_out", "store.stages_skipped",
    "sparql.rows_out", "serving.requests",
}


def result_line(correct: bool, attempted: int, failed: int, values: dict, units: dict) -> dict:
    """The final stdout object; refuses a metric set that is not ``units``."""
    if set(values) != set(units):
        missing, extra = set(units) - set(values), set(values) - set(units)
        raise ValueError(f"metric set mismatch: missing {sorted(missing)} extra {sorted(extra)}")
    return {
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": float(values[k]), "unit": units[k]} for k in units},
    }
