"""What every workload shares: the Spark session, the measured loop, the
correctness ledger and the per-layer roll-up of a traced run."""

from __future__ import annotations

import os
import time
import traceback
from collections import Counter, defaultdict
from dataclasses import dataclass, field

from perfbench import common
from perfbench.metrics import EVENT_LAYERS, EVENT_UNITS, PER_LAYER
from perfbench.tracing import Tracer


def start_session(env: common.RunEnv, trace: bool):
    """``local[nproc]`` session through the program's own factory."""
    from nametag3_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        master=f"local[{common.CORES}]",
        shuffle_partitions=common.CORES,
        extra_conf=common.spark_conf(env, trace),
    )


def stop_session(spark) -> None:
    """Stop Spark, then end the gateway JVM (and with it the Python
    workers) and wait until no child process is left."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=20)
        except Exception:
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.time() + 20
    while common.descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)


@dataclass
class Ctx:
    spark: object
    env: common.RunEnv
    seed: int
    seconds: float
    trace: bool
    tracer: Tracer
    session_s: float
    setup_walls: list[float] = field(default_factory=list)
    walls: dict[str, list[float]] = field(default_factory=lambda: defaultdict(list))
    cpus: dict[str, list[float]] = field(default_factory=lambda: defaultdict(list))
    probe_walls: dict[str, list[float]] = field(default_factory=lambda: defaultdict(list))
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    report: dict[str, tuple[float, str]] = field(default_factory=dict)
    phases: dict[str, float] = field(default_factory=dict)
    folded: dict[int, dict[str, float]] = field(default_factory=dict)  # event log per span

    def mark(self, phase: str) -> None:
        """Record when a phase of the run ended (seconds since start)."""
        self.phases[phase] = time.perf_counter() - common.STARTED

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        if not ok:
            self.failures.append(f"{name}: {detail}")

    def setup(self, fn):
        """One timed set-up repetition; returns ``fn``'s result."""
        with self.tracer.op_span("setup"):
            t0 = time.perf_counter()
            out = fn()
            self.setup_walls.append(time.perf_counter() - t0)
        return out

    def op(self, kind: str, fn, mode: str = "measure"):
        """Run one op and return ``fn``'s result (None if it raised).

        ``mode``: ``measure`` (wall and CPU time recorded; traced in a
        trace run), ``warmup`` (untraced; wall and CPU time kept apart),
        or the tracing-overhead pair ``untraced`` / ``traced``, kept out
        of the reported figures and layers. An op's CPU time is that of
        the processes below this one plus the calling thread's. Every op
        is checked, and one that raises counts as failed."""
        traced = mode == "traced" or (mode == "measure" and self.trace)
        was = self.tracer.enabled
        self.tracer.enabled = traced
        self.attempted += 1
        try:
            with self.tracer.op_span(kind, probe=mode != "measure"):
                c0 = common.children_cpu_seconds()
                t0, th0 = time.perf_counter(), time.thread_time()
                out = fn()
                wall, th = time.perf_counter() - t0, time.thread_time() - th0
                cpu = common.children_cpu_seconds() - c0 + th
        except Exception:  # an op failure is a measured outcome
            self.failed += 1
            self.failures.append(f"op {kind} raised:\n{traceback.format_exc()}")
            return None
        finally:
            self.tracer.enabled = was
        if mode == "measure":
            self.walls[kind].append(wall)
            self.cpus[kind].append(cpu)
        elif mode == "warmup":
            self.walls[f"{kind}.warmup"].append(wall)
            self.cpus[f"{kind}.warmup"].append(cpu)
        else:
            self.probe_walls[mode].append(wall)
        return out

    def window(self, step, min_steps: int = 1) -> None:
        """Call ``step(i)`` until ``seconds`` have passed and at least
        ``min_steps`` calls were made."""
        t0 = time.perf_counter()
        i = 0
        while i < min_steps or time.perf_counter() - t0 < self.seconds:
            step(i)
            i += 1

    def overhead_probe(self, steps: list) -> None:
        """Tracing-overhead pairs (trace runs only): each ``step(mode)``
        runs once untraced and once traced, the order flipping from pair
        to pair so JVM warm-up does not favour one side of several pairs."""
        if not self.trace:
            return
        for k, step in enumerate(steps):
            for mode in (("untraced", "traced") if k % 2 == 0 else ("traced", "untraced")):
                step(mode)


def layer_rollup(ctx: Ctx, divisor_kind: dict[str, str], default_kind: str):
    """Per-layer busy (self) time and event-log folds, per measured op.

    A layer's numbers are summed over the spans of measured ops and
    divided by the count of ops of the kind that runs the layer
    (``divisor_kind``, else ``default_kind``). Also returns the self time
    summed per (op kind, span name) and the op count per kind."""
    tracer, folded = ctx.tracer, ctx.folded
    selfs = tracer.self_times()
    roots = {s.op: s for s in tracer.spans if s.layer == "op" and not s.attrs.get("probe")}
    n_kind = Counter(r.name[3:] for r in roots.values())

    def per(layer: str, total: float) -> float:
        n = n_kind[divisor_kind.get(layer, default_kind)]
        return total / n if n else 0.0

    busy: dict[str, float] = defaultdict(float)
    by_name: dict[tuple[str, str], float] = defaultdict(float)
    events: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(EVENT_UNITS, 0.0))
    for s in tracer.spans:
        root = roots.get(s.op)
        if root is None or s is root:
            continue
        busy[s.layer] += selfs[s.id]
        by_name[(root.name[3:], s.name)] += selfs[s.id]
        for k, v in folded[s.id].items():
            events[s.layer][k] += v
    out = {f"{layer}.s": per(layer, busy[layer]) for layer in
           ("validate", "infer", "mentions", "linking", "canonicalize", "emit")}
    for layer in EVENT_LAYERS:
        for k in EVENT_UNITS:
            out[f"{layer}.{k}"] = per(layer, events[layer][k])
    # the op the end-to-end op_cpu_s measures: build, SPARQL query, link op
    ops = [r for r in roots.values() if r.name == f"op.{default_kind}"]
    out["op.s"] = sum(r.wall for r in ops) / len(ops) if ops else 0.0
    out["op.self_s"] = sum(selfs[r.id] for r in ops) / len(ops) if ops else 0.0
    return out, by_name, n_kind


def overhead_ms(ctx: Ctx) -> float:
    """Traced minus untraced wall per op, over the probe pairs."""
    traced, untraced = ctx.probe_walls["traced"], ctx.probe_walls["untraced"]
    return 1e3 * (sum(traced) - sum(untraced)) / len(traced)


def not_called(*layers: str) -> dict[str, float]:
    """Zero for the named per-layer metrics of layers a workload never
    calls (their event-log folds come from ``layer_rollup``)."""
    return {
        name: 0.0 for name in PER_LAYER
        if name.split(".")[0] in layers and name.split(".", 1)[1] not in EVENT_UNITS
    }
