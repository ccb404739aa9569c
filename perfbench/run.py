"""KG-construction benchmark: one workload per invocation.

    python3 perfbench/run.py --workload build|link|online --seed N \
        --seconds S --trace 0|1

Runs on ``local[nproc]`` from one driver process and one client thread.
Prints every end-to-end metric by name and unit (``--trace 0``) or every
per-layer metric (``--trace 1``), then, as the last line, one JSON object
``{"correct", "attempted", "failed", "metrics"}``. Exits non-zero when a
correctness check fails or the program cannot be imported. The full
report (per-op walls, checks, spans) goes to
``.perfbench_results/<workload>-seed<N>-trace<k>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

if __package__ in (None, ""):
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import common  # noqa: E402
from perfbench.metrics import END_TO_END, PER_LAYER, result_line  # noqa: E402

WORKLOADS = ("build", "link", "online")


def _run(args, env: common.RunEnv):
    import importlib

    from perfbench import harness
    from perfbench.tracing import Tracer, fold_event_log

    module = importlib.import_module(f"perfbench.wl_{args.workload}")
    steal0 = common.steal_seconds()
    t0 = time.perf_counter()
    spark = harness.start_session(env, bool(args.trace))
    ctx = harness.Ctx(
        spark=spark, env=env, seed=args.seed, seconds=args.seconds,
        trace=bool(args.trace), tracer=Tracer(spark, bool(args.trace)),
        session_s=time.perf_counter() - t0,
    )
    ctx.mark("session")
    try:
        e2e, finish = module.run(ctx)
    finally:
        ctx.mark("work")
        harness.stop_session(spark)
        ctx.mark("stopped")
    steal = common.steal_seconds() - steal0
    layers = {}
    if args.trace and finish is not None:
        # the event log is complete only once the session has stopped
        ctx.folded = fold_event_log(env.event_dir, ctx.tracer)
        layers = finish()
        layers["session.start_s"] = ctx.session_s
        layers["env.steal_s"] = steal
        layers["env.peak_rss_mb"] = ctx.report["peak_rss_mb"][0]
    ctx.report["steal_s"] = (steal, "s")
    return e2e, layers, ctx


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    try:
        import nametag3_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the program is not importable here: {exc}", file=sys.stderr)
        return 2

    env = common.pin_environment()
    try:
        e2e, layers, ctx = _run(args, env)
    finally:
        env.close()

    units = PER_LAYER if args.trace else END_TO_END
    values = layers if args.trace else e2e
    correct = not ctx.failures
    ctx.report["error_rate"] = (ctx.failed / ctx.attempted if ctx.attempted else 1.0, "ratio")
    for name, (value, unit) in sorted(ctx.report.items()):
        print(f"# {args.workload} {name} = {value:.6g} {unit}")
    for failure in ctx.failures:
        print(f"# FAILED {failure}")
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "walls_s": ctx.walls, "cpus_s": ctx.cpus, "setup_walls_s": ctx.setup_walls,
        "session_s": ctx.session_s, "probe_walls_s": ctx.probe_walls,
        "phases_s": {**ctx.phases, "end": time.perf_counter() - common.STARTED},
        "report": ctx.report, "failures": ctx.failures, "spans": ctx.tracer.records(),
    }
    out_dir = os.path.join(common.ROOT, ".perfbench_results")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as fh:
        json.dump(detail, fh, indent=1, default=str)
    if not correct or not values:
        return 1
    line = result_line(correct, ctx.attempted, ctx.failed, values, units)
    for name, m in line["metrics"].items():
        print(f"# {args.workload} {name} = {m['value']:.6g} {m['unit']}")
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
