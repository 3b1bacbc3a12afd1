"""Benchmark entry point: one workload per invocation.

    python3 perfbench/run.py --workload aql_mixed --seed 1 --seconds 20 --trace 0

Run from the repository root. Each invocation is a fresh Python process
with its own Spark JVM, scratch directory (deleted at the end) and
warehouse. It prints a table of every metric with its unit and, as the
last line, one JSON object: ``--trace 0`` reports the end-to-end metrics
of BENCHMARK.json; ``--trace 1`` runs the same measured phase untraced
and then traced, and reports the per-layer metrics of the traced phase
plus the tracing overhead. Spans of the traced phase are written to
``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _parse(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["aql_mixed", "pipeline_batch"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def _terminate(signum, frame):
    raise SystemExit(128 + signum)  # unwind, so the run directory is removed


def main(argv: list[str]) -> int:
    t_start = time.perf_counter()
    signal.signal(signal.SIGTERM, _terminate)
    args = _parse(argv)
    if not os.path.isfile(os.path.join(ROOT, "tytodb_spark", "engine.py")):
        print(f"perfbench: no tytodb_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT]

    from perfbench.harness import Context

    ctx = Context(ROOT, args.workload, args.seed)
    try:
        ctx.confine_scratch()
        return _run(ctx, args, t_start)
    finally:
        ctx.close()


def _workload(name: str):
    if name == "pipeline_batch":
        from perfbench.pipeline import PipelineBatch

        return PipelineBatch()
    from perfbench.aql import AqlMixed

    return AqlMixed()


def _run(ctx, args, t_start: float) -> int:
    from perfbench import metrics
    from perfbench.tracing import NullTracer, Tracer
    from tytodb_spark.session import persistent_rdd_ids

    wl = _workload(args.workload)
    ctx.start_session()
    if args.trace and args.workload == "pipeline_batch":
        from perfbench.pipeline import trace_catalog

        trace_catalog(ctx)
    wl.setup(ctx, traced=bool(args.trace))
    setup_s = time.perf_counter() - t_start

    phases = []
    plain = wl.measure(args.seconds)
    wl.check(plain)
    phases.append(plain)
    traced = None
    if args.trace:
        ctx.tracer = tracer = Tracer()
        ctx.searches.clear()
        traced = wl.measure(args.seconds)
        wl.check(traced)
        phases.append(traced)
        ctx.tracer = NullTracer()

    problems = list(getattr(wl, "warm_failures", []))
    open_cursors = wl.open_cursors()
    wl.close()
    if open_cursors:
        problems.append(f"{open_cursors} cursors still open at the end of the run")
    pinned = persistent_rdd_ids(ctx.spark)
    if pinned:
        problems.append(f"persistent RDDs left at the end of the run: {sorted(pinned)}")
    for m in phases:
        problems.extend(m.log.failures())

    e2e = metrics.end_to_end(plain, setup_s)
    by_type = metrics.by_type(args.workload, plain, ctx.peak_rss_mb())
    if traced is None:
        out = e2e
    else:
        out = metrics.per_layer(ctx, tracer, traced, plain, by_type, open_cursors)
        os.makedirs(os.path.join(ctx.root, ".perfbench_out"), exist_ok=True)
        tracer.write(os.path.join(
            ctx.root, ".perfbench_out", f"{args.workload}-{args.seed}-spans.jsonl"))

    metrics.print_table({**e2e, **by_type, **(out if traced else {})})
    for p in problems[:10]:
        print(f"FAILED: {p}")
    attempted = sum(m.log.attempted for m in phases)
    failed = sum(m.log.failed for m in phases)
    result = {
        "correct": not problems and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in out.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
