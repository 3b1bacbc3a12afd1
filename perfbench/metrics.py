"""Turn a measured phase (and, in the traced run, its spans and counters)
into the named metrics of BENCHMARK.json. Each metric is (value, unit)."""

from __future__ import annotations

import statistics

from perfbench.harness import Measured
from perfbench.stats import percentile
from perfbench.tracing import Tracer

# Statements that only stage a change or move a cursor; every other
# operation (SEARCH, COMMIT, a registry query) runs Spark over the data.
CONTROL_OPS = {"stage", "page_next", "page_prev", "cursor_close"}
LAYERS = ["client", "server", "aql", "engine", "warehouse", "catalog", "queries"]


def _med(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def end_to_end(m: Measured, setup_s: float) -> dict[str, tuple[float, str]]:
    lat = m.log.latencies_ms()
    return {
        "setup_s": (setup_s, "s"),
        "ops_per_s": (m.log.attempted / m.wall_s, "1/s"),
        "op_p50_ms": (percentile(lat, 50), "ms"),
        "op_p90_ms": (percentile(lat, 90), "ms"),
    }


def by_type(workload: str, m: Measured, peak_rss_mb: float) -> dict[str, tuple[float, str]]:
    """Per-operation-type figures, with sample counts, and memory. Not
    every type occurs in every workload; absent ones read 0."""
    log = m.log

    def pct(kind: str, q: float) -> float:
        lat = log.latencies_ms(kind)
        return percentile(lat, q) if lat else 0.0

    data = [op.latency_s * 1e3 for op in log.ops if op.kind not in CONTROL_OPS]

    out = {
        "failed_frac": (log.failed_frac(), "ratio"),
        "search_p50_ms": (pct("search", 50), "ms"),
        "search_p90_ms": (pct("search", 90), "ms"),
        "search_n": (len(log.latencies_ms("search")), "count"),
        "page_next_p50_ms": (pct("page_next", 50), "ms"),
        "page_next_n": (len(log.latencies_ms("page_next")), "count"),
        "commit_p50_ms": (pct("commit", 50), "ms"),
        "commit_p90_ms": (pct("commit", 90), "ms"),
        "commit_n": (len(log.latencies_ms("commit")), "count"),
        "stage_p50_ms": (pct("stage", 50), "ms"),
        "data_p50_ms": (percentile(data, 50), "ms"),
        "data_p90_ms": (percentile(data, 90), "ms"),
        "data_n": (len(data), "count"),
        "read_cycle_p50_s": (_med(m.extra.get("read_cycles", [])), "s"),
        "write_cycle_p50_s": (_med(m.extra.get("write_cycles", [])), "s"),
        "bytes_written_per_user_byte": (0.0, "ratio"),
        "pipeline_pass_s": (0.0, "s"),
        "op_n": (log.attempted, "count"),
        "peak_rss_mb": (peak_rss_mb, "MB"),
    }
    account = m.extra.get("account")
    if account is not None and account.user_bytes:
        out["bytes_written_per_user_byte"] = (account.ratio(), "ratio")
    if workload == "pipeline_batch":
        out["pipeline_pass_s"] = (_med(m.cycles_s), "s")
    return {f"client.{k}": v for k, v in out.items()}


def per_layer(ctx, tracer: Tracer, traced: Measured, plain: Measured,
              by_type_plain: dict, open_cursors: int) -> dict[str, tuple[float, str]]:
    c = ctx.counters
    spans = tracer.spans
    n_ops = max(1, traced.log.attempted)
    out: dict[str, tuple[float, str]] = {}

    # server: round trip as the client saw it, minus Engine.execute
    server = {s.parent: s for s in spans if s.name == "server.execute"}
    rtt, overhead = [], []
    for s in spans:
        if s.sid in server:
            d = s.end - s.start
            rtt.append(d * 1e3)
            e = server[s.sid]
            overhead.append((d - (e.end - e.start)) * 1e3)
    reqs = max(1.0, c["server.requests"])
    out["server.rtt_ms"] = (_med(rtt), "ms")
    out["server.overhead_ms"] = (_med(overhead), "ms")
    out["server.request_bytes"] = (c["server.request_bytes"] / reqs, "B")
    out["server.response_bytes"] = (c["server.response_bytes"] / reqs, "B")

    out["aql.parse_us"] = (_med(tracer.durations_ms("aql.parse")) * 1e3, "us")

    searches = list(ctx.searches)
    cached = sum(n for n, _ in searches)
    returned = sum(r for _, r in searches)
    out["engine.search_ms"] = (_med(tracer.durations_ms("engine.search")), "ms")
    out["engine.page_move_ms"] = (_med(tracer.durations_ms("engine.page_move")), "ms")
    out["engine.stage_ms"] = (_med(tracer.durations_ms("engine.stage")), "ms")
    out["engine.rows_ms"] = (_med(tracer.durations_ms("engine.rows")), "ms")
    out["engine.result_rows"] = (_med([n for n, _ in searches]), "rows")
    out["engine.rows_cached_per_row_returned"] = (cached / returned if returned else 0.0, "ratio")
    out["engine.open_cursors_at_end"] = (open_cursors, "count")

    commits = traced.extra.get("commits", [])
    out["warehouse.read_ms"] = (_med(tracer.durations_ms("warehouse.read")), "ms")
    out["warehouse.commit_ms"] = (_med(tracer.durations_ms("warehouse.commit")), "ms")
    out["warehouse.bytes_written"] = (sum(b for _, b, _ in commits), "B")
    out["warehouse.files_written"] = (sum(f for _, _, f in commits), "count")
    out["warehouse.staged_ops_per_commit"] = (
        statistics.mean(o for o, _, _ in commits) if commits else 0.0, "count")
    out["warehouse.snapshot_bytes"] = (_med([b for _, b, _ in commits]), "B")

    passes = len(traced.cycles_s) if ctx.workload == "pipeline_batch" else 1
    calls = len(tracer.durations_ms("catalog.load_tables"))
    out["catalog.load_tables_ms"] = (_med(tracer.durations_ms("catalog.load_tables")), "ms")
    out["catalog.load_tables_calls"] = (calls / passes, "count")
    out["catalog.spark_jobs"] = (c["catalog.jobs"] / calls if calls else 0.0, "count")

    out.update(_queries(traced))

    jobs = c["spark.jobs"] + c["catalog.jobs"]
    tasks = c["spark.tasks"] + c["catalog.tasks"]
    out["spark.jobs"] = (jobs / n_ops, "count")
    out["spark.stages"] = ((c["spark.stages"] + c["catalog.stages"]) / n_ops, "count")
    out["spark.tasks"] = (tasks / n_ops, "count")
    out["spark.failed_tasks"] = (c["spark.failed_tasks"] + c["catalog.failed_tasks"], "count")
    out["spark.tasks_per_job"] = (tasks / jobs if jobs else 0.0, "count")

    out["session.start_s"] = (ctx.session_start_s, "s")

    self_ms = tracer.self_time_ms()
    for layer in LAYERS:
        out[f"self.{layer}_ms"] = (self_ms.get(layer, 0.0) / n_ops, "ms")

    p50_plain = percentile(plain.log.latencies_ms(), 50)
    p50_traced = percentile(traced.log.latencies_ms(), 50)
    out["trace.overhead_ms"] = (p50_traced - p50_plain, "ms")
    out["trace.overhead_frac"] = ((p50_traced - p50_plain) / p50_plain, "ratio")
    out.update(by_type_plain)
    return out


def _queries(m: Measured) -> dict[str, tuple[float, str]]:
    """Per query and per group: median plan and exec time over passes.
    Every name of the pipeline list is reported on every workload."""
    from perfbench.pipeline import GROUPS, QUERIES

    timings = m.extra.get("timings", {})
    out: dict[str, tuple[float, str]] = {}
    groups = {g: [0.0, 0.0] for g in GROUPS}
    for group, name in QUERIES:
        t = timings.get(name, [])
        plan, exe = _med([p for p, _ in t]) * 1e3, _med([e for _, e in t]) * 1e3
        out[f"queries.{name}.plan_ms"] = (plan, "ms")
        out[f"queries.{name}.exec_ms"] = (exe, "ms")
        groups[group][0] += plan
        groups[group][1] += exe
    for g, (plan, exe) in groups.items():
        out[f"queries.{g}.plan_ms"] = (plan, "ms")
        out[f"queries.{g}.exec_ms"] = (exe, "ms")
    out["queries.plan_ms"] = (sum(p for p, _ in groups.values()), "ms")
    out["queries.exec_ms"] = (sum(e for _, e in groups.values()), "ms")
    return out


def print_table(metrics: dict[str, tuple[float, str]]) -> None:
    width = max(len(k) for k in metrics)
    for k, (v, u) in metrics.items():
        print(f"{k:<{width}}  {v:>14.4f}  {u}")
