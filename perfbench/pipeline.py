"""``pipeline_batch``: one closed-loop caller running passes over a fixed
list of registry queries (``tytodb_spark.queries.REGISTRY``) at sf0.1.

Each query is timed as the planning call (``bench_fn or fn``, which for
these queries loads the catalog and builds the plan) and, separately,
the ``count()`` action. Once per run, before the timed passes, every
query's ``fn`` result is hash-compared with its DuckDB ``oracle``.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import math
import time

from perfbench.harness import Context, Measured
from perfbench.stats import OpLog

# (group, query): one query per group of the LLM-pipeline surface; see
# perfbench/README.md for the queries left out and why.
QUERIES = [
    ("relational", "q22_multiway_join"),
    ("dedup", "q40_exact_dedup"),
    ("similarity", "q49_ann_srp"),
    ("streaming", "q67_stream_dedup"),
]
GROUPS = list(dict.fromkeys(g for g, _ in QUERIES))
# ``--seconds`` sets the number of whole passes, one per PASS_S asked; a
# warm pass takes about 8 s at local[4] on the 4-core VM.
PASS_S = 7.5


def _norm(v):
    """Engine-neutral value: doubles compared at 9 decimals, the same
    tolerance the repository's oracle gate uses."""
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 9)
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    return v


def result_hash(rows: list[dict]) -> str:
    """Order-insensitive hash of a result: columns sorted by name, rows
    sorted, values normalized."""
    if not rows:
        return hashlib.sha256(b"").hexdigest()
    cols = sorted(rows[0])
    canon = sorted(repr(tuple(_norm(r[c]) for c in cols)) for r in rows)
    head = repr(cols).encode()
    return hashlib.sha256(head + "\n".join(canon).encode()).hexdigest()


class PipelineBatch:
    name = "pipeline_batch"

    def setup(self, ctx: Context, traced: bool) -> None:
        from perfbench import datagen

        self.ctx = ctx
        datagen.write_tables(ctx.data_dir, ctx.seed)
        self.expected_rows = self._check_against_oracles()
        # The first pass after the check still runs ~20% slow (JIT, Python
        # workers); one untimed pass brings later passes within ~5%.
        self.warm_failures = self.measure(PASS_S).log.failures()

    def _check_against_oracles(self) -> dict[str, int]:
        """Run every query's ``fn`` once, outside any timed region, and
        compare its result with the DuckDB oracle over the same parquet.
        Doubles as the warm-up pass."""
        import duckdb

        from tytodb_spark.catalog import TABLES
        from tytodb_spark.queries import REGISTRY
        from tytodb_spark.session import checkpoint_scope

        con = duckdb.connect()
        con.execute(f"SET temp_directory='{self.ctx.run_dir}/tmp'")
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.ctx.data_dir}/{t}.parquet')")
        self.check_failures: dict[str, str] = {}
        counts = {}
        for _, name in QUERIES:
            q = REGISTRY[name]
            with checkpoint_scope(self.ctx.spark):
                rows = [r.asDict(recursive=True) for r in q.fn(self.ctx.spark, self.ctx.data_dir).collect()]
            counts[name] = len(rows)
            rel = con.sql(q.oracle)
            cols = [d[0] for d in rel.description]
            want = [dict(zip(cols, r)) for r in rel.fetchall()]
            if len(rows) != len(want) or result_hash(rows) != result_hash(want):
                self.check_failures[name] = f"{len(rows)} rows vs oracle {len(want)}, hashes differ"
        con.close()
        return counts

    def measure(self, seconds: float) -> Measured:
        """Whole passes over QUERIES; the same work for every seed."""
        from tytodb_spark.queries import REGISTRY
        from tytodb_spark.session import checkpoint_scope

        ctx, tracer = self.ctx, self.ctx.tracer
        spark = ctx.spark
        log = OpLog()
        passes: list[float] = []
        timings: dict[str, list[tuple[float, float]]] = {n: [] for _, n in QUERIES}
        t_begin = time.perf_counter()
        for _ in range(max(1, int(seconds // PASS_S))):
            t_pass = time.perf_counter()
            for group, name in QUERIES:
                q = REGISTRY[name]
                fn = q.bench_fn or q.fn
                op_id = f"{name}-{next(ctx.op_ids)}"
                if tracer.enabled:
                    ctx.set_job_group(op_id)
                detail, n = "", -1
                with checkpoint_scope(spark):
                    with tracer.span(f"client.{group}", op=op_id):
                        t0 = time.perf_counter()
                        try:
                            with tracer.span(f"queries.{name}.plan"):
                                df = fn(spark, ctx.data_dir)
                            t1 = time.perf_counter()
                            with tracer.span(f"queries.{name}.exec"):
                                n = df.count()
                        except Exception as e:  # a failing query is a failed op, not a crash
                            detail = f"{type(e).__name__}: {str(e)[:200]}"
                            t1 = time.perf_counter()
                        t2 = time.perf_counter()
                ok = not detail
                if ok and q.bench_fn is None and n != self.expected_rows[name]:
                    ok, detail = False, f"count {n} != checked result {self.expected_rows[name]}"
                if name in self.check_failures:
                    ok, detail = False, self.check_failures[name]
                log.record(name, t2 - t0, ok, detail)
                timings[name].append((t1 - t0, t2 - t1))
                if tracer.enabled:
                    ctx.set_job_group(None)
                    ctx.count_jobs(op_id)
                    ctx.count_jobs(op_id + ":catalog", prefix="catalog")
            passes.append(time.perf_counter() - t_pass)
        return Measured(log, time.perf_counter() - t_begin, passes, {"timings": timings})

    def check(self, m: Measured) -> None:
        pass  # outputs are checked once in setup and counted in measure()

    def open_cursors(self) -> int:
        return 0  # no engine in this workload

    def close(self) -> None:
        pass


def trace_catalog(ctx: Context) -> None:
    """Traced phase: wrap ``catalog.load_tables`` (and the name the query
    module imported it under) in a span whose Spark jobs go to their own
    job group, so catalog jobs are counted apart from the query's."""
    from tytodb_spark import catalog, queries

    original = catalog.load_tables

    def load_tables(spark, sf_dir):
        tracer = ctx.tracer
        if not tracer.enabled:
            return original(spark, sf_dir)
        outer = tracer.current()
        op = outer.op if outer else ""
        ctx.set_job_group(op + ":catalog")
        try:
            with tracer.span("catalog.load_tables"):
                return original(spark, sf_dir)
        finally:
            ctx.set_job_group(op)

    catalog.load_tables = load_tables
    queries.load_tables = load_tables
