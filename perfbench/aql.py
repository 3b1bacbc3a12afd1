"""The ``aql_mixed`` workload: closed-loop ``TytoClient`` sessions against
one ``TytoServer`` over loopback HTTP, with every request AES-GCM framed.

Readers — SEARCH + cursor paging over the external lineitem/orders
          tables; checked against a DuckDB model of the same parquet.
Writers — one container each: staged CREATE/EDIT/DELETE ROW, COMMIT,
          then a read-your-writes SEARCH and a page move; checked against
          each writer's own model of its container.
"""

from __future__ import annotations

import itertools
import json
import os
import re
import threading
import time
from dataclasses import dataclass, field

import numpy as np

from perfbench.harness import Context, Measured, dir_bytes
from perfbench.stats import Op, OpLog, WriteAccount
from perfbench.tracing import Span

PAGE_SIZE = 100  # rows per cursor page (the engine's PAGE_SIZE)
_MSG_ROWS = re.compile(r"^(\d+) rows, (\d+) pages$")
# Wire framing around the JSON body: session hash + nonce + GCM tag on
# requests, length prefix + nonce + tag on responses.
_REQ_FRAME = 32 + 12 + 16
_RESP_FRAME = 8 + 12 + 16


# --------------------------------------------------------------------------
# SEARCH statements and their DuckDB model
# --------------------------------------------------------------------------
def _lit(v: object) -> str:
    if isinstance(v, str):
        return f"'{v}'"
    return repr(v)


@dataclass
class SearchSpec:
    """One SEARCH, renderable as AQL and as the equivalent DuckDB SQL."""

    columns: list[str] | None
    sources: list["str | SearchSpec"]
    conds: list[tuple[str, str, object]] = field(default_factory=list)
    gates: list[str] = field(default_factory=list)

    def aql(self) -> str:
        cols = f"[{', '.join(self.columns)}] " if self.columns else ""
        srcs = [f"'{s}'" if isinstance(s, str) else f"({s.aql()})" for s in self.sources]
        on = srcs[0] if len(srcs) == 1 else f"[{', '.join(srcs)}]"
        where = ""
        if self.conds:
            parts = [" ".join(map(str, (c, op, _lit(v)))) for c, op, v in self.conds[:1]]
            for g, (c, op, v) in zip(self.gates, self.conds[1:]):
                parts.append(f"{g} {c} {op} {_lit(v)}")
            where = " WHERE " + " ".join(parts)
        return f"SEARCH {cols}ON {on}{where}"

    def sql(self) -> str:
        """AQL folds conditions left to right with no precedence, so the
        model parenthesizes every step."""
        srcs = [f"SELECT * FROM {s}" if isinstance(s, str) else s.sql() for s in self.sources]
        body = " UNION ALL BY NAME ".join(f"({s})" for s in srcs)
        where = ""
        if self.conds:
            acc = _sql_cond(self.conds[0])
            for g, c in zip(self.gates, self.conds[1:]):
                acc = f"({acc} {g} {_sql_cond(c)})"
            where = f" WHERE {acc}"
        cols = ", ".join(self.columns) if self.columns else "*"
        return f"SELECT {cols} FROM ({body}) AS src{where}"


def _sql_cond(c: tuple[str, str, object]) -> str:
    col, op, v = c  # the workloads use only =, >= and <, which SQL spells alike
    return f"{col} {op} {_lit(v)}"


_LI_KEY = "l_orderkey"
_ORDERS = 150_000


def read_statement(kind: str, size: int, rng: np.random.Generator) -> SearchSpec:
    """A SEARCH of the given class. ``size`` fixes how many rows it
    matches (a key-range width); the seed only moves where the range
    starts, so every seed asks for the same amount of work. Projections
    leave out the timestamp columns: the server's JSON encoder rejects
    datetime values, so a SEARCH returning them fails on the wire."""
    if kind == "point":  # one order's lines (~4 rows)
        k = int(rng.integers(0, _ORDERS))
        return SearchSpec(
            ["l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_returnflag"],
            ["lineitem"], [(_LI_KEY, "=", k)])
    if kind == "customer":  # one customer's orders (~10 rows)
        c = int(rng.integers(0, 15_000))
        return SearchSpec(
            ["o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"],
            ["orders"], [("o_custkey", "=", c)])
    if kind in ("narrow", "broad"):  # ~4 lineitem rows per order key
        a = int(rng.integers(0, _ORDERS - size))
        cols = (["l_orderkey", "l_partkey", "l_quantity", "l_discount"] if kind == "narrow"
                else ["l_orderkey", "l_partkey", "l_extendedprice"])
        return SearchSpec(cols, ["lineitem"], [(_LI_KEY, ">=", a), (_LI_KEY, "<", a + size)],
                          ["AND"])
    if kind == "fold":  # (a OR b) AND c under the left fold, ~400 rows
        s1, s2 = (int(x) for x in rng.choice(1000, 2, replace=False))
        return SearchSpec(
            ["l_orderkey", "l_suppkey", "l_tax", "l_linestatus"], ["lineitem"],
            [("l_suppkey", "=", s1), ("l_suppkey", "=", s2), ("l_returnflag", "=", "R")],
            ["OR", "AND"])
    if kind == "multi":  # two sources: orders plus a SUB-SEARCH of it
        a = int(rng.integers(0, 15_000 - size))
        sub = SearchSpec(None, ["orders"], [("o_orderstatus", "=", "P")])
        return SearchSpec(
            ["o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"], ["orders", sub],
            [("o_custkey", ">=", a), ("o_custkey", "<", a + size)], ["AND"])
    if kind == "sub":  # a SUB-SEARCH source with its own projection
        a = int(rng.integers(0, _ORDERS - size))
        cols = ["l_orderkey", "l_quantity", "l_extendedprice", "l_discount"]
        sub = SearchSpec(cols, ["lineitem"], [("l_discount", ">=", 0.05)])
        return SearchSpec(cols[:3], [sub], [(_LI_KEY, ">=", a), (_LI_KEY, "<", a + size)],
                          ["AND"])
    raise ValueError(kind)


# The read mix: (class, size, QYCNNXT count) in a fixed order that each
# client walks round-robin from its own starting point. Result sizes run
# from ~4 rows to ~500k (broad: 25k-125k order keys x ~4 lines).
READ_MIX = [
    ("point", 0, 0), ("narrow", 250, 1), ("broad", 25_000, 2), ("customer", 0, 0),
    ("fold", 0, 1), ("sub", 20_000, 3), ("narrow", 1_000, 2), ("multi", 1_500, 1),
    ("point", 0, 1), ("broad", 125_000, 3), ("narrow", 500, 0), ("customer", 0, 2),
    ("multi", 500, 0), ("broad", 62_500, 1), ("fold", 0, 3), ("sub", 5_000, 2),
]


def read_schedule(rng: np.random.Generator, start: int):
    for i in itertools.count(start):
        kind, size, n_next = READ_MIX[i % len(READ_MIX)]
        yield read_statement(kind, size, rng), n_next


# --------------------------------------------------------------------------
# Client side
# --------------------------------------------------------------------------
class Inflight:
    """Traced run only: lets the server-side span of a request find the
    client span (and operation id) that sent it."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._open: dict[str, tuple[str, Span]] = {}

    def register(self, op_id: str, command: str, span: Span) -> None:
        with self._lock:
            self._open[op_id] = (command, span)

    def claim(self, command: str) -> tuple[str, Span | None]:
        with self._lock:
            for op_id, (cmd, span) in self._open.items():
                if cmd == command:
                    del self._open[op_id]
                    return op_id, span
        return "", None


class Session:
    """One closed-loop client: sends a request, waits for the answer."""

    def __init__(self, ctx: Context, client, name: str, log: OpLog, inflight: Inflight | None):
        self.ctx = ctx
        self.client = client
        self.name = name
        self.log = log
        self.inflight = inflight

    def call(self, kind: str, command: str) -> tuple[dict | None, Op]:
        tracer = self.ctx.tracer
        op_id = f"{self.name}-{next(self.ctx.op_ids)}"
        resp = None
        detail = ""
        with tracer.span(f"client.{kind}", op=op_id) as span:
            if self.inflight is not None:
                self.inflight.register(op_id, command, span)
            t0 = time.perf_counter()
            try:
                resp = self.client.execute(command)
            except (RuntimeError, OSError, ValueError) as e:  # refused / broken frame
                detail = f"{type(e).__name__}: {e}"
            dt = time.perf_counter() - t0
        ok = resp is not None and resp.get("success") == 1
        if resp is not None and not ok:
            detail = str(resp.get("content", {}).get("message", ""))[:200]
        op = self.log.record(kind, dt, ok, detail)
        if tracer.enabled:
            c = self.ctx.counters
            body = json.dumps({"command": command, "arguments": []})
            c["server.request_bytes"] += _REQ_FRAME + len(body.encode())
            c["server.response_bytes"] += _RESP_FRAME + (len(json.dumps(resp).encode()) if resp else 0)
            c["server.requests"] += 1
            self.ctx.count_jobs(op_id)
        return resp, op


def _page_count(resp: dict) -> tuple[int, int]:
    m = _MSG_ROWS.match(resp["content"]["message"])
    if not m:
        raise ValueError(f"unexpected SEARCH message {resp['content']['message']!r}")
    return int(m.group(1)), int(m.group(2))


@dataclass
class CursorRead:
    """What one SEARCH and its page moves returned, for checking."""

    spec: SearchSpec
    n_rows: int
    pages: dict[int, list[dict]]
    ops: list[Op]


def browse(s: Session, spec: SearchSpec, n_next: int, with_prev: bool) -> CursorRead | None:
    """SEARCH, ``n_next`` QYCNNXT, optionally one QYCNPVS, then QYCNEXT.
    Page numbers follow the engine's clamping, so each returned page can
    be checked against the model."""
    resp, op = s.call("search", spec.aql())
    if not op.ok:
        return None
    n_rows, n_pages = _page_count(resp)
    qid = resp["content"]["query_id"]
    page = 0
    read = CursorRead(spec, n_rows, {0: resp["content"]["rows"]}, [op])
    returned = len(resp["content"]["rows"])
    moves = [("page_next", "QYCNNXT", +1)] * n_next
    if with_prev:
        moves.append(("page_prev", "QYCNPVS", -1))
    for kind, verb, delta in moves:
        resp, op = s.call(kind, f"{verb} '{qid}'")
        read.ops.append(op)
        if op.ok:
            page = min(max(page + delta, 0), n_pages - 1)
            read.pages[page] = resp["content"]["rows"]
            returned += len(read.pages[page])
    s.call("cursor_close", f"QYCNEXT '{qid}'")
    s.ctx.searches.append((n_rows, returned))
    return read


def check_read(read: CursorRead, expected_count: int, ordered: list[tuple], cols: list[str]) -> str:
    """'' if the SEARCH count and every page read match the model."""
    if read.n_rows != expected_count:
        return f"count {read.n_rows} != model {expected_count}"
    for page, rows in read.pages.items():
        want = ordered[page * PAGE_SIZE:(page + 1) * PAGE_SIZE]
        got = sorted(tuple(r[c] for c in cols) for r in rows)
        if got != want:
            return f"page {page} differs from model ({len(got)} vs {len(want)} rows)"
    return ""


# --------------------------------------------------------------------------
# Traced run: the engine as the server sees it
# --------------------------------------------------------------------------
_KIND = {
    "Search": "search",
    "CursorNext": "page_move",
    "CursorPrev": "page_move",
    "CursorClose": "cursor_close",
    "CreateRow": "stage",
    "EditRow": "stage",
    "DeleteRow": "stage",
    "Commit": "commit",
}


class TracedEngine:
    """Stands in for the Engine behind TytoServer in the traced phase:
    ``Engine.execute`` is ``run(parse(...))``, so it makes those two
    public calls itself, each inside a span, and tags the Spark jobs of
    the request with its operation id. Passes straight through when
    tracing is off."""

    def __init__(self, ctx: Context, engine, inflight: Inflight):
        from tytodb_spark.aql.parser import parse

        self.ctx = ctx
        self.engine = engine
        self.inflight = inflight
        self._parse = parse

    def execute(self, command: str, args: list | None = None):
        tracer = self.ctx.tracer
        if not tracer.enabled:
            return self.engine.execute(command, args)
        op_id, client_span = self.inflight.claim(command)
        self.ctx.set_job_group(op_id)
        with tracer.span("server.execute", op=op_id, parent=client_span):
            with tracer.span("aql.parse"):
                stmt = self._parse(command, args)
            with tracer.span(f"engine.{_KIND.get(type(stmt).__name__, 'other')}"):
                result = self.engine.run(stmt)
        if result.df is not None:
            rows = result.rows

            def traced_rows():
                with tracer.span("engine.rows", op=op_id, parent=client_span):
                    return rows()

            result.rows = traced_rows
        return result


def trace_warehouse(ctx: Context, warehouse) -> None:
    """Wrap the Warehouse instance's public read/stage/commit calls in
    spans (traced phase only; the class is untouched)."""
    for name in ("read", "stage_insert", "stage_edit", "stage_delete", "commit"):
        fn = getattr(warehouse, name)

        def wrapped(*a, _fn=fn, _name=name, **kw):
            if not ctx.tracer.enabled:
                return _fn(*a, **kw)
            with ctx.tracer.span(f"warehouse.{_name}"):
                return _fn(*a, **kw)

        setattr(warehouse, name, wrapped)


# --------------------------------------------------------------------------
# Server + clients
# --------------------------------------------------------------------------
class Deployment:
    """One Engine behind one TytoServer, with one handshaken client per
    session name."""

    def __init__(self, ctx: Context, engine, traced: bool, names: list[str]):
        from tytodb_spark.server import TytoClient, TytoServer

        self.ctx = ctx
        self.engine = engine
        self.inflight = Inflight() if traced else None
        front = TracedEngine(ctx, engine, self.inflight) if traced else engine
        if traced:
            trace_warehouse(ctx, engine.warehouse)
        key_path = os.path.join(ctx.run_dir, "keys.b64")
        self.server = TytoServer(front, key_path).start()
        host, port = self.server.address
        keys = list(self.server._keys.values())
        self.names = names
        self.clients = [TytoClient(host, port, keys[i % len(keys)]) for i in range(len(names))]

    def sessions(self, log: OpLog) -> list[Session]:
        return [Session(self.ctx, c, n, log, self.inflight) for n, c in zip(self.names, self.clients)]

    def close(self) -> None:
        for c in self.clients:
            c.close()
        self.server.stop()


def closed_loop(sessions: list[Session], cycle, counts: dict[str, int]) -> tuple[float, list[tuple[str, float]]]:
    """Run ``counts[name]`` cycles of ``cycle(session)`` in every session,
    all sessions at once. Returns (wall seconds, (session name, cycle
    duration) per cycle)."""
    start = threading.Barrier(len(sessions) + 1)
    cycles: list[tuple[str, float]] = []
    errors: list[BaseException] = []
    lock = threading.Lock()

    def body(s: Session) -> None:
        start.wait()
        try:
            for _ in range(counts[s.name]):
                t0 = time.perf_counter()
                cycle(s)
                with lock:
                    cycles.append((s.name, time.perf_counter() - t0))
        except BaseException as e:  # surfaced to the caller below
            errors.append(e)

    threads = [threading.Thread(target=body, args=(s,)) for s in sessions]
    for t in threads:
        t.start()
    t_begin = time.perf_counter()
    start.wait()
    for t in threads:
        t.join()
    wall = time.perf_counter() - t_begin
    if errors:
        raise errors[0]
    return wall, cycles


# --------------------------------------------------------------------------
# Readers: SEARCH + paging over the external tables
# --------------------------------------------------------------------------
class Readers:
    """The read side: seeded SEARCHes from READ_MIX, checked afterwards
    against a DuckDB model of the same parquet."""

    def __init__(self, ctx: Context, names: list[str]):
        self.ctx = ctx
        self.reads: list[CursorRead] = []
        self._lock = threading.Lock()
        self._sched = {
            n: read_schedule(np.random.default_rng([ctx.seed, 1, i]), i * len(READ_MIX) // len(names))
            for i, n in enumerate(names)
        }
        # warm-up: every statement class once at its smallest size,
        # spread over the readers
        smallest: dict[str, int] = {}
        for kind, size, _ in READ_MIX:
            smallest[kind] = min(size, smallest.get(kind, size))
        kinds = list(smallest.items())
        self._warm = {n: kinds[i::len(names)] for i, n in enumerate(names)}
        self._warm_rng = np.random.default_rng([ctx.seed, 3])

    def warm_up(self, s: Session) -> None:
        for kind, size in self._warm[s.name]:
            self._keep(browse(s, read_statement(kind, size, self._warm_rng), 1, True))

    def _keep(self, read: CursorRead | None) -> None:
        if read is not None:
            with self._lock:
                self.reads.append(read)

    def cycle(self, s: Session) -> None:
        spec, n_next = next(self._sched[s.name])
        self._keep(browse(s, spec, n_next, True))

    def take(self) -> list[CursorRead]:
        with self._lock:
            reads, self.reads = self.reads, []
        return reads

    def check(self, reads: list[CursorRead]) -> None:
        """Compare every SEARCH with the DuckDB model; a mismatch fails
        the SEARCH and its page moves."""
        import duckdb

        con = duckdb.connect()
        con.execute(f"SET temp_directory='{self.ctx.run_dir}/tmp'")
        for t in ("lineitem", "orders"):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.ctx.data_dir}/{t}.parquet')")
        for read in reads:
            sql = read.spec.sql()
            count = con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0]
            limit = (max(read.pages) + 1) * PAGE_SIZE
            rel = con.execute(f"SELECT * FROM ({sql}) ORDER BY ALL LIMIT {limit}")
            cols = [d[0] for d in rel.description]
            problem = check_read(read, count, [tuple(r) for r in rel.fetchall()], cols)
            if problem:
                for op in read.ops:
                    OpLog.fail_check(op, problem)
        con.close()


# --------------------------------------------------------------------------
# Writers: one container per client
# --------------------------------------------------------------------------
SCHEMA = [("id", "BIGINT"), ("grp", "INT"), ("price", "FLOAT"), ("tag", "NANO-STRING"),
          ("note", "SMALL-STRING")]
COLS = [c for c, _ in SCHEMA]
PRELOAD_ROWS = 100_000
NEW_IDS = 1_000_000  # inserted ids start here, above every pre-loaded id
_NOTE_WORDS = "alpha beta gamma delta omega sigma kappa lambda theta zeta".split()


def _note(rng: np.random.Generator) -> str:
    return " ".join(rng.choice(_NOTE_WORDS, int(rng.integers(1, 8))))


def _row(rng: np.random.Generator, rid: int) -> tuple:
    return (rid, int(rng.integers(0, 1000)), round(float(rng.uniform(1, 1000)), 2),
            f"t{int(rng.integers(0, 10**6))}", _note(rng))


# One write cycle per entry: rows staged with CREATE ROW, then an EDIT or
# DELETE on a key range or neither. A fixed order keeps the work per run
# the same for every seed; each client starts at its own offset.
WRITE_MIX = [(1, None), (50, "edit"), (2, None), (12, "delete"),
             (5, "edit"), (1, None), (25, None), (4, "delete")]


class Container:
    """One client's container and the client's model of its contents."""

    def __init__(self, name: str, seed: list[int]):
        self.name = name
        self.rng = rng = np.random.default_rng(seed)
        n = PRELOAD_ROWS
        grp = rng.integers(0, 1000, n).tolist()
        price = np.round(rng.uniform(1, 1000, n), 2).tolist()
        tag = rng.integers(0, 10**6, n).tolist()
        words = np.array(_NOTE_WORDS)[rng.integers(0, len(_NOTE_WORDS), (n, 7))]
        nwords = rng.integers(1, 8, n).tolist()
        self.rows: dict[int, tuple] = {
            i: (i, grp[i], price[i], f"t{tag[i]}", " ".join(words[i, : nwords[i]]))
            for i in range(n)
        }
        self.next_id = NEW_IDS
        self.cycles = 0

    def write_parquet(self, path: str) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        cols = list(zip(*self.rows.values()))
        pq.write_table(pa.table({c: list(v) for c, v in zip(COLS, cols)}), path)


class Writers:
    """The write side: each writer owns one pre-loaded container and
    checks read-your-writes against its own model after every COMMIT."""

    def __init__(self, ctx: Context, engine, names: list[str]):
        self.ctx = ctx
        self.account = WriteAccount()
        self.commits: list[tuple[int, int, int]] = []  # (staged ops, bytes, files)
        self.containers = {n: Container(f"c{i}", [ctx.seed, 10, i]) for i, n in enumerate(names)}
        types = ", ".join(t for _, t in SCHEMA)
        for i, c in enumerate(self.containers.values()):
            c.cycles = i * len(WRITE_MIX) // len(names)
            path = os.path.join(ctx.data_dir, f"{c.name}.parquet")
            c.write_parquet(path)
            engine.execute(f"CREATE CONTAINER '{c.name}' [{', '.join(COLS)}] [{types}]")
            engine.warehouse.append_df(c.name, ctx.spark.read.parquet(path))

    def reset(self) -> tuple[WriteAccount, list]:
        done = self.account, self.commits
        self.account, self.commits = WriteAccount(), []
        return done

    def cycle(self, s: Session) -> None:
        c = self.containers[s.name]
        rng = c.rng
        n_rows, change_kind = WRITE_MIX[c.cycles % len(WRITE_MIX)]
        c.cycles += 1
        staged_rows: list[tuple] = []
        staged_ops = 0
        for _ in range(n_rows):
            row = _row(rng, c.next_id)
            c.next_id += 1
            vals = ", ".join(_lit(v) for v in row)
            _, op = s.call("stage", f"CREATE ROW [{', '.join(COLS)}] [{vals}] ON '{c.name}'")
            staged_ops += 1
            if op.ok:
                staged_rows.append(row)
        lo = int(rng.integers(0, PRELOAD_ROWS - 200))
        width = int(rng.integers(10, 101))
        change = None
        if change_kind == "edit":
            price = round(float(rng.uniform(1, 1000)), 2)
            _, op = s.call("stage", f"EDIT ROW [price] [{price!r}] ON '{c.name}' "
                                    f"WHERE id >= {lo} AND id < {lo + width}")
            staged_ops += 1
            change = ("edit", price) if op.ok else None
        elif change_kind == "delete":
            _, op = s.call("stage", f"DELETE ROW ON '{c.name}' WHERE id >= {lo} AND id < {lo + width}")
            staged_ops += 1
            change = ("delete", None) if op.ok else None
        _, commit_op = s.call("commit", f"COMMIT '{c.name}'")
        if commit_op.ok:
            for row in staged_rows:
                c.rows[row[0]] = row
                self.account.inserted(dict(zip(COLS, row)), SCHEMA)
            for rid in range(lo, lo + width):
                if change and rid in c.rows:
                    if change[0] == "edit":
                        c.rows[rid] = c.rows[rid][:2] + (change[1],) + c.rows[rid][3:]
                    else:
                        del c.rows[rid]
            nbytes, nfiles = self.snapshot(c.name)
            self.account.committed(nbytes)
            self.commits.append((staged_ops, nbytes, nfiles))
        # read-your-writes: the edited/deleted window plus every inserted row
        win = max(0, lo - 20)
        spec = SearchSpec(None, [c.name],
                          [("id", ">=", win), ("id", "<", win + 150), ("id", ">=", NEW_IDS)],
                          ["AND", "OR"])
        read = browse(s, spec, 1, False)
        if read is not None:
            want = sorted(v for k, v in c.rows.items() if win <= k < win + 150 or k >= NEW_IDS)
            problem = check_read(read, len(want), want, COLS)
            if problem:
                for op in read.ops + [commit_op]:
                    OpLog.fail_check(op, problem)

    def snapshot(self, name: str) -> tuple[int, int]:
        """(bytes, files) of the container's current snapshot — what one
        commit wrote, since every commit rewrites the whole snapshot."""
        cdir = os.path.join(self.ctx.warehouse_dir, name)
        with open(os.path.join(cdir, "CURRENT")) as f:
            version = f.read().strip()
        nbytes, nfiles = dir_bytes(os.path.join(cdir, f"v_{version}"))
        return nbytes + len(version), nfiles + 1


# --------------------------------------------------------------------------
# aql_mixed: readers and writers on one server
# --------------------------------------------------------------------------
READERS = ["r0", "r1"]
WRITERS = ["w0", "w1"]
ROUND_S = 15  # a round takes about 14 s at local[4] on the 4-core VM


class AqlMixed:
    name = "aql_mixed"

    def setup(self, ctx: Context, traced: bool) -> None:
        from perfbench import datagen
        from tytodb_spark import catalog
        from tytodb_spark.engine import Engine

        self.ctx = ctx
        datagen.write_tables(ctx.data_dir, ctx.seed, ("lineitem", "orders"))
        tables = catalog.load_tables(ctx.spark, ctx.data_dir)
        self.engine = Engine(ctx.spark, ctx.warehouse_dir, external_tables=tables)
        self.readers = Readers(ctx, READERS)
        self.writers = Writers(ctx, self.engine, WRITERS)
        self.dep = Deployment(ctx, self.engine, traced, READERS + WRITERS)
        warm = OpLog()
        threads = [
            threading.Thread(target=self.readers.warm_up if s.name in READERS else self.writers.cycle,
                             args=(s,))
            for s in self.dep.sessions(warm)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        self.readers.check(self.readers.take())
        self.writers.reset()
        self.warm_failures = warm.failures()

    def measure(self, seconds: float) -> Measured:
        """Whole rounds of both mixes: in one round the readers together
        run READ_MIX once and the writers WRITE_MIX once. ``seconds``
        sets the number of rounds, one per ROUND_S asked; the work of a
        run is then the same for every seed and every program version."""
        log = OpLog()
        readers, writers = self.readers, self.writers
        rounds = max(1, int(seconds // ROUND_S))
        counts = {n: rounds * len(READ_MIX) // len(READERS) for n in READERS}
        counts.update({n: rounds * len(WRITE_MIX) // len(WRITERS) for n in WRITERS})

        def cycle(s: Session) -> None:
            (readers if s.name in READERS else writers).cycle(s)

        wall, cycles = closed_loop(self.dep.sessions(log), cycle, counts)
        account, commits = writers.reset()
        return Measured(log, wall, [d for _, d in cycles], {
            "reads": readers.take(),
            "account": account,
            "commits": commits,
            "read_cycles": [d for n, d in cycles if n in READERS],
            "write_cycles": [d for n, d in cycles if n in WRITERS],
        })

    def check(self, m: Measured) -> None:
        self.readers.check(m.extra["reads"])

    def open_cursors(self) -> int:
        return len(self.engine._cursors)

    def close(self) -> None:
        self.dep.close()
