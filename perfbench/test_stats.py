"""Self-tests for the benchmark's own helpers (no Spark needed):

    python3 -m pytest perfbench/test_stats.py -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.stats import OpLog, WriteAccount, percentile, value_bytes  # noqa: E402
from perfbench.tracing import Span, Tracer  # noqa: E402


# -- percentile selection ----------------------------------------------------
def test_percentile_is_nearest_rank():
    values = [float(v) for v in range(10, 0, -1)]  # unsorted on purpose
    assert percentile(values, 50) == 5.0
    assert percentile(values, 90) == 9.0
    assert percentile(values, 100) == 10.0
    assert percentile(values, 1) == 1.0


def test_percentile_returns_a_sample():
    values = [0.3, 7.1, 2.2, 9.9]
    for q in (10, 25, 50, 75, 90, 99):
        assert percentile(values, q) in values


def test_p90_of_100_samples_leaves_ten_above():
    values = list(range(1, 101))
    p = percentile(values, 90)
    assert p == 90
    assert sum(v > p for v in values) == 10


def test_percentile_rejects_bad_input():
    with pytest.raises(ValueError):
        percentile([], 50)
    with pytest.raises(ValueError):
        percentile([1.0], 0)
    with pytest.raises(ValueError):
        percentile([1.0], 101)


# -- failed_frac ---------------------------------------------------------------
def test_failed_frac_counts_refused_and_failed_checks():
    log = OpLog()
    for _ in range(6):
        log.record("search", 0.1)
    log.record("search", 0.2, ok=False, detail="server rejected the request")  # refused
    checked = log.record("page_next", 0.05)
    log.fail_check(checked, "page 1 differs from model")  # output check failed
    assert log.attempted == 8
    assert log.failed == 2
    assert log.failed_frac() == pytest.approx(2 / 8)
    assert any("differs" in f for f in log.failures())


def test_failed_op_counts_once_even_if_it_also_fails_a_check():
    log = OpLog()
    op = log.record("commit", 0.3, ok=False, detail="refused")
    log.fail_check(op, "read-your-writes mismatch")
    log.record("commit", 0.3)
    assert (log.attempted, log.failed) == (2, 1)


def test_failed_frac_of_nothing_attempted_is_total_failure():
    assert OpLog().failed_frac() == 1.0


def test_latencies_by_kind():
    log = OpLog()
    log.record("search", 0.5)
    log.record("commit", 1.0)
    assert log.latencies_ms("search") == [500.0]
    assert sorted(log.latencies_ms()) == [500.0, 1000.0]


# -- bytes_written_per_user_byte ----------------------------------------------
SCHEMA = [("id", "BIGINT"), ("grp", "INT"), ("price", "FLOAT"), ("tag", "NANO-STRING"),
          ("ok", "BOOL"), ("blob", "SMALL-BYTES")]


def test_value_bytes_by_type():
    assert value_bytes(7, "BIGINT") == 8
    assert value_bytes(7, "int") == 4
    assert value_bytes(1.5, "FLOAT") == 8
    assert value_bytes(True, "BOOL") == 1
    assert value_bytes("héllo", "SMALL-STRING") == 6  # UTF-8 bytes, not chars
    assert value_bytes(b"\x00\x01\x02", "SMALL-BYTES") == 3


def test_write_account_ratio():
    acct = WriteAccount()
    row = {"id": 1, "grp": 2, "price": 3.0, "tag": "abcd", "ok": False, "blob": b"xy"}
    acct.inserted(row, SCHEMA)  # 8 + 4 + 8 + 4 + 1 + 2 = 27
    acct.inserted(row, SCHEMA)
    assert acct.user_bytes == 54
    acct.committed(5400)
    acct.committed(540)
    assert acct.ratio() == pytest.approx(5940 / 54)


def test_write_account_counts_only_schema_columns_present():
    acct = WriteAccount()
    acct.inserted({"id": 1, "extra": "ignored"}, SCHEMA)
    assert acct.user_bytes == 8


def test_write_account_without_inserts_has_no_ratio():
    acct = WriteAccount()
    acct.committed(100)
    with pytest.raises(ValueError):
        acct.ratio()


# -- tracing self time ---------------------------------------------------------
def test_self_time_subtracts_child_coverage():
    t = Tracer()
    t.spans = [
        Span(1, "op", "client.search", None, 0.0, 1.0),
        Span(2, "op", "server.execute", 1, 0.1, 0.9),
        Span(3, "op", "engine.search", 2, 0.2, 0.5),
        Span(4, "op", "engine.rows", 2, 0.4, 0.7),  # overlaps its sibling
    ]
    self_ms = t.self_time_ms()
    assert self_ms["client"] == pytest.approx(200.0)
    assert self_ms["server"] == pytest.approx(300.0)
    assert self_ms["engine"] == pytest.approx(600.0)


def test_spans_share_the_operation_id_across_threads():
    import threading

    t = Tracer()

    def serve(parent):
        with t.span("server.execute", parent=parent):
            with t.span("aql.parse"):
                pass

    with t.span("client.search", op="c0-1") as client:
        th = threading.Thread(target=serve, args=(client,))
        th.start()
        th.join()
    by_name = {s.name: s for s in t.spans}
    assert {s.op for s in t.spans} == {"c0-1"}
    assert by_name["server.execute"].parent == client.sid
    assert by_name["aql.parse"].parent == by_name["server.execute"].sid
