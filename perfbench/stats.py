"""Statistics helpers for the benchmark: percentiles, failure accounting
and write amplification. Pure Python, no Spark."""

from __future__ import annotations

import math
import threading
from dataclasses import dataclass, field


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``q``%
    of the samples at or below it. Always returns a measured sample."""
    if not values:
        raise ValueError("percentile of no samples")
    if not 0 < q <= 100:
        raise ValueError(f"percentile rank {q} outside (0, 100]")
    ordered = sorted(values)
    return ordered[max(1, math.ceil(q / 100 * len(ordered))) - 1]


@dataclass
class Op:
    kind: str
    latency_s: float
    ok: bool
    detail: str = ""


@dataclass
class OpLog:
    """Thread-safe record of the operations of one measured phase.

    An operation counts as failed when the server refused or rejected it
    (``ok=False`` at record time) or when its output later failed a check
    (``fail_check``). Both kinds count once against ``attempted``."""

    ops: list[Op] = field(default_factory=list)
    _lock: threading.Lock = field(default_factory=threading.Lock, repr=False)

    def record(self, kind: str, latency_s: float, ok: bool = True, detail: str = "") -> Op:
        op = Op(kind, latency_s, ok, detail)
        with self._lock:
            self.ops.append(op)
        return op

    @staticmethod
    def fail_check(op: Op, detail: str) -> None:
        op.ok = False
        op.detail = detail

    @property
    def attempted(self) -> int:
        return len(self.ops)

    @property
    def failed(self) -> int:
        return sum(not op.ok for op in self.ops)

    def failed_frac(self) -> float:
        return self.failed / self.attempted if self.ops else 1.0

    def latencies_ms(self, kind: str | None = None) -> list[float]:
        return [op.latency_s * 1e3 for op in self.ops if kind is None or op.kind == kind]

    def failures(self, limit: int = 5) -> list[str]:
        return [f"{op.kind}: {op.detail}" for op in self.ops if not op.ok][:limit]


# Bytes a value occupies as user data: fixed-width numbers at their
# declared width, strings and bytes at their encoded length.
_FIXED_WIDTH = {"INT": 4, "BIGINT": 8, "FLOAT": 8, "BOOL": 1}


def value_bytes(value: object, alba_type: str) -> int:
    t = alba_type.upper()
    if t in _FIXED_WIDTH:
        return _FIXED_WIDTH[t]
    if isinstance(value, (bytes, bytearray)):
        return len(value)
    return len(str(value).encode())


@dataclass
class WriteAccount:
    """Write amplification: bytes that commits put into the warehouse
    directory per byte of row values the clients inserted."""

    user_bytes: int = 0
    written_bytes: int = 0
    _lock: threading.Lock = field(default_factory=threading.Lock, repr=False)

    def inserted(self, row: dict[str, object], schema: list[tuple[str, str]]) -> None:
        n = sum(value_bytes(row[col], alba) for col, alba in schema if col in row)
        with self._lock:
            self.user_bytes += n

    def committed(self, nbytes: int) -> None:
        with self._lock:
            self.written_bytes += nbytes

    def ratio(self) -> float:
        if self.user_bytes == 0:
            raise ValueError("no user bytes inserted")
        return self.written_bytes / self.user_bytes
