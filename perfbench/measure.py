"""Pure helpers of the benchmark: percentiles, result fingerprints and the
span tracer with its self-time roll-up.  Nothing here touches Spark."""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import math
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass
from decimal import Decimal


def median(values: list[float]) -> float | None:
    return statistics.median(values) if values else None


def percentile(values: list[float], q: float) -> float | None:
    """Nearest-rank q-quantile, or None when fewer than ten samples lie
    above its rank: a p90 needs at least 100 samples."""
    n = len(values)
    rank = max(1, math.ceil(q * n))
    if n == 0 or n - rank < 10:
        return None
    return sorted(values)[rank - 1]


def _canon(v) -> str:
    """One spelling per value, shared by Spark rows and DuckDB tuples."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "t" if v else "f"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return str(int(v)) if v.is_integer() else repr(v)
    if isinstance(v, Decimal):
        if v == v.to_integral_value():
            return str(int(v))
        return format(v.normalize(), "f")
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return repr(str(v))


def fingerprint(rows, ordered: bool = False) -> str:
    """Digest of a result set.  Column names are ignored; row order counts
    only when `ordered`.  Integral floats and decimals spell like ints, so
    a DOUBLE 3.0, a DECIMAL 3.00 and a BIGINT 3 agree."""
    lines = ["|".join(_canon(v) for v in row) for row in rows]
    if not ordered:
        lines.sort()
    h = hashlib.sha256(f"{len(lines)}\n".encode())
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


@dataclass
class Span:
    id: int
    parent: int | None
    op: str | None
    name: str
    start: float
    end: float = 0.0

    @property
    def seconds(self) -> float:
        return max(0.0, self.end - self.start)


class Tracer:
    """In-memory spans on the wall clock (epoch seconds, the clock the
    JVM's millisecond timestamps share).  `enabled` off makes `span` a
    no-op, so instrumented code can stay in place for untraced runs."""

    def __init__(self, enabled: bool = True, clock=time.time):
        self.enabled = enabled
        self.clock = clock
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @property
    def current(self) -> Span | None:
        return self._stack[-1] if self._stack else None

    @contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield None
            return
        parent = self.current
        s = Span(len(self.spans), parent.id if parent else None,
                 op if op is not None else (parent.op if parent else None),
                 name, self.clock())
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = self.clock()
            self._stack.pop()

    def add(self, name: str, start: float, end: float, parent: Span) -> Span:
        """A span measured elsewhere (a Catalyst phase, the tail of a
        job), clipped into its parent's window."""
        start = min(max(start, parent.start), parent.end)
        end = min(max(end, start), parent.end)
        s = Span(len(self.spans), parent.id, parent.op, name, start, end)
        self.spans.append(s)
        return s

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the durations of its direct children."""
    own = {s.id: s.seconds for s in spans}
    for s in spans:
        if s.parent is not None and s.parent in own:
            own[s.parent] -= s.seconds
    return {k: max(0.0, v) for k, v in own.items()}


def rollup(spans: list[Span]) -> dict[str, float]:
    """Self seconds summed per span name."""
    own = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        out[s.name] = out.get(s.name, 0.0) + own[s.id]
    return out


def unattributed_pct(spans: list[Span], root: str = "op") -> float:
    """Share of root-span wall time that no child span accounts for."""
    own = self_times(spans)
    roots = [s for s in spans if s.name == root]
    wall = sum(s.seconds for s in roots)
    return 100.0 * sum(own[s.id] for s in roots) / wall if wall else 0.0
