"""PREPARE/EXECUTE/DEALLOCATE and DECLARE/FETCH/MOVE/CLOSE cursors.

Reference surface: gram.y PrepareStmt/ExecuteStmt/DeallocateStmt
(commands/prepare.c) and DeclareCursorStmt/FetchStmt/ClosePortalStmt
(commands/portalcmds.c) — the session plumbing a ported application uses
around its queries.

Prepared statements are textual templates with ``$n`` parameters; EXECUTE
substitutes argument literals and routes the result through the normal
engine entry point, so every statement kind PREPARE can wrap (SELECT, DML)
keeps its usual path and plan.  Catalyst re-optimizes per EXECUTE — with
literal parameters that is strictly better than a frozen generic plan
(partition pruning and pushdown see the actual values; the reference's
custom-plan-vs-generic-plan heuristic always picks the custom plan here).

Cursors hold a ``toLocalIterator`` over the query result: rows stream to
the driver one partition at a time (no full collect), which is exactly the
portal-fetch contract — bounded driver memory at any corpus size.  FETCH n
materializes the next n rows as a DataFrame with the cursor's schema.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

from greengage_spark.dialect.spans import lex, split_top_level


class PreparedStatement:
    def __init__(self, name: str, body: str, n_params: int):
        self.name = name
        self.body = body
        self.n_params = n_params


class Cursor:
    """Portal over a streamed result (portalcmds.c).

    Forward-only cursors stream via ``toLocalIterator`` with nothing
    retained — bounded driver memory at any corpus size.  ``SCROLL``
    cursors additionally retain the rows fetched so far (PG materializes
    scrollable portals into a tuplestore; ours keeps the fetched extent
    in driver memory — the backward window is bounded by how far the
    client actually scanned, never by corpus size).  Position follows
    PG: 0 = before first, k = on row k, len+1 = after last."""

    def __init__(
        self,
        name: str,
        df: DataFrame,
        scroll: bool = False,
        holdable: bool = False,
    ):
        self.name = name
        self.schema = df.schema
        self._df = df
        self._iter = df.toLocalIterator()
        self.scroll = scroll
        self.holdable = holdable  # DECLARE ... WITH HOLD (portalcmds.c)
        self._buf: list = []  # rows 1..len consumed so far (scroll only)
        self._pos = 0
        self._n_fetched = 0  # forward-only position (persist replay)
        self.exhausted = False

    def persist(self) -> None:
        """PersistHoldablePortal (commands/portalcmds.c:424): at COMMIT a
        WITH HOLD portal's result set is materialized so later FETCHes no
        longer depend on the transaction's snapshot.  ``localCheckpoint``
        pins the full result executor-side (PG's tuplestore analog —
        distributed, not driver memory); the replay fast-forwards the
        fresh iterator to the current position, deterministic because it
        re-reads the already-materialized partitions."""
        df2 = self._df.localCheckpoint(eager=True)
        it = df2.toLocalIterator()
        if self.scroll:
            n = len(self._buf)
            self._buf = []
            for _ in range(n):
                try:
                    self._buf.append(next(it))
                except StopIteration:
                    break
        else:
            for _ in range(self._n_fetched):
                try:
                    next(it)
                except StopIteration:
                    break
        self._iter = it
        self._df = df2
        self.exhausted = False

    def _pull(self) -> bool:
        try:
            self._buf.append(next(self._iter))
            return True
        except StopIteration:
            self.exhausted = True
            return False

    def fetch(self, n: int | None) -> list:
        """FETCH FORWARD n (None = ALL)."""
        if not self.scroll:
            out = []
            while n is None or len(out) < n:
                try:
                    out.append(next(self._iter))
                    self._n_fetched += 1
                except StopIteration:
                    self.exhausted = True
                    break
            return out
        out: list = []
        while n is None or len(out) < n:
            if self._pos < len(self._buf):
                self._pos += 1
                out.append(self._buf[self._pos - 1])
            elif self._pull():
                self._pos += 1
                out.append(self._buf[-1])
            else:
                self._pos = len(self._buf) + 1  # after last
                break
        return out

    def fetch_backward(self, n: int | None) -> list:
        """FETCH BACKWARD n: prior rows in reverse scan order."""
        if not self.scroll:
            raise ValueError(
                f'cursor "{self.name}" can only scan forward '
                "(declare it with SCROLL)"
            )
        if self._pos > len(self._buf):
            self._pos = len(self._buf)  # step off after-last onto last...
            # ...which IS the first backward row (PG: BACKWARD from the
            # end returns the last row first)
            if self._pos > 0:
                out = [self._buf[self._pos - 1]]
                more = self.fetch_backward(None if n is None else n - 1)
                return out + more
        out: list = []
        while (n is None or len(out) < n) and self._pos > 1:
            self._pos -= 1
            out.append(self._buf[self._pos - 1])
        if (n is None or len(out) < n) and self._pos == 1:
            self._pos = 0  # stepped before the first row
        return out

    def fetch_absolute(self, k: int) -> list:
        """FETCH ABSOLUTE k (negative = from end); returns the row."""
        if not self.scroll:
            raise ValueError(
                f'cursor "{self.name}" can only scan forward '
                "(declare it with SCROLL)"
            )
        if k < 0:
            while self._pull():
                pass
            k = len(self._buf) + 1 + k
        if k <= 0:
            self._pos = 0
            return []
        while len(self._buf) < k and self._pull():
            pass
        if k > len(self._buf):
            self._pos = len(self._buf) + 1
            return []
        self._pos = k
        return [self._buf[k - 1]]

    def fetch_relative(self, k: int) -> list:
        """FETCH RELATIVE k; 0 re-returns the current row (PG)."""
        if k > 0:
            rows = self.fetch(k)
            # fewer than k rows remained: portal is positioned after the
            # last row and the result is EMPTY (portalcmds.c semantics),
            # not the last available row
            return rows[-1:] if len(rows) == k else []
        if k < 0:
            rows = self.fetch_backward(-k)
            return rows[-1:] if len(rows) == -k else []
        if self.scroll and 1 <= self._pos <= len(self._buf):
            return [self._buf[self._pos - 1]]
        return []


_PARAM = re.compile(r"\$(\d+)")


def _substitute_params(body: str, args: list[str]) -> str:
    """Replace each $n parameter — not one inside a string literal, quoted
    identifier or comment — with the argument literal text."""
    parts, pos = [], 0
    for m in lex(body):
        dollar = m.start() - 1
        if m.group(0).isdigit() and body[dollar : m.start()] == "$":
            idx = int(m.group(0))
            if not 1 <= idx <= len(args):
                raise ValueError(f"there is no parameter ${idx}")
            parts += [body[pos:dollar], args[idx - 1]]
            pos = m.end()
    parts.append(body[pos:])
    return "".join(parts)


def execute_prepare_stmt(engine, stmt: str):
    head = stmt.split(None, 1)[0].lower()
    if head == "prepare":
        m = re.match(
            r"(?is)^prepare\s+([\w.]+)\s*(?:\(([^)]*)\))?\s+as\s+(.+)$", stmt
        )
        if not m:
            raise NotImplementedError("PREPARE name [(types)] AS statement")
        name = m.group(1).lower()
        if name in engine.prepared:
            raise ValueError(f'prepared statement "{name}" already exists')
        body = m.group(3).strip()
        n_params = max((int(p) for p in _PARAM.findall(body)), default=0)
        engine.prepared[name] = PreparedStatement(name, body, n_params)
        return None
    if head == "execute":
        m = re.match(r"(?is)^execute\s+([\w.]+)\s*(?:\((.*)\))?$", stmt)
        if not m:
            raise NotImplementedError("EXECUTE name [(args)]")
        name = m.group(1).lower()
        ps = engine.prepared.get(name)
        if ps is None:
            raise ValueError(f'prepared statement "{name}" does not exist')
        args = split_top_level(m.group(2)) if m.group(2) else []
        if len(args) != ps.n_params:
            raise ValueError(
                f"wrong number of parameters for prepared statement "
                f'"{name}": expected {ps.n_params}, got {len(args)}'
            )
        return engine.execute(_substitute_params(ps.body, args))
    m = re.match(r"(?is)^deallocate\s+(?:prepare\s+)?(all|[\w.]+)$", stmt)
    if not m:
        raise NotImplementedError("DEALLOCATE [PREPARE] name|ALL")
    target = m.group(1).lower()
    if target == "all":
        engine.prepared.clear()
        return None
    if target not in engine.prepared:
        raise ValueError(f'prepared statement "{target}" does not exist')
    del engine.prepared[target]
    return None


class ParallelRetrieveCursor:
    """DECLARE ... PARALLEL RETRIEVE CURSOR (gram.y:11946
    CURSOR_OPT_PARALLEL_RETRIEVE; gpcontrib/gp_parallel_retrieve_cursor).

    The reference parks each segment's slice of the result at a
    per-segment ENDPOINT that a retrieve-mode session drains with
    ``RETRIEVE n FROM ENDPOINT name``.  Here the query result is
    checkpointed executor-side and each PARTITION is an endpoint:
    RETRIEVE pulls rows from exactly one partition
    (``sparkContext.runJob`` on that partition only — no full collect),
    which is the same partition-parallel retrieval contract.  hostname/
    port are informational (everything is one Spark app); auth tokens
    are real per-endpoint secrets in the reference, deterministic ids
    here."""

    def __init__(self, name: str, df: DataFrame, session_id: int):
        import hashlib

        self.name = name
        self._df = df.localCheckpoint(eager=True)
        self.schema = self._df.schema
        self._rdd = self._df.rdd
        n = self._rdd.getNumPartitions()
        self.session_id = session_id
        self.endpoints = {}
        for pid in range(n):
            ep = f"prc_{session_id}_{name}_{pid}"
            self.endpoints[ep] = {
                "gp_segment_id": pid,
                "auth_token": hashlib.md5(
                    f"{session_id}/{name}/{pid}".encode()
                ).hexdigest(),
                "cursorname": name,
                "sessionid": session_id,
                "hostname": "localhost",
                "port": 7000 + pid,
                "username": "spark",
                "state": "READY",
                "endpointname": ep,
            }
        self._buffers: dict[str, list] = {}

    def retrieve(self, endpoint: str, n: int | None) -> list:
        ep = self.endpoints.get(endpoint)
        if ep is None:
            raise ValueError(
                f"the endpoint {endpoint} does not exist in the session"
            )
        if endpoint not in self._buffers:
            # drain exactly this endpoint's partition, nothing else
            pid = ep["gp_segment_id"]
            sc = self._rdd.context
            rows = sc.runJob(self._rdd, lambda it: list(it), [pid])
            self._buffers[endpoint] = list(rows)
            ep["state"] = "ATTACHED"
        buf = self._buffers[endpoint]
        out = buf if n is None else buf[:n]
        self._buffers[endpoint] = [] if n is None else buf[n:]
        if not self._buffers[endpoint]:
            ep["state"] = "FINISHED"
        return out

    def finished(self) -> bool:
        return all(e["state"] == "FINISHED" for e in self.endpoints.values())


_EP_SCHEMA = (
    "gp_segment_id int, auth_token string, cursorname string, "
    "sessionid int, hostname string, port int, username string, "
    "state string, endpointname string"
)
_EP_COLS = (
    "gp_segment_id", "auth_token", "cursorname", "sessionid",
    "hostname", "port", "username", "state", "endpointname",
)


import itertools
import weakref

# monotonic session ids (the reference's are backend pids — unique per
# session); id(engine)%N could collide across engine lifetimes
_SESSION_IDS = itertools.count(1)
# engines that have declared parallel cursors, grouped by SparkSession:
# temp views are session-global, so the listing must aggregate every
# engine sharing the session instead of stomping with the last writer
_SESSION_ENGINES: dict[int, "weakref.WeakSet"] = {}


def prc_session_id(engine) -> int:
    sid = getattr(engine, "_prc_session_id", None)
    if sid is None:
        sid = next(_SESSION_IDS)
        engine._prc_session_id = sid
    return sid


def refresh_endpoint_views(engine) -> None:
    """gp_endpoints / gp_session_endpoints (the extension's views over
    gp_get_endpoints() / gp_get_session_endpoints()): temp views
    refreshed on every state change.  gp_endpoints lists every live
    engine on this SparkSession; gp_session_endpoints only the calling
    engine's (the reference's per-backend filter)."""
    peers = _SESSION_ENGINES.setdefault(id(engine.spark), weakref.WeakSet())
    peers.add(engine)
    rows = [
        tuple(ep[c] for c in _EP_COLS)
        for eng in peers
        for cur in getattr(eng, "parallel_cursors", {}).values()
        for ep in cur.endpoints.values()
    ]
    df = engine.spark.createDataFrame(rows, _EP_SCHEMA) if rows else (
        engine.spark.createDataFrame([], _EP_SCHEMA)
    )
    df.createOrReplaceTempView("gp_endpoints")
    own = [
        tuple(ep[c] for c in _EP_COLS)
        for cur in getattr(engine, "parallel_cursors", {}).values()
        for ep in cur.endpoints.values()
    ]
    own_df = engine.spark.createDataFrame(own, _EP_SCHEMA) if own else (
        engine.spark.createDataFrame([], _EP_SCHEMA)
    )
    own_df.createOrReplaceTempView("gp_session_endpoints")


def execute_cursor_stmt(engine, stmt: str):
    head = stmt.split(None, 1)[0].lower()
    if head == "retrieve":
        m = re.match(
            r"(?is)^retrieve\s+(all|\d+)\s+from\s+endpoint\s+([\w.]+)$",
            stmt,
        )
        if not m:
            raise NotImplementedError("RETRIEVE n|ALL FROM ENDPOINT name")
        cnt, ep = m.group(1).lower(), m.group(2)
        for cur in getattr(engine, "parallel_cursors", {}).values():
            if ep in cur.endpoints:
                rows = cur.retrieve(ep, None if cnt == "all" else int(cnt))
                refresh_endpoint_views(engine)
                return engine.spark.createDataFrame(rows, cur.schema)
        raise ValueError(
            f"the endpoint {ep} does not exist in the session"
        )
    if head == "declare":
        mp = re.match(
            r"(?is)^declare\s+([\w.]+)\s+parallel\s+retrieve\s+cursor\s+"
            r"for\s+(.+)$",
            stmt,
        )
        if mp:
            name = mp.group(1).lower()
            if not hasattr(engine, "parallel_cursors"):
                engine.parallel_cursors = {}
            if name in engine.parallel_cursors or name in engine.cursors:
                raise ValueError(f'cursor "{name}" already exists')
            df = engine.execute(mp.group(2).strip())
            if df is None:
                raise ValueError("DECLARE CURSOR requires a query")
            engine.parallel_cursors[name] = ParallelRetrieveCursor(
                name, df, session_id=prc_session_id(engine)
            )
            refresh_endpoint_views(engine)
            return None
        m = re.match(
            r"(?is)^declare\s+([\w.]+)\s+(?:binary\s+)?(?:insensitive\s+)?"
            r"(no\s+scroll\s+|scroll\s+)?cursor\s+(with\s+hold\s+|"
            r"without\s+hold\s+)?for\s+(.+)$",
            stmt,
        )
        if not m:
            raise NotImplementedError("DECLARE name CURSOR FOR query")
        name = m.group(1).lower()
        if name in engine.cursors:
            raise ValueError(f'cursor "{name}" already exists')
        scroll = bool(m.group(2)) and m.group(2).strip().lower() == "scroll"
        holdable = bool(m.group(3)) and m.group(3).split()[0].lower() == "with"
        df = engine.execute(m.group(4).strip())
        if df is None:
            raise ValueError("DECLARE CURSOR requires a query")
        engine.cursors[name] = Cursor(name, df, scroll=scroll, holdable=holdable)
        return None
    if head in ("fetch", "move"):
        m = re.match(
            r"(?is)^(fetch|move)\s+"
            r"(?:(forward|backward|absolute|relative|prior|first|last|next)\s+)?"
            r"(?:((?:[+-]?\d+|all))\s+)?(?:from\s+|in\s+)?([\w.]+)$",
            stmt,
        )
        if not m:
            raise NotImplementedError(
                "FETCH [FORWARD|BACKWARD|ABSOLUTE|RELATIVE|PRIOR|FIRST|"
                "LAST|NEXT] [n|ALL] [FROM] cursor"
            )
        kw = (m.group(2) or "").lower()
        cnt = (m.group(3) or "").lower()
        name = m.group(4).lower()
        cur = engine.cursors.get(name)
        if cur is None:
            raise ValueError(f'cursor "{name}" does not exist')
        if kw in ("absolute", "relative"):
            if not cnt or cnt == "all":
                raise NotImplementedError(f"FETCH {kw.upper()} needs a count")
            rows = (
                cur.fetch_absolute(int(cnt))
                if kw == "absolute"
                else cur.fetch_relative(int(cnt))
            )
        elif kw == "prior":
            rows = cur.fetch_backward(1)
        elif kw == "first":
            rows = cur.fetch_absolute(1)
        elif kw == "last":
            rows = cur.fetch_absolute(-1)
        elif kw == "backward":
            rows = cur.fetch_backward(None if cnt == "all" else int(cnt or 1))
        else:  # forward / next / bare count — negative counts scan backward
            n = None if cnt == "all" else 1 if not cnt else int(cnt)
            if kw == "next":
                n = 1
            rows = cur.fetch_backward(-n) if n is not None and n < 0 else cur.fetch(n)
        if m.group(1).lower() == "move":
            return None
        return engine.spark.createDataFrame(rows, cur.schema)
    m = re.match(r"(?is)^close\s+(all|[\w.]+)$", stmt)
    if not m:
        raise NotImplementedError("CLOSE name|ALL")
    target = m.group(1).lower()
    pcs = getattr(engine, "parallel_cursors", {})
    if target == "all":
        engine.cursors.clear()
        if pcs:
            pcs.clear()
            refresh_endpoint_views(engine)
        return None
    if target in pcs:
        del pcs[target]
        refresh_endpoint_views(engine)
        return None
    if target not in engine.cursors:
        raise ValueError(f'cursor "{target}" does not exist')
    del engine.cursors[target]
    return None
