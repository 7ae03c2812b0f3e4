"""Tests of the benchmark's own helpers; no Spark session needed.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import argparse
import datetime as dt
import os
import sys
from decimal import Decimal

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import workloads as wl  # noqa: E402
from measure import Span, Tracer, fingerprint, percentile, rollup, self_times, unattributed_pct  # noqa: E402
from spark_probe import parse_count, parse_size  # noqa: E402


class TestPercentile:
    def test_p90_needs_ten_samples_beyond_it(self):
        assert percentile(list(range(99)), 0.9) is None
        assert percentile(list(range(100)), 0.9) == 89

    def test_nearest_rank(self):
        values = [float(v) for v in range(1, 201)]
        assert percentile(values, 0.9) == 180.0
        assert percentile(list(reversed(values)), 0.9) == 180.0

    def test_empty(self):
        assert percentile([], 0.9) is None


def _span(i, parent, name, start, end):
    return Span(i, parent, "op1", name, start, end)


class TestRollup:
    def test_self_time_subtracts_direct_children_only(self):
        spans = [
            _span(0, None, "op", 0.0, 10.0),
            _span(1, 0, "plans.build", 0.0, 4.0),
            _span(2, 1, "catalyst.analysis", 1.0, 2.0),
            _span(3, 0, "exec.run", 4.0, 9.5),
        ]
        own = self_times(spans)
        assert own == pytest.approx({0: 0.5, 1: 3.0, 2: 1.0, 3: 5.5})
        assert rollup(spans) == pytest.approx(
            {"op": 0.5, "plans.build": 3.0, "catalyst.analysis": 1.0, "exec.run": 5.5})
        assert unattributed_pct(spans) == pytest.approx(5.0)

    def test_self_times_sum_to_root_wall_time(self):
        spans = [
            _span(0, None, "op", 0.0, 8.0),
            _span(1, 0, "engine.execute", 0.5, 6.0),
            _span(2, 1, "dialect.transpile", 0.6, 0.9),
            _span(3, 2, "dialect.transpile", 0.7, 0.8),
            _span(4, 0, "transfer", 6.0, 7.5),
        ]
        assert sum(self_times(spans).values()) == pytest.approx(8.0)
        assert rollup(spans)["dialect.transpile"] == pytest.approx(0.3)

    def test_tracer_nests_and_clips_added_spans(self):
        ticks = iter([0.0, 1.0, 3.0, 10.0])
        tr = Tracer(clock=lambda: next(ticks))
        with tr.span("op", op="q1") as root:
            with tr.span("plans.build") as build:
                pass
        tr.add("catalyst.analysis", -5.0, 2.0, build)  # clipped to [1, 3]
        assert [(s.name, s.parent, s.op) for s in tr.spans] == [
            ("op", None, "q1"), ("plans.build", root.id, "q1"),
            ("catalyst.analysis", build.id, "q1")]
        assert tr.spans[2].start == 1.0 and tr.spans[2].end == 2.0
        assert rollup(tr.spans) == pytest.approx(
            {"op": 8.0, "plans.build": 1.0, "catalyst.analysis": 1.0})

    def test_disabled_tracer_records_nothing(self):
        tr = Tracer(enabled=False)
        with tr.span("op") as s:
            assert s is None
        assert tr.spans == []


class TestFingerprint:
    def test_row_order_counts_only_when_ordered(self):
        a = [(1, "x"), (2, "y")]
        b = [(2, "y"), (1, "x")]
        assert fingerprint(a) == fingerprint(b)
        assert fingerprint(a, ordered=True) != fingerprint(b, ordered=True)

    def test_engines_spell_equal_values_alike(self):
        spark_row = (3, Decimal("12.50"), 2.0, dt.datetime(1995, 3, 1), None)
        duck_row = (3, Decimal("12.5"), Decimal("2.00"), dt.datetime(1995, 3, 1), None)
        assert fingerprint([spark_row]) == fingerprint([duck_row])

    def test_distinguishes_values_and_counts(self):
        assert fingerprint([(1,)]) != fingerprint([(2,)])
        assert fingerprint([(1,)]) != fingerprint([(1,), (1,)])
        assert fingerprint([(None,)]) != fingerprint([("NULL",)])
        assert fingerprint([(0.1 + 0.2,)]) != fingerprint([(0.3,)])
        assert fingerprint([]) != fingerprint([()])


class TestSeeds:
    @pytest.mark.parametrize("workload", wl.WORKLOADS)
    def test_same_seed_same_plan_other_seed_other_plan(self, workload):
        wl.check_determinism(workload, 5)
        assert wl.plan_digest(workload, 5) == wl.plan_digest(workload, 5)
        assert wl.plan_digest(workload, 5) != wl.plan_digest(workload, 6)

    def test_statement_pass_make_up_is_fixed(self):
        stream = wl.StatementStream(3)
        for _ in range(3):
            kinds = [s.kind for s in stream.next_pass()]
            assert {k: kinds.count(k) for k in kinds} == wl.PASS_MIX
            writes = sum(k in wl.WRITES for k in kinds)
            assert writes / len(kinds) == pytest.approx(0.3)

    def test_insert_keys_are_fresh(self):
        stream = wl.StatementStream(3)
        inserts = [s.pg for _ in range(4) for s in stream.next_pass() if s.kind == "insert"]
        assert len(set(inserts)) == len(inserts)


class TestShadow:
    def bench(self):
        import duckdb
        from run import PgBench

        b = PgBench(argparse.Namespace(workload="pg_statements", seed=1, seconds=1, trace=0), "")
        b.shadow = duckdb.connect()
        b.shadow.execute("CREATE TABLE t AS SELECT * FROM range(3) r(x)")
        return b

    def test_row_order_is_checked_only_for_ordered_statements(self):
        b = self.bench()
        sql = "SELECT x FROM t ORDER BY x"
        b.shadow_check(wl.Stmt("range", sql, sql, ordered=True), [(0,), (1,), (2,)])
        assert b.failures == []
        b.shadow_check(wl.Stmt("agg", sql, sql), [(2,), (1,), (0,)])
        assert b.failures == []
        b.shadow_check(wl.Stmt("range", sql, sql, ordered=True), [(2,), (1,), (0,)])
        assert len(b.failures) == 1 and b.attempted == 3

    def test_order_is_checked_where_the_statement_sorts(self):
        stream = wl.StatementStream(3)
        ordered = {s.kind for _ in range(2) for s in stream.next_pass() if s.ordered}
        assert ordered == {"range", "agg"}


class TestStatusStoreText:
    def test_sizes(self):
        assert parse_size("0.0 B") == 0
        assert parse_size("total (min, med, max (stageId: taskId))\n"
                          "1.5 MiB (0.0 B, 0.0 B, 1.5 MiB (stage 3.0: task 7))") == 1572864
        assert parse_size("") == 0

    def test_counts(self):
        assert parse_count("0") == 0
        assert parse_count("1,234") == 1234
