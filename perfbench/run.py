"""Benchmark of the greengage_spark engine, driven from outside through its
public entry points: `session.get_spark`, `catalog.shared_catalog(...)`,
the registry's `Query.fn`, `GreengageEngine.execute` and
`DataFrame.collect`.

    python3 perfbench/run.py --workload tpch_olap --seed 1 --seconds 10 --trace 0

Workloads: tpch_olap, llm_pipeline, pg_statements, or `all` (each in its
own process, one after the other).  The run builds its input tables,
draws the op order or statement stream from the seed, sets up, measures
whole passes of the workload's op list for about `--seconds`, checks
every result, and prints a report line (every
end-to-end metric by name and unit, plus provenance) and, as its last
line, one JSON object: {"correct", "attempted", "failed", "metrics"}.
With `--trace 0` the metrics are the gated end-to-end ones, with
`--trace 1` the per-layer ones of a traced pass; the traced run also
writes its spans to .perfbench/trace-<workload>-s<seed>.json.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import subprocess
import sys
import tempfile
import time
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import workloads as wl  # noqa: E402
from spark_probe import Probe, cpu_ticks, git_commit, host_ram_gb, tree_cpu_s, vm_hwm_mb  # noqa: E402
from measure import Tracer, fingerprint, median, percentile, rollup, unattributed_pct  # noqa: E402

# every end-to-end metric.  GATED are the ones BENCHMARK.json bounds: they
# exist and are never 0 on every workload.  Besides the wall `setup_s` they
# count CPU seconds of this process and its JVM, which CPU taken by other
# guests of a shared host inflates less than wall time; they cannot see a
# change in parallelism (README.md gives the measured spreads)
E2E_UNITS = {
    "setup_s": "s", "setup_cpu_s": "s", "pass_s": "s", "pass_cpu_s": "s",
    "read_ms.p50": "ms", "read_ms.p90": "ms",
    "write_ms.p50": "ms", "write_ms.p90": "ms",
    "error_ratio": "ratio", "peak_rss_mb": "MB",
}
GATED = ("setup_s", "setup_cpu_s", "pass_cpu_s")

# per-layer metrics; per-pass figures are totals over one traced pass
LAYER_UNITS = {
    "session.start_s": "s", "catalog.warm_s": "s",
    "plans.build_ms": "ms", "plans.eager_jobs": "count",
    "dialect.transpile_ms": "ms", "dialect.calls": "count",
    "engine.execute_ms": "ms", "engine.jobs": "count",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms", "catalyst.exchanges": "count",
    "catalyst.python_eval_nodes": "count",
    "exec.run_ms": "ms", "exec.jobs": "count", "exec.tasks": "count",
    "exec.task_busy_s": "s", "exec.core_util": "ratio", "exec.task_skew": "ratio",
    "exec.shuffle_write_bytes": "bytes", "exec.spill_bytes": "bytes",
    "exec.sort_fallback_tasks": "count",
    "transfer.ms": "ms", "transfer.rows": "count",
    "storage.bytes_written_per_row": "bytes", "storage.files_live": "count",
    "storage.space_amp": "ratio", "jvm.gc_ms": "ms",
    "trace.unattributed_pct": "%", "trace.overhead_pct": "%",
}
# span name -> per-layer metric of its self time, in ms
SPAN_METRICS = {
    "plans.build": "plans.build_ms", "dialect.transpile": "dialect.transpile_ms",
    "engine.execute": "engine.execute_ms", "catalyst.analysis": "catalyst.analysis_ms",
    "catalyst.optimization": "catalyst.optimization_ms",
    "catalyst.planning": "catalyst.planning_ms",
    "exec.run": "exec.run_ms", "transfer": "transfer.ms",
}


class OpFailed(Exception):
    pass


class Bench:
    """One workload run: the session, its probes and what was measured."""

    def __init__(self, args, work: str):
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work = work
        self.tracer = Tracer(enabled=False)
        self.min_passes = self.traced_passes if self.trace else self.plain_passes
        self.attempted = 0
        self.failures: list[str] = []
        self.setup: dict[str, float] = {}
        self.setup_cpu_s = 0.0
        self.jvm_pid: int | None = None
        self.read_ms: list[float] = []
        self.write_ms: list[float] = []
        self.pass_s: list[float] = []
        self.pass_cpu_s: list[float] = []
        self.traced_pass_s: list[float] = []
        self.layers: list[dict] = []  # one dict of counters per traced pass
        self.cur: dict | None = None  # counters of the traced pass under way
        self.op_ms: dict[str, list[float]] = {}
        self.group = 0

    # ---------------- bookkeeping ----------------

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failures.append(what)

    def count(self, key: str, n: float) -> None:
        if self.cur is not None:
            self.cur[key] = self.cur.get(key, 0) + n

    def next_group(self, kind: str) -> str:
        self.group += 1
        return f"perfbench-{kind}-{self.group}"

    def cpu_s(self) -> float:
        return tree_cpu_s(self.jvm_pid)

    @contextmanager
    def setup_step(self, key: str):
        """Time one set-up step, in wall and in CPU seconds."""
        c0, t0 = self.cpu_s(), time.perf_counter()
        yield
        self.setup[key] = time.perf_counter() - t0
        self.setup_cpu_s += self.cpu_s() - c0

    # ---------------- session ----------------

    def start(self) -> None:
        with self.setup_step("session.start_s"):
            from greengage_spark.session import get_spark

            self.spark = get_spark("perfbench")
            self.sc = self.spark.sparkContext
            # inside the step: the JVM's CPU since launch counts as set-up
            self.jvm_pid = int(self.spark._jvm.ProcessHandle.current().pid())
        self.probe = Probe(self.spark)

    def stop(self) -> None:
        """Stop the session and the JVM behind it, and wait for the JVM."""
        spark = getattr(self, "spark", None)
        if spark is None:
            return
        gateway = self.sc._gateway
        proc = getattr(gateway, "proc", None)
        spark.stop()
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    def make_inputs(self) -> str:
        return datagen.write_dataset(os.path.join(ROOT, ".perfbench"))

    # ---------------- traced op plumbing ----------------

    def add_phases(self, df, analysis_parent, plan_parent) -> None:
        """Catalyst's own phase timings of `df`, as child spans: parsing
        and analysis ran while the DataFrame was built, optimization and
        planning when its executed plan was forced."""
        phases = df._jdf.queryExecution().tracker().phases()
        it = phases.iterator()
        while it.hasNext():
            kv = it.next()
            name, ph = kv._1(), kv._2()
            start, end = ph.startTimeMs() / 1000.0, ph.endTimeMs() / 1000.0
            if name in ("parsing", "analysis") and analysis_parent is not None:
                self.tracer.add("catalyst.analysis", start, end, analysis_parent)
            elif name in ("optimization", "planning") and plan_parent is not None:
                self.tracer.add("catalyst." + name, start, end, plan_parent)

    def traced_collect(self, df):
        """Force the executed plan, then collect; the collect is split at
        the SQL execution's end into exec.run and transfer."""
        tr = self.tracer
        group = self.next_group("exec")
        self.sc.setJobGroup(group, "collect")
        with tr.span("catalyst.plan") as plan:
            df._jdf.queryExecution().executedPlan()
        before = self.probe.last_execution_id()
        c0 = tr.clock()
        rows = df.collect()
        c1 = tr.clock()
        return rows, (group, plan, before, c0, c1)

    def account_collect(self, df, root, build_span, pending) -> None:
        """After the op: spans and counters of a traced collect."""
        group, plan, before, c0, c1 = pending
        execs = self.probe.executions_after(before)
        ends = [e for e in (self.probe.completion_s(x) for x in execs) if e is not None]
        end = max(ends) if ends else c1
        self.tracer.add("exec.run", c0, end, root)
        self.tracer.add("transfer", end, c1, root)
        self.add_phases(df, build_span, plan)
        jobs = self.probe.group_jobs(group)
        js = self.probe.job_stats(jobs)
        self.count("exec.jobs", len(jobs))
        self.count("exec.tasks", js["tasks"])
        self.count("exec.task_busy_s", js["busy_s"])
        self.count("exec.shuffle_write_bytes", js["shuffle_write_bytes"])
        if self.cur is not None:
            self.cur["exec.task_skew"] = max(self.cur.get("exec.task_skew", 1.0), js["skew"])
            self.cur["_exec_run_s"] = self.cur.get("_exec_run_s", 0.0) + max(0.0, end - c0)

    def account_plans(self, first_execution: int) -> None:
        ps = self.probe.plan_stats(self.probe.executions_after(first_execution))
        self.count("catalyst.exchanges", ps["exchanges"])
        self.count("catalyst.python_eval_nodes", ps["python_eval_nodes"])
        self.count("exec.spill_bytes", ps["spill_bytes"])
        self.count("exec.sort_fallback_tasks", ps["sort_fallback_tasks"])

    def install_dialect_spans(self) -> None:
        """Wrap `transpile` where engine.py binds it and where pg_sql looks
        it up, so the dialect layer gets spans and a call count."""
        import greengage_spark.dialect.transpiler as tmod
        import greengage_spark.engine as emod

        inner = tmod.transpile
        depth = [0]
        bench = self

        def transpile(sql, *a, **kw):
            if not bench.tracer.enabled:
                return inner(sql, *a, **kw)
            if depth[0] == 0:
                bench.count("dialect.calls", 1)
            depth[0] += 1
            try:
                with bench.tracer.span("dialect.transpile"):
                    return inner(sql, *a, **kw)
            finally:
                depth[0] -= 1

        emod.transpile = transpile
        tmod.transpile = transpile

    def begin_traced_pass(self) -> None:
        self.cur = {}
        self.span_mark = len(self.tracer.spans)

    def end_traced_pass(self, seconds: float) -> None:
        layer = self.cur
        spans = self.tracer.spans[self.span_mark:]
        own = rollup(spans)
        for span, metric in SPAN_METRICS.items():
            layer[metric] = own.get(span, 0.0) * 1000.0
        busy = layer.get("exec.task_busy_s", 0.0)
        run_s = layer.pop("_exec_run_s", 0.0)
        cores = self.sc.defaultParallelism
        layer["exec.core_util"] = busy / (run_s * cores) if run_s else 0.0
        layer["trace.unattributed_pct"] = unattributed_pct(spans)
        self.layers.append(layer)
        self.traced_pass_s.append(seconds)
        self.cur = None

    # ---------------- the measured window ----------------

    def window(self) -> None:
        """Whole passes, started while the last one would still fit into
        `--seconds`; at least `min_passes`."""
        t0 = time.perf_counter()
        k = 0
        while True:
            p0 = time.perf_counter()
            self.run_pass(k)
            k += 1
            last = time.perf_counter() - p0
            if k >= self.min_passes and time.perf_counter() - t0 + last > self.seconds:
                break


# ---------------------------------------------------------------- OLAP


class OlapBench(Bench):
    plain_passes = 1
    traced_passes = 1  # each traced pass also runs every op untraced

    def setup_workload(self, data: str) -> None:
        from greengage_spark.catalog import shared_catalog

        with self.setup_step("catalog.warm_s"):
            shared_catalog(self.spark, data).warm()

        warm = []
        with self.setup_step("warmup_s"):
            from greengage_spark.plans.registry import all_queries

            self.queries = all_queries()
            self.data = data
            for name in wl.pass_order(self.workload, self.seed, -1):
                df = self.queries[name].fn(self.spark, data)
                warm.append((name, df, df.collect()))
                self.spark.catalog.clearCache()
        self.oracles = self.compute_oracles(data)
        for name, df, rows in warm:
            self.check_rows(name, df, rows)

    def compute_oracles(self, data: str) -> dict:
        """Each op's DuckDB answer, normalized; ops without one are
        compared with their first result in the run instead."""
        from selfcheck import duck_connect, normalize

        con = duck_connect(data)
        out = {}
        for name in wl.OLAP[self.workload]:
            sql = self.queries[name].oracle
            if sql is not None:
                out[name] = normalize(con.execute(sql).df())
        con.close()
        self.first_seen: dict[str, str] = {}
        return out

    def check_rows(self, name: str, df, rows) -> None:
        if name not in self.oracles:
            fp = fingerprint(rows)
            ok = self.first_seen.setdefault(name, fp) == fp
            self.check(ok, f"{name}: result differs from its first result")
            return
        from selfcheck import frames_equal, normalize

        ok, msg = frames_equal(normalize(rows_to_frame(rows, df.schema)), self.oracles[name])
        self.check(ok, f"{name}: {msg}")

    def run_plain(self, name: str) -> tuple[float, float]:
        """Wall and CPU seconds of one op."""
        c0, t0 = self.cpu_s(), time.perf_counter()
        try:
            df = self.queries[name].fn(self.spark, self.data)
            rows = df.collect()
        except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
            self.check(False, f"{name}: {type(e).__name__}: {e}"[:300])
            raise OpFailed from e
        dt, cpu = time.perf_counter() - t0, self.cpu_s() - c0
        self.spark.catalog.clearCache()
        self.check_rows(name, df, rows)
        return dt, cpu

    def run_traced(self, name: str) -> float:
        tr = self.tracer
        tr.enabled = True
        first = self.probe.last_execution_id()
        gc0 = self.probe.gc_ms()
        build_group = self.next_group("build")
        try:
            with tr.span("op", op=name) as root:
                self.sc.setJobGroup(build_group, "build")
                with tr.span("plans.build") as build:
                    df = self.queries[name].fn(self.spark, self.data)
                rows, pending = self.traced_collect(df)
        except Exception as e:  # noqa: BLE001
            self.check(False, f"{name} (traced): {type(e).__name__}: {e}"[:300])
            raise OpFailed from e
        finally:
            tr.enabled = False
            self.sc._jsc.clearJobGroup()
        self.probe.drain()
        self.count("jvm.gc_ms", self.probe.gc_ms() - gc0)
        self.count("plans.eager_jobs", len(self.probe.group_jobs(build_group)))
        self.count("transfer.rows", len(rows))
        self.account_collect(df, root, build, pending)
        self.account_plans(first)
        self.spark.catalog.clearCache()
        self.check_rows(name, df, rows)
        return root.seconds

    def run_pass(self, k: int) -> None:
        order = wl.pass_order(self.workload, self.seed, k)
        if self.trace:
            self.begin_traced_pass()
        plain = plain_cpu = traced = 0.0
        for i, name in enumerate(order):
            try:
                if self.trace:
                    # plain and traced back to back, alternating which goes
                    # first, so code warmed by one run helps both sides alike
                    if (i + k) % 2:
                        traced += self.run_traced(name)
                        dt, cpu = self.run_plain(name)
                    else:
                        dt, cpu = self.run_plain(name)
                        traced += self.run_traced(name)
                else:
                    dt, cpu = self.run_plain(name)
            except OpFailed:
                continue
            plain += dt
            plain_cpu += cpu
            self.read_ms.append(dt * 1000.0)
            self.op_ms.setdefault(name, []).append(dt * 1000.0)
        self.pass_s.append(plain)
        self.pass_cpu_s.append(plain_cpu)
        if self.trace:
            self.end_traced_pass(traced)


def rows_to_frame(rows, schema):
    """Collected rows as the pandas frame toPandas would give the checker."""
    import pandas as pd

    frame = pd.DataFrame.from_records([tuple(r) for r in rows], columns=schema.fieldNames())
    for i, f in enumerate(schema.fields):
        kind = f.dataType.typeName()
        col = frame.iloc[:, i]
        if kind in ("date", "timestamp", "timestamp_ntz"):
            frame.isetitem(i, pd.to_datetime(col))
        elif kind == "decimal":
            frame.isetitem(i, col.astype("float64"))
    return frame


# ---------------------------------------------------------------- PG statements


class PgBench(Bench):
    plain_passes = 1
    # statements change the table, so a traced pass cannot rerun the plain
    # one's statements: it runs between two plain passes instead
    traced_passes = 3

    def setup_workload(self, data: str) -> None:
        import duckdb
        from greengage_spark.catalog import shared_catalog

        with self.setup_step("catalog.warm_s"):
            cat = shared_catalog(self.spark, data)
            cat.warm(["orders"])

        self.shadow = duckdb.connect()
        self.shadow.execute(
            f"CREATE TABLE {wl.TABLE} AS SELECT * FROM "
            f"read_parquet('{os.path.join(data, 'orders.parquet')}')")
        self.stream = wl.StatementStream(self.seed)

        self.warehouse = os.path.join(self.work, "warehouse")
        self.table_dir = os.path.join(self.warehouse, wl.TABLE)
        warm = []
        with self.setup_step("warmup_s"):
            from greengage_spark.engine import GreengageEngine

            cat.register_views(["orders"])
            self.engine = GreengageEngine(self.spark, self.warehouse)
            self.engine.execute(
                f"CREATE TABLE {wl.TABLE} AS SELECT * FROM orders DISTRIBUTED BY (o_orderkey)")
            for stmt in self.stream.next_pass(wl.WARMUP_MIX):
                try:
                    warm.append((stmt, self.run_plain(stmt)[2]))
                except OpFailed:
                    pass
        for stmt, rows in warm:  # the shadow replays them in order
            self.after(stmt, rows)
        self.vacuumed_bytes = self.table_bytes()
        self.new_bytes = 0
        self.changed_rows = 0

    def shadow_check(self, stmt: wl.Stmt, rows) -> int:
        """Run the statement on the DuckDB shadow; compare a read's rows.
        Returns the rows a write changed."""
        if stmt.duck is None:
            return 0
        res = self.shadow.execute(stmt.duck)
        if stmt.is_write:
            self.check(True, stmt.pg)
            return int(res.fetchone()[0])
        want = res.fetchall()
        self.check(fingerprint(rows, stmt.ordered) == fingerprint(want, stmt.ordered),
                   f"{stmt.kind}: result differs from the shadow: {stmt.pg}")
        return 0

    def run_plain(self, stmt: wl.Stmt) -> tuple[float, float, list | None]:
        """Wall seconds, CPU seconds and rows of one statement; the caller
        checks the rows."""
        c0, t0 = self.cpu_s(), time.perf_counter()
        try:
            df = self.engine.execute(stmt.pg)
            rows = df.collect() if df is not None else None
        except Exception as e:  # noqa: BLE001
            self.check(False, f"{stmt.pg}: {type(e).__name__}: {e}"[:300])
            raise OpFailed from e
        return time.perf_counter() - t0, self.cpu_s() - c0, rows

    def run_traced(self, stmt: wl.Stmt) -> float:
        tr = self.tracer
        tr.enabled = True
        first = self.probe.last_execution_id()
        gc0 = self.probe.gc_ms()
        group = self.next_group("engine")
        pending = rows = None
        before = self.table_files() if stmt.kind in ("insert", "update", "delete") else None
        try:
            with tr.span("op", op=stmt.kind) as root:
                self.sc.setJobGroup(group, "execute")
                with tr.span("engine.execute") as eng:
                    df = self.engine.execute(stmt.pg)
                if df is not None:
                    rows, pending = self.traced_collect(df)
        except Exception as e:  # noqa: BLE001
            self.check(False, f"{stmt.pg} (traced): {type(e).__name__}: {e}"[:300])
            raise OpFailed from e
        finally:
            tr.enabled = False
            self.sc._jsc.clearJobGroup()
        self.probe.drain()
        self.count("jvm.gc_ms", self.probe.gc_ms() - gc0)
        self.count("engine.jobs", len(self.probe.group_jobs(group)))
        if pending is not None:
            self.count("transfer.rows", len(rows))
            self.account_collect(df, root, eng, pending)
        self.account_plans(first)
        self.after(stmt, rows)
        if before is not None:
            self.new_bytes += sum(n for f, n in self.table_files().items() if f not in before)
        return root.seconds

    def after(self, stmt: wl.Stmt, rows) -> None:
        changed = self.shadow_check(stmt, rows)
        if self.cur is not None:
            self.changed_rows += changed
        if stmt.kind == "vacuum":
            self.vacuumed_bytes = self.table_bytes()

    # ---------------- storage, walked outside the timed windows ----------------

    def table_files(self) -> dict[str, int]:
        out = {}
        for base, _dirs, names in os.walk(self.table_dir):
            for n in names:
                if n.endswith(".parquet"):
                    p = os.path.join(base, n)
                    out[p] = os.path.getsize(p)
        return out

    def table_bytes(self) -> int:
        return sum(self.table_files().values())

    def live_files(self) -> int:
        versions = [int(n[1:-5]) for n in os.listdir(self.table_dir)
                    if n.startswith("v") and n.endswith(".json") and n[1:-5].isdigit()]
        with open(os.path.join(self.table_dir, f"v{max(versions)}.json")) as fh:
            return len(json.load(fh)["files"])

    def run_pass(self, k: int) -> None:
        traced_pass = self.trace and k == 1
        if traced_pass:
            self.begin_traced_pass()
            self.new_bytes = self.changed_rows = 0
        total = total_cpu = 0.0
        for stmt in self.stream.next_pass():
            try:
                if traced_pass:
                    dt, cpu = self.run_traced(stmt), 0.0
                else:
                    dt, cpu, rows = self.run_plain(stmt)
                    self.after(stmt, rows)
            except OpFailed:
                continue
            total += dt
            total_cpu += cpu
            if not traced_pass:
                (self.write_ms if stmt.is_write else self.read_ms).append(dt * 1000.0)
                self.op_ms.setdefault(stmt.kind, []).append(dt * 1000.0)
        if traced_pass:
            self.cur["storage.bytes_written_per_row"] = self.new_bytes / max(1, self.changed_rows)
            self.end_traced_pass(total)
        else:
            self.pass_s.append(total)
            self.pass_cpu_s.append(total_cpu)

    def finish(self) -> None:
        """Compare the final table with the shadow's, and size the table."""
        rows = self.engine.execute(f"SELECT * FROM {wl.TABLE}").collect()
        want = self.shadow.execute(f"SELECT * FROM {wl.TABLE}").fetchall()
        self.check(fingerprint(rows) == fingerprint(want), "final table differs from the shadow")
        for layer in self.layers:
            layer["storage.files_live"] = self.live_files()
            layer["storage.space_amp"] = self.table_bytes() / max(1, self.vacuumed_bytes)


# ---------------------------------------------------------------- reporting


def provenance(b: Bench, load_before, ticks_before) -> dict:
    import duckdb
    import pyspark

    steal, total = (now - then for now, then in zip(cpu_ticks(), ticks_before))
    return {
        "host_cores": os.cpu_count(),
        "host_ram_gb": host_ram_gb(),
        "spark_graft_cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
        "default_parallelism": b.sc.defaultParallelism,
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "duckdb": duckdb.__version__,
        "git_commit": git_commit(ROOT),
        "seed": b.seed,
        "loadavg_before": [round(x, 2) for x in load_before],
        "loadavg_after": [round(x, 2) for x in os.getloadavg()],
        "cpu_steal_pct": round(100.0 * steal / max(1, total), 2),
    }


def end_to_end(b: Bench, rss_mb: float) -> dict:
    values = {
        "setup_s": sum(b.setup.values()),
        "setup_cpu_s": b.setup_cpu_s,
        "pass_s": median(b.pass_s),
        "pass_cpu_s": median(b.pass_cpu_s),
        "read_ms.p50": median(b.read_ms),
        "read_ms.p90": percentile(b.read_ms, 0.9),
        "write_ms.p50": median(b.write_ms),
        "write_ms.p90": percentile(b.write_ms, 0.9),
        "error_ratio": len(b.failures) / max(1, b.attempted),
        "peak_rss_mb": rss_mb,
    }
    return {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in values.items()}


def per_layer(b: Bench) -> dict:
    layers = b.layers
    values = {"session.start_s": b.setup.get("session.start_s", 0.0),
              "catalog.warm_s": b.setup.get("catalog.warm_s", 0.0)}
    for key in LAYER_UNITS:
        if key in values or key == "trace.overhead_pct":
            continue
        vals = [layer.get(key, 0) for layer in layers]
        values[key] = median(vals) if vals else 0
    plain = median(b.pass_s)
    traced = median(b.traced_pass_s)
    values["trace.overhead_pct"] = 100.0 * (traced / plain - 1.0) if plain and traced else 0.0
    return {k: {"value": values[k], "unit": LAYER_UNITS[k]} for k in LAYER_UNITS}


def run_one(args) -> int:
    work = tempfile.mkdtemp(prefix="run-", dir=os.path.join(ROOT, ".perfbench"))
    for sub in ("local", "tmp"):
        os.makedirs(os.path.join(work, sub))
    # scratch files of Spark, the JVM and Python stay inside the run directory
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    os.environ["JAVA_TOOL_OPTIONS"] = (
        os.environ.get("JAVA_TOOL_OPTIONS", "") + f" -Djava.io.tmpdir={work}/tmp").strip()
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))

    bench = (PgBench if args.workload == "pg_statements" else OlapBench)(args, work)
    try:
        wl.check_determinism(args.workload, args.seed)
        data = bench.make_inputs()
        load_before = os.getloadavg()
        ticks_before = cpu_ticks()
        bench.start()
        if args.trace:
            bench.install_dialect_spans()
        bench.setup_workload(data)
        bench.window()
        if isinstance(bench, PgBench):
            bench.finish()
        rss = vm_hwm_mb() + vm_hwm_mb(bench.jvm_pid)
        e2e = end_to_end(bench, rss)
        report = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "end_to_end": e2e,
            "setup": bench.setup,
            "samples": {"passes": len(bench.pass_s), "reads": len(bench.read_ms),
                        "writes": len(bench.write_ms)},
            "op_ms": {k: median(v) for k, v in sorted(bench.op_ms.items())},
            "failures": bench.failures[:10],
            "provenance": provenance(bench, load_before, ticks_before),
        }
        if args.trace:
            report["per_layer"] = per_layer(bench)
            bench.tracer.dump(os.path.join(
                ROOT, ".perfbench", f"trace-{args.workload}-s{args.seed}.json"))
            metrics = report["per_layer"]
        else:
            metrics = {k: e2e[k] for k in GATED}
    finally:
        bench.stop()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(report))
    print(json.dumps({
        "correct": not bench.failures,
        "attempted": bench.attempted,
        "failed": len(bench.failures),
        "metrics": metrics,
    }))
    return 0


def run_all(args) -> int:
    """Every workload, each in its own process, one after the other."""
    merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in wl.WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=True).stdout
        lines = out.strip().splitlines()
        print(lines[-2])
        last = json.loads(lines[-1])
        merged["correct"] &= last["correct"]
        merged["attempted"] += last["attempted"]
        merged["failed"] += last["failed"]
        for k, v in last["metrics"].items():
            merged["metrics"][f"{name}.{k}"] = v
    print(json.dumps(merged))
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=(*wl.WORKLOADS, "all"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [p for p in ("greengage_spark/__init__.py", "tools/selfcheck.py")
               if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not a greengage_spark checkout, missing {missing}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    saved = list(sys.path)
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import selfcheck  # noqa: F401  (its import prepends a path of its own)

    sys.path[:] = saved

    os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
    return run_all(args) if args.workload == "all" else run_one(args)


if __name__ == "__main__":
    sys.exit(main())
