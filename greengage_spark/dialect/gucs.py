"""SET / RESET / SHOW session configuration parameters (GUCs).

Reference surface: gram.y:2069 (VariableSetStmt), gram.y:2277
(VariableResetStmt), gram.y:2320 (VariableShowStmt); the parameter
semantics live in utils/misc/guc.c.  Every pg_dump preamble and most
regress scripts open with a block of SETs (search_path, datestyle,
optimizer, gp_* planner knobs), so an engine that errors on `SET` dies on
line 1 of any real ported script.

Policy (three tiers, mirroring how the parameters actually matter on a
Spark backend):

* **Mapped** — parameters with a true Spark equivalent get applied to the
  session: ``timezone`` → ``spark.sql.session.timeZone``,
  ``statement_mem``/``work_mem`` are recorded (Spark memory is per-executor
  static config, but we keep the declared intent visible via SHOW).
* **Recorded no-op** — planner/runtime knobs that have no meaning on
  Catalyst (``optimizer``, ``enable_seqscan``, ``gp_*``, ``search_path``
  with the default-only schema model, logging/timeout knobs).  Accepted,
  remembered, visible in SHOW, affect nothing — the same way the
  reference accepts-and-ignores GUCs for disabled features.
* **Semantic, constrained** — parameters whose non-default values would
  silently change query RESULTS are accepted only at their supported
  value and rejected loudly otherwise: ``standard_conforming_strings``
  must stay ``on``, ``datestyle`` must stay ISO, ``client_encoding`` must
  stay UTF8, ``bytea_output`` must stay ``hex``.  This is the honest
  contract: no wrong answers, ever — a script that needs
  ``standard_conforming_strings=off`` fails at the SET, not at a query
  three pages later.

Custom-namespace parameters (``myext.knob`` — any name with a dot) are
accepted and recorded, as in guc.c's placeholder mechanism.  Unknown
dotless names raise, matching PG's `unrecognized configuration parameter`.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

# Parameters that must keep their default value for results to be correct.
# name -> (default, frozenset of accepted spellings (lowercased))
_CONSTRAINED: dict[str, tuple[str, frozenset]] = {
    "standard_conforming_strings": ("on", frozenset({"on", "true", "1", "yes"})),
    "backslash_quote": ("safe_encoding", frozenset({"safe_encoding", "on"})),
    "client_encoding": ("UTF8", frozenset({"utf8", "unicode", "utf-8"})),
    "server_encoding": ("UTF8", frozenset({"utf8", "unicode", "utf-8"})),
    "bytea_output": ("hex", frozenset({"hex"})),
    "intervalstyle": ("postgres", frozenset({"postgres", "iso_8601"})),
    "transaction_isolation": (
        "read committed",
        frozenset({"read committed", "serializable", "repeatable read"}),
    ),
}

# DateStyle needs its own check: 'ISO, MDY' / 'ISO,DMY' / 'ISO' all fine —
# output format is ISO; the field-order half only matters for ambiguous
# datetime INPUT, which dialect/datetime_input.py parses as MDY.
_DATESTYLE_OK = re.compile(r"(?i)^\s*iso\s*(,\s*\w+)?\s*$")

# Recorded no-ops, by exact name.  Grouped to mirror guc.c categories.
_NOOP_NAMES = {
    # schema / path (single-schema model: public == default)
    "search_path", "default_tablespace", "temp_tablespaces", "role",
    "session_authorization",
    # planner choice knobs — Catalyst/AQE decides
    "optimizer", "optimizer_control", "enable_seqscan", "enable_indexscan",
    "enable_indexonlyscan", "enable_bitmapscan", "enable_tidscan",
    "enable_hashjoin", "enable_mergejoin", "enable_nestloop", "enable_sort",
    "enable_hashagg", "enable_groupagg", "enable_material",
    "from_collapse_limit", "join_collapse_limit", "default_statistics_target",
    "random_page_cost", "seq_page_cost", "cpu_tuple_cost", "effective_cache_size",
    "geqo", "geqo_threshold", "constraint_exclusion", "cursor_tuple_fraction",
    # memory/resource declarations — per-executor static config in Spark
    "work_mem", "statement_mem", "maintenance_work_mem", "temp_buffers",
    "max_statement_mem", "gp_vmem_protect_limit", "shared_buffers",
    "max_parallel_workers", "max_parallel_workers_per_gather",
    # timeouts / logging / client chatter
    "statement_timeout", "lock_timeout", "idle_in_transaction_session_timeout",
    "client_min_messages", "log_min_messages", "log_statement",
    "log_duration", "log_min_duration_statement", "application_name",
    "debug_print_plan", "trace_sort", "escape_string_warning",
    # durability knobs — meaningless on immutable parquet manifests
    "synchronous_commit", "fsync", "full_page_writes", "wal_level",
    "checkpoint_completion_target", "vacuum_cost_delay", "autovacuum",
    # misc compat
    "extra_float_digits", "lc_messages", "lc_monetary", "lc_numeric",
    "lc_time", "default_transaction_isolation", "default_transaction_read_only",
    "transaction_read_only", "transaction_deferrable", "xmloption",
    "check_function_bodies", "row_security", "statement_replay",
}

_SPECIAL_SHOW_DEFAULTS = {
    "timezone": "UTC",
    "datestyle": "ISO, MDY",
    "server_version": "9.4.26",  # reference numbering (PG 9.4-based GP)
    "max_connections": "250",
    "integer_datetimes": "on",
    "is_superuser": "on",
}


def _is_gp_knob(name: str) -> bool:
    """gp_* / pgaudit-style engine-family knobs: accept-and-record."""
    return name.startswith(("gp_", "pljava_", "plpython_", "optimizer_", "rg_"))


class GucManager:
    """Session parameter store + the SET/RESET/SHOW statement surface."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.values: dict[str, str] = {}  # explicitly-set parameters
        self._txn_local: set[str] = set()  # names set via SET LOCAL

    # ---- transaction integration (engine snapshots/restores) ----

    def snapshot(self) -> dict[str, str]:
        return dict(self.values)

    def restore(self, snap: dict[str, str]) -> None:
        self.values = dict(snap)
        self._txn_local.clear()
        self._apply_timezone(self.values.get("timezone", _SPECIAL_SHOW_DEFAULTS["timezone"]))
        self._apply_ts_config()

    def _apply_ts_config(self) -> None:
        cfg = self.values.get("default_text_search_config", "simple")
        self.spark.conf.set(
            "greengage.default_text_search_config",
            cfg.lower().split(".")[-1],
        )

    def end_txn_commit(self, snap: dict[str, str]) -> None:
        """SET LOCAL reverts at COMMIT; plain SET survives (guc.c AtEOXact)."""
        for name in self._txn_local:
            if name in snap:
                self.values[name] = snap[name]
            else:
                self.values.pop(name, None)
            if name == "timezone":
                self._apply_timezone(self.values.get("timezone", _SPECIAL_SHOW_DEFAULTS["timezone"]))
            elif name == "default_text_search_config":
                self._apply_ts_config()
        self._txn_local.clear()

    # ---- statement entry points ----

    def set(self, stmt: str, in_txn: bool) -> None:
        body = re.sub(r"(?is)^set\s+", "", stmt).strip()
        is_local = False
        m = re.match(r"(?is)^(local|session)\s+(.*)$", body)
        if m:
            is_local = m.group(1).lower() == "local"
            body = m.group(2).strip()
        # SET [SESSION] CHARACTERISTICS AS TRANSACTION ... /
        # SET TRANSACTION ISOLATION LEVEL ... — transaction-mode no-ops
        if re.match(r"(?is)^(characteristics\s+as\s+)?transaction\b", body):
            return None
        # SET CONSTRAINTS {ALL | name...} {DEFERRED | IMMEDIATE}
        # (trigger.c) — constraints here check eagerly at write time, so
        # deferral is a no-op (there is nothing to defer)
        if re.match(r"(?is)^constraints\b", body):
            return None
        # SET TIME ZONE <value | LOCAL | DEFAULT> (special gram.y production)
        m = re.match(r"(?is)^time\s+zone\s+(.*)$", body)
        if m:
            val = _unquote(m.group(1))
            if val.lower() in ("local", "default"):
                return self.reset("reset timezone")
            self._store("timezone", val, is_local and in_txn)
            self._apply_timezone(val)
            return None
        m = re.match(r"(?is)^([\w.]+)\s*(?:=|\bto\b)\s*(.+)$", body)
        if not m:
            raise NotImplementedError(f"SET syntax not recognized: {stmt!r}")
        name, raw = m.group(1).lower(), m.group(2).strip()
        val = _unquote(raw)
        if val.lower() == "default":
            return self.reset(f"reset {name}")

        if name in ("timezone", "time_zone"):
            self._store("timezone", val, is_local and in_txn)
            self._apply_timezone(val)
            return None
        if name == "datestyle":
            if not _DATESTYLE_OK.match(val):
                raise ValueError(
                    f"SET datestyle = {val!r}: only ISO output style is "
                    "supported (non-ISO styles would change query results)"
                )
            self._store(name, val, is_local and in_txn)
            return None
        if name == "default_text_search_config":
            # ts_cache.c: bare to_tsvector/to_tsquery pick this config
            # up; pg_sql reads the spark conf at transpile time
            cfg = val.lower().split(".")[-1]
            from greengage_spark.functions.snowball import LANGS

            if cfg not in ("simple", "english") and cfg not in LANGS:
                raise NotImplementedError(
                    f"default_text_search_config = {val!r}: 'simple', "
                    "'english', and the snowball configurations "
                    f"({'/'.join(LANGS)}) are implemented"
                )
            self._store(name, val, is_local and in_txn)
            self.spark.conf.set(
                "greengage.default_text_search_config", cfg
            )
            return None
        if name in _CONSTRAINED:
            default, accepted = _CONSTRAINED[name]
            if val.lower() not in accepted:
                raise ValueError(
                    f"SET {name} = {val!r}: unsupported — only "
                    f"{sorted(accepted)} keep results correct on this engine"
                )
            self._store(name, val, is_local and in_txn)
            return None
        if name in _NOOP_NAMES or _is_gp_knob(name) or "." in name:
            self._store(name, val, is_local and in_txn)
            if name.startswith("greengage."):
                # engine-owned knobs (gpfdists TLS paths, feature gates)
                # are read from the Spark conf at plan time
                self.spark.conf.set(name, val)
            return None
        raise ValueError(f'unrecognized configuration parameter "{name}"')

    def _store(self, name: str, val: str, txn_local: bool) -> None:
        self.values[name] = val
        if txn_local:
            self._txn_local.add(name)

    def _apply_timezone(self, tz: str) -> None:
        self.spark.conf.set("spark.sql.session.timeZone", tz)

    def reset(self, stmt: str) -> None:
        body = re.sub(r"(?is)^reset\s+", "", stmt).strip()
        if body.lower() == "all":
            if "timezone" in self.values:
                self._apply_timezone(_SPECIAL_SHOW_DEFAULTS["timezone"])
            if "default_text_search_config" in self.values:
                self.spark.conf.set(
                    "greengage.default_text_search_config", "simple"
                )
            self.values.clear()
            self._txn_local.clear()
            return None
        m = re.match(r"(?is)^(time\s+zone|[\w.]+)$", body)
        if not m:
            raise NotImplementedError(f"RESET syntax not recognized: {stmt!r}")
        name = re.sub(r"(?is)^time\s+zone$", "timezone", m.group(1).lower())
        known = (
            name in _NOOP_NAMES
            or name in _CONSTRAINED
            or name in _SPECIAL_SHOW_DEFAULTS
            or name in ("timezone", "datestyle",
                        "default_text_search_config")
            or _is_gp_knob(name)
            or "." in name
        )
        if not known:
            raise ValueError(f'unrecognized configuration parameter "{name}"')
        self.values.pop(name, None)
        self._txn_local.discard(name)
        if name == "timezone":
            self._apply_timezone(_SPECIAL_SHOW_DEFAULTS["timezone"])
        elif name == "default_text_search_config":
            self.spark.conf.set(
                "greengage.default_text_search_config", "simple"
            )
        elif name.startswith("greengage."):
            try:
                self.spark.conf.unset(name)
            except Exception:
                pass
        return None

    def current(self, name: str) -> str:
        name = name.lower()
        if name in self.values:
            return self.values[name]
        if name == "timezone":
            return self.spark.conf.get("spark.sql.session.timeZone", "UTC")
        if name in _SPECIAL_SHOW_DEFAULTS:
            return _SPECIAL_SHOW_DEFAULTS[name]
        if name in _CONSTRAINED:
            return _CONSTRAINED[name][0]
        if name in _NOOP_NAMES or _is_gp_knob(name) or "." in name:
            return ""
        raise ValueError(f'unrecognized configuration parameter "{name}"')

    def show(self, stmt: str) -> DataFrame:
        body = re.sub(r"(?is)^show\s+", "", stmt).strip().rstrip(";")
        if body.lower() == "all":
            rows = sorted(
                {
                    **{k: v[0] for k, v in _CONSTRAINED.items()},
                    **_SPECIAL_SHOW_DEFAULTS,
                    "datestyle": "ISO, MDY",
                    **self.values,
                    "timezone": self.current("timezone"),
                }.items()
            )
            return self.spark.createDataFrame(rows, "name string, setting string")
        name = re.sub(r"(?is)^time\s+zone$", "timezone", body.lower())
        val = self.current(name)
        return self.spark.createDataFrame([(val,)], f"`{name}` string")


def _unquote(v: str) -> str:
    v = v.strip()
    if len(v) >= 2 and v[0] == "'" and v[-1] == "'":
        return v[1:-1].replace("''", "'")
    return v
