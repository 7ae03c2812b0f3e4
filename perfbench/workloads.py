"""What each workload runs, as a pure function of the seed.

`tpch_olap` and `llm_pipeline` are fixed lists of registry rows, run in a
seeded order per pass.  `pg_statements` is a seeded stream of PG-dialect
statements against `orders_w`, each with the DuckDB spelling its shadow
runs.  A pass of the stream has a fixed make-up (the kinds below), so its
cost does not depend on the seed's draw; the seed picks the order, the
keys and the literals."""

from __future__ import annotations

import random
from dataclasses import dataclass

import numpy as np

TPCH_OLAP = [
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier",
    "q6_revenue_forecast", "q9_product_profit", "q13_customer_distribution",
    "q18_large_volume_customer", "q21_waiting_supplier",
]
LLM_PIPELINE = [
    "dedup_exact", "dedup_minhash_lsh", "dedup_substring_spans",
    "similarity_bruteforce_topk", "similarity_lsh_topk",
    "similarity_ivf_topk", "text_quality_metrics",
]
OLAP = {"tpch_olap": TPCH_OLAP, "llm_pipeline": LLM_PIPELINE}
WORKLOADS = ("tpch_olap", "llm_pipeline", "pg_statements")

TABLE = "orders_w"
ORDERS = 150_000  # rows of the generated `orders`, keys 0..ORDERS-1
ZIPF_S = 1.1

# kind -> statements of that kind in one pass: 14 reads, 6 writes
PASS_MIX = {
    "point": 4, "range": 3, "agg": 3, "const": 4,
    "insert": 2, "update": 2, "delete": 1, "vacuum": 1,
}
WARMUP_MIX = dict.fromkeys(PASS_MIX, 1)
WRITES = {"insert", "update", "delete", "vacuum"}
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def pass_order(workload: str, seed: int, k: int) -> list[str]:
    """The op list of OLAP pass `k`, shuffled by (seed, k)."""
    ops = list(OLAP[workload])
    random.Random(f"{workload}:{seed}:{k}").shuffle(ops)
    return ops


@dataclass(frozen=True)
class Stmt:
    kind: str
    pg: str
    duck: str | None  # None: the shadow has nothing to do
    ordered: bool = False  # rows come in a fixed order, and it is checked

    @property
    def is_write(self) -> bool:
        return self.kind in WRITES


class StatementStream:
    """Seeded statement passes.  Writes pick keys from a Zipf law over a
    seeded permutation of the key space; INSERTs take fresh keys above it."""

    def __init__(self, seed: int):
        self.rng = np.random.default_rng([seed, 7])
        ranks = np.arange(1, ORDERS + 1, dtype=np.float64)
        self.cdf = np.cumsum(ranks ** -ZIPF_S)
        self.cdf /= self.cdf[-1]
        self.keys = self.rng.permutation(ORDERS)
        self.next_key = 1_000_000

    def zipf_key(self) -> int:
        return int(self.keys[np.searchsorted(self.cdf, self.rng.random())])

    def next_pass(self, mix: dict[str, int] = PASS_MIX) -> list[Stmt]:
        kinds = [k for k, n in mix.items() for _ in range(n)]
        kinds.remove("vacuum")
        self.rng.shuffle(kinds)
        kinds.insert(len(kinds) // 2, "vacuum")  # periodic: mid-pass
        return [getattr(self, "_" + k)() for k in kinds]

    def _point(self) -> Stmt:
        k = self.zipf_key()
        cols = "o_orderkey, o_custkey, o_orderstatus"
        where = f"FROM {TABLE} WHERE o_orderkey = {k}"
        return Stmt(
            "point",
            f"SELECT {cols}, o_totalprice::numeric(12,2) AS price, "
            f"to_char(o_orderdate, 'YYYY-MM-DD') AS day {where}",
            f"SELECT {cols}, CAST(o_totalprice AS DECIMAL(12,2)) AS price, "
            f"strftime(o_orderdate, '%Y-%m-%d') AS day {where}",
        )

    def _range(self) -> Stmt:
        lo = int(self.rng.integers(0, ORDERS - 2000))
        hi = lo + int(self.rng.integers(200, 2000))
        tail = (f"count(*) AS n FROM {TABLE} "
                f"WHERE o_orderkey BETWEEN {lo} AND {hi} GROUP BY 1 ORDER BY 1")
        return Stmt(
            "range",
            f"SELECT date_trunc('month', o_orderdate) AS month, {tail}",
            f"SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) "
            f"AS month, {tail}",
            ordered=True,
        )

    def _agg(self) -> Stmt:
        floor = int(self.rng.integers(1_000, 400_000))
        tail = (f"FROM {TABLE} WHERE o_totalprice > {floor} "
                "GROUP BY o_orderstatus ORDER BY o_orderstatus")
        return Stmt(
            "agg",
            "SELECT o_orderstatus, count(*) AS n, "
            f"sum(o_totalprice::numeric(14,2)) AS total, "
            f"max(o_custkey) AS top {tail}",
            "SELECT o_orderstatus, count(*) AS n, "
            f"sum(CAST(o_totalprice AS DECIMAL(14,2))) AS total, "
            f"max(o_custkey) AS top {tail}",
            ordered=True,
        )

    def _const(self) -> Stmt:
        a, b = (int(x) for x in self.rng.integers(0, 10_000, 2))
        tail = f"{a} + {b} AS s, 'k' || '{a}' AS t"
        return Stmt(
            "const",
            f"SELECT {tail}, {b}::numeric(10,2) * 2 AS d",
            f"SELECT {tail}, CAST({b} AS DECIMAL(10,2)) * 2 AS d",
        )

    def _insert(self) -> Stmt:
        key, self.next_key = self.next_key, self.next_key + 1
        cust = self.zipf_key() % 15_000
        status = STATUSES[int(self.rng.integers(0, 3))]
        price = int(self.rng.integers(100_000, 50_000_000)) / 100
        day = f"{1995 + int(self.rng.integers(0, 6))}-0{1 + int(self.rng.integers(0, 9))}-15"
        prio = PRIORITIES[int(self.rng.integers(0, 5))]
        vals = f"{key}, {cust}, '{status}', {price}, %s, '{prio}'"
        return Stmt(
            "insert",
            f"INSERT INTO {TABLE} VALUES ({vals % repr(day)})",
            f"INSERT INTO {TABLE} VALUES ({vals % ('TIMESTAMP ' + repr(day))})",
        )

    def _update(self) -> Stmt:
        delta = int(self.rng.integers(1, 1000)) / 100
        sql = (f"UPDATE {TABLE} SET o_totalprice = o_totalprice + {delta} "
               f"WHERE o_orderkey = {self.zipf_key()}")
        return Stmt("update", sql, sql)

    def _delete(self) -> Stmt:
        sql = f"DELETE FROM {TABLE} WHERE o_orderkey = {self.zipf_key()}"
        return Stmt("delete", sql, sql)

    def _vacuum(self) -> Stmt:
        return Stmt("vacuum", f"VACUUM FULL {TABLE}", None)


def plan_digest(workload: str, seed: int) -> list:
    """What the seed decides for the first three passes: the op orders, or
    the statement list."""
    if workload in OLAP:
        return [pass_order(workload, seed, k) for k in range(3)]
    stream = StatementStream(seed)
    return [[s.pg for s in stream.next_pass()] for _ in range(3)]


def check_determinism(workload: str, seed: int) -> None:
    """The same seed must give the same plan, another seed another plan."""
    first = plan_digest(workload, seed)
    if plan_digest(workload, seed) != first:
        raise RuntimeError(f"{workload}: seed {seed} gives two different plans")
    if plan_digest(workload, seed + 1) == first:
        raise RuntimeError(f"{workload}: seeds {seed} and {seed + 1} give one plan")
