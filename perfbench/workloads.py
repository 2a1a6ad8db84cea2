"""The benchmark's operations, generated from the workload seed.

An ``Op`` is one closed-loop request: the benchmark submits it, waits until
its rows are on the driver, and only then submits the next. The seed
permutes the order of each pass and picks the ETL slices and
predicates; the engine sees only the resulting SQL text and calls.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

SF = 0.01

WORKLOADS = {
    "sql_dml": "the 22 TPC-H queries as SQL text through Engine.sql beside one CTAS, INSERT, "
               "delete_where and three reads per pass: dialect, Catalyst, execution and the "
               "write path",
    "extension_ops": "iterative graph and dedup loops and Arrow-UDF registry operators: "
                     "driver-side build with many jobs per query and the Python/Arrow boundary",
}

# Extension operators, one pass: a graph loop (ktruss, the most jobs per
# query), the bigstar clustering loop of dedup, and similarity's kNN graph,
# whose pandas-UDF nodes cross the Arrow boundary.
EXTENSION_OPS = (
    "graph_ktruss",
    "dedup_cluster_bigstar",
    "sim_knn_graph",
)

# Unmeasured passes before the measured ones. After a cold start the
# extension operators keep getting faster for several passes (measured:
# graph_ktruss 6.2 s cold, 2.5 s in the first warm pass, 1.6-1.9 s from the
# fifth on), so they get a second warm-up pass.
WARMUP_PASSES = {"sql_dml": 1, "extension_ops": 2}

ETL_TABLE = "perfbench_etl"
ETL_KINDS = ("create", "insert", "delete", "read")

_ETL_READS = (
    ("read_agg",
     "SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS qty, "
     "CAST(sum(round(l_extendedprice * 100)) AS BIGINT) AS price_cents "
     "FROM {t} GROUP BY l_returnflag, l_linestatus"),
    ("read_point",
     "SELECT l_orderkey, l_linenumber, l_partkey, l_quantity, l_extendedprice, l_shipdate "
     "FROM {t} WHERE l_orderkey = {key}"),
    ("read_join",
     "SELECT o_orderpriority, count(*) AS n, "
     "CAST(sum(round(l_extendedprice * (1 - l_discount) * 100)) AS BIGINT) AS revenue_cents "
     "FROM {t} JOIN orders ON l_orderkey = o_orderkey GROUP BY o_orderpriority"),
)


@dataclass(frozen=True)
class Op:
    name: str
    kind: str  # sql | operator | create | insert | delete | read
    text: str = ""  # SQL text, delete predicate, or registry name
    oracle: str = ""  # SQL the expected answer is computed from


def tpch_sql(oracle_sql: dict[str, str]) -> list[Op]:
    return [Op(n, "sql", oracle_sql[n], oracle_sql[n]) for n in sorted(oracle_sql)
            if n.startswith("tpch_q")]


def extension_ops(oracle_sql: dict[str, str]) -> list[Op]:
    return [Op(n, "operator", n, oracle_sql[n]) for n in EXTENSION_OPS]


def make_pass(workload: str, base: list[Op], rng: random.Random) -> list[Op]:
    """One pass in seeded order. For ``sql_dml`` the steps of one ETL cycle
    are spread over the shuffled queries, in their own order."""
    order = list(base)
    rng.shuffle(order)
    if workload == "sql_dml":
        cycle = etl_cycle(rng, int(SF * 1_500_000))
        slots = sorted(rng.sample(range(len(order) + len(cycle)), len(cycle)))
        for slot, op in zip(slots, cycle):
            order.insert(slot, op)
    return order


def _delete_predicate(rng: random.Random) -> str:
    """A predicate that selects 10-17% of the rows."""
    form = rng.randrange(3)
    if form == 0:
        return f"l_linenumber = {rng.randint(1, 7)}"
    if form == 1:
        lo = rng.randint(1, 45)
        return f"l_quantity BETWEEN {lo} AND {lo + 4}"
    return f"l_returnflag = '{rng.choice('ANR')}' AND l_linestatus = '{rng.choice('FO')}'"


def etl_cycle(rng: random.Random, n_orders: int) -> list[Op]:
    """CTAS of one lineitem slice, INSERT of another, a delete, three reads.
    The table is dropped after the pass."""
    r1, r2 = rng.sample(range(4), 2)
    key = rng.randrange(n_orders // 4) * 4 + r1
    t = ETL_TABLE
    ops = [
        Op("ctas", "create", f"SELECT * FROM lineitem WHERE l_orderkey % 4 = {r1}"),
        Op("insert", "insert", f"SELECT * FROM lineitem WHERE l_orderkey % 4 = {r2}"),
        Op("delete", "delete", _delete_predicate(rng)),
    ]
    for name, sql in _ETL_READS:
        ops.append(Op(name, "read", sql.format(t=t, key=key)))
    return ops
