"""Seeded input generation and the independent DuckDB oracle over it.

Everything here runs before the ``setup_s`` clock starts and touches
neither Spark nor the engine: the program under test receives only
the files written here.
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_KEYS = 64

# bulk_raw: each task fetches one JSON-lines payload (gzipped by the
# engine on upload); jobs rotate through the pool. A job of 4 x 12,500
# records takes a few seconds, so a window holds several per lane.
BULK_PAYLOADS = 8
BULK_RECORDS = 12_500
# Setup warm-ups run one job over a tiny file; the settle units
# before the measured window do the heavy warming.
WARM_ROWS = 500

# query_mix tables. Every customer's order chain is at most
# MAX_CHAIN long and one customer has exactly MAX_CHAIN orders, so
# q67's recursion depth (its job count) is the same on every seed.
N_CUSTOMERS = 1_500
MAX_CHAIN = 12
N_LINEITEMS = 60_000


def _sized(rng: np.random.Generator, n: int) -> int:
    """``n`` give or take 5%, so record counts differ across seeds."""
    return int(n + rng.integers(-n // 20, n // 20 + 1))


def _records(rng: np.random.Generator, n: int, first_id: int) -> pa.Table:
    return pa.table(
        {
            "id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
            "key": pa.array([f"k{k:02d}" for k in rng.integers(0, N_KEYS, n)]),
            "qty": pa.array(rng.integers(1, 100, n), pa.int64()),
            "amount": pa.array(rng.integers(1, 1_000_000, n), pa.int64()),
        }
    )


def _write_jsonl(tbl: pa.Table, path: str) -> None:
    cols = tbl.to_pydict()
    with open(path, "w") as fh:
        for i, k, q, a in zip(cols["id"], cols["key"], cols["qty"], cols["amount"]):
            fh.write(f'{{"id":{i},"key":"{k}","qty":{q},"amount":{a}}}\n')


class Inputs:
    """Paths of the generated inputs plus the oracle's per-file
    aggregates: ``expected[path] = {key: (count, sum_qty, sum_amount)}``
    and ``counts[path] = rows``."""

    def __init__(self, root: str):
        self.root = root
        self.files: list[str] = []
        self.warm_file = ""
        self.tables_dir = os.path.join(root, "tables")
        self.expected: dict[str, dict[str, tuple[int, int, int]]] = {}
        self.counts: dict[str, int] = {}


def generate(workload: str, seed: int, root: str) -> Inputs:
    rng = np.random.default_rng(seed)
    os.makedirs(root, exist_ok=True)
    inp = Inputs(root)
    if workload == "query_mix":
        _write_tables(rng, inp.tables_dir)
        return inp
    if workload != "bulk_raw":
        raise ValueError(f"unknown workload {workload!r}")
    for i in range(BULK_PAYLOADS):
        path = os.path.join(root, f"bulk-{i:02d}.jsonl")
        _write_jsonl(_records(rng, _sized(rng, BULK_RECORDS), i * 10**6), path)
        inp.files.append(path)
    inp.warm_file = os.path.join(root, "warm.jsonl")
    _write_jsonl(_records(rng, WARM_ROWS, 10**9), inp.warm_file)
    con = duckdb.connect()
    try:
        for path in inp.files + [inp.warm_file]:
            rows = con.execute(
                "SELECT key, count(*), sum(qty), sum(amount) FROM read_json(?) GROUP BY key",
                [path],
            ).fetchall()
            inp.expected[path] = {k: (int(c), int(q), int(a)) for k, c, q, a in rows}
            inp.counts[path] = sum(c for c, _, _ in inp.expected[path].values())
    finally:
        con.close()
    return inp


def _write_tables(rng: np.random.Generator, out: str) -> None:
    """``orders`` and ``lineitem`` in the column layout the registry's
    relational rows read."""
    os.makedirs(out, exist_ok=True)
    chain = rng.integers(1, MAX_CHAIN + 1, N_CUSTOMERS)
    chain[rng.integers(0, N_CUSTOMERS)] = MAX_CHAIN
    cust = np.repeat(np.arange(N_CUSTOMERS, dtype=np.int64), chain)
    n = len(cust)
    rng.shuffle(cust)
    base = datetime(1995, 1, 1)
    days = rng.integers(0, 2400, n)
    orders = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n), pa.int64()),
            "o_custkey": pa.array(cust, pa.int64()),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n)),
            "o_totalprice": pa.array(np.round(rng.uniform(1_000, 500_000, n), 2)),
            "o_orderdate": pa.array(
                [base + timedelta(days=int(d)) for d in days], pa.timestamp("us")
            ),
            "o_orderpriority": pa.array(
                rng.choice(
                    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n
                )
            ),
        }
    )
    pq.write_table(orders, os.path.join(out, "orders.parquet"))
    m = N_LINEITEMS
    ship = rng.integers(0, 2500, m)
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n, m), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, 2_000, m), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, 100, m), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, m), pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, m).astype(np.float64)),
            "l_extendedprice": pa.array(np.round(rng.uniform(900, 105_000, m), 2)),
            "l_discount": pa.array(rng.integers(0, 11, m) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, m) / 100.0),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], m)),
            "l_linestatus": pa.array(rng.choice(["F", "O"], m)),
            "l_shipdate": pa.array(
                [base + timedelta(days=int(d)) for d in ship], pa.timestamp("us")
            ),
        }
    )
    pq.write_table(lineitem, os.path.join(out, "lineitem.parquet"))


def check_outputs(inp: Inputs, produced: dict[str, str]) -> list[tuple[str, str]]:
    """Compare each task's persisted output with the oracle.
    ``produced[output_dir] = input path``; returns ``(output_dir,
    message)`` for each task whose per-key counts and sums differ."""
    problems = []
    con = duckdb.connect()
    try:
        for out, src in sorted(produced.items()):
            try:
                rows = con.execute(
                    "SELECT key, count(*), sum(qty), sum(amount) "
                    "FROM read_parquet(?) GROUP BY key",
                    [os.path.join(out, "*.parquet")],
                ).fetchall()
            except duckdb.Error as e:
                problems.append((out, f"unreadable output ({e})"))
                continue
            got = {k: (int(c), int(q), int(a)) for k, c, q, a in rows}
            if got != inp.expected[src]:
                problems.append((out, f"per-key aggregates differ from {src}"))
    finally:
        con.close()
    return problems
