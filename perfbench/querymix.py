"""One closed-loop client running passes over registered query rows,
each checked against the row's own DuckDB oracle."""

from __future__ import annotations

import importlib.util
import os
import random
from dataclasses import dataclass
from time import perf_counter

import duckdb

# q67 is one of the job-count-bound rows ROADMAP item 2 targets; q01
# is a data-bound scan. The other rows the item names cost 5-10 s a
# pass each on 4 cores even on tiny inputs, more than a run can hold.
ROWS = ("q01_pricing_summary", "q67_recursive_chain_fold")
TABLES = ("orders", "lineitem")


def _check_module(root: str):
    """``tools/check.py``'s normalisation and order-free value hash."""
    spec = importlib.util.spec_from_file_location(
        "perfbench_check", os.path.join(root, "tools", "check.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _count_rows(tables_dir: str) -> int:
    con = duckdb.connect()
    try:
        return sum(
            con.execute(
                "SELECT count(*) FROM read_parquet(?)",
                [os.path.join(tables_dir, f"{t}.parquet")],
            ).fetchone()[0]
            for t in TABLES
        )
    finally:
        con.close()


@dataclass
class RowRun:
    row: str
    wall: float
    plan: float
    spark_jobs: int
    cols: list[str] | None = None  # None: the row raised
    digest: str = ""
    n_rows: int = 0


class QueryMix:
    def __init__(self, spark, root: str, tables_dir: str, seed: int):
        from hyppo_worker_spark.queries import load_all

        registry = load_all()
        self.spark = spark
        self.tables_dir = tables_dir
        self.queries = {r: registry[r] for r in ROWS}
        self.rng = random.Random(seed)
        self.value_hash = _check_module(root).value_hash
        self.runs: list[RowRun] = []
        self._n = 0
        self.input_rows = _count_rows(tables_dir)

    def run_row(self, row: str) -> RowRun:
        from hyppo_worker_spark.session import clear_cache, persist_scope

        self._n += 1
        group = f"perfbench-{row}-{self._n}"
        sc = self.spark.sparkContext
        sc.setJobGroup(group, row)
        t0 = perf_counter()
        run = RowRun(row, 0.0, 0.0, 0)
        try:
            with persist_scope():
                df = self.queries[row].spark_fn(self.spark, self.tables_dir)
                _ = df.schema
                run.plan = perf_counter() - t0
                rows = [tuple(r) for r in df.collect()]
            run.cols = list(df.columns)
            run.digest = self.value_hash(run.cols, rows)
            run.n_rows = len(rows)
        except Exception as e:  # noqa: BLE001 — a failed row is a counted failure
            print(f"{row} raised {type(e).__name__}: {e}", flush=True)
        run.wall = perf_counter() - t0
        clear_cache(self.spark, include_rdd_blocks=True)
        run.spark_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        self.runs.append(run)
        return run

    def run_pass(self) -> float:
        """All rows once, in an order drawn from the seed."""
        t0 = perf_counter()
        for row in self.rng.sample(ROWS, len(ROWS)):
            self.run_row(row)
        return perf_counter() - t0

    warm_up = run_pass

    def run_window(self, seconds: float, settle: int = 0) -> tuple[float, list[float]]:
        """``settle`` unmeasured passes, then measured
        passes back to back until ``seconds`` have passed; returns the
        measured start and each measured pass's end time."""
        for _ in range(settle):
            self.run_pass()
        start = perf_counter()
        ends = []
        while not ends or ends[-1] - start < seconds:
            self.run_pass()
            ends.append(perf_counter())
        return start, ends

    def check(self, runs: list[RowRun]) -> int:
        """Compare every run with the row's oracle SQL on DuckDB over
        the same tables; returns the number of wrong or failed runs."""
        con = duckdb.connect()
        try:
            for t in TABLES:
                path = os.path.join(self.tables_dir, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            expected = {}
            for row, q in self.queries.items():
                rel = con.sql(q.oracle)
                cols = list(rel.columns)
                rows = rel.fetchall()
                expected[row] = (sorted(cols), self.value_hash(cols, rows), len(rows))
        finally:
            con.close()
        bad = 0
        for run in runs:
            got = (
                (sorted(run.cols), run.digest, run.n_rows) if run.cols is not None else None
            )
            if got != expected[run.row]:
                print(f"{run.row}: result differs from its oracle", flush=True)
                bad += 1
        return bad

    def close(self) -> None:
        pass
