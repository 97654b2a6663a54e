"""Driver-contract invariants for __spark_entry__ (no Spark needed).

The driver compares queries() against oracle_sql() by key; a query
without an oracle silently downgrades to a rows-only check, and an
oracle without a query is dead weight — both are contract drift this
guards against. Every oracle must also at least PLAN in DuckDB against
the real sf0.001 views (full value execution is tools/check_oracle.py's
job; planning catches SQL syntax/binding rot in seconds). Every package
module and the benchmark harness must also import, so a deletion cannot
break an importer unnoticed."""

from __future__ import annotations

import importlib
import os
import pkgutil

import duckdb
import pytest

import __spark_entry__ as entry
import genome_deduplication_spark

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def test_queries_and_oracles_key_parity():
    qs = entry.queries()
    osql = entry.oracle_sql()
    assert set(qs) == set(osql), (
        "queries() and oracle_sql() must cover the same keys; "
        f"only-query={sorted(set(qs) - set(osql))} "
        f"only-oracle={sorted(set(osql) - set(qs))}"
    )
    assert all(callable(v) for v in qs.values())
    assert all(isinstance(v, str) and v.strip() for v in osql.values())


@pytest.mark.parametrize("name", sorted(entry.oracle_sql()))
def test_oracle_sql_plans_in_duckdb(name):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"'/root/testdata/sf0.001/{t}.parquet'"
        )
    con.execute(f"EXPLAIN {entry.oracle_sql()[name]}")


def test_every_module_and_the_benchmark_harness_import(monkeypatch):
    """A deletion must not silently break an importer: every package
    module and the benchmark's workloads module (which imports the
    operators the traced twin calls) import cleanly."""
    for mod in pkgutil.walk_packages(
        genome_deduplication_spark.__path__, "genome_deduplication_spark."
    ):
        importlib.import_module(mod.name)
    perfbench = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench"
    )
    monkeypatch.syspath_prepend(perfbench)
    importlib.import_module("workloads")
