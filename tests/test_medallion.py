"""Medallion DAG runner: topological order, materialization, not_null gates."""

from __future__ import annotations

from collections import Counter

import pytest
from pyspark.sql import functions as F

from f1_lakehouse_spark.operators.gold import flagship_supplier_summary, team_summary
from f1_lakehouse_spark.plans.medallion import build_registry
from f1_lakehouse_spark.plans.registry import Model, ModelRegistry
from tests.conftest import SF_DIR


def test_topo_order(spark):
    reg = build_registry(spark, SF_DIR)
    order = reg.topo_order()
    assert order.index("silver.lineitem_typed") < order.index("gold.supplier_summary")
    assert order.index("gold.supplier_summary") < order.index("gold.flag_summary")


def test_cycle_detection(spark):
    reg = ModelRegistry(source_loader=lambda n: None)
    reg.add(Model("a", lambda i: None, deps=("b",)))
    reg.add(Model("b", lambda i: None, deps=("a",)))
    with pytest.raises(ValueError, match="cycle"):
        reg.topo_order()


def test_unknown_dep(spark):
    reg = ModelRegistry(source_loader=lambda n: None)
    reg.add(Model("a", lambda i: None, deps=("nope",)))
    with pytest.raises(KeyError):
        reg.topo_order()


def test_dag_run_materialized(spark):
    reg = build_registry(spark, SF_DIR)
    results = reg.run(spark, materialize=True)
    assert set(results) == {
        "silver.lineitem_typed",
        "silver.orders_typed",
        "gold.supplier_summary",
        "gold.flag_summary",
    }
    for name, res in results.items():
        assert res.rows > 0, name
        assert res.ok, f"{name} not_null failures: {res.test_failures}"
    # full-rebuild semantics: rerun produces identical counts
    again = reg.run(spark, materialize=True)
    assert {n: r.rows for n, r in again.items()} == {
        n: r.rows for n, r in results.items()
    }
    # gold layer reads back through the catalog and equals the registered
    # gold queries: one definition per gold shape
    for table, query in (
        ("gold.supplier_summary", flagship_supplier_summary),
        ("gold.flag_summary", team_summary),
    ):
        got, want = spark.table(table), query(spark, SF_DIR)
        assert got.columns == want.columns, table
        assert Counter(map(tuple, got.collect())) == Counter(map(tuple, want.collect())), table


def test_lazy_resolution_no_materialize(spark):
    reg = build_registry(spark, SF_DIR)
    results = reg.run(spark, materialize=False)
    assert all(r.rows > 0 for r in results.values())


def _gate_registry(spark, not_null):
    """One model over 1000 rows whose ``v`` is NULL on every 7th id (143)."""
    reg = ModelRegistry(source_loader=lambda n: spark.range(1000))
    reg.add(
        Model(
            "gate.nulls",
            lambda i: i["t"].select(
                "id",
                F.when(F.col("id") % 7 != 0, F.col("id")).alias("v"),
                (F.col("id") * 2).alias("w"),
            ),
            deps=("source:t",),
            not_null=not_null,
        )
    )
    return reg


@pytest.mark.parametrize("materialize", [True, False])
def test_not_null_gate_counts_injected_nulls(spark, materialize):
    res = _gate_registry(spark, ("v", "id")).run(spark, materialize=materialize)["gate.nulls"]
    assert res.rows == 1000
    assert res.test_failures == {"v": 143, "id": 0}
    assert res.ok is False


@pytest.mark.parametrize("materialize", [True, False])
def test_gate_jobs_independent_of_not_null_columns(spark, materialize):
    """The gates ride on the model's write job: declaring more not_null
    columns adds no Spark job (no per-column count, re-read or row count)."""
    dag = spark.sparkContext._jsc.sc().dagScheduler()

    def jobs(not_null):
        reg = _gate_registry(spark, not_null)
        j0 = int(dag.nextJobId())
        reg.run(spark, materialize=materialize)
        return int(dag.nextJobId()) - j0

    assert jobs(()) == jobs(("v",)) == jobs(("v", "id", "w"))
