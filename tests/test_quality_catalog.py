"""Quality gates (single-pass not_null suite, row-count gate) + catalog
schema-doc rendering."""

from __future__ import annotations

from pyspark.sql import functions as F

from f1_lakehouse_spark.quality.checks import (
    check_not_null,
    check_row_counts,
    run_not_null_suite,
)
from f1_lakehouse_spark.sources.catalog import (
    resolve_schema_prefix,
    schema_doc,
    table_exists,
)
from f1_lakehouse_spark.tables import load_table
from tests.conftest import SF_DIR


def test_not_null_suite_single_pass(spark):
    li = load_table(spark, SF_DIR, "lineitem")
    res = run_not_null_suite(li, ["l_orderkey", "l_partkey", "l_suppkey"])
    assert res == {"l_orderkey": 0, "l_partkey": 0, "l_suppkey": 0}


def test_not_null_detects_failures(spark):
    li = load_table(spark, SF_DIR, "lineitem").withColumn(
        "maybe", F.nullif(F.col("l_tax"), F.lit(0.0))
    )
    n_null = check_not_null(li, "maybe")
    assert n_null > 0
    suite = run_not_null_suite(li, ["maybe", "l_orderkey"])
    assert suite["maybe"] == n_null and suite["l_orderkey"] == 0


def test_row_count_gate(spark):
    tables = {n: load_table(spark, SF_DIR, n) for n in ("region", "nation")}
    res = check_row_counts(tables, minimums={"region": 5, "nation": 25})
    assert res["region"] == (5, True)
    assert res["nation"] == (25, True)
    res2 = check_row_counts(tables, minimums={"region": 99})
    assert res2["region"] == (5, False)


def test_schema_doc_and_exists(spark):
    load_table(spark, SF_DIR, "region").createOrReplaceTempView("region_doc_v")
    doc = schema_doc(spark, databases=["default"])
    assert "region_doc_v(r_regionkey int, r_name string)" in doc
    assert table_exists(spark, "region_doc_v")
    assert not table_exists(spark, "no_such_table_xyz")
    # the reference's schema-prefix probe: first candidate that exists
    assert resolve_schema_prefix(spark, ["nope_xyz", "default"]) == "default"
    assert resolve_schema_prefix(spark, ["nope_xyz"]) is None


def test_schema_suite_full_dbt_vocabulary(spark):
    from f1_lakehouse_spark.quality.checks import (
        check_relationships,
        check_unique,
        run_schema_suite,
    )

    orders = load_table(spark, SF_DIR, "orders")
    customer = load_table(spark, SF_DIR, "customer")
    # clean table: unique pk, valid domain, no orphans
    assert check_unique(orders, "o_orderkey") == 0
    res = run_schema_suite(
        orders,
        not_null=["o_orderkey", "o_custkey"],
        unique=["o_orderkey"],
        accepted_values={"o_orderstatus": ["O", "F", "P"]},
    )
    assert res == {
        "not_null__o_orderkey": 0,
        "not_null__o_custkey": 0,
        "accepted_values__o_orderstatus": 0,
        "unique__o_orderkey": 0,
    }
    assert check_relationships(orders, "o_custkey", customer, "c_custkey") == 0
    # seeded failures: duplicate pk, out-of-domain status, orphan fk
    bad = orders.limit(5).union(orders.limit(2)).withColumn(
        "o_orderstatus", F.lit("X")
    )
    bad_res = run_schema_suite(
        bad, unique=["o_orderkey"], accepted_values={"o_orderstatus": ["O", "F", "P"]}
    )
    assert bad_res["unique__o_orderkey"] == 2
    assert bad_res["accepted_values__o_orderstatus"] == 7
    orphans = orders.withColumn("o_custkey", F.col("o_custkey") + 10_000_000)
    assert (
        check_relationships(orphans, "o_custkey", customer, "c_custkey")
        == orders.count()
    )


def test_observed_write_collects_metrics_in_flight(spark, tmp_path):
    from f1_lakehouse_spark.quality.checks import observed_write
    from f1_lakehouse_spark.tables import load_table
    from tests.conftest import SF_DIR

    e = load_table(spark, SF_DIR, "events").select("event_id", "value")
    got = observed_write(e, str(tmp_path / "obs"), name="m1")
    n = e.count()
    assert got["n_rows"] == n
    assert got["nulls_event_id"] == 0
    # `value` has injected NULLs in the testdata; the in-flight metric must
    # agree with a dedicated scan
    assert got["nulls_value"] == e.filter("value IS NULL").count()
    assert spark.read.parquet(str(tmp_path / "obs")).count() == n
