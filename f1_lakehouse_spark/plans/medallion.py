"""The medallion DAG over the synthetic tables — bronze parquet → silver
typed/renamed → gold summaries, mirroring the reference's model tree
(laps/results/weather → driver_session_summary → team_event_summary,
reference ``transform/target/manifest.json`` dependency graph).

Silver models apply the reference's silver recipe
(``transform/models/silver/laps.sql``): keep the open schema, re-type key
columns, snake-case names. Gold models are the flagship shapes from
``operators.gold``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from f1_lakehouse_spark.functions.expressions import to_snake_df
from f1_lakehouse_spark.operators.gold import flag_summary, supplier_summary
from f1_lakehouse_spark.plans.registry import ModelRegistry
from f1_lakehouse_spark.tables import load_table


def build_registry(spark: SparkSession, sf_dir: str) -> ModelRegistry:
    reg = ModelRegistry(source_loader=lambda name: load_table(spark, sf_dir, name))

    @reg.model(
        "silver.lineitem_typed",
        deps=("source:lineitem",),
        not_null=("l_orderkey", "l_linenumber", "ship_year"),
        description="typed/renamed lineitem: open schema + derived keys",
    )
    def silver_lineitem(inputs: dict[str, DataFrame]) -> DataFrame:
        li = to_snake_df(inputs["lineitem"])
        return li.withColumns(
            {
                "ship_year": F.year("l_shipdate").cast("int"),
                "ship_month": F.month("l_shipdate").cast("int"),
            }
        )

    @reg.model(
        "silver.orders_typed",
        deps=("source:orders",),
        not_null=("o_orderkey", "order_year"),
        description="typed/renamed orders",
    )
    def silver_orders(inputs: dict[str, DataFrame]) -> DataFrame:
        o = to_snake_df(inputs["orders"])
        return o.withColumns(
            {
                "order_year": F.year("o_orderdate").cast("int"),
                "order_month": F.month("o_orderdate").cast("int"),
            }
        )

    @reg.model(
        "gold.supplier_summary",
        deps=("silver.lineitem_typed",),
        not_null=("ship_year", "l_returnflag", "l_linestatus", "l_suppkey"),
        description="flagship driver_session_summary shape over silver",
    )
    def gold_supplier_summary(inputs: dict[str, DataFrame]) -> DataFrame:
        return supplier_summary(inputs["silver.lineitem_typed"])

    @reg.model(
        "gold.flag_summary",
        deps=("gold.supplier_summary",),
        not_null=("ship_year", "l_returnflag"),
        description="team_event_summary shape: re-aggregation of gold",
    )
    def gold_flag_summary(inputs: dict[str, DataFrame]) -> DataFrame:
        return flag_summary(inputs["gold.supplier_summary"])

    return reg
