"""MERGE-emulation + SCD2 history semantics on plain DataFrames."""

from __future__ import annotations

from pyspark.sql import functions as F

from f1_lakehouse_spark.sources.scd2 import OPEN_END, merge_upsert, scd2_apply


def test_merge_upsert(spark):
    current = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
    )
    updates = spark.createDataFrame([(2, "B"), (4, "d")], "k long, v string")
    out = {r["k"]: r["v"] for r in merge_upsert(current, updates, "k").collect()}
    assert out == {1: "a", 2: "B", 3: "c", 4: "d"}


def _hist(spark, rows):
    return spark.createDataFrame(
        rows, "k long, team string, valid_from timestamp, valid_to timestamp"
    ).withColumns(
        {
            "valid_from": F.col("valid_from"),
            "valid_to": F.col("valid_to"),
        }
    )


def test_scd2_apply_versions_changes_only(spark):
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    openend = dt.datetime(9999, 12, 31)
    history = _hist(
        spark,
        [
            (1, "Red Bull", t0, openend),
            (2, "Mercedes", t0, openend),
            (3, "Ferrari", t0, openend),
        ],
    )
    changes = spark.createDataFrame(
        [(1, "Red Bull"),  # unchanged → no new version
         (2, "McLaren"),   # changed → close + insert
         (9, "Haas")],     # new key → insert
        "k long, team string",
    )
    eff = F.lit("2024-06-01 00:00:00")
    out = scd2_apply(history, changes, "k", ["team"], eff)
    rows = sorted(
        [(r["k"], r["team"], str(r["valid_to"])) for r in out.collect()]
    )
    assert rows == sorted(
        [
            (1, "Red Bull", str(openend)),           # untouched open row
            (2, "Mercedes", "2024-06-01 00:00:00"),  # closed
            (2, "McLaren", str(openend)),            # new open version
            (3, "Ferrari", str(openend)),            # untouched (no change row)
            (9, "Haas", str(openend)),               # first version
        ]
    )
    # exactly one open row per key
    opens = out.filter(F.col("valid_to") == F.lit(OPEN_END).cast("timestamp"))
    per_key = opens.groupBy("k").count().collect()
    assert all(r["count"] == 1 for r in per_key)


def test_scd2_apply_is_idempotent_for_unchanged_batch(spark):
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    openend = dt.datetime(9999, 12, 31)
    history = _hist(spark, [(1, "Red Bull", t0, openend)])
    changes = spark.createDataFrame([(1, "Red Bull")], "k long, team string")
    out = scd2_apply(history, changes, "k", ["team"], F.lit("2024-06-01 00:00:00"))
    assert out.count() == 1  # replaying the same state adds nothing
