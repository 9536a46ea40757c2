"""MERGE / slowly-changing-dimension emulation on plain parquet tables.

The environment ships no Delta/Iceberg (their jars are absent — see
``sources/formats.delta_available``), so upserts and SCD2 history are
emulated with pure DataFrame algebra — the standard pattern:

- ``merge_upsert``: UPDATE-matched + INSERT-unmatched via anti-join + union
  (full-rebuild write, like every reference materialization).
- ``scd2_apply``: type-2 history — close changed rows (set ``valid_to``),
  append new versions (open-ended), keep unchanged rows untouched.

Scale notes: both are one join on the business key (broadcast when the
change set is small — change sets usually are) + union; no window over the
full table. Rewriting the whole table per batch is the no-ACID-table
trade-off; on Delta the same logic is a MERGE INTO. The ACID paths that
run here are this module, ``sources/txn`` (atomic multi-table publishes
with time travel) and ``sources/mor`` (merge-on-read deletes and upserts).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

OPEN_END = "9999-12-31 00:00:00"


def merge_upsert(current: DataFrame, updates: DataFrame, key: str) -> DataFrame:
    """Upsert: rows from ``updates`` win on key collision; others kept."""
    kept = current.join(updates.select(key), key, "left_anti")
    return kept.unionByName(updates)


def scd2_apply(
    history: DataFrame,
    changes: DataFrame,
    key: str,
    tracked_cols: list[str],
    effective_ts: Column,
) -> DataFrame:
    """Apply a change batch to an SCD2 history table.

    ``history`` columns: key, tracked_cols..., valid_from, valid_to
    (open rows have valid_to = OPEN_END). ``changes``: key + tracked_cols.
    A change row only creates a new version when a tracked column actually
    differs from the key's open row.
    """
    open_rows = history.filter(F.col("valid_to") == F.lit(OPEN_END).cast("timestamp"))
    closed_rows = history.filter(
        F.col("valid_to") != F.lit(OPEN_END).cast("timestamp")
    )

    cmp = open_rows.alias("o").join(changes.alias("c"), key, "inner")
    differs = None
    for c in tracked_cols:
        d = ~(F.col(f"o.{c}").eqNullSafe(F.col(f"c.{c}")))
        differs = d if differs is None else (differs | d)
    # key sets are change-batch-sized → broadcast them (also sidesteps the
    # PartitioningCollection mismatch Spark hits when unioning branches that
    # join the same source with different partitionings)
    changed_keys = F.broadcast(cmp.filter(differs).select(key).distinct())

    # close the superseded open rows
    closing = (
        open_rows.join(changed_keys, key)
        .withColumn("valid_to", effective_ts.cast("timestamp"))
    )
    surviving_open = open_rows.join(changed_keys, key, "left_anti")

    # new versions for changed keys + first versions for brand-new keys
    new_keys = changes.join(open_rows.select(key), key, "left_anti").select(key)
    inserting_keys = F.broadcast(changed_keys.unionByName(new_keys).distinct())
    inserts = (
        changes.join(inserting_keys, key)
        .withColumn("valid_from", effective_ts.cast("timestamp"))
        .withColumn("valid_to", F.lit(OPEN_END).cast("timestamp"))
    )

    cols = [key, *tracked_cols, "valid_from", "valid_to"]
    return (
        closed_rows.select(*cols)
        .unionByName(closing.select(*cols))
        .unionByName(surviving_open.select(*cols))
        .unionByName(inserts.select(*cols))
    )
