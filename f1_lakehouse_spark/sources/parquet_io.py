"""Bronze-layer parquet sources/sinks (SURVEY.md §2.1 S3–S5; S6 CTAS is
``plans/registry`` materialization).

The reference writes one hive-partitioned parquet dir per
``(season, round, grand_prix, session)`` with an idempotent skip when the
partition already exists (reference ``ingestion/src/ingestion/utils.py:36-44``,
``fastf1_ingest.py:15-22,92-95``). Spark-first equivalents:

- **S3 sink**: ``df.write.partitionBy(*keys)`` — the cluster-scale layout;
  partition values become prunable directory keys.
- **S4 idempotency**: *dynamic partition overwrite*
  (``spark.sql.sources.partitionOverwriteMode=dynamic``) — re-running a
  load replaces exactly the partitions present in the incoming frame and
  leaves all others untouched. This is strictly safer than the reference's
  "skip if dir exists" (which can strand half-written partitions), and it
  parallelizes: no driver-side existence loop.
- **S5 scan**: ``spark.read.parquet(root)`` — partition discovery surfaces
  directory keys as columns (the reference's ``hive_partitioning=1``).

At 100 TB: choose partition keys with bounded cardinality (date, not id),
keep files ~128MB–1GB via ``maxRecordsPerFile`` or AQE coalescing, and
never list partitions on the driver — let the committer handle it.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    mode: str = "append",
    max_records_per_file: int | None = None,
) -> None:
    """S3: hive-partitioned parquet sink."""
    writer = df.write.mode(mode).partitionBy(*partition_cols)
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", str(max_records_per_file))
    writer.parquet(path)


def write_partitioned_idempotent(
    df: DataFrame, path: str, partition_cols: list[str]
) -> None:
    """S4: re-runnable load — dynamic partition overwrite replaces only the
    partitions present in ``df`` (the Spark-native idempotent ingest)."""
    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        df.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def partition_exists(path: str, **partition_values: object) -> bool:
    """Reference-style existence probe (utils.py:36-37) — driver-side FS
    check; provided for parity, prefer dynamic overwrite at scale."""
    sub = os.path.join(path, *[f"{k}={v}" for k, v in partition_values.items()])
    if not os.path.isdir(sub):
        return False
    return any(
        f.endswith(".parquet")
        for _, _, files in os.walk(sub)
        for f in files
    )


def read_partitioned(spark: SparkSession, path: str) -> DataFrame:
    """S5: partition-discovering scan; dir keys surface as columns."""
    return spark.read.parquet(path)


def delete_rows_partition_scoped(
    spark: SparkSession,
    path: str,
    partition_col: str,
    partition_predicate,
    row_predicate,
) -> int:
    """Row-level delete on a hive-partitioned parquet table that rewrites
    ONLY the partitions the delete can touch — the GDPR/retention-
    correction shape: at 100 TB, deleting one user's week must not rewrite
    the table, only the affected date dirs.

    ``partition_predicate`` (over ``partition_col``) bounds which
    partitions are read AND rewritten (partition-pruned scan — the bound
    must be expressible on the partition column, which is what makes the
    rewrite scoped); ``row_predicate`` selects rows to DELETE within them.
    Returns the number of partitions rewritten. Partitions fully emptied
    by the delete are removed explicitly — dynamic partition overwrite
    only replaces partitions PRESENT in the written frame, so an
    all-rows-deleted partition would otherwise silently survive (the
    classic dynamic-overwrite delete pitfall).

    On Delta/Iceberg this whole function is ``DELETE FROM t WHERE ...``
    (ACID, file-level). On plain parquet the rewrite is atomic per
    partition dir, not per table — run it in a maintenance window or on a
    versioned copy (a one-table ``sources/txn`` transaction) when readers
    are live."""
    import shutil  # noqa: PLC0415

    from pyspark.sql import functions as F  # noqa: PLC0415

    affected = spark.read.parquet(path).filter(partition_predicate)
    # SQL DELETE semantics: a row is deleted only where the predicate is
    # TRUE — a NULL predicate KEEPS the row. A bare `filter(~pred)` would
    # silently drop NULL-predicate rows (NULL is not FALSE), deleting rows
    # `DELETE WHERE pred` would keep, and would disagree with the stats
    # pass below (which must share the exact same tri-state handling).
    delete_cond = F.coalesce(row_predicate, F.lit(False))
    kept = affected.filter(~delete_cond)
    # one partition-pruned stats pass: which partitions the delete touches,
    # and which keep at least one row (the write pass is the second and
    # last scan of the affected slice)
    stats = (
        affected.groupBy(partition_col)
        .agg(F.sum(F.when(delete_cond, 0).otherwise(1)).alias("kept_n"))
        .collect()
    )
    touched = {r[0] for r in stats}
    survived = {r[0] for r in stats if r["kept_n"] > 0}
    # SELF-OVERWRITE INVARIANT: the lazy `kept` plan READS from `path` and
    # the write below targets the SAME root. This is safe ONLY under
    # dynamic partition overwrite, whose commit stages new files and swaps
    # per-partition AFTER the read tasks finish — static overwrite deletes
    # the root up front and would destroy the table before the job reads
    # it. write_partitioned_idempotent is the one helper that forces the
    # dynamic mode around its write; any refactor that routes this write
    # elsewhere MUST preserve that property or rewrite via a staging
    # sibling dir instead. (The round-trip's outside-window byte-identity
    # census is the behavioral gate for this invariant.)
    write_partitioned_idempotent(kept, path, [partition_col])
    for value in touched - survived:
        sub = os.path.join(path, f"{partition_col}={value}")
        shutil.rmtree(sub, ignore_errors=True)
    return len(touched)


def write_bucketed_table(
    df: DataFrame, name: str, path: str, key: str, n_buckets: int
) -> None:
    """Materialize ``df`` as an EXTERNAL bucketed+sorted parquet table:
    rows are hash-distributed into ``n_buckets`` files per partition ON
    ``key`` and sorted by it inside each bucket, and the layout is recorded
    in the catalog. Two tables bucketed the same way join WITHOUT a
    shuffle (Spark plans a sort-merge join directly over the co-located
    buckets) — the pre-paid-shuffle lever for fact-to-fact joins at 100 TB,
    where re-shuffling both sides per query is the dominant cost.

    External (``option("path")``) so the data lives in the caller's
    directory, never the session warehouse; DROP TABLE leaves the caller
    to clean its own files."""
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    (
        df.write.mode("overwrite")
        .option("path", path)
        .bucketBy(n_buckets, key)
        .sortBy(key)
        .format("parquet")
        .saveAsTable(name)
    )
