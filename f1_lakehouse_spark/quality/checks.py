"""Data-quality gates (SURVEY.md §2.11 D4, §5).

The reference runs 17 dbt ``not_null`` tests compiled to
``count(*) as failures`` queries (reference ``transform/models/*/schema.yml``,
compiled test SQL under ``transform/target/compiled/.../not_null_*.sql``)
plus a row-count verification script (``scripts/check_gold.sh``).

Here: a single-pass not_null suite (ONE aggregate scan per table computing
every column's null count simultaneously — at 100 TB you cannot afford one
scan per test like dbt does) and a row-count gate.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def null_counts(columns: Iterable[str], prefix: str = "") -> list[Column]:
    """The not_null measure every gate here shares: one aggregate per column
    counting its NULL rows, aliased ``prefix + column`` (0, never NULL, on
    an empty input)."""
    return [F.count_if(F.col(c).isNull()).alias(prefix + c) for c in columns]


def check_not_null(df: DataFrame, column: str) -> int:
    """dbt not_null shape: number of failing (NULL) rows; 0 = pass."""
    return df.filter(F.col(column).isNull()).count()


def run_not_null_suite(df: DataFrame, columns: list[str]) -> dict[str, int]:
    """All declared columns in ONE aggregate pass over the table."""
    if not columns:
        return {}
    row = df.agg(*null_counts(columns)).collect()[0]
    return {c: row[c] for c in columns}


def check_row_counts(
    tables: dict[str, DataFrame], minimums: dict[str, int] | None = None
) -> dict[str, tuple[int, bool]]:
    """check_gold.sh analog: every table exists and is non-empty (or meets a
    declared minimum)."""
    minimums = minimums or {}
    out: dict[str, tuple[int, bool]] = {}
    for name, df in tables.items():
        n = df.count()
        out[name] = (n, n >= max(1, minimums.get(name, 1)))
    return out


# --- the rest of the dbt-standard test suite ----------------------------------------
# The reference declares only not_null tests, but the dbt schema-test
# vocabulary it builds on has four: not_null / unique / accepted_values /
# relationships. Completing the set (each still expressed as a single
# Spark aggregate, not one query per test) makes the quality layer a
# superset of the reference's.


def check_unique(df: DataFrame, column: str) -> int:
    """dbt `unique` shape: number of values appearing more than once."""
    return (
        df.filter(F.col(column).isNotNull())
        .groupBy(column)
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > 1)
        .count()
    )


def check_relationships(
    child: DataFrame, child_col: str, parent: DataFrame, parent_col: str
) -> int:
    """dbt `relationships` shape: orphaned foreign keys — child values with
    no matching parent. LEFT ANTI join; the parent key side is typically a
    dim, so Spark broadcasts it."""
    keys = parent.select(F.col(parent_col).alias(child_col)).distinct()
    return (
        child.filter(F.col(child_col).isNotNull())
        .select(child_col)
        .join(F.broadcast(keys), child_col, "left_anti")
        .count()
    )


def run_schema_suite(
    df: DataFrame,
    not_null: list[str] | None = None,
    unique: list[str] | None = None,
    accepted_values: dict[str, list] | None = None,
) -> dict[str, int]:
    """Single-pass composite: every not_null / accepted_values failure count
    in ONE aggregate scan; unique checks share one extra aggregate (they
    need a groupBy, which can't fuse into the scan-level aggregate)."""
    out: dict[str, int] = {}
    aggs = null_counts(not_null or [], "not_null__")
    for c, vals in (accepted_values or {}).items():
        aggs.append(
            F.sum(
                (F.col(c).isNotNull() & ~F.col(c).isin(vals)).cast("long")
            ).alias(f"accepted_values__{c}")
        )
    if aggs:
        row = df.agg(*aggs).collect()[0]
        out.update({k: int(row[k] or 0) for k in row.asDict()})
    for c in unique or []:
        out[f"unique__{c}"] = check_unique(df, c)
    return out


def observed_write(
    df: DataFrame,
    path: str,
    name: str = "write_metrics",
    metrics: dict[str, Column] | None = None,
) -> dict:
    """Parquet write with in-flight ``observe()`` metrics — data-quality
    accounting at ZERO extra passes: the metrics accumulate on executors
    during the write job itself (vs a dbt-style test suite, which re-scans
    the table per assertion; at 100 TB a second scan is the difference
    between monitoring and not having it). Default metrics: row count +
    per-column null counts. Returns the observed metric values.
    """
    from pyspark.sql.observation import Observation

    if metrics is None:
        aggs = [F.count(F.lit(1)).alias("n_rows"), *null_counts(df.columns, "nulls_")]
    else:
        aggs = [m.alias(k) for k, m in metrics.items()]
    obs = Observation(name)
    observed = df.observe(obs, *aggs)
    observed.write.mode("overwrite").parquet(path)
    return obs.get
