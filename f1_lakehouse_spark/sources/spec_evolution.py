"""Iceberg-style partition-spec EVOLUTION over the plain-parquet layout.

Iceberg lets a table's partition spec change WITHOUT rewriting history:
files written before the change stay in the layout their spec produced,
new writes use the new spec, and the reader plans each file under the
spec that wrote it (Iceberg "partition evolution"; Delta/Hive require a
full rewrite). At 100 TB a repartitioning rewrite is the most expensive
operation a table owner can trigger — spec evolution is how real
deployments change partitioning (daily -> hourly when a table grows
100x) as an O(metadata) commit instead.

Layout:
    table_dir/_specs.json   ordered spec list + the FROZEN table schema
    table_dir/spec=<i>/     one hive layout per spec (partition dirs for
                            exactly that spec's columns)

Readers union the per-spec segments BY NAME, casting every segment back
to the frozen schema (hive directory values deserialize as inferred
types; the cast restores the written ones), so one DataFrame spans all
specs. A predicate on a partition column of spec i prunes spec i's
segment at the DIRECTORY level (Spark ``PartitionFilters``) and degrades
to a row-level residual filter on segments whose spec does not partition
by that column — exactly Iceberg's per-spec residual evaluation. The
union is a zero-shuffle concat: each segment keeps its own scan, its own
pushed filters, and its own partition pruning.

Concurrency: single-writer — the ``_specs.json`` swap is atomic (tmp + rename)
so readers never see a torn spec list, but concurrent APPENDS are not
arbitrated here; route multi-writer tables through sources/txn.py.

Reference parity: the reference's warehouse is a single DuckDB file with
no physical partitioning at all (transform/profiles/profiles.yml:5-7);
this module is part of the lakehouse layout layer that replaces it.
At 100 TB: see docs/SCALE.md "Round-11 additions".
"""

from __future__ import annotations

import json
import os
from typing import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from f1_lakehouse_spark.sources.commit import atomic_write

SPECS_FILE = "_specs.json"


def _specs_path(table_dir: str) -> str:
    return os.path.join(table_dir, SPECS_FILE)


def read_specs(table_dir: str) -> dict:
    """The spec metadata: ``{"schema": <StructType json>, "specs":
    [{"spec_id": int, "partition_by": [col, ...]}, ...]}`` (ordered,
    last entry = current spec)."""
    with open(_specs_path(table_dir)) as f:
        return json.load(f)


def _write_specs(table_dir: str, meta: dict) -> None:
    # atomic swap: readers see the old or the new spec list, never a torn
    # file (commit.atomic_write)
    atomic_write(_specs_path(table_dir), json.dumps(meta))


def _frozen_schema(meta: dict) -> T.StructType:
    return T.StructType.fromJson(meta["schema"])


def _check_partition_cols(schema: T.StructType, partition_by: Iterable[str]) -> list:
    cols = list(partition_by)
    known = {f.name for f in schema.fields}
    missing = [c for c in cols if c not in known]
    if missing:
        raise ValueError(f"partition columns not in table schema: {missing}")
    return cols


def create_table(
    spark: SparkSession,
    table_dir: str,
    df: DataFrame,
    partition_by: Iterable[str] = (),
) -> int:
    """Create the table with spec 0 and write ``df`` under it. The
    DataFrame's schema is FROZEN as the table schema (every later append
    and every read resolves against it). Returns the spec id (0)."""
    if os.path.exists(_specs_path(table_dir)):
        raise ValueError(f"table already exists at {table_dir}")
    cols = _check_partition_cols(df.schema, partition_by)
    os.makedirs(table_dir, exist_ok=True)
    meta = {
        "schema": df.schema.jsonValue(),
        "specs": [{"spec_id": 0, "partition_by": cols}],
    }
    _write_segment(df, os.path.join(table_dir, "spec=0"), cols)
    _write_specs(table_dir, meta)
    return 0


def evolve_spec(table_dir: str, partition_by: Iterable[str]) -> int:
    """Switch the CURRENT spec — an O(metadata) commit that rewrites no
    data file (assert byte-identity over old segments if you doubt it).
    Future appends land under the new spec; history stays where it is.
    No-ops (returns the current id) when the spec is already current."""
    meta = read_specs(table_dir)
    cols = _check_partition_cols(_frozen_schema(meta), partition_by)
    cur = meta["specs"][-1]
    if cur["partition_by"] == cols:
        return cur["spec_id"]
    spec_id = cur["spec_id"] + 1
    meta["specs"].append({"spec_id": spec_id, "partition_by": cols})
    _write_specs(table_dir, meta)
    return spec_id


def append_rows(spark: SparkSession, table_dir: str, df: DataFrame) -> int:
    """Append ``df`` under the CURRENT spec. Columns resolve by name
    against the frozen schema (order-insensitive; missing or extra
    columns raise). Returns the spec id written to."""
    meta = read_specs(table_dir)
    schema = _frozen_schema(meta)
    have = set(df.columns)
    want = [f.name for f in schema.fields]
    if have != set(want):
        raise ValueError(
            f"append schema mismatch: missing={sorted(set(want) - have)} "
            f"extra={sorted(have - set(want))}"
        )
    cur = meta["specs"][-1]
    seg = os.path.join(table_dir, f"spec={cur['spec_id']}")
    _write_segment(df.select(want), seg, cur["partition_by"], mode="append")
    return cur["spec_id"]


def _write_segment(
    df: DataFrame, seg_dir: str, partition_by: list, mode: str = "error"
) -> None:
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(seg_dir)


def _segment_has_data(seg_dir: str) -> bool:
    for root, _dirs, files in os.walk(seg_dir):
        if any(f.endswith(".parquet") and not f.startswith((".", "_")) for f in files):
            return True
    return False


def read_table(spark: SparkSession, table_dir: str) -> DataFrame:
    """One DataFrame over every spec segment: each segment scanned under
    its own spec (partition columns restored from hive dirs and cast back
    to the frozen types), then a zero-shuffle union by name. Filters you
    apply on top prune partition DIRECTORIES on the segments whose spec
    matches the predicate column and fall back to row-level residual
    filtering on the rest."""
    meta = read_specs(table_dir)
    schema = _frozen_schema(meta)
    order = [f.name for f in schema.fields]
    types = {f.name: f.dataType for f in schema.fields}
    parts = []
    for spec in meta["specs"]:
        seg = os.path.join(table_dir, f"spec={spec['spec_id']}")
        if not os.path.isdir(seg) or not _segment_has_data(seg):
            continue  # spec evolved before any write landed under it
        sdf = spark.read.parquet(seg)
        parts.append(sdf.select([F.col(c).cast(types[c]).alias(c) for c in order]))
    if not parts:
        return spark.createDataFrame([], schema)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
