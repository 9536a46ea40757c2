"""Manifest-level column statistics and file skipping (r11).

Iceberg keeps per-data-file column min/max in its manifest files and
prunes the FILE LIST against a query's predicate before the engine opens
a single footer; Delta keeps the same stats in ``_delta_log`` JSON. Plain
parquet directories have neither: Spark's own row-group skipping only
kicks in AFTER every footer has been fetched and parsed — at 100 TB with
millions of files the footer round-trips dominate a selective query. This
module adds the missing layer over the txn version-dir layout:

- :func:`collect_file_stats` — build the stats sidecar for a directory of
  parquet files. The FOOTER READS ARE DISTRIBUTED: the file list (names
  only, the same O(#files) metadata Spark's InMemoryFileIndex materializes
  on the driver for any scan) is parallelized and each task opens only
  footers via pyarrow — no data pages are read, which is exactly how an
  Iceberg writer reports stats at commit time. One row per file with
  typed ``<col>__min`` / ``<col>__max`` / ``n_rows``, written as parquet
  under ``<dir>/_stats`` — the leading underscore makes the sidecar
  invisible to ``spark.read.parquet(dir)`` (Spark's hidden-file filter),
  so it lives and dies with the version directory it describes.
- :func:`pruned_files` / :func:`read_pruned` — evaluate range predicates
  against the sidecar (a distributed filter over the stats frame; only
  the SURVIVING file names come back to the driver) and scan just those
  files, with the predicate always re-applied as a residual filter.
  A file whose stats are unknown (any row group missing min/max — e.g.
  an all-null chunk) is NEVER pruned; a missing sidecar degrades to the
  full scan, so a crash between publish and stats attachment costs
  performance, never correctness.
- :func:`attach_table_stats` / :func:`read_table_pruned` — the same pair
  resolved through a txn-layer manifest snapshot (sources/txn.py), so the
  stats participate in snapshot isolation: each version dir carries the
  sidecar for exactly its own files.

Correctness contract: pruning is sound only when ``(min > hi OR max < lo)``
proves no row of the file can satisfy ``col BETWEEN lo AND hi``. Parquet
writers guarantee stats validity for the types used here (integers,
floats, dates, timestamps); string stats additionally rely on the
writer's truncate-then-increment convention for max values, which both
Spark's parquet writer and parquet-mr honor. NULLs never match a range
predicate, so all-null row groups (unknown stats -> file kept) are safe
in the conservative direction only.

Reference parity: the reference's DuckDB warehouse gets zone-map skipping
inside each ``.duckdb`` file for free (single-node); this module is the
distributed, multi-file equivalent for the lakehouse layout
(/root/reference/transform/profiles/profiles.yml:5-7 is the warehouse
boundary being re-expressed).

At 100 TB: stats collection is one metadata-parallel pass at publish time
(footers only, no data); the sidecar is one row per file, read and
filtered DISTRIBUTED at query time; only surviving file paths reach the
driver — strictly fewer names than the full listing every Spark scan
already drives. See docs/SCALE.md "Round-11 additions".
"""

from __future__ import annotations

import os
from typing import Iterable, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

STATS_DIR = "_stats"

# footer-read parallelism: a partition per ~this many files keeps task
# startup amortized while spreading millions of footers across the cluster
_FILES_PER_TASK = 64


def _data_files(dir_path: str) -> list[str]:
    """Names of the parquet data files under ``dir_path`` (non-recursive,
    hidden entries excluded — the same visibility rule Spark's file index
    applies)."""
    return sorted(
        f
        for f in os.listdir(dir_path)
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    )


def _min_max_schema(data_schema: T.StructType, cols: list[str]) -> T.StructType:
    """Stats-frame schema: file name, row count, then typed min/max pairs
    copied from the data schema (typed, so pruning compares natively
    instead of through lossy string encodings)."""
    fields = [
        T.StructField("file", T.StringType(), False),
        T.StructField("n_rows", T.LongType(), False),
    ]
    by_name = {f.name: f for f in data_schema.fields}
    for c in cols:
        if c not in by_name:
            raise ValueError(f"stat column {c!r} not in data schema")
        fields.append(T.StructField(f"{c}__min", by_name[c].dataType, True))
        fields.append(T.StructField(f"{c}__max", by_name[c].dataType, True))
    return T.StructType(fields)


def collect_file_stats(
    spark: SparkSession, dir_path: str, cols: Iterable[str]
) -> int:
    """Build/refresh the ``_stats`` sidecar for every data file under
    ``dir_path``. Footer-only, distributed via ``mapInPandas`` over the
    file list. Idempotent (overwrites). Returns the number of files
    described."""
    cols = list(cols)
    dir_path = os.path.abspath(dir_path)
    files = _data_files(dir_path)
    if not files:
        raise ValueError(f"no parquet data files under {dir_path}")
    data_schema = spark.read.parquet(dir_path).schema
    out_schema = _min_max_schema(data_schema, cols)

    def read_footers(batches: Iterator) -> Iterator:
        import pandas as pd  # noqa: PLC0415
        import pyarrow.parquet as pq  # noqa: PLC0415

        for pdf in batches:
            rows = []
            for fname in pdf["file"]:
                md = pq.ParquetFile(os.path.join(dir_path, fname)).metadata
                # physical index per requested column (flat schemas: the
                # row-group column order IS the schema order; resolve by
                # path to stay correct regardless)
                idx: dict[str, int] = {}
                if md.num_row_groups > 0:
                    rg0 = md.row_group(0)
                    for j in range(rg0.num_columns):
                        idx[rg0.column(j).path_in_schema] = j
                row: dict[str, object] = {"file": fname, "n_rows": md.num_rows}
                for c in cols:
                    lo = hi = None
                    known = c in idx and md.num_row_groups > 0
                    for i in range(md.num_row_groups):
                        st = md.row_group(i).column(idx[c]).statistics if known else None
                        if st is None or not st.has_min_max:
                            known = False
                            break
                        lo = st.min if lo is None else min(lo, st.min)
                        hi = st.max if hi is None else max(hi, st.max)
                    row[f"{c}__min"] = lo if known else None
                    row[f"{c}__max"] = hi if known else None
                rows.append(row)
            yield pd.DataFrame(rows, columns=[f.name for f in out_schema.fields])

    n_parts = max(1, min(len(files) // _FILES_PER_TASK + 1, 256))
    listing = spark.createDataFrame([(f,) for f in files], "file string")
    stats = listing.repartition(n_parts).mapInPandas(read_footers, schema=out_schema)
    stats.write.mode("overwrite").parquet(os.path.join(dir_path, STATS_DIR))
    return len(files)


def pruned_files(
    spark: SparkSession,
    dir_path: str,
    predicates: list[tuple[str, object, object]],
) -> list[str] | None:
    """File names whose stats ranges can overlap EVERY ``(col, lo, hi)``
    range predicate (conjunction). Unknown stats (NULL min/max) keep the
    file. Returns None when no sidecar exists — the caller must fall back
    to the full directory scan."""
    stats_path = os.path.join(dir_path, STATS_DIR)
    if not os.path.isdir(stats_path):
        return None
    sdf = spark.read.parquet(stats_path)
    cond = F.lit(True)
    for c, lo, hi in predicates:
        overlap = (F.col(f"{c}__min") <= F.lit(hi)) & (
            F.col(f"{c}__max") >= F.lit(lo)
        )
        cond = cond & (F.col(f"{c}__min").isNull() | overlap)
    # driver transfer is FILE NAMES ONLY, already pruned — strictly fewer
    # entries than the listing Spark's own file index collects for any
    # scan of this directory (censused in quality/collect_census.py)
    return sorted(r["file"] for r in sdf.filter(cond).select("file").collect())


def read_pruned(
    spark: SparkSession,
    dir_path: str,
    predicates: list[tuple[str, object, object]],
) -> DataFrame:
    """Scan only the files that can satisfy the conjunctive range
    predicates, re-applying them as residual filters (file-level pruning
    keeps whole files; the residual keeps row-level semantics exact)."""
    dir_path = os.path.abspath(dir_path)
    names = pruned_files(spark, dir_path, predicates)
    if names is None:
        df = spark.read.parquet(dir_path)  # no sidecar: full scan
    elif not names:
        # nothing can match: schema-only empty frame, zero files opened
        df = spark.read.parquet(dir_path).filter(F.lit(False))
    else:
        df = spark.read.parquet(*[os.path.join(dir_path, n) for n in names])
    for c, lo, hi in predicates:
        df = df.filter(F.col(c).between(F.lit(lo), F.lit(hi)))
    return df


def _resolve_version_dir(root: str, name: str, manifest: dict) -> str:
    if name not in manifest.get("tables", {}):
        raise ValueError(f"table {name!r} not in manifest txn {manifest.get('txn')}")
    return os.path.join(root, name, manifest["tables"][name])


def attach_table_stats(
    spark: SparkSession,
    root: str,
    name: str,
    cols: Iterable[str],
    manifest: dict | None = None,
) -> int:
    """Collect the stats sidecar for ``name``'s version dir in a txn-layer
    snapshot (live manifest by default). Run after publish; idempotent, so
    a crash-replay just rewrites the same sidecar."""
    from f1_lakehouse_spark.sources.txn import read_manifest  # noqa: PLC0415

    m = manifest if manifest is not None else read_manifest(root)
    if m is None:
        raise ValueError(f"no committed manifest under {root}")
    return collect_file_stats(spark, _resolve_version_dir(root, name, m), cols)


def read_table_pruned(
    spark: SparkSession,
    root: str,
    name: str,
    predicates: list[tuple[str, object, object]],
    manifest: dict | None = None,
) -> DataFrame:
    """Stats-pruned scan of a txn-layer table snapshot."""
    from f1_lakehouse_spark.sources.txn import read_manifest  # noqa: PLC0415

    m = manifest if manifest is not None else read_manifest(root)
    if m is None:
        raise ValueError(f"no committed manifest under {root}")
    return read_pruned(spark, _resolve_version_dir(root, name, m), predicates)


# --- per-file Bloom filters: equality-predicate file skipping -----------------
# Min/max ranges prune RANGE predicates but are useless for point lookups
# on a high-cardinality key spread across every file's range. Iceberg and
# Delta both keep per-data-file Bloom filters for exactly this case (point
# reads, and locating the files an equality DELETE must touch — the GDPR
# lookup). The build is one column-pruned distributed pass at publish
# time (keys + input_file_name, distinct, k hashed bit positions, bit_or
# per word — classic Kirsch-Mitzenmacher double hashing from two 48-bit
# md5 halves); the filter is stored SPARSE (map<word_idx, bits>) so
# storage tracks occupancy, and m auto-sizes from the observed max
# distinct-keys-per-file (size knobs derive from input size — constants
# are floors, CLAUDE.md). The probe is k map lookups per file, evaluated
# distributed over the sidecar; false positives cost a wasted file read
# (the residual filter keeps semantics exact), false negatives cannot
# happen for the string-cast contract documented on the build.

BLOOM_DIR = "_bloom"
_BLOOM_K = 4  # hash functions
_BLOOM_BITS_PER_KEY = 16  # m >= 16 * max distinct keys/file -> fp ~0.3%
_BLOOM_M_FLOOR = 1 << 10
_BLOOM_M_CAP = 1 << 22


def _bloom_hash_halves(key: F.Column) -> tuple[F.Column, F.Column]:
    """Two independent 48-bit integers from one md5 of the STRING CAST of
    the key. The Python probe (hashlib md5 of ``str(value)``) matches iff
    Spark's string cast renders the value identically — true for BIGINT /
    INT / STRING keys, the supported types."""
    hexd = F.md5(key.cast("string"))
    h1 = F.conv(F.substring(hexd, 1, 12), 16, 10).cast("long")
    h2 = F.conv(F.substring(hexd, 13, 12), 16, 10).cast("long")
    return h1, h2


def collect_file_blooms(spark: SparkSession, dir_path: str, col: str) -> int:
    """Build/refresh the ``_bloom`` sidecar for ``col`` under ``dir_path``:
    one row per data file with ``(file, key_col, m, k, words: map<long,
    long>)``. Distributed end to end; the only driver value is the max
    distinct-keys-per-file used to size ``m``. Returns the chosen ``m``."""
    dir_path = os.path.abspath(dir_path)
    keys = (
        spark.read.parquet(dir_path)
        .select(
            F.element_at(F.split(F.input_file_name(), "/"), -1).alias("file"),
            F.col(col).alias("_k"),
        )
        .filter(F.col("_k").isNotNull())
        .distinct()
    )
    n_max = keys.groupBy("file").count().agg(F.max("count")).first()[0]
    if n_max is None:
        raise ValueError(f"no non-null {col!r} keys under {dir_path}")
    m = _BLOOM_M_FLOOR
    while m < n_max * _BLOOM_BITS_PER_KEY and m < _BLOOM_M_CAP:
        m *= 2
    h1, h2 = _bloom_hash_halves(F.col("_k"))
    pos = F.pmod(
        h1 + F.col("_i").cast("long") * h2, F.lit(m).cast("long")
    )
    words = (
        keys.withColumn("_i", F.explode(F.sequence(F.lit(0), F.lit(_BLOOM_K - 1))))
        .select("file", pos.alias("_pos"))
        .select(
            "file",
            (F.col("_pos") / 64).cast("long").alias("word"),
            F.expr("shiftleft(cast(1 as bigint), cast(_pos % 64 as int))").alias(
                "bit"
            ),
        )
        .groupBy("file", "word")
        .agg(F.expr("bit_or(bit)").alias("bits"))
        .groupBy("file")
        .agg(
            F.map_from_entries(
                F.sort_array(F.collect_list(F.struct("word", "bits")))
            ).alias("words")
        )
        .select(
            "file",
            F.lit(col).alias("key_col"),
            F.lit(m).cast("long").alias("m"),
            F.lit(_BLOOM_K).alias("k"),
            "words",
        )
    )
    words.write.mode("overwrite").parquet(os.path.join(dir_path, BLOOM_DIR))
    return m


def bloom_pruned_files(
    spark: SparkSession, dir_path: str, col: str, value: object
) -> list[str] | None:
    """File names whose Bloom filter may contain ``col == value`` (all k
    bits set). None when no bloom sidecar exists (caller falls back). The
    membership test runs DISTRIBUTED over the sidecar; per-row ``m``/``k``
    are honored from the sidecar itself, so the probe never assumes the
    build's sizing."""
    import hashlib  # noqa: PLC0415

    bloom_path = os.path.join(dir_path, BLOOM_DIR)
    if not os.path.isdir(bloom_path):
        return None
    hexd = hashlib.md5(str(value).encode()).hexdigest()
    h1, h2 = int(hexd[:12], 16), int(hexd[12:24], 16)
    sdf = spark.read.parquet(bloom_path).filter(F.col("key_col") == F.lit(col))
    cond = F.lit(True)
    for i in range(_BLOOM_K):
        # Kirsch-Mitzenmacher position i, per-row m honored from the
        # sidecar; try_element_at because a missing word means "bits all
        # zero", never an error (Spark 4 ANSI element_at would throw)
        pos = f"pmod(cast({h1} as bigint) + {i} * cast({h2} as bigint), m)"
        hit = F.expr(
            f"(coalesce(try_element_at(words, cast(floor({pos} / 64) as bigint)), "
            f"cast(0 as bigint)) & shiftleft(cast(1 as bigint), "
            f"cast({pos} % 64 as int))) != 0"
        )
        cond = cond & (hit | (F.lit(i) >= F.col("k")))
    # driver transfer is post-prune file NAMES only (see pruned_files)
    return sorted(r["file"] for r in sdf.filter(cond).select("file").collect())


def read_pruned_eq(
    spark: SparkSession, dir_path: str, col: str, value: object
) -> DataFrame:
    """Scan only the files whose Bloom filter admits ``col == value``,
    re-applying the equality as a residual filter (false positives cost a
    file read, never a wrong row)."""
    dir_path = os.path.abspath(dir_path)
    names = bloom_pruned_files(spark, dir_path, col, value)
    if names is None:
        df = spark.read.parquet(dir_path)
    elif not names:
        df = spark.read.parquet(dir_path).filter(F.lit(False))
    else:
        df = spark.read.parquet(*[os.path.join(dir_path, n) for n in names])
    return df.filter(F.col(col) == F.lit(value))
