"""Lifecycle round-trips registered behind the driver gate: pipeline-
boundary operations whose correctness lives in SIDE EFFECTS (writes,
streams, catalog state, physical layout), re-expressed as `queries()`
entries whose RESULT encodes the round-trip property, so the external
driver certifies them differentially instead of trusting the unit suite.

Started with the r8 pair (streaming gold refresh, training-shard
handoff); r9 widened it to the full lakehouse maintenance surface:
UPDATE-capable silver merge, compaction + z-order, SCD2 history, schema
evolution (mergeSchema), static + dynamic partition pruning, bucketed
co-located joins, and partition-scoped row-level deletes. Each query
writes to a private tempdir, reads its own output back, ASSERTS the
plan/layout properties Spark-side (loud AssertionError → driver err row),
and pins the (model-sized) result before cleaning up — the returned frame
is a LocalRelation, so repeated driver/bench runs leave nothing behind.
All of them must pass the DRIVE_VANILLA twice-through determinism check
(scripts/drive_contract.py) and keep driver-facing columns in the boring
type families (CLAUDE.md encoding rules).

Reference parity: the reference rebuilds gold from scratch per dbt run
(`/root/reference/transform/models/gold/driver_session_summary.sql` via
`dbt build`, README.md:24) and hands results off as ad-hoc warehouse
tables; the incremental refresh + verified shard handoff are the scaled-up
equivalents of those two lifecycle steps.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from decimal import Decimal

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from f1_lakehouse_spark.pinning import pin_small_result
from f1_lakehouse_spark.pipeline.filtering import pipeline_corpus_survivors
from f1_lakehouse_spark.pipeline.hashing import sql_md5_hash48, sql_salted_hash
from f1_lakehouse_spark.registry import REGISTRY, register
from f1_lakehouse_spark.tables import load_table

# event_type is a TAXONOMY (a handful of product-defined names), not a
# data-proportional key: the pin ceiling is semantics-derived
EVENT_TYPE_MAX = 64

SHARD_N = 8
_SHARD_COLS = ["doc_id", "lang", "n_chars", "source", "text"]  # sorted(documents)
_NULL_SENTINEL_SQL = "chr(0) || '<NULL>'"


@register(
    "incremental_gold_refresh_roundtrip",
    # r8 driver red (hash_match only; emulator + vanilla local[32] both
    # MATCH): harden the result encoding against hash-canonicalization —
    # the published DECIMAL(38,9) stays internal, the RESULT re-encodes it
    # as a scale-3-rescaled DOUBLE (CLAUDE.md decimal->double trap 3: the
    # scale-3 unscaled int is < 2^53, so the conversion is one exact
    # int->double in both engines; round(), not CAST, because DuckDB's
    # decimal rescale CAST truncates while Spark's rounds HALF_UP).
    oracle="""
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(round(SUM(CAST(value AS DECIMAL(28,9))), 3) AS DOUBLE) AS total_value
FROM events
GROUP BY event_type
""",
    doc="Streaming gold refresh certified end-to-end: run the "
    "foreachBatch key-replace merge over the events stream (one one-table "
    "txn per micro-batch), RESTART it with no new data (checkpoint "
    "recovery must no-op, not double-count), read the live version back "
    "through the txn manifest, and compare against the batch aggregate "
    "the oracle computes directly. A replay double-count, a broken "
    "commit, or stale version retention all surface as a driver "
    "hash mismatch.",
    tags=("streaming", "lifecycle"),
)
def incremental_gold_refresh_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from f1_lakehouse_spark.sources.txn import (  # noqa: PLC0415
        manifest_read_table,
        read_manifest,
    )
    from f1_lakehouse_spark.streaming.ingest import (  # noqa: PLC0415
        incremental_gold_refresh,
    )

    base = tempfile.mkdtemp(prefix="f1ls_gold_refresh_")
    gold, ckpt = os.path.join(base, "gold"), os.path.join(base, "ckpt")
    # the events table is a single FILE in the driver's testdata but a
    # DIRECTORY when Spark wrote it (e.g. the scale-stress replica);
    # pathGlobFilter matches LEAF file names, so pick the root accordingly
    tbl = os.path.join(sf_dir, "events.parquet")
    src, glob = (tbl, "*.parquet") if os.path.isdir(tbl) else (sf_dir, "events.parquet")
    try:
        incremental_gold_refresh(spark, src, gold, ckpt, glob=glob)
        # restart against the same checkpoint with no new files: the
        # recovered stream must publish nothing new and keep the manifest
        # consistent (the crash-replay no-op path)
        incremental_gold_refresh(spark, src, gold, ckpt, glob=glob)
        live = read_manifest(gold)
        out = manifest_read_table(spark, gold, "gold", live).select(
            "event_type",
            "n_events",
            F.round("total_value", 3).cast("double").alias("total_value"),
        )
        # pin BEFORE the tempdir vanishes; event-type taxonomy bound
        return pin_small_result(out, EVENT_TYPE_MAX)
    finally:
        shutil.rmtree(base, ignore_errors=True)


# the manifest checksum is an unbounded decimal SUM of 48-bit row hashes;
# the RESULT re-encodes it mod 2^62 as BIGINT (still detects any dropped/
# corrupt/mis-sharded row with probability 1 - 2^-62) so the driver never
# hashes a decimal(38,0)/HUGEINT-adjacent physical value (r8 red-row
# hardening; likewise `verified` ships as INT 0/1, not BOOLEAN)
CHECKSUM_MOD = 1 << 62


def _shard_oracle() -> str:
    """DuckDB twin of sources/shards.py's row-hash/shard/checksum pipeline:
    shard = salted md5 hash of the key mod SHARD_N; checksum = exact
    decimal SUM of the per-row 48-bit md5 hash over the sorted column
    list (NULLs sentinel-encoded exactly like ``shards._row_hash``),
    reduced mod 2^62 to BIGINT for the driver-facing encoding. The mod is
    taken on a HUGEINT intermediate (exact at any magnitude); only the
    post-mod BIGINT escapes the query."""
    row = " , ".join(
        f"COALESCE(CAST({c} AS VARCHAR), {_NULL_SENTINEL_SQL})" for c in _SHARD_COLS
    )
    row_hash = sql_md5_hash48(f"concat_ws(chr(31), {row})")
    shard = sql_salted_hash("doc_id", ":shard")
    return f"""
WITH hashed AS (
    SELECT CAST({shard} % {SHARD_N} AS INTEGER) AS shard,
           CAST({row_hash} AS DECIMAL(38,0)) AS h
    FROM documents
)
SELECT shard,
       COUNT(*) AS n_rows,
       CAST(CAST(SUM(h) AS HUGEINT) % {CHECKSUM_MOD} AS BIGINT) AS checksum,
       CAST(1 AS INTEGER) AS verified
FROM hashed
GROUP BY shard
"""


@register(
    "training_shards_roundtrip",
    oracle=_shard_oracle(),
    doc="Training-shard handoff certified end-to-end: hash-shard the "
    "documents table to parquet, write the manifest from the FILES READ "
    "BACK, run the consumer-side verifier, and return the per-shard "
    "(count, checksum, verified) rows. The oracle recomputes shard "
    "membership and the order-independent checksum from the source table "
    "directly, so a dropped row, a mis-sharded row, a corrupt write, or a "
    "verifier that stops verifying all surface as a driver mismatch.",
    tags=("sink", "lifecycle"),
)
def training_shards_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from f1_lakehouse_spark.sources.shards import (  # noqa: PLC0415
        verify_training_shards,
        write_training_shards,
    )

    docs = load_table(spark, sf_dir, "documents")
    base = tempfile.mkdtemp(prefix="f1ls_shards_")
    out = os.path.join(base, "shards")
    try:
        manifest = write_training_shards(docs, out, key_col="doc_id", n_shards=SHARD_N)
        report = verify_training_shards(spark, out)
        rows = [
            (
                int(sid),
                int(m["n_rows"]),
                int(Decimal(m["checksum"]) % CHECKSUM_MOD),
                int(bool(report["ok"])),
            )
            for sid, m in sorted(manifest["shards"].items(), key=lambda kv: int(kv[0]))
        ]
        # model-sized LocalRelation (n_shards rows) straight from the
        # manifest the writer derived from the written files; checksum is
        # the manifest's exact decimal sum reduced mod 2^62 (see
        # CHECKSUM_MOD note) so the driver-facing row is all int/bigint
        return spark.createDataFrame(
            rows, "shard int, n_rows long, checksum long, verified int"
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)


# user_id is entity-bounded but data-derived; the silver result groups by
# event_type, so the same taxonomy ceiling applies
_SILVER_ORACLE = """
WITH latest AS (
    SELECT user_id, event_type, value,
           ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY ts DESC, event_id DESC
           ) AS rn
    FROM events
)
SELECT event_type,
       COUNT(*) AS n_users,
       CAST(round(SUM(CAST(value AS DECIMAL(28,9))), 3) AS DOUBLE) AS total_value
FROM latest
WHERE rn = 1
GROUP BY event_type
"""

# how many files the events backlog is split into before streaming: with
# maxFilesPerTrigger=1 this forces that many micro-batches, so a user's
# rows land in DIFFERENT batches and the merge's UPDATE path genuinely runs
# (a single-batch run would only ever exercise INSERT)
_SILVER_SPLIT_FILES = 4


@register(
    "incremental_silver_merge_roundtrip",
    oracle=_SILVER_ORACLE,
    doc="UPDATE-capable incremental silver certified end-to-end: split the "
    "events backlog into files, stream it with maxFilesPerTrigger=1 so the "
    "latest-wins MERGE crosses micro-batch boundaries (real UPDATEs, not "
    "just INSERTs), RESTART with no new data (checkpoint recovery must "
    "no-op), read the live version back through the txn manifest "
    "and aggregate latest-event-per-user by event_type. The oracle computes "
    "latest-per-user directly from the source, so an append-only silver, a "
    "lost update, a replay double-apply, or batch-split dependence all "
    "surface as a driver mismatch.",
    tags=("streaming", "lifecycle"),
)
def incremental_silver_merge_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from f1_lakehouse_spark.sources.txn import (  # noqa: PLC0415
        manifest_read_table,
        read_manifest,
    )
    from f1_lakehouse_spark.streaming.ingest import (  # noqa: PLC0415
        incremental_silver_merge,
    )

    base = tempfile.mkdtemp(prefix="f1ls_silver_merge_")
    src, silver, ckpt = (os.path.join(base, d) for d in ("src", "silver", "ckpt"))
    try:
        # split the backlog so each user's events span several files (round-
        # robin repartition); ts stays normalized because load_table did it
        load_table(spark, sf_dir, "events").select(
            "user_id", "ts", "event_id", "event_type", "value"
        ).repartition(_SILVER_SPLIT_FILES).write.parquet(src)
        incremental_silver_merge(
            spark, src, silver, ckpt, glob="*.parquet", max_files_per_trigger=1
        )
        # restart against the same checkpoint with no new files: recovery
        # must publish nothing new (the crash-replay no-op path)
        incremental_silver_merge(
            spark, src, silver, ckpt, glob="*.parquet", max_files_per_trigger=1
        )
        out = (
            manifest_read_table(spark, silver, "silver", read_manifest(silver))
            .groupBy("event_type")
            .agg(
                F.count("*").alias("n_users"),
                F.round(F.sum(F.col("value").cast("decimal(28,9)")), 3)
                .cast("double")
                .alias("total_value"),
            )
        )
        return pin_small_result(out, EVENT_TYPE_MAX)
    finally:
        shutil.rmtree(base, ignore_errors=True)


# stable-cast columns only (bigint + varchar): doubles and timestamps are
# covered by dedicated aggregate columns instead of the row hash, because
# double->string and timestamp->string renderings are not contractually
# identical across engines
_ORDERS_HASH_COLS = ["o_custkey", "o_orderkey", "o_orderpriority", "o_orderstatus"]
_ZORDER_FILES = 8
ORDERSTATUS_MAX = 8  # o_orderstatus is a 1-char taxonomy (TPC-H: O/F/P)


def _compaction_oracle() -> str:
    """Content twin of the compaction/z-order round-trip: the per-status
    count, the mod-2^62 key checksum over the stable columns, the decimal-
    exact total price, and the epoch-day span — recomputed straight from
    the source table, so ANY row lost, duplicated, or corrupted by the
    small-file write -> compact -> z-order rewrite chain mismatches."""
    row = " , ".join(
        f"COALESCE(CAST({c} AS VARCHAR), {_NULL_SENTINEL_SQL})"
        for c in _ORDERS_HASH_COLS
    )
    row_hash = sql_md5_hash48(f"concat_ws(chr(31), {row})")
    return f"""
WITH hashed AS (
    SELECT o_orderstatus,
           CAST({row_hash} AS DECIMAL(38,0)) AS h,
           CAST(o_totalprice AS DECIMAL(28,9)) AS price,
           CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS dday
    FROM orders
)
SELECT o_orderstatus,
       COUNT(*) AS n_rows,
       CAST(CAST(SUM(h) AS HUGEINT) % {CHECKSUM_MOD} AS BIGINT) AS key_checksum,
       CAST(round(SUM(price), 3) AS DOUBLE) AS total_price,
       MIN(dday) AS min_day,
       MAX(dday) AS max_day
FROM hashed
GROUP BY o_orderstatus
"""


@register(
    "compaction_zorder_roundtrip",
    oracle=_compaction_oracle(),
    doc="Physical-layout maintenance certified end-to-end: write orders as "
    "a many-small-files directory (simulated streaming ingest), run "
    "compact_parquet (bin-pack rewrite + atomic swap), z-order the "
    "compacted table by (o_custkey, o_totalprice), read it back, ASSERT "
    "the layout properties Spark-side (file count matches the compaction "
    "plan; per-file o_custkey spans are materially narrower than random "
    "placement — the min/max-skipping property z-order exists for), and "
    "return per-status content checksums the oracle recomputes from the "
    "source. Content errors surface as a driver mismatch; layout errors "
    "as a loud AssertionError (driver err row).",
    tags=("sink", "layout"),
)
def compaction_zorder_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from f1_lakehouse_spark.sources.layout import (  # noqa: PLC0415
        compact_parquet,
        write_zordered,
    )
    from f1_lakehouse_spark.sources.shards import _row_hash  # noqa: PLC0415

    orders = load_table(spark, sf_dir, "orders")
    base = tempfile.mkdtemp(prefix="f1ls_layout_")
    small, zdir = os.path.join(base, "small"), os.path.join(base, "zorder")
    try:
        # 1. simulate small-file ingest (round-robin: every file spans the
        #    full key range, the layout z-order must then fix)
        orders.repartition(16).write.parquet(small)
        # 2. compact: the bin-packed rewrite must land exactly the planned
        #    file count on disk
        planned = compact_parquet(spark, small, target_file_mb=128)
        actual = sum(
            1 for f in os.listdir(small) if f.endswith(".parquet")
        )
        assert actual == planned, (
            f"compact_parquet planned {planned} files, found {actual}"
        )
        # 3. z-order the compacted table and audit the clustering
        compacted = spark.read.parquet(small)
        write_zordered(
            compacted, zdir, ["o_custkey", "o_totalprice"], n_files=_ZORDER_FILES
        )
        back = spark.read.parquet(zdir)
        spans = (
            back.groupBy(F.input_file_name().alias("f"))
            .agg(
                F.min("o_custkey").alias("lo"),
                F.max("o_custkey").alias("hi"),
                F.count("*").alias("n"),
            )
            .collect()
        )
        g_lo, g_hi = min(r["lo"] for r in spans), max(r["hi"] for r in spans)
        ratio = sum(r["hi"] - r["lo"] for r in spans) / (
            len(spans) * max(1, g_hi - g_lo)
        )
        # random (round-robin) placement gives ratio ~= 1.0; a 4-bit 2-dim
        # z-curve split into 8 ranges bounds each file to at most half the
        # custkey buckets, so a healthy layout sits near 0.5. The ratio is
        # DISTRIBUTION-DEPENDENT at tiny scale: with few rows per file the
        # per-file min/max spans are sampling noise, so a correct layout
        # could flake the threshold — only enforce it once every file holds
        # enough rows for the span statistic to be meaningful.
        min_rows_per_file = 100
        if min(r["n"] for r in spans) >= min_rows_per_file:
            assert ratio < 0.8, (
                f"z-order clustering audit failed: per-file o_custkey span "
                f"ratio {ratio:.3f} >= 0.8 over {len(spans)} files — files "
                "span the whole key range, min/max skipping would prune "
                "nothing"
            )
        # 4. content certification from the ROUND-TRIPPED files — the row
        #    hash is shards._row_hash (ONE implementation of the
        #    separator/NULL-sentinel discipline; a fix there must reach
        #    this checksum too, so no inline copy)
        out = (
            back.withColumn("h", _row_hash(_ORDERS_HASH_COLS).cast("decimal(38,0)"))
            .groupBy("o_orderstatus")
            .agg(
                F.count("*").alias("n_rows"),
                (F.sum("h") % F.lit(CHECKSUM_MOD).cast("decimal(38,0)"))
                .cast("long")
                .alias("key_checksum"),
                F.round(F.sum(F.col("o_totalprice").cast("decimal(28,9)")), 3)
                .cast("double")
                .alias("total_price"),
                F.min(F.unix_date(F.col("o_orderdate").cast("date")))
                .cast("long")
                .alias("min_day"),
                F.max(F.unix_date(F.col("o_orderdate").cast("date")))
                .cast("long")
                .alias("max_day"),
            )
        )
        return pin_small_result(out, ORDERSTATUS_MAX)
    finally:
        shutil.rmtree(base, ignore_errors=True)


# fixed epoch boundaries spanning the generated o_orderdate range
# (1995-01-01 .. 2001-08-01 at every SF): literals, so both engines cut
# the change batches identically with zero data-dependent state
_SCD2_EPOCHS = ("1997-01-01 00:00:00", "1999-01-01 00:00:00")
_PRIORITY_MAX = 16  # o_orderpriority is a 5-value TPC-H taxonomy

_SCD2_ORACLE = f"""
WITH latest AS (
    SELECT o_custkey, epoch, o_orderpriority FROM (
        SELECT o_custkey,
               CASE WHEN o_orderdate < TIMESTAMP '{_SCD2_EPOCHS[0]}' THEN 1
                    WHEN o_orderdate < TIMESTAMP '{_SCD2_EPOCHS[1]}' THEN 2
                    ELSE 3 END AS epoch,
               o_orderpriority,
               ROW_NUMBER() OVER (
                   PARTITION BY o_custkey,
                       CASE WHEN o_orderdate < TIMESTAMP '{_SCD2_EPOCHS[0]}' THEN 1
                            WHEN o_orderdate < TIMESTAMP '{_SCD2_EPOCHS[1]}' THEN 2
                            ELSE 3 END
                   ORDER BY o_orderdate DESC, o_orderkey DESC
               ) AS rn
        FROM orders
    ) WHERE rn = 1
),
versions AS (
    -- SCD2 semantics: a change batch only opens a new version when the
    -- tracked value actually differs from the key's open row
    SELECT o_custkey, epoch, o_orderpriority FROM (
        SELECT o_custkey, epoch, o_orderpriority,
               LAG(o_orderpriority) OVER (
                   PARTITION BY o_custkey ORDER BY epoch
               ) AS prev
        FROM latest
    ) WHERE prev IS NULL OR prev <> o_orderpriority
),
flagged AS (
    SELECT o_orderpriority,
           CASE WHEN ROW_NUMBER() OVER (
               PARTITION BY o_custkey ORDER BY epoch DESC
           ) = 1 THEN 1 ELSE 0 END AS is_open
    FROM versions
)
SELECT o_orderpriority,
       CAST(SUM(is_open) AS BIGINT) AS n_open,
       CAST(SUM(1 - is_open) AS BIGINT) AS n_closed
FROM flagged
GROUP BY o_orderpriority
"""


@register(
    "scd2_history_roundtrip",
    oracle=_SCD2_ORACLE,
    doc="Type-2 slowly-changing-dimension maintenance certified end-to-end: "
    "derive three epoch change batches from orders (latest o_orderpriority "
    "per customer per fixed calendar epoch), apply them SEQUENTIALLY with "
    "sources/scd2.scd2_apply onto an initially-empty history, and return "
    "per-priority open/closed version counts. The oracle recomputes the "
    "version chain directly from the source with distinct-consecutive "
    "window logic, so a missed close, a spurious version for an unchanged "
    "value, a lost first version, or broken open-row survival all surface "
    "as a driver mismatch.",
    tags=("lifecycle", "scd2"),
)
def scd2_history_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from f1_lakehouse_spark.pinning import pin_checkpoint  # noqa: PLC0415
    from f1_lakehouse_spark.sources.scd2 import OPEN_END, scd2_apply  # noqa: PLC0415

    orders = load_table(spark, sf_dir, "orders")
    lo, hi = (F.lit(e).cast("timestamp") for e in _SCD2_EPOCHS)
    epoch = (
        F.when(F.col("o_orderdate") < lo, 1)
        .when(F.col("o_orderdate") < hi, 2)
        .otherwise(3)
    )
    # latest priority per (customer, epoch): map-side max over the ordering
    # tuple, payload carried in the struct (o_orderkey is the unique tiebreak)
    latest = (
        orders.withColumn("epoch", epoch)
        .groupBy("o_custkey", "epoch")
        .agg(
            F.max(
                F.struct("o_orderdate", "o_orderkey", "o_orderpriority")
            ).alias("_m")
        )
        .select("o_custkey", "epoch", F.col("_m.o_orderpriority").alias("o_orderpriority"))
    )
    # persist + materialize the derived model frame BEFORE the loop
    # (CLAUDE.md iterative-rounds rule): each epoch's `changes` appears in
    # ~3 branches of scd2_apply's plan and pin_checkpoint materializes all
    # of them — unpersisted, the orders aggregate would re-derive ~9 times
    # across the 3 epochs; persisted, orders scans once
    latest = latest.persist()
    latest.count()
    try:
        history = spark.createDataFrame(
            [],
            "o_custkey long, o_orderpriority string, "
            "valid_from timestamp, valid_to timestamp",
        )
        for i, eff in enumerate(["1997-01-01", "1999-01-01", "2002-01-01"], start=1):
            changes = latest.filter(F.col("epoch") == i).select(
                "o_custkey", "o_orderpriority"
            )
            history = scd2_apply(
                history, changes, "o_custkey", ["o_orderpriority"], F.lit(eff)
            )
            # pin between applications: each scd2_apply consumes `history`
            # FOUR times (open/closed filters + two joins), so an unpinned
            # 3-deep chain re-evaluates the whole lineage ~4^3 times;
            # localCheckpoint keeps it one pass per round, executor-side
            # (history is customer-proportional — never a driver pin)
            history = pin_checkpoint(history)
        is_open = (F.col("valid_to") == F.lit(OPEN_END).cast("timestamp")).cast("int")
        out = (
            history.withColumn("is_open", is_open)
            .groupBy("o_orderpriority")
            .agg(
                F.sum("is_open").cast("long").alias("n_open"),
                F.sum(1 - F.col("is_open")).cast("long").alias("n_closed"),
            )
        )
        return pin_small_result(out, _PRIORITY_MAX)
    finally:
        latest.unpersist()


_ABSENT = "<ABSENT>"

_SCHEMA_EVOLUTION_ORACLE = f"""
SELECT CASE WHEN o_orderkey % 2 = 0 THEN '{_ABSENT}'
            ELSE o_orderpriority END AS o_orderpriority,
       COUNT(*) AS n_rows,
       CAST(round(SUM(CAST(o_totalprice AS DECIMAL(28,9))), 3) AS DOUBLE)
           AS total_price
FROM orders
GROUP BY 1
"""


@register(
    "schema_evolution_roundtrip",
    oracle=_SCHEMA_EVOLUTION_ORACLE,
    doc="Additive schema evolution certified end-to-end: write an old-"
    "schema batch (even order keys, WITHOUT o_orderpriority) and a new-"
    "schema batch (odd keys, WITH it) into the same table directory, read "
    "back with the mergeSchema-reconciling scan, and aggregate with the "
    "evolved column NULL-coalesced to a sentinel for pre-evolution rows. "
    "The oracle reconstructs the same split from the source, so dropped "
    "batches, a scan pinned to one footer's schema, or NULL-fill applied "
    "to the wrong rows all surface as a driver mismatch.",
    tags=("sink", "lifecycle"),
)
def schema_evolution_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from f1_lakehouse_spark.sources.formats import read_parquet_evolved  # noqa: PLC0415

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    base = tempfile.mkdtemp(prefix="f1ls_evolve_")
    tbl = os.path.join(base, "orders_evolved")
    try:
        old = orders.filter(F.col("o_orderkey") % 2 == 0).drop("o_orderpriority")
        new = orders.filter(F.col("o_orderkey") % 2 != 0)
        old.write.parquet(tbl)
        new.write.mode("append").parquet(tbl)
        back = read_parquet_evolved(spark, tbl)
        out = (
            back.groupBy(
                F.coalesce("o_orderpriority", F.lit(_ABSENT)).alias("o_orderpriority")
            )
            .agg(
                F.count("*").alias("n_rows"),
                F.round(F.sum(F.col("o_totalprice").cast("decimal(28,9)")), 3)
                .cast("double")
                .alias("total_price"),
            )
        )
        return pin_small_result(out, _PRIORITY_MAX)
    finally:
        shutil.rmtree(base, ignore_errors=True)


# partition-prune window: generated event dates span 2024-01-01..2024-01-30
# at every SF (TESTDATA.md); the window is a strict interior subset so both
# engines filter a nontrivial fraction
_PRUNE_LO, _PRUNE_HI = "2024-01-08", "2024-01-14"

_PARTITION_PRUNE_ORACLE = f"""
SELECT event_type,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users
FROM events
WHERE CAST(ts AS DATE) BETWEEN DATE '{_PRUNE_LO}' AND DATE '{_PRUNE_HI}'
GROUP BY event_type
"""


@register(
    "partition_prune_roundtrip",
    oracle=_PARTITION_PRUNE_ORACLE,
    doc="Hive-partitioned sink + partition-pruned scan certified "
    "end-to-end: write events partitioned by event_date, read back with a "
    "date-range predicate, ASSERT the physical plan prunes at the "
    "partition level (PartitionFilters non-empty AND the listed partition "
    "count equals the window width — the property that turns a 100 TB "
    "scan into a 7-day scan), and return the windowed aggregate the "
    "oracle recomputes from the raw table.",
    tags=("sink", "layout"),
)
def partition_prune_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from f1_lakehouse_spark.sources.parquet_io import (  # noqa: PLC0415
        read_partitioned,
        write_partitioned,
    )

    events = load_table(spark, sf_dir, "events")
    base = tempfile.mkdtemp(prefix="f1ls_prune_")
    tbl = os.path.join(base, "events_by_date")
    try:
        write_partitioned(
            events.withColumn("event_date", F.to_date("ts")), tbl, ["event_date"]
        )
        back = read_partitioned(spark, tbl).filter(
            (F.col("event_date") >= F.lit(_PRUNE_LO))
            & (F.col("event_date") <= F.lit(_PRUNE_HI))
        )
        plan = back._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters: [" in plan and "event_date" in plan.split(
            "PartitionFilters:"
        )[1].split("]")[0], f"date predicate did not reach PartitionFilters:\n{plan}"
        # the pruned scan must READ exactly the window's partition dirs,
        # not every directory: audit the files the tasks actually touched
        touched = {
            r["d"]
            for r in back.select(
                F.regexp_extract(F.input_file_name(), "event_date=([0-9-]+)", 1)
                .alias("d")
            )
            .distinct()
            .collect()
        }
        # expected day set derived from the DATA, not hardcoded (a sparse
        # scale factor may leave a calendar day empty — the prune is still
        # correct; only touching a day OUTSIDE the window, or missing a day
        # that HAS rows, is a failure). One extra aggregate over the source
        # frame the query already scanned to write the table.
        expected = {
            r["d"]
            for r in events.select(
                F.to_date("ts").cast("string").alias("d")
            )
            .filter((F.col("d") >= _PRUNE_LO) & (F.col("d") <= _PRUNE_HI))
            .distinct()
            .collect()
        }
        assert touched == expected, (
            f"scan touched partitions outside/short of the window: "
            f"touched={sorted(touched)} expected={sorted(expected)}"
        )
        out = back.groupBy("event_type").agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
        return pin_small_result(out, EVENT_TYPE_MAX)
    finally:
        shutil.rmtree(base, ignore_errors=True)


_BUCKETED_JOIN_ORACLE = """
SELECT o.o_orderstatus,
       COUNT(*) AS n_lines,
       CAST(round(SUM(CAST(l.l_extendedprice AS DECIMAL(28,9))
                      * (1 - CAST(l.l_discount AS DECIMAL(18,9)))), 3)
            AS DOUBLE) AS revenue
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
GROUP BY o.o_orderstatus
"""


@register(
    "bucketed_join_roundtrip",
    oracle=_BUCKETED_JOIN_ORACLE,
    doc="Bucketed-table co-located join certified end-to-end: materialize "
    "orders AND lineitem as external tables bucketed+sorted on the join "
    "key (8 buckets each), join them, ASSERT the executed plan has NO "
    "exchange on either join input (the pre-paid shuffle is the whole "
    "point — at 100 TB re-shuffling two fact tables per query is the "
    "dominant cost), and return the per-status revenue aggregate the "
    "oracle recomputes from the raw tables. Broadcast is disabled for the "
    "probe so the co-located sort-merge path is what gets certified.",
    tags=("sink", "layout"),
)
def bucketed_join_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from f1_lakehouse_spark.sources.parquet_io import write_bucketed_table  # noqa: PLC0415

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus"
    )
    lineitem = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    base = tempfile.mkdtemp(prefix="f1ls_bucketed_")
    # catalog names suffixed with the tempdir's unique token: two sessions
    # sharing a warehouse (or the vanilla twice-through drive overlapping a
    # concurrent run) must never collide on the global table names, and the
    # finally-block DROP must only ever unregister THIS run's tables
    token = os.path.basename(base).removeprefix("f1ls_bucketed_").lower()
    t_orders = f"f1ls_bucketed_orders_{token}"
    t_lineitem = f"f1ls_bucketed_lineitem_{token}"
    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        write_bucketed_table(
            orders, t_orders, os.path.join(base, "orders"), "o_orderkey", 8
        )
        write_bucketed_table(
            lineitem, t_lineitem, os.path.join(base, "lineitem"), "l_orderkey", 8
        )
        # small SF would otherwise broadcast right past the bucketed layout;
        # the certified property is the shuffle-FREE sort-merge join
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        o = spark.table(t_orders)
        l = spark.table(t_lineitem)
        joined = o.join(l, o["o_orderkey"] == l["l_orderkey"])
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, f"expected a sort-merge join:\n{plan}"
        assert "Exchange hashpartitioning(o_orderkey" not in plan, (
            f"orders side shuffled despite bucketing:\n{plan}"
        )
        assert "Exchange hashpartitioning(l_orderkey" not in plan, (
            f"lineitem side shuffled despite bucketing:\n{plan}"
        )
        rev = F.col("l_extendedprice").cast("decimal(28,9)") * (
            F.lit(1) - F.col("l_discount").cast("decimal(18,9)")
        )
        out = joined.groupBy("o_orderstatus").agg(
            F.count("*").alias("n_lines"),
            F.round(F.sum(rev), 3).cast("double").alias("revenue"),
        )
        return pin_small_result(out, ORDERSTATUS_MAX)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
        spark.sql(f"DROP TABLE IF EXISTS {t_orders}")
        spark.sql(f"DROP TABLE IF EXISTS {t_lineitem}")
        shutil.rmtree(base, ignore_errors=True)


_DPP_ORACLE = """
SELECT event_type,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users
FROM events
WHERE isodow(CAST(ts AS DATE)) = 1
GROUP BY event_type
"""


@register(
    "dynamic_partition_prune_roundtrip",
    oracle=_DPP_ORACLE,
    doc="Dynamic partition pruning certified end-to-end: events "
    "partitioned by event_date joined to a materialized calendar dim "
    "filtered to Mondays — the partition values are only knowable at "
    "RUNTIME (from the dim's filter result), so static pruning cannot "
    "apply; ASSERT the fact scan's PartitionFilters carry a "
    "dynamicpruningexpression (with a DPP-disabled negative control "
    "proving the assert tracks the real mechanism), then return the "
    "joined aggregate the oracle recomputes "
    "with a direct day-of-week filter. At 100 TB this is the difference "
    "between scanning the whole fact table and scanning the dim-selected "
    "slice for every dim-filtered star join.",
    tags=("sink", "layout"),
)
def dynamic_partition_prune_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    base = tempfile.mkdtemp(prefix="f1ls_dpp_")
    tbl, dimp = os.path.join(base, "events_by_date"), os.path.join(base, "dates")
    try:
        events.withColumn("event_date", F.to_date("ts")).write.partitionBy(
            "event_date"
        ).parquet(tbl)
        # calendar dim, MATERIALIZED: DPP only plans a runtime pruning
        # subquery against a real relation with a selective filter — a
        # same-scan-derived dim is folded away instead (verified; the
        # self-derived variant plans a plain broadcast join, no pruning)
        (
            events.select(F.to_date("ts").alias("event_date"))
            .distinct()
            .withColumn("dow", F.dayofweek("event_date"))
            .write.parquet(dimp)
        )
        fact = spark.read.parquet(tbl)
        dim = spark.read.parquet(dimp).filter(F.col("dow") == 2)  # Mondays
        joined = fact.join(dim.select("event_date"), "event_date")
        # The certification is plan-level: dynamicpruningexpression inside
        # the fact scan's PartitionFilters IS Spark's runtime-pruning
        # contract (the subquery runs before file listing). A per-task
        # input_file_name audit is impossible here — the expression is
        # single-source-only post-join, and attaching it to the fact scan
        # pre-join is a nondeterministic projection that BLOCKS the DPP
        # insertion (verified both ways); AQE likewise hides the scan's
        # numPartitions metric behind reused query stages.
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "dynamicpruningexpression" in plan.lower(), (
            f"join did not plan dynamic partition pruning:\n{plan}"
        )
        # negative control: with the optimizer rule off the expression must
        # vanish — proves the positive assert matches the real mechanism,
        # not an incidental string
        dpp_conf = "spark.sql.optimizer.dynamicPartitionPruning.enabled"
        prev = spark.conf.get(dpp_conf)
        try:
            spark.conf.set(dpp_conf, "false")
            off_plan = (
                fact.join(dim.select("event_date"), "event_date")
                ._jdf.queryExecution()
                .executedPlan()
                .toString()
            )
        finally:
            spark.conf.set(dpp_conf, prev)
        assert "dynamicpruningexpression" not in off_plan.lower(), (
            "negative control failed: pruning expression present with DPP off"
        )
        out = joined.groupBy("event_type").agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
        return pin_small_result(out, EVENT_TYPE_MAX)
    finally:
        shutil.rmtree(base, ignore_errors=True)


# the GDPR-delete scope: these users' events inside the prune window
_DELETE_USER_MOD = 50

_ROW_DELETE_ORACLE = f"""
SELECT event_type,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users
FROM events
WHERE NOT (user_id % {_DELETE_USER_MOD} = 0
           AND CAST(ts AS DATE) BETWEEN DATE '{_PRUNE_LO}' AND DATE '{_PRUNE_HI}')
GROUP BY event_type
"""


@register(
    "row_level_delete_roundtrip",
    oracle=_ROW_DELETE_ORACLE,
    doc="GDPR-shaped row-level delete certified end-to-end: write events "
    "hive-partitioned by event_date, delete a user cohort's rows inside a "
    "7-day window with the partition-scoped rewrite "
    "(sources/parquet_io.delete_rows_partition_scoped), ASSERT the files "
    "of every partition OUTSIDE the window are byte-for-byte untouched "
    "(same names and sizes — at 100 TB the delete must not rewrite the "
    "table) while the 7 affected partitions were rewritten, and return "
    "the post-delete aggregate the oracle computes with the inverse "
    "predicate. Over-deletion, under-deletion, and out-of-scope rewrites "
    "all surface.",
    tags=("sink", "lifecycle"),
)
def row_level_delete_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from f1_lakehouse_spark.sources.parquet_io import (  # noqa: PLC0415
        delete_rows_partition_scoped,
        read_partitioned,
        write_partitioned,
    )

    def file_census(root: str) -> dict[str, tuple[str, int]]:
        return {
            os.path.relpath(os.path.join(r, f), root): (
                f,
                os.path.getsize(os.path.join(r, f)),
            )
            for r, _, files in os.walk(root)
            for f in files
            if f.endswith(".parquet")
        }

    events = load_table(spark, sf_dir, "events")
    base = tempfile.mkdtemp(prefix="f1ls_delete_")
    tbl = os.path.join(base, "events_by_date")
    try:
        write_partitioned(
            events.withColumn("event_date", F.to_date("ts")), tbl, ["event_date"]
        )
        before = file_census(tbl)
        n_rewritten = delete_rows_partition_scoped(
            spark,
            tbl,
            "event_date",
            (F.col("event_date") >= F.lit(_PRUNE_LO))
            & (F.col("event_date") <= F.lit(_PRUNE_HI)),
            F.col("user_id") % _DELETE_USER_MOD == 0,
        )
        assert n_rewritten == 7, f"delete touched {n_rewritten} partitions, wanted 7"
        after = file_census(tbl)
        window = [p for p in before if _in_window(p)]
        outside = [p for p in before if not _in_window(p)]
        assert outside and all(after.get(p) == before[p] for p in outside), (
            "partitions outside the delete window were rewritten"
        )
        assert all(p not in after for p in window), (
            "affected partitions kept their pre-delete files"
        )
        out = read_partitioned(spark, tbl).groupBy("event_type").agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
        return pin_small_result(out, EVENT_TYPE_MAX)
    finally:
        shutil.rmtree(base, ignore_errors=True)


def _in_window(relpath: str) -> bool:
    """Is this partition file inside the delete window's event_date dirs?"""
    part = relpath.split(os.sep, 1)[0]  # 'event_date=YYYY-MM-DD'
    day = part.split("=", 1)[1]
    return _PRUNE_LO <= day <= _PRUNE_HI


_CURATED_COLS = ["doc_id", "lang", "n_tokens", "source"]  # sorted(survivors)


def _curated_shard_oracle() -> str:
    """The full curation -> training handoff composed in SQL: the
    survivors oracle (dedup keep-list ∩ gopher gate ∩ decontam — itself a
    composition of three registered oracles) feeds the shard-writer twin
    (salted md5 shard assignment + mod-2^62 row-hash checksum over the
    sorted column list)."""
    surv = REGISTRY["pipeline_corpus_survivors"].oracle
    row = " , ".join(
        f"COALESCE(CAST({c} AS VARCHAR), {_NULL_SENTINEL_SQL})" for c in _CURATED_COLS
    )
    row_hash = sql_md5_hash48(f"concat_ws(chr(31), {row})")
    shard = sql_salted_hash("doc_id", ":shard")
    return f"""
WITH survivors AS ({surv}),
hashed AS (
    SELECT CAST({shard} % {SHARD_N} AS INTEGER) AS shard,
           CAST({row_hash} AS DECIMAL(38,0)) AS h
    FROM survivors
)
SELECT shard,
       COUNT(*) AS n_rows,
       CAST(CAST(SUM(h) AS HUGEINT) % {CHECKSUM_MOD} AS BIGINT) AS checksum,
       CAST(1 AS INTEGER) AS verified
FROM hashed
GROUP BY shard
"""


@register(
    "curated_shards_roundtrip",
    oracle=_curated_shard_oracle(),
    doc="The curation -> training handoff certified as ONE query: "
    "shard the composed survivors corpus (dedup representatives ∩ "
    "repetition-gate passers ∩ uncontaminated docs) with the "
    "training-shard writer, verify the written files consumer-side, "
    "and return per-shard (count, checksum, verified). The oracle "
    "recomputes the entire composition — three curation stages AND "
    "shard membership AND the order-independent checksum — from the "
    "source table, so a regression anywhere in the curation chain or "
    "the handoff surfaces as one driver mismatch. The survivors frame "
    "is the shared (session, sf_dir) cache entry — BORROWED, never "
    "unpersisted here (CLAUDE.md cache roster).",
    tags=("sink", "lifecycle"),
)
def curated_shards_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from f1_lakehouse_spark.sources.shards import (  # noqa: PLC0415
        verify_training_shards,
        write_training_shards,
    )

    surv = pipeline_corpus_survivors(spark, sf_dir)
    base = tempfile.mkdtemp(prefix="f1ls_curated_shards_")
    out = os.path.join(base, "shards")
    try:
        manifest = write_training_shards(surv, out, key_col="doc_id", n_shards=SHARD_N)
        report = verify_training_shards(spark, out)
        rows = [
            (
                int(sid),
                int(m["n_rows"]),
                int(Decimal(m["checksum"]) % CHECKSUM_MOD),
                int(bool(report["ok"])),
            )
            for sid, m in sorted(
                manifest["shards"].items(), key=lambda kv: int(kv[0])
            )
        ]
        return spark.createDataFrame(
            rows, "shard int, n_rows long, checksum long, verified int"
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)


# ---------------------------------------------------------------------------
# Round-10 additions: cross-table atomic publish, version GC, stats/CBO
# ---------------------------------------------------------------------------

# latest-event-per-user silver, re-aggregated per event_type as gold —
# the oracle recomputes both layers straight from the source
_ATOMIC_PUBLISH_ORACLE = """
WITH latest AS (
    SELECT user_id, event_type, value,
           ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY ts DESC, event_id DESC
           ) AS rn
    FROM events
)
SELECT event_type,
       COUNT(*) AS n_users,
       CAST(round(SUM(CAST(value AS DECIMAL(28,9))), 3) AS DOUBLE) AS total_value
FROM latest
WHERE rn = 1
GROUP BY event_type
"""

# first-transaction slice boundary (events span 2024-01-01..30 at every SF)
_TXN1_CUTOFF = "2024-01-10 00:00:00"


def _medallion_layers(src: DataFrame):
    """silver = latest event per user, gold = per-type aggregate OF silver —
    the two frames one transaction must publish consistently. Silver is
    persisted+materialized before gold derives from it (CLAUDE.md barrier
    rule: gold would otherwise re-run silver's key shuffle from the events
    scan). Returns ``(tables, release)``: the caller calls ``release()``
    after the transaction settles (the published silver is a COALESCED
    view of the cache, so unpersisting the dict entry would be a no-op on
    the underlying cache entry).

    Publish sizing (guide §6, the streaming/ingest convention): silver
    coalesces to ceil(rows / 500k) output files — the materializing count
    is already paid — and gold to 1 (taxonomy-bounded). Before this, every
    lifecycle publish wrote one near-empty parquet file per shuffle
    partition and every read-back paid a task per file."""
    from f1_lakehouse_spark.streaming.ingest import (  # noqa: PLC0415
        SILVER_KEY,
        SILVER_ORDER,
        SILVER_PAYLOAD,
        _latest_per_key,
        _silver_to_gold,
    )

    silver = _latest_per_key(
        src.select(SILVER_KEY, *SILVER_ORDER, *SILVER_PAYLOAD)
    ).persist()
    n_silver = silver.count()
    gold = _silver_to_gold(silver)
    silver_files = max(1, -(-n_silver // 500_000))
    return (
        {"silver": silver.coalesce(silver_files), "gold": gold.coalesce(1)},
        silver.unpersist,
    )


def _state_publish_files(spark: SparkSession, sf_dir: str) -> int:
    """Size-derived output file count for publishing a latest-per-key
    state WITHOUT a count barrier (guide §6 output sizing; CLAUDE.md knob
    rule — derive from input, constants are floors): the state is at most
    the events input, so ceil(events bytes / 128 MB) bounds files at
    ~128 MB at any SF while the sf0.1 publish stays one file instead of
    one near-empty file per shuffle partition."""
    from f1_lakehouse_spark.session import input_bytes  # noqa: PLC0415
    from f1_lakehouse_spark.tables import table_path  # noqa: PLC0415

    return max(
        1,
        -(-input_bytes(spark, [table_path(sf_dir, "events")]) // (128 << 20)),
    )


def _assert_snapshot_consistent(spark: SparkSession, root: str, manifest) -> None:
    """The snapshot-isolation invariant a reader must observe: the gold the
    manifest names equals the aggregate of the silver the SAME manifest
    names — never new gold over old silver or vice versa. Decimal-exact
    compare; both collects are bounded by the event_type taxonomy
    (EVENT_TYPE_MAX)."""
    from f1_lakehouse_spark.sources.txn import manifest_read_table  # noqa: PLC0415
    from f1_lakehouse_spark.streaming.ingest import _silver_to_gold  # noqa: PLC0415

    silver = manifest_read_table(spark, root, "silver", manifest)
    gold = manifest_read_table(spark, root, "gold", manifest)
    assert silver is not None and gold is not None, "snapshot missing a table"
    expect = _silver_to_gold(silver)
    got = sorted(tuple(r) for r in gold.collect())
    want = sorted(tuple(r) for r in expect.collect())
    assert got == want, (
        f"snapshot tore: gold != aggregate(silver) under one manifest\n"
        f"gold={got}\nexpected={want}"
    )


@register(
    "atomic_publish_roundtrip",
    oracle=_ATOMIC_PUBLISH_ORACLE,
    doc="Cross-table atomic publish (snapshot isolation across the "
    "medallion) certified end-to-end: publish silver+gold as transaction 1 "
    "(events before a cutoff), CRASH transaction 2 between its two "
    "version-dir writes (its commit record is never created), assert readers "
    "resolving through the manifest still see the OLD consistent pair "
    "(gold == aggregate(silver) under one manifest snapshot — never new "
    "gold over old silver), replay transaction 2 to completion, assert "
    "the replay-after-commit no-ops, and return the final gold read "
    "through the manifest. The oracle recomputes both layers from the "
    "source, so a torn commit, a lost write, or a double-applied replay "
    "all surface as a driver mismatch. This is the multi-table commit "
    "primitive of a Delta/Iceberg catalog, emulated with one exclusively "
    "created commit record (sources/txn.py).",
    tags=("sink", "lifecycle"),
)
def atomic_publish_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from f1_lakehouse_spark.sources.txn import (  # noqa: PLC0415
        SimulatedCrash,
        manifest_read_table,
        publish_tables,
        read_manifest,
    )

    events = load_table(spark, sf_dir, "events")
    base = tempfile.mkdtemp(prefix="f1ls_txn_")
    root = os.path.join(base, "medallion")
    releases: list = []
    try:
        t1, rel1 = _medallion_layers(
            events.filter(F.col("ts") < F.lit(_TXN1_CUTOFF).cast("timestamp"))
        )
        releases.append(rel1)
        t2, rel2 = _medallion_layers(events)
        releases.append(rel2)
        publish_tables(spark, root, t1, txn_id=1)
        m1 = read_manifest(root)
        assert m1 is not None and m1["txn"] == 1, f"txn 1 did not commit: {m1}"
        _assert_snapshot_consistent(spark, root, m1)

        # transaction 2 crashes between its two writes: sorted order writes
        # gold first, so gold's NEW version dir lands on disk while silver's
        # does not and no commit record is created — the torn state a
        # non-atomic publish would expose
        try:
            publish_tables(spark, root, t2, txn_id=2, fail_after_writes=1)
            raise AssertionError("simulated crash did not fire")
        except SimulatedCrash:
            pass
        new_gold_dir = os.path.join(root, "gold", "v0000000002-default")
        assert os.path.isdir(new_gold_dir), (
            "crash fired before any write — the torn state was never exercised"
        )
        m_crash = read_manifest(root)
        assert m_crash == m1, (
            f"crashed publish mutated the manifest: {m_crash} != {m1}"
        )
        # readers still see the OLD consistent pair through the manifest
        _assert_snapshot_consistent(spark, root, m_crash)

        # crash-replay completes the transaction (its writes overwrite the
        # orphan dirs — disjoint from every live dir)
        publish_tables(spark, root, t2, txn_id=2)
        m2 = read_manifest(root)
        assert m2 is not None and m2["txn"] == 2, f"replay did not commit: {m2}"
        assert m2["tables"]["silver"] != m1["tables"]["silver"], (
            "txn 2 did not repoint silver"
        )
        _assert_snapshot_consistent(spark, root, m2)
        # replay AFTER the completed commit must no-op
        publish_tables(spark, root, t2, txn_id=2)
        assert read_manifest(root) == m2, "post-commit replay was not a no-op"

        gold = manifest_read_table(spark, root, "gold", m2)
        out = gold.select(
            "event_type",
            "n_users",
            F.round("total_value", 3).cast("double").alias("total_value"),
        )
        return pin_small_result(out, EVENT_TYPE_MAX)
    finally:
        for release in releases:
            release()
        shutil.rmtree(base, ignore_errors=True)


# the GC round-trip's three publish cuts (cumulative slices of events)
_GC_CUTS = ("2024-01-10 00:00:00", "2024-01-20 00:00:00")

_VERSION_GC_ORACLE = """
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(round(SUM(CAST(value AS DECIMAL(28,9))), 3) AS DOUBLE) AS total_value
FROM events
GROUP BY event_type
"""


@register(
    "version_gc_roundtrip",
    oracle=_VERSION_GC_ORACLE,
    doc="Version retention / vacuum contract of the one-table txn "
    "layout certified end-to-end: publish three versions (cumulative "
    "aggregates of growing event slices) through the SAME key-replace "
    "merge path the streaming foreachBatch uses, asserting after each "
    "publish that (a) the displaced version survives exactly one cycle — "
    "still as-of readable and still listed after the NEXT publish "
    "displaces it is when it is GC'd, (b) a reader holding the displaced "
    "version mid-scan still materializes it, (c) the pruned version "
    "resolves to None rather than a broken read, and (d) the live manifest "
    "always names a listed version. Returns the final manifest-resolved "
    "gold; the oracle aggregates the full source directly, so a merge "
    "regression or a GC that eats the live version surfaces as a driver "
    "mismatch. Delta VACUUM / Iceberg expire_snapshots is the same "
    "contract at file granularity.",
    tags=("sink", "lifecycle"),
)
def version_gc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from f1_lakehouse_spark.sources.txn import (  # noqa: PLC0415
        manifest_read_table,
        read_manifest,
    )
    from f1_lakehouse_spark.streaming.ingest import (  # noqa: PLC0415
        publish_gold_version,
    )

    events = load_table(spark, sf_dir, "events")

    def cumulative(upto: str | None) -> DataFrame:
        src = events
        if upto is not None:
            src = src.filter(F.col("ts") < F.lit(upto).cast("timestamp"))
        return src.groupBy("event_type").agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(28,9)")).alias("total_value"),
        )

    base = tempfile.mkdtemp(prefix="f1ls_gc_")
    root = os.path.join(base, "gold")

    def retained() -> list[str]:
        return sorted(os.listdir(os.path.join(root, "gold")))

    def as_of(txn: int | None) -> DataFrame | None:
        return manifest_read_table(spark, root, "gold", read_manifest(root, txn))

    def live() -> str:
        return read_manifest(root)["tables"]["gold"]

    try:
        publish_gold_version(cumulative(_GC_CUTS[0]), 1, root)
        v1 = live()
        assert retained() == [v1], retained()

        publish_gold_version(cumulative(_GC_CUTS[1]), 2, root)
        v2 = live()
        # (a) displaced version survives one cycle; (d) the live one is listed
        assert retained() == [v1, v2], retained()
        # (b) a reader of the displaced version still materializes it
        displaced = as_of(1)
        assert displaced is not None and displaced.count() > 0, (
            "displaced version unreadable within its retention cycle"
        )

        publish_gold_version(cumulative(None), 3, root)
        assert retained() == [v2, live()], retained()
        # (c) the GC'd version resolves to None, not a broken scan
        assert as_of(1) is None, "pruned version still resolves"
        # as-of read of the retained predecessor matches what it published
        asof = as_of(2)
        assert asof is not None, "retained predecessor not as-of readable"
        got = sorted(tuple(r) for r in asof.collect())
        want = sorted(tuple(r) for r in cumulative(_GC_CUTS[1]).collect())
        assert got == want, f"as-of v2 drifted: {got} != {want}"

        out = as_of(None).select(
            "event_type",
            "n_events",
            F.round("total_value", 3).cast("double").alias("total_value"),
        )
        return pin_small_result(out, EVENT_TYPE_MAX)
    finally:
        shutil.rmtree(base, ignore_errors=True)


_P_BRAND_MAX = 32  # p_brand is the 25-value TPC-H brand taxonomy

_CBO_ORACLE = """
SELECT p_brand,
       COUNT(*) AS n_lines,
       CAST(round(SUM(CAST(l_extendedprice AS DECIMAL(28,9))), 3) AS DOUBLE)
           AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_size = 1
GROUP BY p_brand
"""


@register(
    "cbo_stats_broadcast_roundtrip",
    oracle=_CBO_ORACLE,
    doc="Statistics-driven plan change (ANALYZE TABLE + CBO) certified "
    "end-to-end: CTAS part and a pruned lineitem as catalog tables, fix "
    "the broadcast threshold at HALF the dim's no-stats size estimate, "
    "and assert the filtered-dim join plans a SortMergeJoin (negative "
    "control: without column stats the filter cannot shrink the "
    "estimate); then ANALYZE ... FOR ALL COLUMNS, assert the CBO "
    "selectivity estimate drops the filtered dim below the SAME "
    "threshold, and assert the IDENTICAL query now plans a "
    "BroadcastHashJoin — the stats-driven build-side flip. Returns the "
    "join aggregate the oracle recomputes from the raw tables. At 100 TB "
    "collected statistics are what let Catalyst pick broadcast sides and "
    "join orders instead of worst-case estimates; the assert is on the "
    "static planner output (sparkPlan), so AQE's runtime re-plan cannot "
    "mask a stats regression.",
    tags=("sink", "lifecycle"),
)
def cbo_stats_broadcast_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    lineitem = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_extendedprice"
    )
    base = tempfile.mkdtemp(prefix="f1ls_cbo_")
    token = os.path.basename(base).removeprefix("f1ls_cbo_").lower()
    t_dim, t_fact = f"f1ls_cbo_dim_{token}", f"f1ls_cbo_fact_{token}"
    thresh_conf = "spark.sql.autoBroadcastJoinThreshold"
    cbo_conf = "spark.sql.cbo.enabled"
    prev_thresh = spark.conf.get(thresh_conf)
    prev_cbo = spark.conf.get(cbo_conf)
    try:
        (
            part.write.mode("overwrite")
            .option("path", os.path.join(base, "dim"))
            .saveAsTable(t_dim)
        )
        (
            lineitem.write.mode("overwrite")
            .option("path", os.path.join(base, "fact"))
            .saveAsTable(t_fact)
        )
        spark.conf.set(cbo_conf, "true")
        no_stats_est = int(
            str(
                spark.table(t_dim)
                ._jdf.queryExecution()
                .optimizedPlan()
                .stats()
                .sizeInBytes()
            )
        )
        threshold = max(1, no_stats_est // 2)
        spark.conf.set(thresh_conf, str(threshold))

        def build_join() -> DataFrame:
            d = spark.table(t_dim).filter(F.col("p_size") == 1)
            f_ = spark.table(t_fact)
            return f_.join(d, f_["l_partkey"] == d["p_partkey"])

        # negative control: no catalog stats -> the filter cannot shrink
        # the dim below the threshold -> shuffle join. sparkPlan is the
        # static planner output (pre-AQE), so the assert tracks the
        # stats-driven decision, not a runtime re-plan.
        neg = build_join()._jdf.queryExecution().sparkPlan().toString()
        assert "BroadcastHashJoin" not in neg and "SortMergeJoin" in neg, (
            f"no-stats control already broadcasts (threshold {threshold}, "
            f"estimate {no_stats_est}):\n{neg}"
        )

        spark.sql(f"ANALYZE TABLE {t_dim} COMPUTE STATISTICS FOR ALL COLUMNS")
        spark.sql(f"ANALYZE TABLE {t_fact} COMPUTE STATISTICS")
        spark.catalog.refreshTable(t_dim)
        spark.catalog.refreshTable(t_fact)
        # the precondition the flip hinges on, asserted explicitly so a
        # failure names the mechanism: CBO's column-stats selectivity puts
        # the filtered dim under the UNCHANGED threshold
        filtered_est = int(
            str(
                spark.table(t_dim)
                .filter(F.col("p_size") == 1)
                ._jdf.queryExecution()
                .optimizedPlan()
                .stats()
                .sizeInBytes()
            )
        )
        assert filtered_est <= threshold, (
            f"column stats did not shrink the filtered dim: {filtered_est} "
            f"> threshold {threshold}"
        )
        joined = build_join()
        pos = joined._jdf.queryExecution().sparkPlan().toString()
        assert "BroadcastHashJoin" in pos, (
            f"stats present but the planner kept the shuffle join:\n{pos}"
        )
        out = joined.groupBy("p_brand").agg(
            F.count("*").alias("n_lines"),
            F.round(F.sum(F.col("l_extendedprice").cast("decimal(28,9)")), 3)
            .cast("double")
            .alias("revenue"),
        )
        return pin_small_result(out, _P_BRAND_MAX)
    finally:
        spark.conf.set(thresh_conf, prev_thresh)
        spark.conf.set(cbo_conf, prev_cbo)
        spark.sql(f"DROP TABLE IF EXISTS {t_dim}")
        spark.sql(f"DROP TABLE IF EXISTS {t_fact}")
        shutil.rmtree(base, ignore_errors=True)


# second r10 batch: WAP, time travel, streaming multi-table txn, join reorder

_TT_ORACLE = f"""
WITH latest AS (
    SELECT user_id, event_type, value,
           ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY ts DESC, event_id DESC
           ) AS rn
    FROM events
    WHERE ts < TIMESTAMP '{_TXN1_CUTOFF}'
)
SELECT event_type,
       COUNT(*) AS n_users,
       CAST(round(SUM(CAST(value AS DECIMAL(28,9))), 3) AS DOUBLE) AS total_value
FROM latest
WHERE rn = 1
GROUP BY event_type
"""


@register(
    "snapshot_time_travel_roundtrip",
    oracle=_TT_ORACLE,
    doc="Snapshot time travel over the manifest history certified "
    "end-to-end: publish two medallion transactions, then read the "
    "ENTIRE snapshot as of transaction 1 through its immutable history "
    "manifest (_MANIFEST.v1) — both layers resolve to their txn-1 "
    "versions (retained one publish cycle), the as-of snapshot is "
    "internally consistent (gold == aggregate(silver)), a never-committed "
    "txn resolves to None, and the returned frame is the as-of gold the "
    "oracle recomputes with the txn-1 cutoff. Iceberg snapshot reads / "
    "Delta VERSION AS OF, emulated with O(#tables)-byte history files.",
    tags=("sink", "lifecycle"),
)
def snapshot_time_travel_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from f1_lakehouse_spark.sources.txn import (  # noqa: PLC0415
        manifest_read_table,
        publish_tables,
        read_manifest,
    )

    events = load_table(spark, sf_dir, "events")
    base = tempfile.mkdtemp(prefix="f1ls_tt_")
    root = os.path.join(base, "medallion")
    releases: list = []
    try:
        t1, rel1 = _medallion_layers(
            events.filter(F.col("ts") < F.lit(_TXN1_CUTOFF).cast("timestamp"))
        )
        releases.append(rel1)
        t2, rel2 = _medallion_layers(events)
        releases.append(rel2)
        publish_tables(spark, root, t1, txn_id=1)
        publish_tables(spark, root, t2, txn_id=2)
        # the live record is txn 2; the as-of read resolves txn 1's history
        # manifest and must see the OLD pair, still mutually consistent
        assert read_manifest(root)["txn"] == 2
        m_asof = read_manifest(root, txn=1)
        assert m_asof is not None and m_asof["txn"] == 1, m_asof
        _assert_snapshot_consistent(spark, root, m_asof)
        assert read_manifest(root, txn=3) is None, (
            "never-committed txn resolved to a manifest"
        )
        gold_asof = manifest_read_table(spark, root, "gold", m_asof)
        out = gold_asof.select(
            "event_type",
            "n_users",
            F.round("total_value", 3).cast("double").alias("total_value"),
        )
        return pin_small_result(out, EVENT_TYPE_MAX)
    finally:
        for release in releases:
            release()
        shutil.rmtree(base, ignore_errors=True)


def _medallion_audit(staged: dict[str, DataFrame]) -> list[str]:
    """The WAP quality gate: the contract the reference enforces POST-HOC
    with dbt not_null tests + check_gold.sh, run here against STAGED data
    before anything becomes visible. Count-based probes over the staged
    (entity-/taxonomy-bounded) frames; no driver materialization beyond
    scalar counts."""
    violations: list[str] = []
    silver, gold = staged["silver"], staged["gold"]
    n_null_type = silver.filter(F.col("event_type").isNull()).count()
    if n_null_type:
        violations.append(f"silver.event_type has {n_null_type} NULLs")
    # not_null key contract (the reference's schema.yml tests, pre-publish)
    n_null_user = silver.filter(F.col("user_id").isNull()).count()
    if n_null_user:
        violations.append(f"silver.user_id has {n_null_user} NULLs")
    if gold.filter(F.col("n_users") <= 0).count():
        violations.append("gold.n_users has non-positive groups")
    return violations


@register(
    "wap_publish_roundtrip",
    oracle=_ATOMIC_PUBLISH_ORACLE,
    doc="Write-Audit-Publish certified end-to-end: commit a clean "
    "medallion transaction through the staged-audit gate, then attempt a "
    "POISONED transaction (rows with NULL event_type on fresh keys, so "
    "the latest-per-key merge cannot mask them) — the audit must reject "
    "it BEFORE the commit record, leaving the committed snapshot "
    "untouched, readers on the clean pair, and the staged orphans "
    "removed; a replay of the committed txn must no-op. Returns the live "
    "gold, which the oracle recomputes from the clean source — if the "
    "poisoned batch had leaked to visibility the NULL group changes the "
    "hash. The reference runs its quality gate AFTER tables go live "
    "(scripts/check_gold.sh, dbt not_null); WAP is the 100 TB-safe "
    "inversion: a failing batch is never visible to any reader.",
    tags=("sink", "lifecycle"),
)
def wap_publish_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from f1_lakehouse_spark.sources.txn import (  # noqa: PLC0415
        manifest_read_table,
        read_manifest,
        write_audit_publish,
    )

    events = load_table(spark, sf_dir, "events")
    base = tempfile.mkdtemp(prefix="f1ls_wap_")
    root = os.path.join(base, "medallion")
    releases: list = []
    try:
        good, rel_good = _medallion_layers(events)
        releases.append(rel_good)
        v1 = write_audit_publish(
            spark, root, good, txn_id=1, audit_fn=_medallion_audit
        )
        assert v1 == [], f"clean batch rejected: {v1}"
        m1 = read_manifest(root)
        assert m1 is not None and m1["txn"] == 1

        # poison: NULL event_type on FRESH (negated) user keys — fresh so
        # the latest-per-key merge keeps them in staged silver instead of
        # losing the tie to the legitimate row
        poison = (
            events.select("user_id", "ts", "event_id", "event_type", "value")
            .limit(3)
            .withColumn("user_id", (-F.col("user_id") - F.lit(1)))
            .withColumn("event_type", F.lit(None).cast("string"))
        )
        bad_src = events.select(
            "user_id", "ts", "event_id", "event_type", "value"
        ).unionByName(poison)
        bad, rel_bad = _medallion_layers(bad_src)
        releases.append(rel_bad)
        v2 = write_audit_publish(
            spark, root, bad, txn_id=2, audit_fn=_medallion_audit
        )
        assert v2 and "event_type" in v2[0], (
            f"audit did not catch the poisoned batch: {v2}"
        )
        m_after = read_manifest(root)
        assert m_after == m1, "rejected batch mutated the manifest"
        assert not os.path.isdir(
            os.path.join(root, "silver", "v0000000002-default")
        ), "rejected staging not cleaned"
        _assert_snapshot_consistent(spark, root, m_after)
        # replay of the COMMITTED txn no-ops and reports no violations
        assert write_audit_publish(
            spark, root, good, txn_id=1, audit_fn=_medallion_audit
        ) == []

        gold = manifest_read_table(spark, root, "gold", m_after)
        out = gold.select(
            "event_type",
            "n_users",
            F.round("total_value", 3).cast("double").alias("total_value"),
        )
        return pin_small_result(out, EVENT_TYPE_MAX)
    finally:
        for release in releases:
            release()
        shutil.rmtree(base, ignore_errors=True)


_STREAM_SPLIT_FILES = 4  # backlog split so the merge crosses batch bounds


@register(
    "streaming_multitable_roundtrip",
    oracle=_ATOMIC_PUBLISH_ORACLE,
    doc="Exactly-once streaming maintenance of silver AND gold as ONE "
    "transaction per micro-batch, certified end-to-end: split the events "
    "backlog into files, stream with maxFilesPerTrigger=1 so the "
    "latest-wins merge crosses micro-batch boundaries, commit each "
    "batch's (silver, gold) pair through one commit record "
    "(streaming/ingest.streaming_medallion_publish over sources/txn.py), "
    "RESTART with no new data (checkpoint recovery + txn guard must "
    "no-op), then read BOTH layers through one manifest snapshot, assert "
    "gold == aggregate(silver), and return the final gold. The oracle "
    "computes latest-per-user from the raw source, so a torn multi-table "
    "commit, a replay double-apply, or batch-split dependence all "
    "surface. Delta's foreachBatch MERGE is per-table exactly-once; the "
    "manifest commit extends the guarantee across tables.",
    tags=("streaming", "lifecycle"),
)
def streaming_multitable_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from f1_lakehouse_spark.sources.txn import (  # noqa: PLC0415
        manifest_read_table,
        read_manifest,
    )
    from f1_lakehouse_spark.streaming.ingest import (  # noqa: PLC0415
        streaming_medallion_publish,
    )

    base = tempfile.mkdtemp(prefix="f1ls_stream_txn_")
    src, root, ckpt = (os.path.join(base, d) for d in ("src", "medallion", "ckpt"))
    try:
        load_table(spark, sf_dir, "events").select(
            "user_id", "ts", "event_id", "event_type", "value"
        ).repartition(_STREAM_SPLIT_FILES).write.parquet(src)
        streaming_medallion_publish(
            spark, src, root, ckpt, glob="*.parquet", max_files_per_trigger=1
        )
        m = read_manifest(root)
        assert m is not None and m["txn"] >= 1, m
        # restart against the same checkpoint with no new files: recovery
        # must publish nothing (checkpoint no-op + txn guard)
        streaming_medallion_publish(
            spark, src, root, ckpt, glob="*.parquet", max_files_per_trigger=1
        )
        assert read_manifest(root) == m, "restart republished a transaction"
        _assert_snapshot_consistent(spark, root, m)
        gold = manifest_read_table(spark, root, "gold", m)
        out = gold.select(
            "event_type",
            "n_users",
            F.round("total_value", 3).cast("double").alias("total_value"),
        )
        return pin_small_result(out, EVENT_TYPE_MAX)
    finally:
        shutil.rmtree(base, ignore_errors=True)


_REORDER_ORACLE = """
SELECT o_orderstatus,
       COUNT(*) AS n_lines,
       CAST(round(SUM(CAST(l_extendedprice AS DECIMAL(28,9))), 3) AS DOUBLE)
           AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN part ON l_partkey = p_partkey
WHERE p_size = 1
GROUP BY o_orderstatus
"""


def _join_leaf_order(df: DataFrame, marker: str) -> list[str]:
    """Catalog-relation leaf order in the optimized logical plan — the
    join order CBO chose. Tables are uniquely suffixed per invocation, so
    the marker regex only matches this query's relations."""
    import re  # noqa: PLC0415

    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return re.findall(rf"{marker}_(li|od|pa)_", plan)


@register(
    "cbo_join_reorder_roundtrip",
    oracle=_REORDER_ORACLE,
    doc="CBO join REORDERING certified with a stats-off negative control: "
    "a three-table join written worst-first (lineitem JOIN orders — two "
    "facts — with the selective p_size dim joined LAST). Without "
    "statistics the optimizer keeps the written order (asserted); after "
    "ANALYZE ... FOR ALL COLUMNS on all three tables, CBO's "
    "cost-based reorder moves the filtered dim ahead of the second fact "
    "(asserted on the optimized plan's relation order), shrinking the "
    "intermediate before the expensive join. Broadcast is disabled so "
    "the reorder decision — not a broadcast rescue — is what gets "
    "certified; the aggregate is returned and recomputed by the oracle. "
    "At 100 TB join order is the difference between shuffling a "
    "fact-x-fact intermediate and a pre-filtered sliver.",
    tags=("sink", "lifecycle"),
)
def cbo_join_reorder_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_extendedprice"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus"
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_size")
    base = tempfile.mkdtemp(prefix="f1ls_reorder_")
    token = os.path.basename(base).removeprefix("f1ls_reorder_").lower()
    names = {t: f"f1ls_ro_{t}_{token}" for t in ("li", "od", "pa")}
    confs = {
        "spark.sql.cbo.enabled": "true",
        "spark.sql.cbo.joinReorder.enabled": "true",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k) for k in confs}
    try:
        for t, df in (("li", lineitem), ("od", orders), ("pa", part)):
            (
                df.write.mode("overwrite")
                .option("path", os.path.join(base, t))
                .saveAsTable(names[t])
            )
        for k, v in confs.items():
            spark.conf.set(k, v)

        def build() -> DataFrame:
            l_ = spark.table(names["li"])
            o = spark.table(names["od"])
            p = spark.table(names["pa"]).filter(F.col("p_size") == 1)
            rev = F.col("l_extendedprice").cast("decimal(28,9)")
            return (
                l_.join(o, l_["l_orderkey"] == o["o_orderkey"])
                .join(p, l_["l_partkey"] == p["p_partkey"])
                .groupBy("o_orderstatus")
                .agg(
                    F.count("*").alias("n_lines"),
                    F.round(F.sum(rev), 3).cast("double").alias("revenue"),
                )
            )

        written = ["li", "od", "pa"]
        neg = _join_leaf_order(build(), "f1ls_ro")
        assert neg == written, (
            f"no-stats control did not keep the written join order: {neg}"
        )
        for t in names.values():
            spark.sql(f"ANALYZE TABLE {t} COMPUTE STATISTICS FOR ALL COLUMNS")
            spark.catalog.refreshTable(t)
        joined = build()
        pos = _join_leaf_order(joined, "f1ls_ro")
        assert pos != written and pos.index("pa") < pos.index("od"), (
            f"stats present but CBO kept the worst-first order: {pos}"
        )
        return pin_small_result(joined, ORDERSTATUS_MAX)
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)
        for t in names.values():
            spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(base, ignore_errors=True)


# third r10 batch: merge-on-read equality deletes, change data feed

_MOR_COHORT_MOD2 = 7  # second delete cohort (full time range)

_MOR_ORACLE = f"""
SELECT event_type,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users
FROM events
WHERE NOT (user_id % {_DELETE_USER_MOD} = 0
           AND CAST(ts AS DATE) BETWEEN DATE '{_PRUNE_LO}' AND DATE '{_PRUNE_HI}')
  AND NOT (user_id % {_DELETE_USER_MOD} = {_MOR_COHORT_MOD2})
GROUP BY event_type
"""


@register(
    "mor_delete_roundtrip",
    oracle=_MOR_ORACLE,
    doc="Merge-on-read equality deletes certified end-to-end (the other "
    "side of the r9 copy-on-write delete's trade): write an immutable "
    "base, commit TWO delete cohorts as tiny key files, ASSERT the base "
    "files are byte-for-byte untouched by both commits (names+sizes — at "
    "100 TB the delete must cost O(matched keys), never a rewrite) and "
    "that the committed key counts exactly account for the merged view's "
    "row deficit, read through the anti-join merged view, COMPACT (fold "
    "deletes into a new base, one log entry), assert the compacted "
    "content is identical to the pre-compaction merged view and the "
    "delete files are gone, and return the aggregate the oracle computes "
    "with the inverse predicates. Iceberg v2 equality-delete files / "
    "Delta deletion vectors, emulated on plain parquet (sources/mor.py).",
    tags=("sink", "lifecycle"),
)
def mor_delete_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from f1_lakehouse_spark.sources.mor import (  # noqa: PLC0415
        base_dir,
        mor_compact,
        mor_delete,
        mor_read,
        mor_write_base,
        stats,
    )

    events = load_table(spark, sf_dir, "events")
    base = tempfile.mkdtemp(prefix="f1ls_mor_")
    tbl = os.path.join(base, "events_mor")

    def census() -> dict[str, int]:
        bdir = base_dir(tbl)  # resolves the LIVE base
        return {
            f: os.path.getsize(os.path.join(bdir, f))
            for f in os.listdir(bdir)
            if f.endswith(".parquet")
        }

    def agg(df: DataFrame) -> DataFrame:
        return df.groupBy("event_type").agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )

    try:
        mor_write_base(events, tbl)
        before = census()
        n_base = spark.read.parquet(base_dir(tbl)).count()
        p1 = (F.col("user_id") % _DELETE_USER_MOD == 0) & F.to_date("ts").between(
            _PRUNE_LO, _PRUNE_HI
        )
        p2 = F.col("user_id") % _DELETE_USER_MOD == _MOR_COHORT_MOD2
        n1 = mor_delete(spark, tbl, "event_id", p1)
        n2 = mor_delete(spark, tbl, "event_id", p2)
        assert census() == before, (
            "merge-on-read delete touched the base files — that is a "
            "copy-on-write rewrite, the thing MoR exists to avoid"
        )
        merged = mor_read(spark, tbl, "event_id")
        n_merged = merged.count()
        assert n_base - n_merged == n1 + n2, (
            f"delete-key accounting broke: base {n_base} - merged "
            f"{n_merged} != {n1} + {n2}"
        )
        pre = sorted(tuple(r) for r in agg(merged).collect())
        folded = mor_compact(spark, tbl, "event_id")
        assert stats(tbl)["delete_fragments"] == 0, (
            "compaction left delete fragments live"
        )
        assert census() != before, "compaction did not rewrite the base"
        # a reader pinned to the log before the compaction (one-cycle
        # retention) still reconstructs the same rows from base+deletes
        displaced = sorted(
            tuple(r)
            for r in agg(mor_read(spark, tbl, "event_id", at=folded - 1)).collect()
        )
        assert displaced == pre, "displaced base lost read consistency"
        compacted = mor_read(spark, tbl, "event_id")
        post = sorted(tuple(r) for r in agg(compacted).collect())
        assert pre == post, (
            f"compaction changed the table content:\n{pre}\n{post}"
        )
        return pin_small_result(agg(compacted), EVENT_TYPE_MAX)
    finally:
        shutil.rmtree(base, ignore_errors=True)


# CDF snapshots differ by TIME and COHORT so all three change classes
# are guaranteed at any scale factor (the synthetic events keep every
# user active all month, so time alone only ever yields updates):
# old = cohort A's latest state before the cutoff, new = cohort B's
# latest state over the full range. Users only in B -> insert, only in
# A -> delete, in both with a newer latest -> update; same-latest users
# are omitted. This is the realistic shape of a silver population
# redefinition plus fresh data arriving.
_CDF_CUT = "2024-01-20 00:00:00"
_CDF_MOD = 10
_CDF_OLD_EXCL = 0  # cohort excluded from the OLD state -> inserts
_CDF_NEW_EXCL = 5  # cohort excluded from the NEW state -> deletes

_CDF_ORACLE = f"""
WITH old_state AS (
    SELECT user_id, ts, event_id, event_type, value FROM (
        SELECT user_id, ts, event_id, event_type, value,
               ROW_NUMBER() OVER (
                   PARTITION BY user_id ORDER BY ts DESC, event_id DESC
               ) AS rn
        FROM events
        WHERE ts < TIMESTAMP '{_CDF_CUT}'
          AND user_id % {_CDF_MOD} <> {_CDF_OLD_EXCL}
    ) WHERE rn = 1
),
new_state AS (
    SELECT user_id, ts, event_id, event_type, value FROM (
        SELECT user_id, ts, event_id, event_type, value,
               ROW_NUMBER() OVER (
                   PARTITION BY user_id ORDER BY ts DESC, event_id DESC
               ) AS rn
        FROM events
        WHERE user_id % {_CDF_MOD} <> {_CDF_NEW_EXCL}
    ) WHERE rn = 1
),
diff AS (
    -- the emitted row is chosen PER ROW by change type (old row for
    -- deletes, new row otherwise) to mirror table_changes exactly — a
    -- per-column COALESCE would resurrect old values on NULLing updates
    SELECT CASE WHEN n.user_id IS NULL THEN o.event_type
                ELSE n.event_type END AS event_type,
           CASE WHEN n.user_id IS NULL THEN o.value ELSE n.value END AS value,
           CASE WHEN o.user_id IS NULL THEN 'insert'
                WHEN n.user_id IS NULL THEN 'delete'
                WHEN n.ts <> o.ts OR n.event_id <> o.event_id THEN 'update'
           END AS change_type
    FROM old_state o FULL OUTER JOIN new_state n USING (user_id)
)
SELECT change_type, event_type,
       COUNT(*) AS n_changes,
       CAST(round(SUM(CAST(value AS DECIMAL(28,9))), 3) AS DOUBLE) AS total_value
FROM diff
WHERE change_type IS NOT NULL
GROUP BY change_type, event_type
"""


@register(
    "change_data_feed_roundtrip",
    oracle=_CDF_ORACLE,
    doc="Change Data Feed between committed snapshots certified "
    "end-to-end: publish two latest-per-user silver states differing by "
    "time AND cohort (so inserts, deletes, AND updates are all "
    "guaranteed at any SF), derive the change feed by diffing the two snapshots through "
    "their immutable history manifests (sources/txn.table_changes — "
    "Delta CDF / Iceberg changelog, derived rather than stored), and "
    "return per-(change_type, event_type) counts and value sums. The "
    "oracle recomputes both states and their full-outer diff from the "
    "raw source, so a misclassified change, a lost delete, or an "
    "update that compares the wrong version tuple all surface as a "
    "driver mismatch. This is what lets incremental consumers sync on "
    "the diff instead of re-scanning the table.",
    tags=("sink", "lifecycle"),
)
def change_data_feed_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from f1_lakehouse_spark.sources.txn import (  # noqa: PLC0415
        publish_tables,
        table_changes,
    )
    from f1_lakehouse_spark.streaming.ingest import _latest_per_key  # noqa: PLC0415

    events = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type", "value"
    )
    base = tempfile.mkdtemp(prefix="f1ls_cdf_")
    root = os.path.join(base, "medallion")
    try:
        old_state = _latest_per_key(
            events.filter(
                (F.col("ts") < F.lit(_CDF_CUT).cast("timestamp"))
                & (F.col("user_id") % _CDF_MOD != _CDF_OLD_EXCL)
            )
        )
        new_state = _latest_per_key(
            events.filter(F.col("user_id") % _CDF_MOD != _CDF_NEW_EXCL)
        )
        nf = _state_publish_files(spark, sf_dir)
        publish_tables(spark, root, {"silver": old_state.coalesce(nf)}, txn_id=1)
        publish_tables(spark, root, {"silver": new_state.coalesce(nf)}, txn_id=2)
        cdf = table_changes(
            spark, root, "silver", 1, 2,
            key_cols=["user_id"], order_cols=["ts", "event_id"],
        )
        out = (
            cdf.withColumnRenamed("_change_type", "change_type")
            .groupBy("change_type", "event_type")
            .agg(
                F.count("*").alias("n_changes"),
                F.round(F.sum(F.col("value").cast("decimal(28,9)")), 3)
                .cast("double")
                .alias("total_value"),
            )
        )
        return pin_small_result(out, 3 * EVENT_TYPE_MAX)
    finally:
        shutil.rmtree(base, ignore_errors=True)


# ---------------------------------------------------------------------------
# Round-11 additions: branch-WAP promotion, concurrent OCC writers, CDF
# incremental consumer, MoR upsert, manifest-history expiration
# ---------------------------------------------------------------------------

_WAP_CUT_MID = "2024-01-20 00:00:00"


@register(
    "branch_wap_roundtrip",
    oracle=_ATOMIC_PUBLISH_ORACLE,
    doc="Branch-WAP (Iceberg's stage-on-branch → audit → fast-forward-main "
    "pattern, sources/txn.py refs layer) certified end-to-end: stage a "
    "transaction on a branch and ASSERT main readers cannot see it (live "
    "manifest byte-identical, snapshot still consistent), audit the STAGED "
    "snapshot through the branch ref (gold == aggregate(silver) under the "
    "staged manifest), pin the pre-promote state with an immutable tag "
    "(re-tagging raises — tags never move), assert a mainline writer "
    "colliding with the staged txn id CONFLICTS rather than promoting the "
    "unaudited staging, fast-forward the branch (one exclusively "
    "created commit record), then exercise the STALE-BRANCH path: a second branch staged "
    "before main advances must refuse to fast-forward "
    "(StaleBranchError) and succeeds only after rebasing onto the new live "
    "snapshot at a fresh txn id. Returns the finally-promoted gold; the "
    "oracle recomputes the full medallion from the source, so a leaked "
    "staging, a lost promotion, or a rewound snapshot all surface as a "
    "driver mismatch.",
    tags=("sink", "lifecycle"),
)
def branch_wap_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from f1_lakehouse_spark.sources.txn import (  # noqa: PLC0415
        CommitConflictError,
        StaleBranchError,
        create_tag,
        fast_forward,
        manifest_read_table,
        publish_staged,
        publish_tables,
        read_manifest,
        read_ref_manifest,
    )

    events = load_table(spark, sf_dir, "events")
    base = tempfile.mkdtemp(prefix="f1ls_bwap_")
    root = os.path.join(base, "medallion")
    releases: list = []
    try:
        t1, rel1 = _medallion_layers(
            events.filter(F.col("ts") < F.lit(_TXN1_CUTOFF).cast("timestamp"))
        )
        releases.append(rel1)
        t_mid, rel_mid = _medallion_layers(
            events.filter(F.col("ts") < F.lit(_WAP_CUT_MID).cast("timestamp"))
        )
        releases.append(rel_mid)
        t_full, rel_full = _medallion_layers(events)
        releases.append(rel_full)

        publish_tables(spark, root, t1, txn_id=1, writer="etl")
        m1 = read_manifest(root)
        assert m1 is not None and m1["txn"] == 1, f"txn 1 did not commit: {m1}"

        # stage txn 2 on a branch: version dirs + the branch's staged
        # record written — the live manifest must be UNTOUCHED
        publish_staged(
            spark, root, t_mid, txn_id=2, branch="audit", writer="wap-bot"
        )
        assert read_manifest(root) == m1, "staging leaked to main readers"
        _assert_snapshot_consistent(spark, root, m1)
        staged = read_ref_manifest(root, "audit")
        assert staged is not None and staged["txn"] == 2 and staged.get("staged"), (
            f"branch ref did not resolve the staged record: {staged}"
        )
        # the audit half of WAP: validate the staged snapshot through the ref
        _assert_snapshot_consistent(spark, root, staged)

        # immutable tag pins the pre-promote state
        create_tag(root, "pre-promote", 1)
        assert read_ref_manifest(root, "pre-promote") == m1
        try:
            create_tag(root, "pre-promote", 2)
            raise AssertionError("re-tagging an existing tag did not raise")
        except FileExistsError:
            pass

        # a mainline writer colliding with the staged txn id must CONFLICT —
        # promoting an unaudited staging would defeat the WAP gate
        try:
            publish_tables(spark, root, t_full, txn_id=2, writer="etl")
            raise AssertionError("mainline collision with a staged txn won")
        except CommitConflictError:
            pass
        assert read_manifest(root) == m1, "the conflict leaked the staging"

        live = fast_forward(root, "audit")
        assert live["txn"] == 2 and "staged" not in live, f"bad promote: {live}"
        assert read_manifest(root) == live
        _assert_snapshot_consistent(spark, root, live)

        # stale-branch rebase path: stage txn 3, let main advance to 4,
        # assert the promotion refuses, rebase at txn 5, promote
        publish_staged(
            spark, root, t_full, txn_id=3, branch="release", writer="wap-bot"
        )
        publish_tables(spark, root, t_mid, txn_id=4, writer="etl")
        try:
            fast_forward(root, "release")
            raise AssertionError("stale branch fast-forwarded over main")
        except StaleBranchError:
            pass
        publish_staged(
            spark, root, t_full, txn_id=5, branch="release", writer="wap-bot"
        )
        final = fast_forward(root, "release")
        assert final["txn"] == 5, f"rebased promotion missing: {final}"
        _assert_snapshot_consistent(spark, root, final)
        # the tag still resolves the pre-promote manifest
        assert read_ref_manifest(root, "pre-promote") == m1

        gold = manifest_read_table(spark, root, "gold", final)
        out = gold.select(
            "event_type",
            "n_users",
            F.round("total_value", 3).cast("double").alias("total_value"),
        )
        return pin_small_result(out, EVENT_TYPE_MAX)
    finally:
        for release in releases:
            release()
        shutil.rmtree(base, ignore_errors=True)


_OCC_RETRY_CAP = 5  # a 2-writer race converges in <=2 attempts; 5 is loud slack

_OCC_ORACLE = """
SELECT 'alpha' AS writer_name, event_type,
       COUNT(*) AS n_events,
       CAST(round(SUM(CAST(value AS DECIMAL(28,9))), 3) AS DOUBLE) AS total_value
FROM events WHERE user_id % 4 = 0 GROUP BY event_type
UNION ALL
SELECT 'beta' AS writer_name, event_type,
       COUNT(*) AS n_events,
       CAST(round(SUM(CAST(value AS DECIMAL(28,9))), 3) AS DOUBLE) AS total_value
FROM events WHERE user_id % 4 = 1 GROUP BY event_type
UNION ALL
SELECT 'gamma' AS writer_name, event_type,
       COUNT(*) AS n_events,
       CAST(round(SUM(CAST(value AS DECIMAL(28,9))), 3) AS DOUBLE) AS total_value
FROM events WHERE user_id % 4 = 2 GROUP BY event_type
UNION ALL
SELECT 'delta' AS writer_name, event_type,
       COUNT(*) AS n_events,
       CAST(round(SUM(CAST(value AS DECIMAL(28,9))), 3) AS DOUBLE) AS total_value
FROM events WHERE user_id % 4 = 3 GROUP BY event_type
"""


@register(
    "occ_concurrent_writers_roundtrip",
    oracle=_OCC_ORACLE,
    doc="Optimistic concurrency certified with GENUINELY concurrent "
    "writers (two threads sharing the session, released by a barrier, "
    "racing publish_tables(writer=...) to the same txn id on disjoint "
    "tables): exactly one writer wins each txn id (the O_EXCL commit "
    "record is the arbitration — asserted by reading the records' writer "
    "tokens back), every loser gets CommitConflictError, cleans its orphan "
    "staging (asserted: each table dir holds exactly its committed "
    "version), and converges via the re-read → next-txn-id retry loop. "
    "Then the LATE-REPLAY path, sequenced deterministically: a writer "
    "commits txn 3 (its record IS the commit, so a crash right after it "
    "changes nothing a reader sees); a conflicting writer at txn 3 raises "
    "before it stages, retries at txn 4, and the first writer's late "
    "replay of txn 3 NO-OPS — the live txn never moves backwards. "
    "Readers resolving "
    "any committed manifest always see every named table (no torn pairs). "
    "Returns all four writers' gold tables through the final manifest; "
    "the oracle recomputes the four disjoint aggregates from the source, "
    "so a lost commit, a double-applied retry, or a rewound snapshot all "
    "surface as a driver mismatch.",
    tags=("sink", "lifecycle"),
)
def occ_concurrent_writers_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import threading  # noqa: PLC0415
    from functools import reduce  # noqa: PLC0415

    from f1_lakehouse_spark.sources.txn import (  # noqa: PLC0415
        CommitConflictError,
        manifest_read_table,
        publish_tables,
        read_manifest,
    )

    events = load_table(spark, sf_dir, "events")
    base = tempfile.mkdtemp(prefix="f1ls_occ_")
    root = os.path.join(base, "warehouse")
    writers = ("alpha", "beta", "gamma", "delta")
    frames: dict[str, DataFrame] = {}
    try:
        for k, w in enumerate(writers):
            frames[w] = (
                events.filter(F.col("user_id") % 4 == k)
                .groupBy("event_type")
                .agg(
                    F.count("*").alias("n_events"),
                    F.sum(F.col("value").cast("decimal(28,9)")).alias(
                        "total_value"
                    ),
                )
                .persist()
            )
            frames[w].count()  # materialize BEFORE the race: the race is
            # on the COMMIT protocol, not on Spark job scheduling

        # --- part A: two genuinely concurrent writers race txn 1 ---
        results: dict[str, object] = {}
        barrier = threading.Barrier(2)

        def run(w: str) -> None:
            try:
                barrier.wait(timeout=60)
                txn = 1
                for _ in range(_OCC_RETRY_CAP):
                    try:
                        publish_tables(
                            spark, root, {f"{w}_gold": frames[w]},
                            txn_id=txn, writer=w,
                        )
                        results[w] = txn
                        return
                    except CommitConflictError:
                        cur = read_manifest(root)
                        txn = (cur["txn"] if cur else 0) + 1
                results[w] = RuntimeError(f"{w} never converged")
            except BaseException as exc:  # surface thread failures loudly
                results[w] = exc

        threads = [
            threading.Thread(target=run, args=(w,), daemon=True)
            for w in ("alpha", "beta")
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=600)
        errs = {w: r for w, r in results.items() if isinstance(r, BaseException)}
        assert not errs, f"racer raised: {errs}"
        assert sorted(results.values()) == [1, 2], (
            f"exactly one winner per txn id expected: {results}"
        )
        for w in ("alpha", "beta"):
            rec = read_manifest(root, txn=results[w])
            assert rec is not None and rec.get("writer") == w, (
                f"commit record for txn {results[w]} not owned by {w}: {rec}"
            )
        m2 = read_manifest(root)
        assert m2 is not None and m2["txn"] == 2, m2
        for w in ("alpha", "beta"):
            # no torn pair: ONE manifest resolves both racers' tables, and
            # each table dir holds exactly its committed version (the
            # loser's orphan staging was cleaned)
            assert manifest_read_table(spark, root, f"{w}_gold", m2) is not None
            vdirs = sorted(os.listdir(os.path.join(root, f"{w}_gold")))
            assert vdirs == [m2["tables"][f"{w}_gold"]], (
                f"{w}_gold holds uncommitted versions: {vdirs}"
            )

        # --- part B: the winner's record is live; a late replay no-ops ---
        publish_tables(
            spark, root, {"gamma_gold": frames["gamma"]}, txn_id=3, writer="gamma"
        )
        m3 = read_manifest(root)
        assert m3["txn"] == 3 and m3.get("writer") == "gamma", (
            f"the winner's record is not the live snapshot: {m3}"
        )
        try:
            publish_tables(
                spark, root, {"delta_gold": frames["delta"]},
                txn_id=3, writer="delta",
            )
            raise AssertionError("loser did not conflict on the record")
        except CommitConflictError:
            pass
        assert read_manifest(root) == m3, "the conflicting loser moved the snapshot"
        assert manifest_read_table(spark, root, "gamma_gold", m3) is not None
        assert not os.path.isdir(
            os.path.join(root, "delta_gold", "v0000000003-delta")
        ), "conflicting loser left its orphan staging"
        publish_tables(
            spark, root, {"delta_gold": frames["delta"]}, txn_id=4, writer="delta"
        )
        m4 = read_manifest(root)
        assert m4["txn"] == 4, m4
        # the winner's late replay must NO-OP, never rewinding
        publish_tables(
            spark, root, {"gamma_gold": frames["gamma"]}, txn_id=3, writer="gamma"
        )
        assert read_manifest(root) == m4, (
            "late replay moved the live snapshot backwards"
        )

        outs = []
        for w in writers:
            df = manifest_read_table(spark, root, f"{w}_gold", m4)
            assert df is not None, f"{w}_gold unresolvable in the final snapshot"
            outs.append(
                df.select(
                    F.lit(w).alias("writer_name"),
                    "event_type",
                    "n_events",
                    F.round("total_value", 3).cast("double").alias("total_value"),
                )
            )
        return pin_small_result(
            reduce(DataFrame.unionByName, outs), 4 * EVENT_TYPE_MAX
        )
    finally:
        for frame in frames.values():
            frame.unpersist()
        shutil.rmtree(base, ignore_errors=True)


_CDFI_ORACLE = f"""
WITH new_state AS (
    SELECT user_id, event_type, value FROM (
        SELECT user_id, event_type, value,
               ROW_NUMBER() OVER (
                   PARTITION BY user_id ORDER BY ts DESC, event_id DESC
               ) AS rn
        FROM events
        WHERE user_id % {_CDF_MOD} <> {_CDF_NEW_EXCL}
    ) WHERE rn = 1
)
SELECT event_type,
       COUNT(*) AS n_users,
       CAST(round(SUM(CAST(value AS DECIMAL(28,9))), 3) AS DOUBLE) AS total_value
FROM new_state
GROUP BY event_type
"""


@register(
    "cdf_incremental_consumer",
    oracle=_CDFI_ORACLE,
    doc="The consumer half of Change Data Feed (what makes the r10 feed "
    "USEFUL, not just derivable): publish two latest-per-user silver "
    "snapshots, derive the pre/post-image change feed "
    "(txn.table_changes(emit_pre_post=True) — Delta CDF row semantics: "
    "updates emit update_preimage AND update_postimage rows), and "
    "incrementally maintain the downstream per-event_type gold by applying "
    "SIGNED deltas to the previous gold version — postimages/inserts add, "
    "preimages/deletes subtract, so an update that moves a user across "
    "event_types migrates its contribution without touching any other "
    "group. ASSERTS the incrementally-maintained gold exactly equals the "
    "full recompute from the new snapshot (decimal-exact, taxonomy-"
    "bounded compare) — the identity that lets a 100 TB consumer sync on "
    "the delta-proportional feed instead of re-scanning the table. The "
    "oracle recomputes the new state's gold straight from the source.",
    tags=("sink", "lifecycle"),
)
def cdf_incremental_consumer(spark: SparkSession, sf_dir: str) -> DataFrame:
    from f1_lakehouse_spark.sources.txn import (  # noqa: PLC0415
        manifest_read_table,
        publish_tables,
        read_manifest,
        table_changes,
    )
    from f1_lakehouse_spark.streaming.ingest import (  # noqa: PLC0415
        _latest_per_key,
        _silver_to_gold,
    )

    events = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type", "value"
    )
    base = tempfile.mkdtemp(prefix="f1ls_cdfi_")
    root = os.path.join(base, "medallion")
    try:
        old_state = _latest_per_key(
            events.filter(
                (F.col("ts") < F.lit(_CDF_CUT).cast("timestamp"))
                & (F.col("user_id") % _CDF_MOD != _CDF_OLD_EXCL)
            )
        )
        new_state = _latest_per_key(
            events.filter(F.col("user_id") % _CDF_MOD != _CDF_NEW_EXCL)
        )
        nf = _state_publish_files(spark, sf_dir)
        publish_tables(spark, root, {"silver": old_state.coalesce(nf)}, txn_id=1)
        publish_tables(spark, root, {"silver": new_state.coalesce(nf)}, txn_id=2)

        val_dec = F.col("value").cast("decimal(28,9)")
        # the gold the consumer ALREADY HAS: aggregated from the old
        # snapshot resolved through its immutable history manifest
        gold1 = _silver_to_gold(
            manifest_read_table(spark, root, "silver", read_manifest(root, txn=1))
        )
        feed = table_changes(
            spark, root, "silver", 1, 2,
            key_cols=["user_id"], order_cols=["ts", "event_id"],
            emit_pre_post=True,
        )
        add = F.col("_change_type").isin("insert", "update_postimage")
        deltas = feed.groupBy("event_type").agg(
            F.sum(F.when(add, 1).otherwise(-1)).alias("d_users"),
            # negate the DECIMAL (exact, same scale) rather than multiply
            # by a sign column — a decimal multiply would widen past p=38
            F.sum(F.when(add, val_dec).otherwise(-val_dec)).alias("d_value"),
        )
        zero_v = F.lit(0).cast("decimal(38,9)")
        incr = (
            gold1.select(
                "event_type",
                F.col("n_users").alias("_n0"),
                F.col("total_value").alias("_v0"),
            )
            .join(deltas, "event_type", "full_outer")
            .select(
                "event_type",
                (
                    F.coalesce(F.col("_n0"), F.lit(0))
                    + F.coalesce(F.col("d_users"), F.lit(0))
                ).alias("n_users"),
                (
                    F.coalesce(F.col("_v0"), zero_v)
                    + F.coalesce(F.col("d_value"), zero_v)
                ).alias("total_value_dec"),
            )
            .filter(F.col("n_users") > 0)
        )
        # the identity: incremental maintenance == full recompute (exact)
        recompute = _silver_to_gold(
            manifest_read_table(spark, root, "silver", read_manifest(root, txn=2))
        )
        got = sorted(
            (r["event_type"], r["n_users"], r["total_value_dec"])
            for r in incr.collect()
        )
        want = sorted(
            (r["event_type"], r["n_users"], r["total_value"])
            for r in recompute.collect()
        )
        assert got == want, (
            f"incremental gold drifted from the recompute:\n{got}\n{want}"
        )
        out = incr.select(
            "event_type",
            "n_users",
            F.round("total_value_dec", 3).cast("double").alias("total_value"),
        )
        return pin_small_result(out, EVENT_TYPE_MAX)
    finally:
        shutil.rmtree(base, ignore_errors=True)


# MoR upsert cohorts: event_id is the unique key; replacement values are
# EXACT binary fractions (k/8, k/4) so the double is bit-identical in both
# engines and its DECIMAL(28,9) cast is exact (CLAUDE.md decimal traps)
_UPSERT_KEY_MOD = 50
_UPSERT_KEY_REM = 1

_MOR_UPSERT_ORACLE = f"""
SELECT event_type,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users,
       CAST(round(SUM(CAST(
           CASE WHEN event_id % {_UPSERT_KEY_MOD} = {_UPSERT_KEY_REM}
                     AND user_id % 4 = 0
                    THEN CAST(event_id % 1000 AS DOUBLE) / CAST(4.0 AS DOUBLE)
                WHEN event_id % {_UPSERT_KEY_MOD} = {_UPSERT_KEY_REM}
                    THEN CAST(event_id % 1000 AS DOUBLE) / CAST(8.0 AS DOUBLE)
                ELSE value END AS DECIMAL(28,9))), 3) AS DOUBLE) AS total_value
FROM events
WHERE NOT (event_id % {_UPSERT_KEY_MOD} = {_UPSERT_KEY_REM}
           AND user_id % 2 = 0 AND user_id % 4 <> 0)
GROUP BY event_type
"""


@register(
    "mor_upsert_roundtrip",
    oracle=_MOR_UPSERT_ORACLE,
    doc="Merge-on-read row-level UPSERT certified end-to-end (completes "
    "delete (r10) → update (r11) on the MoR surface — Iceberg v2 "
    "delete+insert MERGE shape, as ONE atomic latest-wins insert fragment "
    "so a crash can never publish half the MERGE): write an immutable "
    "base, UPSERT a key cohort's values (update path), ASSERT the base "
    "files are byte-for-byte untouched (names+sizes — at 100 TB the "
    "update must cost O(matched keys), never a rewrite), DELETE half the "
    "cohort (a later delete kills the earlier upsert — sequence-number "
    "semantics), RE-UPSERT a quarter of it (a later insert survives the "
    "earlier delete), assert the merged row count follows the "
    "base - deleted + reinserted accounting exactly, COMPACT, and assert "
    "the compacted content is identical to the pre-compaction merged view "
    "with all fragments folded. Replacement values are exact binary "
    "fractions keyed off event_id, so the oracle reconstructs the final "
    "state with a CASE expression — a lost fragment, a wrong "
    "sequence-order, or a latest-wins tie-break bug all surface as a "
    "driver mismatch.",
    tags=("sink", "lifecycle"),
)
def mor_upsert_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from f1_lakehouse_spark.sources.mor import (  # noqa: PLC0415
        base_dir,
        mor_compact,
        mor_delete,
        mor_read,
        mor_upsert,
        mor_write_base,
        stats,
    )

    events = load_table(spark, sf_dir, "events")
    base = tempfile.mkdtemp(prefix="f1ls_morup_")
    tbl = os.path.join(base, "events_mor")
    in_cohort = (F.col("event_id") % _UPSERT_KEY_MOD) == _UPSERT_KEY_REM

    def census() -> dict[str, int]:
        bdir = base_dir(tbl)
        return {
            f: os.path.getsize(os.path.join(bdir, f))
            for f in os.listdir(bdir)
            if f.endswith(".parquet")
        }

    def agg(df: DataFrame) -> DataFrame:
        return df.groupBy("event_type").agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.round(F.sum(F.col("value").cast("decimal(28,9)")), 3)
            .cast("double")
            .alias("total_value"),
        )

    try:
        mor_write_base(events, tbl)
        before = census()
        n_base = spark.read.parquet(base_dir(tbl)).count()
        # UPDATE: replace the cohort's values (exact binary fractions)
        u1_rows = events.filter(in_cohort).withColumn(
            "value", (F.col("event_id") % 1000).cast("double") / F.lit(8.0)
        )
        n_u1 = mor_upsert(spark, tbl, "event_id", u1_rows)
        assert mor_read(spark, tbl, "event_id").count() == n_base, (
            "an update-only upsert changed the row count"
        )
        # DELETE half the updated cohort (later delete kills the upsert)
        n_d = mor_delete(
            spark, tbl, "event_id", in_cohort & (F.col("user_id") % 2 == 0)
        )
        # RE-UPSERT a quarter (later insert survives the earlier delete)
        u2_rows = (
            events.filter(in_cohort & (F.col("user_id") % 4 == 0))
            .withColumn(
                "value", (F.col("event_id") % 1000).cast("double") / F.lit(4.0)
            )
        )
        n_u2 = mor_upsert(spark, tbl, "event_id", u2_rows)
        assert n_u2 > 0 and n_d > n_u2, (
            f"cohort split degenerate: deleted {n_d}, reinserted {n_u2}"
        )
        assert census() == before, (
            "merge-on-read upsert/delete touched the base files — that is "
            "a copy-on-write rewrite, the thing MoR exists to avoid"
        )
        merged = mor_read(spark, tbl, "event_id")
        n_merged = merged.count()
        assert n_base - n_merged == n_d - n_u2, (
            f"upsert accounting broke: base {n_base} - merged {n_merged} "
            f"!= deleted {n_d} - reinserted {n_u2} (u1 updated {n_u1})"
        )
        pre = sorted(tuple(r) for r in agg(merged).collect())
        mor_compact(spark, tbl, "event_id")
        st = stats(tbl)
        assert st["delete_fragments"] == st["insert_fragments"] == 0, (
            "compaction left fragments live"
        )
        post = sorted(tuple(r) for r in agg(mor_read(spark, tbl, "event_id")).collect())
        assert pre == post, (
            f"compaction changed the table content:\n{pre}\n{post}"
        )
        return pin_small_result(agg(mor_read(spark, tbl, "event_id")), EVENT_TYPE_MAX)
    finally:
        shutil.rmtree(base, ignore_errors=True)


# expire-history publish cuts (events span 2024-01-01..30 at every SF)
_EXP_CUTS = (
    "2024-01-08 00:00:00",
    "2024-01-15 00:00:00",
    "2024-01-22 00:00:00",
    "2024-01-28 00:00:00",
)


@register(
    "expire_history_roundtrip",
    oracle=_VERSION_GC_ORACLE,
    doc="Manifest-history expiration (the Iceberg expire_snapshots analog "
    "for the txn layer — keeps a streaming medallion committing one txn "
    "per micro-batch from unbounded history-file growth) certified "
    "end-to-end: publish four transactions, TAG one mid-history commit, "
    "expire with keep_n=1 and assert exactly the unpinned/non-live "
    "records are removed (the tag-pinned record and the live manifest "
    "survive; expired as-of reads resolve to None rather than a broken "
    "read), then stage a branch transaction and assert its record is "
    "BRANCH-PINNED against expiration, fast-forward it, and assert the "
    "displaced live record becomes expirable while every pin still holds. "
    "Returns the final live gold; the oracle aggregates the full source "
    "directly, so an expiration that eats the live manifest or a pinned "
    "snapshot surfaces as a driver mismatch.",
    tags=("sink", "lifecycle"),
)
def expire_history_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from f1_lakehouse_spark.sources.txn import (  # noqa: PLC0415
        create_tag,
        expire_history,
        fast_forward,
        manifest_read_table,
        publish_staged,
        publish_tables,
        read_manifest,
    )

    events = load_table(spark, sf_dir, "events")

    def cumulative(upto: str | None) -> DataFrame:
        src = events
        if upto is not None:
            src = src.filter(F.col("ts") < F.lit(upto).cast("timestamp"))
        return src.groupBy("event_type").agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(28,9)")).alias("total_value"),
        )

    base = tempfile.mkdtemp(prefix="f1ls_exp_")
    root = os.path.join(base, "medallion")
    try:
        for txn, cut in enumerate(_EXP_CUTS, start=1):
            publish_tables(
                spark, root, {"gold": cumulative(cut)}, txn_id=txn, writer="etl"
            )
        create_tag(root, "audited-v2", 2)
        expired = expire_history(root, keep_n=1)
        assert expired == [1, 3], (
            f"expected exactly the unpinned history to expire: {expired}"
        )
        assert read_manifest(root, txn=2) is not None, "tag pin was expired"
        assert read_manifest(root, txn=1) is None
        assert read_manifest(root, txn=3) is None
        live = read_manifest(root)
        assert live is not None and live["txn"] == 4, (
            f"expiration disturbed the live manifest: {live}"
        )
        # an expired as-of read degrades to None, never a broken read
        assert (
            manifest_read_table(spark, root, "gold", read_manifest(root, txn=1))
            is None
        )
        # a STAGED branch transaction is pinned by its branch ref
        publish_staged(
            spark, root, {"gold": cumulative(None)}, txn_id=5,
            branch="release", writer="wap-bot",
        )
        assert expire_history(root, keep_n=1) == [], (
            "expiration ate a branch-pinned or live record"
        )
        final = fast_forward(root, "release")
        assert final["txn"] == 5
        # the displaced live record (4) is now expirable; pins still hold
        assert expire_history(root, keep_n=1) == [4]
        assert read_manifest(root, txn=2) is not None
        assert read_manifest(root)["txn"] == 5
        gold = manifest_read_table(spark, root, "gold", read_manifest(root))
        out = gold.select(
            "event_type",
            "n_events",
            F.round("total_value", 3).cast("double").alias("total_value"),
        )
        return pin_small_result(out, EVENT_TYPE_MAX)
    finally:
        shutil.rmtree(base, ignore_errors=True)


_TAG_PIN_ORACLE = f"""
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(round(SUM(CAST(value AS DECIMAL(28,9))), 3) AS DOUBLE) AS total_value
FROM events
WHERE ts < TIMESTAMP '{_EXP_CUTS[0]}'
GROUP BY event_type
"""


@register(
    "tag_pinned_time_travel_roundtrip",
    oracle=_TAG_PIN_ORACLE,
    doc="Tag-pinned version retention (Iceberg tag-retention semantics, "
    "r11): without it a tag pins only the manifest RECORD while the "
    "version DIRS age out after one publish cycle — the reproducibility "
    "guarantee tags exist for silently breaks. Certified end-to-end: "
    "publish four transactions with txn 1 TAGGED, assert the tagged "
    "snapshot is FULLY readable three retention cycles later and "
    "decimal-exactly equal to its original content (the negative "
    "control: the untagged txn-2 snapshot's dirs are pruned on schedule "
    "and degrade to None, so the pin — not lax retention — is what kept "
    "txn 1 alive), then DROP the tag and assert the next commit's "
    "retention prunes the released versions while live reads stay "
    "unaffected throughout. Returns the tagged snapshot's content (read "
    "through its pinned dirs); the oracle recomputes that slice from the "
    "source, so a pruned pin or a drifted as-of read surfaces as a "
    "driver mismatch. At 100 TB pinned retention is what makes 'the "
    "training run reads tag q1-close' reproducible months later at zero "
    "commit-path cost (O(#refs) metadata reads per retention pass).",
    tags=("sink", "lifecycle"),
)
def tag_pinned_time_travel_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from f1_lakehouse_spark.sources.txn import (  # noqa: PLC0415
        create_tag,
        drop_ref,
        manifest_read_table,
        publish_tables,
        read_manifest,
    )

    events = load_table(spark, sf_dir, "events")

    def cumulative(upto: str | None) -> DataFrame:
        src = events
        if upto is not None:
            src = src.filter(F.col("ts") < F.lit(upto).cast("timestamp"))
        return src.groupBy("event_type").agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(28,9)")).alias("total_value"),
        )

    base = tempfile.mkdtemp(prefix="f1ls_tagpin_")
    root = os.path.join(base, "medallion")
    try:
        publish_tables(
            spark, root, {"gold": cumulative(_EXP_CUTS[0])}, txn_id=1, writer="etl"
        )
        create_tag(root, "q1-close", 1)
        for txn, cut in ((2, _EXP_CUTS[1]), (3, _EXP_CUTS[2]), (4, None)):
            publish_tables(
                spark, root, {"gold": cumulative(cut)}, txn_id=txn, writer="etl"
            )
        # negative control: the UNTAGGED txn-2 snapshot ages out on the
        # normal one-cycle schedule (record resolves, dirs pruned)
        m2 = read_manifest(root, txn=2)
        assert m2 is not None
        assert manifest_read_table(spark, root, "gold", m2) is None, (
            "unpinned version dirs survived two retention cycles — the pin "
            "assert below would be vacuous"
        )
        # the TAGGED txn-1 snapshot is FULLY readable three cycles later
        tagged = manifest_read_table(spark, root, "gold", read_manifest(root, txn=1))
        assert tagged is not None, "tag-pinned version dirs were pruned"
        got = sorted(tuple(r) for r in tagged.collect())
        want = sorted(tuple(r) for r in cumulative(_EXP_CUTS[0]).collect())
        assert got == want, f"tagged snapshot drifted:\n{got}\n{want}"
        out = pin_small_result(
            tagged.select(
                "event_type",
                "n_events",
                F.round("total_value", 3).cast("double").alias("total_value"),
            ),
            EVENT_TYPE_MAX,
        )
        # dropping the tag releases the pin: the NEXT commit's retention
        # prunes the formerly-pinned versions
        drop_ref(root, "q1-close")
        publish_tables(
            spark, root, {"gold": cumulative(None)}, txn_id=5, writer="etl"
        )
        assert (
            manifest_read_table(spark, root, "gold", read_manifest(root, txn=1))
            is None
        ), "dropped-tag versions were still retained"
        assert read_manifest(root)["txn"] == 5, "live snapshot disturbed"
        return out
    finally:
        shutil.rmtree(base, ignore_errors=True)


@register(
    "vacuum_orphans_roundtrip",
    oracle=_VERSION_GC_ORACLE,
    doc="Orphan-file vacuum (Iceberg remove_orphan_files, "
    "txn.vacuum_orphans) certified end-to-end against the two orphan "
    "classes per-commit retention can NEVER catch: a crashed writer's "
    "staging whose txn id is AHEAD of the live txn (retention only "
    "prunes strictly-older dirs — without the vacuum it lingers "
    "forever), and an abandoned staging of a table no later transaction "
    "touches. The round-trip manufactures both via simulated "
    "crash-before-record publishes, ages them past the TTL, vacuums, and "
    "asserts (a) exactly the two orphans are removed, (b) every "
    "manifest-reachable version survives — including the DISPLACED "
    "version still referenced by a retained history record (time travel "
    "to it keeps working), (c) a FRESH orphan inside the TTL survives "
    "(the age gate is what keeps a racing writer's in-flight staging "
    "safe — the negative control), and (d) live reads are untouched "
    "throughout. Returns the live gold; the oracle aggregates the full "
    "source, so a vacuum that eats a reachable version surfaces as a "
    "driver mismatch.",
    tags=("sink", "lifecycle"),
)
def vacuum_orphans_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from f1_lakehouse_spark.sources.txn import (  # noqa: PLC0415
        SimulatedCrash,
        manifest_read_table,
        publish_tables,
        read_manifest,
        vacuum_orphans,
    )

    events = load_table(spark, sf_dir, "events")

    def cumulative(upto: str | None) -> DataFrame:
        src = events
        if upto is not None:
            src = src.filter(F.col("ts") < F.lit(upto).cast("timestamp"))
        return src.groupBy("event_type").agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(28,9)")).alias("total_value"),
        )

    base = tempfile.mkdtemp(prefix="f1ls_vac_")
    root = os.path.join(base, "medallion")

    def age(path: str) -> None:
        old = os.path.getmtime(path) - 7200
        os.utime(path, (old, old))

    try:
        publish_tables(
            spark, root, {"gold": cumulative(_EXP_CUTS[0])}, txn_id=1, writer="etl"
        )
        publish_tables(
            spark, root, {"gold": cumulative(None)}, txn_id=2, writer="etl"
        )
        # orphan class 1: a crashed writer staged AHEAD of the live txn —
        # no commit record, and retention can never reach a newer-id dir
        try:
            publish_tables(
                spark, root, {"gold": cumulative(None)}, txn_id=9,
                writer="ghost", fail_after_writes=1,
            )
            raise AssertionError("simulated crash did not fire")
        except SimulatedCrash:
            pass
        # orphan class 2: an abandoned staging of a table no later
        # transaction touches (its dir would otherwise linger forever)
        try:
            publish_tables(
                spark, root, {"scratch": cumulative(_EXP_CUTS[0])}, txn_id=3,
                writer="ghost", fail_after_writes=1,
            )
            raise AssertionError("simulated crash did not fire")
        except SimulatedCrash:
            pass
        ghost_gold = os.path.join(root, "gold", "v0000000009-ghost")
        ghost_scratch = os.path.join(root, "scratch", "v0000000003-ghost")
        assert os.path.isdir(ghost_gold) and os.path.isdir(ghost_scratch)
        age(ghost_gold)
        age(ghost_scratch)
        # a FRESH orphan (a racing writer's in-flight staging) must
        # survive the age gate — manufacture one more, do NOT age it
        try:
            publish_tables(
                spark, root, {"gold": cumulative(None)}, txn_id=8,
                writer="ghost", fail_after_writes=1,
            )
            raise AssertionError("simulated crash did not fire")
        except SimulatedCrash:
            pass
        fresh = os.path.join(root, "gold", "v0000000008-ghost")
        assert os.path.isdir(fresh)

        removed = vacuum_orphans(root, ttl_seconds=3600)
        assert removed == sorted([ghost_gold, ghost_scratch]), (
            f"vacuum removed the wrong set: {removed}"
        )
        assert os.path.isdir(fresh), "age gate failed: fresh staging vacuumed"
        # every manifest-reachable version survived: the live snapshot AND
        # the displaced one a retained history record still references
        m2 = read_manifest(root)
        assert m2 is not None and m2["txn"] == 2
        assert manifest_read_table(spark, root, "gold", m2) is not None
        displaced = manifest_read_table(
            spark, root, "gold", read_manifest(root, txn=1)
        )
        assert displaced is not None, (
            "vacuum ate a version a retained history record references"
        )
        gold = manifest_read_table(spark, root, "gold", m2)
        out = gold.select(
            "event_type",
            "n_events",
            F.round("total_value", 3).cast("double").alias("total_value"),
        )
        return pin_small_result(out, EVENT_TYPE_MAX)
    finally:
        shutil.rmtree(base, ignore_errors=True)


@register(
    "streaming_cdf_consumer_roundtrip",
    oracle=_ATOMIC_PUBLISH_ORACLE,
    doc="Streaming incremental view maintenance over the change data "
    "feed, certified end-to-end: split the events backlog into files, "
    "stream with maxFilesPerTrigger=1, and per micro-batch atomically "
    "commit (silver, gold, mart) where gold is the FULL RECOMPUTE from "
    "the merged silver and the mart is maintained INCREMENTALLY — the "
    "batch's pre/post-image diff (txn.snapshot_diff, the same "
    "classification the CDF rows certify) applied to the previous mart "
    "as signed deltas. RESTART with no new data (checkpoint recovery + "
    "txn guard must no-op), then ASSERT mart == gold under the final "
    "manifest — every snapshot carries its own proof that incremental "
    "maintenance equals recomputation, across however many micro-batch "
    "boundaries the split produced. Returns the MART (the incrementally-"
    "built side); the oracle recomputes latest-per-user gold from the "
    "raw source, so a drifted delta application, a double-applied "
    "replay, or batch-split dependence all surface as a driver "
    "mismatch. This is the Spark-native shape of a Delta "
    "readChangeFeed→downstream-sync pipeline.",
    tags=("streaming", "lifecycle"),
)
def streaming_cdf_consumer_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from f1_lakehouse_spark.sources.txn import (  # noqa: PLC0415
        manifest_read_table,
        read_manifest,
    )
    from f1_lakehouse_spark.streaming.ingest import (  # noqa: PLC0415
        streaming_cdf_consumer_publish,
    )

    base = tempfile.mkdtemp(prefix="f1ls_stream_cdf_")
    src, root, ckpt = (os.path.join(base, d) for d in ("src", "medallion", "ckpt"))
    try:
        # 3 splits: two merge-crossing batch boundaries certify the same
        # property as more, at 3/4 the per-batch commit cost
        load_table(spark, sf_dir, "events").select(
            "user_id", "ts", "event_id", "event_type", "value"
        ).repartition(3).write.parquet(src)
        streaming_cdf_consumer_publish(
            spark, src, root, ckpt, glob="*.parquet", max_files_per_trigger=1
        )
        m = read_manifest(root)
        assert m is not None and m["txn"] >= 1, m
        # restart against the same checkpoint with no new files: recovery
        # must publish nothing (checkpoint no-op + txn guard)
        streaming_cdf_consumer_publish(
            spark, src, root, ckpt, glob="*.parquet", max_files_per_trigger=1
        )
        assert read_manifest(root) == m, "restart republished a transaction"
        # the self-certifying invariant: the incrementally-maintained mart
        # equals the recomputed gold under ONE manifest snapshot
        gold = manifest_read_table(spark, root, "gold", m)
        mart = manifest_read_table(spark, root, "mart", m)
        assert gold is not None and mart is not None, "snapshot missing a table"
        got = sorted(tuple(r) for r in mart.collect())
        want = sorted(tuple(r) for r in gold.collect())
        assert got == want, (
            f"incremental mart drifted from the recomputed gold:\n{got}\n{want}"
        )
        out = mart.select(
            "event_type",
            "n_users",
            F.round("total_value", 3).cast("double").alias("total_value"),
        )
        return pin_small_result(out, EVENT_TYPE_MAX)
    finally:
        shutil.rmtree(base, ignore_errors=True)


_STATS_SKIP_N_FILES = 16  # range-clustered files published for the skipping audit

_STATS_SKIP_ORACLE = """
WITH b AS (
    SELECT CAST(MIN(o_orderkey)
                + ((MAX(o_orderkey) - MIN(o_orderkey)) * 3) // 8 AS BIGINT) AS lo,
           CAST(MIN(o_orderkey)
                + ((MAX(o_orderkey) - MIN(o_orderkey)) * 5) // 8 AS BIGINT) AS hi
    FROM orders
)
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       CAST(round(SUM(CAST(o_totalprice AS DECIMAL(28,9))), 3) AS DOUBLE)
           AS total_price
FROM orders, b
WHERE o_orderkey BETWEEN b.lo AND b.hi
GROUP BY o_orderpriority
"""


@register(
    "stats_skipping_roundtrip",
    oracle=_STATS_SKIP_ORACLE,
    doc="Manifest-level column-stats FILE SKIPPING (the Iceberg manifest "
    "min/max / Delta _delta_log stats analog — prunes the file LIST "
    "before the engine opens a single footer, the layer plain parquet "
    "lacks and 100 TB selective scans need) certified end-to-end: publish "
    "orders range-clustered on o_orderkey through the txn layer, attach "
    "the distributed footer-stats sidecar (sources/filestats.py), then "
    "assert (a) a mid-range key predicate prunes to a strict minority of "
    "the files, (b) a beyond-max predicate prunes to ZERO files and zero "
    "rows, (c) a full-range predicate on the UNclustered price column "
    "prunes nothing (stats honesty — every file genuinely overlaps), and "
    "(d) the pruned scan is row-for-row identical to the full scan plus "
    "filter (exceptAll both ways). Returns the pruned scan's aggregate; "
    "the oracle computes the same bounds and aggregate from the raw "
    "source, so an unsound prune (a dropped file) surfaces as a driver "
    "mismatch, not just a failed assert.",
    tags=("sink", "lifecycle"),
)
def stats_skipping_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from f1_lakehouse_spark.sources.filestats import (  # noqa: PLC0415
        attach_table_stats,
        pruned_files,
        read_table_pruned,
    )
    from f1_lakehouse_spark.sources.txn import (  # noqa: PLC0415
        manifest_read_table,
        publish_tables,
        read_manifest,
    )

    orders = load_table(spark, sf_dir, "orders")
    base = tempfile.mkdtemp(prefix="f1ls_fskip_")
    root = os.path.join(base, "root")
    try:
        publish_tables(
            spark,
            root,
            {"orders": orders.repartitionByRange(_STATS_SKIP_N_FILES, "o_orderkey")},
            txn_id=1,
        )
        n_files = attach_table_stats(
            spark, root, "orders", ["o_orderkey", "o_totalprice"]
        )
        assert n_files >= _STATS_SKIP_N_FILES // 2, (
            f"range write produced only {n_files} files — the skipping "
            "audit needs a multi-file layout"
        )
        m = read_manifest(root)
        vdir = os.path.join(root, "orders", m["tables"]["orders"])
        # bounds: same integer arithmetic as the oracle (floor div of
        # non-negative ints — one MIN/MAX aggregate row via first())
        r = orders.agg(
            F.min("o_orderkey").alias("mn"), F.max("o_orderkey").alias("mx")
        ).first()
        lo = r.mn + ((r.mx - r.mn) * 3) // 8
        hi = r.mn + ((r.mx - r.mn) * 5) // 8
        key_pred = [("o_orderkey", lo, hi)]
        surv = pruned_files(spark, vdir, key_pred)
        assert surv is not None and 0 < len(surv) <= n_files * 3 // 4, (
            f"mid-range predicate kept {surv and len(surv)}/{n_files} files "
            "— file skipping is not actually skipping"
        )
        # negative control: beyond-max range proves the prune reaches zero
        beyond = pruned_files(spark, vdir, [("o_orderkey", r.mx + 1, r.mx + 2)])
        assert beyond == [], f"beyond-max predicate kept files: {beyond}"
        n_beyond = read_table_pruned(
            spark, root, "orders", [("o_orderkey", r.mx + 1, r.mx + 2)]
        ).count()
        assert n_beyond == 0, f"beyond-max scan returned {n_beyond} rows"
        # stats honesty: the price column is NOT range-clustered, so a
        # full-range price predicate must keep every file
        pr = orders.agg(
            F.min("o_totalprice").alias("mn"), F.max("o_totalprice").alias("mx")
        ).first()
        all_files = pruned_files(spark, vdir, [("o_totalprice", pr.mn, pr.mx)])
        assert all_files is not None and len(all_files) == n_files, (
            f"full-range price predicate pruned {n_files - len(all_files)} "
            "files — min/max stats are lying"
        )
        # exactness: pruned scan == full scan + filter, row for row
        pruned = read_table_pruned(spark, root, "orders", key_pred)
        full = manifest_read_table(spark, root, "orders", m).filter(
            F.col("o_orderkey").between(F.lit(lo), F.lit(hi))
        )
        assert pruned.exceptAll(full).count() == 0, "pruned scan has extra rows"
        assert full.exceptAll(pruned).count() == 0, "pruned scan dropped rows"
        out = pruned.groupBy("o_orderpriority").agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(28,9)")), 3)
            .cast("double")
            .alias("total_price"),
        )
        return pin_small_result(out, _PRIORITY_MAX)
    finally:
        shutil.rmtree(base, ignore_errors=True)


_BLOOM_SKIP_N_FILES = 16  # hash-clustered files for the point-lookup audit

_BLOOM_SKIP_ORACLE = """
WITH probe AS (SELECT MAX(o_custkey) AS ck FROM orders)
SELECT COUNT(*) AS n_orders,
       CAST(round(SUM(CAST(o_totalprice AS DECIMAL(28,9))), 3) AS DOUBLE)
           AS total_price,
       MIN(o_orderkey) AS min_okey,
       MAX(o_orderkey) AS max_okey
FROM orders, probe
WHERE o_custkey = probe.ck
"""


@register(
    "bloom_skipping_roundtrip",
    oracle=_BLOOM_SKIP_ORACLE,
    doc="Per-file BLOOM-FILTER file skipping for equality predicates "
    "(sources/filestats.py — the Iceberg/Delta point-lookup complement to "
    "min/max range stats, and the mechanism that locates the files a "
    "GDPR equality delete must touch without scanning the table): publish "
    "orders hash-clustered on o_custkey through the txn layer, build the "
    "sparse per-file Bloom sidecar in one distributed pass "
    "(Kirsch-Mitzenmacher double hashing off two md5 halves, m auto-sized "
    "from observed keys-per-file), then assert (a) a point lookup on a "
    "present key prunes to ~one file (the key's hash partition, plus "
    "designed-for false-positive slack), (b) an absent key prunes to "
    "nearly zero files and EXACTLY zero rows (the residual equality keeps "
    "semantics exact regardless of fp), and (c) the pruned scan is "
    "row-for-row identical to the full scan plus filter. Returns the "
    "point lookup's aggregate; the oracle recomputes it from the raw "
    "source, so an unsound prune (a dropped file -> lost rows for the "
    "probed key) surfaces as a driver mismatch.",
    tags=("sink", "lifecycle"),
)
def bloom_skipping_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from f1_lakehouse_spark.sources.filestats import (  # noqa: PLC0415
        bloom_pruned_files,
        collect_file_blooms,
        read_pruned_eq,
    )
    from f1_lakehouse_spark.sources.txn import (  # noqa: PLC0415
        manifest_read_table,
        publish_tables,
        read_manifest,
    )

    orders = load_table(spark, sf_dir, "orders")
    base = tempfile.mkdtemp(prefix="f1ls_bloom_")
    root = os.path.join(base, "root")
    try:
        publish_tables(
            spark,
            root,
            {"orders": orders.repartition(_BLOOM_SKIP_N_FILES, "o_custkey")},
            txn_id=1,
        )
        m = read_manifest(root)
        vdir = os.path.join(root, "orders", m["tables"]["orders"])
        nbits = collect_file_blooms(spark, vdir, "o_custkey")
        assert nbits >= 1024, f"bloom sizing degenerate: m={nbits}"
        ck = orders.agg(F.max("o_custkey")).first()[0]
        surv = bloom_pruned_files(spark, vdir, "o_custkey", ck)
        # the key's rows live in exactly ONE hash partition; allow the
        # designed-for false-positive slack (fp ~0.3% x 16 files)
        assert surv is not None and 1 <= len(surv) <= 3, (
            f"point lookup kept {surv and len(surv)}/{_BLOOM_SKIP_N_FILES} "
            "files — bloom skipping is not skipping"
        )
        absent = bloom_pruned_files(spark, vdir, "o_custkey", -7)
        assert absent is not None and len(absent) <= 2, (
            f"absent key kept {len(absent)} files — fp rate far above design"
        )
        assert read_pruned_eq(spark, vdir, "o_custkey", -7).count() == 0, (
            "absent-key lookup returned rows"
        )
        # exactness: pruned point lookup == full scan + equality filter
        pruned = read_pruned_eq(spark, vdir, "o_custkey", ck)
        full = manifest_read_table(spark, root, "orders", m).filter(
            F.col("o_custkey") == F.lit(ck)
        )
        assert pruned.exceptAll(full).count() == 0, "pruned lookup has extra rows"
        assert full.exceptAll(pruned).count() == 0, "pruned lookup dropped rows"
        out = pruned.agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(28,9)")), 3)
            .cast("double")
            .alias("total_price"),
            F.min("o_orderkey").alias("min_okey"),
            F.max("o_orderkey").alias("max_okey"),
        )
        return pin_small_result(out, 4)
    finally:
        shutil.rmtree(base, ignore_errors=True)


_ZSKIP_N_FILES = 16  # files per layout for the clustering comparison

_ZSKIP_ORACLE = """
WITH b AS (
    SELECT CAST(MIN(o_custkey)
                + (MAX(o_custkey) - MIN(o_custkey)) // 8 AS BIGINT) AS clo,
           CAST(MIN(o_custkey)
                + ((MAX(o_custkey) - MIN(o_custkey)) * 3) // 8 AS BIGINT) AS chi,
           CAST(MIN(o_orderkey)
                + (MAX(o_orderkey) - MIN(o_orderkey)) // 8 AS BIGINT) AS olo,
           CAST(MIN(o_orderkey)
                + ((MAX(o_orderkey) - MIN(o_orderkey)) * 3) // 8 AS BIGINT) AS ohi
    FROM orders
)
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       CAST(round(SUM(CAST(o_totalprice AS DECIMAL(28,9))), 3) AS DOUBLE)
           AS total_price
FROM orders, b
WHERE o_custkey BETWEEN b.clo AND b.chi
  AND o_orderkey BETWEEN b.olo AND b.ohi
GROUP BY o_orderpriority
"""


@register(
    "zorder_skipping_roundtrip",
    oracle=_ZSKIP_ORACLE,
    doc="Z-ORDER clustering x column-stats file skipping, certified as a "
    "comparison of physical layouts (Delta/Iceberg OPTIMIZE ZORDER BY — "
    "the reason multi-dimensional clustering exists): write orders twice, "
    "linear (range-clustered on o_custkey only) and Morton-clustered on "
    "(o_custkey, o_orderkey) via sources/layout.write_zordered, attach "
    "the footer-stats sidecar to both (sources/filestats.py), then assert "
    "the layout laws at file granularity: (a) the linear layout prunes a "
    "quarter-range box on its OWN clustering key to a strict minority of "
    "files but keeps essentially EVERY file for the same box on the other "
    "key (a single-dim sort gives one dimension everything, every other "
    "dimension nothing), (b) the z-ordered layout prunes the SAME box on "
    "EACH interleaved dimension (the dim's top Morton bit splits the "
    "curve at this file granularity), (c) the conjunctive 2-D box on the "
    "z-layout survives exactly the intersection of its per-dim survivor "
    "sets and reads strictly fewer files than the linear layout's "
    "unclustered dimension allows, and (d) both layouts' pruned scans are "
    "row-for-row identical to the full scan plus filter (exceptAll both "
    "ways). Returns the z-layout pruned scan's aggregate; the oracle "
    "recomputes the same integer-arithmetic bounds and aggregate from the "
    "raw source, so an unsound prune surfaces as a driver mismatch.",
    tags=("sink", "lifecycle"),
)
def zorder_skipping_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from f1_lakehouse_spark.sources.filestats import (  # noqa: PLC0415
        collect_file_stats,
        pruned_files,
        read_pruned,
    )
    from f1_lakehouse_spark.sources.layout import write_zordered  # noqa: PLC0415

    orders = load_table(spark, sf_dir, "orders")
    base = tempfile.mkdtemp(prefix="f1ls_zskip_")
    lin_dir = os.path.join(base, "linear")
    z_dir = os.path.join(base, "zorder")
    try:
        orders.repartitionByRange(_ZSKIP_N_FILES, "o_custkey").write.parquet(lin_dir)
        write_zordered(orders, z_dir, ["o_custkey", "o_orderkey"], _ZSKIP_N_FILES)
        n_lin = collect_file_stats(spark, lin_dir, ["o_custkey", "o_orderkey"])
        n_z = collect_file_stats(spark, z_dir, ["o_custkey", "o_orderkey"])
        assert min(n_lin, n_z) >= _ZSKIP_N_FILES // 2, (
            f"degenerate layouts: {n_lin} linear / {n_z} z-order files"
        )
        # quarter-range boxes in the LOWER half of both (uniform) key
        # spaces — same integer arithmetic as the oracle, so the bounds
        # are engine-exact; staying below the median keeps every bucket's
        # top Morton bit at 0, the bit that prunes at file granularity
        r = orders.agg(
            F.min("o_custkey").alias("cmn"),
            F.max("o_custkey").alias("cmx"),
            F.min("o_orderkey").alias("omn"),
            F.max("o_orderkey").alias("omx"),
        ).first()
        clo, chi = r.cmn + (r.cmx - r.cmn) // 8, r.cmn + (r.cmx - r.cmn) * 3 // 8
        olo, ohi = r.omn + (r.omx - r.omn) // 8, r.omn + (r.omx - r.omn) * 3 // 8
        cust_box = [("o_custkey", clo, chi)]
        okey_box = [("o_orderkey", olo, ohi)]
        both = cust_box + okey_box
        # (a) single-dim layout law: its own key prunes hard, the other
        # key cannot prune at all (each file samples the full range)
        lin_cust = pruned_files(spark, lin_dir, cust_box)
        lin_okey = pruned_files(spark, lin_dir, okey_box)
        assert lin_cust is not None and len(lin_cust) <= n_lin // 2, (
            f"linear layout kept {lin_cust and len(lin_cust)}/{n_lin} files "
            "on its own clustering key"
        )
        assert lin_okey is not None and len(lin_okey) >= n_lin - 1, (
            f"linear layout pruned the UNclustered key to {len(lin_okey)} "
            f"/{n_lin} — stats would have to be lying"
        )
        # (b) multi-dim layout law: EVERY interleaved dim prunes
        z_cust = pruned_files(spark, z_dir, cust_box)
        z_okey = pruned_files(spark, z_dir, okey_box)
        assert z_cust is not None and len(z_cust) <= n_z * 3 // 4, (
            f"z-layout kept {z_cust and len(z_cust)}/{n_z} files on dim 1"
        )
        assert z_okey is not None and len(z_okey) <= n_z * 3 // 4, (
            f"z-layout kept {z_okey and len(z_okey)}/{n_z} files on dim 2"
        )
        # (c) the 2-D box: conjunction == per-dim survivor intersection,
        # and beats the linear layout's unclustered-dim floor
        z_both = pruned_files(spark, z_dir, both)
        assert z_both is not None and set(z_both) == set(z_cust) & set(z_okey), (
            "conjunctive prune disagrees with the survivor-set intersection"
        )
        assert len(z_both) < len(lin_okey), (
            f"2-D box read {len(z_both)} z-files vs {len(lin_okey)} linear"
        )
        # (d) exactness on BOTH layouts: pruned scan == full scan + filter
        full = orders.filter(
            F.col("o_custkey").between(F.lit(clo), F.lit(chi))
            & F.col("o_orderkey").between(F.lit(olo), F.lit(ohi))
        )
        zp = read_pruned(spark, z_dir, both)
        lp = read_pruned(spark, lin_dir, both)
        assert zp.exceptAll(full).count() == 0, "z-pruned scan has extra rows"
        assert full.exceptAll(zp).count() == 0, "z-pruned scan dropped rows"
        assert lp.exceptAll(full).count() == 0, "linear-pruned scan has extra rows"
        assert full.exceptAll(lp).count() == 0, "linear-pruned scan dropped rows"
        out = zp.groupBy("o_orderpriority").agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(28,9)")), 3)
            .cast("double")
            .alias("total_price"),
        )
        return pin_small_result(out, _PRIORITY_MAX)
    finally:
        shutil.rmtree(base, ignore_errors=True)


_SPEC_EVO_ORACLE = """
SELECT event_type,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users,
       CAST(round(SUM(CAST(value AS DECIMAL(28,9))), 3) AS DOUBLE) AS total_value
FROM events
GROUP BY event_type
"""


def _plan_partition_filters(df: DataFrame) -> list[str]:
    """The content of every ``PartitionFilters: [...]`` block in the
    executed plan — one entry per FileScan, empty-string entries for
    scans with no partition predicate."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return [seg.split("]")[0] for seg in plan.split("PartitionFilters: [")[1:]]


@register(
    "partition_evolution_roundtrip",
    oracle=_SPEC_EVO_ORACLE,
    doc="Iceberg-style PARTITION-SPEC EVOLUTION "
    "(sources/spec_evolution.py — repartition a live table as an "
    "O(metadata) commit, no history rewrite; Delta/Hive would rewrite "
    "100 TB): create events partitioned by event_type (spec 0, the "
    "'wrong' original layout), evolve the spec to partition by "
    "event_date, append the later half under spec 1, then assert (a) "
    "evolution rewrote NOTHING — spec 0's file listing and byte sizes "
    "are identical before and after, (b) the union read spans both "
    "specs row-for-row identically to the source (exceptAll both ways), "
    "(c) a predicate on the NEW spec's partition column reaches "
    "PartitionFilters (directory-level pruning) and its surviving rows "
    "touch only that date's spec-1 directory, and (d) the same predicate "
    "on a date served by spec 0 still answers exactly via the row-level "
    "residual path (per-spec residual evaluation, the Iceberg read "
    "contract). Returns the union read's per-type aggregate; the oracle "
    "recomputes it from the raw table, so a dropped or doubled segment "
    "surfaces as a driver mismatch.",
    tags=("sink", "lifecycle"),
)
def partition_evolution_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from f1_lakehouse_spark.sources.spec_evolution import (  # noqa: PLC0415
        append_rows,
        create_table,
        evolve_spec,
        read_table,
    )

    events = load_table(spark, sf_dir, "events").withColumn(
        "event_date", F.to_date("ts").cast("string")
    )
    base = tempfile.mkdtemp(prefix="f1ls_specevo_")
    tbl = os.path.join(base, "events_evolved")
    try:
        r = events.agg(
            F.min("event_date").alias("lo"), F.max("event_date").alias("hi")
        ).first()
        d_old, d_new = r.lo, r.hi
        assert d_old < d_new, "need at least two distinct event dates"
        split = events.filter(F.col("event_date") > F.lit(d_old)).agg(
            F.min("event_date")
        ).first()[0]
        batch_a = events.filter(F.col("event_date") < F.lit(split))
        batch_b = events.filter(F.col("event_date") >= F.lit(split))
        create_table(spark, tbl, batch_a, ["event_type"])
        seg0 = os.path.join(tbl, "spec=0")
        listing_before = {
            os.path.join(os.path.relpath(root, seg0), f): os.path.getsize(
                os.path.join(root, f)
            )
            for root, _dirs, files in os.walk(seg0)
            for f in files
        }
        # (a) the evolution commit is metadata-only
        assert evolve_spec(tbl, ["event_date"]) == 1
        append_rows(spark, tbl, batch_b)
        listing_after = {
            os.path.join(os.path.relpath(root, seg0), f): os.path.getsize(
                os.path.join(root, f)
            )
            for root, _dirs, files in os.walk(seg0)
            for f in files
        }
        assert listing_before == listing_after, (
            "spec evolution touched historical spec-0 files"
        )
        # (b) completeness: the union read IS the table
        full = read_table(spark, tbl)
        src = events.select(full.columns)
        assert full.exceptAll(src).count() == 0, "union read has extra rows"
        assert src.exceptAll(full).count() == 0, "union read dropped rows"
        # (c) new-spec partition pruning: the date predicate reaches
        # PartitionFilters on the spec-1 scan, and surviving rows touch
        # only that date's directory
        by_new = full.filter(F.col("event_date") == F.lit(d_new))
        pf = _plan_partition_filters(by_new)
        assert any("event_date" in p for p in pf), (
            f"date predicate never reached PartitionFilters: {pf}"
        )
        touched = {
            r["f"]
            for r in by_new.select(F.input_file_name().alias("f"))
            .distinct()
            .collect()
        }
        assert touched and all(
            "/spec=1/" in f and f"event_date={d_new}" in f for f in touched
        ), f"pruned read touched foreign files: {sorted(touched)[:5]}"
        n_new = by_new.count()
        want_new = events.filter(F.col("event_date") == F.lit(d_new)).count()
        assert n_new == want_new, f"new-spec date read {n_new} != {want_new}"
        # (d) old-spec residual path: the same predicate shape on a date
        # only spec 0 holds answers exactly without any event_date dirs
        by_old = full.filter(F.col("event_date") == F.lit(d_old))
        touched_old = {
            r["f"]
            for r in by_old.select(F.input_file_name().alias("f"))
            .distinct()
            .collect()
        }
        assert touched_old and all("/spec=0/" in f for f in touched_old), (
            f"old-date rows came from the wrong segment: {sorted(touched_old)[:5]}"
        )
        n_old = by_old.count()
        want_old = events.filter(F.col("event_date") == F.lit(d_old)).count()
        assert n_old == want_old, f"residual date read {n_old} != {want_old}"
        out = full.groupBy("event_type").agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.round(F.sum(F.col("value").cast("decimal(28,9)")), 3)
            .cast("double")
            .alias("total_value"),
        )
        return pin_small_result(out, EVENT_TYPE_MAX)
    finally:
        shutil.rmtree(base, ignore_errors=True)
