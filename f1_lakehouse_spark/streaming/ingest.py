"""Structured Streaming layer.

The reference has no streaming engine (SURVEY.md §2.9) — its only
"incrementality" is an idempotent partition skip at ingestion (reference
``ingestion/src/ingestion/utils.py:36-37``). The Spark-native upgrade is a
Structured Streaming file source with ``trigger(availableNow=True)``:
exactly-once incremental bronze ingest with checkpoint-tracked progress —
each run processes only files not yet seen, replacing the reference's
directory-existence probe with engine-level bookkeeping.

Plus the standard streaming analytics the events table calls for:
watermarked tumbling-window aggregation and native session windows.

Scale notes: file-source ingest parallelizes by file; watermarks bound the
state store (late data beyond the watermark is dropped); windowed
aggregations shuffle on (window, key) like any groupBy. These shapes run
unchanged against Kafka/queue sources by swapping ``format``.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from f1_lakehouse_spark.sources.txn import (
    expire_history,
    manifest_read_table,
    publish_tables,
    read_manifest,
    snapshot_diff,
)
from f1_lakehouse_spark.tables import _pin_session_confs, table_path


def stream_events(
    spark: SparkSession,
    sf_dir: str,
    glob: str = "events.parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """readStream over the events parquet (schema pinned from a static read,
    as the file source requires a user-supplied schema). ``glob`` widens the
    source beyond the single testdata file (e.g. "*.parquet" for a
    drop-directory a test or ingest job keeps appending files to).
    ``max_files_per_trigger`` caps files per micro-batch — under
    ``trigger(availableNow=True)`` a backlog then drains as SEVERAL batches,
    which is how the merge tests force genuine cross-batch updates."""
    _pin_session_confs(spark)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.option("pathGlobFilter", glob).parquet(sf_dir).schema
    # the streaming file source wants a DIRECTORY; the testdata table is a
    # single file, so stream the parent dir with a glob filter
    reader = spark.readStream.schema(schema).option("pathGlobFilter", glob)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    raw = reader.parquet(sf_dir)
    # same ts normalization as the batch loader — CALL it rather than
    # re-implement, so a batch-side fix can never silently diverge from the
    # streaming path (withWatermark refuses TIMESTAMP_NTZ, hence the cast)
    from f1_lakehouse_spark.tables import _normalize_event_ts  # noqa: PLC0415

    return _normalize_event_ts(raw)


def stream_bronze_ingest(
    spark: SparkSession,
    src_dir: str,
    out_path: str,
    checkpoint: str,
    partition_cols: list[str] | None = None,
) -> None:
    """Incremental bronze ingest: new source files → partitioned parquet,
    exactly-once via checkpoint. Re-running with no new files writes nothing
    (the streaming-native version of the reference's idempotent skip)."""
    src = stream_events(spark, src_dir)
    enriched = src.withColumn("event_date", F.to_date("ts"))
    q = (
        enriched.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .partitionBy(*(partition_cols or ["event_date"]))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def streaming_windowed_counts(
    events: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Watermarked tumbling-window counts/sums per event_type. The watermark
    bounds state: windows older than (max ts - watermark) finalize and leave
    the state store."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def streaming_session_windows(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Native gap-based session windows per user (the streaming twin of the
    batch LAG+cumsum sessionization in operators.windows)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("sw"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )


def run_available_now_to_memory(
    df: DataFrame, query_name: str, output_mode: str = "append"
) -> None:
    """Drive a streaming frame to completion synchronously into a memory
    sink (test/smoke harness)."""
    q = (
        df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_static_enrich(
    events: DataFrame, dim: DataFrame, key: str = "user_id"
) -> DataFrame:
    """Stream-static enrichment join: each micro-batch joins against the
    static dimension snapshot. The dim is broadcast — no stream-side state,
    no shuffle of the stream; the standard lookup-enrichment shape (swap the
    static side for a Delta table to get slowly-refreshing dims)."""
    return events.join(F.broadcast(dim), key, "left")


def stream_stream_attribution_join(
    clicks: DataFrame,
    purchases: DataFrame,
    watermark: str = "2 hours",
    attribution_window: str = "1 hour",
) -> DataFrame:
    """Stream-stream inner join: attribute each purchase to the clicks the
    same user made in the preceding ``attribution_window``.

    Both sides carry a watermark and the join condition bounds event time on
    both sides — that pair is what lets Spark expire join state: a click
    older than (max event time - watermark - window) can never match a
    future purchase, so its state-store entry is dropped. Without the time
    bound the state would grow without limit; with it, state size is
    O(events per window), independent of stream length — the property that
    matters at 100 TB/day.

    Shuffles once per side on user_id (the equi-key); the range predicate is
    evaluated inside the state store, not as a post-join filter.
    """
    c = clicks.withWatermark("ts", watermark).select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user_id"),
        F.col("ts").alias("click_ts"),
    )
    p = purchases.withWatermark("ts", watermark).select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    joined = c.join(
        p,
        F.expr(
            f"""
            c_user_id = p_user_id
            AND purchase_ts >= click_ts
            AND purchase_ts <= click_ts + INTERVAL {attribution_window}
            """
        ),
        "inner",
    )
    return joined.select(
        F.col("c_user_id").alias("user_id"),
        "click_id",
        "purchase_id",
        "click_ts",
        "purchase_ts",
        "purchase_value",
    )


def _publish_batch(sess: SparkSession, root: str, tables: dict, txn_id: int) -> None:
    """Commit one micro-batch, then keep only the records a checkpoint
    replay (the live one) or a one-cycle reader (its predecessor) can
    name; every live lookup lists them."""
    publish_tables(sess, root, tables, txn_id)
    expire_history(root, keep_n=2)


def publish_gold_version(df: DataFrame, txn_id: int, root: str) -> None:
    """Publish ``df`` (cumulative aggregate rows, one per key) as txn
    ``txn_id`` of the one-table transaction root ``root``: key-replace
    merge into the live ``gold`` the manifest names, then
    ``publish_tables`` (replay no-op, older-txn refusal, one-cycle
    retention). The streaming ``foreachBatch`` in
    :func:`incremental_gold_refresh` calls it with ``batch_id + 1``, so the
    GC/retention contract ``version_gc_roundtrip`` certifies is the one the
    stream runs under."""
    sess = df.sparkSession
    old = manifest_read_table(sess, root, "gold", read_manifest(root))
    if old is not None:
        # key-replace upsert: update-mode rows are already cumulative
        kept = old.join(df.select("event_type"), "event_type", "left_anti")
        df = kept.unionByName(df)
    _publish_batch(sess, root, {"gold": df}, txn_id)


def incremental_gold_refresh(
    spark: SparkSession,
    src_dir: str,
    root: str,
    checkpoint: str,
    glob: str = "events.parquet",
) -> None:
    """Incremental materialized-aggregate maintenance: each micro-batch's
    PARTIAL aggregate (count/sum per event_type) merges into the gold table
    inside ``foreachBatch`` — the streaming upgrade of the reference's
    "rebuild gold from scratch per dbt run" (SURVEY §2.11 D1/D4).

    Under ``outputMode("update")`` each emitted row is the group's UPDATED
    CUMULATIVE aggregate (streaming state carries the running totals), so
    the merge is a key-REPLACE upsert — keep gold rows whose key is absent
    from the batch, take the batch's rows verbatim. That is exactly MERGE
    INTO on a lakehouse table format, it is idempotent under crash-replay
    (a replayed batch re-emits the same cumulative rows and the replace
    converges), and it never double-counts across restarts or multi-batch
    triggers — an additive old∪batch re-sum would, because the restored
    aggregation state already includes history.

    Each batch publishes as one-table txn ``batch_id + 1`` of the root
    (:func:`publish_gold_version`, sources/txn.py) with NO driver
    materialization — the merge scales to any gold cardinality. The new
    version dir never touches the live one, so reading the old version
    while writing the new never forms a read-write cycle; a replay AFTER
    a completed publish is txn's own-record no-op, and a crash before the
    commit record leaves the previous snapshot live for the replay to
    re-merge against. On a Delta/Iceberg deployment the whole merge is
    one MERGE INTO (see sources/scd2.py).

    Read the table back with ``manifest_read_table(spark, root, "gold",
    read_manifest(root))``."""
    src = stream_events(spark, src_dir, glob=glob)
    partial = src.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(28,9)")).alias("total_value"),
    )

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        publish_gold_version(batch_df, batch_id + 1, root)

    q = (
        partial.writeStream.foreachBatch(merge)
        .outputMode("update")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


# ---------------------------------------------------------------------------
# UPDATE-capable incremental silver (r9): row-level latest-wins MERGE
# ---------------------------------------------------------------------------

SILVER_KEY = "user_id"
SILVER_ORDER = ("ts", "event_id")  # event_id is the unique tiebreaker
SILVER_PAYLOAD = ("event_type", "value")


def _latest_per_key(df: DataFrame) -> DataFrame:
    """One row per SILVER_KEY: the row with the max (ts, event_id) ordering
    tuple, payload carried along inside the struct. ``max(struct(...))``
    compares fields left-to-right and gets a map-side partial aggregate —
    one shuffle on the key, no window, no sort. The ordering tuple ends in
    a unique column, so the payload fields are never consulted for order
    and the reduction is deterministic under any partitioning."""
    ordered = [*SILVER_ORDER, *SILVER_PAYLOAD]
    packed = F.max(F.struct(*[F.col(c) for c in ordered])).alias("_latest")
    return (
        df.groupBy(SILVER_KEY)
        .agg(packed)
        .select(SILVER_KEY, *[F.col(f"_latest.{c}").alias(c) for c in ordered])
    )


def _merge_silver(old: DataFrame | None, batch_df: DataFrame) -> DataFrame:
    """The ROW-LEVEL latest-wins upsert every silver commit runs: reduce the
    batch to its latest row per key, then merge with the live silver by
    re-reducing the union — a later record UPDATES the key's silver row, an
    unseen key INSERTS. Because latest-per-key is a max over the
    (ts, event_id) tuple, the merged state is independent of how the
    backlog was split into micro-batches (the property the twice-through
    vanilla drive asserts). On Delta/Iceberg this is one
    ``MERGE INTO ... WHEN MATCHED AND s.ts > t.ts THEN UPDATE``."""
    latest = _latest_per_key(batch_df)
    return latest if old is None else _latest_per_key(old.unionByName(latest))


def _silver_to_gold(silver: DataFrame) -> DataFrame:
    """Gold as derived from silver: users and exact decimal value per
    event_type."""
    return silver.groupBy("event_type").agg(
        F.count("*").alias("n_users"),
        F.sum(F.col("value").cast("decimal(28,9)")).alias("total_value"),
    )


def _silver_merge(batch_df: DataFrame, batch_id: int, root: str) -> None:
    """One micro-batch's silver upsert, published as one-table txn
    ``batch_id + 1`` of ``root`` (merged against the silver the manifest
    names)."""
    sess = batch_df.sparkSession
    old = manifest_read_table(sess, root, "silver", read_manifest(root))
    _publish_batch(sess, root, {"silver": _merge_silver(old, batch_df)}, batch_id + 1)


def _medallion_txn_commit(batch_df: DataFrame, batch_id: int, root: str) -> None:
    """One micro-batch's ATOMIC two-table commit: merge the batch into
    silver (latest-per-key upsert against the silver the manifest names),
    derive gold from the merged silver, and publish BOTH through one
    commit record (sources/txn.py). Exactly-once across tables: a replay
    of a committed batch no-ops on the txn guard; a crash between the two
    version writes leaves the manifest on the previous batch's snapshot,
    and the replay re-merges against THAT silver (the manifest is the
    recovery point, so the merge re-reads exactly the state the crashed
    attempt read). A reader can never observe batch N's gold over batch
    N-1's silver."""
    sess = batch_df.sparkSession
    txn_id = batch_id + 1  # txn ids are 1-based; batch ids start at 0
    old = manifest_read_table(sess, root, "silver", read_manifest(root))
    silver = _merge_silver(old, batch_df)
    # gold derives from silver's lineage: both writes re-run the merge
    # shuffle once each — entity-bounded frames, two bounded jobs per
    # batch (persisting across foreachBatch writes would pin executor
    # memory for no asymptotic win)
    _publish_batch(sess, root, {"silver": silver, "gold": _silver_to_gold(silver)}, txn_id)


def _medallion_cdf_commit(batch_df: DataFrame, batch_id: int, root: str) -> None:
    """One micro-batch's atomic THREE-table commit: silver and gold exactly
    like :func:`_medallion_txn_commit`, plus a ``mart`` maintained
    INCREMENTALLY — the pre/post-image diff between the manifest's silver
    and the merged silver (txn.snapshot_diff) is applied to the previous
    mart as signed deltas (postimage/insert add, preimage/delete
    subtract). The mart never re-reads more than the previous aggregate
    plus the delta, while gold is the full recompute — committing BOTH in
    one transaction makes every snapshot carry its own proof that
    incremental maintenance equals recomputation. Crash-replay safe for
    the same reason as the two-table commit: the manifest is the recovery
    point, so a replayed batch re-derives silver, the diff, AND the mart
    from exactly the state the crashed attempt read."""
    sess = batch_df.sparkSession
    txn_id = batch_id + 1
    manifest = read_manifest(root)
    old = manifest_read_table(sess, root, "silver", manifest)
    silver = _merge_silver(old, batch_df)
    # three consumers re-derive silver's merge shuffle otherwise (its own
    # write, gold's lineage, the diff inside mart's lineage) — the
    # CLAUDE.md persist-before-fan-out barrier; entity-bounded, unpersisted
    # before the commit returns so nothing pins executor memory across
    # batches
    silver = silver.persist()
    n_silver = silver.count()
    # write-file count DERIVES from the entity count (CLAUDE.md knob rule:
    # sizes scale with input, constants are floors): one file per ~500k
    # users, so the sf0.1 commit is one file while a billion-user silver
    # still fans out
    silver_files = max(1, -(-n_silver // 500_000))
    val_dec = F.col("value").cast("decimal(28,9)")
    gold = _silver_to_gold(silver)
    if old is None:
        mart = gold  # first batch: nothing to diff against
    else:
        feed = snapshot_diff(
            old, silver, [SILVER_KEY], list(SILVER_ORDER), emit_pre_post=True
        )
        add = F.col("_change_type").isin("insert", "update_postimage")
        deltas = feed.groupBy("event_type").agg(
            F.sum(F.when(add, 1).otherwise(-1)).alias("d_users"),
            # negate the DECIMAL (exact, same scale) — a sign multiply
            # would widen the precision past 38
            F.sum(F.when(add, val_dec).otherwise(-val_dec)).alias("d_value"),
        )
        old_mart = manifest_read_table(sess, root, "mart", manifest)
        zero_v = F.lit(0).cast("decimal(38,9)")
        mart = (
            old_mart.select(
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
                ).alias("total_value"),
            )
            .filter(F.col("n_users") > 0)
        )
    try:
        # gold and mart are taxonomy-bounded (one row per event_type):
        # write each as one file so the per-batch commit doesn't pay a
        # write task per shuffle partition for a handful of rows
        _publish_batch(
            sess,
            root,
            {
                "silver": silver.coalesce(silver_files),
                "gold": gold.coalesce(1),
                "mart": mart.coalesce(1),
            },
            txn_id,
        )
    finally:
        silver.unpersist()


def _stream_silver_rows(
    spark: SparkSession,
    src_dir: str,
    root: str,
    checkpoint: str,
    glob: str,
    max_files_per_trigger: int | None,
    commit,
) -> None:
    """Drain the events source's silver columns through ``foreachBatch``:
    ``commit(batch_df, batch_id, root)`` runs once per micro-batch in
    append mode under ``trigger(availableNow=True)``."""
    src = stream_events(
        spark, src_dir, glob=glob, max_files_per_trigger=max_files_per_trigger
    )
    rows = src.select(SILVER_KEY, *SILVER_ORDER, *SILVER_PAYLOAD)
    q = (
        rows.writeStream.foreachBatch(functools.partial(commit, root=root))
        .outputMode("append")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def streaming_cdf_consumer_publish(
    spark: SparkSession,
    src_dir: str,
    root: str,
    checkpoint: str,
    glob: str = "events.parquet",
    max_files_per_trigger: int | None = None,
) -> None:
    """Streaming incremental view maintenance over the change data feed:
    every micro-batch atomically commits (silver, gold, mart) where the
    mart is maintained from the batch's pre/post-image diff instead of a
    recompute — the streaming twin of the ``cdf_incremental_consumer``
    driver row, and the Spark-native shape of a Delta CDF-reader pipeline
    (readChangeFeed → apply deltas downstream). At 100 TB the mart update
    cost is delta-proportional per batch while gold carries the
    recompute; a deployment keeps whichever side its latency budget
    affords — here both, so every snapshot is self-certifying."""
    _stream_silver_rows(
        spark, src_dir, root, checkpoint, glob, max_files_per_trigger, _medallion_cdf_commit
    )


def streaming_medallion_publish(
    spark: SparkSession,
    src_dir: str,
    root: str,
    checkpoint: str,
    glob: str = "events.parquet",
    max_files_per_trigger: int | None = None,
) -> None:
    """Exactly-once streaming maintenance of silver AND gold as one
    transaction per micro-batch: the two-table form of
    ``incremental_silver_merge`` — each batch commits a consistent
    (silver, gold) pair through one commit record (sources/txn.py), so
    downstream readers join the two layers without ever seeing a torn
    snapshot. Delta's foreachBatch-with-MERGE gives per-TABLE
    exactly-once; the manifest commit extends it across tables. Read back with
    ``read_manifest`` + ``manifest_read_table``."""
    _stream_silver_rows(
        spark, src_dir, root, checkpoint, glob, max_files_per_trigger, _medallion_txn_commit
    )


def incremental_silver_merge(
    spark: SparkSession,
    src_dir: str,
    root: str,
    checkpoint: str,
    glob: str = "events.parquet",
    max_files_per_trigger: int | None = None,
) -> None:
    """Incremental UPDATE-capable silver: maintain the latest event per
    user as new source files arrive — the medallion layer the reference's
    ingest-level partition skip cannot express (its S4 idempotence only
    ever APPENDS; reference ``ingestion/src/ingestion/utils.py:36-37``).

    Unlike ``incremental_gold_refresh`` (which merges STATEFUL cumulative
    aggregates), the silver merge is stateless per batch — raw rows in,
    latest-per-key upsert in ``foreachBatch`` — so streaming state is zero
    and the merge cost is one key shuffle of (live silver ∪ batch), i.e.
    O(entities + batch), independent of history length.

    Scale: silver is bounded by entity cardinality (users), not event
    volume; each batch publishes as one-table txn ``batch_id + 1`` of
    ``root`` (sources/txn.py): one versioned dir distributed across
    executors, then one commit record. Read it back with
    ``manifest_read_table(spark, root, "silver", read_manifest(root))``."""
    _stream_silver_rows(
        spark, src_dir, root, checkpoint, glob, max_files_per_trigger, _silver_merge
    )
