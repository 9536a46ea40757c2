"""Structured Streaming: incremental ingest idempotency, streaming≡batch
equivalence for windowed aggregation, native session windows vs the batch
LAG+cumsum sessionization."""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from f1_lakehouse_spark.sources.txn import manifest_read_table, read_manifest
from f1_lakehouse_spark.streaming.ingest import (
    run_available_now_to_memory,
    stream_bronze_ingest,
    stream_events,
    streaming_session_windows,
    streaming_windowed_counts,
)
from f1_lakehouse_spark.tables import load_table
from tests.conftest import SF_DIR


def _live(spark, root, name):
    """The live version of table ``name`` of the txn root ``root``."""
    return manifest_read_table(spark, root, name, read_manifest(root))


def test_incremental_bronze_ingest_exactly_once(spark):
    src_n = load_table(spark, SF_DIR, "events").count()
    with tempfile.TemporaryDirectory() as tmp:
        out, ckpt = f"{tmp}/bronze_events", f"{tmp}/ckpt"
        stream_bronze_ingest(spark, SF_DIR, out, ckpt)
        n1 = spark.read.parquet(out).count()
        assert n1 == src_n
        # re-run with no new files: checkpoint makes it a no-op (S4 analog)
        stream_bronze_ingest(spark, SF_DIR, out, ckpt)
        assert spark.read.parquet(out).count() == src_n
        # partition column materialized for pruning
        assert "event_date" in spark.read.parquet(out).columns


def test_streaming_windowed_counts_equal_batch(spark):
    events = stream_events(spark, SF_DIR)
    agg = streaming_windowed_counts(events, window="1 hour", watermark="10 years")
    run_available_now_to_memory(agg, "win_counts", output_mode="complete")
    streamed = {
        (r["window_start"], r["event_type"]): (r["n_events"], round(r["total_value"], 6))
        for r in spark.sql("SELECT * FROM win_counts").collect()
    }
    batch = {
        (r["window_start"], r["event_type"]): (r["n_events"], round(r["total_value"], 6))
        for r in (
            load_table(spark, SF_DIR, "events")
            .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count("*").alias("n_events"), F.sum("value").alias("total_value"))
            .select(
                F.col("w.start").alias("window_start"),
                "event_type",
                "n_events",
                "total_value",
            )
        ).collect()
    }
    assert streamed == batch
    assert len(streamed) > 0


def test_streaming_session_windows_match_batch_sessionization(spark):
    events = stream_events(spark, SF_DIR)
    sw = streaming_session_windows(events, gap="30 minutes", watermark="10 years")
    run_available_now_to_memory(sw, "sess_win", output_mode="complete")
    streamed = spark.sql("SELECT * FROM sess_win")
    from f1_lakehouse_spark.operators.windows import w_sessionize_events

    batch = w_sessionize_events(spark, SF_DIR)
    # same number of sessions per user, same total events
    s_per_user = {
        r["user_id"]: r["n"]
        for r in streamed.groupBy("user_id").agg(F.count("*").alias("n")).collect()
    }
    b_per_user = {
        r["user_id"]: r["n"]
        for r in batch.groupBy("user_id").agg(F.count("*").alias("n")).collect()
    }
    assert s_per_user == b_per_user
    assert (
        streamed.agg(F.sum("n_events")).collect()[0][0]
        == batch.agg(F.sum("n_events")).collect()[0][0]
    )


def test_streaming_dedup_drops_replayed_events(spark):
    from f1_lakehouse_spark.streaming.stateful import streaming_dedup

    events = stream_events(spark, SF_DIR)
    # the source has unique event_ids; duplicate them by unioning the stream
    # with itself → dedup must halve it back
    doubled = events.union(events)
    deduped = streaming_dedup(doubled, watermark="10 years")
    run_available_now_to_memory(deduped, "dedup_out", output_mode="append")
    n_src = load_table(spark, SF_DIR, "events").count()
    n_out = spark.sql("SELECT COUNT(*) FROM dedup_out").collect()[0][0]
    assert n_out == n_src


def test_stateful_user_totals_equal_batch(spark):
    from f1_lakehouse_spark.streaming.stateful import streaming_user_totals

    events = stream_events(spark, SF_DIR)
    totals = streaming_user_totals(events)
    run_available_now_to_memory(totals, "user_totals", output_mode="update")
    streamed = {
        r["user_id"]: (r["n_events"], round(r["total_value"], 6))
        for r in spark.sql(
            # update mode emits one row per key per batch; keep the last
            "SELECT user_id, n_events, total_value FROM user_totals"
        ).collect()
    }
    batch = {
        r["user_id"]: (r["n"], round(r["t"], 6))
        for r in load_table(spark, SF_DIR, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("value").alias("t"))
        .collect()
    }
    assert streamed == batch


def test_stream_static_enrich_matches_batch_join(spark):
    from f1_lakehouse_spark.streaming.ingest import stream_static_enrich

    batch_events = load_table(spark, SF_DIR, "events")
    dim = (
        batch_events.select("user_id")
        .distinct()
        .withColumn("segment", F.concat(F.lit("seg"), F.col("user_id") % 5))
    )
    enriched = stream_static_enrich(stream_events(spark, SF_DIR), dim)
    run_available_now_to_memory(enriched, "enriched_events", output_mode="append")
    streamed = spark.sql(
        "SELECT segment, COUNT(*) AS n FROM enriched_events GROUP BY 1"
    )
    batch = batch_events.join(dim, "user_id", "left").groupBy("segment").agg(
        F.count("*").alias("n")
    )
    assert {(r["segment"], r["n"]) for r in streamed.collect()} == {
        (r["segment"], r["n"]) for r in batch.collect()
    }
    assert streamed.count() > 0


def test_stream_stream_join_matches_batch_join(spark):
    """Stream-stream inner join (clicks→purchases attribution within 1h,
    watermarked both sides) must equal the identical batch join."""
    from f1_lakehouse_spark.streaming.ingest import stream_stream_attribution_join

    clicks = stream_events(spark, SF_DIR).filter(F.col("event_type") == "click")
    purchases = stream_events(spark, SF_DIR).filter(
        F.col("event_type") == "purchase"
    )
    # watermark far past the data so availableNow emits every match
    joined = stream_stream_attribution_join(clicks, purchases, watermark="10 years")
    run_available_now_to_memory(joined, "attributed", output_mode="append")
    streamed = {
        (r["user_id"], r["click_id"], r["purchase_id"])
        for r in spark.sql("SELECT * FROM attributed").collect()
    }

    be = load_table(spark, SF_DIR, "events")
    bc = be.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user_id"),
        F.col("ts").alias("click_ts"),
    )
    bp = be.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("purchase_ts"),
    )
    batch = {
        (r["c_user_id"], r["click_id"], r["purchase_id"])
        for r in bc.join(
            bp,
            F.expr(
                "c_user_id = p_user_id AND purchase_ts >= click_ts "
                "AND purchase_ts <= click_ts + INTERVAL 1 HOUR"
            ),
        ).collect()
    }
    assert streamed == batch
    assert len(streamed) > 0


def test_watermark_drops_late_events_across_restarts(spark):
    """Real late-data semantics: a window finalized by the watermark in run 1
    must NOT absorb a late event arriving in run 2 (same checkpoint), while
    in-order data keeps flowing. Append mode + parquet sink across two
    availableNow runs of one checkpoint."""
    import tempfile

    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("event_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("value", DoubleType()),
            StructField("event_type", StringType()),
        ]
    )

    def write_batch(path, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(
            path
        )

    def run_once(src, out, ckpt):
        stream = spark.readStream.schema(schema).parquet(src)
        agg = streaming_windowed_counts(stream, window="10 minutes", watermark="5 minutes")
        q = (
            agg.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    from datetime import datetime

    t = lambda h, m: datetime(2024, 1, 1, h, m)
    with tempfile.TemporaryDirectory() as tmp:
        src, out, ckpt = f"{tmp}/src", f"{tmp}/out", f"{tmp}/ckpt"
        # run 1: two events in the 10:00 window, one at 11:00 advancing the
        # watermark to 10:55 -> the 10:00-10:10 window finalizes and emits
        write_batch(src, [(1, 1, t(10, 0), 1.0, "click"),
                          (1, 2, t(10, 5), 1.0, "click"),
                          (1, 3, t(11, 0), 1.0, "click")])
        run_once(src, out, ckpt)
        first = {
            (r["window_start"], r["event_type"]): r["n_events"]
            for r in spark.read.parquet(out).collect()
        }
        assert first[(t(10, 0), "click")] == 2  # finalized with both events
        # run 2: a LATE event for the finalized window (dropped) + a fresh
        # event at 12:00 that finalizes the 11:00 window
        write_batch(src, [(1, 4, t(10, 3), 1.0, "click"),
                          (1, 5, t(12, 0), 1.0, "click")])
        run_once(src, out, ckpt)
        final = {
            (r["window_start"], r["event_type"]): r["n_events"]
            for r in spark.read.parquet(out).collect()
        }
        assert final[(t(10, 0), "click")] == 2  # late event was DROPPED
        assert final[(t(11, 0), "click")] == 1  # in-order data kept flowing


def test_incremental_gold_refresh_equals_batch_aggregate(spark):
    import tempfile

    from f1_lakehouse_spark.streaming.ingest import incremental_gold_refresh

    with tempfile.TemporaryDirectory() as tmp:
        gold, ckpt = f"{tmp}/gold", f"{tmp}/ckpt"
        incremental_gold_refresh(spark, SF_DIR, gold, ckpt)
        got = {
            r["event_type"]: (r["n_events"], round(float(r["total_value"]), 6))
            for r in _live(spark, gold, "gold").collect()
        }
        want = {
            r["event_type"]: (r["n"], round(float(r["t"]), 6))
            for r in load_table(spark, SF_DIR, "events")
            .groupBy("event_type")
            .agg(
                F.count("*").alias("n"),
                F.sum(F.col("value").cast("decimal(28,9)")).alias("t"),
            )
            .collect()
        }
        assert got == want
        # no new files -> no state change (idempotent restart)
        incremental_gold_refresh(spark, SF_DIR, gold, ckpt)
        again = {
            r["event_type"]: (r["n_events"], round(float(r["total_value"]), 6))
            for r in _live(spark, gold, "gold").collect()
        }
        assert again == want


def test_incremental_gold_refresh_second_run_with_new_data_no_double_count(spark):
    """Regression: update-mode rows are CUMULATIVE, so the merge must
    key-replace, not re-sum — a second run over newly arrived files has to
    land exactly on the batch aggregate of everything seen, not history
    counted twice."""
    import tempfile

    from f1_lakehouse_spark.streaming.ingest import incremental_gold_refresh

    import glob as globmod
    import os
    import shutil

    ev = load_table(spark, SF_DIR, "events")
    first = ev.filter(F.col("event_id") % 2 == 0)
    second = ev.filter(F.col("event_id") % 2 == 1)

    def drop_file(df, staging, src, name):
        df.coalesce(1).write.mode("overwrite").parquet(staging)
        part = globmod.glob(f"{staging}/part-*.parquet")[0]
        shutil.copy(part, f"{src}/{name}")

    with tempfile.TemporaryDirectory() as tmp:
        src, gold, ckpt = f"{tmp}/src", f"{tmp}/gold", f"{tmp}/ckpt"
        os.makedirs(src)
        drop_file(first, f"{tmp}/stage1", src, "events_a.parquet")
        incremental_gold_refresh(spark, src, gold, ckpt, glob="*.parquet")
        drop_file(second, f"{tmp}/stage2", src, "events_b.parquet")
        incremental_gold_refresh(spark, src, gold, ckpt, glob="*.parquet")
        got = {
            r["event_type"]: (r["n_events"], round(float(r["total_value"]), 6))
            for r in _live(spark, gold, "gold").collect()
        }
        want = {
            r["event_type"]: (r["n"], round(float(r["t"]), 6))
            for r in ev.groupBy("event_type")
            .agg(
                F.count("*").alias("n"),
                F.sum(F.col("value").cast("decimal(28,9)")).alias("t"),
            )
            .collect()
        }
        assert got == want


def test_transform_with_state_totals_equal_batch(spark):
    """Spark 4 transformWithStateInPandas twin must agree with the batch
    aggregate (and therefore with the applyInPandasWithState variant)."""
    import pytest as _pytest

    from f1_lakehouse_spark.streaming import stateful

    if not stateful.TWS_AVAILABLE:
        _pytest.skip("transformWithStateInPandas not available")
    # the TWS state channel serializes via protobuf in the Python worker;
    # this sandbox ships no usable google.protobuf — skip (the
    # applyInPandasWithState twin above covers the semantics end-to-end)
    _pytest.importorskip("google.protobuf.descriptor")
    events = stream_events(spark, SF_DIR)
    totals = stateful.streaming_user_totals_tws(events)
    run_available_now_to_memory(totals, "user_totals_tws", output_mode="update")
    streamed = {
        r["user_id"]: (r["n_events"], round(r["total_value"], 6))
        for r in spark.sql(
            "SELECT user_id, n_events, total_value FROM user_totals_tws"
        ).collect()
    }
    batch = {
        r["user_id"]: (r["n"], round(r["t"], 6))
        for r in load_table(spark, SF_DIR, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("value").alias("t"))
        .collect()
    }
    assert streamed == batch


def test_streaming_incremental_dedup_matches_batch_cross_pairs(spark):
    """foreachBatch ingest-with-dedup: each micro-batch probes then grows
    the persistent MinHash band index. The union of per-batch candidate
    pairs must equal the batch-mode LSH candidate pairs that SPAN the two
    ingest files (within-batch pairs are out of scope by design)."""
    from f1_lakehouse_spark.pipeline.dedup import minhash_lsh_pairs
    from f1_lakehouse_spark.pipeline.incremental import (
        stream_documents_ingest_with_dedup,
    )

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    half_a = docs.filter(F.col("doc_id") % 2 == 0)
    half_b = docs.filter(F.col("doc_id") % 2 == 1)
    with tempfile.TemporaryDirectory() as tmp:
        src = f"{tmp}/docs_src"
        half_a.coalesce(1).write.parquet(src)
        half_b.coalesce(1).write.mode("append").parquet(src)
        stream_documents_ingest_with_dedup(
            spark, src, f"{tmp}/band_index", f"{tmp}/dup_pairs", f"{tmp}/ckpt"
        )
        try:
            streamed = {
                frozenset((r.new_doc, r.corpus_doc))
                for r in spark.read.parquet(f"{tmp}/dup_pairs").collect()
            }
        except Exception:
            streamed = set()
        # index must hold every doc's 4 band signatures after the run
        n_index = spark.read.parquet(f"{tmp}/band_index").count()
        assert n_index == docs.count() * 4

    expected_all = minhash_lsh_pairs(docs).collect()
    cross = {
        frozenset((r.doc_a, r.doc_b))
        for r in expected_all
        if r.doc_a % 2 != r.doc_b % 2  # pairs spanning the two files
    }
    assert streamed == cross
    assert len(cross) > 0  # non-vacuous: the halves do share near-dups


def test_incremental_gold_refresh_mvcc_layout_no_driver_collect(spark):
    """The r2 merge collected gold to the driver to break the read-write
    cycle on one path; the merge now publishes versioned dirs behind the
    txn manifest instead. Pin the layout contract: the manifest resolves,
    displaced version survives exactly one cycle, older versions pruned,
    and the foreachBatch body contains no collect()."""
    import inspect
    import os
    import tempfile

    from f1_lakehouse_spark.streaming import ingest as ingest_mod
    from f1_lakehouse_spark.streaming.ingest import incremental_gold_refresh

    src_text = inspect.getsource(ingest_mod.incremental_gold_refresh)
    code_after_docstring = src_text.split('"""')[-1]
    assert ".collect()" not in code_after_docstring

    ev = load_table(spark, SF_DIR, "events")
    first = ev.filter(F.col("event_id") % 2 == 0)
    second = ev.filter(F.col("event_id") % 2 == 1)

    import glob as globmod
    import shutil

    def drop_file(df, staging, src, name):
        df.coalesce(1).write.mode("overwrite").parquet(staging)
        part = globmod.glob(f"{staging}/part-*.parquet")[0]
        shutil.copy(part, f"{src}/{name}")

    with tempfile.TemporaryDirectory() as tmp:
        src, gold, ckpt = f"{tmp}/src", f"{tmp}/gold", f"{tmp}/ckpt"
        os.makedirs(src)
        drop_file(first, f"{tmp}/stage1", src, "events_a.parquet")
        incremental_gold_refresh(spark, src, gold, ckpt, glob="*.parquet")
        versions1 = sorted(os.listdir(os.path.join(gold, "gold")))
        assert len(versions1) == 1
        assert read_manifest(gold)["tables"]["gold"] == versions1[0]

        drop_file(second, f"{tmp}/stage2", src, "events_b.parquet")
        incremental_gold_refresh(spark, src, gold, ckpt, glob="*.parquet")
        versions2 = sorted(os.listdir(os.path.join(gold, "gold")))
        # new live version + the displaced one kept for in-flight readers
        assert len(versions2) == 2 and versions1[0] in versions2
        assert read_manifest(gold)["tables"]["gold"] == max(versions2)

        got = {
            r["event_type"]: (r["n_events"], round(float(r["total_value"]), 6))
            for r in _live(spark, gold, "gold").collect()
        }
        want = {
            r["event_type"]: (r["n"], round(float(r["t"]), 6))
            for r in ev.groupBy("event_type")
            .agg(
                F.count("*").alias("n"),
                F.sum(F.col("value").cast("decimal(28,9)")).alias("t"),
            )
            .collect()
        }
        assert got == want


def test_gold_merge_replay_after_publish_is_noop(spark):
    """Crash-replay of a batch whose publish COMPLETED must no-op: the
    manifest already names this txn's version, and re-running the merge
    would read the live version dir through the manifest while overwriting
    that same dir (Spark refuses and the stream would wedge on every
    restart)."""
    import os
    import tempfile

    from f1_lakehouse_spark.streaming.ingest import publish_gold_version

    batch = spark.createDataFrame(
        [("click", 3, 1.5)], "event_type string, n_events long, total_value double"
    )
    with tempfile.TemporaryDirectory() as tmp:
        gold = f"{tmp}/gold"
        publish_gold_version(batch, 7, gold)
        live = read_manifest(gold)
        assert live["txn"] == 7
        before = {tuple(r) for r in _live(spark, gold, "gold").collect()}
        vdir = os.path.join(gold, "gold", live["tables"]["gold"])
        mtime = os.path.getmtime(vdir)

        # replay the SAME txn id with different (stale re-emitted) data:
        # must not touch the published version
        stale = spark.createDataFrame(
            [("click", 999, 9.9)],
            "event_type string, n_events long, total_value double",
        )
        publish_gold_version(stale, 7, gold)
        after = {tuple(r) for r in _live(spark, gold, "gold").collect()}
        assert after == before
        assert os.path.getmtime(vdir) == mtime

        # a NEW txn id still merges normally
        nxt = spark.createDataFrame(
            [("view", 5, 2.0)], "event_type string, n_events long, total_value double"
        )
        publish_gold_version(nxt, 8, gold)
        got = {r["event_type"]: r["n_events"] for r in _live(spark, gold, "gold").collect()}
        assert got == {"click": 3, "view": 5}


def test_stateful_streaming_ewma_equals_batch(spark):
    """The streaming EWMA twin must reproduce an independent full-history
    Python fold exactly for EVERY user (same IEEE left-fold), and match
    the batch operator for users under its 64-event cap."""
    from f1_lakehouse_spark.registry import REGISTRY, _ensure_loaded
    from f1_lakehouse_spark.streaming.stateful import streaming_ewma

    _ensure_loaded()

    out = streaming_ewma(stream_events(spark, SF_DIR))
    run_available_now_to_memory(out, "ewma_out", output_mode="update")
    streamed = {
        r["user_id"]: (r["n_events"], r["last_ewma"], r["max_abs_dev"])
        for r in spark.sql(
            "SELECT user_id, n_events, last_ewma, max_abs_dev FROM ewma_out"
        ).collect()
    }

    seqs = {}
    for r in (
        load_table(spark, SF_DIR, "events")
        .where(F.col("value").isNotNull())
        .select("user_id", "ts", "event_id", "value")
        .collect()
    ):
        seqs.setdefault(r["user_id"], []).append((r["ts"], r["event_id"], r["value"]))
    assert set(streamed) == set(seqs)
    expected = {}
    for uid, evs in seqs.items():
        evs.sort()
        ewma, n, maxdev = None, 0, 0.0
        for _, _, v in evs:
            if ewma is None:
                ewma, n = float(v), 1
            else:
                dev = abs(v - ewma)
                if dev > maxdev:
                    maxdev = dev
                ewma = ewma + 0.25 * (v - ewma)
                n += 1
        expected[uid] = (n, ewma, maxdev)
    assert streamed == expected

    # and where the batch cap doesn't bind, the batch operator agrees too
    batch = {
        r["user_id"]: (r["n_events"], r["last_ewma"], r["max_abs_dev"])
        for r in REGISTRY["events_ewma_anomaly"].fn(spark, SF_DIR).collect()
    }
    checked = 0
    for uid, (n, e, m) in batch.items():
        if expected[uid][0] <= 64:
            assert (n, e, m) == expected[uid], uid
            checked += 1
    assert checked >= 1

def test_stateful_ewma_chunk_and_seed_semantics():
    """Two failure modes the full-pipeline test can't reach (its batches fit
    one Arrow chunk): (1) a micro-batch arriving as MULTIPLE chunks whose
    (ts, event_id) ranges interleave must fold in global order, not
    per-chunk order; (2) an all-null first batch must leave the state
    UNSEEDED so the next real value seeds the EWMA instead of folding
    against a 0.0 placeholder."""
    import pandas as pd

    from f1_lakehouse_spark.streaming.stateful import _update_ewma

    class FakeState:
        def __init__(self):
            self.exists = False
            self._v = None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v, self.exists = v, True

    def run(state, chunks):
        return list(_update_ewma((1,), iter(chunks), state))[0].iloc[0]

    # (1) interleaved chunks: global order is ts 1,2,3,4 with values 10,2,6,4
    c1 = pd.DataFrame({"ts": [1, 3], "event_id": [1, 3], "value": [10.0, 6.0]})
    c2 = pd.DataFrame({"ts": [2, 4], "event_id": [2, 4], "value": [2.0, 4.0]})
    st = FakeState()
    row = run(st, [c1, c2])
    ewma, maxdev = 10.0, 0.0
    for v in (2.0, 6.0, 4.0):
        maxdev = max(maxdev, abs(v - ewma))
        ewma += 0.25 * (v - ewma)
    assert row["n_events"] == 4
    assert row["last_ewma"] == ewma
    assert row["max_abs_dev"] == maxdev

    # (2) all-null first batch, then one real value: must SEED (n=1, dev=0)
    st2 = FakeState()
    nulls = pd.DataFrame({"ts": [1], "event_id": [1], "value": [None]})
    row0 = run(st2, [nulls])
    assert row0["n_events"] == 0 and pd.isna(row0["last_ewma"])
    real = pd.DataFrame({"ts": [2], "event_id": [2], "value": [7.0]})
    row1 = run(st2, [real])
    assert (row1["n_events"], row1["last_ewma"], row1["max_abs_dev"]) == (1, 7.0, 0.0)

def test_stateful_streaming_croston_equals_batch(spark):
    """The streaming Croston twin over a month-cell stream must reproduce
    the batch operator exactly for every cohort part, INCLUDING state
    carried across micro-batch boundaries (the cells arrive as two
    files split mid-calendar, one file per trigger)."""
    import os
    import tempfile

    from f1_lakehouse_spark.registry import REGISTRY, _ensure_loaded
    from f1_lakehouse_spark.streaming.stateful import streaming_croston

    _ensure_loaded()
    batch = {
        r["part_key"]: (r["n_demand_months"], r["z_size"], r["p_interval"], r["croston_rate"])
        for r in REGISTRY["orders_croston_intermittent"].fn(spark, SF_DIR).collect()
    }
    assert batch

    li = load_table(spark, SF_DIR, "lineitem")
    cells = (
        li.select(
            F.col("l_partkey").alias("part_key"),
            (
                F.year("l_shipdate").cast("long") * 12
                + F.month("l_shipdate").cast("long")
                - 1
            ).alias("ym0"),
            (F.col("l_quantity").cast("decimal(18,3)") * 1000).cast("long").alias("q"),
        )
        .groupBy("part_key", "ym0")
        .agg((F.sum("q").cast("double") / F.lit(1000.0)).alias("qty"))
    )
    mid = cells.agg(F.expr("percentile_approx(ym0, 0.5)")).collect()[0][0]
    with tempfile.TemporaryDirectory() as tmp:
        d = f"{tmp}/cells"
        os.makedirs(d)
        cells.where(F.col("ym0") <= mid).coalesce(1).write.parquet(f"{d}/f0")
        cells.where(F.col("ym0") > mid).coalesce(1).write.parquet(f"{d}/f1")
        # one parquet file per dir; force arrival order via mtimes
        paths = []
        for sub in ("f0", "f1"):
            p = [f for f in os.listdir(f"{d}/{sub}") if f.endswith(".parquet")][0]
            paths.append(f"{d}/{sub}/{p}")
        os.utime(paths[0], (1_000_000_000, 1_000_000_000))
        os.utime(paths[1], (1_000_000_100, 1_000_000_100))
        schema = spark.read.parquet(paths[0]).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .option("pathGlobFilter", "*.parquet")
            .option("recursiveFileLookup", "true")
            .parquet(d)
        )
        out = streaming_croston(stream)
        run_available_now_to_memory(out, "croston_out", output_mode="update")
        # the memory sink keeps every batch's emission; the FINAL state per
        # part is the row with the largest n_demand_months (nd is
        # monotonically non-decreasing across batches)
        streamed = {}
        for r in spark.sql(
            "SELECT * FROM croston_out ORDER BY part_key, n_demand_months"
        ).collect():
            streamed[r["part_key"]] = (
                r["n_demand_months"],
                r["z_size"],
                r["p_interval"],
                r["croston_rate"],
            )
    for pk, expected in batch.items():
        assert pk in streamed, pk
        assert streamed[pk] == expected, (pk, streamed[pk], expected)


def test_stateful_streaming_spacesaving_guarantees(spark):
    """The streaming SpaceSaving twin must satisfy the algorithm's
    deterministic guarantees against EXACT batch counts for every key:
    est >= true, est - err <= true, and every id with true share > 1/K
    present in the table — plus bit-identical output on a replay."""
    from f1_lakehouse_spark.streaming.stateful import SS_CAPACITY, streaming_heavy_hitters

    def run(name):
        out = streaming_heavy_hitters(stream_events(spark, SF_DIR))
        run_available_now_to_memory(out, name, output_mode="update")
        return {
            r["event_type"]: (r["n_total"], list(r["ids"]), list(r["counts"]), list(r["errs"]))
            for r in spark.sql(
                f"SELECT event_type, n_total, ids, counts, errs FROM {name}"
            ).collect()
        }

    got = run("ss_out_a")
    exact = {}
    for r in (
        load_table(spark, SF_DIR, "events")
        .groupBy("event_type", "user_id")
        .agg(F.count("*").alias("c"))
        .collect()
    ):
        exact.setdefault(r["event_type"], {})[r["user_id"]] = r["c"]

    assert set(got) == set(exact)
    for et, (n_total, ids, counts, errs) in got.items():
        truth = exact[et]
        assert n_total == sum(truth.values())
        assert len(ids) <= SS_CAPACITY
        for uid, est, err in zip(ids, counts, errs):
            true_c = truth.get(uid, 0)
            assert est >= true_c, (et, uid)
            assert est - err <= true_c, (et, uid)
        thresh = n_total / SS_CAPACITY
        for uid, true_c in truth.items():
            if true_c > thresh:
                assert uid in ids, (et, uid, true_c, thresh)

    assert run("ss_out_b") == got  # deterministic replay


def test_spacesaving_guarantees_property():
    """Property test (no Spark): for ANY stream and any chunking, the
    SpaceSaving fold must satisfy est >= true, est - err <= true, and
    every id with share > 1/K present — driven directly through the
    pandas update function with a fake GroupState."""
    from hypothesis import given, settings
    from hypothesis import strategies as st
    from collections import Counter
    import pandas as pd

    from f1_lakehouse_spark.streaming.stateful import SS_CAPACITY, _update_spacesaving

    class FakeState:
        def __init__(self):
            self.exists = False
            self._v = None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v
            self.exists = True

    @settings(max_examples=60, deadline=None)
    @given(
        st.lists(st.integers(min_value=0, max_value=12), min_size=1, max_size=200),
        st.integers(min_value=1, max_value=5),
    )
    def run(uids, n_chunks):
        rows = [
            {"ts": i, "event_id": i, "user_id": u} for i, u in enumerate(uids)
        ]
        # arbitrary chunk boundaries — the fold must concat+sort first
        size = max(1, len(rows) // n_chunks)
        chunks = [
            pd.DataFrame(rows[i : i + size]) for i in range(0, len(rows), size)
        ]
        state = FakeState()
        [out] = list(_update_spacesaving(("t",), iter(chunks), state))
        truth = Counter(uids)
        n_total = int(out["n_total"][0])
        ids = list(out["ids"][0])
        counts = list(out["counts"][0])
        errs = list(out["errs"][0])
        assert n_total == len(uids)
        assert len(ids) <= SS_CAPACITY
        for uid, est, err in zip(ids, counts, errs):
            true_c = truth.get(uid, 0)
            assert est >= true_c
            assert est - err <= true_c
        thresh = n_total / SS_CAPACITY
        for uid, true_c in truth.items():
            if true_c > thresh:
                assert uid in ids

    run()


def test_stateful_spacesaving_checkpoint_restart(spark, tmp_path):
    """State must survive a query RESTART from the checkpoint: run the
    SpaceSaving stream over a first file, stop, drop a second file, restart
    from the same checkpoint — the final n_total must count BOTH files
    (recovered state, not a reset) and the counter-table guarantees must
    hold against exact counts over the full history."""
    import shutil

    from f1_lakehouse_spark.streaming.stateful import (
        SS_CAPACITY,
        streaming_heavy_hitters,
    )
    from f1_lakehouse_spark.streaming.ingest import stream_events

    src = tmp_path / "drop"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    ev = load_table(spark, SF_DIR, "events")
    mid = ev.agg(F.max("event_id")).collect()[0][0] // 2

    def drop_file(df, name):
        # the streaming file source wants FLAT files in the watched dir —
        # write to a scratch dir and move the single part file in
        scratch = tmp_path / f"scratch_{name}"
        df.coalesce(1).write.parquet(str(scratch))
        part = next(p for p in scratch.iterdir() if p.name.endswith(".parquet"))
        part.rename(src / f"{name}.parquet")
        shutil.rmtree(str(scratch), ignore_errors=True)

    drop_file(ev.where(F.col("event_id") <= mid), "part1")

    sink = str(tmp_path / "sink")

    def run_pass(name):
        # memory sinks refuse checkpoint recovery — append to a parquet
        # sink; the latest row per key is the one with the highest n_total
        out = streaming_heavy_hitters(
            stream_events(spark, str(src), "*.parquet"), output_mode="append"
        )
        q = (
            out.writeStream.format("parquet")
            .outputMode("append")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        rows = spark.read.parquet(sink).collect()
        latest = {}
        for r in rows:
            if r["event_type"] not in latest or r["n_total"] > latest[r["event_type"]][0]:
                latest[r["event_type"]] = (
                    r["n_total"],
                    list(r["ids"]),
                    list(r["counts"]),
                    list(r["errs"]),
                )
        return latest

    first = run_pass("ss_ckpt_a")
    n_first = ev.where(F.col("event_id") <= mid).count()
    assert sum(v[0] for v in first.values()) == n_first

    drop_file(ev.where(F.col("event_id") > mid), "part2")
    second = run_pass("ss_ckpt_b")

    exact = {}
    for r in ev.groupBy("event_type", "user_id").agg(F.count("*").alias("c")).collect():
        exact.setdefault(r["event_type"], {})[r["user_id"]] = r["c"]

    assert set(second) == set(exact)
    for et, (n_total, ids, counts, errs) in second.items():
        truth = exact[et]
        # full-history count proves the state store was RECOVERED, not reset
        assert n_total == sum(truth.values())
        assert len(ids) <= SS_CAPACITY
        for uid, est, err in zip(ids, counts, errs):
            true_c = truth.get(uid, 0)
            assert est >= true_c
            assert est - err <= true_c
        thresh = n_total / SS_CAPACITY
        for uid, true_c in truth.items():
            if true_c > thresh:
                assert uid in ids

    shutil.rmtree(str(src), ignore_errors=True)


def test_incremental_silver_merge_latest_wins_and_batch_split_independent(spark):
    """The UPDATE path must actually run (multi-batch via
    maxFilesPerTrigger=1) and the final silver state must equal the batch
    latest-per-user regardless of how the backlog split into batches."""
    from pyspark.sql import Window

    from f1_lakehouse_spark.streaming.ingest import incremental_silver_merge

    events = load_table(spark, SF_DIR, "events").select(
        "user_id", "ts", "event_id", "event_type", "value"
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    want = {
        r["user_id"]: (r["event_id"], r["event_type"], r["value"])
        for r in events.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .collect()
    }

    def run(n_files: int) -> dict:
        with tempfile.TemporaryDirectory() as tmp:
            src, silver, ckpt = f"{tmp}/src", f"{tmp}/silver", f"{tmp}/ckpt"
            events.repartition(n_files).write.parquet(src)
            incremental_silver_merge(
                spark, src, silver, ckpt, glob="*.parquet", max_files_per_trigger=1
            )
            # restart with no new files: checkpoint recovery must no-op
            incremental_silver_merge(
                spark, src, silver, ckpt, glob="*.parquet", max_files_per_trigger=1
            )
            return {
                r["user_id"]: (r["event_id"], r["event_type"], r["value"])
                for r in _live(spark, silver, "silver").collect()
            }

    got3 = run(3)
    assert got3 == want
    # a different batch split converges to the same state
    assert run(5) == got3


def test_silver_merge_replay_after_publish_is_noop(spark):
    """Crash-replay of an already-published silver batch must not change
    state (same txn guard as the gold merge, exercised through the silver
    merge)."""
    import os

    from f1_lakehouse_spark.streaming.ingest import _silver_merge

    with tempfile.TemporaryDirectory() as tmp:
        silver = f"{tmp}/silver"
        os.makedirs(silver)
        b0 = spark.createDataFrame(
            [(1, 10, 100, "view", 1.0), (1, 20, 101, "buy", 2.0)],
            "user_id long, ts long, event_id long, event_type string, value double",
        )
        _silver_merge(b0, 0, silver)
        first = _live(spark, silver, "silver").collect()
        assert {(r["user_id"], r["event_id"]) for r in first} == {(1, 101)}
        # replay of batch 0 after its publish: no-op
        _silver_merge(b0.limit(1), 0, silver)
        assert _live(spark, silver, "silver").collect() == first
        # batch 1 with an older record for the same key: must NOT regress
        older = spark.createDataFrame(
            [(1, 5, 99, "view", 9.0)],
            "user_id long, ts long, event_id long, event_type string, value double",
        )
        _silver_merge(older, 1, silver)
        after = _live(spark, silver, "silver").collect()
        assert {(r["user_id"], r["event_id"]) for r in after} == {(1, 101)}


def test_mvcc_versions_listable_and_as_of_readable(spark):
    """The retention window (current + predecessor) must be enumerable and
    as-of readable; pruned versions return None instead of a read error."""
    import os

    from f1_lakehouse_spark.streaming.ingest import incremental_silver_merge

    def as_of(root, txn):
        return manifest_read_table(spark, root, "silver", read_manifest(root, txn))

    events = load_table(spark, SF_DIR, "events").select(
        "user_id", "ts", "event_id", "event_type", "value"
    )
    with tempfile.TemporaryDirectory() as tmp:
        src, silver, ckpt = f"{tmp}/src", f"{tmp}/silver", f"{tmp}/ckpt"
        events.repartition(3).write.parquet(src)
        incremental_silver_merge(
            spark, src, silver, ckpt, glob="*.parquet", max_files_per_trigger=1
        )
        vs = sorted(os.listdir(os.path.join(silver, "silver")))
        # 3 batches published txns 1..3; retention keeps the last two
        assert read_manifest(silver)["txn"] == 3
        assert vs == [read_manifest(silver, t)["tables"]["silver"] for t in (2, 3)]
        live = _live(spark, silver, "silver")
        prev = as_of(silver, 2)
        assert live.count() >= prev.count()  # merge only ever adds keys
        # the live read must equal the newest retained version
        assert as_of(silver, 3).count() == live.count()
        # pruned version: None, not an exception
        assert as_of(silver, 1) is None
        # each commit expired the history to its two newest records
        records = sorted(f for f in os.listdir(silver) if f.startswith("_MANIFEST.v"))
        assert records == [f"_MANIFEST.v{t:010d}" for t in (2, 3)], records
