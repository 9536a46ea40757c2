"""Focused tests for the r11 optimization-round internals changes.

Each test pins the specific property an optimization relies on, so a later
refactor can't silently undo it:

- flagship_supplier_summary: window + aggregate fused — one lineitem scan,
  one shuffle Exchange, no join (the personal-best side used to be a second
  scan + LeftOuter join); the medallion's gold.supplier_summary too.
- q18_large_volume_customers: the HAVING aggregate IS the final quantity
  sum — no left_semi join, no re-aggregation of lineitem.
- tables.load_table: DataFrame-handle memo (driver-side footer read once
  per (session, input, table)), invalidated per session.
- dedup_simhash: shiftright bit extraction equals the oracle's
  floor-divide-based bit test on the full int48 domain edge cases.
- multimodal._poly_hash_batch: vectorized batch hash equals the scalar
  byte-fold reference on edge cases (empty, long, high bytes).
- similarity signature Column memo: same tree object reused.
- f1 driver_session_summary: window + aggregate fused like flagship — one
  scan of the silver frame, one shuffle, no join.
- bloom_prefilter: the probe is a pure map-side Filter over a driver-
  embedded literal word array — no join operator of any kind in the
  pruned-fact plan.
- quality_gopher_repetition: session-cached label frame (one persisted
  entry, same handle returned, consumers borrow without evicting).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from f1_lakehouse_spark.tables import load_table

SF_DIR = "/root/testdata/sf0.001"


def _physical_plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def _plan_tree(df) -> str:
    """Just the operator tree (the formatted detail section repeats every
    operator name once more, which would double-count substring asserts)."""
    return _physical_plan(df).split("\n\n")[0]


def test_flagship_fused_single_scan_no_join(spark):
    from f1_lakehouse_spark.operators.gold import flagship_supplier_summary
    from f1_lakehouse_spark.plans.medallion import build_registry

    # the registered query and the medallion's gold model over silver share
    # one body, so both keep the fused plan
    medallion_gold = build_registry(spark, SF_DIR).build_dataframe("gold.supplier_summary", {})
    for df in (flagship_supplier_summary(spark, SF_DIR), medallion_gold):
        tree = _plan_tree(df)
        assert tree.count("Scan parquet") == 1, tree
        # exactly the window's shuffle; the fused aggregate reuses its clustering
        assert tree.count("Exchange") == 1, tree
        assert "Join" not in tree, tree
        assert "Window" in tree  # W1 stays a real window operator


def test_q18_no_semi_join_single_lineitem_pass(spark):
    from f1_lakehouse_spark.operators.joins import q18_large_volume_customers

    df = q18_large_volume_customers(spark, SF_DIR)
    plan = _physical_plan(df)
    tree = _plan_tree(df)
    assert "LeftSemi" not in plan, plan
    assert plan.count("lineitem.parquet") == 1, plan  # detail section: 1 scan
    assert "TakeOrderedAndProject" in tree, tree


def test_load_table_memoizes_handle_per_session(spark):
    a = load_table(spark, SF_DIR, "lineitem")
    b = load_table(spark, SF_DIR, "lineitem")
    assert a is b
    # distinct inputs get distinct handles
    c = load_table(spark, SF_DIR, "orders")
    assert c is not a
    # the memo never caches data: a fresh action re-reads the parquet input
    assert not a.is_cached


def test_load_table_events_conf_pinned_after_memo_hit(spark):
    load_table(spark, SF_DIR, "events")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    df = load_table(spark, SF_DIR, "events")  # memo hit must re-pin the conf
    assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
    assert dict(df.dtypes)["ts"].startswith("timestamp")


@pytest.mark.parametrize(
    "x",
    [0, 1, 2, (1 << 48) - 1, 999_999_937, 123_456_789_012_345],
)
def test_simhash_shiftright_equals_floor_divide(spark, x):
    # the optimized bit test: shiftright(x, b) & 1 == (x // 2^b) % 2 (the
    # oracle's formulation) for every bit on the int48 hash domain
    row = spark.range(1).select(
        *[
            (
                F.shiftright(F.lit(x), b).bitwiseAND(F.lit(1))
                == (F.lit(x) / F.lit(1 << b)).cast("long") % 2
            ).alias(f"b{b}")
            for b in range(32)
        ]
    ).collect()[0]
    assert all(row), (x, row.asDict())


def test_poly_hash_batch_matches_scalar():
    from f1_lakehouse_spark.pipeline.multimodal import (
        _poly_hash_batch,
        _poly_hash_bytes,
    )

    payloads = [
        b"",
        b"a",
        b"hello world",
        bytes(range(256)) * 40,  # all byte values, > pow-table warm size? no: grows
        b"x" * 10_000,
    ]
    hs, lens = _poly_hash_batch(payloads)
    assert list(lens) == [len(p) for p in payloads]
    assert list(hs) == [_poly_hash_bytes(p) for p in payloads]


def test_poly_hash_batch_all_empty():
    from f1_lakehouse_spark.pipeline.multimodal import _poly_hash_batch

    hs, lens = _poly_hash_batch([b"", b""])
    assert list(hs) == [0, 0] and list(lens) == [0, 0]


def test_dss_fused_single_scan_no_join(spark):
    from f1_lakehouse_spark.f1.adapters import silver_laps_analog
    from f1_lakehouse_spark.f1.models import driver_session_summary

    tree = _plan_tree(driver_session_summary(silver_laps_analog(spark, SF_DIR)))
    assert tree.count("Scan parquet") == 1, tree
    assert tree.count("Exchange") == 1, tree
    assert "Join" not in tree, tree
    assert "Window" in tree, tree


def test_bloom_prefilter_is_pure_mapside_filter(spark):
    from f1_lakehouse_spark.operators.joins import (
        bloom_filter_frame,
        bloom_prefilter,
    )

    build = spark.range(100).selectExpr("id as bk")
    fact = spark.range(10_000).selectExpr("id % 500 as fk")
    pruned = bloom_prefilter(fact, "fk", bloom_filter_frame(build, "bk", 100))
    tree = _plan_tree(pruned)
    # r11: the trained filter embeds as a literal — the probe must carry
    # no join (the old shape cross-joined the 1-row bloom frame into
    # every probe row) and no exchange (pure map-side filter)
    assert "Join" not in tree, tree
    assert "Exchange" not in tree, tree
    assert "Filter" in tree, tree


def test_gopher_label_frame_session_cached(spark):
    from f1_lakehouse_spark.pipeline.filtering import (
        quality_gopher_repetition,
    )

    a = quality_gopher_repetition(spark, SF_DIR)
    b = quality_gopher_repetition(spark, SF_DIR)
    assert a is b
    assert a.is_cached
    # consumers derive via .select(...): their own persist/unpersist acts
    # on a DIFFERENT plan, so the shared entry must stay hot
    derived = a.select("doc_id", "passes_repetition")
    derived.count()
    derived.unpersist()
    assert a.is_cached


def test_cdc_chunks_no_window_mapside_partial_agg(spark):
    from f1_lakehouse_spark.pipeline.multimodal import mm_payload_cdc_chunks

    tree = _plan_tree(mm_payload_cdc_chunks(spark, SF_DIR))
    # r11: the distinct-bytes stat comes from groupBy(fingerprint) with
    # map-side partial aggregation, not a row_number window that shuffled
    # and sorted every chunk row
    assert "Window" not in tree, tree
    assert "Sort" not in tree, tree
    # two aggregate pairs (per-fingerprint, then global), each partial+final
    assert tree.count("Exchange") == 2, tree


def test_signature_column_memo_reuses_tree():
    from f1_lakehouse_spark.pipeline.similarity import (
        PLANES,
        spark_signature_planes,
    )

    a = spark_signature_planes(F.col("embedding"), PLANES)
    b = spark_signature_planes(F.col("embedding"), PLANES)
    assert a is b
    c = spark_signature_planes(F.col("other"), PLANES)
    assert c is not a


def test_bootstrap_decimal_cast_hoisted_above_explode(spark):
    """stats_bootstrap_ci_poisson: the double->decimal(27,6) cast of
    l_extendedprice runs once per SOURCE row below the B=64 Generate (the
    explode copies the decimal), never per fanned row inside the resample
    aggregate — the partial_sum multiplies the precomputed `pd` column."""
    from f1_lakehouse_spark.operators.extensions import (
        stats_bootstrap_ci_poisson,
    )

    plan = _physical_plan(stats_bootstrap_ci_poisson(spark, SF_DIR))
    # one plan section computes pd below the Generate...
    assert "as decimal(27,6)) AS pd#" in plan, plan
    # ...and the resample partial_sum consumes pd, not a fresh per-row cast
    # (the point-mean branch keeps its own single-pass cast: exactly two
    # sum(cast(l_extendedprice ...)) families would mean the hoist regressed)
    import re

    resample_sums = re.findall(r"partial_sum\(\(pd#\d+ \* ", plan)
    assert resample_sums, plan
    assert not re.search(
        r"partial_sum\(\(cast\(l_extendedprice", plan
    ), plan


def test_fisher_basket_prefilters_both_selfjoin_sides(spark):
    """lineitem_fisher_price_index: the 100-part basket broadcast filter
    sits BELOW the month-pair self-join on both sides (each side's subtree
    carries the basket TakeOrderedAndProject), so at scale the self-join
    never shuffles the full SF-scaling part x month cell frame."""
    from f1_lakehouse_spark.operators.round5_stats import _fisher_lazy

    cells, out = _fisher_lazy(spark, SF_DIR)
    try:
        tree = _plan_tree(out)
        # one basket subtree per self-join side (before: one, applied after)
        assert tree.count("TakeOrderedAndProject") == 2, tree
    finally:
        cells.unpersist()


def test_medallion_layers_sized_publish_and_release(spark):
    """_medallion_layers publishes size-derived file counts (silver
    ceil(n/500k) -> 1 partition at test SF, gold 1: the streaming/ingest
    convention, instead of one near-empty file per shuffle partition) and
    returns a release() that really unpersists the underlying cache."""
    from f1_lakehouse_spark.registry import _ensure_loaded

    _ensure_loaded()  # lifecycle's oracle wiring needs the full registry
    from f1_lakehouse_spark.pipeline.lifecycle import _medallion_layers

    events = load_table(spark, SF_DIR, "events").select(
        "user_id", "ts", "event_id", "event_type", "value"
    )
    def cached_ids():
        return {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}

    before = cached_ids()  # other tests' session caches stay out of scope
    tables, release = _medallion_layers(events)
    try:
        assert tables["silver"].rdd.getNumPartitions() == 1
        assert tables["gold"].rdd.getNumPartitions() == 1
        # the cache entry is on the pre-coalesce frame: coalesce reads it
        mid = cached_ids() - before
        assert mid, "silver cache entry missing before release()"
    finally:
        release()
    # assert the SPECIFIC entries _medallion_layers created are gone — an
    # unrelated session cache appearing mid-test must not flake this
    assert not (mid & cached_ids()), (
        "release() left the silver cache entry behind"
    )
