"""The plan-keyed result cache inside ``analytics.to_client``: a repeat of a
plan over unchanged local files runs no Spark job, and anything that could
change the answer (a rewritten or added input file, a non-deterministic
expression, a time function, a non-file source, a new application) does
not hit. The memoized request frames: a repeat call returns the identical
frame, and new inputs, confs or arguments build a new one."""

from __future__ import annotations

import shutil
import sys
import uuid
from concurrent.futures import ThreadPoolExecutor

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark import SparkContext
from pyspark.sql import functions as F

from f1_lakehouse_spark import analytics
from f1_lakehouse_spark.registry import REGISTRY, _ensure_loaded
from f1_lakehouse_spark.tables import table_path
from tests.conftest import SF_DIR

_ensure_loaded()


def _write(path, ids: list[int]) -> None:
    pq.write_table(pa.table({"id": ids, "v": [float(i) * 1.5 for i in ids]}), str(path))


def _jobs_during(spark, fn):
    """(fn(), number of Spark jobs it ran), counted by job group through
    the status tracker."""
    sc = spark.sparkContext
    group = f"result-cache-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "result cache test")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _delta(before: dict, key: str) -> int:
    return analytics.result_cache_stats()[key] - before[key]


def _summary(spark, path):
    return spark.read.parquet(str(path)).groupBy().agg(
        F.count("*").alias("n"), F.sum("v").alias("total")
    )


def test_hit_returns_equal_frame_without_a_job(spark, tmp_path):
    path = tmp_path / "t.parquet"
    _write(path, list(range(10)))
    cold, cold_jobs = _jobs_during(spark, lambda: analytics.to_client(_summary(spark, path)))
    assert cold_jobs >= 1
    before = analytics.result_cache_stats()
    frame = _summary(spark, path)  # built outside the count: a read may list files
    warm, warm_jobs = _jobs_during(spark, lambda: analytics.to_client(frame))
    assert warm_jobs == 0
    assert _delta(before, "hits") == 1
    pd.testing.assert_frame_equal(warm, cold)
    assert warm["n"].tolist() == [10]


def test_file_rewritten_in_place_is_read_again(spark, tmp_path):
    path = tmp_path / "t.parquet"
    _write(path, [1, 2, 3])
    assert analytics.to_client(_summary(spark, path))["n"].tolist() == [3]
    _write(path, [1, 2, 3, 4, 5])
    assert analytics.to_client(_summary(spark, path))["n"].tolist() == [5]


def test_file_added_to_directory_table_is_read(spark, tmp_path):
    table = tmp_path / "tbl"
    table.mkdir()
    _write(table / "part-0.parquet", [1, 2])
    assert analytics.to_client(_summary(spark, table))["n"].tolist() == [2]
    _write(table / "part-1.parquet", [3, 4, 5])
    assert analytics.to_client(_summary(spark, table))["n"].tolist() == [5]


def test_nondeterministic_and_non_file_plans_bypass(spark, tmp_path):
    path = tmp_path / "t.parquet"
    _write(path, list(range(5)))
    before = analytics.result_cache_stats()
    for _ in range(2):
        analytics.to_client(spark.read.parquet(str(path)).select(F.rand(7).alias("r")))
        analytics.to_client(spark.createDataFrame([(1, 2.0)], "a int, b double"))
    assert _delta(before, "bypasses") == 4
    assert _delta(before, "hits") == 0
    assert _delta(before, "misses") == 0


def test_editing_a_returned_frame_leaves_the_cache_alone(spark, tmp_path):
    path = tmp_path / "t.parquet"
    _write(path, [4, 5, 6])
    first = analytics.to_client(spark.read.parquet(str(path)).orderBy("id"))
    first.loc[0, "id"] = 999
    hit = analytics.to_client(spark.read.parquet(str(path)).orderBy("id"))
    hit.loc[1, "id"] = 998
    again = analytics.to_client(spark.read.parquet(str(path)).orderBy("id"))
    assert again["id"].tolist() == [4, 5, 6]


def test_new_application_drops_entries(spark, tmp_path, monkeypatch):
    path = tmp_path / "t.parquet"
    _write(path, [1, 2])
    analytics.to_client(_summary(spark, path))
    assert analytics.result_cache_stats()["entries"] >= 1
    # what a stopped and restarted SparkContext reports
    monkeypatch.setattr(SparkContext, "applicationId", property(lambda self: "app-restarted"))
    before = analytics.result_cache_stats()
    assert analytics.to_client(_summary(spark, path))["n"].tolist() == [2]
    assert _delta(before, "misses") == 1
    assert analytics.result_cache_stats()["entries"] == 1


def test_byte_budget_evicts_least_recently_used(spark, tmp_path, monkeypatch):
    path = tmp_path / "t.parquet"
    _write(path, list(range(10)))

    def one_row(k: int) -> pd.DataFrame:
        return analytics.to_client(spark.read.parquet(str(path)).filter(F.col("id") == k))

    size = int(one_row(1).memory_usage(index=True, deep=True).sum())
    monkeypatch.setattr(analytics, "RESULT_CACHE_BYTES", 2 * size)
    one_row(2)  # holds rows 1 and 2; older entries are evicted
    assert analytics.result_cache_stats()["entries"] == 2
    before = analytics.result_cache_stats()
    one_row(1)  # hit: row 2 is now the least recently used
    one_row(3)  # miss: evicts row 2
    assert (_delta(before, "hits"), _delta(before, "misses")) == (1, 1)
    before = analytics.result_cache_stats()
    one_row(1)
    one_row(2)
    assert (_delta(before, "hits"), _delta(before, "misses")) == (1, 1)
    stats = analytics.result_cache_stats()
    assert (stats["entries"], stats["bytes"]) == (2, 2 * size)


def test_concurrent_requests_keep_the_byte_count(spark, tmp_path, monkeypatch):
    path = tmp_path / "t.parquet"
    _write(path, list(range(10)))

    def one_row(k: int) -> pd.DataFrame:
        return analytics.to_client(spark.read.parquet(str(path)).filter(F.col("id") == k))

    size = int(one_row(0).memory_usage(index=True, deep=True).sum())
    monkeypatch.setattr(analytics, "RESULT_CACHE_BYTES", 3 * size)
    one_row(1)
    one_row(2)  # holds rows 0-2 only; older entries are evicted
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(8) as pool:
            got = list(pool.map(lambda k: one_row(k % 5)["id"].tolist(), range(40)))
    finally:
        sys.setswitchinterval(interval)
    assert got == [[k % 5] for k in range(40)]
    stats = analytics.result_cache_stats()
    assert stats["entries"] <= 3
    assert stats["bytes"] == stats["entries"] * size


# --- request frames and the analyzed-plan key --------------------------------


def test_distinct_aggregate_views_key_the_same_on_every_build(spark):
    """Two countDistincts over derived columns gave optimized plans whose
    hash differed from build to build; the analyzed plan's does not."""
    for name in ("f1_session_kpis", "f1_driver_alias_audit"):
        build = getattr(REGISTRY[name].fn, "__wrapped__", REGISTRY[name].fn)
        cold = analytics.to_client(build(spark, SF_DIR))
        before = analytics.result_cache_stats()
        for _ in range(8):
            pd.testing.assert_frame_equal(analytics.to_client(build(spark, SF_DIR)), cold)
        assert (_delta(before, "hits"), _delta(before, "misses")) == (8, 0), name


def test_repeat_request_returns_the_identical_frame_without_a_job(spark):
    first = analytics.kpis(spark, SF_DIR, 1996)
    analytics.to_client(first)
    before = analytics.result_cache_stats()
    (again, rows), jobs = _jobs_during(
        spark,
        lambda: (lambda df: (df, analytics.to_client(df)))(analytics.kpis(spark, SF_DIR, 1996)),
    )
    assert again is first
    assert jobs == 0
    assert (_delta(before, "frame_reuses"), _delta(before, "frame_builds")) == (1, 0)
    assert _delta(before, "hits") == 1
    assert rows["n_lines"].tolist()[0] > 0
    view = REGISTRY["f1_fastest_laps"].fn
    assert view(spark, SF_DIR) is view(spark, SF_DIR)


def test_request_frame_is_rebuilt_for_new_inputs_confs_and_arguments(spark, tmp_path):
    sf = tmp_path / "sf"
    sf.mkdir()
    lineitem = sf / "lineitem.parquet"
    shutil.copyfile(table_path(SF_DIR, "lineitem"), lineitem)
    lineitem.chmod(0o644)
    first = analytics.kpis(spark, str(sf), 1996)
    n = analytics.to_client(first)["n_lines"].tolist()[0]
    assert analytics.kpis(spark, str(sf), 1996) is first
    assert analytics.kpis(spark, str(sf), 1997) is not first

    table = pq.read_table(lineitem)
    pq.write_table(table.slice(0, table.num_rows // 2), str(lineitem))  # in place
    rewritten = analytics.kpis(spark, str(sf), 1996)
    assert rewritten is not first
    assert analytics.to_client(rewritten)["n_lines"].tolist()[0] < n

    key = "spark.sql.caseSensitive"
    old = spark.conf.get(key)
    spark.conf.set(key, "true" if old == "false" else "false")
    try:
        assert analytics.kpis(spark, str(sf), 1996) is not rewritten
    finally:
        spark.conf.set(key, old)


def test_concurrent_request_frames_count_every_call(spark):
    years = (1995, 1996, 1997, 1998)
    want = {y: analytics.to_client(analytics.kpis(spark, SF_DIR, y)) for y in years}
    before = analytics.result_cache_stats()
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(8) as pool:
            got = list(
                pool.map(
                    lambda i: analytics.to_client(analytics.kpis(spark, SF_DIR, years[i % 4])),
                    range(40),
                )
            )
    finally:
        sys.setswitchinterval(interval)
    for i, pdf in enumerate(got):
        pd.testing.assert_frame_equal(pdf, want[years[i % 4]])
    assert _delta(before, "frame_reuses") + _delta(before, "frame_builds") == 40
    assert _delta(before, "hits") == 40


def test_time_functions_bypass_even_inside_a_subquery(spark, tmp_path):
    path = tmp_path / "t.parquet"
    _write(path, list(range(5)))
    spark.read.parquet(str(path)).createOrReplaceTempView("result_cache_t")
    frames = [
        lambda: spark.read.parquet(str(path)).select("id", F.current_date().alias("d")),
        lambda: spark.read.parquet(str(path)).filter(F.current_timestamp().isNotNull()),
        lambda: spark.sql(
            "SELECT id FROM result_cache_t WHERE id < "
            "(SELECT count(*) FROM result_cache_t WHERE now() IS NOT NULL)"
        ),
    ]
    before = analytics.result_cache_stats()
    for _ in range(2):
        for frame in frames:
            analytics.to_client(frame())
    assert _delta(before, "bypasses") == 6
    assert (_delta(before, "hits"), _delta(before, "misses")) == (0, 0)
