"""The dashboard/notebook analytics query set (SURVEY.md §3.3, §2 P7/A5–A10/
O1–O3) as a parameterized library over the medallion tables — the engine
twin of the reference Streamlit app's five queries (reference
``dashboard/app.py:130-242``) plus the S9 client-materialization helper.

Each function returns a lazy DataFrame; filters are real parameters (the
reference's DuckDB ``$param`` binding) that Catalyst folds into pushed
predicates. A repeat call over unchanged inputs and confs returns the
identical frame (``tables.cached_per_input(..., request=True)``), so a
dashboard rerun builds nothing.
"""

from __future__ import annotations

import functools
import os
import threading
import weakref
from collections import OrderedDict
from urllib.parse import unquote, urlparse

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from f1_lakehouse_spark.functions.expressions import date_fmt
from f1_lakehouse_spark.tables import (
    FRAME_MEMO_STATS,
    cached_per_input,
    conf_hash,
    load_table,
)


def _lineitem_year(spark: SparkSession, sf_dir: str, year: int) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(F.year("l_shipdate") == F.lit(year))


@cached_per_input("lineitem", request=True)
def session_date(spark: SparkSession, sf_dir: str, year: int) -> DataFrame:
    """dashboard/app.py:130-137: MIN(timestamp) of the selected scope,
    formatted yyyy-MM-dd."""
    return _lineitem_year(spark, sf_dir, year).agg(
        date_fmt(F.min("l_shipdate")).alias("session_date")
    )


@cached_per_input("lineitem", request=True)
def kpis(spark: SparkSession, sf_dir: str, year: int) -> DataFrame:
    """dashboard/app.py:145-158: scope KPI row (counts + distincts + best)."""
    return _lineitem_year(spark, sf_dir, year).agg(
        F.count("*").alias("n_lines"),
        F.countDistinct("l_suppkey").alias("n_suppliers"),
        F.countDistinct("l_partkey").alias("n_parts"),
        F.min("l_extendedprice").alias("best_price"),
    )


@cached_per_input("lineitem", request=True)
def fastest_topk(
    spark: SparkSession, sf_dir: str, year: int, k: int = 50
) -> DataFrame:
    """dashboard/app.py:169-189: top-k cheapest lines, engine-side."""
    return (
        _lineitem_year(spark, sf_dir, year)
        .select("l_orderkey", "l_linenumber", "l_suppkey", "l_extendedprice")
        .orderBy("l_extendedprice", "l_orderkey", "l_linenumber")
        .limit(k)
    )


@cached_per_input("lineitem", request=True)
def team_summary_view(spark: SparkSession, sf_dir: str, year: int) -> DataFrame:
    """dashboard/app.py:196-205: per-group rollup of the scope."""
    return (
        _lineitem_year(spark, sf_dir, year)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n_lines"),
            F.min("l_extendedprice").alias("best_price"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@cached_per_input("lineitem", request=True)
def pace_curve(spark: SparkSession, sf_dir: str, year: int) -> DataFrame:
    """dashboard/app.py:231-242: exact MEDIAN measure per sequence position."""
    return (
        _lineitem_year(spark, sf_dir, year)
        .groupBy("l_linenumber")
        .agg(F.median("l_quantity").alias("median_qty"))
        .orderBy("l_linenumber")
    )


# --- plan-keyed result cache at the client boundary --------------------------
# Every dashboard page query, f1 view and copilot answer ends in to_client. A
# Streamlit rerun or a repeated question sends the same capped plan over the
# same files again; its answer cannot have changed while neither has, so a
# repeat returns the stored result and runs no Spark job (Shark, SIGMOD 2013).
# Key, bypass rules and limits: docs/SCALE.md "Client result cache".
RESULT_CACHE_BYTES = 64 * 1024 * 1024  # pandas bytes held, LRU-evicted past it
_CACHEABLE_LEAVES = frozenset({"LocalRelation", "OneRowRelation", "Range"})

_cache: OrderedDict[tuple, tuple[object, pd.DataFrame, int]] = OrderedDict()
_cache_lock = threading.Lock()
_cache_state = {"app": None, "bytes": 0, "hits": 0, "misses": 0, "bypasses": 0}
# per DataFrame object and row cap: (capped frame, _plan_part of it), so a
# repeat of a memoized request frame analyzes and walks nothing
_planned: weakref.WeakKeyDictionary[DataFrame, dict[int, tuple]] = (
    weakref.WeakKeyDictionary()
)


def _scala_list(seq) -> list:
    return [seq.apply(i) for i in range(seq.size())]


def _local_file_stats(uris: tuple[str, ...]) -> tuple | None:
    """``(uri, st_ino, st_mtime_ns, st_size)`` per input file, or None when
    one is not a local file the driver can stat."""
    out = []
    for uri in uris:
        parsed = urlparse(uri)
        if parsed.scheme not in ("", "file"):
            return None
        try:
            st = os.stat(unquote(parsed.path))
        except OSError:
            return None
        out.append((uri, st.st_ino, st.st_mtime_ns, st.st_size))
    return tuple(out)


@functools.lru_cache(maxsize=None)
def _current_like(jvm):
    """Spark's ``TreePattern.CURRENT_LIKE``, looked up once per gateway (a
    lookup is a few Py4J round trips, 1.5-3 ms)."""
    return jvm.org.apache.spark.sql.catalyst.trees.TreePattern.CURRENT_LIKE()


def _plan_part(capped: DataFrame) -> tuple | None:
    """(analyzed plan, its semanticHash, sorted input file URIs) of
    ``capped``, or None when its result must not be reused. Nothing is
    optimized and no Spark job runs."""
    plan = capped._jdf.queryExecution().analyzed()
    current_like = _current_like(capped.sparkSession._jvm)
    uris: list[str] = []
    for p in [plan, *_scala_list(plan.subqueriesAll())]:
        # current_date()/now() count as deterministic until the optimizer
        # folds them (ComputeCurrentTime); its pruning bit finds them
        if not p.deterministic() or p.containsPattern(current_like):
            return None
        for leaf in _scala_list(p.collectLeaves()):
            name = leaf.nodeName()
            if name == "LogicalRelation":
                relation = leaf.relation()
                if relation.getClass().getSimpleName() != "HadoopFsRelation":
                    return None
                uris.extend(relation.inputFiles())
            elif name not in _CACHEABLE_LEAVES:
                return None
    return plan, plan.semanticHash(), tuple(sorted(uris))


def _capped(df: DataFrame, max_rows: int) -> tuple[DataFrame, tuple | None]:
    """``df.limit(max_rows)`` and its ``_plan_part``, once per frame object."""
    per_df = _planned.setdefault(df, {})
    found = per_df.get(max_rows)
    if found is None:
        capped = df.limit(max_rows)
        found = per_df[max_rows] = (capped, _plan_part(capped))
    return found


def _result_key(spark: SparkSession, plan_part: tuple) -> tuple | None:
    """The cache key of a reusable plan, or None when an input file cannot
    be stat'ed. Application, confs and file stats are read on every call."""
    files = _local_file_stats(plan_part[2])
    if files is None:
        return None
    return (spark.sparkContext.applicationId, conf_hash(spark), plan_part[1], files)


def _lookup(key: tuple, plan) -> pd.DataFrame | None:
    with _cache_lock:
        if _cache_state["app"] != key[0]:  # a new Spark application
            _cache.clear()
            _cache_state.update(app=key[0], bytes=0)
        entry = _cache.get(key)
        if entry is None or not entry[0].sameResult(plan):
            _cache_state["misses"] += 1
            return None
        _cache.move_to_end(key)
        _cache_state["hits"] += 1
        return entry[1].copy()


def _store(key: tuple, plan, pdf: pd.DataFrame) -> None:
    nbytes = int(pdf.memory_usage(index=True, deep=True).sum())
    with _cache_lock:
        if _cache_state["app"] != key[0]:
            return
        old = _cache.pop(key, None)
        if old is not None:
            _cache_state["bytes"] -= old[2]
        if nbytes > RESULT_CACHE_BYTES:
            return
        _cache[key] = (plan, pdf.copy(), nbytes)
        _cache_state["bytes"] += nbytes
        while _cache_state["bytes"] > RESULT_CACHE_BYTES:
            _cache_state["bytes"] -= _cache.popitem(last=False)[1][2]


def result_cache_stats() -> dict[str, int]:
    """The client result cache's counters: hits, misses, bypasses (plans
    never cached), entries held and the pandas bytes they hold; and the
    request-frame memo's (``tables.cached_per_input(..., request=True)``)
    reuses and builds."""
    with _cache_lock:
        return {
            "hits": _cache_state["hits"],
            "misses": _cache_state["misses"],
            "bypasses": _cache_state["bypasses"],
            "entries": len(_cache),
            "bytes": _cache_state["bytes"],
            "frame_reuses": FRAME_MEMO_STATS["reuses"],
            "frame_builds": FRAME_MEMO_STATS["builds"],
        }


def to_client(df: DataFrame, max_rows: int = 10_000) -> pd.DataFrame:
    """S9 (reference dashboard/app.py `.df()` calls): Arrow-backed pandas
    materialization, always behind a row cap. A repeat of a cached plan
    over unchanged input files returns a copy of the stored result and
    runs no Spark job."""
    capped, plan_part = _capped(df, max_rows)
    key = None if plan_part is None else _result_key(capped.sparkSession, plan_part)
    if key is None:
        with _cache_lock:
            _cache_state["bypasses"] += 1
        return capped.toPandas()
    plan = plan_part[0]
    hit = _lookup(key, plan)
    if hit is not None:
        return hit
    pdf = capped.toPandas()
    _store(key, plan, pdf)
    return pdf
