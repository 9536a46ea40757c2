"""The dashboard/notebook analytics query set (SURVEY.md §3.3, §2 P7/A5–A10/
O1–O3) as a parameterized library over the medallion tables — the engine
twin of the reference Streamlit app's five queries (reference
``dashboard/app.py:130-242``) plus the S9 client-materialization helper.

Each function returns a lazy DataFrame; filters are real parameters (the
reference's DuckDB ``$param`` binding) that Catalyst folds into pushed
predicates.
"""

from __future__ import annotations

import os
import threading
from collections import OrderedDict
from urllib.parse import unquote, urlparse

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from f1_lakehouse_spark.functions.expressions import date_fmt
from f1_lakehouse_spark.tables import load_table


def _lineitem_year(spark: SparkSession, sf_dir: str, year: int) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(F.year("l_shipdate") == F.lit(year))


def session_date(spark: SparkSession, sf_dir: str, year: int) -> DataFrame:
    """dashboard/app.py:130-137: MIN(timestamp) of the selected scope,
    formatted yyyy-MM-dd."""
    return _lineitem_year(spark, sf_dir, year).agg(
        date_fmt(F.min("l_shipdate")).alias("session_date")
    )


def kpis(spark: SparkSession, sf_dir: str, year: int) -> DataFrame:
    """dashboard/app.py:145-158: scope KPI row (counts + distincts + best)."""
    return _lineitem_year(spark, sf_dir, year).agg(
        F.count("*").alias("n_lines"),
        F.countDistinct("l_suppkey").alias("n_suppliers"),
        F.countDistinct("l_partkey").alias("n_parts"),
        F.min("l_extendedprice").alias("best_price"),
    )


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


def _scala_list(seq) -> list:
    return [seq.apply(i) for i in range(seq.size())]


def _local_file_stats(uris: list[str]) -> tuple | None:
    """``(uri, st_ino, st_mtime_ns, st_size)`` per input file, or None when
    one is not a local file the driver can stat."""
    out = []
    for uri in sorted(uris):
        parsed = urlparse(uri)
        if parsed.scheme not in ("", "file"):
            return None
        try:
            st = os.stat(unquote(parsed.path))
        except OSError:
            return None
        out.append((uri, st.st_ino, st.st_mtime_ns, st.st_size))
    return tuple(out)


def _result_key(capped: DataFrame) -> tuple[tuple, object] | None:
    """(cache key, optimized plan) of ``capped``, or None when its result
    must not be reused. No Spark job runs."""
    spark = capped.sparkSession
    plan = capped._jdf.queryExecution().optimizedPlan()
    uris: list[str] = []
    for p in [plan, *_scala_list(plan.subqueriesAll())]:
        if not p.deterministic():
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
    files = _local_file_stats(uris)
    if files is None:
        return None
    key = (
        spark.sparkContext.applicationId,
        spark._jsparkSession.sessionState().conf().getAllConfs().hashCode(),
        plan.semanticHash(),
        files,
    )
    return key, plan


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
    never cached), entries held and the pandas bytes they hold."""
    with _cache_lock:
        return {
            "hits": _cache_state["hits"],
            "misses": _cache_state["misses"],
            "bypasses": _cache_state["bypasses"],
            "entries": len(_cache),
            "bytes": _cache_state["bytes"],
        }


def to_client(df: DataFrame, max_rows: int = 10_000) -> pd.DataFrame:
    """S9 (reference dashboard/app.py `.df()` calls): Arrow-backed pandas
    materialization, always behind a row cap. A repeat of a cached plan
    over unchanged input files returns a copy of the stored result and
    runs no Spark job."""
    capped = df.limit(max_rows)
    found = _result_key(capped)
    if found is None:
        with _cache_lock:
            _cache_state["bypasses"] += 1
        return capped.toPandas()
    key, plan = found
    hit = _lookup(key, plan)
    if hit is not None:
        return hit
    pdf = capped.toPandas()
    _store(key, plan, pdf)
    return pdf
