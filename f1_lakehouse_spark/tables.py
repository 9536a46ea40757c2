"""Loaders for the synthetic test tables (TESTDATA.md).

The driver generates a TPC-H-ish star schema plus ``events`` (stream-shaped),
``documents`` (text corpus) and ``embeddings`` (vector) tables at
``/root/testdata/sf{0.001,0.01,0.1}``. Every operator in the engine takes its
inputs from these loaders, so tests/bench/correctness all share one path.

Scale note: ``spark.read.parquet`` gives Catalyst a DSv2 scan with column
pruning + predicate pushdown; at 100 TB the same call over a partitioned
table root picks up partition pruning automatically — no code change.
"""

from __future__ import annotations

import functools
import os
import threading

from pyspark.sql import DataFrame, SparkSession

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimensions small enough to broadcast at any scale factor the reference
# contemplates; used by operators to hint broadcast joins.
SMALL_DIMS = frozenset({"region", "nation", "supplier", "part", "customer"})

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def _pin_session_confs(spark: SparkSession) -> None:
    """Oracle-parity confs the engine requires, set on EVERY load so they hold
    under the driver's VANILLA session, not just our session factory:

    - ``ansi.enabled=false``: PySpark 4.x defaults ANSI mode ON; the DuckDB
      oracles assume non-ANSI cast/overflow/element_at semantics.
    - ``session.timeZone=UTC``: timestamp formatting/extraction must not
      depend on the host timezone (DuckDB reads parquet timestamps as-is).

    Both are runtime-settable (no session restart needed)."""
    spark.conf.set("spark.sql.ansi.enabled", "false")
    spark.conf.set("spark.sql.session.timeZone", "UTC")


# (application-id, sf_dir) pairs whose input volume has already sized
# spark.sql.shuffle.partitions — one FileSystem content summary per input
# root per session, not one per table load
_AUTOSIZED: set[tuple[str, str]] = set()


def _autosize_for(spark: SparkSession, sf_dir: str) -> None:
    """Derive ``spark.sql.shuffle.partitions`` from the input root's actual
    on-disk volume (``session.autosize_shuffle_partitions``), once per
    (session, sf_dir). load_table is the engine's session-owning choke
    point under the driver's VANILLA session — without this call the
    prefix-sum family's ``_prefix_parts`` would read Spark's static default
    (200) at every scale, i.e. ~500 GB per range task at the 100 TB framing
    (r7 ADVICE, medium).

    Explicit wins (the repo's size-knob rule): a session whose conf differs
    from Spark's untouched static default (200) was deliberately tuned —
    by our own session factory, the tests, or a user — and is left alone.
    Only the unowned default is replaced with the input-derived count."""
    from f1_lakehouse_spark.session import autosize_shuffle_partitions  # noqa: PLC0415

    key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir))
    if key in _AUTOSIZED:
        return
    _AUTOSIZED.add(key)
    try:
        if spark.conf.get("spark.sql.shuffle.partitions") == "200":
            autosize_shuffle_partitions(spark, [sf_dir])
    except Exception:
        # sizing is a perf knob, never correctness; an unreadable path
        # (e.g. a mocked FileSystem) keeps the session's value
        pass


def input_fingerprint(sf_dir: str, names: tuple[str, ...]) -> tuple:
    """``(st_ino, st_mtime_ns, st_size)`` of each named input table: a
    replaced or rewritten file changes it, so a memo keyed on it cannot
    serve a frame built from the old bytes. A path the local filesystem
    cannot stat (a remote URI, or a missing file that Spark reports itself
    on read) fingerprints as None, i.e. unchecked."""
    out = []
    for name in names:
        try:
            st = os.stat(table_path(sf_dir, name))
        except OSError:
            out.append(None)
        else:
            out.append((st.st_ino, st.st_mtime_ns, st.st_size))
    return tuple(out)


def conf_hash(spark: SparkSession) -> int:
    """Hash of every SQL conf set on the session: analysis and
    optimization read them, so a memo of a plan or its result keys on it."""
    return spark._jsparkSession.sessionState().conf().getAllConfs().hashCode()


# the request-frame memo's counters (cached_per_input(..., request=True))
FRAME_MEMO_STATS = {"reuses": 0, "builds": 0}
_frame_memo_lock = threading.Lock()


def cached_per_input(*inputs: str, request: bool = False):
    """Decorator for builders ``fn(spark, sf_dir, ...)`` of a frame (or
    driver-side model) shared by several queries: one entry per decorated
    function, keyed by (session, absolute sf_dir, fingerprint of
    ``inputs``). A hit returns the identical object; a key change first
    releases the old value (unpersists each cached DataFrame in it, tuple
    elements included). The builder does its own persist + materialize;
    consumers borrow the value and never unpersist it. Extra arguments
    stay out of the key.

    ``request=True`` memoizes a lazy request frame (a dashboard page query,
    an ``f1_*`` view): the key also holds ``conf_hash`` and the call's
    (hashable) arguments, so one entry is kept per argument tuple of the
    current inputs and confs, and a repeat call builds nothing. Entries
    of any other session, fingerprint or conf are dropped on first sight.
    Two racing first calls may both build; either frame is correct.

    ``inputs`` must name every table the value reads: a rewrite of an
    undeclared one would be served stale (tests/test_declared_inputs.py)."""

    def deco(build):
        entry: dict[tuple, object] = {}

        @functools.wraps(build)
        def cached(spark: SparkSession, sf_dir: str, *args, **kwargs):
            state = (
                spark.sparkContext.applicationId,
                os.path.abspath(sf_dir),
                input_fingerprint(sf_dir, inputs),
            ) + ((conf_hash(spark),) if request else ())
            call = (args, tuple(sorted(kwargs.items()))) if request else ()
            key = (state, call)
            value = entry.get(key)
            if value is not None:
                if request:
                    with _frame_memo_lock:
                        FRAME_MEMO_STATS["reuses"] += 1
                return value
            for old_key in list(entry):
                if old_key[0] != state:
                    old = entry.pop(old_key, None)
                    for v in old if isinstance(old, tuple) else (old,):
                        if isinstance(v, DataFrame) and v.is_cached:
                            v.unpersist()
            value = build(spark, sf_dir, *args, **kwargs)
            if request:
                with _frame_memo_lock:
                    FRAME_MEMO_STATS["builds"] += 1
                # keyed on the confs the build ran under (load_table pins some)
                key = (state[:-1] + (conf_hash(spark),), call)
            entry[key] = value
            return value

        cached.entries = entry
        cached.inputs = inputs
        return cached

    return deco


# DataFrame HANDLE memo (r11, optimization guide §5 "the driver should do
# almost no data work"): ``spark.read.parquet`` re-lists the path and
# re-reads the parquet footer on the single-threaded driver at EVERY call
# (~70 ms here; minutes at 100 TB directory sizes) — and every query fn
# calls load_table 1-6 times per run. The memo stores the lazy DataFrame
# (an unresolved plan object), never data: every action still scans the
# parquet files, so bench/oracle runs keep computing from the inputs. This
# is the path-read analog of Spark's own filesourcePartitionFileCache. Each
# entry carries its input's fingerprint, so a rewritten or replaced file
# is re-read instead of served through the handle's stale file listing.
_DF_MEMO: dict[tuple[str, str, str], tuple[tuple, DataFrame]] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    _pin_session_confs(spark)
    _autosize_for(spark, sf_dir)
    if name == "events":
        # events.ts is parquet TIMESTAMP(NANOS); Spark refuses it unless
        # surfaced as LongType. Set the conf here (not only in our session
        # factory) so the engine also works under a caller-built session —
        # on every call, so the memoized frame is never executed (or first
        # built) without it.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    app_id = spark.sparkContext.applicationId
    key = (app_id, os.path.abspath(sf_dir), name)
    fp = input_fingerprint(sf_dir, (name,))
    hit = _DF_MEMO.get(key)
    if hit is not None and hit[0] == fp:
        return hit[1]
    for old_key in list(_DF_MEMO):
        if old_key[0] != app_id:  # new session: drop stale handles
            del _DF_MEMO[old_key]
    df = spark.read.parquet(table_path(sf_dir, name))
    if name == "events":
        df = _normalize_event_ts(df)
    _DF_MEMO[key] = (fp, df)
    return df


def _normalize_event_ts(df: DataFrame) -> DataFrame:
    """Normalize events.ts to TimestampType regardless of how the generator
    wrote it:

    - parquet TIMESTAMP(NANOS) + ``nanosAsLong=true`` → LongType epoch-ns:
      integer-divide to µs and rebuild (``div`` is exact on longs; a float
      divide would round through a 53-bit double and corrupt epoch-ns).
    - parquet timestamp[us] with isAdjustedToUTC=false → TIMESTAMP_NTZ:
      cast to TIMESTAMP. Value-preserving because load_table pins the
      session timezone to UTC, and it matches DuckDB, which reads the same
      naive µs values into its (naive) TIMESTAMP type.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType

    dt = df.schema["ts"].dataType
    if isinstance(dt, LongType):
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    elif isinstance(dt, TimestampNTZType):
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every table as a temp view (for the SQL entry points)."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
