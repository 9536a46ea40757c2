"""Merge-on-read (MoR) equality deletes and latest-wins upserts on plain
parquet (Iceberg v2 equality-delete files, Delta deletion vectors).

A delete commits the matched keys as a small key file and an upsert its
rows as a small row file; the base files are never rewritten, and every
read applies the fragments until a compaction folds them into a new base.
At 100 TB a GDPR delete is then an O(matched keys) write instead of a
partition rewrite (the copy-on-write side is
``parquet_io.delete_rows_partition_scoped``), at the price of a per-read
anti-join against the bounded fragment set.

Layout: one commit log, one directory per commit::

    table_dir/_log/{seq:010d}/base/*.parquet, _THROUGH   # a base entry
    table_dir/_log/{seq:010d}/deletes/*.parquet          # keys deleted
    table_dir/_log/{seq:010d}/inserts/*.parquet          # rows upserted
    table_dir/_staging_*                                 # writes in flight

Every commit (base write, delete, upsert, compaction) writes its entry in
a staging dir and renames it onto the next free seq with
``commit.claim_rename``; a lost rename retries at the next seq. So seqs are
dense and the log order is the commit order, whatever the kinds of the
racing writers (Delta Lake's log rule).

A base's ``_THROUGH`` is the highest seq its fold covers. The live base is
the base with the highest ``_THROUGH`` (ties: the higher seq), and the view
is that base plus every fragment entry above its ``_THROUGH``, in seq
order: a delete hides the lower-seq rows of its keys, an insert row shadows
the lower-seq rows of its key. A compaction folds an exact prefix of the
log, so nothing moves after its commit; a stalled compactor whose fold
another one passed is never live. Compaction keeps the live base, the
base it displaced (for readers still on it) and the fragments above the
latter, and empties the rest: a pruned entry keeps its dir with a
``_PRUNED`` marker, so its seq is never free again and a writer held
between its log listing and its rename loses the rename there and
retries at the head. The marked dirs go once older than the staging TTL,
the premise of the staging sweep too (no commit is in flight that long).

Reference parity: the reference has no delete/update path (bronze is
append-only, silver/gold are full rebuilds); Delta/Iceberg equivalent:
``DELETE FROM`` / ``MERGE INTO`` with merge-on-read table properties.
"""

from __future__ import annotations

import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.observation import Observation
from pyspark.sql.types import StructType

from f1_lakehouse_spark.sources.commit import atomic_write, claim_rename
from f1_lakehouse_spark.sources.txn import CommitConflictError

LOG = "_log"
THROUGH = "_THROUGH"
PRUNED = "_PRUNED"
FRAGMENT_KINDS = ("deletes", "inserts")
# a fragment row's seq, from its part file's path
_PART_SEQ = r"(\d{10})/(?:deletes|inserts)/[^/]*$"
_STAGING_TTL_SECONDS = 3600.0


def _entry(table_dir: str, seq: int) -> str:
    return os.path.join(table_dir, LOG, f"{seq:010d}")


def _seqs(table_dir: str) -> list[int]:
    """The log's seqs, ascending (create_exclusive/atomic_write tmps and
    other non-digit names are not entries)."""
    return sorted(int(e) for e in os.listdir(os.path.join(table_dir, LOG)) if e.isdigit())


def _through(entry: str) -> int:
    with open(os.path.join(entry, THROUGH)) as f:
        return int(f.read())


def _bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def _view(table_dir: str, at: int | None = None) -> tuple[int, list]:
    """The view of the log up to seq ``at`` (default: all of it): (live
    base seq, [(seq, kind, part paths)] of the fragment entries above its
    ``_THROUGH``, seq-ascending). Walks down from the head and stops
    at the best ``_THROUGH`` found, since a base folds less than its own
    seq. An entry marked ``_PRUNED``, or one that vanishes, is skipped."""
    base, through, frags = None, -1, []
    for seq in reversed(_seqs(table_dir)):
        if seq <= through:
            break
        if at is not None and seq > at:
            continue
        entry = _entry(table_dir, seq)
        try:
            names = os.listdir(entry)
            if PRUNED in names:
                continue
            if THROUGH in names and (t := _through(entry)) > through:
                base, through = seq, t
            frags += [
                (seq, kind, sorted(
                    os.path.join(entry, kind, f)
                    for f in os.listdir(os.path.join(entry, kind))
                    if f.endswith(".parquet")
                ))
                for kind in FRAGMENT_KINDS
                if kind in names
            ]
        except FileNotFoundError:
            continue
    if base is None:
        raise FileNotFoundError(f"{table_dir} holds no MoR base at or below seq {at}")
    return base, frags[::-1]


def base_dir(table_dir: str) -> str:
    """The live base's directory (for file-level audits)."""
    return os.path.join(_entry(table_dir, _view(table_dir)[0]), "base")


def stats(table_dir: str) -> dict:
    """The table's health: the live base's seq, the live delete and insert
    fragment entries, the bytes under ``table_dir`` and the space
    amplification (those bytes over the live base's)."""
    base_seq, frags = _view(table_dir)
    total = _bytes(table_dir)
    return {
        "base_seq": base_seq,
        "delete_fragments": sum(kind == "deletes" for _, kind, _ in frags),
        "insert_fragments": sum(kind == "inserts" for _, kind, _ in frags),
        "bytes": total,
        "space_amp": total / _bytes(os.path.join(_entry(table_dir, base_seq), "base")),
    }


def _new_staging(table_dir: str) -> str:
    return os.path.join(table_dir, f"_staging_{uuid.uuid4().hex}")


def _append(table_dir: str, staging: str) -> int:
    """Commit a fully written staging dir as the next log entry: rename it
    onto the seq after the head, and onto the following one when a racing
    commit took that (or took it and was pruned since: the marked dir
    stays). Returns the entry's seq."""
    while True:
        seq = _seqs(table_dir)[-1] + 1
        if claim_rename(staging, _entry(table_dir, seq)):
            return seq


def mor_write_base(df: DataFrame, table_dir: str) -> None:
    """Commit ``df`` as log entry 0, a base with ``_THROUGH`` 0. Raises
    FileExistsError on a dir that already holds a table."""
    os.makedirs(os.path.join(table_dir, LOG), exist_ok=True)
    if not _seqs(table_dir):
        staging = _new_staging(table_dir)
        df.write.parquet(os.path.join(staging, "base"))
        atomic_write(os.path.join(staging, THROUGH), "0")
        if claim_rename(staging, _entry(table_dir, 0)):
            return
        shutil.rmtree(staging, ignore_errors=True)
    raise FileExistsError(f"{table_dir} already holds a MoR table")


def _stage(df: DataFrame, table_dir: str, kind: str) -> tuple[str, int]:
    """Write ``df`` as one parquet file under ``kind`` in a new staging
    dir; returns (staging dir, row count observed on the write job). The
    single-file coalesce is bounded by construction (delete keys, upsert
    batches, never the base)."""
    staging = _new_staging(table_dir)
    obs = Observation()
    df.observe(obs, F.count(F.lit(1)).alias("n")).coalesce(1).write.parquet(
        os.path.join(staging, kind)
    )
    return staging, obs.get["n"]


def mor_delete(
    spark: SparkSession, table_dir: str, key_col: str, predicate
) -> int:
    """Commit an equality delete: the DISTINCT keys of the rows the
    predicate selects in the live view (so a key already deleted is not
    re-recorded), appended as one key file. The base files are NOT
    touched. Returns the number of keys committed. A NULL predicate
    follows SQL DELETE tri-state semantics: only TRUE deletes."""
    matched = (
        mor_read(spark, table_dir, key_col)
        .filter(F.coalesce(predicate, F.lit(False)))
        .select(key_col)
        .distinct()
    )
    staging, n = _stage(matched, table_dir, "deletes")
    _append(table_dir, staging)
    return n


def mor_upsert(
    spark: SparkSession, table_dir: str, key_col: str, rows: DataFrame
) -> int:
    """Row-level upsert (MERGE: matched keys update, unmatched keys insert)
    as ONE appended row file whose rows shadow every lower-seq row of
    their key, so a crash never publishes half a MERGE. ``rows`` is
    checked, before any staging I/O, for the base schema (column names and
    types; order and nullability are free — readers scan insert files with
    the base schema) and for unique keys (two rows for one key would make
    latest-wins ambiguous); both raise ValueError. Returns the number of
    rows committed."""
    base = spark.read.parquet(base_dir(table_dir)).schema
    if {(f.name, f.dataType.simpleString()) for f in rows.schema} != {
        (f.name, f.dataType.simpleString()) for f in base
    }:
        raise ValueError(
            f"upsert batch schema {rows.schema.simpleString()} does not "
            f"match the table's base schema {base.simpleString()}"
        )
    # one aggregate: groupBy keeps NULL keys as one group, as distinct does
    n, n_keys = (
        rows.groupBy(key_col)
        .count()
        .agg(F.coalesce(F.sum("count"), F.lit(0)), F.count("*"))
        .first()
    )
    if n_keys != n:
        raise ValueError(
            f"upsert batch has {n} rows but {n_keys} distinct "
            f"{key_col!r} keys — latest-wins needs unique keys per batch"
        )
    staging, _ = _stage(rows, table_dir, "inserts")
    _append(table_dir, staging)
    return n


def mor_read(
    spark: SparkSession, table_dir: str, key_col: str, at: int | None = None
) -> DataFrame:
    """The merged view of the log (up to seq ``at``, default all of it):

    1. base rows not shadowed by any insert fragment's key and
    2. the HIGHEST-seq insert row per key (latest-wins upsert),
    3. minus every row suppressed by a delete fragment with a HIGHER seq
       (so a delete kills earlier versions, and a later upsert re-inserts).

    Scale shape: one scan per fragment kind over the part files, listed by
    path (all insert files read with the base schema, all delete files
    with the key's), so planning cost does not grow with the fragment
    count. The base only ever anti-joins against the bounded fragment key
    sets, which Spark's threshold/AQE broadcasts without a hint (plan-lint
    rule: never hint a broadcast on an unbounded side); the latest-wins
    window runs over insert fragments only."""
    base_seq, frags = _view(table_dir, at)
    base = spark.read.parquet(os.path.join(_entry(table_dir, base_seq), "base"))
    ins = [p for _, kind, parts in frags if kind == "inserts" for p in parts]
    dels = [p for _, kind, parts in frags if kind == "deletes" for p in parts]
    if not ins and not dels:
        return base

    def scan(schema: StructType, paths: list[str]) -> DataFrame:
        seq = F.regexp_extract("_metadata.file_path", _PART_SEQ, 1).cast("long")
        return spark.read.schema(schema).parquet(*paths).withColumn("_seq", seq)

    rows = base.withColumn("_seq", F.lit(0))
    if ins:
        ins_df = scan(base.schema, ins)
        latest = (
            ins_df.withColumn(
                "_rn",
                F.row_number().over(
                    Window.partitionBy(key_col).orderBy(F.col("_seq").desc())
                ),
            )
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        # an anti-join's build side needs no distinct (saves a shuffle)
        shadowed = ins_df.select(key_col)
        rows = rows.join(shadowed, key_col, "left_anti").unionByName(latest)
    if dels:
        keys = scan(StructType([base.schema[key_col]]), dels).select(
            F.col(key_col).alias("_dkey"), F.col("_seq").alias("_dseq")
        )
        rows = rows.join(
            keys,
            (F.col(key_col) == F.col("_dkey")) & (F.col("_dseq") > F.col("_seq")),
            "left_anti",
        )
    return rows.drop("_seq")


def _prune(table_dir: str) -> None:
    """Empty every entry but the head, the live base, the base it
    displaced and the fragments above the latter's ``_THROUGH``, and
    remove the entries emptied more than the staging TTL ago (never the
    head, so a fresh listing never picks a freed seq). The ``_PRUNED``
    marker is written before the data goes, so an entry's dir is never
    empty and no rename lands in it: a writer whose listing predates that
    seq's commit retries at the head instead of below the live base."""
    horizon = time.time() - _STAGING_TTL_SECONDS
    seqs = _seqs(table_dir)
    bases, marked = {}, set()
    for seq in seqs:
        entry = _entry(table_dir, seq)
        try:
            if os.path.exists(os.path.join(entry, PRUNED)):
                marked.add(seq)
            else:
                bases[seq] = _through(entry)
        except FileNotFoundError:
            pass  # a fragment
    ranked = sorted(bases, key=lambda s: (bases[s], s), reverse=True)  # live first
    live = ranked[0]
    displaced = next((s for s in ranked if bases[s] < bases[live]), live)
    low = bases[displaced]
    keep = {seqs[-1], live, displaced}
    # ascending: a reader walking down from a stale head that skips a
    # marked entry finds every pruned entry below it marked too, so it
    # reads a kept base's view or raises (no base), never a view with
    # fragments missing
    for seq in seqs:
        entry = _entry(table_dir, seq)
        try:
            if seq in keep:
                continue
            if seq in marked:
                if os.path.getmtime(entry) < horizon:
                    shutil.rmtree(entry, ignore_errors=True)
            elif seq in bases or seq <= low:
                open(os.path.join(entry, PRUNED), "w").close()
                for name in ("base", *FRAGMENT_KINDS):
                    shutil.rmtree(os.path.join(entry, name), ignore_errors=True)
        except FileNotFoundError:
            pass  # pruned by a racing compaction


def _sweep_staging_orphans(table_dir: str) -> None:
    """Remove ``_staging_*`` dirs a crashed commit abandoned. AGE-GATED: a
    staging dir is only an orphan once it is older than any plausible
    in-flight write, so a compaction never eats a live writer's staging."""
    horizon = time.time() - _STAGING_TTL_SECONDS
    for entry in os.listdir(table_dir):
        if not entry.startswith("_staging_"):
            continue
        path = os.path.join(table_dir, entry)
        try:
            stale = os.path.getmtime(path) < horizon
        except OSError:
            continue  # vanished concurrently: its writer is cleaning up
        if stale:
            shutil.rmtree(path, ignore_errors=True)


def mor_compact(spark: SparkSession, table_dir: str, key_col: str) -> int:
    """Fold the view up to the head seq T into a new base entry with
    ``_THROUGH`` T, then prune and sweep stale staging. Every entry up to
    T is committed (the rename that commits an entry takes its seq), so
    the fold is an exact prefix of the log and fragments committed during
    it apply on top of the new base. Returns the new entry's seq, or
    raises :class:`CommitConflictError` when it is not the live base
    right after its append (another compaction folded further, or as far
    and appended later), so a stalled compactor never becomes live."""
    head = _seqs(table_dir)[-1]
    base_seq, frags = _view(table_dir, head)
    # output sizing: the fold's anti-join/union would otherwise write one
    # near-empty file per shuffle partition; the merged rows are bounded
    # by the base and insert bytes (deletes only shrink it), so a
    # ceil(bytes / 128 MB) coalesce keeps ~128 MB files without a count job
    fold_bytes = _bytes(os.path.join(_entry(table_dir, base_seq), "base")) + sum(
        os.path.getsize(p) for _, kind, parts in frags if kind == "inserts" for p in parts
    )
    staging = _new_staging(table_dir)
    mor_read(spark, table_dir, key_col, at=head).coalesce(
        max(1, -(-fold_bytes // (128 << 20)))
    ).write.parquet(os.path.join(staging, "base"))
    atomic_write(os.path.join(staging, THROUGH), str(head))
    seq = _append(table_dir, staging)
    if _view(table_dir)[0] != seq:
        raise CommitConflictError(
            f"another compaction of {table_dir} folded at least through seq "
            f"{head}; base entry {seq} is not live"
        )
    _prune(table_dir)
    _sweep_staging_orphans(table_dir)
    return seq
