"""Merge-on-read (MoR) equality deletes and upserts on plain parquet
(r10; upsert + concurrent-writer arbitration r11).

The r9 row-level delete (sources/parquet_io.delete_rows_partition_scoped)
is COPY-ON-WRITE: the affected partitions are rewritten at delete time —
right when deletes are rare and reads are hot. Merge-on-read is the other
side of that trade (Iceberg v2 equality-delete files, Delta deletion
vectors): a delete commits as a tiny KEY FILE, an upsert as a tiny ROW
FILE, the base data files are never touched, and every reader applies the
accumulated fragments until a compaction folds them in. At 100 TB a GDPR
delete of one user cohort is then an O(matched-keys) write instead of a
partition rewrite, at the price of a per-read anti-join whose build side
is the (bounded) fragment set.

Layout — one GENERATION directory per compaction epoch; the highest
claimed one is live. A generation is written in a staging dir and claimed
with one rename (``commit.claim_rename``), so it appears whole or not at
all, and nothing is replaced in place — the rule txn commits by::

    table_dir/g{gen}/base/*.parquet          # immutable data files (seq 0)
    table_dir/g{gen}/deletes/d{seq}.parquet  # one key file per delete
    table_dir/g{gen}/inserts/i{seq}.parquet  # one row file per upsert
    table_dir/g{gen}/_claims/{seq}           # one empty claim record per seq
    table_dir/g{gen}/_FOLDED                 # g{gen-1} fragment seqs the base folded

Sequence semantics (Iceberg v2 sequence numbers, simplified): base rows
carry seq 0; every committed fragment claims the next seq (shared across
deletes and inserts, starting at 1); a fragment's seq IS its file name
(a carried-forward fragment is renamed to a freshly claimed seq). A
delete file at seq s suppresses every row whose seq is < s with a
matching key; an insert file's rows shadow every LOWER-seq row with the
same key (latest-wins upsert), so an upsert is ONE atomic file commit —
no delete-file companion whose torn half could publish a partial MERGE.

Concurrent writers: every claim goes through ``sources/commit`` (the
primitives ``txn`` commits with). A fragment commit claims its seq the
way a txn claims its id: it creates the seq's claim record exclusively
and never removes it (only pruning the generation does), so two racing
writers can never share a seq or overwrite one another's fragment,
whatever their kinds; the loser of a seq claim retries with the next seq.
After the rename the writer re-verifies the live generation: a commit
that raced a compaction landed in a displaced generation (invisible to
live readers), so it removes the orphan and redoes the operation against
the new live generation. The OTHER ordering — the commit lands while the
compaction's fold job is already running, so the writer's re-verify
still sees the old generation — is covered by the compaction's
CARRY-FORWARD: fragments committed after the fold's snapshot are moved
into the new generation in sequence order. Compactions arbitrate like txn
commits: each folds into its own staging dir and claims ``g{gen+1}`` with
one fail-if-exists rename, so a loser raises ``txn.CommitConflictError``
and a stalled compactor can never rewind the table (a claim below the
live generation is never live). Crash-orphaned ``_staging_*`` dirs are
swept by the next compaction's retention pass.

Delete files belong to their generation: a reader that resolved the old
generation mid-compaction still sees (old base + old fragments) — the
same rows as the new compacted base — and the displaced generation
survives one compaction cycle before being pruned, exactly like every
other versioned layout in this package.

Reference parity: the reference has no delete/update path at all (bronze
is append-only, silver/gold are full rebuilds —
/root/reference/ingestion/src/ingestion/utils.py:36-44); both delete
strategies are the lakehouse capabilities a 100 TB deployment adds on
top. Delta/Iceberg equivalent: ``DELETE FROM t WHERE ...`` / ``MERGE
INTO`` with merge-on-read table properties.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.observation import Observation
from pyspark.sql.types import StructType

from f1_lakehouse_spark.sources.commit import atomic_write, claim_rename, create_exclusive
from f1_lakehouse_spark.sources.txn import CommitConflictError

FOLDED = "_FOLDED"

CLAIMS = "_claims"

_FRAGMENT_RE = re.compile(r"^[di](\d{10})\.parquet$")

# a fragment commit retries when a racing compaction claims a new
# generation mid-commit; compactions are rare maintenance ops, so more than a
# handful of consecutive displacements means something is pathologically
# wrong — fail loudly instead of spinning
_MAX_COMMIT_RETRIES = 10


def _gen_name(gen: int) -> str:
    return f"g{gen:010d}"


def _size_or_zero(path: str) -> int:
    try:
        return os.path.getsize(path)
    except FileNotFoundError:  # vanished under a racing commit/compaction
        return 0


def _generations(table_dir: str) -> list[int]:
    """The claimed ``g{gen}`` dirs' numbers (staging dirs are ``_staging_*``)."""
    return [int(e[1:]) for e in os.listdir(table_dir) if e[:1] == "g" and e[1:].isdigit()]


def _live_gen(table_dir: str) -> int:
    """The live generation: the highest claimed one."""
    gens = _generations(table_dir)
    if not gens:
        raise FileNotFoundError(f"{table_dir} holds no MoR generation")
    return max(gens)


def base_dir(table_dir: str) -> str:
    """The live generation's base directory (for file-level audits)."""
    return os.path.join(table_dir, _gen_name(_live_gen(table_dir)), "base")


def _new_staging(table_dir: str) -> str:
    return os.path.join(table_dir, f"_staging_{uuid.uuid4().hex}")


def mor_write_base(df: DataFrame, table_dir: str) -> None:
    """Materialize generation 0 in a staging dir and claim ``g0`` with the
    rename a compaction claims its generation with. Raises
    FileExistsError on a dir that already holds a generation."""
    os.makedirs(table_dir, exist_ok=True)
    if not _generations(table_dir):
        staging = _new_staging(table_dir)
        df.write.mode("overwrite").parquet(os.path.join(staging, "base"))
        if _claim_generation(table_dir, staging, 0):
            return
        shutil.rmtree(staging, ignore_errors=True)
    raise FileExistsError(f"{table_dir} already holds a MoR generation")


def _fragments(table_dir: str, gen: int, sub: str) -> list[tuple[int, str]]:
    """Committed fragment files under g{gen}/{sub} as (seq, path),
    seq-ascending."""
    fdir = os.path.join(table_dir, _gen_name(gen), sub)
    if not os.path.isdir(fdir):
        return []
    return sorted(
        (int(m.group(1)), os.path.join(fdir, f))
        for f in os.listdir(fdir)
        if (m := _FRAGMENT_RE.match(f))
    )


def _delete_files(table_dir: str, gen: int) -> list[str]:
    return [p for _, p in _fragments(table_dir, gen, "deletes")]


def _insert_files(table_dir: str, gen: int) -> list[str]:
    return [p for _, p in _fragments(table_dir, gen, "inserts")]


def _claim_and_move(table_dir: str, gen: int, sub: str, src: str) -> str:
    """Claim the next seq of generation ``gen`` — 1 + the highest claim
    record in ``g{gen}/_claims`` (base rows are seq 0) — by creating its
    record exclusively, then rename ``src`` in as ``{d,i}{seq}.parquet``
    (readers never list a half file). A record is never removed before
    its generation is pruned, so no seq is claimed twice, whatever the
    fragment kind, and the name is this commit's alone; a claim that
    crashes before its rename burns its seq. Returns the fragment's path."""
    gdir = os.path.join(table_dir, _gen_name(gen))
    claims = os.path.join(gdir, CLAIMS)
    os.makedirs(claims, exist_ok=True)
    os.makedirs(os.path.join(gdir, sub), exist_ok=True)
    while True:
        # all-digit names only: create_exclusive's *.tmp.* files are not claims
        seq = 1 + max((int(f) for f in os.listdir(claims) if f.isdigit()), default=0)
        try:
            create_exclusive(os.path.join(claims, f"{seq:010d}"), "")
        except FileExistsError:
            continue  # another writer claimed this seq: take the next
        target = os.path.join(gdir, sub, f"{sub[0]}{seq:010d}.parquet")
        claim_rename(src, target)
        return target


def _commit_fragment(table_dir: str, gen: int, sub: str, src: str) -> bool:
    """Move the staged parquet file into generation ``gen`` under a
    freshly claimed seq, then re-verify the live generation. Returns
    False when a racing compaction displaced the generation mid-commit
    (the orphan fragment is removed; the caller redoes the operation
    against the new live generation)."""
    target = _claim_and_move(table_dir, gen, sub, src)
    if _live_gen(table_dir) == gen:
        return True
    # a compaction claimed a newer generation between our live read and
    # the rename: the fragment is invisible to live readers and
    # would be pruned — remove it and let the caller redo. If the
    # remove finds it GONE, the compaction's carry-forward sweep
    # already moved it into the new live generation: the commit is
    # durable, report success instead of redoing it.
    try:
        os.remove(target)
    except FileNotFoundError:
        return True
    return False


_STAGING_TTL_SECONDS = 3600.0


def _carry_fragment_forward(
    table_dir: str, new_gen: int, sub: str, path: str
) -> None:
    """Move a fragment a racing writer committed into the displaced
    generation (after the fold's snapshot) into ``new_gen`` under a fresh
    claimed seq. No live re-verify and no delete-on-displacement: if
    yet another compaction displaces ``new_gen`` mid-carry, ITS
    carry-forward sweep moves the fragment again — the fragment is never
    dropped. Racing the writer's own displaced-commit cleanup is benign:
    whoever loses the rename/remove race sees FileNotFoundError and the
    fragment survives exactly once (the writer treats a vanished target
    as carried-forward success)."""
    try:
        _claim_and_move(table_dir, new_gen, sub, path)
    except FileNotFoundError:
        # the writer's displaced-commit cleanup removed the source
        # first; its redo re-commits against the live generation
        pass


def _sweep_staging_orphans(table_dir: str) -> None:
    """Remove ``_staging_*`` dirs a crashed fragment commit abandoned.
    Run from compaction's retention pass, and AGE-GATED: a staging dir is
    only an orphan once it is older than any plausible in-flight write —
    a compaction racing a live delete/upsert must not eat its staging
    mid-commit (that would turn a benign race into a failed write)."""
    import time  # noqa: PLC0415

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


def _stage_single_file(df: DataFrame, table_dir: str) -> tuple[str, str, int]:
    """Write ``df`` as one staged parquet file; returns (staging_dir,
    part_path, n_rows), the row count observed on the write job itself.
    The single-file coalesce is delta-bounded by construction (delete
    keys / upsert batches, never the base)."""
    staging = _new_staging(table_dir)
    obs = Observation()
    df.observe(obs, F.count(F.lit(1)).alias("n")).coalesce(1).write.mode(
        "overwrite"
    ).parquet(staging)
    part = next(f for f in os.listdir(staging) if f.endswith(".parquet"))
    return staging, os.path.join(staging, part), obs.get["n"]


def mor_delete(
    spark: SparkSession, table_dir: str, key_col: str, predicate
) -> int:
    """Commit an equality delete: write the DISTINCT keys of the rows the
    predicate selects (evaluated on the current merged view, so a key
    already deleted is not re-recorded) as one new delete file in the
    live generation. The base files are NOT touched — that is the whole
    point; the commit itself is one exclusively claimed atomic rename, and
    a commit displaced by a racing compaction is redone against the new
    generation (never silently lost). Returns the number of keys
    committed. NULL predicate follows SQL DELETE tri-state semantics:
    only TRUE deletes."""
    for _ in range(_MAX_COMMIT_RETRIES):
        gen = _live_gen(table_dir)
        matched = (
            mor_read(spark, table_dir, key_col, gen=gen)
            .filter(F.coalesce(predicate, F.lit(False)))
            .select(key_col)
            .distinct()
        )
        staging, part, n = _stage_single_file(matched, table_dir)
        committed = _commit_fragment(table_dir, gen, "deletes", part)
        shutil.rmtree(staging, ignore_errors=True)
        if committed:
            return n
        # generation moved mid-commit: re-evaluate against the new live
        # merged view (the compacted base already folded older fragments)
    raise RuntimeError(
        f"mor_delete displaced by {_MAX_COMMIT_RETRIES} consecutive "
        "compactions — compaction is not supposed to run in a tight loop"
    )


def mor_upsert(
    spark: SparkSession, table_dir: str, key_col: str, rows: DataFrame
) -> int:
    """Row-level upsert (MERGE write path, Iceberg v2 delete+insert shape)
    as ONE atomic fragment commit: the insert file's rows shadow every
    lower-seq row with the same key (latest-wins by sequence number), so
    no separate delete file is needed and a crash can never publish half
    the MERGE — matched keys update, unmatched keys insert, in the same
    commit. ``rows`` is checked, before any staging I/O, for the base
    schema (column names and types; order and nullability are free —
    readers scan insert files with the base schema, so a mismatched batch
    would make the table unreadable) and for unique keys (two rows for
    one key would make latest-wins ambiguous); both raise ValueError.
    Returns the number of rows committed."""
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
    for _ in range(_MAX_COMMIT_RETRIES):
        gen = _live_gen(table_dir)
        staging, part, _ = _stage_single_file(rows, table_dir)
        committed = _commit_fragment(table_dir, gen, "inserts", part)
        shutil.rmtree(staging, ignore_errors=True)
        if committed:
            return n
    raise RuntimeError(
        f"mor_upsert displaced by {_MAX_COMMIT_RETRIES} consecutive "
        "compactions — compaction is not supposed to run in a tight loop"
    )


def mor_read(
    spark: SparkSession, table_dir: str, key_col: str, gen: int | None = None
) -> DataFrame:
    """The merged view of the (live, or explicitly pinned) generation:

    1. base rows (seq 0) not shadowed by any insert fragment's key and
    2. the HIGHEST-seq insert row per key (latest-wins upsert),
    3. minus every row suppressed by a delete fragment with a HIGHER seq
       (so a delete kills earlier versions, and a later upsert re-inserts).

    Scale shape: one scan per fragment kind (all insert files read with
    the base schema, all delete files with the key's, each row's seq
    taken from its file name), so planning cost does not grow with the
    fragment count. The big side (base) only ever anti-joins against the
    bounded fragment key sets — what has been deleted/upserted since the
    last compaction — so Spark's threshold/AQE broadcasts them without any
    explicit hint (plan-lint rule: never hint a broadcast on an unbounded
    side); the latest-wins window runs over insert fragments only, never
    the base."""
    if gen is None:
        gen = _live_gen(table_dir)
    base = spark.read.parquet(os.path.join(table_dir, _gen_name(gen), "base"))
    ins = _insert_files(table_dir, gen)
    dels = _delete_files(table_dir, gen)
    if not ins and not dels:
        return base

    def scan(schema: StructType, paths: list[str]) -> DataFrame:
        # _FRAGMENT_RE fixes every name as {d,i}{seq:010d}.parquet
        seq = F.substring("_metadata.file_name", 2, 10).cast("long")
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


def _claim_generation(table_dir: str, staging: str, gen: int) -> bool:
    """Commit generation ``gen`` by renaming a staging dir to ``g{gen}``;
    the claim makes it live when no higher generation exists. Nothing
    creates ``g{gen}`` before its claim and a rename onto an existing
    directory fails, so of the claims of one generation exactly one wins.
    Returns whether this one did. (A stale compactor can win a number
    retention already pruned; that generation is below the live one, so
    it is never live and the next compaction prunes it.)"""
    return claim_rename(staging, os.path.join(table_dir, _gen_name(gen)))


def _carry_forward(table_dir: str, gen: int) -> None:
    """Carry the fragments of ``g{gen-1}`` that live generation ``gen``'s
    fold did not cover (those not in ``_FOLDED``) forward into it, in
    ascending seq. Idempotent: the claim's winner runs it, a loser runs it
    for a winner that stopped after its claim, and the next compaction
    runs it for one that stopped mid-carry. Once a later generation is
    live there is nothing left to do: that generation's compaction ran
    this carry before its fold snapshot."""
    if _live_gen(table_dir) != gen:
        return
    try:
        with open(os.path.join(table_dir, _gen_name(gen), FOLDED)) as f:
            folded = json.load(f)
    except FileNotFoundError:
        return  # generation 0 folded nothing
    late = sorted(
        (seq, sub, path)
        for sub in ("deletes", "inserts")
        for seq, path in _fragments(table_dir, gen - 1, sub)
        if seq not in folded[sub]
    )
    for _, sub, path in late:  # ascending seq: relative order preserved
        _carry_fragment_forward(table_dir, gen, sub, path)


def mor_compact(spark: SparkSession, table_dir: str, key_col: str) -> None:
    """Fold the live generation's fragments into the next generation and
    prune generations older than the displaced one (plus any
    crash-orphaned staging dirs). A reader that resolved the old
    generation mid-scan still has it in full (base + fragments) for one
    compaction cycle; readers resolving the live generation see either
    the old or the new one — both the same rows, never a half state.

    The commit follows the txn protocol. The fold is written into this
    compactor's own ``_staging_*`` dir beside ``_FOLDED``, the fragment
    seqs it covers (snapshotted BEFORE the merged plan lists fragment
    files, so a fragment in the plan but not the snapshot is merely
    re-applied — idempotent on a base that already folded it). Renaming
    the staging dir to ``g{gen+1}`` claims the generation and makes it
    live; :func:`_carry_forward` then moves fragments committed into
    ``g{gen}`` during the fold (their writer's re-verify read the old
    generation, so the commit reported success — without the carry they
    would be silently lost). A compaction that loses the claim runs the
    carry for the winner, removes its staging and raises
    :class:`CommitConflictError`; a compactor resuming after later
    compactions claims a generation below the live one, so it can never
    move the table back."""
    gen = _live_gen(table_dir)
    # finish a predecessor that stopped mid-carry BEFORE the snapshot, so
    # nothing it stranded in g{gen-1} is pruned below
    _carry_forward(table_dir, gen)
    folded = {
        sub: [s for s, _ in _fragments(table_dir, gen, sub)]
        for sub in ("deletes", "inserts")
    }
    merged = mor_read(spark, table_dir, key_col, gen=gen)
    # output sizing: the fold's anti-join/union would otherwise write one
    # near-empty file per shuffle partition; the merged rows are bounded
    # by the generation's on-disk bytes (base + insert fragments), so a
    # ceil(bytes / 128 MB) coalesce keeps ~128 MB files at any scale
    # without a count job (the module is local-FS-addressed throughout)
    gen_dir = os.path.join(table_dir, _gen_name(gen))
    # the walk races with concurrent fragment commits (supported here:
    # the carry-forward exists precisely for them) — a displaced fragment
    # can vanish between listing and stat, so a vanished file counts 0;
    # delete fragments are skipped (they only shrink the fold's output —
    # the bound stays conservative for base + insert bytes) and claim
    # records are empty
    gen_bytes = sum(
        _size_or_zero(os.path.join(dirpath, f))
        for dirpath, _dirs, files in os.walk(gen_dir)
        for f in files
        if os.path.basename(dirpath) != "deletes"
    )
    n_files = max(1, -(-gen_bytes // (128 << 20)))
    staging = _new_staging(table_dir)
    merged.coalesce(n_files).write.mode("overwrite").parquet(
        os.path.join(staging, "base")
    )
    atomic_write(os.path.join(staging, FOLDED), json.dumps(folded))
    claimed = _claim_generation(table_dir, staging, gen + 1)
    _carry_forward(table_dir, gen + 1)
    if not claimed:
        shutil.rmtree(staging, ignore_errors=True)
        raise CommitConflictError(
            f"generation {gen + 1} of {table_dir} was claimed by another "
            f"compaction — the table is already compacted past generation {gen}"
        )
    for old in _generations(table_dir):
        if old < gen:
            shutil.rmtree(os.path.join(table_dir, _gen_name(old)), ignore_errors=True)
    _sweep_staging_orphans(table_dir)
