"""Cross-table atomic publish: snapshot isolation across the medallion via
a manifest-of-pointers (r10).

A real pipeline publishes silver AND gold together, and a reader must
never observe new gold over old silver (or vice versa). A single root
``_MANIFEST`` file names every table's live version directory, and ONE
atomic manifest swap commits the whole transaction. A one-table
transaction is how a single table is versioned (the streaming gold and
silver merges in streaming/ingest.py commit that way). This is the
transactional primitive Delta Lake's (legacy) multi-table transaction /
an Iceberg catalog's atomic multi-table commit provides; on plain parquet
the manifest file IS the catalog pointer.

Layout::

    root/_MANIFEST                   # JSON {"txn": N, "tables": {name: "v..."}, "writer": w}
    root/_MANIFEST.v0000000NNN       # txn N's commit record, created exclusively
    root/<table>/v0000000NNN-{writer}/*.parquet

Commit protocol (``publish_tables``):

1. **Replay guard** — if the manifest's txn is already >= this txn id, the
   publish is a crash-replay AFTER a completed commit: no-op (the data is
   live; re-running would re-form read-write cycles for incremental
   tables).
2. **Write all version dirs** — each table's new frame lands in its own
   ``v{txn}-{writer}`` directory, fully distributed, never touching any
   live dir.
   A crash anywhere in this phase (simulated by ``fail_after_writes``)
   leaves only ORPHAN directories: the manifest still names the previous
   versions of every table, so readers keep seeing the old consistent
   snapshot. The replay re-runs this phase overwriting its own orphans
   (disjoint from every live dir — safe).
3. **Commit record, then atomic manifest swap** — the txn's history
   record is created exclusively (its creator commits txn N; no writer
   rewrites it), then ``commit.advance`` writes a per-writer
   ``_MANIFEST.tmp.*``, fsyncs it and ``os.replace``-s it, and only ever
   moves the pointer to a higher txn. Locally that is one atomic rename;
   on HDFS the same; on S3 a single pointer PUT. Tables not part of this
   transaction carry forward unchanged (their pointer entries are copied
   into the new manifest).
4. **Retention** — for each table in the txn, keep the new version, the
   version the outgoing manifest named (readers holding the old manifest
   survive one publish cycle), and
   every version a ref (tag/branch) still resolves — a tagged snapshot
   stays fully readable until the tag is dropped; everything else older
   is pruned.

Snapshot isolation for readers: call :func:`read_manifest` ONCE and
resolve every table through that one dict (:func:`manifest_read_table`) —
all reads then come from the same committed transaction regardless of
concurrent publishes.

At 100 TB: the manifest is O(#tables) bytes — the commit cost is
independent of data volume; version-dir writes are ordinary distributed
parquet jobs; nothing here funnels data through the driver. Reference
parity: the reference rebuilds silver+gold as one ``dbt build``
(/root/reference/transform/dbt_project.yml:6-11) and gets cross-model
consistency only because the warehouse is a single-process DuckDB file —
this module is the distributed, crash-safe equivalent of that guarantee.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession

from f1_lakehouse_spark.sources.commit import advance, atomic_write, create_exclusive

MANIFEST = "_MANIFEST"
# the token of a writer that names none: every record carries a writer
DEFAULT_WRITER = "default"


def _txn_of(manifest_text: str) -> int:
    return json.loads(manifest_text)["txn"]


class SimulatedCrash(RuntimeError):
    """Raised by the ``fail_after_writes`` test hook to emulate a process
    crash between a transaction's version-dir writes and its manifest
    swap. Production code never raises this."""


def read_manifest(root: str, txn: int | None = None) -> dict | None:
    """The committed transaction: ``{"txn": int, "tables": {name: version}}``,
    or None before the first publish. Read it ONCE per logical read and
    resolve all tables through the same dict — that is the snapshot.

    ``txn`` gives TIME TRAVEL: resolve the manifest history file a past
    commit wrote (``_MANIFEST.v{txn}``, immutable, O(#tables) bytes each —
    the history costs nothing at any data scale). The snapshot's version
    DIRS are only retained one publish cycle (see ``publish_tables``)
    unless a ref pins them, so an UNPINNED as-of read reaches exactly one
    commit back before :func:`manifest_read_table` starts degrading to
    None while a TAGGED snapshot stays fully readable until its tag is
    dropped — Iceberg's snapshot list with a short expire_snapshots
    horizon plus tag retention."""
    name = MANIFEST if txn is None else f"{MANIFEST}.v{txn:010d}"
    path = os.path.join(root, name)
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return json.load(f)


def manifest_read_table(
    spark: SparkSession, root: str, name: str, manifest: dict | None
) -> DataFrame | None:
    """Resolve ``name`` through a manifest snapshot (from
    :func:`read_manifest`). None when the table is not in the snapshot or
    its version dir has been pruned (reader held the manifest for more
    than one publish cycle)."""
    if manifest is None or name not in manifest.get("tables", {}):
        return None
    vdir = os.path.join(root, name, manifest["tables"][name])
    if not os.path.isdir(vdir):
        return None
    return spark.read.parquet(vdir)


class CommitConflictError(RuntimeError):
    """Optimistic-concurrency conflict: another writer committed this
    txn id first. The loser must re-read the manifest, re-derive its
    frames against the new snapshot, and retry with the next txn id —
    exactly Delta/Iceberg's optimistic commit-retry loop."""


def _txn_guard(root: str, txn_id: int, writer: str) -> dict | str | None:
    """Shared replay/monotonicity/conflict guard. Returns the string
    "committed" when THIS writer's txn is already live (caller no-ops —
    the idempotent crash-replay), raises :class:`CommitConflictError`
    when a DIFFERENT writer committed this txn id or a branch holds it
    staged (checked before staging: with equal tokens the branch's
    version dirs are the ones this publish would write), and otherwise
    returns the current manifest (possibly None) to proceed."""
    cur = read_manifest(root)
    if cur is not None and cur["txn"] == txn_id:
        if cur.get("writer") != writer:
            raise CommitConflictError(
                f"txn {txn_id} was committed by writer "
                f"{cur.get('writer')!r}, not {writer!r} — re-read the "
                "manifest and retry with the next txn id"
            )
        return "committed"
    rec = read_manifest(root, txn=txn_id)
    if cur is not None and cur["txn"] > txn_id:
        # a replay of a txn this writer COMMITTED but that has since
        # been superseded must still no-op (the commit record proves
        # ownership); only a txn that never committed is a violation
        if (
            rec is not None
            and not rec.get("staged")  # staged records never went live
            and rec.get("writer") == writer
        ):
            return "committed"
        raise ValueError(
            f"txn_id {txn_id} is older than the committed {cur['txn']}"
        )
    if rec is not None and rec.get("staged"):
        raise _staged_conflict(txn_id)
    return cur


def _staged_conflict(txn_id: int) -> CommitConflictError:
    # a BRANCH holds this txn id: its record is deliberately unpromoted
    # (write-audit-publish), not a crashed winner — promoting it would
    # leak an unaudited staging to every reader; the branch promotes
    # itself via fast_forward
    return CommitConflictError(
        f"txn {txn_id} is staged on a branch — fast_forward the branch or "
        "retry with the next txn id"
    )


def _stage_writes(
    root: str,
    tables: dict[str, DataFrame],
    version: str,
    fail_after_writes: int | None,
) -> None:
    """Phase 2 of the protocol: every table's new frame lands in its own
    version dir, distributed, never touching a live dir."""
    written = 0
    for name in sorted(tables):
        tables[name].write.mode("overwrite").parquet(
            os.path.join(root, name, version)
        )
        written += 1
        if fail_after_writes is not None and written >= fail_after_writes:
            raise SimulatedCrash(
                f"simulated crash after {written}/{len(tables)} writes"
            )


def _version_name(txn_id: int, writer: str) -> str:
    """Staged version dir for a txn, suffixed with its writer so two
    racing writers NEVER stage into the same directory — only the commit
    winner's dirs get referenced; the loser's are unreachable orphans
    (cleaned by its conflict handler, and by retention as a backstop)."""
    return f"v{txn_id:010d}-{writer}"


def _drop_stage(root: str, tables: dict[str, DataFrame], version: str) -> None:
    """Remove a txn's staged version dirs that no record will name."""
    for name in tables:
        shutil.rmtree(os.path.join(root, name, version), ignore_errors=True)


def _commit_manifest(
    root: str,
    cur: dict | None,
    tables: dict[str, DataFrame],
    txn_id: int,
    writer: str,
    fail_after_record: bool = False,
) -> None:
    """Phases 3+4: atomic manifest swap (plus the immutable history copy
    for time travel / commit arbitration), then per-table one-cycle
    retention. A conflict removes this writer's stage before raising."""
    version = _version_name(txn_id, writer)
    prev_tables = dict(cur["tables"]) if cur else {}
    new_manifest = {
        "txn": txn_id,
        "tables": {**prev_tables, **{n: version for n in tables}},
        "writer": writer,
    }
    # history copy FIRST — it doubles as the COMMIT ARBITRATION record,
    # created EXCLUSIVELY and never rewritten (the fail-if-exists
    # ``commit.create_exclusive`` is the one compare-and-swap primitive
    # local FS / HDFS give us, and it is exactly how Delta's
    # _delta_log/N.json commit arbitrates concurrent writers): the winner
    # of the create IS the committer of txn N. A loser finds the file
    # owned by another writer and raises; a crashed WINNER replaying finds
    # its OWN record and idempotently completes the live-pointer swap.
    hist = os.path.join(root, f"{MANIFEST}.v{txn_id:010d}")
    ptr = os.path.join(root, MANIFEST)
    try:
        create_exclusive(hist, json.dumps(new_manifest))
    except FileExistsError:
        with open(hist) as f:
            owner = json.load(f)
        if owner.get("staged"):
            _drop_stage(root, tables, version)
            raise _staged_conflict(txn_id) from None
        if owner.get("writer") != writer:
            _drop_stage(root, tables, version)
            # ROLL THE WINNER FORWARD before raising: the record IS the
            # commit (Delta semantics — the N.json wins; the live pointer
            # is derived state). If the winner crashed between record and
            # swap, every loser would otherwise re-derive the SAME txn id
            # against the stale manifest and conflict forever; completing
            # the swap on the winner's behalf unblocks the retry loop and
            # makes the record's txn genuinely visible, so its time-travel
            # snapshot is never a phantom.
            advance(ptr, owner["txn"], json.dumps(owner), _txn_of)
            raise CommitConflictError(
                f"txn {txn_id} commit record is owned by writer "
                f"{owner.get('writer')!r}, not {writer!r} — re-read "
                "the manifest and retry with the next txn id"
            ) from None
        # our own crash leftover: fall through and complete the swap
        new_manifest = owner
    if fail_after_record:
        raise SimulatedCrash(
            f"simulated crash after txn {txn_id}'s commit record, before "
            "the live-pointer swap"
        )
    # the final swap is forward-only like the loser's roll-forward: never
    # move the live pointer backwards. Without the guard, a winner
    # that stalls between its commit record and its swap can be rolled
    # forward by a conflicting loser, which then commits txn N+1 — the
    # stalled winner resuming its unconditional swap would present the
    # stale txn N as live (a snapshot-monotonicity violation) until the
    # next write self-heals it. With the guard the resume is a no-op.
    advance(ptr, new_manifest["txn"], json.dumps(new_manifest), _txn_of)
    # retention: per table, the displaced version survives one cycle for
    # readers holding the outgoing manifest; everything STRICTLY OLDER is
    # pruned UNLESS a ref (tag/branch) pins it — a tagged snapshot stays
    # FULLY readable (manifest + dirs) until the tag is dropped, Iceberg's
    # tag-retention semantics (r11). Same-or-newer txn dirs are never
    # touched here — a concurrent OCC loser may still be mid-write into
    # its own v{txn}-{writer} dir, and rmtree-ing under a running Spark
    # job turns the documented CommitConflictError into an opaque executor
    # crash; the loser cleans its own stage on conflict, and the NEXT
    # commit's retention prunes anything it abandoned (by then strictly
    # older).
    pinned = _ref_pinned_versions(root)
    for name in tables:
        keep = {version, prev_tables.get(name)} | pinned.get(name, set())
        tdir = os.path.join(root, name)
        for entry in os.listdir(tdir):
            if not entry.startswith("v") or entry in keep:
                continue
            digits = entry[1:11]
            if digits.isdigit() and int(digits) >= txn_id:
                continue
            shutil.rmtree(os.path.join(tdir, entry), ignore_errors=True)


def _ref_pinned_versions(root: str) -> dict[str, set[str]]:
    """table -> version dirs some ref (tag or branch) still resolves:
    retention must not prune a version a NAMED snapshot can reach, or the
    reproducibility guarantee refs exist for silently breaks. Cost is
    O(#refs) metadata file reads per commit — independent of data volume."""
    pinned: dict[str, set[str]] = {}
    for txn in _ref_txns(root):
        rec = read_manifest(root, txn=txn) or {}
        for tbl, ver in rec.get("tables", {}).items():
            pinned.setdefault(tbl, set()).add(ver)
    return pinned


def publish_tables(
    spark: SparkSession,
    root: str,
    tables: dict[str, DataFrame],
    txn_id: int,
    fail_after_writes: int | None = None,
    writer: str = DEFAULT_WRITER,
    fail_after_record: bool = False,
) -> None:
    """Atomically publish every frame in ``tables`` as transaction
    ``txn_id`` (see module docstring for the protocol). Idempotent under
    crash-replay; ``txn_id`` must be monotonically increasing across
    publishes to the same root.

    Commits are optimistic: each ``writer`` token stages into its own
    version dirs and the txn's commit record is created exclusively
    (fail-if-exists — the Delta _delta_log arbitration), so of N racing
    writers exactly ONE commits txn_id and every loser gets
    :class:`CommitConflictError` (re-read the manifest, re-derive, retry
    with the next id) with its orphan staging removed. A writer's own
    record at ``txn_id`` makes the publish its replay, so writers that
    may race must pass distinct tokens; a lone writer can keep the
    default one."""
    os.makedirs(root, exist_ok=True)
    cur = _txn_guard(root, txn_id, writer)
    if cur == "committed":
        # crash-replay AFTER a completed commit: the transaction is
        # durable and live — the no-op IS the idempotent replay
        return
    _stage_writes(root, tables, _version_name(txn_id, writer), fail_after_writes)
    _commit_manifest(
        root, cur, tables, txn_id, writer, fail_after_record=fail_after_record
    )


def write_audit_publish(
    spark: SparkSession,
    root: str,
    tables: dict[str, DataFrame],
    txn_id: int,
    audit_fn,
    writer: str = DEFAULT_WRITER,
) -> list[str]:
    """Write-Audit-Publish (the Iceberg WAP pattern; the scaled-up form of
    the reference's post-hoc gate `/root/reference/scripts/check_gold.sh`
    + dbt not_null tests, which only check AFTER the tables are live):
    stage every table's version dir, run ``audit_fn`` against the STAGED
    data read back from disk (what readers would actually see), and swap
    the manifest ONLY if the audit returns no violations — a failing batch
    never becomes visible to any reader.

    ``audit_fn(staged: dict[str, DataFrame]) -> list[str]`` returns
    human-readable violation strings (empty = pass). Returns the violation
    list; on rejection the staged dirs are removed and the committed
    snapshot is untouched, so the txn id stays free for a fixed retry.
    Commits and conflicts like ``publish_tables``: a replay of an
    already-committed txn no-ops (returns [])."""
    os.makedirs(root, exist_ok=True)
    cur = _txn_guard(root, txn_id, writer)
    if cur == "committed":
        return []
    version = _version_name(txn_id, writer)
    _stage_writes(root, tables, version, None)
    staged = {
        name: spark.read.parquet(os.path.join(root, name, version))
        for name in tables
    }
    violations = list(audit_fn(staged))
    if violations:
        _drop_stage(root, tables, version)
        return violations
    _commit_manifest(root, cur, tables, txn_id, writer)
    return []


def table_changes(
    spark: SparkSession,
    root: str,
    name: str,
    from_txn: int,
    to_txn: int,
    key_cols: list[str],
    order_cols: list[str],
    emit_pre_post: bool = False,
) -> DataFrame:
    """Change Data Feed between two committed snapshots (Delta CDF /
    Iceberg changelog, derived rather than stored): resolve ``name`` at
    both transactions through their immutable history manifests, full-
    outer-join on the key, and classify every key as insert (new only),
    delete (old only), or update (both present and the ``order_cols``
    version tuple differs — for latest-per-key tables that tuple ends in
    a unique tiebreaker, so it differs IFF the row changed). Unchanged
    keys are omitted. Returns the new row's columns (the old row's for
    deletes) plus ``_change_type``.

    ``emit_pre_post=True`` switches to Delta-CDF row semantics: every
    update emits TWO rows — ``update_preimage`` (the old row) and
    ``update_postimage`` (the new row) — so a downstream consumer can
    incrementally maintain an aggregate by SUBTRACTING preimages/deletes
    and ADDING postimages/inserts, without a second snapshot read. The
    explode is per-changed-key, so the feed stays delta-proportional.

    Cost: one key-shuffle full-outer join of two entity-bounded
    snapshots — no log replay, no stored change files; the manifests
    pin which version dirs to diff. Downstream incremental consumers
    (sync a mart, invalidate a cache, feed a stream) read the diff
    instead of re-scanning the table. Both snapshots must still be
    within version-dir retention (one publish cycle by default)."""
    old = manifest_read_table(spark, root, name, read_manifest(root, txn=from_txn))
    new = manifest_read_table(spark, root, name, read_manifest(root, txn=to_txn))
    if old is None or new is None:
        raise ValueError(
            f"snapshot missing or pruned for {name!r} at txn "
            f"{from_txn if old is None else to_txn}"
        )
    return snapshot_diff(old, new, key_cols, order_cols, emit_pre_post)


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    emit_pre_post: bool = False,
) -> DataFrame:
    """The DataFrame-level diff :func:`table_changes` is built on — same
    classification and row semantics, but over two frames the caller
    already holds (e.g. a streaming micro-batch's previous-vs-merged
    silver, where the new state is not committed yet)."""
    from pyspark.sql import functions as F  # noqa: PLC0415

    data_cols = [c for c in new.columns if c not in key_cols]
    o = old.select(
        *key_cols, *[F.col(c).alias(f"_old_{c}") for c in data_cols]
    )
    n_ = new.select(*key_cols, *data_cols)
    joined = o.join(n_, key_cols, "full_outer")
    # presence must be decided on a never-NULL marker, not a payload
    # column: use the order tuple's unique tail, which every row carries
    tiebreak = order_cols[-1]
    is_new = F.col(tiebreak).isNotNull()
    is_old = F.col(f"_old_{tiebreak}").isNotNull()
    changed = F.struct(*[F.col(c) for c in order_cols]) != F.struct(
        *[F.col(f"_old_{c}") for c in order_cols]
    )
    change_type = (
        F.when(is_new & ~is_old, F.lit("insert"))
        .when(is_old & ~is_new, F.lit("delete"))
        .when(changed, F.lit("update"))
    )
    classified = joined.withColumn("_change_type", change_type).filter(
        F.col("_change_type").isNotNull()
    )
    if emit_pre_post:
        # Delta-CDF row semantics: one (change_type, row) variant for
        # inserts/deletes, TWO for updates (preimage + postimage), exploded
        # per changed key — the feed is an exact signed delta of the table
        old_struct = F.struct(*[F.col(f"_old_{c}").alias(c) for c in data_cols])
        new_struct = F.struct(*[F.col(c).alias(c) for c in data_cols])
        ct = F.col("_change_type")
        variants = (
            F.when(
                ct == "insert",
                F.array(
                    F.struct(F.lit("insert").alias("t"), new_struct.alias("r"))
                ),
            )
            .when(
                ct == "delete",
                F.array(
                    F.struct(F.lit("delete").alias("t"), old_struct.alias("r"))
                ),
            )
            .otherwise(
                F.array(
                    F.struct(
                        F.lit("update_preimage").alias("t"),
                        old_struct.alias("r"),
                    ),
                    F.struct(
                        F.lit("update_postimage").alias("t"),
                        new_struct.alias("r"),
                    ),
                )
            )
        )
        exploded = classified.select(*key_cols, F.explode(variants).alias("_v"))
        return exploded.select(
            *key_cols,
            *[F.col(f"_v.r.{c}").alias(c) for c in data_cols],
            F.col("_v.t").alias("_change_type"),
        )
    # the output row is chosen PER ROW by change type (old row for
    # deletes, new row otherwise), never per column: a per-column
    # coalesce would resurrect the OLD value whenever an update
    # legitimately NULLs a field, feeding stale data to incremental
    # consumers
    is_delete = F.col("_change_type") == "delete"
    out_cols = [
        F.when(is_delete, F.col(f"_old_{c}")).otherwise(F.col(c)).alias(c)
        for c in data_cols
    ]
    return classified.select(*key_cols, *out_cols, "_change_type")


# ---------------------------------------------------------------------------
# Refs: branches and tags over the manifest history (Iceberg refs / Delta
# does not have these; the branch-WAP flow is Iceberg's
# stage-on-branch -> audit -> fast-forward-main pattern)
# ---------------------------------------------------------------------------

REFS_DIR = "_refs"


class StaleBranchError(RuntimeError):
    """fast_forward target is not ahead of the live manifest: main has
    advanced past the branch. The branch must rebase — re-derive its
    frames against the new live snapshot and re-stage at a fresh txn id
    (Iceberg's publish-conflict outcome for WAP branches)."""


def _ref_path(root: str, name: str) -> str:
    return os.path.join(root, REFS_DIR, name)


def read_ref(root: str, name: str) -> int | None:
    """The txn id a ref names, or None."""
    path = _ref_path(root, name)
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return int(f.read().strip())


def create_tag(root: str, name: str, txn_id: int) -> None:
    """An IMMUTABLE named pointer to a committed txn (audit marker,
    reproducibility pin). Write-once: re-tagging an existing name is an
    error, never a silent move."""
    if read_manifest(root, txn=txn_id) is None:
        raise ValueError(f"cannot tag txn {txn_id}: no commit record")
    os.makedirs(os.path.join(root, REFS_DIR), exist_ok=True)
    # exists -> FileExistsError: tags never move; content-atomic so a
    # concurrent read_ref never sees a half-written id
    create_exclusive(_ref_path(root, name), str(txn_id))


def drop_ref(root: str, name: str) -> None:
    """Remove a tag or branch. The versions only this ref pinned become
    prunable at the NEXT commit's retention pass, and its history record
    becomes expirable (Iceberg: dropping a tag releases its snapshot to
    expire_snapshots). Loud on a missing ref — silently 'dropping' a typo
    would leave the real pin in place."""
    path = _ref_path(root, name)
    if not os.path.exists(path):
        raise ValueError(f"no such ref: {name!r}")
    os.remove(path)


def _ref_txns(root: str) -> list[int]:
    """The txn ids the refs (tags and branches) name; in-flight unique
    tmps and a ref dropped mid-listing are skipped."""
    refs_dir = os.path.join(root, REFS_DIR)
    if not os.path.isdir(refs_dir):
        return []
    txns = (read_ref(root, n) for n in os.listdir(refs_dir) if ".tmp" not in n)
    return [t for t in txns if t is not None]


def _history_txns(root: str) -> list[int]:
    """The txn ids of the ``_MANIFEST.v{N}`` history records, ascending
    (an in-flight ``create_exclusive`` tmp is not a record)."""
    prefix = MANIFEST + ".v"
    return sorted(
        int(f[len(prefix):])
        for f in os.listdir(root)
        if f.startswith(prefix) and f[len(prefix):].isdigit()
    )


def read_ref_manifest(root: str, name: str) -> dict | None:
    """Resolve a ref to its manifest snapshot (tags and branches alike);
    feed the result to :func:`manifest_read_table`."""
    txn = read_ref(root, name)
    return None if txn is None else read_manifest(root, txn=txn)


def publish_staged(
    spark: SparkSession,
    root: str,
    tables: dict[str, DataFrame],
    txn_id: int,
    branch: str,
    writer: str = DEFAULT_WRITER,
) -> None:
    """Stage a transaction on a BRANCH without making it live: version
    dirs + commit record are written exactly like :func:`publish_tables`
    (the record carries ``staged: true``), the branch ref moves to it,
    but the live ``_MANIFEST`` is untouched — main readers cannot see it.
    Audit the branch via :func:`read_ref_manifest`, then
    :func:`fast_forward` main. A mainline writer racing to the same txn
    id gets a CommitConflictError, and the roll-forward helper explicitly
    REFUSES to promote a staged record (promoting an unaudited staging
    would defeat the entire WAP gate)."""
    os.makedirs(os.path.join(root, REFS_DIR), exist_ok=True)
    cur = read_manifest(root)
    # the writer's OWN record is checked BEFORE the ahead-of-live guard:
    # a crash-replay of a staging whose branch has since been
    # fast-forwarded (or superseded) finds cur['txn'] >= txn_id, but its
    # own commit record proves the staging succeeded — the replay must
    # no-op/re-point, mirroring _txn_guard's superseded-replay path, not
    # die on the monotonicity check.
    rec = read_manifest(root, txn=txn_id)
    if rec is not None:
        if not rec.get("staged") or rec.get("writer") != writer:
            raise CommitConflictError(
                f"txn {txn_id} commit record already exists (writer "
                f"{rec.get('writer')!r}) — re-read and retry with the "
                "next txn id"
            )
        # idempotent replay: re-point the branch — but never REWIND one
        # that has since advanced to a newer staging
        advance(_ref_path(root, branch), txn_id, str(txn_id), int)
        return
    if cur is not None and cur["txn"] >= txn_id:
        raise ValueError(
            f"staged txn_id {txn_id} is not ahead of the live {cur['txn']}"
        )
    version = _version_name(txn_id, writer)
    _stage_writes(root, tables, version, None)
    prev_tables = dict(cur["tables"]) if cur else {}
    record = {
        "txn": txn_id,
        "tables": {**prev_tables, **{n: version for n in tables}},
        "staged": True,
        "writer": writer,
    }
    hist = os.path.join(root, f"{MANIFEST}.v{txn_id:010d}")
    try:
        create_exclusive(hist, json.dumps(record))
    except FileExistsError:
        _drop_stage(root, tables, version)
        raise CommitConflictError(
            f"lost the record race for staged txn {txn_id} — re-read and "
            "retry with the next txn id"
        ) from None
    atomic_write(_ref_path(root, branch), str(txn_id))


def fast_forward(root: str, branch: str) -> dict:
    """Promote a branch's staged txn to the live manifest — the publish
    half of branch-WAP, ONE atomic pointer swap. Refuses when main has
    advanced to or past the branch txn (:class:`StaleBranchError` — the
    branch must rebase); never moves main backwards. Returns the now-live
    manifest."""
    txn = read_ref(root, branch)
    if txn is None:
        raise ValueError(f"no such branch: {branch!r}")
    record = read_manifest(root, txn=txn)
    if record is None:
        raise ValueError(f"branch {branch!r} names txn {txn} with no record")
    promoted = {k: v for k, v in record.items() if k != "staged"}
    if not advance(
        os.path.join(root, MANIFEST), txn, json.dumps(promoted), _txn_of
    ):
        raise StaleBranchError(
            f"main is at txn {read_manifest(root)['txn']}, branch {branch!r} "
            f"at {txn} — rebase the branch onto the live snapshot"
        )
    return promoted


def vacuum_orphans(root: str, ttl_seconds: float = 3600.0) -> list[str]:
    """Iceberg ``remove_orphan_files`` analog: delete version dirs NO
    manifest can reach — not the live manifest, not any ref's record, not
    any retained history record. Per-commit retention never catches two
    orphan classes: a crashed writer's staging whose txn id is AHEAD of
    the live txn (retention only prunes strictly-older dirs), and
    abandoned stagings of tables no later transaction touches. Both
    accumulate forever without this pass.

    ``ttl_seconds`` age-gates the delete: a dir younger than the TTL may
    be a RACING writer's in-flight staging (its commit record does not
    exist yet) — vacuuming it would turn a benign OCC race into a lost
    write, the same hazard the MoR staging sweep guards against. Run
    with ``expire_history(keep_n >= 2)``: the displaced snapshot's
    versions are referenced ONLY by the previous history record, so
    keep_n=1 (live record alone) would make them vacuum-eligible and
    break the one-publish-cycle reader guarantee. Returns removed paths.
    Cost: O(#history + #dirs) metadata reads — zero data I/O."""
    import time  # noqa: PLC0415

    referenced: set[tuple[str, str]] = set()
    manifests = [read_manifest(root)]
    manifests += [read_manifest(root, txn=t) for t in _history_txns(root)]
    for rec in filter(None, manifests):
        for tbl, ver in rec.get("tables", {}).items():
            referenced.add((tbl, ver))
    horizon = time.time() - ttl_seconds
    removed: list[str] = []
    for tbl in os.listdir(root):
        tdir = os.path.join(root, tbl)
        if tbl.startswith("_") or not os.path.isdir(tdir):
            continue
        for entry in os.listdir(tdir):
            if not entry.startswith("v") or (tbl, entry) in referenced:
                continue
            path = os.path.join(tdir, entry)
            try:
                stale = os.path.getmtime(path) < horizon
            except OSError:
                continue  # vanished concurrently: its writer is cleaning up
            if stale:
                shutil.rmtree(path, ignore_errors=True)
                removed.append(path)
    return sorted(removed)


def expire_history(root: str, keep_n: int) -> list[int]:
    """Expire old ``_MANIFEST.v{N}`` history files — the Iceberg
    ``expire_snapshots`` analog for the manifest layer. Each history file
    is O(#tables) bytes, so data volume is irrelevant; what grows
    unboundedly is the FILE COUNT at real commit rates (one txn per
    streaming micro-batch, streaming/ingest.py), and time-travel reads
    degrade to None after one version-dir retention cycle anyway, so old
    history is dead weight.

    Keeps: the newest ``keep_n`` records, every record PINNED by a ref
    (tag or branch — expiring a pinned snapshot would silently break the
    reproducibility guarantee tags exist for), and the live manifest's
    own record. The live ``_MANIFEST`` file itself is never a candidate.
    Returns the expired txn ids (ascending)."""
    if keep_n < 0:
        raise ValueError(f"keep_n must be >= 0, got {keep_n}")
    pinned = set(_ref_txns(root))
    live = read_manifest(root)
    if live is not None:
        pinned.add(live["txn"])
    history = _history_txns(root)
    keep = set(history[len(history) - keep_n:]) if keep_n else set()
    expired: list[int] = []
    for txn in history:
        if txn in keep or txn in pinned:
            continue
        os.remove(os.path.join(root, f"{MANIFEST}.v{txn:010d}"))
        expired.append(txn)
    return expired
