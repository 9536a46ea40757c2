"""Cross-table atomic publish: snapshot isolation across the medallion
through exclusively created commit records (Delta Lake's log rule).

A real pipeline publishes silver AND gold together, and a reader must
never observe new gold over old silver (or vice versa). A transaction's
one commit record names every table's version directory; its
fail-if-exists create is the whole commit, and the highest record is the
live snapshot, so no commit can rewind another. A single table is
versioned as a one-table transaction (streaming/ingest.py). This is
Delta Lake's ``_delta_log/N.json`` rule on plain parquet.

Layout::

    root/_MANIFEST.v0000000NNN       # txn N's commit record, created exclusively
                                     # {"txn": N, "tables": {name: "v..."}, "writer": w}
    root/_STAGED.v0000000NNN         # a branch's staged txn N (never live)
    root/_refs/{tag}                 # write-once tag: a txn id
    root/<table>/v0000000NNN-{writer}/*.parquet

Commit protocol (``publish_tables``):

1. **Guard** — this writer's own record for the txn id means the publish
   is a crash-replay AFTER its commit: no-op (the data is committed;
   re-running would re-form read-write cycles for incremental tables).
   Another writer's record, a branch's staged record, or a txn id not
   after the live one raise before anything is written.
2. **Write all version dirs** — each table's new frame lands in its own
   ``v{txn}-{writer}`` directory, fully distributed, never touching any
   live dir. A crash anywhere in this phase (simulated by
   ``fail_after_writes``) leaves only ORPHAN directories: the live record
   still names the previous versions of every table, so readers keep
   seeing the old consistent snapshot. The replay re-runs this phase
   overwriting its own orphans (disjoint from every live dir — safe).
3. **Commit record** — ``commit.create_exclusive`` creates
   ``_MANIFEST.v{txn}`` (on S3 a conditional PUT): its creator commits,
   a loser removes its stage and raises :class:`CommitConflictError`.
   Tables outside the transaction carry their live entries forward.
4. **Retention** — for each table in the txn, keep the new version, the
   version the previous record named (readers holding it survive one
   publish cycle), and every version a ref (tag/branch) still resolves —
   a tagged snapshot stays fully readable until the tag is dropped;
   everything else older is pruned.

Snapshot isolation for readers: call :func:`read_manifest` ONCE and
resolve every table through that one dict (:func:`manifest_read_table`) —
all reads then come from the same committed transaction regardless of
concurrent publishes.

At 100 TB: a record is O(#tables) bytes and a live lookup lists the root
once — the commit cost is independent of data volume
(:func:`expire_history` bounds the record count); version-dir writes are
ordinary distributed parquet jobs; nothing here funnels data through the
driver. Reference parity: the reference rebuilds silver+gold as one
``dbt build`` (/root/reference/transform/dbt_project.yml:6-11) and gets
cross-model consistency only because the warehouse is a single-process
DuckDB file — this module is the distributed, crash-safe equivalent of
that guarantee.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession

from f1_lakehouse_spark.sources.commit import create_exclusive

MANIFEST = "_MANIFEST"
STAGED = "_STAGED"
# the token of a writer that names none: every record carries a writer
DEFAULT_WRITER = "default"


class SimulatedCrash(RuntimeError):
    """Raised by the ``fail_after_writes`` test hook to emulate a process
    crash between a transaction's version-dir writes and its commit
    record. Production code never raises this."""


def _record_path(root: str, txn: int, kind: str = MANIFEST) -> str:
    return os.path.join(root, f"{kind}.v{txn:010d}")


def _read_record(path: str) -> dict | None:
    try:
        with open(path) as f:
            return json.load(f)
    except FileNotFoundError:
        return None


def _history_txns(root: str, kind: str = MANIFEST) -> list[int]:
    """The txn ids of the ``{kind}.v{N}`` records, ascending (an in-flight
    ``create_exclusive`` tmp is not a record; no root, no records)."""
    prefix = kind + ".v"
    try:
        names = os.listdir(root)
    except FileNotFoundError:
        return []
    return sorted(
        int(f[len(prefix):])
        for f in names
        if f.startswith(prefix) and f[len(prefix):].isdigit()
    )


def read_manifest(root: str, txn: int | None = None) -> dict | None:
    """The committed transaction: ``{"txn": int, "tables": {name: version}}``,
    or None before the first publish. Read it ONCE per logical read and
    resolve all tables through the same dict — that is the snapshot. The
    live transaction is the highest-numbered record; one listing of the
    root finds it.

    ``txn`` gives TIME TRAVEL: the record a past commit wrote
    (``_MANIFEST.v{txn}``, immutable, O(#tables) bytes each — the history
    costs nothing at any data scale). The snapshot's version DIRS are only
    retained one publish cycle (see ``publish_tables``) unless a ref pins
    them, so an UNPINNED as-of read reaches exactly one commit back before
    :func:`manifest_read_table` starts degrading to None while a TAGGED
    snapshot stays fully readable until its tag is dropped — Iceberg's
    snapshot list with a short expire_snapshots horizon plus tag
    retention."""
    if txn is not None:
        return _read_record(_record_path(root, txn))
    while True:
        txns = _history_txns(root)
        if not txns:
            return None
        live = _read_record(_record_path(root, txns[-1]))
        if live is not None:
            return live
        # expired between the listing and the open, so a newer record
        # exists: list again


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


def _conflict(txn_id: int, owner: dict | None) -> CommitConflictError:
    return CommitConflictError(
        f"txn {txn_id} was committed by writer "
        f"{(owner or {}).get('writer')!r} — re-read the manifest and retry "
        "with the next txn id"
    )


def _txn_guard(root: str, txn_id: int, writer: str) -> dict | str | None:
    """Returns "committed" when THIS writer's record for ``txn_id`` exists
    (the caller's idempotent replay no-ops), raises ValueError for an
    older txn id, :class:`CommitConflictError` when another writer's
    record or a branch's staging holds it (before staging: with equal
    tokens the branch's version dirs are the ones this publish would
    write), and otherwise returns the live manifest (or None)."""
    cur = read_manifest(root)
    rec = cur if cur is not None and cur["txn"] == txn_id else read_manifest(root, txn_id)
    if rec is not None and rec.get("writer") == writer:
        return "committed"
    if cur is not None and cur["txn"] > txn_id:
        raise ValueError(
            f"txn_id {txn_id} is older than the committed {cur['txn']}"
        )
    if rec is not None:
        raise _conflict(txn_id, rec)
    if os.path.exists(_record_path(root, txn_id, STAGED)):
        # a BRANCH holds this txn id: its staging is deliberately
        # unpromoted (write-audit-publish) — the branch promotes itself
        # via fast_forward
        raise CommitConflictError(
            f"txn {txn_id} is staged on a branch — fast_forward the branch "
            "or retry with the next txn id"
        )
    return cur


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


def _record(cur: dict | None, tables: dict, txn_id: int, writer: str) -> dict:
    """Txn ``txn_id``'s record: the live tables, with ``tables`` at their
    new version."""
    version = _version_name(txn_id, writer)
    prev_tables = dict(cur["tables"]) if cur else {}
    return {
        "txn": txn_id,
        "tables": {**prev_tables, **{n: version for n in tables}},
        "writer": writer,
    }


def _drop_stage(root: str, tables: dict[str, DataFrame], version: str) -> None:
    """Remove a txn's staged version dirs that no record will name."""
    for name in tables:
        shutil.rmtree(os.path.join(root, name, version), ignore_errors=True)


def _commit(
    root: str,
    cur: dict | None,
    tables: dict[str, DataFrame],
    txn_id: int,
    writer: str,
) -> None:
    """Phases 3+4: create the commit record, then per-table one-cycle
    retention. A conflict removes this writer's stage before raising."""
    version = _version_name(txn_id, writer)
    # the record is the commit: the fail-if-exists create (the one
    # compare-and-swap local FS / HDFS give us, Delta's N.json rule) is
    # won by exactly one writer, whose record is live from that instant
    try:
        create_exclusive(
            _record_path(root, txn_id), json.dumps(_record(cur, tables, txn_id, writer))
        )
    except FileExistsError:
        owner = read_manifest(root, txn_id)
        if owner is not None and owner.get("writer") == writer:
            return  # its own record: this publish raced its own replay
        _drop_stage(root, tables, version)
        raise _conflict(txn_id, owner) from None
    # retention: per table, the displaced version survives one cycle for
    # readers holding the previous record; everything STRICTLY OLDER is
    # pruned UNLESS a ref (tag/branch) pins it — a tagged snapshot stays
    # FULLY readable (record + dirs) until the tag is dropped, Iceberg's
    # tag-retention semantics (r11). Same-or-newer txn dirs are never
    # touched here — a concurrent OCC loser may still be mid-write into
    # its own v{txn}-{writer} dir, and rmtree-ing under a running Spark
    # job turns the documented CommitConflictError into an opaque executor
    # crash; the loser cleans its own stage on conflict, and the NEXT
    # commit's retention prunes anything it abandoned (by then strictly
    # older).
    prev_tables = dict(cur["tables"]) if cur else {}
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
    for rec in _ref_records(root):
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
        # durable — the no-op IS the idempotent replay
        return
    _stage_writes(root, tables, _version_name(txn_id, writer), fail_after_writes)
    _commit(root, cur, tables, txn_id, writer)


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
    data read back from disk (what readers would actually see), and create
    the commit record ONLY if the audit returns no violations — a failing
    batch never becomes visible to any reader.

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
    _commit(root, cur, tables, txn_id, writer)
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
# Refs: branches and tags over the commit records (Iceberg refs / Delta
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


def _tag_txn(root: str, name: str) -> int | None:
    try:
        with open(_ref_path(root, name)) as f:
            return int(f.read().strip())
    except FileNotFoundError:
        return None


def _staged_records(root: str) -> list[dict]:
    """Every branch's staged records, txn-ascending (one a concurrent
    drop_ref removed mid-listing is skipped)."""
    paths = (_record_path(root, t, STAGED) for t in _history_txns(root, STAGED))
    return [r for r in map(_read_record, paths) if r is not None]


def _branch_records(root: str, branch: str) -> list[dict]:
    return [r for r in _staged_records(root) if r["branch"] == branch]


def read_ref_manifest(root: str, name: str) -> dict | None:
    """Resolve a ref to its manifest snapshot: a tag's record, or a
    branch's head — its highest staged record, so the head only ever moves
    forward. Feed the result to :func:`manifest_read_table`."""
    txn = _tag_txn(root, name)
    if txn is not None:
        return read_manifest(root, txn)
    branch = _branch_records(root, name)
    return branch[-1] if branch else None


def read_ref(root: str, name: str) -> int | None:
    """The txn id a ref names, or None."""
    rec = read_ref_manifest(root, name)
    return None if rec is None else rec["txn"]


def create_tag(root: str, name: str, txn_id: int) -> None:
    """An IMMUTABLE named pointer to a committed txn (audit marker,
    reproducibility pin). Write-once: re-tagging an existing name, or
    tagging under a branch's name, is an error, never a silent move."""
    if _tag_txn(root, name) is not None or _branch_records(root, name):
        raise FileExistsError(f"ref {name!r} already exists")
    if read_manifest(root, txn_id) is None:
        raise ValueError(f"cannot tag txn {txn_id}: no commit record")
    os.makedirs(os.path.join(root, REFS_DIR), exist_ok=True)
    # exists -> FileExistsError: tags never move; content-atomic so a
    # concurrent read_ref never sees a half-written id
    create_exclusive(_ref_path(root, name), str(txn_id))


def drop_ref(root: str, name: str) -> None:
    """Remove a tag, or a branch with all its staged records (never live).
    The versions only this ref pinned become prunable at the NEXT commit's
    retention pass, and a tag's record becomes expirable (Iceberg:
    dropping a tag releases its snapshot to expire_snapshots). Loud on a
    missing ref — silently 'dropping' a typo would leave the real pin in
    place."""
    if _tag_txn(root, name) is not None:
        os.remove(_ref_path(root, name))
        return
    branch = _branch_records(root, name)
    if not branch:
        raise ValueError(f"no such ref: {name!r}")
    for rec in branch:
        os.remove(_record_path(root, rec["txn"], STAGED))


def _ref_records(root: str) -> list[dict]:
    """The records the refs resolve: every tag's, and every branch's head
    (in-flight unique tmps and a ref dropped mid-listing are skipped)."""
    refs_dir = os.path.join(root, REFS_DIR)
    tags = os.listdir(refs_dir) if os.path.isdir(refs_dir) else []
    recs = [read_ref_manifest(root, n) for n in tags if ".tmp" not in n]
    heads = {r["branch"]: r for r in _staged_records(root)}  # ascending: the last wins
    return [r for r in recs if r is not None] + list(heads.values())


def publish_staged(
    spark: SparkSession,
    root: str,
    tables: dict[str, DataFrame],
    txn_id: int,
    branch: str,
    writer: str = DEFAULT_WRITER,
) -> None:
    """Stage a transaction on a BRANCH without making it live: version
    dirs are written exactly like :func:`publish_tables`, but the record
    is created exclusively as ``_STAGED.v{txn_id}`` (``staged: true``,
    naming its branch), which no live lookup lists — main readers cannot
    see it. The branch's head is its highest staged record. Audit the
    branch via :func:`read_ref_manifest`, then :func:`fast_forward` main.
    A mainline writer at the same txn id gets a CommitConflictError
    (promoting an unaudited staging would defeat the entire WAP gate).
    A replay whose own staged record exists is a no-op."""
    if _tag_txn(root, branch) is not None:
        raise ValueError(f"{branch!r} is a tag, not a branch")
    os.makedirs(root, exist_ok=True)
    # the writer's OWN record is checked BEFORE the ahead-of-live guard:
    # a crash-replay of a staging whose branch has since been
    # fast-forwarded (or superseded) finds the live txn >= txn_id, but
    # its own record proves the staging succeeded — the replay no-ops,
    # mirroring _txn_guard's superseded-replay path
    rec = _read_record(_record_path(root, txn_id, STAGED))
    if rec is not None:
        if rec["writer"] != writer or rec["branch"] != branch:
            raise CommitConflictError(
                f"txn {txn_id} is staged by writer {rec['writer']!r} on "
                f"branch {rec['branch']!r} — re-read and retry with the next "
                "txn id"
            )
        return
    cur = read_manifest(root)
    if cur is not None and cur["txn"] >= txn_id:
        raise ValueError(
            f"staged txn_id {txn_id} is not ahead of the live {cur['txn']}"
        )
    version = _version_name(txn_id, writer)
    _stage_writes(root, tables, version, None)
    record = {**_record(cur, tables, txn_id, writer), "staged": True, "branch": branch}
    try:
        create_exclusive(_record_path(root, txn_id, STAGED), json.dumps(record))
    except FileExistsError:
        _drop_stage(root, tables, version)
        raise CommitConflictError(
            f"lost the record race for staged txn {txn_id} — re-read and "
            "retry with the next txn id"
        ) from None


def fast_forward(root: str, branch: str) -> dict:
    """Promote a branch's head to main — the publish half of branch-WAP:
    create the commit record ``_MANIFEST.v{N}`` for the branch's txn N,
    the same one exclusive step a publish commits with. Refuses when main
    is at or past N, or when another commit takes N first
    (:class:`StaleBranchError` — the branch must rebase); never moves main
    backwards. Returns the now-live manifest."""
    records = _branch_records(root, branch)
    if not records:
        raise ValueError(f"no such branch: {branch!r}")
    head = records[-1]
    promoted = {k: v for k, v in head.items() if k not in ("staged", "branch")}
    live = read_manifest(root)
    if live is None or live["txn"] < head["txn"]:
        try:
            create_exclusive(_record_path(root, head["txn"]), json.dumps(promoted))
            return promoted
        except FileExistsError:
            live = read_manifest(root)
    raise StaleBranchError(
        f"main is at txn {live['txn']}, branch {branch!r} at {head['txn']} "
        "— rebase the branch onto the live snapshot"
    )


def vacuum_orphans(root: str, ttl_seconds: float = 3600.0) -> list[str]:
    """Iceberg ``remove_orphan_files`` analog: delete version dirs NO
    record can reach — no commit record and no branch's staged record.
    Per-commit retention never catches two orphan classes: a crashed
    writer's staging whose txn id is AHEAD of the live txn (retention only
    prunes strictly-older dirs), and abandoned stagings of tables no later
    transaction touches. Both accumulate forever without this pass.

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
    records = [read_manifest(root, t) for t in _history_txns(root)]
    for rec in filter(None, records + _staged_records(root)):
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
    """Expire old ``_MANIFEST.v{N}`` commit records — the Iceberg
    ``expire_snapshots`` analog for the manifest layer. Each record is
    O(#tables) bytes, so data volume is irrelevant; what grows unboundedly
    is the FILE COUNT at real commit rates (one txn per streaming
    micro-batch, streaming/ingest.py), which every live lookup lists, and
    time-travel reads degrade to None after one version-dir retention
    cycle anyway, so old history is dead weight.

    Keeps: the newest ``keep_n`` records — the live record is always the
    newest, so it survives whatever ``keep_n`` — and every record PINNED
    by a ref (tag or branch head — expiring a pinned snapshot would
    silently break the reproducibility guarantee tags exist for). Staged
    records are not history: dropping their branch removes them. Returns
    the expired txn ids (ascending)."""
    if keep_n < 0:
        raise ValueError(f"keep_n must be >= 0, got {keep_n}")
    history = _history_txns(root)
    keep = set(history[len(history) - max(keep_n, 1):])
    keep |= {r["txn"] for r in _ref_records(root)}
    expired = [txn for txn in history if txn not in keep]
    for txn in expired:
        os.remove(_record_path(root, txn))
    return expired
