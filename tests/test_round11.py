"""Round-11 lifecycle mechanics beyond the differential gate.

- sources/txn.py hardening: the exclusive record is the commit, so a
  stalled winner resuming after a newer commit can never rewind the
  snapshot (nor a replayed staging its branch head), every record names
  its writer so an equal-txn collision between writers always conflicts,
  publish_staged is crash-replay idempotent even after its branch was
  fast-forwarded, and manifest history is expirable with tag/branch pins.
- sources/mor.py hardening + upsert: fragment commits are O_EXCL-
  arbitrated (racing deletes can't overwrite each other), a commit
  displaced by a racing compaction is redone rather than silently lost,
  crash-orphaned staging dirs are swept, and latest-wins insert fragments
  give MERGE semantics in one atomic commit.
- sources/txn.table_changes(emit_pre_post=True): Delta-CDF row semantics
  (update_preimage/update_postimage) and the signed-delta identity an
  incremental consumer relies on.
"""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from f1_lakehouse_spark.sources.txn import (
    MANIFEST,
    CommitConflictError,
    SimulatedCrash,
    create_tag,
    expire_history,
    fast_forward,
    publish_staged,
    publish_tables,
    read_manifest,
    read_ref,
    table_changes,
)


def _frames(spark, tag: int):
    a = spark.createDataFrame([(i, tag) for i in range(10)], "id int, tag int")
    b = spark.createDataFrame([(tag, 10)], "tag int, n int")
    return {"silver": a, "gold": b}


# ---------------------------------------------------------------------------
# txn.py: the record is the commit — a stalled winner cannot rewind
# ---------------------------------------------------------------------------


class _Stop(Exception):
    """A simulated crash at a monkeypatched commit step."""


def _hold_thread_a(monkeypatch, root: str, ref: str = MANIFEST):
    """Hold thread ``a`` at its last commit write: in a layout that keeps
    a live pointer file (``ref`` under ``root``), that file's replacing
    write; otherwise right after its record's exclusive create. Returns
    (held, release) events."""
    import threading

    import f1_lakehouse_spark.sources.commit as commit
    import f1_lakehouse_spark.sources.txn as txn

    pointer = os.path.join(root, ref)
    held, release = threading.Event(), threading.Event()
    real_write, real_create = commit.atomic_write, txn.create_exclusive

    def hold() -> None:
        if threading.current_thread().name == "a" and not held.is_set():
            held.set()
            assert release.wait(120)

    def atomic_write(path, payload):
        if path == pointer:
            hold()
        return real_write(path, payload)

    def create_exclusive(path, payload):
        real_create(path, payload)
        if not os.path.exists(os.path.join(root, MANIFEST)):
            hold()

    monkeypatch.setattr(commit, "atomic_write", atomic_write)
    monkeypatch.setattr(txn, "create_exclusive", create_exclusive)
    return held, release


def _in_thread_a(fn, outcomes: list, done):
    import threading

    def body():
        try:
            fn()
            outcomes.append("ok")
        except Exception as e:  # the outcome is what the test asserts on
            outcomes.append(e)
        finally:
            done.set()

    t = threading.Thread(target=body, name="a")
    t.start()
    return t


def test_stalled_winner_cannot_rewind_live_pointer(spark, tmp_path, monkeypatch):
    """Writer ``a`` commits txn 2 and is held at its last commit write.
    Meanwhile ``b`` conflicts on txn 2 and commits txn 3. After ``a``
    resumes, the live txn is still 3 (never back to 2), ``b``'s next
    publish at the live id + 1 commits a new txn id (or raises), and txn
    3 still reads ``b``'s rows."""
    import threading

    root = str(tmp_path / "m")
    publish_tables(spark, root, _frames(spark, 1), txn_id=1, writer="a")
    held, release = _hold_thread_a(monkeypatch, root)
    outcomes: list = []
    a = _in_thread_a(
        lambda: publish_tables(spark, root, _frames(spark, 2), txn_id=2, writer="a"),
        outcomes,
        threading.Event(),
    )
    try:
        assert held.wait(120)
        with pytest.raises(CommitConflictError):
            publish_tables(spark, root, _frames(spark, 99), txn_id=2, writer="b")
        publish_tables(spark, root, _frames(spark, 3), txn_id=3, writer="b")
        assert read_manifest(root)["txn"] == 3
    finally:
        release.set()
        a.join(180)
    assert not a.is_alive() and outcomes == ["ok"], outcomes
    assert read_manifest(root)["txn"] == 3, "the live txn went back"
    # b re-reads the live snapshot, as the conflict message says, and
    # publishes its next batch at the following id
    nxt = read_manifest(root)["txn"] + 1
    try:
        publish_tables(spark, root, _frames(spark, 4), txn_id=nxt, writer="b")
    except (CommitConflictError, ValueError):
        pass
    else:
        assert nxt == 4, f"b's next publish reused txn {nxt}"
    from f1_lakehouse_spark.sources.txn import manifest_read_table

    silver3 = manifest_read_table(spark, root, "silver", read_manifest(root, txn=3))
    assert sorted(tuple(r) for r in silver3.collect()) == [(i, 3) for i in range(10)]


def test_staged_replay_racing_newer_staging_never_moves_branch_back(
    spark, tmp_path, monkeypatch
):
    """Writer ``a`` stages txn 2 on branch ``wap`` and stops right after
    its record. Its replay races ``b``'s staging of txn 3 on the same
    branch, held at its last commit write if it makes one: afterwards the
    branch head is txn 3, and it stays there."""
    import f1_lakehouse_spark.sources.txn as txn

    root = str(tmp_path / "m")
    publish_tables(spark, root, _frames(spark, 1), txn_id=1, writer="etl")

    def stage_a():
        publish_staged(spark, root, _frames(spark, 2), txn_id=2, branch="wap", writer="a")

    real_create = txn.create_exclusive

    def create_then_stop(path, payload):
        real_create(path, payload)
        raise _Stop

    with monkeypatch.context() as m:
        m.setattr(txn, "create_exclusive", create_then_stop)
        with pytest.raises(_Stop):
            stage_a()
    with monkeypatch.context() as m:
        held, release = _hold_thread_a(m, root, ref=os.path.join("_refs", "wap"))
        outcomes: list = []
        a = _in_thread_a(stage_a, outcomes, held)
        try:
            # a is held at its ref write, or has finished without one
            assert held.wait(120)
            publish_staged(
                spark, root, _frames(spark, 3), txn_id=3, branch="wap", writer="b"
            )
        finally:
            release.set()
            a.join(180)
    assert not a.is_alive() and outcomes == ["ok"], outcomes
    assert read_ref(root, "wap") == 3, "the branch head moved back"
    stage_a()
    assert read_ref(root, "wap") == 3


def test_commit_manifest_swap_is_guarded_directly(spark, tmp_path):
    """Unit-level check of the commit step: a resumed txn-2 commit, with
    the stale view of the world it read long ago, finds its own record
    and changes nothing — the live snapshot stays txn 3."""
    from f1_lakehouse_spark.sources.txn import _commit

    root = str(tmp_path / "m")
    publish_tables(spark, root, _frames(spark, 1), txn_id=1, writer="w")
    cur1 = read_manifest(root)
    publish_tables(spark, root, _frames(spark, 2), txn_id=2, writer="w")
    rec2 = read_manifest(root, txn=2)
    publish_tables(spark, root, _frames(spark, 3), txn_id=3, writer="w")
    m3 = read_manifest(root)
    _commit(root, cur1, _frames(spark, 2), 2, "w")
    assert read_manifest(root) == m3
    assert read_manifest(root, txn=2) == rec2


# ---------------------------------------------------------------------------
# txn.py: every record names its writer; collisions conflict
# ---------------------------------------------------------------------------


def test_default_writer_conflicts_with_staged_branch(spark, tmp_path):
    """A publish that names no writer, at the txn id a branch holds
    staged under the same default token, conflicts before it stages: the
    branch's record and rows are unchanged."""
    from f1_lakehouse_spark.sources.txn import manifest_read_table, read_ref_manifest

    root = str(tmp_path / "m")
    publish_tables(spark, root, _frames(spark, 1), txn_id=1)
    publish_staged(spark, root, _frames(spark, 2), txn_id=2, branch="wap")
    staged = read_ref_manifest(root, "wap")
    with pytest.raises(CommitConflictError, match="staged on a branch"):
        publish_tables(spark, root, _frames(spark, 99), txn_id=2)
    assert read_manifest(root)["txn"] == 1
    assert read_ref_manifest(root, "wap") == staged
    silver = manifest_read_table(spark, root, "silver", staged)
    assert sorted(tuple(r) for r in silver.collect()) == [(i, 2) for i in range(10)]


@pytest.mark.parametrize("stop", ["live", "after_record"])
@pytest.mark.parametrize("first", ["default", "etl"])
def test_default_and_named_writer_collide(spark, tmp_path, monkeypatch, first, stop):
    """The default writer and an ``etl`` writer publishing one txn id
    conflict whichever commits first, whether the first one's publish
    completed or crashed right after its record: the first is live
    afterwards with its rows, and the second stages nothing."""
    import f1_lakehouse_spark.sources.txn as txn
    from f1_lakehouse_spark.sources.txn import manifest_read_table

    root = str(tmp_path / "m")
    second = "etl" if first == "default" else "default"

    def publish(writer, tag, **kw):
        if writer != "default":  # the default writer names no token
            kw["writer"] = writer
        publish_tables(spark, root, _frames(spark, tag), txn_id=2, **kw)

    publish_tables(spark, root, _frames(spark, 1), txn_id=1, writer="etl")
    if stop == "live":
        publish(first, 2)
    else:
        real_create = txn.create_exclusive

        def create_then_stop(path, payload):
            real_create(path, payload)
            raise _Stop

        with monkeypatch.context() as m:
            m.setattr(txn, "create_exclusive", create_then_stop)
            with pytest.raises(_Stop):
                publish(first, 2)
    with pytest.raises(CommitConflictError):
        publish(second, 99)
    live = read_manifest(root)
    assert live["txn"] == 2 and live["writer"] == first
    silver = manifest_read_table(spark, root, "silver", live)
    assert sorted(tuple(r) for r in silver.collect()) == [(i, 2) for i in range(10)]
    assert not os.path.isdir(os.path.join(root, "silver", f"v0000000002-{second}"))


# ---------------------------------------------------------------------------
# txn.py: publish_staged crash-replay idempotency
# ---------------------------------------------------------------------------


def test_publish_staged_replay_after_fast_forward_noops(spark, tmp_path):
    root = str(tmp_path / "m")
    publish_tables(spark, root, _frames(spark, 1), txn_id=1, writer="etl")
    publish_staged(
        spark, root, _frames(spark, 2), txn_id=2, branch="wap", writer="etl"
    )
    live = fast_forward(root, "wap")
    assert live["txn"] == 2
    # the crash-replay of the staging arrives AFTER the fast-forward: its
    # own commit record proves the staging succeeded — no-op, not a
    # monotonicity ValueError
    publish_staged(
        spark, root, _frames(spark, 2), txn_id=2, branch="wap", writer="etl"
    )
    assert read_manifest(root) == live and read_ref(root, "wap") == 2
    # a later staging moves the branch on; a then-late replay of txn 2
    # must NOT rewind it
    publish_staged(
        spark, root, _frames(spark, 3), txn_id=3, branch="wap", writer="etl"
    )
    publish_staged(
        spark, root, _frames(spark, 2), txn_id=2, branch="wap", writer="etl"
    )
    assert read_ref(root, "wap") == 3
    # a DIFFERENT writer replaying that txn still conflicts
    with pytest.raises(CommitConflictError):
        publish_staged(
            spark, root, _frames(spark, 2), txn_id=2, branch="wap", writer="spy"
        )


# ---------------------------------------------------------------------------
# txn.py: manifest-history expiration
# ---------------------------------------------------------------------------


def test_expire_history_respects_pins_and_live(spark, tmp_path):
    root = str(tmp_path / "m")
    for t in (1, 2, 3, 4):
        publish_tables(spark, root, _frames(spark, t), txn_id=t, writer="w")
    create_tag(root, "audited-v2", 2)
    expired = expire_history(root, keep_n=1)
    # 4 is newest+live, 2 is tag-pinned; 1 and 3 expire
    assert expired == [1, 3]
    assert read_manifest(root, txn=2) is not None  # pinned record survives
    assert read_manifest(root, txn=1) is None
    assert read_manifest(root, txn=3) is None
    assert read_manifest(root)["txn"] == 4  # the live manifest is untouched
    # idempotent: nothing left to expire
    assert expire_history(root, keep_n=1) == []
    # keep_n=0 still keeps pins and the live record
    assert expire_history(root, keep_n=0) == []
    assert read_manifest(root, txn=4) is not None
    with pytest.raises(ValueError, match=">= 0"):
        expire_history(root, keep_n=-1)


def test_expire_history_branch_pin(spark, tmp_path):
    """A staged-branch record is pinned by its branch ref until the
    branch moves or is promoted."""
    root = str(tmp_path / "m")
    publish_tables(spark, root, _frames(spark, 1), txn_id=1, writer="w")
    publish_staged(
        spark, root, _frames(spark, 2), txn_id=2, branch="wap", writer="w"
    )
    publish_tables(spark, root, _frames(spark, 3), txn_id=3, writer="w")
    # hold on to txn 3 (live+newest); txn 2 is branch-pinned; txn 1 expires
    assert expire_history(root, keep_n=1) == [1]
    from f1_lakehouse_spark.sources.txn import read_ref_manifest

    assert read_ref_manifest(root, "wap")["txn"] == 2


# ---------------------------------------------------------------------------
# mor.py: O_EXCL seq arbitration, displaced-commit redo, orphan sweep
# ---------------------------------------------------------------------------


def _mor_base(spark, tmp_path, name="t"):
    from f1_lakehouse_spark.sources.mor import mor_write_base

    tbl = str(tmp_path / name)
    df = spark.createDataFrame(
        [(i, i % 3) for i in range(10)], "id int, grp int"
    )
    mor_write_base(df, tbl)
    return tbl


def test_mor_seq_claim_burned_by_stale_lock(spark, tmp_path):
    """A crashed claim (an orphan claim record) burns its seq: the next
    commit skips to the following seq instead of blocking or clobbering."""
    from f1_lakehouse_spark.sources.mor import CLAIMS, _delete_files, mor_delete

    tbl = _mor_base(spark, tmp_path)
    claims = os.path.join(tbl, "g0000000000", CLAIMS)
    os.makedirs(claims)
    open(os.path.join(claims, "0000000001"), "w").close()
    n = mor_delete(spark, tbl, "id", F.col("id") == 0)
    assert n == 1
    files = _delete_files(tbl, 0)
    assert [os.path.basename(p) for p in files] == ["d0000000002.parquet"]


@pytest.mark.parametrize("kind", ["delete", "upsert"])
def test_mor_held_writer_never_reuses_a_committed_seq(
    spark, tmp_path, monkeypatch, kind
):
    """Writer Y picks its seq and is held at the claim while X commits
    ``mor_delete(id == 1)`` at that seq. Y, a delete of id 2 or an upsert
    of it, then lands at its own seq: the two fragments have distinct seqs
    across deletes and inserts, and id 1 stays deleted."""
    import threading

    import f1_lakehouse_spark.sources.mor as mor

    tbl = _mor_base(spark, tmp_path)
    at_claim, release = threading.Event(), threading.Event()
    real_create = mor.create_exclusive

    def create(path, payload):
        if threading.current_thread().name == "Y" and not at_claim.is_set():
            at_claim.set()
            assert release.wait(120)
        return real_create(path, payload)

    def commit_y():
        try:
            if kind == "delete":
                mor.mor_delete(spark, tbl, "id", F.col("id") == 2)
            else:
                batch = spark.createDataFrame([(2, 9)], "id int, grp int")
                mor.mor_upsert(spark, tbl, "id", batch)
            outcomes.append("ok")
        except Exception as e:  # the outcome is what the test asserts on
            outcomes.append(e)

    monkeypatch.setattr(mor, "create_exclusive", create)
    outcomes = []
    y = threading.Thread(target=commit_y, name="Y")
    y.start()
    try:
        assert at_claim.wait(120)
        assert mor.mor_delete(spark, tbl, "id", F.col("id") == 1) == 1
    finally:
        release.set()
        y.join(180)
    assert not y.is_alive() and outcomes == ["ok"], outcomes
    seqs = sorted(
        s for sub in ("deletes", "inserts") for s, _ in mor._fragments(tbl, 0, sub)
    )
    assert seqs == [1, 2], seqs
    model = {i: i % 3 for i in range(10) if i != 1}
    if kind == "delete":
        del model[2]
    else:
        model[2] = 9
    assert _mor_view(spark, tbl) == model


def test_mor_commit_displaced_by_compaction_is_redone(spark, tmp_path):
    """A fragment commit that lands in a generation a racing compaction
    just displaced is removed and redone against the new live generation —
    the delete is never silently lost."""
    import f1_lakehouse_spark.sources.mor as mor

    tbl = _mor_base(spark, tmp_path)
    real_commit = mor._commit_fragment
    calls = {"n": 0}

    def racing_commit(table_dir, gen, sub, src):
        calls["n"] += 1
        if calls["n"] == 1:
            # compaction wins the race just before our rename lands
            mor.mor_compact(spark, table_dir, "id")
        return real_commit(table_dir, gen, sub, src)

    try:
        mor._commit_fragment = racing_commit
        n = mor.mor_delete(spark, tbl, "id", F.col("id") < 2)
    finally:
        mor._commit_fragment = real_commit
    assert n == 2
    assert calls["n"] == 2  # first commit displaced, second succeeded
    assert mor._live_gen(tbl) == 1
    # the displaced generation holds no orphan fragment
    assert mor._delete_files(tbl, 0) == []
    ids = {r["id"] for r in mor.mor_read(spark, tbl, "id").collect()}
    assert ids == set(range(2, 10))


def test_mor_staging_orphans_swept_by_compaction(spark, tmp_path):
    """Only STALE staging dirs are swept (age-gated): a compaction racing
    a live writer's in-flight staging must leave it alone."""
    import time

    from f1_lakehouse_spark.sources.mor import _STAGING_TTL_SECONDS, mor_compact

    tbl = _mor_base(spark, tmp_path)
    stale = os.path.join(tbl, "_staging_deadbeef")
    fresh = os.path.join(tbl, "_staging_cafebabe")
    os.makedirs(stale)
    os.makedirs(fresh)
    old = time.time() - _STAGING_TTL_SECONDS - 60
    os.utime(stale, (old, old))
    mor_compact(spark, tbl, "id")
    assert not os.path.isdir(stale)
    assert os.path.isdir(fresh)


def _mor_view(spark, tbl):
    from f1_lakehouse_spark.sources.mor import mor_read

    return {r["id"]: r["grp"] for r in mor_read(spark, tbl, "id").collect()}


def _run_compaction(spark, tbl, outcomes):
    """Thread body: record mor_compact's outcome ("ok" or the exception)."""
    from f1_lakehouse_spark.sources.mor import mor_compact

    try:
        mor_compact(spark, tbl, "id")
        outcomes.append("ok")
    except Exception as e:  # the outcome is what the test asserts on
        outcomes.append(e)


def test_mor_stalled_compactor_cannot_rewind(spark, tmp_path, monkeypatch):
    """Compactor B folds g0, then stalls at its commit point while A and C
    compact, with an upsert committed after each. When B resumes, the
    generation pointer never moves back, no committed upsert disappears,
    and B either conflicts or succeeds without rewinding."""
    import threading

    import f1_lakehouse_spark.sources.mor as mor

    tbl = _mor_base(spark, tmp_path)
    model = {i: i % 3 for i in range(10)}
    at_claim, release = threading.Event(), threading.Event()
    real_claim = mor._claim_generation

    def claim(table_dir, staging, gen):
        if threading.current_thread().name == "B":
            at_claim.set()
            assert release.wait(120)
        return real_claim(table_dir, staging, gen)

    monkeypatch.setattr(mor, "_claim_generation", claim)
    outcomes = []
    b = threading.Thread(
        target=_run_compaction, args=(spark, tbl, outcomes), name="B"
    )
    b.start()
    try:
        assert at_claim.wait(120)
        gens = [mor._live_gen(tbl)]
        for new_id in (100, 101):  # compaction A, then compaction C
            mor.mor_compact(spark, tbl, "id")
            gens.append(mor._live_gen(tbl))
            rows = [(new_id, 7), (new_id - 99, 8)]
            df = spark.createDataFrame(rows, "id int, grp int")
            mor.mor_upsert(spark, tbl, "id", df)
            model.update(dict(rows))
            gens.append(mor._live_gen(tbl))
    finally:
        release.set()
        b.join(180)
    assert not b.is_alive()
    gens.append(mor._live_gen(tbl))
    assert gens == sorted(gens) and gens[-1] == 2, gens
    assert _mor_view(spark, tbl) == model
    assert outcomes == ["ok"] or isinstance(outcomes[0], CommitConflictError), outcomes


def test_mor_racing_compactors_one_conflicts(spark, tmp_path, monkeypatch):
    """Two compactions of the same generation meet at the claim: exactly
    one raises CommitConflictError (not a Spark write error from both
    writing one g1/base), the rows are unchanged and no staging is left."""
    import threading

    import f1_lakehouse_spark.sources.mor as mor

    tbl = _mor_base(spark, tmp_path)
    mor.mor_delete(spark, tbl, "id", F.col("id") == 3)
    before = _mor_view(spark, tbl)
    barrier = threading.Barrier(2, timeout=120)
    real_claim = mor._claim_generation

    def claim(table_dir, staging, gen):
        barrier.wait()
        return real_claim(table_dir, staging, gen)

    monkeypatch.setattr(mor, "_claim_generation", claim)
    outcomes = []
    threads = [
        threading.Thread(target=_run_compaction, args=(spark, tbl, outcomes))
        for _ in range(2)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(180)
    assert not any(t.is_alive() for t in threads)
    errors = [o for o in outcomes if o != "ok"]
    assert len(outcomes) == 2 and len(errors) == 1, outcomes
    assert isinstance(errors[0], CommitConflictError), errors
    assert mor._live_gen(tbl) == 1
    assert _mor_view(spark, tbl) == before
    assert [e for e in os.listdir(tbl) if e.startswith("_staging_")] == []


def test_mor_crashed_compactor_is_rolled_forward(spark, tmp_path, monkeypatch):
    """A compaction that stops right after claiming g1, before its
    carry-forward, has committed: g1 is live at its claim. The next
    compaction carries forward the delete committed into g0 after the
    fold's snapshot before it folds, so the delete survives."""
    import f1_lakehouse_spark.sources.mor as mor

    tbl = _mor_base(spark, tmp_path)
    real_claim = mor._claim_generation

    def claim(table_dir, staging, gen):
        keys = spark.createDataFrame([(5,)], "id int")  # lands after the snapshot
        part_dir, part, _ = mor._stage_single_file(keys, table_dir)
        assert mor._commit_fragment(table_dir, 0, "deletes", part) is True
        shutil.rmtree(part_dir)
        assert real_claim(table_dir, staging, gen)
        raise _Stop

    with monkeypatch.context() as m:
        m.setattr(mor, "_claim_generation", claim)
        with pytest.raises(_Stop):
            mor.mor_compact(spark, tbl, "id")
    assert mor._live_gen(tbl) == 1
    mor.mor_compact(spark, tbl, "id")
    assert mor._live_gen(tbl) == 2
    assert set(_mor_view(spark, tbl)) == set(range(10)) - {5}
    assert [e for e in os.listdir(tbl) if e.startswith("_staging_")] == []


# ---------------------------------------------------------------------------
# mor.py: upsert (latest-wins insert fragments)
# ---------------------------------------------------------------------------


def test_mor_upsert_update_insert_delete_reinsert(spark, tmp_path):
    from f1_lakehouse_spark.sources.mor import (
        _delete_files,
        _insert_files,
        base_dir,
        mor_compact,
        mor_delete,
        mor_read,
        mor_upsert,
    )

    tbl = _mor_base(spark, tmp_path)

    def view():
        return {r["id"]: r["grp"] for r in mor_read(spark, tbl, "id").collect()}

    base_census = sorted(os.listdir(base_dir(tbl)))
    # update id 3 (grp 99) + insert id 20 (grp 7) in ONE commit
    up = spark.createDataFrame([(3, 99), (20, 7)], "id int, grp int")
    assert mor_upsert(spark, tbl, "id", up) == 2
    got = view()
    assert got[3] == 99 and got[20] == 7 and len(got) == 11
    # base untouched (merge-on-read, not copy-on-write)
    assert sorted(os.listdir(base_dir(tbl))) == base_census
    # a later delete kills the upserted row (delete seq > insert seq)
    assert mor_delete(spark, tbl, "id", F.col("id").isin(3, 20)) == 2
    got = view()
    assert 3 not in got and 20 not in got and len(got) == 9
    # a later upsert re-inserts past the delete (insert seq > delete seq)
    assert mor_upsert(spark, tbl, "id", spark.createDataFrame([(20, 8)], "id int, grp int")) == 1
    got = view()
    assert got[20] == 8 and 3 not in got
    # stacked upserts: latest wins
    assert mor_upsert(spark, tbl, "id", spark.createDataFrame([(20, 9)], "id int, grp int")) == 1
    assert view()[20] == 9
    # compaction folds inserts AND deletes, content-identically
    pre = sorted(view().items())
    mor_compact(spark, tbl, "id")
    assert sorted(view().items()) == pre
    assert _delete_files(tbl, 1) == [] and _insert_files(tbl, 1) == []
    # pinned reader of the displaced generation reconstructs the same rows
    pinned = {r["id"]: r["grp"] for r in mor_read(spark, tbl, "id", gen=0).collect()}
    assert sorted(pinned.items()) == pre


@pytest.mark.parametrize(
    "data, schema, error",
    [
        ([(1, 5), (1, 6)], "id int, grp int", "unique keys"),
        ([(None, 5), (None, 6)], "id int, grp int", "unique keys"),
        ([(None, 5)], "id int, grp int", None),
        ([(1,)], "id int", "base schema"),
        ([(1, 5, 0)], "id int, grp int, x int", "base schema"),
        ([(1, 5)], "id long, grp int", "base schema"),
    ],
    ids=[
        "duplicate_keys",
        "two_null_keys",
        "one_null_key",
        "missing_column",
        "extra_column",
        "key_type",
    ],
)
def test_mor_upsert_rejects_duplicate_keys(spark, tmp_path, data, schema, error):
    """A batch with duplicate keys (NULL counts as one key) or a schema
    other than the base's is rejected before anything is staged, and the
    table stays readable; a single NULL-key row is a valid batch."""
    from f1_lakehouse_spark.sources.mor import _insert_files, mor_read, mor_upsert

    tbl = _mor_base(spark, tmp_path)
    base_rows = [(i, i % 3) for i in range(10)]
    batch = spark.createDataFrame(data, schema)

    def view():
        return sorted(
            (tuple(r) for r in mor_read(spark, tbl, "id").collect()),
            key=lambda r: (r[0] is not None, r),
        )

    if error is None:
        assert mor_upsert(spark, tbl, "id", batch) == 1
        assert view() == [(None, 5), *base_rows]
        return
    with pytest.raises(ValueError, match=error):
        mor_upsert(spark, tbl, "id", batch)
    # no fragment was committed by the failed batch
    assert _insert_files(tbl, 0) == []
    assert view() == base_rows


def test_mor_read_cost_independent_of_fragment_count(spark, tmp_path):
    """One scan per fragment kind: the same filtered aggregate over the
    merged view fires the same number of Spark jobs, and plans the same
    three parquet relations (base, all insert files, all delete files), at
    2 and at 6 live fragments."""
    from f1_lakehouse_spark.sources.mor import mor_delete, mor_read, mor_upsert

    tbl = _mor_base(spark, tmp_path)
    dag = spark.sparkContext._jsc.sc().dagScheduler()

    def upsert(key):
        batch = spark.createDataFrame([(key, 7)], "id int, grp int")
        assert mor_upsert(spark, tbl, "id", batch) == 1

    def delete(key):
        assert mor_delete(spark, tbl, "id", F.col("id") == key) == 1

    def read():
        j0 = int(dag.nextJobId())
        df = mor_read(spark, tbl, "id").filter(F.col("grp") > 0)
        got = tuple(df.agg(F.count("*"), F.sum("id")).first())
        jobs = int(dag.nextJobId()) - j0
        leaves = df._jdf.queryExecution().sparkPlan().collectLeaves()
        nodes, relations = 0, set()
        for i in range(leaves.size()):
            leaf = leaves.apply(i)
            if leaf.getClass().getSimpleName() == "FileSourceScanExec":
                paths = leaf.relation().location().rootPaths()
                nodes += 1
                relations.add(
                    frozenset(paths.apply(j).toString() for j in range(paths.size()))
                )
        return got, jobs, nodes, sorted(len(r) for r in relations)

    upsert(20)
    delete(1)
    got2, jobs2, nodes2, rel2 = read()
    upsert(21)
    delete(2)
    upsert(22)
    delete(3)
    got6, jobs6, nodes6, rel6 = read()
    assert got2 == (6, 46) and got6 == (7, 87)
    assert jobs2 == jobs6, (jobs2, jobs6)
    assert nodes2 == nodes6, (nodes2, nodes6)
    # base dir, the one insert file, the one delete file; then base dir,
    # three insert files in one relation, three delete files in another
    assert rel2 == [1, 1, 1] and rel6 == [1, 3, 3], (rel2, rel6)


# ---------------------------------------------------------------------------
# txn.table_changes pre/post images
# ---------------------------------------------------------------------------


def test_table_changes_pre_post_images(spark, tmp_path):
    root = str(tmp_path / "m")
    schema = "user_id int, ts int, event_id int, payload string"
    old = spark.createDataFrame(
        [(1, 10, 100, "a"), (2, 20, 200, "b"), (3, 30, 300, None)], schema
    )
    new = spark.createDataFrame(
        [(1, 15, 150, "a2"), (3, 30, 300, None), (4, 40, 400, "d")], schema
    )
    publish_tables(spark, root, {"silver": old}, txn_id=1)
    publish_tables(spark, root, {"silver": new}, txn_id=2)
    cdf = table_changes(
        spark, root, "silver", 1, 2,
        key_cols=["user_id"], order_cols=["ts", "event_id"],
        emit_pre_post=True,
    )
    got = sorted(
        (r["user_id"], r["_change_type"], r["ts"], r["payload"])
        for r in cdf.collect()
    )
    assert got == [
        (1, "update_postimage", 15, "a2"),
        (1, "update_preimage", 10, "a"),
        (2, "delete", 20, "b"),
        (4, "insert", 40, "d"),
    ]
    # the signed-delta identity an incremental consumer relies on:
    # old_agg + (post+insert) - (pre+delete) == new_agg
    sign = F.when(
        F.col("_change_type").isin("insert", "update_postimage"), F.lit(1)
    ).otherwise(F.lit(-1))
    delta = cdf.agg(F.sum(sign * F.col("ts")).alias("d")).collect()[0]["d"]
    old_sum = old.agg(F.sum("ts")).collect()[0][0]
    new_sum = new.agg(F.sum("ts")).collect()[0][0]
    assert old_sum + delta == new_sum


# ---------------------------------------------------------------------------
# txn.py: ref-pinned version-dir retention + drop_ref
# ---------------------------------------------------------------------------


def test_tag_pins_version_dirs_until_dropped(spark, tmp_path):
    """A tag keeps its snapshot's version DIRS alive across any number of
    retention cycles (Iceberg tag retention); dropping the tag releases
    them to the next commit's retention pass."""
    from f1_lakehouse_spark.sources.txn import drop_ref, manifest_read_table

    root = str(tmp_path / "m")
    publish_tables(spark, root, _frames(spark, 1), txn_id=1, writer="w")
    create_tag(root, "keep", 1)
    for t in (2, 3, 4):
        publish_tables(spark, root, _frames(spark, t), txn_id=t, writer="w")
    # negative control: untagged txn-2 dirs aged out on the normal cycle
    assert (
        manifest_read_table(spark, root, "silver", read_manifest(root, txn=2))
        is None
    )
    # tagged txn-1 still fully readable, content-exact
    pinned = manifest_read_table(spark, root, "silver", read_manifest(root, txn=1))
    assert pinned is not None
    assert sorted(tuple(r) for r in pinned.collect()) == [
        (i, 1) for i in range(10)
    ]
    drop_ref(root, "keep")
    publish_tables(spark, root, _frames(spark, 5), txn_id=5, writer="w")
    assert (
        manifest_read_table(spark, root, "silver", read_manifest(root, txn=1))
        is None
    ), "dropped-tag versions still retained"
    with pytest.raises(ValueError, match="no such ref"):
        drop_ref(root, "keep")


def test_branch_pins_version_dirs_while_stale(spark, tmp_path):
    """A stale branch's staged version dirs survive mainline retention
    (r11 change — previously lost), so the audit can still read the
    staging right up until the rebase re-points the branch."""
    from f1_lakehouse_spark.sources.txn import (
        manifest_read_table,
        read_ref_manifest,
    )

    root = str(tmp_path / "m")
    publish_tables(spark, root, _frames(spark, 1), txn_id=1, writer="etl")
    publish_staged(
        spark, root, _frames(spark, 99), txn_id=2, branch="wap", writer="bot"
    )
    # mainline advances twice past the branch
    publish_tables(spark, root, _frames(spark, 3), txn_id=3, writer="etl")
    publish_tables(spark, root, _frames(spark, 4), txn_id=4, writer="etl")
    staged = read_ref_manifest(root, "wap")
    df = manifest_read_table(spark, root, "silver", staged)
    assert df is not None, "branch-pinned staging was pruned"
    assert sorted(tuple(r) for r in df.collect()) == [(i, 99) for i in range(10)]


# ---------------------------------------------------------------------------
# txn.py: orphan vacuum
# ---------------------------------------------------------------------------


def test_vacuum_orphans_classes_and_age_gate(spark, tmp_path):
    """Both orphan classes retention never catches are vacuumed (ahead-of-
    live txn ids, abandoned tables); reachable versions — live, displaced-
    but-history-referenced, ref-pinned — and fresh (in-TTL) stagings all
    survive."""
    from f1_lakehouse_spark.sources.txn import manifest_read_table, vacuum_orphans

    root = str(tmp_path / "m")
    publish_tables(spark, root, _frames(spark, 1), txn_id=1, writer="w")
    publish_tables(spark, root, _frames(spark, 2), txn_id=2, writer="w")
    # ahead-of-live orphan + abandoned-table orphan (crash before record)
    with pytest.raises(SimulatedCrash):
        publish_tables(
            spark, root, _frames(spark, 9), txn_id=9, writer="g",
            fail_after_writes=1,
        )
    with pytest.raises(SimulatedCrash):
        publish_tables(
            spark, root, {"scratch": _frames(spark, 3)["gold"]}, txn_id=3,
            writer="g", fail_after_writes=1,
        )
    ahead = os.path.join(root, "gold", "v0000000009-g")
    abandoned = os.path.join(root, "scratch", "v0000000003-g")
    assert os.path.isdir(ahead) and os.path.isdir(abandoned)
    # fresh (in-TTL) orphans survive: vacuum with a 1h TTL removes nothing
    assert vacuum_orphans(root) == []
    # age the two orphans past the TTL
    for p in (ahead, abandoned):
        old = os.path.getmtime(p) - 7200
        os.utime(p, (old, old))
    removed = vacuum_orphans(root)
    assert removed == sorted([ahead, abandoned])
    # reachable versions all survive: live + history-referenced displaced
    assert manifest_read_table(spark, root, "silver", read_manifest(root)) is not None
    assert (
        manifest_read_table(spark, root, "silver", read_manifest(root, txn=1))
        is not None
    )
    # idempotent
    assert vacuum_orphans(root) == []


# ---------------------------------------------------------------------------
# review fixes (r11): carry-forward, two-sided token guard, WAP loser
# cleanup, content-atomic exclusive creates
# ---------------------------------------------------------------------------


def test_mor_compaction_carries_forward_late_fragments(spark, tmp_path, monkeypatch):
    """A fragment committed while the compaction's fold job is running
    (writer's re-verify still sees the old generation → reports
    success) must be carried forward into the new generation — the
    ordering the displaced-commit redo cannot catch."""
    import shutil as _sh

    import f1_lakehouse_spark.sources.mor as mor

    tbl = _mor_base(spark, tmp_path)
    mor.mor_delete(spark, tbl, "id", F.col("id") == 0)  # folded normally
    real_claim = mor._claim_generation

    def claim_after_late_commit(table_dir, staging, gen):
        # the racing writer's fragment lands AFTER the fold snapshot and
        # BEFORE the claim; its own re-verify passes (g0 still live)
        keys = spark.createDataFrame([(5,)], "id int")
        part_dir, part, _ = mor._stage_single_file(keys, table_dir)
        assert mor._commit_fragment(table_dir, 0, "deletes", part) is True
        _sh.rmtree(part_dir, ignore_errors=True)
        return real_claim(table_dir, staging, gen)

    monkeypatch.setattr(mor, "_claim_generation", claim_after_late_commit)
    mor.mor_compact(spark, tbl, "id")
    assert mor._live_gen(tbl) == 1
    # the late delete was NOT lost: id 5 is suppressed in the new gen
    ids = {r["id"] for r in mor.mor_read(spark, tbl, "id").collect()}
    assert ids == set(range(1, 10)) - {5}, ids
    assert len(mor._delete_files(tbl, 1)) == 1  # carried fragment lives on


def test_wap_loser_cleans_staging_on_conflict(spark, tmp_path):
    """write_audit_publish honors the same loser contract as
    publish_tables: losing the commit-record race must not leak the
    audited staging."""
    from f1_lakehouse_spark.sources.txn import write_audit_publish

    root = str(tmp_path / "m")
    publish_tables(spark, root, _frames(spark, 1), txn_id=1, writer="a")
    b_record = {
        "txn": 2,
        "tables": {"silver": "v0000000002-b", "gold": "v0000000002-b"},
        "writer": "b",
    }
    with open(os.path.join(root, f"{MANIFEST}.v{2:010d}"), "w") as f:
        json.dump(b_record, f)
    with pytest.raises(CommitConflictError):
        write_audit_publish(
            spark, root, _frames(spark, 9), 2, lambda staged: [], writer="a"
        )
    assert not os.path.isdir(os.path.join(root, "silver", "v0000000002-a"))
    assert not os.path.isdir(os.path.join(root, "gold", "v0000000002-a"))
    # the winner's record is the live snapshot
    assert read_manifest(root) == b_record


def test_create_exclusive_is_content_atomic(tmp_path):
    """The exclusive record create commits CONTENT atomically (link of a
    fully-written tmp): a second create fails, the first one's payload is
    complete, and no tmp litter remains. ``claim_rename`` moves a staged
    directory onto a free name, and never onto a claimed one."""
    from f1_lakehouse_spark.sources.commit import claim_rename, create_exclusive

    path = str(tmp_path / "rec")
    create_exclusive(path, '{"txn": 1}')
    assert json.load(open(path)) == {"txn": 1}
    with pytest.raises(FileExistsError):
        create_exclusive(path, '{"txn": 99}')
    assert json.load(open(path)) == {"txn": 1}  # loser never clobbers
    assert [f for f in os.listdir(tmp_path) if ".tmp" in f] == []

    for stage in ("s1", "s2"):
        os.makedirs(tmp_path / stage)
        (tmp_path / stage / "part").write_text(stage)
    assert claim_rename(str(tmp_path / "s1"), str(tmp_path / "g1")) is True
    assert claim_rename(str(tmp_path / "s2"), str(tmp_path / "g1")) is False
    assert (tmp_path / "g1" / "part").read_text() == "s1"  # the winner's
    assert (tmp_path / "s2" / "part").read_text() == "s2"  # loser untouched


# --- Bloom-filter runtime join filter (operators/joins.py) -------------------


def test_bloom_prefilter_prunes_and_is_sound(spark):
    from f1_lakehouse_spark.operators.joins import (
        bloom_filter_frame,
        bloom_prefilter,
    )

    fact = spark.range(0, 2000).select(F.col("id").alias("fk"))
    build = spark.createDataFrame(
        [(7,), (42,), (901,), (1500,), (1999,)], "bk bigint"
    )
    bloom = bloom_filter_frame(build, "bk", 5)
    pruned = bloom_prefilter(fact, "fk", bloom)
    kept = {r.fk for r in pruned.collect()}
    # soundness: every build key survives (no false negatives)
    assert {7, 42, 901, 1500, 1999} <= kept
    # effectiveness: with m=1024 bits for 5 keys, fp ~ 0 -> a strict
    # minority of the 2000 fact rows survives the map-side filter
    assert len(kept) < 2000 // 10, f"bloom kept {len(kept)} of 2000 rows"
    # the exact join behind the filter reproduces the plain join
    plain = sorted(
        r.fk for r in fact.join(build, fact["fk"] == build["bk"]).collect()
    )
    filtered = sorted(
        r.fk for r in pruned.join(build, pruned["fk"] == build["bk"]).collect()
    )
    assert plain == filtered == [7, 42, 901, 1500, 1999]


def test_bloom_prefilter_empty_build_empties_probe(spark):
    from f1_lakehouse_spark.operators.joins import (
        bloom_filter_frame,
        bloom_prefilter,
    )

    fact = spark.range(0, 50).select(F.col("id").alias("fk"))
    empty = spark.createDataFrame([], "bk bigint")
    bloom = bloom_filter_frame(empty, "bk", 1)
    # the 0-row bloom frame is the correct inner-join limit: no fact row
    # can match an empty build side, and the cross join encodes that
    assert bloom_prefilter(fact, "fk", bloom).count() == 0


# --- partition-spec evolution (sources/spec_evolution.py) --------------------


def test_spec_evolution_mechanics(spark, tmp_path):
    from f1_lakehouse_spark.sources.spec_evolution import (
        append_rows,
        create_table,
        evolve_spec,
        read_specs,
        read_table,
    )

    tbl = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, "a", "2024-01-01"), (2, "b", "2024-01-02")], "k bigint, g string, d string"
    )
    assert create_table(spark, tbl, df, ["g"]) == 0
    with pytest.raises(ValueError, match="already exists"):
        create_table(spark, tbl, df)
    # evolving to the SAME spec no-ops; a new one bumps the id
    assert evolve_spec(tbl, ["g"]) == 0
    assert evolve_spec(tbl, ["d"]) == 1
    with pytest.raises(ValueError, match="not in table schema"):
        evolve_spec(tbl, ["nope"])
    # append resolves columns BY NAME against the frozen schema
    late = spark.createDataFrame(
        [("2024-01-03", 3, "c")], "d string, k bigint, g string"
    )
    assert append_rows(spark, tbl, late) == 1
    with pytest.raises(ValueError, match="schema mismatch"):
        append_rows(spark, tbl, late.drop("g"))
    got = sorted(tuple(r) for r in read_table(spark, tbl).collect())
    assert got == [
        (1, "a", "2024-01-01"),
        (2, "b", "2024-01-02"),
        (3, "c", "2024-01-03"),
    ]
    assert [s["spec_id"] for s in read_specs(tbl)["specs"]] == [0, 1]


def test_spec_evolution_empty_segment_skipped(spark, tmp_path):
    from f1_lakehouse_spark.sources.spec_evolution import (
        create_table,
        evolve_spec,
        read_table,
    )

    tbl = str(tmp_path / "t")
    df = spark.createDataFrame([(1, "x")], "k bigint, g string")
    create_table(spark, tbl, df, [])
    # spec evolves but nothing is ever appended under it: the reader
    # must not fail on the missing segment
    evolve_spec(tbl, ["g"])
    assert [tuple(r) for r in read_table(spark, tbl).collect()] == [(1, "x")]


def test_spec_evolution_restores_frozen_types(spark, tmp_path):
    from f1_lakehouse_spark.sources.spec_evolution import (
        create_table,
        read_table,
    )

    tbl = str(tmp_path / "t")
    # date-shaped STRINGS as a partition column: hive dir inference would
    # deserialize them as DATE; the frozen schema casts them back
    df = spark.createDataFrame(
        [(1, "2024-01-01"), (2, "2024-01-02")], "k bigint, d string"
    )
    create_table(spark, tbl, df, ["d"])
    back = read_table(spark, tbl)
    assert dict(back.dtypes)["d"] == "string"
    assert sorted(tuple(r) for r in back.collect()) == [
        (1, "2024-01-01"),
        (2, "2024-01-02"),
    ]
