"""Round-11 lifecycle mechanics beyond the differential gate.

- sources/txn.py hardening: the exclusive record is the commit, so a
  stalled winner resuming after a newer commit can never rewind the
  snapshot (nor a replayed staging its branch head), every record names
  its writer so an equal-txn collision between writers always conflicts,
  publish_staged is crash-replay idempotent even after its branch was
  fast-forwarded, and manifest history is expirable with tag/branch pins.
- sources/mor.py: every commit is one rename onto the next seq of one
  log, so racing deletes, upserts and compactions each get their own
  entry, a compaction never changes the view (not even for a commit that
  races its fold), a stalled compactor is never live, crash-orphaned
  staging dirs are swept, and latest-wins insert fragments give MERGE
  semantics in one atomic commit.
- sources/txn.table_changes(emit_pre_post=True): Delta-CDF row semantics
  (update_preimage/update_postimage) and the signed-delta identity an
  incremental consumer relies on.
"""

from __future__ import annotations

import json
import os

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
# mor.py: one commit log — every commit is one rename onto the next seq
# ---------------------------------------------------------------------------


def _mor_base(spark, tmp_path, name="t"):
    from f1_lakehouse_spark.sources.mor import mor_write_base

    tbl = str(tmp_path / name)
    df = spark.createDataFrame(
        [(i, i % 3) for i in range(10)], "id int, grp int"
    )
    mor_write_base(df, tbl)
    return tbl


_MOR_BASE_VIEW = {i: i % 3 for i in range(10)}


def _mor_base_view_without(key):
    return {k: v for k, v in _MOR_BASE_VIEW.items() if k != key}


def _mor_view(spark, tbl):
    from f1_lakehouse_spark.sources.mor import mor_read

    return {r["id"]: r["grp"] for r in mor_read(spark, tbl, "id").collect()}


def _mor_upsert(spark, tbl, rows):
    from f1_lakehouse_spark.sources.mor import mor_upsert

    df = spark.createDataFrame(rows, "id int, grp int")
    assert mor_upsert(spark, tbl, "id", df) == len(rows)


def _mor_log(tbl):
    return sorted(int(e) for e in os.listdir(os.path.join(tbl, "_log")))


def _hook_commits(monkeypatch, hook):
    """Route every MoR commit rename through ``hook(kind, rename)``:
    ``kind`` is "base" for a staged base (a compaction) and "fragment"
    otherwise, and ``rename()`` performs the real rename and returns
    whether it claimed the name. Commits the hook makes itself come back
    through it, so it keeps its own state."""
    import f1_lakehouse_spark.sources.mor as mor

    real = mor.claim_rename

    def claim(src, dst):
        kind = "base" if os.path.isdir(os.path.join(src, "base")) else "fragment"
        return hook(kind, lambda: real(src, dst))

    monkeypatch.setattr(mor, "claim_rename", claim)


def test_mor_delete_after_fold_snapshot_stays_hidden(spark, tmp_path, monkeypatch):
    """A delete of id 5 commits after a compaction's snapshot and before
    its commit. Every read from the delete's commit on hides id 5: right
    after it, right after the compaction's commit, and after the
    compaction returns."""
    import f1_lakehouse_spark.sources.mor as mor

    tbl = _mor_base(spark, tmp_path)
    views = []

    def hook(kind, rename):
        if kind == "base" and not views:
            assert mor.mor_delete(spark, tbl, "id", F.col("id") == 5) == 1
            views.append(_mor_view(spark, tbl))
        ok = rename()
        if kind == "base" and ok:
            views.append(_mor_view(spark, tbl))
        return ok

    _hook_commits(monkeypatch, hook)
    mor.mor_compact(spark, tbl, "id")
    views.append(_mor_view(spark, tbl))
    model = _mor_base_view_without(5)
    assert views == [model] * 3, views


def test_mor_folded_upsert_is_not_redone_over_a_newer_one(spark, tmp_path, monkeypatch):
    """W's upsert of id 5 -> 1 commits, a compaction folds it and X
    upserts id 5 -> 2, all before W returns. W's commit is not redone
    over X's: id 5 stays 2."""
    import f1_lakehouse_spark.sources.mor as mor

    tbl = _mor_base(spark, tmp_path)
    done = []

    def hook(kind, rename):
        ok = rename()
        if kind == "fragment" and not done:
            done.append(True)
            mor.mor_compact(spark, tbl, "id")
            assert _mor_view(spark, tbl)[5] == 1
            _mor_upsert(spark, tbl, [(5, 2)])
        return ok

    _hook_commits(monkeypatch, hook)
    _mor_upsert(spark, tbl, [(5, 1)])
    assert _mor_view(spark, tbl) == {**_MOR_BASE_VIEW, 5: 2}


def test_mor_late_delete_does_not_change_the_view_across_compaction(
    spark, tmp_path, monkeypatch
):
    """W's delete of id 5 is held at its rename while X upserts id 5 -> 2
    and a compaction folds X. W's rename is let go right before the
    compaction's commit. The view just before that commit equals the view
    after the compaction returns: a compaction never changes the table.
    W's delete commits after X's upsert, so in the end id 5 is gone."""
    import f1_lakehouse_spark.sources.mor as mor

    tbl = _mor_base(spark, tmp_path)
    held, views = [], []

    def hook(kind, rename):
        if kind == "fragment" and not held:  # W
            held.append(rename)
            _mor_upsert(spark, tbl, [(5, 2)])  # X
            mor.mor_compact(spark, tbl, "id")
            views.append(_mor_view(spark, tbl))
            return held[1]  # whether W's rename claimed its seq
        if kind == "base" and len(held) == 1:
            held.append(held[0]())  # W lands before the compaction commits
            views.append(_mor_view(spark, tbl))
        return rename()

    _hook_commits(monkeypatch, hook)
    assert mor.mor_delete(spark, tbl, "id", F.col("id") == 5) == 1
    assert views[0] == views[1] == {**_MOR_BASE_VIEW, 5: 2}, views
    assert _mor_view(spark, tbl) == _mor_base_view_without(5)


def test_mor_racing_compactions_furthest_fold_stays_live(spark, tmp_path, monkeypatch):
    """Compaction A folds, then a delete commits, then A commits. Before A
    checks its commit, compaction B folds through the delete and commits.
    B's fold reaches further, so B's base is live and B returns, A raises
    CommitConflictError, and the view equals the model."""
    import f1_lakehouse_spark.sources.mor as mor

    tbl = _mor_base(spark, tmp_path)
    steps = []

    def hook(kind, rename):
        if kind == "base" and not steps:  # A, after its fold
            steps.append("delete")
            assert mor.mor_delete(spark, tbl, "id", F.col("id") == 3) == 1
        ok = rename()
        if kind == "base" and ok and steps == ["delete"]:  # A has committed
            steps.append("B")
            steps.append(mor.mor_compact(spark, tbl, "id"))
        return ok

    _hook_commits(monkeypatch, hook)
    with pytest.raises(CommitConflictError):
        mor.mor_compact(spark, tbl, "id")
    assert mor.stats(tbl)["base_seq"] == steps[2]
    assert _mor_view(spark, tbl) == _mor_base_view_without(3)


@pytest.mark.parametrize("kind", ["delete", "upsert"])
def test_mor_held_writer_never_reuses_a_committed_seq(
    spark, tmp_path, monkeypatch, kind
):
    """Writer Y picks its seq and is held at its rename while X commits
    ``mor_delete(id == 1)`` at that seq. Y, a delete of id 2 or an upsert
    of it, then loses the rename and lands at the next seq: the log is
    dense, each commit has its own entry, and id 1 stays deleted."""
    import threading

    import f1_lakehouse_spark.sources.mor as mor

    tbl = _mor_base(spark, tmp_path)
    at_rename, release = threading.Event(), threading.Event()

    def hook(_kind, rename):
        if threading.current_thread().name == "Y" and not at_rename.is_set():
            at_rename.set()
            assert release.wait(120)
        return rename()

    def commit_y():
        try:
            if kind == "delete":
                mor.mor_delete(spark, tbl, "id", F.col("id") == 2)
            else:
                _mor_upsert(spark, tbl, [(2, 9)])
            outcomes.append("ok")
        except Exception as e:  # the outcome is what the test asserts on
            outcomes.append(e)

    _hook_commits(monkeypatch, hook)
    outcomes = []
    y = threading.Thread(target=commit_y, name="Y")
    y.start()
    try:
        assert at_rename.wait(120)
        assert mor.mor_delete(spark, tbl, "id", F.col("id") == 1) == 1
    finally:
        release.set()
        y.join(180)
    assert not y.is_alive() and outcomes == ["ok"], outcomes
    assert _mor_log(tbl) == [0, 1, 2]
    st = mor.stats(tbl)
    assert (st["delete_fragments"], st["insert_fragments"]) == (
        (2, 0) if kind == "delete" else (1, 1)
    )
    model = _mor_base_view_without(1)
    if kind == "delete":
        del model[2]
    else:
        model[2] = 9
    assert _mor_view(spark, tbl) == model


@pytest.mark.parametrize("compactions", [1, 2])
def test_mor_writer_held_across_compactions_lands_above_the_live_base(
    spark, tmp_path, monkeypatch, compactions
):
    """Writer W's delete of id 5 picks seq 1 and is held at its rename
    while X upserts id 7 -> 9 at seq 1 and one or two compactions fold
    X. Two compactions prune seq 1, yet W never lands there, below the
    live base where no read would see it: W's rename loses to the pruned
    entry's dir too, and W commits at the head. The delete is visible."""
    import threading

    import f1_lakehouse_spark.sources.mor as mor

    tbl = _mor_base(spark, tmp_path)
    at_rename, release = threading.Event(), threading.Event()

    def hook(_kind, rename):
        if threading.current_thread().name == "W" and not at_rename.is_set():
            at_rename.set()
            assert release.wait(120)
        return rename()

    def commit_w():
        try:
            assert mor.mor_delete(spark, tbl, "id", F.col("id") == 5) == 1
            outcomes.append("ok")
        except Exception as e:  # the outcome is what the test asserts on
            outcomes.append(e)

    _hook_commits(monkeypatch, hook)
    outcomes = []
    w = threading.Thread(target=commit_w, name="W")
    w.start()
    try:
        assert at_rename.wait(120)
        _mor_upsert(spark, tbl, [(7, 9)])  # X, seq 1
        folds = [mor.mor_compact(spark, tbl, "id") for _ in range(compactions)]
    finally:
        release.set()
        w.join(180)
    assert not w.is_alive() and outcomes == ["ok"], outcomes
    st = mor.stats(tbl)
    assert st["base_seq"] == folds[-1]
    assert (st["delete_fragments"], st["insert_fragments"]) == (1, 0)
    assert _mor_log(tbl)[-1] == folds[-1] + 1  # W, at the head
    assert _mor_view(spark, tbl) == {**_mor_base_view_without(5), 7: 9}


def test_mor_staging_orphans_swept_by_compaction(spark, tmp_path, monkeypatch):
    """A delete that stops before its rename has committed nothing and
    leaves its staging dir. Only STALE staging dirs are swept (age-gated):
    a compaction racing a live writer's in-flight staging must leave it
    alone."""
    import time

    import f1_lakehouse_spark.sources.mor as mor

    tbl = _mor_base(spark, tmp_path)

    def crash(_kind, _rename):
        raise _Stop

    with monkeypatch.context() as m:
        _hook_commits(m, crash)
        with pytest.raises(_Stop):
            mor.mor_delete(spark, tbl, "id", F.col("id") == 4)
    assert _mor_log(tbl) == [0] and _mor_view(spark, tbl) == _MOR_BASE_VIEW
    (stale,) = [os.path.join(tbl, e) for e in os.listdir(tbl) if e.startswith("_staging_")]
    fresh = os.path.join(tbl, "_staging_cafebabe")
    os.makedirs(fresh)
    old = time.time() - mor._STAGING_TTL_SECONDS - 60
    os.utime(stale, (old, old))
    mor.mor_compact(spark, tbl, "id")
    assert not os.path.isdir(stale)
    assert os.path.isdir(fresh)


def _run_compaction(spark, tbl, outcomes):
    """Thread body: record mor_compact's outcome ("ok" or the exception)."""
    from f1_lakehouse_spark.sources.mor import mor_compact

    try:
        mor_compact(spark, tbl, "id")
        outcomes.append("ok")
    except Exception as e:  # the outcome is what the test asserts on
        outcomes.append(e)


def test_mor_stalled_compactor_cannot_rewind(spark, tmp_path, monkeypatch):
    """Compactor B folds the base, then stalls at its commit while A and C
    compact, with an upsert committed after each. When B resumes, its
    base is appended but never live: B raises CommitConflictError, the
    live base never moves back and no committed upsert disappears."""
    import threading

    import f1_lakehouse_spark.sources.mor as mor

    tbl = _mor_base(spark, tmp_path)
    model = dict(_MOR_BASE_VIEW)
    at_rename, release = threading.Event(), threading.Event()

    def hook(_kind, rename):
        if threading.current_thread().name == "B" and not at_rename.is_set():
            at_rename.set()
            assert release.wait(120)
        return rename()

    _hook_commits(monkeypatch, hook)
    outcomes = []
    b = threading.Thread(
        target=_run_compaction, args=(spark, tbl, outcomes), name="B"
    )
    b.start()
    try:
        assert at_rename.wait(120)
        live = [mor.stats(tbl)["base_seq"]]
        for new_id in (100, 101):  # compaction A, then compaction C
            mor.mor_compact(spark, tbl, "id")
            live.append(mor.stats(tbl)["base_seq"])
            rows = [(new_id, 7), (new_id - 99, 8)]
            _mor_upsert(spark, tbl, rows)
            model.update(dict(rows))
            live.append(mor.stats(tbl)["base_seq"])
    finally:
        release.set()
        b.join(180)
    assert not b.is_alive()
    live.append(mor.stats(tbl)["base_seq"])
    assert live == sorted(live) and live[-1] == live[-2], live
    assert _mor_view(spark, tbl) == model
    assert len(outcomes) == 1 and isinstance(outcomes[0], CommitConflictError), outcomes


def test_mor_racing_compactors_one_conflicts(spark, tmp_path, monkeypatch):
    """Two compactions fold the same log prefix and meet at the commit:
    both append, and only then check. The later entry wins the tie and is
    live, the other raises CommitConflictError (not a Spark write error),
    the rows are unchanged and no staging is left."""
    import threading

    import f1_lakehouse_spark.sources.mor as mor

    tbl = _mor_base(spark, tmp_path)
    mor.mor_delete(spark, tbl, "id", F.col("id") == 3)
    before = _mor_view(spark, tbl)
    at_rename, appended = threading.Barrier(2, timeout=120), threading.Barrier(2, timeout=120)
    first_try = set()

    def hook(_kind, rename):
        me = threading.current_thread().name
        if me not in first_try:
            first_try.add(me)
            at_rename.wait()
        ok = rename()
        if ok:
            appended.wait()
        return ok

    _hook_commits(monkeypatch, hook)
    outcomes = []
    threads = [
        threading.Thread(target=_run_compaction, args=(spark, tbl, outcomes), name=f"c{i}")
        for i in range(2)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(180)
    assert not any(t.is_alive() for t in threads)
    errors = [o for o in outcomes if o != "ok"]
    assert len(outcomes) == 2 and len(errors) == 1, outcomes
    assert isinstance(errors[0], CommitConflictError), errors
    assert mor.stats(tbl)["base_seq"] == 3  # base 0, delete 1, the two folds 2 and 3
    assert _mor_view(spark, tbl) == before
    assert [e for e in os.listdir(tbl) if e.startswith("_staging_")] == []


# ---------------------------------------------------------------------------
# mor.py: upsert (latest-wins insert fragments)
# ---------------------------------------------------------------------------


def test_mor_upsert_update_insert_delete_reinsert(spark, tmp_path):
    from f1_lakehouse_spark.sources.mor import (
        base_dir,
        mor_compact,
        mor_delete,
        mor_read,
        mor_upsert,
        stats,
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
    folded = mor_compact(spark, tbl, "id")
    assert sorted(view().items()) == pre
    st = stats(tbl)
    assert (st["base_seq"], st["delete_fragments"], st["insert_fragments"]) == (folded, 0, 0)
    # a reader pinned to the log before the compaction (the displaced
    # base and its fragments) reconstructs the same rows
    pinned = {r["id"]: r["grp"] for r in mor_read(spark, tbl, "id", at=folded - 1).collect()}
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
    from f1_lakehouse_spark.sources.mor import mor_read, mor_upsert

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
    assert _mor_log(tbl) == [0]
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
# review fixes (r11): WAP loser cleanup, content-atomic exclusive creates
# ---------------------------------------------------------------------------


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
