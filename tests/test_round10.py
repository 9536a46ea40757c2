"""Round-10 lifecycle mechanics beyond the differential gate.

- sources/txn.py: the commit-record protocol, exercised at
  every crash point (the driver round-trip only simulates one), plus the
  properties the round-trip doesn't cover: txn-id monotonicity, version-entry
  carry-forward for tables outside a transaction, and one-cycle reader
  retention across a concurrent publish.
- streaming/ingest.publish_gold_version: the one-table txn the streaming
  gold merge commits; the GC contract (prune only after displacement,
  live version always listed) is re-checked here on synthetic frames so
  a regression is attributable without the driver.
"""

from __future__ import annotations

import os

import pytest

from f1_lakehouse_spark.sources.txn import (
    SimulatedCrash,
    manifest_read_table,
    publish_tables,
    read_manifest,
)


def _frames(spark, tag: int):
    a = spark.createDataFrame([(i, tag) for i in range(10)], "id int, tag int")
    b = spark.createDataFrame([(tag, 10)], "tag int, n int")
    return {"silver": a, "gold": b}


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_txn_publish_and_snapshot_read(spark, tmp_path):
    root = str(tmp_path / "m")
    publish_tables(spark, root, _frames(spark, 1), txn_id=1)
    m = read_manifest(root)
    assert m["txn"] == 1
    assert set(m["tables"]) == {"silver", "gold"}
    assert _rows(manifest_read_table(spark, root, "silver", m)) == [
        (i, 1) for i in range(10)
    ]
    assert manifest_read_table(spark, root, "missing", m) is None


@pytest.mark.parametrize("crash_after", [1, 2])
def test_txn_crash_at_every_point_then_replay(spark, tmp_path, crash_after):
    """A crash after ANY prefix of the version-dir writes leaves the
    committed snapshot untouched; the replay completes the transaction."""
    root = str(tmp_path / "m")
    publish_tables(spark, root, _frames(spark, 1), txn_id=1)
    m1 = read_manifest(root)
    with pytest.raises(SimulatedCrash):
        publish_tables(
            spark, root, _frames(spark, 2), txn_id=2, fail_after_writes=crash_after
        )
    assert read_manifest(root) == m1
    # readers resolving through the manifest still see txn 1's content
    m = read_manifest(root)
    assert _rows(manifest_read_table(spark, root, "silver", m)) == [
        (i, 1) for i in range(10)
    ]
    publish_tables(spark, root, _frames(spark, 2), txn_id=2)
    m2 = read_manifest(root)
    assert m2["txn"] == 2
    assert _rows(manifest_read_table(spark, root, "silver", m2)) == [
        (i, 2) for i in range(10)
    ]


def test_txn_replay_after_commit_noops_and_regression_raises(spark, tmp_path):
    root = str(tmp_path / "m")
    publish_tables(spark, root, _frames(spark, 1), txn_id=1)
    publish_tables(spark, root, _frames(spark, 2), txn_id=2)
    m2 = read_manifest(root)
    # replay of the committed txn is a no-op (manifest byte-identical)
    publish_tables(spark, root, _frames(spark, 2), txn_id=2)
    assert read_manifest(root) == m2
    # replay of a SUPERSEDED committed txn also no-ops (its commit
    # record proves it ran) ...
    publish_tables(spark, root, _frames(spark, 0), txn_id=1)
    assert read_manifest(root) == m2
    # ... but an old txn id that NEVER committed is a protocol
    # violation, not a silent overwrite
    with pytest.raises(ValueError, match="older"):
        publish_tables(spark, root, _frames(spark, 0), txn_id=0)


def test_txn_carries_forward_tables_outside_the_transaction(spark, tmp_path):
    """A txn touching only one table repoints that table and carries the
    other's entry forward — the untouched table stays readable at its
    committed version through the new manifest."""
    root = str(tmp_path / "m")
    publish_tables(spark, root, _frames(spark, 1), txn_id=1)
    only_gold = {"gold": spark.createDataFrame([(9, 99)], "tag int, n int")}
    publish_tables(spark, root, only_gold, txn_id=2)
    m2 = read_manifest(root)
    assert m2["tables"]["gold"] == "v0000000002-default"
    assert m2["tables"]["silver"] == "v0000000001-default"
    assert _rows(manifest_read_table(spark, root, "silver", m2)) == [
        (i, 1) for i in range(10)
    ]
    assert _rows(manifest_read_table(spark, root, "gold", m2)) == [(9, 99)]


def test_txn_reader_survives_one_publish_cycle(spark, tmp_path):
    """One-cycle retention: a reader holding the txn-1 manifest still
    resolves after txn 2 commits; after txn 3 its versions are GC'd and
    resolution degrades to None (never a broken scan)."""
    root = str(tmp_path / "m")
    publish_tables(spark, root, _frames(spark, 1), txn_id=1)
    held = read_manifest(root)
    publish_tables(spark, root, _frames(spark, 2), txn_id=2)
    df = manifest_read_table(spark, root, "silver", held)
    assert df is not None and _rows(df) == [(i, 1) for i in range(10)]
    publish_tables(spark, root, _frames(spark, 3), txn_id=3)
    assert manifest_read_table(spark, root, "silver", held) is None


def test_publish_gold_version_gc_contract(spark, tmp_path):
    from f1_lakehouse_spark.streaming.ingest import publish_gold_version

    gold = str(tmp_path / "gold")
    mk = lambda n: spark.createDataFrame(  # noqa: E731
        [("a", n)], "event_type string, n int"
    )

    def listed() -> list[str]:
        return sorted(os.listdir(os.path.join(gold, "gold")))

    def as_of(txn):
        return manifest_read_table(spark, gold, "gold", read_manifest(gold, txn))

    def version(txn) -> str:
        return read_manifest(gold, txn)["tables"]["gold"]

    publish_gold_version(mk(1), 1, gold)
    publish_gold_version(mk(2), 2, gold)
    assert listed() == [version(1), version(2)]
    assert as_of(1).count() == 1
    publish_gold_version(mk(3), 3, gold)
    assert listed() == [version(2), version(3)]
    assert as_of(1) is None
    # the live manifest always names a listed version
    assert read_manifest(gold)["tables"]["gold"] in listed()
    # a replay of the committed, superseded txn 2 is its own-record no-op:
    # the live txn stays 3 and the retained v2 a reader may be scanning
    # is untouched
    v2 = as_of(2).collect()
    publish_gold_version(mk(9), 2, gold)
    assert read_manifest(gold)["txn"] == 3
    assert listed() == [version(2), version(3)]
    assert as_of(2).collect() == v2
    # an older txn id that never committed is refused before any write
    publish_gold_version(mk(5), 5, gold)
    before = listed()
    with pytest.raises(ValueError, match="older than the committed"):
        publish_gold_version(mk(4), 4, gold)
    assert read_manifest(gold)["txn"] == 5
    assert listed() == before
    assert read_manifest(gold, 4) is None


def test_wap_rejects_before_visibility_and_cleans(spark, tmp_path):
    from f1_lakehouse_spark.sources.txn import write_audit_publish

    root = str(tmp_path / "m")

    def audit(staged):
        out = []
        if staged["silver"].filter("tag IS NULL").count():
            out.append("silver.tag has NULLs")
        return out

    good = {
        "silver": spark.createDataFrame([(1, 1), (2, 1)], "id int, tag int"),
        "gold": spark.createDataFrame([(1, 2)], "tag int, n int"),
    }
    assert write_audit_publish(spark, root, good, 1, audit) == []
    m1 = read_manifest(root)
    assert m1["txn"] == 1

    bad = {
        "silver": spark.createDataFrame(
            [(3, None)], "id int, tag int"
        ),
        "gold": spark.createDataFrame([(None, 1)], "tag int, n int"),
    }
    violations = write_audit_publish(spark, root, bad, 2, audit)
    assert violations == ["silver.tag has NULLs"]
    # the committed snapshot is untouched and the orphans are gone (the
    # committed txn's dirs carry the same suffix, so the name is the one
    # the rejected stage was written to)
    assert read_manifest(root) == m1
    assert (tmp_path / "m" / "silver" / "v0000000001-default").is_dir()
    assert not (tmp_path / "m" / "silver" / "v0000000002-default").exists()
    # a rejected txn id remains available for a FIXED retry
    fixed = {
        "silver": spark.createDataFrame([(3, 2)], "id int, tag int"),
        "gold": spark.createDataFrame([(2, 1)], "tag int, n int"),
    }
    assert write_audit_publish(spark, root, fixed, 2, audit) == []
    assert read_manifest(root)["txn"] == 2


def test_manifest_history_time_travel(spark, tmp_path):
    root = str(tmp_path / "m")
    publish_tables(spark, root, _frames(spark, 1), txn_id=1)
    publish_tables(spark, root, _frames(spark, 2), txn_id=2)
    m1 = read_manifest(root, txn=1)
    assert m1 is not None and m1["txn"] == 1
    assert _rows(manifest_read_table(spark, root, "silver", m1)) == [
        (i, 1) for i in range(10)
    ]
    assert read_manifest(root, txn=9) is None
    # history files are immutable records: the live manifest moved on
    assert read_manifest(root)["txn"] == 2
    # one-cycle version retention applies to as-of DIRS: after txn 3 the
    # txn-1 snapshot resolves its manifest but not its pruned data
    publish_tables(spark, root, _frames(spark, 3), txn_id=3)
    m1_again = read_manifest(root, txn=1)
    assert m1_again is not None
    assert manifest_read_table(spark, root, "silver", m1_again) is None


def test_streaming_medallion_publish_consistent_pairs(spark, tmp_path):
    """Each micro-batch commit leaves gold == aggregate(silver) under one
    manifest; a restart with no new data republishes nothing."""
    from pyspark.sql import functions as F

    from f1_lakehouse_spark.streaming.ingest import streaming_medallion_publish

    src = str(tmp_path / "src")
    root = str(tmp_path / "medallion")
    ckpt = str(tmp_path / "ckpt")
    rows = [
        (u, t, eid, "a" if eid % 2 else "b", float(eid))
        for eid, (u, t) in enumerate(
            [(u, t) for u in range(6) for t in range(3)]
        )
    ]
    df = spark.createDataFrame(
        rows, "user_id int, ts int, event_id int, event_type string, value double"
    )
    df.repartition(3).write.parquet(src)
    streaming_medallion_publish(
        spark, src, root, ckpt, glob="*.parquet", max_files_per_trigger=1
    )
    m = read_manifest(root)
    assert m is not None and m["txn"] >= 1
    silver = manifest_read_table(spark, root, "silver", m)
    gold = manifest_read_table(spark, root, "gold", m)
    # silver is latest-per-user over ALL input rows regardless of batching
    assert silver.count() == 6
    expect = (
        silver.groupBy("event_type")
        .agg(F.count("*").alias("n_users"))
        .collect()
    )
    got = {r["event_type"]: r["n_users"] for r in gold.collect()}
    assert {r["event_type"]: r["n_users"] for r in expect} == got
    streaming_medallion_publish(
        spark, src, root, ckpt, glob="*.parquet", max_files_per_trigger=1
    )
    assert read_manifest(root) == m


def test_occ_writer_conflict_detected_and_loser_cleaned(spark, tmp_path):
    """Optimistic concurrency: writer A prepares txn 2 against the txn-1
    snapshot but writer B commits txn 2 first — A must get
    CommitConflictError (never a silent no-op that A could mistake for
    its own commit), its orphan staging must be gone, and B's data must
    be live. A's retry with the next id then succeeds."""
    from f1_lakehouse_spark.sources.txn import CommitConflictError

    root = str(tmp_path / "m")
    publish_tables(spark, root, _frames(spark, 1), txn_id=1, writer="a")
    publish_tables(spark, root, _frames(spark, 2), txn_id=2, writer="b")
    with pytest.raises(CommitConflictError):
        publish_tables(spark, root, _frames(spark, 99), txn_id=2, writer="a")
    m = read_manifest(root)
    assert m["txn"] == 2 and m["writer"] == "b"
    assert _rows(manifest_read_table(spark, root, "silver", m)) == [
        (i, 2) for i in range(10)
    ]
    assert not (tmp_path / "m" / "silver" / "v0000000002-a").exists()
    # the standard OCC retry loop: re-read, re-derive, next txn id
    publish_tables(spark, root, _frames(spark, 99), txn_id=3, writer="a")
    assert read_manifest(root)["txn"] == 3


def test_occ_own_replay_still_noops(spark, tmp_path):
    """The conflict check must not break idempotent crash-replay: the
    SAME writer replaying its committed txn no-ops."""
    root = str(tmp_path / "m")
    publish_tables(spark, root, _frames(spark, 1), txn_id=1, writer="a")
    m1 = read_manifest(root)
    publish_tables(spark, root, _frames(spark, 1), txn_id=1, writer="a")
    assert read_manifest(root) == m1


def test_occ_crashed_winner_completes_via_commit_record(spark, tmp_path, monkeypatch):
    """A writer that crashes right AFTER creating its exclusive commit
    record has committed: the record is live at once, its replay no-ops
    (its own record is found, not a conflict, and its version dirs are
    not rewritten), and a DIFFERENT writer at that txn conflicts."""
    import f1_lakehouse_spark.sources.txn as txn
    from f1_lakehouse_spark.sources.txn import CommitConflictError

    class Crash(Exception):
        pass

    root = str(tmp_path / "m")
    publish_tables(spark, root, _frames(spark, 1), txn_id=1, writer="a")
    real_create = txn.create_exclusive

    def create_then_crash(path, payload):
        real_create(path, payload)
        raise Crash

    with monkeypatch.context() as m:
        m.setattr(txn, "create_exclusive", create_then_crash)
        with pytest.raises(Crash):
            publish_tables(spark, root, _frames(spark, 2), txn_id=2, writer="a")
    m2 = read_manifest(root)
    assert m2["txn"] == 2 and m2["writer"] == "a"
    publish_tables(spark, root, _frames(spark, 99), txn_id=2, writer="a")
    assert read_manifest(root) == m2
    assert _rows(manifest_read_table(spark, root, "silver", m2)) == [
        (i, 2) for i in range(10)
    ]
    with pytest.raises(CommitConflictError):
        publish_tables(spark, root, _frames(spark, 3), txn_id=2, writer="b")


def test_mor_delete_read_compact_cycle(spark, tmp_path):
    """MoR mechanics on synthetic rows: tri-state NULL predicate (only
    TRUE deletes), stacked delete files, already-deleted keys not
    re-recorded, compaction folds and clears."""
    import os as _os

    from pyspark.sql import functions as F

    from f1_lakehouse_spark.sources.mor import (
        mor_compact,
        mor_delete,
        mor_read,
        mor_write_base,
    )

    tbl = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, None if i == 5 else i % 3) for i in range(10)],
        "id int, grp int",
    )
    mor_write_base(df, tbl)
    # grp == 0 selects ids 0,3,6,9; id 5 has NULL grp -> tri-state KEEP
    n1 = mor_delete(spark, tbl, "id", F.col("grp") == 0)
    assert n1 == 4
    ids = {r["id"] for r in mor_read(spark, tbl, "id").collect()}
    assert ids == {1, 2, 4, 5, 7, 8}
    # second delete evaluates on the MERGED view: already-deleted id 0
    # is not re-recorded even though its predicate would match
    n2 = mor_delete(spark, tbl, "id", F.col("id") < 2)
    assert n2 == 1  # only id 1 — id 0 is already gone from the view
    ids = {r["id"] for r in mor_read(spark, tbl, "id").collect()}
    assert ids == {2, 4, 5, 7, 8}
    from f1_lakehouse_spark.sources.mor import base_dir, stats

    assert stats(tbl)["delete_fragments"] == 2
    base0 = base_dir(tbl)
    folded = mor_compact(spark, tbl, "id")
    # the new base is live at its commit; the displaced base and its
    # delete entries survive one compaction cycle
    assert base_dir(tbl) != base0
    assert _os.path.isdir(base0)
    assert stats(tbl)["delete_fragments"] == 0
    ids = {r["id"] for r in mor_read(spark, tbl, "id").collect()}
    assert ids == {2, 4, 5, 7, 8}
    # a reader pinned to the log before the compaction reconstructs the
    # same rows
    ids0 = {r["id"] for r in mor_read(spark, tbl, "id", at=folded - 1).collect()}
    assert ids0 == {2, 4, 5, 7, 8}
    # one more compaction prunes the twice-displaced base and its deletes:
    # their entries are emptied and marked, keeping their seqs taken
    import time as _time

    from f1_lakehouse_spark.sources import mor as _mor

    mor_compact(spark, tbl, "id")
    assert not _os.path.isdir(base0)
    log = _os.path.join(tbl, "_log")

    def entries():
        return {e: set(_os.listdir(_os.path.join(log, e))) for e in _os.listdir(log)}

    def holds_data(names):
        return bool(names & {"base", "deletes", "inserts"})

    pruned = sorted(e for e, names in entries().items() if "_PRUNED" in names)
    assert pruned == [f"{s:010d}" for s in range(folded)]
    assert not any(holds_data(entries()[e]) for e in pruned)
    assert sorted(set(entries()) - set(pruned)) == [
        f"{s:010d}" for s in (folded, folded + 1)
    ]
    # marked entries older than the staging TTL are removed outright
    old = _time.time() - _mor._STAGING_TTL_SECONDS - 60
    for e in pruned:
        _os.utime(_os.path.join(log, e), (old, old))
    mor_compact(spark, tbl, "id")
    now = entries()
    assert sorted(now) == [f"{s:010d}" for s in (folded, folded + 1, folded + 2)]
    assert "_PRUNED" in now[f"{folded:010d}"] and not holds_data(now[f"{folded:010d}"])
    assert {r["id"] for r in mor_read(spark, tbl, "id").collect()} == {2, 4, 5, 7, 8}


def test_table_changes_classification(spark, tmp_path):
    """CDF classification on hand-built snapshots: insert (key only in
    new), delete (key only in old), update (order tuple differs),
    unchanged keys omitted; NULL payloads never fool the presence or
    update checks (classification reads the never-NULL order tuple)."""
    from f1_lakehouse_spark.sources.txn import table_changes

    root = str(tmp_path / "m")
    schema = "user_id int, ts int, event_id int, payload string"
    old = spark.createDataFrame(
        [
            (1, 10, 100, "a"),     # update: newer row in new
            (2, 20, 200, "b"),     # delete: absent from new
            (3, 30, 300, None),    # unchanged (NULL payload, same tuple)
        ],
        schema,
    )
    new = spark.createDataFrame(
        [
            (1, 15, 150, "a2"),
            (3, 30, 300, None),
            (4, 40, 400, "d"),     # insert
        ],
        schema,
    )
    publish_tables(spark, root, {"silver": old}, txn_id=1)
    publish_tables(spark, root, {"silver": new}, txn_id=2)
    cdf = table_changes(
        spark, root, "silver", 1, 2,
        key_cols=["user_id"], order_cols=["ts", "event_id"],
    )
    got = {r["user_id"]: (r["_change_type"], r["ts"], r["payload"])
           for r in cdf.collect()}
    assert got == {
        1: ("update", 15, "a2"),   # new row's columns
        2: ("delete", 20, "b"),    # old row's columns survive
        4: ("insert", 40, "d"),
    }
    # pruned snapshot -> loud error, not a silent empty diff
    publish_tables(spark, root, {"silver": new}, txn_id=3)
    with pytest.raises(ValueError, match="pruned"):
        table_changes(
            spark, root, "silver", 1, 3,
            key_cols=["user_id"], order_cols=["ts", "event_id"],
        )


def test_occ_loser_stages_then_cleans_and_winner_stays_live(
    spark, tmp_path, monkeypatch
):
    """The racy path the guard cannot catch: the loser passes the guard
    (txn 1 still live), STAGES its version dirs, and meanwhile the winner
    commits txn 2. The loser's exclusive create then fails: it removes
    its own orphan staging and raises, and the winner's record — live
    since its create — stays the snapshot, so the retry loop converges at
    the next id."""
    import os as _os

    import f1_lakehouse_spark.sources.txn as txn
    from f1_lakehouse_spark.sources.txn import CommitConflictError

    root = str(tmp_path / "m")
    publish_tables(spark, root, _frames(spark, 1), txn_id=1, writer="a")
    real_stage = txn._stage_writes

    def stage_then_lose(root_, tables, version, fail_after_writes):
        real_stage(root_, tables, version, fail_after_writes)
        if version.endswith("-a"):  # writer b commits txn 2 meanwhile
            publish_tables(spark, root, _frames(spark, 2), txn_id=2, writer="b")

    monkeypatch.setattr(txn, "_stage_writes", stage_then_lose)
    # writer a stages (including a table only IT writes, so the surviving
    # parent dir proves staging really ran), then loses the arbitration
    loser_tables = {**_frames(spark, 99), "extra": _frames(spark, 99)["gold"]}
    with pytest.raises(CommitConflictError):
        publish_tables(spark, root, loser_tables, txn_id=2, writer="a")
    b_record = read_manifest(root, txn=2)
    assert b_record["writer"] == "b" and read_manifest(root) == b_record
    assert _os.path.isdir(_os.path.join(root, "extra"))
    assert _os.listdir(_os.path.join(root, "extra")) == []
    assert not _os.path.isdir(_os.path.join(root, "silver", "v0000000002-a"))
    assert _rows(manifest_read_table(spark, root, "silver", b_record)) == [
        (i, 2) for i in range(10)
    ]
    # the retry loop converges: re-read shows txn 2, retry with 3
    publish_tables(spark, root, loser_tables, txn_id=3, writer="a")
    assert read_manifest(root)["txn"] == 3


def test_occ_superseded_replay_noops_instead_of_raising(spark, tmp_path):
    """A writer replaying a txn it COMMITTED that has since been
    superseded by newer commits must no-op (its commit record proves
    ownership), not die on the monotonicity check."""
    root = str(tmp_path / "m")
    publish_tables(spark, root, _frames(spark, 1), txn_id=1, writer="a")
    publish_tables(spark, root, _frames(spark, 2), txn_id=2, writer="b")
    m2 = read_manifest(root)
    publish_tables(spark, root, _frames(spark, 1), txn_id=1, writer="a")
    assert read_manifest(root) == m2
    # ...but a txn id that never committed still raises
    with pytest.raises(ValueError, match="older"):
        publish_tables(spark, root, _frames(spark, 0), txn_id=0, writer="a")


def test_branch_wap_stage_audit_fast_forward(spark, tmp_path):
    """Branch-WAP end to end: stage on a branch (main readers blind to
    it), audit through the ref, fast-forward main atomically; tags are
    write-once; a second fast-forward is stale."""
    from f1_lakehouse_spark.sources.txn import (
        StaleBranchError,
        create_tag,
        fast_forward,
        manifest_read_table,
        publish_staged,
        read_ref_manifest,
    )

    root = str(tmp_path / "m")
    publish_tables(spark, root, _frames(spark, 1), txn_id=1, writer="etl")
    create_tag(root, "audited-v1", 1)
    with pytest.raises(FileExistsError):
        create_tag(root, "audited-v1", 1)  # tags never move

    publish_staged(
        spark, root, _frames(spark, 2), txn_id=2, branch="wap", writer="etl"
    )
    # main readers still see txn 1
    assert read_manifest(root)["txn"] == 1
    # the audit reads the STAGED snapshot through the ref
    staged = read_ref_manifest(root, "wap")
    assert staged["txn"] == 2 and staged["staged"] is True
    rows = _rows(manifest_read_table(spark, root, "silver", staged))
    assert rows == [(i, 2) for i in range(10)]
    # replay of the staged publish is idempotent
    publish_staged(
        spark, root, _frames(spark, 2), txn_id=2, branch="wap", writer="etl"
    )

    live = fast_forward(root, "wap")
    assert read_manifest(root) == live and live["txn"] == 2
    assert "staged" not in live
    with pytest.raises(StaleBranchError):
        fast_forward(root, "wap")  # already live: not ahead anymore
    # the tag still resolves the old snapshot's manifest
    assert read_ref_manifest(root, "audited-v1")["txn"] == 1


def test_branch_staged_record_never_promoted_by_mainline(spark, tmp_path):
    """A mainline writer colliding with a staged txn id must conflict —
    never roll the UNAUDITED staging forward to visibility; after main
    advances past it, the stale branch refuses to fast-forward."""
    from f1_lakehouse_spark.sources.txn import (
        CommitConflictError,
        StaleBranchError,
        fast_forward,
        publish_staged,
    )

    root = str(tmp_path / "m")
    publish_tables(spark, root, _frames(spark, 1), txn_id=1, writer="etl")
    publish_staged(
        spark, root, _frames(spark, 99), txn_id=2, branch="wap", writer="wap-bot"
    )
    with pytest.raises(CommitConflictError, match="staged on a branch"):
        publish_tables(spark, root, _frames(spark, 2), txn_id=2, writer="etl")
    # the conflict did NOT leak the staging to main readers
    assert read_manifest(root)["txn"] == 1
    # mainline retries with the next id and wins the timeline
    publish_tables(spark, root, _frames(spark, 2), txn_id=3, writer="etl")
    assert read_manifest(root)["txn"] == 3
    # the branch is now stale: promotion refused, rebase required
    with pytest.raises(StaleBranchError):
        fast_forward(root, "wap")
