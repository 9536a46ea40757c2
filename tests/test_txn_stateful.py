"""Stateful property test for the manifest transaction layer (r11).

Hypothesis drives random interleavings of the full maintenance surface —
publish, crash-before-record, crash-after-record, own-replay,
stage-on-branch, fast-forward (including the stale path), tag, drop_ref,
expire_history, vacuum_orphans — against a pure-Python model, asserting
the core safety invariants after every step:

- the live txn is MONOTONIC (never moves backwards);
- every table the live manifest names RESOLVES and its content equals
  what the committing transaction published (no torn/partial states
  survive any interleaving);
- a tag's history record is never expired while the tag exists;
- a crashed (record-less) publish never becomes visible, and one that
  crashed right after its record is committed.

The per-step frames are single-row so a whole machine run costs seconds;
the value of the test is the INTERLEAVINGS, which the example-based
round-trips fix in advance and this machine does not.
"""

from __future__ import annotations

from unittest import mock

import pytest
from hypothesis import HealthCheck, settings
from hypothesis import strategies as st
from hypothesis.stateful import (
    RuleBasedStateMachine,
    initialize,
    invariant,
    precondition,
    rule,
    run_state_machine_as_test,
)

import f1_lakehouse_spark.sources.txn as txn_mod
from f1_lakehouse_spark.sources.txn import (
    SimulatedCrash,
    StaleBranchError,
    create_tag,
    drop_ref,
    expire_history,
    fast_forward,
    manifest_read_table,
    publish_staged,
    publish_tables,
    read_manifest,
    vacuum_orphans,
)

TABLES = ("silver", "gold")


_REAL_CREATE = txn_mod.create_exclusive


class _Crash(Exception):
    """A simulated crash right after a commit record's create."""


def _create_then_crash(path: str, payload: str) -> None:
    _REAL_CREATE(path, payload)
    raise _Crash


def test_txn_state_machine(spark, tmp_path):
    frame_cache: dict[int, dict] = {}

    def frames(tag: int) -> dict:
        if tag not in frame_cache:
            frame_cache[tag] = {
                t: spark.createDataFrame([(tag, t)], "tag int, tbl string")
                for t in TABLES
            }
        return frame_cache[tag]

    class TxnMachine(RuleBasedStateMachine):
        @initialize()
        def setup(self) -> None:
            self.n = getattr(TxnMachine, "_run_counter", 0)
            TxnMachine._run_counter = self.n + 1
            self.root = str(tmp_path / f"m{self.n}")
            self.next_txn = 1
            self.live: int | None = None        # model of the live txn
            self.high = 0                       # highest live txn seen
            self.content: dict[int, int] = {}   # txn -> published tag
            self.tags: dict[str, int] = {}
            self.branch: int | None = None      # staged txn on branch "b"
            self.n_tags = 0

        def _alloc(self) -> int:
            txn = self.next_txn
            self.next_txn += 1
            return txn

        @rule(tag=st.integers(0, 4))
        def publish(self, tag: int) -> None:
            txn = self._alloc()
            publish_tables(spark, self.root, frames(tag), txn, writer="w")
            self.live = txn
            self.content[txn] = tag

        @rule(tag=st.integers(0, 4))
        def publish_crash_before_record(self, tag: int) -> None:
            """A crash between the version writes and the record must
            leave the live snapshot untouched (orphans only)."""
            txn = self._alloc()
            with pytest.raises(SimulatedCrash):
                publish_tables(
                    spark, self.root, frames(tag), txn, writer="w",
                    fail_after_writes=1,
                )

        @rule(tag=st.integers(0, 4))
        def publish_crash_after_record(self, tag: int) -> None:
            """A publish that stops right after its record has committed:
            the record is the commit, so only its retention is skipped."""
            txn = self._alloc()
            with mock.patch.object(txn_mod, "create_exclusive", _create_then_crash):
                with pytest.raises(_Crash):
                    publish_tables(spark, self.root, frames(tag), txn, writer="w")
            self.live = txn
            self.content[txn] = tag

        @precondition(lambda self: self.live is not None)
        @rule()
        def replay_live(self) -> None:
            """Replaying the writer's own live txn is a no-op."""
            publish_tables(
                spark, self.root, frames(self.content[self.live]),
                self.live, writer="w",
            )

        @rule(tag=st.integers(0, 4))
        def stage_on_branch(self, tag: int) -> None:
            txn = self._alloc()
            publish_staged(
                spark, self.root, frames(tag), txn, branch="b", writer="w"
            )
            self.branch = txn
            self.content[txn] = tag

        @precondition(lambda self: self.branch is not None)
        @rule()
        def promote_branch(self) -> None:
            if self.live is not None and self.live >= self.branch:
                with pytest.raises(StaleBranchError):
                    fast_forward(self.root, "b")
            else:
                promoted = fast_forward(self.root, "b")
                assert promoted["txn"] == self.branch
                self.live = self.branch

        @precondition(lambda self: self.live is not None)
        @rule()
        def tag_live(self) -> None:
            name = f"t{self.n_tags}"
            self.n_tags += 1
            create_tag(self.root, name, self.live)
            self.tags[name] = self.live

        @precondition(lambda self: bool(self.tags))
        @rule(pick=st.integers(0, 10**6))
        def drop_a_tag(self, pick: int) -> None:
            name = sorted(self.tags)[pick % len(self.tags)]
            drop_ref(self.root, name)
            del self.tags[name]

        @precondition(lambda self: self.live is not None)
        @rule(keep_n=st.integers(1, 3))
        def expire(self, keep_n: int) -> None:
            expired = expire_history(self.root, keep_n)
            assert self.live not in expired
            assert not set(self.tags.values()) & set(expired)
            if self.branch is not None:
                assert self.branch not in expired

        @precondition(lambda self: self.live is not None)
        @rule()
        def vacuum(self) -> None:
            # ttl=0 is safe single-threaded: no writer is in flight
            vacuum_orphans(self.root, ttl_seconds=0)

        @invariant()
        def live_is_monotonic_and_consistent(self) -> None:
            if getattr(self, "live", None) is None:
                return
            m = read_manifest(self.root)
            assert m is not None and m["txn"] >= self.high, (
                f"live txn went back from {self.high} to {m}"
            )
            self.high = m["txn"]
            assert m["txn"] == self.live, (
                f"live manifest {m} drifted from model txn {self.live}"
            )
            tag = self.content[self.live]
            for t in TABLES:
                df = manifest_read_table(spark, self.root, t, m)
                assert df is not None, f"live table {t} unresolvable"
                rows = [(r["tag"], r["tbl"]) for r in df.collect()]
                assert rows == [(tag, t)], (
                    f"live {t} content {rows} != published {(tag, t)}"
                )

        @invariant()
        def tagged_records_survive(self) -> None:
            for name, txn in getattr(self, "tags", {}).items():
                assert read_manifest(self.root, txn=txn) is not None, (
                    f"tag {name} -> txn {txn} record expired while pinned"
                )

    run_state_machine_as_test(
        TxnMachine,
        settings=settings(
            max_examples=5,
            stateful_step_count=10,
            deadline=None,
            suppress_health_check=[
                HealthCheck.too_slow,
                HealthCheck.data_too_large,
                HealthCheck.function_scoped_fixture,
            ],
        ),
    )
