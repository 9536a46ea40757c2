"""Stateful property test for the merge-on-read layer.

Hypothesis drives random interleavings of equality deletes, latest-wins
upserts and compactions against a pure-Python dict model of the table.
Every commit is one rename onto the next seq of the log, so the crash
rules stop a delete, upsert or compaction right before that rename (it
committed nothing) or right after it (it committed), and one rule commits
a delete or upsert between a compaction's snapshot and its commit. After
every step the live base never goes back and the merged view equals the
model, so no compaction ever changes it. This pins the SEQUENCE-NUMBER
semantics (a later delete kills an earlier upsert, a later upsert
survives an earlier delete, stacked upserts resolve latest-wins) under
orderings the example-based tests fix in advance.

Also includes a genuinely CONCURRENT commit test: threads racing
delete/upsert commits onto the log must all land (distinct seqs, no
overwrites) and the merged view must reflect every commit.
"""

from __future__ import annotations

import os
import threading
from unittest import mock

import pytest
from hypothesis import HealthCheck, settings
from hypothesis import strategies as st
from hypothesis.stateful import (
    RuleBasedStateMachine,
    initialize,
    invariant,
    rule,
    run_state_machine_as_test,
)
from pyspark.sql import functions as F

import f1_lakehouse_spark.sources.mor as mor_mod
from f1_lakehouse_spark.sources.mor import (
    mor_compact,
    mor_delete,
    mor_read,
    mor_upsert,
    mor_write_base,
    stats,
)

N_BASE = 8  # ids 0..7, grp = id % 3


class _Crash(Exception):
    """A simulated crash at the commit rename."""


def _crash_at_commit(after: bool):
    """``claim_rename`` that stops the committer right before the rename,
    or right after it claimed the name."""
    real = mor_mod.claim_rename

    def claim(src, dst):
        if after and not real(src, dst):
            return False  # a racing commit took this seq: retry, as usual
        raise _Crash

    return claim


def test_mor_state_machine(spark, tmp_path):
    class MorMachine(RuleBasedStateMachine):
        @initialize()
        def setup(self) -> None:
            self.n = getattr(MorMachine, "_run_counter", 0)
            MorMachine._run_counter = self.n + 1
            self.tbl = str(tmp_path / f"t{self.n}")
            base = spark.createDataFrame(
                [(i, i % 3) for i in range(N_BASE)], "id int, grp int"
            )
            mor_write_base(base, self.tbl)
            self.model: dict[int, int] = {i: i % 3 for i in range(N_BASE)}
            self.base = 0

        @rule(lo=st.integers(0, N_BASE + 3), hi=st.integers(0, N_BASE + 3))
        def delete_range(self, lo: int, hi: int) -> None:
            lo, hi = min(lo, hi), max(lo, hi)
            n = mor_delete(
                spark, self.tbl, "id", F.col("id").between(lo, hi)
            )
            expect = [k for k in self.model if lo <= k <= hi]
            assert n == len(expect), (n, expect)
            for k in expect:
                del self.model[k]

        @rule(
            keys=st.lists(
                st.integers(0, N_BASE + 3), min_size=1, max_size=3, unique=True
            ),
            grp=st.integers(10, 14),
        )
        def upsert(self, keys: list[int], grp: int) -> None:
            rows = spark.createDataFrame(
                [(k, grp) for k in keys], "id int, grp int"
            )
            assert mor_upsert(spark, self.tbl, "id", rows) == len(keys)
            for k in keys:
                self.model[k] = grp

        @rule()
        def compact(self) -> None:
            mor_compact(spark, self.tbl, "id")

        def _write(self, delete: bool, key: int) -> None:
            """Delete ``key`` or upsert it to grp 15, and apply it to the
            model (a delete of an absent key commits no key)."""
            if delete:
                n = mor_delete(spark, self.tbl, "id", F.col("id") == key)
                assert n == (key in self.model)
            else:
                rows = spark.createDataFrame([(key, 15)], "id int, grp int")
                assert mor_upsert(spark, self.tbl, "id", rows) == 1
            self._apply(delete, key)

        def _apply(self, delete: bool, key: int) -> None:
            if delete:
                self.model.pop(key, None)
            else:
                self.model[key] = 15

        @rule(
            op=st.sampled_from(["delete", "upsert", "compact"]),
            key=st.integers(0, N_BASE + 3),
            after=st.booleans(),
        )
        def crash_at_commit(self, op: str, key: int, after: bool) -> None:
            with mock.patch.object(mor_mod, "claim_rename", _crash_at_commit(after)):
                with pytest.raises(_Crash):
                    if op == "compact":
                        mor_compact(spark, self.tbl, "id")
                    else:
                        self._write(op == "delete", key)
            if after and op != "compact":
                self._apply(op == "delete", key)

        @rule(key=st.integers(0, N_BASE + 3), delete=st.booleans())
        def write_during_compaction(self, key: int, delete: bool) -> None:
            """A delete or upsert commits between the compaction's
            snapshot and its commit."""
            real = mor_mod.claim_rename
            pending = [True]

            def claim(src, dst):
                if pending and os.path.isdir(os.path.join(src, "base")):
                    pending.clear()
                    self._write(delete, key)
                return real(src, dst)

            with mock.patch.object(mor_mod, "claim_rename", claim):
                mor_compact(spark, self.tbl, "id")
            assert not pending

        @invariant()
        def live_base_never_goes_back(self) -> None:
            if not hasattr(self, "tbl"):
                return
            base = stats(self.tbl)["base_seq"]
            assert base >= self.base, f"live base went back from {self.base} to {base}"
            self.base = base

        @invariant()
        def merged_view_equals_model(self) -> None:
            if not hasattr(self, "tbl"):
                return
            got = {
                r["id"]: r["grp"]
                for r in mor_read(spark, self.tbl, "id").collect()
            }
            assert got == self.model, f"view {got} != model {self.model}"

    run_state_machine_as_test(
        MorMachine,
        settings=settings(
            max_examples=5,
            stateful_step_count=8,
            deadline=None,
            suppress_health_check=[
                HealthCheck.too_slow,
                HealthCheck.data_too_large,
                HealthCheck.function_scoped_fixture,
            ],
        ),
    )


def test_mor_concurrent_commits_all_land(spark, tmp_path):
    """Four barrier-released threads race delete/upsert commits: each
    lost rename retries at the next seq, so every commit gets its own log
    entry (no silent overwrite — the lost-GDPR-delete hazard), and the
    merged view must reflect all of them. Disjoint key ranges make the
    expected final state order-independent."""
    tbl = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(i, i % 3) for i in range(40)], "id int, grp int"
    )
    mor_write_base(base, tbl)
    barrier = threading.Barrier(4)
    errs: list[BaseException] = []

    def run_delete(lo: int, hi: int) -> None:
        try:
            barrier.wait(timeout=60)
            mor_delete(spark, tbl, "id", F.col("id").between(lo, hi))
        except BaseException as exc:  # surface thread failures loudly
            errs.append(exc)

    def run_upsert(keys: list[int], grp: int) -> None:
        try:
            barrier.wait(timeout=60)
            rows = spark.createDataFrame(
                [(k, grp) for k in keys], "id int, grp int"
            )
            mor_upsert(spark, tbl, "id", rows)
        except BaseException as exc:
            errs.append(exc)

    threads = [
        threading.Thread(target=run_delete, args=(0, 4), daemon=True),
        threading.Thread(target=run_delete, args=(10, 14), daemon=True),
        threading.Thread(target=run_upsert, args=([20, 21], 99), daemon=True),
        threading.Thread(target=run_upsert, args=([30], 88), daemon=True),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=600)
    assert errs == [], errs
    # every commit landed as its own fragment — distinct seqs, no clobber
    st_ = stats(tbl)
    assert (st_["delete_fragments"], st_["insert_fragments"]) == (2, 2)
    got = {r["id"]: r["grp"] for r in mor_read(spark, tbl, "id").collect()}
    expect = {i: i % 3 for i in range(40)}
    for k in list(range(0, 5)) + list(range(10, 15)):
        del expect[k]
    expect[20] = expect[21] = 99
    expect[30] = 88
    assert got == expect
    # the log proves the arbitration: the base and four dense seqs
    log = sorted(os.listdir(os.path.join(tbl, "_log")))
    assert [int(e) for e in log] == [0, 1, 2, 3, 4], log
