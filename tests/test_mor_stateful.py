"""Stateful property test for the merge-on-read layer (r11).

Hypothesis drives random interleavings of equality deletes, latest-wins
upserts, and compactions — plus a compaction that crashes right after its
generation claim and a fragment commit that crashes right after its seq
claim record — against a pure-Python dict model of the table, asserting
after every step that the live generation never goes back and that the
merged view equals the model exactly (a crashed compaction has committed
its content-identical generation; a crashed fragment commit committed
nothing).
This is the test that pins the SEQUENCE-NUMBER semantics (a later delete
kills an earlier upsert, a later upsert survives an earlier delete,
stacked upserts resolve latest-wins, compaction is content-identical)
under orderings the example-based tests fix in advance.

Also includes a genuinely CONCURRENT commit test: threads racing
delete/upsert commits through the O_EXCL seq arbitration must all land
(distinct sequence numbers, no overwrites) and the merged view must
reflect every commit.
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
)

N_BASE = 8  # ids 0..7, grp = id % 3


class _Crash(Exception):
    """A simulated crash right after a claim."""


def _then_crash(real):
    def step(*args):
        assert real(*args) is not False
        raise _Crash

    return step


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
            self.gen = 0

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

        @rule()
        def compact_crash_after_claim(self) -> None:
            claim = _then_crash(mor_mod._claim_generation)
            with mock.patch.object(mor_mod, "_claim_generation", claim):
                with pytest.raises(_Crash):
                    mor_compact(spark, self.tbl, "id")

        @rule(key=st.integers(0, N_BASE + 3), delete=st.booleans())
        def fragment_crash_after_claim_record(self, key: int, delete: bool) -> None:
            create = _then_crash(mor_mod.create_exclusive)
            with mock.patch.object(mor_mod, "create_exclusive", create):
                with pytest.raises(_Crash):
                    if delete:
                        mor_delete(spark, self.tbl, "id", F.col("id") == key)
                    else:
                        rows = spark.createDataFrame([(key, 15)], "id int, grp int")
                        mor_upsert(spark, self.tbl, "id", rows)

        @invariant()
        def live_generation_never_decreases(self) -> None:
            if not hasattr(self, "tbl"):
                return
            gen = mor_mod._live_gen(self.tbl)
            assert gen >= self.gen, f"live generation went back from {self.gen} to {gen}"
            self.gen = gen

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
    """Four barrier-released threads race delete/upsert commits: the
    O_EXCL seq arbitration must give every commit a distinct fragment
    (no silent overwrite — the lost-GDPR-delete hazard), and the merged
    view must reflect all of them. Disjoint key ranges make the expected
    final state order-independent."""
    from f1_lakehouse_spark.sources.mor import _delete_files, _insert_files

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
    assert len(_delete_files(tbl, 0)) == 2
    assert len(_insert_files(tbl, 0)) == 2
    got = {r["id"]: r["grp"] for r in mor_read(spark, tbl, "id").collect()}
    expect = {i: i % 3 for i in range(40)}
    for k in list(range(0, 5)) + list(range(10, 15)):
        del expect[k]
    expect[20] = expect[21] = 99
    expect[30] = 88
    assert got == expect
    # filenames prove the arbitration: four distinct sequence numbers
    names = sorted(
        os.path.basename(p)
        for p in _delete_files(tbl, 0) + _insert_files(tbl, 0)
    )
    seqs = sorted(int(n[1:11]) for n in names)
    assert seqs == [1, 2, 3, 4], names
