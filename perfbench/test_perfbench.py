"""Self-tests for the benchmark's own logic; none starts Spark.

Run from the repository root: ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import json
import math
import os

import numpy as np
import pandas as pd
import pytest

from perfbench import check, datagen, harness
from perfbench.dashboard import (
    ANALYTICS,
    COPILOT,
    F1_QUERIES,
    PAGES_PER_DECK,
    decks,
    popularity,
    zipf_counts,
)
from perfbench.mor_churn import CYCLE, Mirror

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_same_seed_same_inputs():
    a, b = datagen.build_tables(3, 0.001), datagen.build_tables(3, 0.001)
    assert all(a[name].equals(b[name]) for name in a)
    c = datagen.build_tables(4, 0.001)
    assert not a["lineitem"].equals(c["lineitem"])


def test_same_seed_same_dashboard_sequence():
    def run(seed):
        return decks(np.random.default_rng([seed, 1]), 4, popularity(seed))

    assert run(5) == run(5)
    assert run(5) != run(6)


def test_zipf_counts():
    # 12 page views over 7 ranks: quotas 4.63 2.31 1.54 1.16 0.93 0.77 0.66;
    # the floors take 8, the four largest remainders (ranks 5, 6, 7, 1) one more
    assert zipf_counts(12, 7) == [5, 2, 1, 1, 1, 1, 1]
    assert zipf_counts(7, 7) == [3, 1, 1, 1, 1, 0, 0]
    for n in range(1, 40):
        counts = zipf_counts(n, 7)
        assert sum(counts) == n
        assert counts == sorted(counts, reverse=True)


def test_every_deck_has_the_same_mix_and_pages_stay_whole():
    years = popularity(0)
    run = decks(np.random.default_rng(0), 4, years)
    mixes = {tuple(sorted((kind, name) for kind, name, _ in d)) for d in run}
    assert len(mixes) == 1
    assert all(len(d) == 5 * PAGES_PER_DECK + len(F1_QUERIES) + len(COPILOT) for d in run)
    scopes = []
    for d in run:
        i = 0
        while i < len(d):
            kind, _name, year = d[i]
            if kind != "analytics":
                i += 1
                continue
            # a page: the five functions in page order, one year
            assert [r[1:] for r in d[i : i + 5]] == [(fn, year) for fn in ANALYTICS]
            scopes.append(year)
            i += 5
    assert [scopes.count(y) for y in years] == zipf_counts(4 * PAGES_PER_DECK, len(years))


def test_mor_cycle_is_fixed():
    assert CYCLE.count("read") == 6
    assert CYCLE[-1] == "compact"
    assert sum(k in ("upsert", "delete") for k in CYCLE) == 3


def test_betainc_closed_form():
    # I_x(2, 3) = sum over j = 2..4 of C(4, j) x^j (1 - x)^(4 - j)
    for x in (0.1, 0.4, 0.9):
        want = sum(math.comb(4, j) * x**j * (1 - x) ** (4 - j) for j in range(2, 5))
        assert math.isclose(harness.betainc(2, 3, x), want, rel_tol=1e-12)


def test_percentile_is_the_harrell_davis_integral():
    xs = sorted(np.random.default_rng(1).exponential(1.0, 17).tolist())
    n, p = len(xs), 0.9
    a, b = p * (n + 1), (1 - p) * (n + 1)
    norm = math.gamma(a + b) / (math.gamma(a) * math.gamma(b))
    steps = 20000
    want = 0.0
    for i, x in enumerate(xs):
        h = 1.0 / (n * steps)
        ts = (i / n + (k + 0.5) * h for k in range(steps))
        want += x * h * sum(norm * t ** (a - 1) * (1 - t) ** (b - 1) for t in ts)
    assert math.isclose(harness.percentile(xs, 90), want, rel_tol=1e-4)


def test_percentile_basic_properties():
    assert harness.percentile([7.0], 90) == pytest.approx(7.0)
    assert harness.median([1, 2, 3, 4, 5]) == pytest.approx(3.0)
    xs = np.random.default_rng(2).random(200).tolist()
    assert harness.percentile(xs, 10) < harness.median(xs) < harness.percentile(xs, 90)
    assert harness.percentile(list(range(1001)), 90) == pytest.approx(900, abs=1.0)
    with pytest.raises(ValueError):
        harness.percentile([], 50)


def test_steal_share_of_cpu_ticks():
    before = [100, 0, 10, 500, 0, 0, 0, 20, 0, 0]
    after = [160, 0, 20, 520, 0, 0, 0, 30, 0, 0]
    assert harness.steal_pct(before, after) == pytest.approx(10.0)


def test_cpu_seconds_counts_this_process_and_a_child_tree():
    import subprocess
    import time

    before = harness.cpu_seconds(None)
    t0 = time.process_time()
    while time.process_time() - t0 < 0.3:
        pass
    after = harness.cpu_seconds(None)
    assert after[0] - before[0] >= 0.2
    assert after[1:] == (0.0, 0.0)
    # a stand-in "JVM" whose child burns CPU: the child counts as a worker
    burn = "import time\nt = time.process_time()\nwhile time.process_time() - t < 1.5: pass"
    parent = subprocess.Popen(
        ["python3", "-c", f"import subprocess; subprocess.run(['python3', '-c', {burn!r}])"]
    )
    try:
        time.sleep(1.0)
        mid = harness.cpu_seconds(parent.pid)
    finally:
        parent.wait()
    assert mid[2] > 0.1
    assert harness.cpu_seconds(parent.pid)[1:] == (0.0, 0.0)  # gone: nothing to read


def _span(sid, parent, start, end, name):
    return [sid, name, parent, 0, start, end, 0, 0]


def test_self_time_with_nested_and_overlapping_children():
    spans = [
        _span(0, None, 0.0, 10.0, "bench.op"),
        _span(1, 0, 1.0, 4.0, "a.one"),
        _span(2, 0, 3.0, 6.0, "a.two"),  # overlaps span 1, as on another thread
        _span(3, 0, 8.0, 12.0, "b.late"),  # ends after its parent
        _span(4, 1, 2.0, 3.0, "c.leaf"),
    ]
    st = harness.self_times(spans)
    assert st[0] == pytest.approx(10.0 - (6.0 - 1.0) - (10.0 - 8.0))
    assert st[1] == pytest.approx(3.0 - 1.0)
    assert st[2] == pytest.approx(3.0)
    assert st[3] == pytest.approx(4.0)
    assert st[4] == pytest.approx(1.0)
    layers = harness.self_ms_by_layer(spans)
    assert layers["a"] == pytest.approx(5000.0)
    assert layers["bench"] == pytest.approx(3000.0)


def test_tracer_records_parents_and_ops():
    tr = harness.Tracer(enabled=True)
    with tr.op(7, "bench.op"):
        with tr.span("a.outer"):
            with tr.span("b.inner"):
                pass
    by_name = {s[1]: s for s in tr.spans}
    assert by_name["a.outer"][2] == by_name["bench.op"][0]
    assert by_name["b.inner"][2] == by_name["a.outer"][0]
    assert {s[3] for s in tr.spans} == {7}
    assert all(s[5] >= s[4] for s in tr.spans)
    off = harness.Tracer(enabled=False)
    with off.op(1, "bench.op"), off.span("a.x"):
        pass
    assert off.spans == []


def test_mirror_follows_a_hand_worked_sequence():
    m = Mirror(
        pd.DataFrame(
            {
                "o_orderkey": [1, 2, 3, 4, 5],
                "o_orderstatus": ["F", "O", "F", "P", "O"],
                "o_totalprice": [10.00, 20.50, 30.25, 40.00, 50.10],
            }
        )
    )
    # key 2 is updated, key 9 inserted
    m.upsert(
        pd.DataFrame(
            {"o_orderkey": [2, 9], "o_orderstatus": ["F", "P"], "o_totalprice": [99.99, 1.01]}
        )
    )
    m.delete([3, 4, 42])  # 42 never existed
    # live rows: 1 F 10.00, 2 F 99.99, 5 O 50.10, 9 P 1.01
    assert m.range_summary(0, 100) == (4, 1 + 2 + 5 + 9, 1000 + 9999 + 5010 + 101)
    assert m.range_summary(2, 6) == (2, 7, 9999 + 5010)
    assert m.status_summary() == {"F": (2, 10999), "O": (1, 5010), "P": (1, 101)}
    # an upsert of a deleted key brings it back
    m.upsert(pd.DataFrame({"o_orderkey": [3], "o_orderstatus": ["O"], "o_totalprice": [5.0]}))
    assert m.range_summary(3, 4) == (1, 3, 500)


def test_result_comparison_ignores_order_and_last_bits():
    a = check.rows_result(["b", "a"], [(1.0000000000001, "x"), (None, "y")])
    b = check.rows_result(["a", "b"], [("y", None), ("x", 1.0)])
    assert check.mismatch(a, b) is None
    c = check.rows_result(["a", "b"], [("y", None), ("x", 1.01)])
    assert check.mismatch(a, c) is not None
    assert check.mismatch(a, check.rows_result(["a"], [("x",)])) is not None
    pdf = pd.DataFrame({"k": ["a", "b"], "v": [np.int64(3), np.int64(4)], "f": [0.5, np.nan]})
    rows = check.rows_result(["k", "v", "f"], [("b", 4, None), ("a", 3, 0.5)])
    assert check.mismatch(check.pandas_result(pdf), rows) is None


def test_benchmark_json_lists_the_metrics_the_runner_prints():
    from perfbench import run

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_metrics()
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
