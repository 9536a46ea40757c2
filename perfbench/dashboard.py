"""``dashboard``: one analyst waiting on one small query at a time.

A closed loop with one client. Requests come in blocks, each request ending
in ``analytics.to_client``:

- an ``analytics`` page view: the five ``f1_lakehouse_spark.analytics``
  functions for one scope year, in page order. This is what one render of
  the reference dashboard page runs (``dashboard/app.py:130-242``, which
  ``analytics.py`` mirrors);
- the ``f1`` views: the seven registered ``f1_*`` dashboard and notebook
  adapter queries, in registry order;
- a ``copilot`` question: ``copilot.guardrails.ask_json`` answered by a
  ``TemplateTranslator``; two of its seven templates are mutating SQL that
  must be refused with ``GuardrailError``.

A deck holds ``PAGES_PER_DECK`` page views, the f1 views once and each
copilot question once, shuffled per seed: 29 requests. The shares of the
three kinds are assumptions; nothing in the repository records how often
an analyst uses each. Page scopes are Zipf-skewed: over a run, the years
ranked by the seed's popularity get page views in proportion to 1/rank
(``zipf_counts``), a fixed count per rank rather than independent draws,
so every run of the same length does the same work. The seed moves the
order and which years are popular. Results are small, so time goes to
planning, job scheduling, ``load_table`` and Py4J round trips rather than
scan bandwidth.
"""

from __future__ import annotations

import json

import numpy as np

from f1_lakehouse_spark import analytics, tables
from f1_lakehouse_spark.copilot import guardrails
from f1_lakehouse_spark.registry import REGISTRY, _ensure_loaded
from perfbench import check
from perfbench.harness import Ctx, instrument, median, self_times, span_seconds

ANALYTICS = ("session_date", "kpis", "fastest_topk", "team_summary_view", "pace_curve")
YEARS = tuple(range(1995, 2002))
PAGES_PER_DECK = 3
F1_QUERIES = (
    "f1_session_date",
    "f1_session_kpis",
    "f1_fastest_laps",
    "f1_pace_curve",
    "f1_driver_alias_audit",
    "f1_team_points",
    "f1_classification_breakdown",
)

_TOP_CUSTOMERS = (
    "SELECT o_custkey, COUNT(*) AS n_orders, SUM(o_totalprice) AS spend "
    "FROM orders GROUP BY o_custkey ORDER BY spend DESC, o_custkey LIMIT 10"
)
# question -> (translator output, oracle SQL or None when it must be refused)
COPILOT = {
    "revenue by return flag": (
        "```sql\nSELECT l_returnflag, COUNT(*) AS n_lines, "
        "SUM(l_extendedprice) AS revenue FROM lineitem GROUP BY l_returnflag\n```",
        "SELECT l_returnflag, COUNT(*) AS n_lines, SUM(l_extendedprice) AS revenue "
        "FROM lineitem GROUP BY l_returnflag",
    ),
    "orders by priority": (
        "SELECT o_orderpriority, COUNT(*) AS n_orders, AVG(o_totalprice) AS "
        "avg_price FROM orders GROUP BY o_orderpriority;",
        "SELECT o_orderpriority, COUNT(*) AS n_orders, AVG(o_totalprice) AS "
        "avg_price FROM orders GROUP BY o_orderpriority",
    ),
    "top customers": (
        json.dumps({"sql": _TOP_CUSTOMERS, "chart_type": "bar", "justification": "top spenders"}),
        _TOP_CUSTOMERS,
    ),
    "events by type": (
        "```sql\nSELECT event_type, COUNT(*) AS n_events, AVG(value) AS avg_value "
        "FROM events GROUP BY event_type\n```",
        "SELECT event_type, COUNT(*) AS n_events, AVG(value) AS avg_value "
        "FROM events GROUP BY event_type",
    ),
    "suppliers per nation": (
        "SELECT n_name, COUNT(*) AS n_suppliers FROM supplier JOIN nation "
        "ON s_nationkey = n_nationkey GROUP BY n_name",
        "SELECT n_name, COUNT(*) AS n_suppliers FROM supplier JOIN nation "
        "ON s_nationkey = n_nationkey GROUP BY n_name",
    ),
    "purge old orders": (
        "```sql\nDELETE FROM orders WHERE o_orderdate < DATE '1996-01-01'\n```",
        None,
    ),
    "orders then drop": ("SELECT * FROM orders; DROP TABLE orders", None),
}

METRICS = {
    "dashboard.build_ms": "ms",
    "dashboard.collect_ms": "ms",
    "dashboard.kind.analytics_p50_ms": "ms",
    "dashboard.kind.f1_p50_ms": "ms",
    "dashboard.kind.copilot_p50_ms": "ms",
    "tables.load_table_ms": "ms",
    "tables.load_table_calls_per_op": "calls/op",
    "tables.memo_hit_ratio": "ratio",
    "copilot.guard_ms": "ms",
    "copilot.sql_ms": "ms",
    "copilot.chart_ms": "ms",
    "copilot.collect_ms": "ms",
    "copilot.jobs_per_request": "jobs/op",
    "copilot.refusals": "count",
}


def analytics_oracle(fn: str, year: int) -> str:
    """DuckDB SQL for each ``analytics`` function (the package holds none)."""
    scope = f"FROM lineitem WHERE year(l_shipdate) = {year}"
    return {
        "session_date": f"SELECT strftime(MIN(l_shipdate), '%Y-%m-%d') AS session_date {scope}",
        "kpis": "SELECT COUNT(*) AS n_lines, COUNT(DISTINCT l_suppkey) AS n_suppliers, "
        f"COUNT(DISTINCT l_partkey) AS n_parts, MIN(l_extendedprice) AS best_price {scope}",
        "fastest_topk": "SELECT l_orderkey, l_linenumber, l_suppkey, l_extendedprice "
        f"{scope} ORDER BY l_extendedprice, l_orderkey, l_linenumber LIMIT 50",
        "team_summary_view": "SELECT l_returnflag, l_linestatus, COUNT(*) AS n_lines, "
        f"MIN(l_extendedprice) AS best_price {scope} GROUP BY 1, 2",
        "pace_curve": f"SELECT l_linenumber, MEDIAN(l_quantity) AS median_qty {scope} GROUP BY 1",
    }[fn]


def expected_chart(payload_chart: str | None, n_rows: int) -> str:
    """``suggest_chart``'s rule applied to the oracle result (every copilot
    template returns a numeric column and no trend axis)."""
    return payload_chart or ("bar" if n_rows <= 25 else "table")


def popularity(seed: int) -> list[int]:
    """``YEARS`` ordered by popularity rank, drawn from ``seed``."""
    return [int(y) for y in np.random.default_rng([seed, 0]).permutation(YEARS)]


def zipf_counts(n: int, k: int) -> list[int]:
    """``n`` page views over ``k`` ranks in Zipf (s = 1) proportions: rank r
    gets ``n / (r * H_k)``, rounded by largest remainder so the counts sum
    to ``n``."""
    weights = [1.0 / r for r in range(1, k + 1)]
    quotas = [n * w / sum(weights) for w in weights]
    counts = [int(q) for q in quotas]
    for i in sorted(range(k), key=lambda i: counts[i] - quotas[i])[: n - sum(counts)]:
        counts[i] += 1
    return counts


def deck(rng: np.random.Generator, scopes: list[int]) -> list[tuple]:
    """One page view per year in ``scopes``, the f1 views and every copilot
    question, as blocks in shuffled order."""
    blocks = [[("analytics", fn, y) for fn in ANALYTICS] for y in scopes]
    blocks.append([("f1", name, None) for name in F1_QUERIES])
    blocks += [[("copilot", q, None)] for q in COPILOT]
    return [req for i in rng.permutation(len(blocks)) for req in blocks[i]]


def decks(rng: np.random.Generator, units: int, years: list[int]) -> list[list[tuple]]:
    """``units`` decks; ``years`` lists the years by popularity rank."""
    counts = zipf_counts(PAGES_PER_DECK * units, len(years))
    scopes = [y for y, c in zip(years, counts) for _ in range(c)]
    scopes = [scopes[i] for i in rng.permutation(len(scopes))]
    return [
        deck(rng, scopes[n * PAGES_PER_DECK : (n + 1) * PAGES_PER_DECK]) for n in range(units)
    ]


class Dashboard:
    unit_s = 8.0  # one warm deck of 29 requests on a 4-core box

    def __init__(self, ctx: Ctx):
        _ensure_loaded()
        self.ctx = ctx
        self.translator = guardrails.TemplateTranslator(
            {q: raw for q, (raw, _) in COPILOT.items()}
        )
        self.expected: dict[tuple, object] = {}
        self.load_calls: list[tuple[float, bool]] = []
        self.years = popularity(ctx.seed)

    def stage(self) -> None:
        """Views for the copilot's SQL."""
        tables.register_views(self.ctx.spark, self.ctx.data_dir)

    def warm_up(self) -> None:
        """Every distinct request once, the page on the most popular year,
        so the measured decks start on warm code paths."""
        for key in deck(np.random.default_rng([self.ctx.seed, 2]), self.years[:1]):
            self._request(*key)

    def expect(self, oracle: check.Oracle) -> None:
        for fn in ANALYTICS:
            for y in YEARS:
                self.expected[("analytics", fn, y)] = check.rows_result(
                    *oracle.query(analytics_oracle(fn, y))
                )
        for name in F1_QUERIES:
            self.expected[("f1", name, None)] = check.rows_result(
                *oracle.query(REGISTRY[name].oracle)
            )
        for q, (raw, sql) in COPILOT.items():
            if sql is None:
                self.expected[("copilot", q, None)] = None
                continue
            cols, rows = oracle.query(sql)
            chart = json.loads(raw).get("chart_type") if raw.startswith("{") else None
            self.expected[("copilot", q, None)] = (
                check.rows_result(cols, rows),
                expected_chart(chart, len(rows)),
            )

    def instrument(self):
        tr = self.ctx.tracer
        seen: dict[int, object] = {}  # holds the frames so ids stay unique

        def on_load(_args, df, seconds):
            self.load_calls.append((seconds, id(df) in seen))
            seen[id(df)] = df

        undo = [instrument(tr, tables.load_table, "tables.load_table", on_load)]
        for fn in (
            guardrails.extract_sql,
            guardrails.validate_select_only,
            guardrails.rewrite_schema_names,
            guardrails.wrap_limit,
            guardrails.parse_ai_response,
        ):
            undo.append(instrument(tr, fn, "copilot.guard"))
        undo.append(instrument(tr, guardrails.execute_guarded, "copilot.execute"))
        undo.append(instrument(tr, guardrails.suggest_chart, "copilot.chart"))
        return lambda: [u() for u in undo]

    # --- requests ---------------------------------------------------------

    def _request(self, kind: str, name: str, year: int | None):
        spark, d, tr = self.ctx.spark, self.ctx.data_dir, self.ctx.tracer
        if kind == "analytics":
            with tr.span("analytics.build"):
                df = getattr(analytics, name)(spark, d, year)
        elif kind == "f1":
            with tr.span("f1.build"):
                df = REGISTRY[name].fn(spark, d)
        else:
            try:
                with tr.span("copilot.ask_json"):
                    res = guardrails.ask_json(spark, name, self.translator)
            except guardrails.GuardrailError as exc:
                return "refused", str(exc)
            with tr.span("analytics.to_client"):
                return analytics.to_client(res["df"]), res["chart"]
        with tr.span("analytics.to_client"):
            return analytics.to_client(df)

    def _check(self, key: tuple, got) -> str | None:
        want = self.expected[key]
        if key[0] != "copilot":
            return check.mismatch(check.pandas_result(got), want)
        refused = isinstance(got[0], str)
        if want is None:
            return None if refused else "mutating SQL was not refused"
        if refused:
            return f"refused a read-only question: {got[1]}"
        if got[1] != want[1]:
            return f"chart {got[1]!r} != {want[1]!r}"
        return check.mismatch(check.pandas_result(got[0]), want[0])

    def run(self, units: int, rng: np.random.Generator) -> None:
        """``units`` decks."""
        for requests in decks(rng, units, self.years):
            for key in requests:
                self.ctx.run_op(
                    key[0],
                    lambda key=key: self._request(*key),
                    lambda got, key=key: self._check(key, got),
                    refusal=key[0] == "copilot" and COPILOT[key[1]][1] is None,
                )

    # --- per-layer numbers from a traced run --------------------------------

    def layer_metrics(self, counts) -> dict[str, float]:
        ops, spans = self.ctx.ops, self.ctx.tracer.spans
        of_kind = {
            kind: {i for i, op in enumerate(ops) if op.kind == kind}
            for kind in ("analytics", "f1", "copilot")
        }
        reads = of_kind["analytics"] | of_kind["f1"]
        asked = {i for i in of_kind["copilot"] if not ops[i].info["refusal"]}
        st = self_times(spans)

        def mean_ms(xs: list[float]) -> float:
            return 1000 * sum(xs) / len(xs) if xs else 0.0

        def per_request_ms(name: str, times=None) -> float:
            return 1000 * sum(span_seconds(spans, (name,), asked, times)) / max(1, len(asked))

        out = {
            "dashboard.build_ms": mean_ms(span_seconds(spans, ("analytics.build", "f1.build"), reads)),
            "dashboard.collect_ms": mean_ms(span_seconds(spans, ("analytics.to_client",), reads)),
            "copilot.guard_ms": per_request_ms("copilot.guard"),
            "copilot.sql_ms": per_request_ms("copilot.execute", st),
            "copilot.chart_ms": per_request_ms("copilot.chart"),
            "copilot.collect_ms": mean_ms(span_seconds(spans, ("analytics.to_client",), asked)),
            "copilot.jobs_per_request": sum(counts[i][0] for i in asked) / max(1, len(asked)),
            "copilot.refusals": float(sum(1 for i in of_kind["copilot"] - asked if ops[i].ok)),
        }
        for kind, ids in of_kind.items():
            out[f"dashboard.kind.{kind}_p50_ms"] = median([ops[i].seconds * 1000 for i in ids])
        if self.load_calls:
            n = len(self.load_calls)
            out["tables.load_table_ms"] = 1000 * sum(s for s, _ in self.load_calls) / n
            out["tables.load_table_calls_per_op"] = n / len(ops)
            out["tables.memo_hit_ratio"] = sum(1 for _, hit in self.load_calls if hit) / n
        return out
