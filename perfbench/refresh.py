"""The refresh cycle: the reference's ``dbt build``, run as one op.

A cycle is ``plans.medallion.build_registry(...).run()`` (a full rebuild of
silver and gold via ``saveAsTable``, with the models' not_null gates), then
``sources.txn.write_audit_publish`` of both gold tables behind a not_null
audit, then a reader resolving both through ``read_manifest`` and
``manifest_read_table`` and collecting them. It covers the write path, the
catalog, the quality-gate jobs and the manifest commit; its reads are tiny.

Checked per cycle: zero not_null failures, zero audit violations, the
manifest names this cycle's transaction, and both gold tables read back
equal DuckDB oracle SQL over the same inputs. The ``batch`` workload opens
every pass with one cycle.
"""

from __future__ import annotations

import os

from f1_lakehouse_spark.plans.medallion import build_registry
from f1_lakehouse_spark.quality.checks import run_not_null_suite
from f1_lakehouse_spark.sources import txn
from perfbench import check
from perfbench.harness import Ctx, median, span_seconds
from perfbench.mor_churn import dir_bytes

GOLD = {
    "supplier_summary": "gold.supplier_summary",
    "flag_summary": "gold.flag_summary",
}
AUDIT_NOT_NULL = {
    "supplier_summary": ["ship_year", "l_returnflag", "l_linestatus", "l_suppkey"],
    "flag_summary": ["ship_year", "l_returnflag"],
}

_SUPPLIER_SUMMARY = """
SELECT CAST(year(l_shipdate) AS INTEGER) AS ship_year, l_returnflag,
       l_linestatus, l_suppkey,
       COUNT(*) AS lines_total,
       CAST(SUM(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS discounted_lines,
       CAST(SUM(CASE WHEN l_tax > 0 THEN 1 ELSE 0 END) AS BIGINT) AS taxed_lines,
       MIN(l_extendedprice * (1 - l_discount)) AS best_price,
       CAST(1 AS BIGINT) AS best_price_lines
FROM lineitem WHERE l_discount > 0
GROUP BY 1, 2, 3, 4"""

ORACLES = {
    "supplier_summary": _SUPPLIER_SUMMARY,
    "flag_summary": f"""
SELECT ship_year, l_returnflag,
       CAST(SUM(lines_total) AS BIGINT) AS lines_total,
       CAST(SUM(discounted_lines) AS BIGINT) AS discounted_lines,
       CAST(SUM(taxed_lines) AS BIGINT) AS taxed_lines,
       MIN(best_price) AS best_price,
       COUNT(*) AS supplier_groups
FROM ({_SUPPLIER_SUMMARY}) s WHERE l_returnflag IN ('A', 'R')
GROUP BY 1, 2""",
}

METRICS = {
    "refresh.cycle_s": "s",
    "plans.run_s": "s",
    "plans.jobs_per_run": "jobs/run",
    "quality.not_null_failures": "count",
    "quality.audit_ms": "ms",
    "warehouse.bytes_written_mb": "MB",
    "txn.publish_s": "s",
    "txn.manifest_read_ms": "ms",
    "txn.bytes_written_mb": "MB",
    "txn.space_amp": "ratio",
}


class Refresh:
    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.root = ""
        self.txn_id = 0
        self.expected: dict[str, tuple] = {}
        self.not_null_failures = 0
        self.warehouse_bytes: list[int] = []
        self.txn_bytes: list[int] = []

    def stage(self) -> None:
        """A fresh lake root for the set-up's inputs."""
        d = self.ctx.data_dir
        self.root = os.path.join(self.ctx.work, f"lake-{os.path.basename(d)}")
        self.txn_id = 0

    def expect(self, oracle: check.Oracle) -> None:
        for name, sql in ORACLES.items():
            self.expected[name] = check.rows_result(*oracle.query(sql))

    def _audit(self, staged: dict) -> list[str]:
        with self.ctx.tracer.span("quality.audit"):
            return [
                f"{name}.{col}: {n} nulls"
                for name, df in staged.items()
                for col, n in run_not_null_suite(df, AUDIT_NOT_NULL[name]).items()
                if n
            ]

    def _cycle(self):
        spark, tr, d = self.ctx.spark, self.ctx.tracer, self.ctx.data_dir
        with tr.span("plans.run"):
            results = build_registry(spark, d).run(spark)
        gold = {name: spark.table(table) for name, table in GOLD.items()}
        self.txn_id += 1
        with tr.span("txn.write_audit_publish"):
            violations = txn.write_audit_publish(spark, self.root, gold, self.txn_id, self._audit)
        with tr.span("txn.read_manifest"):
            manifest = txn.read_manifest(self.root)
            read = {}
            for name in GOLD:
                df = txn.manifest_read_table(spark, self.root, name, manifest)
                read[name] = (df.columns, df.collect())
        return results, violations, manifest, read

    def _check(self, got) -> str | None:
        results, violations, manifest, read = got
        failures = sum(n for r in results.values() for n in r.test_failures.values())
        self.not_null_failures += failures
        if failures:
            return f"{failures} not_null failures"
        if violations:
            return f"audit rejected: {violations}"
        if manifest is None or manifest["txn"] != self.txn_id:
            return f"manifest {manifest} is not txn {self.txn_id}"
        warehouse = self.ctx.spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
        self.warehouse_bytes.append(dir_bytes(warehouse))
        self.txn_bytes.append(
            sum(dir_bytes(os.path.join(self.root, name, manifest["tables"][name])) for name in GOLD)
        )
        for name, (cols, rows) in read.items():
            err = check.mismatch(check.rows_result(cols, rows), self.expected[name])
            if err:
                return f"{name}: {err}"
        return None

    def run_cycle(self) -> None:
        self.ctx.run_op("refresh", self._cycle, self._check)

    def layer_metrics(self, counts) -> dict[str, float]:
        ops, spans = self.ctx.ops, self.ctx.tracer.spans
        cycles = [op.seconds for op in ops if op.kind == "refresh"]

        def span_s(name: str) -> list[float]:
            return span_seconds(spans, (name,))

        def mean(xs) -> float:
            return sum(xs) / len(xs) if xs else 0.0

        plan_jobs = [j1 - j0 for _i, n, _p, _o, _s, _e, j0, j1 in spans if n == "plans.run"]
        live = 0
        manifest = txn.read_manifest(self.root)
        if manifest is not None:
            live = sum(dir_bytes(os.path.join(self.root, n, v)) for n, v in manifest["tables"].items())
        return {
            "refresh.cycle_s": median(cycles) if cycles else 0.0,
            "plans.run_s": mean(span_s("plans.run")),
            "plans.jobs_per_run": mean(plan_jobs),
            "quality.not_null_failures": float(self.not_null_failures),
            "quality.audit_ms": 1000 * mean(span_s("quality.audit")),
            "warehouse.bytes_written_mb": mean(self.warehouse_bytes) / 1e6,
            "txn.publish_s": mean(span_s("txn.write_audit_publish")),
            "txn.manifest_read_ms": 1000 * mean(span_s("txn.read_manifest")),
            "txn.bytes_written_mb": mean(self.txn_bytes) / 1e6,
            "txn.space_amp": dir_bytes(self.root) / live if live else 0.0,
        }
