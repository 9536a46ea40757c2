"""``batch``: the nightly job: merge-on-read churn, a medallion refresh, then
the headline suite.

A pass is, in order:

1. one cycle of ``perfbench.mor_churn`` on a merge-on-read ``orders``: six
   checked reads, two upserts, a delete, then the compaction (ten ops);
2. one refresh cycle (``perfbench.refresh``: model rebuild with not_null
   gates, write-audit-publish of gold, manifest read; one op);
3. the headline queries (``bench.HEADLINE``, in its order), each one op
   written to the noop sink as ``bench.py`` does, then collected after the
   timer stops and checked against the registry's DuckDB oracle.

Each run starts from a fresh session and makes one pass, so the pass pays
what a scheduled job pays: code generation, Python worker start-up and the
``(session, sf_dir)`` shared-frame caches.

It covers the MoR read/write/compaction trade-off, the write path, the
catalog and the manifest commit, and scan-, shuffle- and CPU-bound
analytics with the dedup, ANN, text and multimodal pipeline, which the
``dashboard`` workload barely touches.
"""

from __future__ import annotations

from bench import HEADLINE
from f1_lakehouse_spark.registry import REGISTRY, _ensure_loaded
from perfbench import check
from perfbench.harness import Ctx, median
from perfbench.mor_churn import MorChurn
from perfbench.refresh import Refresh

FAMILIES = {
    "tpch": (
        "flagship_supplier_summary",
        "q1_pricing_summary",
        "q3_shipping_priority",
        "q5_local_supplier_volume",
        "q6_forecast_revenue",
        "q10_returned_items",
        "q18_large_volume_customers",
    ),
    "joins": ("join_star_broadcast", "join_asof_latest_order", "skew_salted_aggregate"),
    "windows": ("a7_median_curve", "w_sessionize_events", "w_running_total"),
    "dedup": (
        "dedup_exact",
        "dedup_ngram_jaccard",
        "dedup_minhash_lsh",
        "dedup_minhash_verified",
        "dedup_simhash",
        "dedup_clusters",
    ),
    "ann": ("ann_cosine_topk_bruteforce", "ann_cosine_topk_lsh", "ann_ivf_centroid_probe"),
    "text": ("text_quality_score", "text_lang_id_confusion"),
    "mm": ("mm_binary_decode_meta",),
}
METRICS = {
    "batch.suite_s": "s",
    "batch.passes": "count",
    "batch.jobs_per_pass": "jobs/pass",
    "batch.tasks_per_pass": "tasks/pass",
    **{f"batch.family.{f}_s": "s" for f in FAMILIES},
    **{f"batch.q.{q}_s": "s" for q in HEADLINE},
}


def layer_of(name: str) -> str:
    """``operators`` or ``pipeline``: the package the query lives in."""
    return REGISTRY[name].fn.__module__.split(".")[1]


class Batch:
    unit_s = 30.0  # one cold pass on a 4-core box

    def __init__(self, ctx: Ctx):
        _ensure_loaded()
        self.ctx = ctx
        self.expected: dict[str, tuple] = {}
        self.mor = MorChurn(ctx)
        self.refresh = Refresh(ctx)

    def stage(self) -> None:
        """The MoR table and its mirror; the refresh's lake."""
        self.mor.stage()
        self.refresh.stage()

    def warm_up(self) -> None:
        """None: the pass runs cold, as a scheduled job's first pass does."""

    def expect(self, oracle: check.Oracle) -> None:
        self.refresh.expect(oracle)
        for name in HEADLINE:
            self.expected[name] = check.rows_result(*oracle.query(REGISTRY[name].oracle))

    def instrument(self):
        return lambda: None

    def _query(self, name: str):
        """Materialize the query through the noop sink; the frame is
        returned for the check."""
        with self.ctx.tracer.span(f"{layer_of(name)}.query"):
            df = REGISTRY[name].fn(self.ctx.spark, self.ctx.data_dir)
            df.write.format("noop").mode("overwrite").save()
            return df

    def _check(self, name: str, df) -> str | None:
        """Collects the frame again, outside the op's timer."""
        return check.mismatch(check.rows_result(df.columns, df.collect()), self.expected[name])

    def run(self, units: int, rng) -> None:
        """``units`` passes."""
        for passes in range(units):
            self.mor.run_cycle(rng)
            self.refresh.run_cycle()
            for name in HEADLINE:
                self.ctx.run_op(
                    "query",
                    lambda name=name: self._query(name),
                    lambda df, name=name: self._check(name, df),
                    query=name,
                    pass_no=passes,
                )

    def layer_metrics(self, counts) -> dict[str, float]:
        queries = [(op, c) for op, c in zip(self.ctx.ops, counts) if op.kind == "query"]
        n_pass = 1 + max(op.info["pass_no"] for op, _ in queries)
        per_q: dict[str, list[float]] = {}
        for op, _ in queries:
            per_q.setdefault(op.info["query"], []).append(op.seconds)
        suite = [
            sum(op.seconds for op, _ in queries if op.info["pass_no"] == p)
            for p in range(n_pass)
        ]
        out = {
            "batch.suite_s": median(suite),
            "batch.passes": float(n_pass),
            "batch.jobs_per_pass": sum(c[0] for _, c in queries) / n_pass,
            "batch.tasks_per_pass": sum(c[2] for _, c in queries) / n_pass,
            **self.mor.layer_metrics(counts),
            **self.refresh.layer_metrics(counts),
        }
        for q, xs in per_q.items():
            out[f"batch.q.{q}_s"] = median(xs)
        for fam, names in FAMILIES.items():
            out[f"batch.family.{fam}_s"] = sum(out[f"batch.q.{q}_s"] for q in names)
        return out
