"""Mini model registry + DAG runner (SURVEY.md §2.11 D1–D4).

The reference's "planner" is dbt: Jinja ``ref()`` resolution builds a
dependency DAG, models materialize as full-rebuild tables in ``silver`` /
``gold`` schemas, and declarative ``not_null`` tests run after each model
(reference ``transform/dbt_project.yml:6-11``,
``transform/target/manifest.json`` deps, ``models/*/schema.yml``).

Here a model is a Python function ``fn(inputs: dict[str, DataFrame]) ->
DataFrame`` whose declared ``deps`` are other model names (``ref()``) or
``source:<table>`` pointers into the bronze layer. The runner topologically
sorts and materializes each model (``saveAsTable`` full rebuild — the
reference's ``+materialized: table``). Its ``not_null`` columns (D4) are
``observe()`` metrics on that write job: the row count and every declared
column's null count come back from the one pass that writes the table,
where dbt re-scans the built table once per test.

Independent models can materialize concurrently (dbt's ``threads: 8``,
reference ``profiles/profiles.yml:7``) — Spark's scheduler interleaves the
jobs; at cluster scale this overlaps stage scheduling, not correctness.
"""

from __future__ import annotations

import concurrent.futures
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.observation import Observation

from f1_lakehouse_spark.quality.checks import null_counts

ModelFn = Callable[[dict[str, DataFrame]], DataFrame]


@dataclass
class Model:
    name: str  # e.g. "silver.lineitem_typed"
    fn: ModelFn
    deps: tuple[str, ...] = ()  # model names or "source:<table>"
    not_null: tuple[str, ...] = ()  # D4 columns gated on the write job
    description: str = ""

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]


@dataclass
class RunResult:
    name: str
    rows: int
    test_failures: dict[str, int] = field(default_factory=dict)

    @property
    def ok(self) -> bool:
        return all(v == 0 for v in self.test_failures.values())


class ModelRegistry:
    """ref()-style dependency resolution + topological materialization."""

    def __init__(self, source_loader: Callable[[str], DataFrame]):
        self._models: dict[str, Model] = {}
        self._source_loader = source_loader

    def add(self, model: Model) -> None:
        if model.name in self._models:
            raise ValueError(f"duplicate model {model.name!r}")
        self._models[model.name] = model

    def model(
        self,
        name: str,
        deps: tuple[str, ...] = (),
        not_null: tuple[str, ...] = (),
        description: str = "",
    ) -> Callable[[ModelFn], ModelFn]:
        def deco(fn: ModelFn) -> ModelFn:
            self.add(Model(name, fn, deps, not_null, description or fn.__doc__ or ""))
            return fn

        return deco

    def topo_order(self) -> list[str]:
        """Kahn's algorithm over model→model edges (sources are free)."""
        indeg = {n: 0 for n in self._models}
        out: dict[str, list[str]] = {n: [] for n in self._models}
        for n, m in self._models.items():
            for d in m.deps:
                if d.startswith("source:"):
                    continue
                if d not in self._models:
                    raise KeyError(f"model {n!r} depends on unknown {d!r}")
                indeg[n] += 1
                out[d].append(n)
        ready = sorted(n for n, k in indeg.items() if k == 0)
        order: list[str] = []
        while ready:
            n = ready.pop(0)
            order.append(n)
            for nxt in sorted(out[n]):
                indeg[nxt] -= 1
                if indeg[nxt] == 0:
                    ready.append(nxt)
        if len(order) != len(self._models):
            cyc = set(self._models) - set(order)
            raise ValueError(f"dependency cycle among {sorted(cyc)}")
        return order

    def build_dataframe(self, name: str, cache: dict[str, DataFrame]) -> DataFrame:
        """Resolve a model to its (lazy) DataFrame without materializing."""
        if name in cache:
            return cache[name]
        m = self._models[name]
        inputs: dict[str, DataFrame] = {}
        for d in m.deps:
            if d.startswith("source:"):
                inputs[d.removeprefix("source:")] = self._source_loader(
                    d.removeprefix("source:")
                )
            else:
                inputs[d] = self.build_dataframe(d, cache)
        df = m.fn(inputs)
        cache[name] = df
        return df

    def run(self, spark: SparkSession, materialize: bool = True) -> dict[str, RunResult]:
        """Materialize every model in dependency order (full rebuild).

        Models at the same topological depth materialize concurrently
        (dbt-threads analog, one thread per model of the wave). Each
        model's row count and not_null failures are observed on its write
        job, so a model costs that one job whatever it declares. With
        ``materialize=False`` the same observed frame goes to the ``noop``
        sink: the DAG is resolved and gated without writing tables.
        """
        order = self.topo_order()
        results: dict[str, RunResult] = {}
        cache: dict[str, DataFrame] = {}

        # group into waves by depth so intra-wave models run in parallel
        depth: dict[str, int] = {}
        for n in order:
            ds = [d for d in self._models[n].deps if not d.startswith("source:")]
            depth[n] = 1 + max((depth[d] for d in ds), default=-1)
        waves: dict[int, list[str]] = {}
        for n in order:
            waves.setdefault(depth[n], []).append(n)

        for _, names in sorted(waves.items()):
            if materialize:
                for layer in {self._models[n].layer for n in names}:
                    spark.sql(f"CREATE DATABASE IF NOT EXISTS {layer}")

            def _one(n: str) -> RunResult:
                not_null = self._models[n].not_null
                obs = Observation()
                df = self.build_dataframe(n, cache).observe(
                    obs, F.count(F.lit(1)).alias("rows"), *null_counts(not_null, "nulls_")
                )
                writer = df.write.mode("overwrite")
                if materialize:
                    writer.saveAsTable(n)
                else:
                    writer.format("noop").save()
                got = obs.get
                return RunResult(n, got["rows"], {c: got[f"nulls_{c}"] for c in not_null})

            with concurrent.futures.ThreadPoolExecutor(max_workers=len(names)) as ex:
                for res in ex.map(_one, names):
                    results[res.name] = res
        return results
