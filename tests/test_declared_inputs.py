"""Every memoized builder declares the tables it reads.

``tables.cached_per_input`` keys a value on the fingerprint of the tables
the decorator names and nothing else, so a builder that also read an
undeclared table would serve a stale value after that table is rewritten.
For every decorated builder in the package (the shared persisted frames and
models, the ``analytics`` page queries and the ``f1_*`` views), each
``HadoopFsRelation`` input file of the frames it returns must lie under
``table_path(sf_dir, name)`` of a declared input. A builder whose value is
a driver-side model is checked through the frames its registered callers
train it on."""

from __future__ import annotations

import importlib
import inspect
import os
import pkgutil
from urllib.parse import unquote, urlparse

import pytest
from pyspark.sql import DataFrame

import f1_lakehouse_spark
from f1_lakehouse_spark.registry import REGISTRY, _ensure_loaded
from f1_lakehouse_spark.tables import table_path
from tests.conftest import SF_DIR

# values for the request builders' parameters beyond (spark, sf_dir)
ARGS = {"year": 1996}


def _builders() -> dict[str, tuple]:
    found = {}
    for info in pkgutil.walk_packages(f1_lakehouse_spark.__path__, "f1_lakehouse_spark."):
        mod = importlib.import_module(info.name)
        for name, fn in vars(mod).items():
            if hasattr(fn, "inputs") and hasattr(fn, "entries") and fn.__module__ == mod.__name__:
                found[f"{mod.__name__}.{name}"] = (mod, name, fn)
    return found


_ensure_loaded()
BUILDERS = _builders()


def test_every_kind_of_builder_is_found():
    names = {qualname.rsplit(".", 1)[1] for qualname in BUILDERS}
    assert {"kpis", "f1_fastest_laps", "char_trigram_frame", "_train_kmeans"} <= names
    assert len(BUILDERS) >= 27


def _scala_list(seq) -> list:
    return [seq.apply(i) for i in range(seq.size())]


def _input_files(df: DataFrame) -> list[str]:
    plan = df._jdf.queryExecution().analyzed()
    files = []
    for p in [plan, *_scala_list(plan.subqueriesAll())]:
        for leaf in _scala_list(p.collectLeaves()):
            if leaf.nodeName() == "LogicalRelation":
                files.extend(unquote(urlparse(u).path) for u in leaf.relation().inputFiles())
    return files


def _frames(*values) -> list[DataFrame]:
    out = []
    for v in values:
        if isinstance(v, DataFrame):
            out.append(v)
        elif isinstance(v, (tuple, list)):
            out.extend(_frames(*v))
        elif isinstance(v, dict):
            out.extend(_frames(*v.values()))
    return out


def _callers(mod, name: str) -> list:
    """Registered queries of ``mod`` whose code names the builder."""
    return [
        q.fn
        for q in REGISTRY.values()
        if q.fn.__module__ == mod.__name__
        and name in inspect.unwrap(q.fn).__code__.co_names
    ]


@pytest.mark.parametrize("qualname", sorted(BUILDERS))
def test_builder_reads_only_declared_inputs(spark, monkeypatch, qualname):
    mod, name, fn = BUILDERS[qualname]
    calls = []

    def spy(*args, **kwargs):
        value = fn(*args, **kwargs)
        calls.append((args, kwargs, value))
        return value

    monkeypatch.setattr(mod, name, spy)
    params = list(inspect.signature(fn).parameters.values())[2:]
    required = [p.name for p in params if p.default is inspect.Parameter.empty]
    if all(p in ARGS for p in required):
        spy(spark, SF_DIR, **{p: ARGS[p] for p in required})
    if not _frames(*[v for _, _, v in calls]):  # a model: check what it is trained on
        callers = _callers(mod, name)
        assert callers, f"{qualname} returns no frame and has no registered caller"
        for caller in callers:
            caller(spark, SF_DIR)
    frames = _frames(*[(args[2:], kwargs, value) for args, kwargs, value in calls])
    assert frames, f"{qualname}: nothing to check"

    declared = [os.path.abspath(table_path(SF_DIR, t)) for t in fn.inputs]
    for df in frames:
        for path in _input_files(df):
            path = os.path.abspath(path)
            assert any(path == d or path.startswith(d + os.sep) for d in declared), (
                f"{qualname} reads {path}, outside its declared inputs {fn.inputs}"
            )
