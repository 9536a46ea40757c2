"""CI gate: every package module imports on its own.

A module that leans on a registration or side effect some other module
happens to run first works under ``registry._ensure_loaded`` and breaks
the first caller that imports it directly. One child interpreter imports
each module in turn after dropping every ``f1_lakehouse_spark`` entry from
``sys.modules``, so each import starts from a cold package (third-party
modules such as pyspark stay cached, which keeps the run short). No Spark
session needed."""

from __future__ import annotations

import pathlib
import subprocess
import sys

import f1_lakehouse_spark

PACKAGE = pathlib.Path(f1_lakehouse_spark.__file__).parent

_CHILD = """
import importlib, sys, traceback
failed = []
for name in sys.argv[1:]:
    for mod in [m for m in sys.modules if m.split(".")[0] == "f1_lakehouse_spark"]:
        del sys.modules[mod]
    try:
        importlib.import_module(name)
    except Exception:
        failed.append(f"{name}: {traceback.format_exc().splitlines()[-1]}")
print("\\n".join(failed))
"""


def _module_names() -> list[str]:
    names = []
    for path in sorted(PACKAGE.rglob("*.py")):
        parts = path.relative_to(PACKAGE.parent).with_suffix("").parts
        names.append(".".join(parts[:-1] if parts[-1] == "__init__" else parts))
    return names


def test_every_module_imports_on_its_own():
    names = _module_names()
    assert len(names) > 50, names  # the walk found the package
    run = subprocess.run(
        [sys.executable, "-c", _CHILD, *names],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=PACKAGE.parent,
    )
    assert run.returncode == 0, run.stderr
    failed = run.stdout.strip()
    assert not failed, f"modules that fail a standalone import:\n{failed}"
