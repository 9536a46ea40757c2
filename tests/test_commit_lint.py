"""CI gate: the commit primitives live in one module.

A fail-if-exists create (``os.link``, ``os.O_EXCL``) or a replacing rename
(``os.replace``) is how a module claims or overwrites a commit slot. Only
``sources/commit.py`` may use them, so every claim in the package follows
its one rule: a claim record is created exclusively and never rewritten.
No Spark session needed — pure AST."""

from __future__ import annotations

import ast
import pathlib

import f1_lakehouse_spark

PACKAGE = pathlib.Path(f1_lakehouse_spark.__file__).parent
COMMIT = pathlib.Path("sources", "commit.py")
PRIMITIVES = frozenset({"replace", "link", "O_EXCL"})


def _uses(path: pathlib.Path) -> list[tuple[int, str]]:
    """(line, name) of every ``os.<primitive>`` reference or import."""
    out = []
    for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
        if (
            isinstance(node, ast.Attribute)
            and node.attr in PRIMITIVES
            and isinstance(node.value, ast.Name)
            and node.value.id == "os"
        ):
            out.append((node.lineno, f"os.{node.attr}"))
        elif isinstance(node, ast.ImportFrom) and node.module == "os":
            out += [
                (node.lineno, f"os.{a.name}") for a in node.names if a.name in PRIMITIVES
            ]
    return out


def test_commit_primitives_only_in_commit_module():
    offenders = [
        f"{path.relative_to(PACKAGE)}:{line}: {name}"
        for path in sorted(PACKAGE.rglob("*.py"))
        if path.relative_to(PACKAGE) != COMMIT
        for line, name in _uses(path)
    ]
    assert offenders == []


def test_lint_sees_the_commit_module():
    """Sanity: the walk finds commit.py's own uses, so the gate above
    cannot pass because the AST walk silently broke."""
    names = {name for _, name in _uses(PACKAGE / COMMIT)}
    assert names == {"os.replace", "os.link"}
