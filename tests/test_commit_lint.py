"""CI gate: the commit primitives live in one module.

A fail-if-exists create (``os.link``, ``os.O_EXCL``), a claiming rename
(``os.rename``) or a replacing one (``os.replace``) is how a module claims
or overwrites a commit slot. Only ``sources/commit.py`` may use them, so
every claim in the package follows its one rule: a claim is one exclusive
step and is never rewritten. No Spark session needed — pure AST."""

from __future__ import annotations

import ast
import pathlib

import f1_lakehouse_spark

PACKAGE = pathlib.Path(f1_lakehouse_spark.__file__).parent
COMMIT = pathlib.Path("sources", "commit.py")
PRIMITIVES = frozenset({"replace", "link", "O_EXCL", "rename"})
# (module, primitive) uses that are not commit points, each with its reason
NOT_COMMITS = {
    (pathlib.Path("sources", "layout.py"), "os.rename"): (
        "compact_parquet swaps a plain parquet dir for its rewrite in two "
        "renames; no reader or writer arbitrates on that name"
    ),
}


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
        if (path.relative_to(PACKAGE), name) not in NOT_COMMITS
    ]
    assert offenders == []


def test_lint_sees_the_commit_module():
    """Sanity: the walk finds commit.py's own uses, so the gate above
    cannot pass because the AST walk silently broke."""
    names = {name for _, name in _uses(PACKAGE / COMMIT)}
    assert names == {"os.replace", "os.link", "os.rename"}


def test_not_commit_entries_are_used():
    """Every exempted use still exists, so the exemption list cannot
    outlive the code it excuses."""
    used = {
        (path.relative_to(PACKAGE), name)
        for path in PACKAGE.rglob("*.py")
        for _, name in _uses(path)
    }
    assert set(NOT_COMMITS) <= used
