"""Every top-level function and class in the package is reached from
outside its own body by code that is not a test.

The scan parses every ``.py`` file of the repository except the test
trees and dot-directories, and counts a name as referenced when it
appears as a ``Name``, an ``Attribute`` or an import alias. A string
constant that is an identifier counts only under ``perfbench/``, the
harness that wraps operators by name; elsewhere such a string is a query
key, a column or a label, and matching it to a function of the same name
would hide an unreached function. A package function that only tests
call belongs under ``tests/``.

The same holds for ``DedupConfig``: every field is read by package code
and set by some caller. A value nothing sets is a constant beside the
code that reads it, not a field.
"""

from __future__ import annotations

import ast
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = "umi_dedup_spark"

# per-row reference implementations kept beside the code they certify
EXEMPT = {
    "deduplicate_counts",  # tests/test_estimators.py, tests/test_round2_hardening.py
    "suffix_array_lcs",  # tests/test_suffix.py
}


def _sources(root: Path):
    for path in sorted(root.rglob("*.py")):
        parts = path.relative_to(root).parts
        if any(p.startswith(".") for p in parts[:-1]):
            continue
        if parts[0] == "tests" or parts[:2] == ("perfbench", "tests"):
            continue
        yield parts, ast.parse(path.read_text(), str(path))


def _names(node: ast.AST, strings: bool) -> set[str]:
    """Names ``node`` references; identifier-shaped string constants too
    when ``strings``."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
        elif (
            strings and isinstance(n, ast.Constant)
            and isinstance(n.value, str) and n.value.isidentifier()
        ):
            out.add(n.value)
    return out


def unreached(root: Path = ROOT) -> list[str]:
    """``module:name`` of each package def/class no other top-level
    statement of a non-test file references."""
    uses: Counter[str] = Counter()
    defs = []
    for parts, tree in _sources(root):
        for stmt in tree.body:
            names = _names(stmt, strings=parts[0] == "perfbench")
            uses.update(names)
            if parts[0] == PACKAGE and isinstance(
                stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                defs.append(("/".join(parts), stmt.name, stmt.name in names))
    return [
        f"{mod}:{name}"
        for mod, name, self_ref in defs
        if uses[name] - self_ref == 0 and name not in EXEMPT
    ]


def test_every_package_def_is_reached():
    assert unreached() == []


# set by perfbench's workloads but read by nothing: deleting it waits for
# the benchmark change that stops passing it (ROADMAP item 1)
SET_NOT_READ = {"shuffle_partitions"}


def _config_fields(root: Path) -> list[str]:
    tree = ast.parse((root / PACKAGE / "config.py").read_text())
    cls = next(
        n for n in tree.body if isinstance(n, ast.ClassDef) and n.name == "DedupConfig"
    )
    return [s.target.id for s in cls.body if isinstance(s, ast.AnnAssign)]


def _sets_config(call: ast.Call) -> bool:
    """``DedupConfig(...)``, ``dataclasses.replace(...)`` or a bare
    ``replace(...)``."""
    f = call.func
    if isinstance(f, ast.Name):
        return f.id in ("DedupConfig", "replace")
    return isinstance(f, ast.Attribute) and (
        f.attr == "DedupConfig"
        or (f.attr == "replace" and isinstance(f.value, ast.Name) and f.value.id == "dataclasses")
    )


def unused_config_fields(root: Path = ROOT) -> list[str]:
    """``DedupConfig`` fields that package code outside ``config.py``
    never reads as an attribute, or that no ``DedupConfig(...)`` /
    ``dataclasses.replace(...)`` call anywhere in the repository, tests
    included, passes as a keyword."""
    read, passed = set(), set()
    for path in sorted(root.rglob("*.py")):
        parts = path.relative_to(root).parts
        if any(p.startswith(".") for p in parts[:-1]):
            continue
        in_package = parts[0] == PACKAGE and parts != (PACKAGE, "config.py")
        for n in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(n, ast.Call) and _sets_config(n):
                passed.update(k.arg for k in n.keywords if k.arg)
            elif in_package and isinstance(n, ast.Attribute):
                read.add(n.attr)
    return [
        f
        for f in _config_fields(root)
        if f not in passed or (f not in read and f not in SET_NOT_READ)
    ]


def test_every_config_field_is_read_and_set():
    assert unused_config_fields() == []
