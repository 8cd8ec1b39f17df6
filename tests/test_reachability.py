"""Reachability guard: no public top-level def, and no public method of a
package class, is reached only from tests.

An AST scan (no imports, no Spark). Candidates are the public (no
leading underscore), undecorated top-level functions and classes of every
package module except ``compat.py``, whose Glue-API façade is public
surface by design. Decorated defs are excluded: ``@query`` functions are
reached through the registry, and ``@dataclass`` classes are data types.
A candidate counts as reached when its name appears, anywhere in a root
file, as a ``Name``, an ``Attribute``, an imported name, or a string
constant equal to it. Roots are the non-test entry points: the package
itself, ``__spark_entry__.py``, ``bench.py``, ``parity_sweep.py``,
``plan_audit.py``, ``perfbench/`` and ``plans/``. Public methods of the
top-level classes of the same modules are held to the same rule, with
no allowlist: a method Spark or Python calls by protocol is reached by
the name the roots use for it, and one that nothing calls goes.
"""

from __future__ import annotations

import ast
import os

from .conftest import REPO_ROOT

PACKAGE = "aws_glue_pyspark_incrementality_and_parallelism_spark"

ROOTS = (
    PACKAGE,
    "__spark_entry__.py",
    "bench.py",
    "parity_sweep.py",
    "plan_audit.py",
    "perfbench",
    "plans",
)

#: Defs that only tests reach today, each kept for a named reason. The
#: list only shrinks: the test fails when an entry becomes reached or
#: disappears, so its line must go with it.
ALLOWED_UNREACHED = {
    "merge_report_increment": "the merge step the incremental ETL reports "
    "need after a second run (ROADMAP item 1 wires it into run_etl)",
    "write_range_sorted": "the key-clustered landing writer that makes a "
    "bookmark scan O(new data) (ROADMAP item 8)",
    "simhash_frame": "the locality tests' handle on the live simhash vote "
    "aggregate that the registered dedup_simhash queries use",
}


def _py_files(rel: str) -> list[str]:
    path = os.path.join(REPO_ROOT, rel)
    if os.path.isfile(path):
        return [path]
    out = []
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if d not in ("tests", "__pycache__")]
        out.extend(os.path.join(root, f) for f in files if f.endswith(".py"))
    return sorted(out)


def _parse(path: str) -> ast.Module:
    with open(path, encoding="utf-8") as f:
        return ast.parse(f.read(), filename=path)


def _package_modules():
    """(path relative to the repo, AST) of every package module but
    ``compat.py``."""
    for path in _py_files(PACKAGE):
        if os.path.basename(path) != "compat.py":
            yield os.path.relpath(path, REPO_ROOT), _parse(path)


def _candidates() -> dict[str, str]:
    """Public, undecorated top-level def name -> defining file."""
    out = {}
    for rel, tree in _package_modules():
        for node in tree.body:
            if (
                isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
                and not node.name.startswith("_")
                and not node.decorator_list
            ):
                out[node.name] = rel
    return out


def _methods() -> dict[str, str]:
    """``Class.method`` -> defining file, for every public method of a
    top-level class."""
    out = {}
    for rel, tree in _package_modules():
        for cls in tree.body:
            if isinstance(cls, ast.ClassDef):
                for node in cls.body:
                    if (
                        isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
                        and not node.name.startswith("_")
                    ):
                        out[f"{cls.name}.{node.name}"] = rel
    return out


def _referenced() -> set[str]:
    names: set[str] = set()
    for rel in ROOTS:
        for path in _py_files(rel):
            for node in ast.walk(_parse(path)):
                if isinstance(node, ast.Name):
                    names.add(node.id)
                elif isinstance(node, ast.Attribute):
                    names.add(node.attr)
                elif isinstance(node, (ast.Import, ast.ImportFrom)):
                    names.update(alias.name for alias in node.names)
                elif isinstance(node, ast.Constant) and isinstance(node.value, str):
                    names.add(node.value)
    return names


def test_every_public_def_is_reached_outside_tests():
    defs = _candidates()
    reached = _referenced()
    unreached = {
        name: path
        for name, path in defs.items()
        if name not in reached and name not in ALLOWED_UNREACHED
    }
    assert not unreached, (
        "public defs that no non-test entry point reaches; wire each into a "
        f"real path or delete it with its tests: {sorted(unreached.items())}"
    )


def test_every_public_method_is_reached_outside_tests():
    reached = _referenced()
    unreached = {
        name: path for name, path in _methods().items() if name.split(".")[1] not in reached
    }
    assert not unreached, (
        "public methods that no non-test entry point reaches; wire each into a "
        f"real path or delete it with its tests: {sorted(unreached.items())}"
    )


def test_allowlist_only_shrinks():
    defs = _candidates()
    reached = _referenced()
    gone = sorted(name for name in ALLOWED_UNREACHED if name not in defs)
    now_reached = sorted(name for name in ALLOWED_UNREACHED if name in reached)
    assert not gone, f"allowlisted defs no longer exist; drop them from the list: {gone}"
    assert not now_reached, (
        f"allowlisted defs are reached now; drop them from the list: {now_reached}"
    )


def test_scratch_dirs_come_only_from_session():
    """Every query-scoped directory comes from ``session.scratch_dir``,
    whose per-process root is removed at interpreter exit. A temp dir
    made anywhere else in the package is one that nothing removes."""
    banned = {"mkdtemp", "TemporaryDirectory"}
    owner = os.path.join(REPO_ROOT, PACKAGE, "session.py")
    calls = []
    for path in _py_files(PACKAGE):
        if path == owner:
            continue
        for node in ast.walk(_parse(path)):
            if isinstance(node, ast.Call):
                fn = node.func
                name = fn.attr if isinstance(fn, ast.Attribute) else getattr(fn, "id", None)
                if name in banned:
                    calls.append(f"{os.path.relpath(path, REPO_ROOT)}:{node.lineno}")
    assert not calls, f"temp dirs made outside session.scratch_dir: {calls}"
