"""Every package module is reached from an entry point, or named here.

An import walk over the source (``ast``; nothing is imported) starts
from the programs people run: the CLI (``cli.py``, ``__main__``),
``bench.py``, ``__spark_entry__.py``, ``tools/`` and ``perfbench/``.
The package modules it does not reach are the ones only tests import;
they must be exactly :data:`TEST_ONLY`, each with its reason, so a new
dead module fails here instead of lingering.

One level down, every top-level function and class of every package
module outside :data:`QUERY_SURFACE` is named by code outside the
tests, other than its own definition, or listed in
:data:`UNNAMED_OUTSIDE_TESTS` with its reason: a function only tests
call fails here.
"""

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "bend_archiver_spark"

# package module -> why only tests import it
TEST_ONLY: dict[str, str] = {}

# Top-level packages the name scan leaves out: the registry reaches each
# query function through ``@register`` and its name string, and
# operators/functions/streaming are the surface those queries build on.
QUERY_SURFACE = ("queries", "operators", "functions", "streaming")
# "module.name" -> why no code outside the tests names it
UNNAMED_OUTSIDE_TESTS: dict[str, str] = {
    "cancel.cancel_requested": "the tests' view of the cancellation token",
    "tables.register_views": "the documented launch recipe for ad-hoc SQL "
    "drives (every corpus table as a view)",
}


def _roots() -> list[str]:
    paths = [
        os.path.join(REPO, PACKAGE, "cli.py"),
        os.path.join(REPO, PACKAGE, "__main__.py"),
        os.path.join(REPO, "bench.py"),
        os.path.join(REPO, "__spark_entry__.py"),
    ]
    for folder in ("tools", "perfbench"):
        for dirpath, _, names in os.walk(os.path.join(REPO, folder)):
            paths += [os.path.join(dirpath, n) for n in names if n.endswith(".py")]
    return paths


def _module_file(name: str, bases: list[str]) -> str | None:
    """The source file of module ``name`` under one of ``bases``."""
    rel = name.replace(".", os.sep)
    for base in bases:
        for candidate in (rel + ".py", os.path.join(rel, "__init__.py")):
            path = os.path.join(base, candidate)
            if os.path.isfile(path):
                return path
    return None


def _package_of(path: str) -> str:
    """The dotted package ``path`` belongs to, relative to the repo."""
    rel = os.path.relpath(os.path.dirname(path), REPO)
    return "" if rel == "." else rel.replace(os.sep, ".")


def _imports(path: str) -> set[str]:
    """Every module name ``path`` imports, at any depth of its code;
    ``from m import x`` also names ``m.x``, in case ``x`` is a module."""
    tree = ast.parse(open(path, encoding="utf-8").read(), path)
    names = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names.update(alias.name for alias in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                parts = _package_of(path).split(".")
                parts = parts[: len(parts) - node.level + 1]
                base = ".".join(parts + ([node.module] if node.module else []))
            else:
                base = node.module
            names.add(base)
            names.update(f"{base}.{alias.name}" for alias in node.names)
    # importing a.b.c runs a/__init__ and a/b/__init__ first
    return {
        ".".join(name.split(".")[: i + 1])
        for name in names
        for i in range(name.count(".") + 1)
    }


def _reached(roots: list[str]) -> set[str]:
    """The files an import walk from ``roots`` reaches."""
    seen, todo = set(), list(roots)
    while todo:
        path = todo.pop()
        if path in seen:
            continue
        seen.add(path)
        bases = [REPO, os.path.dirname(path)]
        for name in _imports(path):
            found = _module_file(name, bases)
            if found is not None:
                todo.append(found)
    return seen


def _package_modules() -> dict[str, str]:
    """Every package module's file, keyed by its name in the package."""
    root = os.path.join(REPO, PACKAGE)
    out = {}
    for dirpath, _, names in os.walk(root):
        for n in names:
            if n.endswith(".py") and n != "__init__.py":
                rel = os.path.relpath(os.path.join(dirpath, n[:-3]), root)
                out[rel.replace(os.sep, ".")] = os.path.join(dirpath, n)
    return out


def test_only_named_modules_are_test_only():
    modules = _package_modules()
    reached = _reached(_roots())
    unreached = {name for name, path in modules.items() if path not in reached}
    assert unreached == set(TEST_ONLY)
    tests = os.path.join(REPO, "tests")
    from_tests = _reached(
        [os.path.join(tests, n) for n in os.listdir(tests) if n.endswith(".py")]
    )
    assert {n for n in TEST_ONLY if modules[n] not in from_tests} == set()


def _source_files() -> list[str]:
    """Every ``.py`` file of the repo outside the test directories."""
    out = []
    for dirpath, dirnames, names in os.walk(REPO):
        dirnames[:] = [
            d for d in dirnames if not d.startswith(".") and d != "tests"
        ]
        out += [os.path.join(dirpath, n) for n in names if n.endswith(".py")]
    return out


def _names(node: ast.AST, skip: ast.AST | None = None) -> set[str]:
    """The identifiers ``node`` names (``Name``, ``Attribute`` and import
    ``alias`` nodes), leaving out those inside ``skip``."""
    out, todo = set(), [node]
    while todo:
        n = todo.pop()
        if n is skip:
            continue
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
            if n.asname:
                out.add(n.asname)
        todo.extend(ast.iter_child_nodes(n))
    return out


def test_archive_definitions_are_named_outside_tests():
    trees = {
        path: ast.parse(open(path, encoding="utf-8").read(), path)
        for path in _source_files()
    }
    names = {path: _names(tree) for path, tree in trees.items()}
    modules = _package_modules()
    unnamed = set()
    for module, path in modules.items():
        if module.split(".")[0] in QUERY_SURFACE:
            continue
        elsewhere = set().union(*(n for p, n in names.items() if p != path))
        for node in trees[path].body:
            if not isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                continue
            # the defining module's own uses count, outside the definition
            if node.name not in elsewhere | _names(trees[path], skip=node):
                unnamed.add(f"{module}.{node.name}")
    assert unnamed == set(UNNAMED_OUTSIDE_TESTS)
