"""Static check that the measurement scripts import only modules that exist.

The tools under ``tools/`` and the benchmark scripts at the repo root import
each other by bare module name (``bench.py`` puts ``tools/`` on ``sys.path``
and imports ``spark_pilot``), so deleting a shared tool would only surface
when the importer runs.  This parses every script with ``ast`` (no Spark, no
execution) and resolves each imported module: to a file or package in the
repo root or ``tools/``, or else to an installed module.
"""

import ast
import importlib.util
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOOLS = os.path.join(REPO, "tools")
SCRIPTS = sorted(
    [os.path.join(TOOLS, f) for f in os.listdir(TOOLS) if f.endswith(".py")]
    + [os.path.join(REPO, "bench.py"), os.path.join(REPO, "bench_extra.py")]
)


def _local(parts: list[str]) -> bool:
    """True when the dotted module is a .py file or package under the repo
    root or tools/."""
    for base in (REPO, TOOLS):
        stem = os.path.join(base, *parts)
        if os.path.isfile(stem + ".py") or os.path.isfile(os.path.join(stem, "__init__.py")):
            return True
    return False


def _imported_modules(tree: ast.AST):
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for alias in node.names:
                yield node.lineno, alias.name
        elif isinstance(node, ast.ImportFrom):
            assert node.level == 0, f"relative import at line {node.lineno}"
            yield node.lineno, node.module


def test_tools_imports_resolve():
    assert len(SCRIPTS) > 2
    dangling = []
    for path in SCRIPTS:
        with open(path) as f:
            src = f.read()
        tree = ast.parse(src, path)
        compile(tree, path, "exec")
        for lineno, name in _imported_modules(tree):
            parts = name.split(".")
            if _local(parts):
                continue
            # a repo-local package with a missing submodule, or a name found
            # neither in the repo nor among installed modules
            if _local(parts[:1]) or importlib.util.find_spec(parts[0]) is None:
                dangling.append(f"{os.path.relpath(path, REPO)}:{lineno}: {name}")
    assert not dangling, dangling
