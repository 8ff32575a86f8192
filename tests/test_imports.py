"""Import closure: every ``net_spider_spark`` import in the package, the
tests and the benchmark resolves, including function-local imports.

The suite runs with ``--continue-on-collection-errors``, and a
function-local import only fails when its code path runs, so a deleted
module can leave a dangling import that no other test notices. This
test reads the imports from the source with ``ast`` instead of running
them.
"""

import ast
import importlib
import importlib.util
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "net_spider_spark"
SCANNED = (PACKAGE, "tests", "perfbench")


def _sources():
    for top in SCANNED:
        for dirpath, _, files in os.walk(os.path.join(ROOT, top)):
            for name in sorted(files):
                if name.endswith(".py"):
                    yield os.path.join(dirpath, name)


def _package_of(path):
    rel = os.path.relpath(path, ROOT)[: -len(".py")].split(os.sep)
    return ".".join(rel if rel[-1] == "__init__" else rel[:-1])


def _imports(path):
    """Yield ``(lineno, module, names)`` for every package import in
    ``path``: ``names`` is empty for ``import module``."""
    tree = ast.parse(open(path, encoding="utf-8").read(), path)
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name.split(".")[0] == PACKAGE:
                    yield node.lineno, alias.name, ()
        elif isinstance(node, ast.ImportFrom):
            module = node.module or ""
            if node.level:
                base = _package_of(path).split(".")
                base = base[: len(base) - node.level + 1]
                module = ".".join(base + ([module] if module else []))
            if module.split(".")[0] == PACKAGE:
                yield node.lineno, module, [a.name for a in node.names]


def _unresolved():
    missing = []
    for path in _sources():
        where = os.path.relpath(path, ROOT)
        for lineno, module, names in _imports(path):
            if importlib.util.find_spec(module) is None:
                missing.append(f"{where}:{lineno}: no module {module}")
                continue
            mod = importlib.import_module(module)
            for name in names:
                if name == "*" or hasattr(mod, name):
                    continue
                if importlib.util.find_spec(f"{module}.{name}") is None:
                    missing.append(f"{where}:{lineno}: no {name} in {module}")
    return missing


def test_scan_sees_function_local_imports():
    cli = os.path.join(ROOT, PACKAGE, "cli.py")
    modules = {module for _, module, _ in _imports(cli)}
    assert f"{PACKAGE}.graph.analyze" in modules  # imported inside a function


def test_every_package_import_resolves():
    missing = _unresolved()
    assert not missing, "\n".join(missing)
