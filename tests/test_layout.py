"""Package layout guards (no Spark)."""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
ENTRY_POINTS = [
    "bench.py",
    "scaling_bench.py",
    "linearity_bench.py",
    "sopspark/__main__.py",
    "sopspark/cli.py",
    "sopspark/kg/submit.py",
]


def _module_name(path: Path) -> str:
    parts = path.relative_to(ROOT).with_suffix("").parts
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def _imported_names(path: Path) -> set[str]:
    """Every dotted name that ``path`` imports, lazy in-function imports
    included, with ``from x import y`` giving both ``x`` and ``x.y`` (the
    package uses absolute imports only)."""
    names = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            names.add(node.module)
            names.update(f"{node.module}.{a.name}" for a in node.names)
    return names


def test_every_module_is_reached():
    """Every ``sopspark`` module is imported, directly or transitively,
    from an entry point: code that only its own tests reach is dead."""
    modules = {_module_name(p): p for p in (ROOT / "sopspark").rglob("*.py")}
    reached, todo = set(), [ROOT / p for p in ENTRY_POINTS]
    while todo:
        for name in _imported_names(todo.pop()):
            parts = name.split(".")
            for i in range(1, len(parts) + 1):  # importing a.b.c runs a and a.b
                prefix = ".".join(parts[:i])
                if prefix in modules and prefix not in reached:
                    reached.add(prefix)
                    todo.append(modules[prefix])
    reached.update(_module_name(ROOT / p) for p in ENTRY_POINTS)
    unreached = sorted(set(modules) - reached)
    assert not unreached, f"no entry point imports {unreached}"


def test_package_zip_is_built_once_per_content():
    """The executor zip is named by the package contents: a second call
    returns the same file without rewriting it, and it holds every
    ``sopspark/**/*.py``."""
    import os
    import zipfile

    from sopspark.session import _package_zip

    first = _package_zip()
    before = os.stat(first)
    second = _package_zip()
    after = os.stat(second)
    assert second == first
    assert (after.st_ino, after.st_mtime_ns) == (before.st_ino, before.st_mtime_ns)
    want = {p.relative_to(ROOT).as_posix() for p in (ROOT / "sopspark").rglob("*.py")}
    assert set(zipfile.ZipFile(first).namelist()) == want


def test_driver_literals_use_local_df():
    """A Python list handed to ``createDataFrame`` is parallelized into a
    PythonRDD, so every job over it starts Python workers; driver literals
    go through ``session.local_df`` (an Arrow ``LocalRelation``) instead."""
    literals = (ast.List, ast.Tuple, ast.ListComp, ast.GeneratorExp, ast.SetComp, ast.DictComp)
    found = []
    for path in sorted((ROOT / "sopspark").rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        allowed = set()
        if path.name == "session.py":
            for fn in ast.walk(tree):
                if isinstance(fn, ast.FunctionDef) and fn.name == "local_df":
                    allowed.update(id(n) for n in ast.walk(fn))
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "createDataFrame"
                and id(node) not in allowed
            ):
                data = node.args[0] if node.args else next(
                    (k.value for k in node.keywords if k.arg == "data"), None
                )
                if isinstance(data, literals):
                    found.append(f"{path.relative_to(ROOT)}:{node.lineno}")
    assert not found, f"createDataFrame over a Python literal at {found}; use session.local_df"
