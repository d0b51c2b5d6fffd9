"""No orphan modules: every ``georeader_spark`` module is reachable in
the static import graph from the program's entry points — the driver
contract, the query registry, the flagship pipeline and the jobs.

A module that only its own tests import is dead weight: it costs test
time and review, and nothing in the system runs it. Imports are read
with ``ast`` (function-local imports included), never executed.

Driver-side relations go through ``plans.session.local_frame``: no
``createDataFrame`` call elsewhere in the package, since a list-backed
one plans a Python RDD and runs Python tasks on every action.
"""

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
PKG = "georeader_spark"

ENTRY_POINTS = [
    ROOT / "__spark_entry__.py",
    ROOT / PKG / "queries.py",
    ROOT / PKG / "pipeline.py",
    *sorted((ROOT / "jobs").glob("*.py")),
]

#: unreached on purpose, each re-expressing a reference capability
ALLOWED_UNREACHED = {
    f"{PKG}.plans.gridspec": "grid planning of the reference's read_reproject",
    f"{PKG}.sources.vsi": "the reference's GDAL VSI ranged windowed reads",
}


def _module_name(path: pathlib.Path) -> str:
    parts = list(path.relative_to(ROOT).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts = parts[:-1]
    return ".".join(parts)


def _package_modules():
    return {_module_name(p): p for p in (ROOT / PKG).rglob("*.py")}


def _imported(path: pathlib.Path, modules) -> set:
    """Package modules that ``path`` imports, at any nesting level."""
    name = _module_name(path)
    package = name.split(".") if path.name == "__init__.py" else name.split(".")[:-1]
    targets = set()
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            targets.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                base = package[: len(package) - (node.level - 1)]
                mod = ".".join(base + ([node.module] if node.module else []))
            else:
                mod = node.module or ""
            targets.add(mod)
            # `from pkg import submodule`
            targets.update(f"{mod}.{a.name}" for a in node.names)
    found = set()
    for t in targets:
        parts = t.split(".")
        # importing a.b.c imports the packages a and a.b too
        found.update(
            ".".join(parts[:i]) for i in range(1, len(parts) + 1)
            if ".".join(parts[:i]) in modules
        )
    return found


def _reachable(modules) -> set:
    seen = set()
    todo = [m for p in ENTRY_POINTS for m in _imported(p, modules)]
    while todo:
        m = todo.pop()
        if m not in seen:
            seen.add(m)
            todo.extend(_imported(modules[m], modules))
    return seen


def test_every_module_has_a_consumer():
    modules = _package_modules()
    unreached = set(modules) - _reachable(modules)
    assert unreached == set(ALLOWED_UNREACHED), (
        "modules no entry point imports (give them a consumer or delete "
        "them with their tests): "
        f"{sorted(unreached - set(ALLOWED_UNREACHED))}; "
        f"allowlisted but now reached: {sorted(set(ALLOWED_UNREACHED) - unreached)}"
    )


def test_graph_follows_function_local_imports():
    """Control: the walk sees imports inside function bodies (the
    pipeline's consumers import it lazily, e.g. queries.q_pages_pipeline)."""
    modules = _package_modules()
    assert f"{PKG}.pipeline" in _imported(ROOT / PKG / "queries.py", modules)


HELPER = (f"{PKG}.plans.session", "local_frame")


def _create_dataframe_calls(path: pathlib.Path, skip_function: str | None = None):
    """(line, enclosing function) of each ``*.createDataFrame(...)`` call,
    leaving out the body of ``skip_function``."""
    found = []

    def visit(node, func):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            if node.name == skip_function:
                return
            func = node.name
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "createDataFrame"
        ):
            found.append((node.lineno, func))
        for child in ast.iter_child_nodes(node):
            visit(child, func)

    visit(ast.parse(path.read_text()), None)
    return found


def test_create_dataframe_only_in_local_frame():
    stray = {}
    for name, path in _package_modules().items():
        skip = HELPER[1] if name == HELPER[0] else None
        calls = _create_dataframe_calls(path, skip)
        if calls:
            stray[name] = calls
    assert not stray, (
        "build driver-side relations with plans.session.local_frame, "
        f"not createDataFrame: {stray}"
    )


def test_create_dataframe_guard_sees_the_helper():
    """Control: the walk finds the helper's own call when not skipped."""
    path = _package_modules()[HELPER[0]]
    assert [f for _, f in _create_dataframe_calls(path)] == [HELPER[1]]
