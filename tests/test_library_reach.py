"""The library is what its jobs run: every module of ispaq_spark is reached
by a static import walk from the code users and the benchmark run, and
every top-level function of a reached module is reached by name from that
code."""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = "ispaq_spark"

# Entry points: the benchmark, the scripts, the bench and driver entry
# files, and the request surface (`run_request` / CLI) plus the
# DuckDB-certified query catalogue.
ROOT_FILES = (
    sorted((REPO / "perfbench").rglob("*.py"))
    + sorted((REPO / "scripts").rglob("*.py"))
    + [REPO / "bench.py", REPO / "__spark_entry__.py"]
)
ROOT_MODULES = (f"{PKG}.request", f"{PKG}.driver_queries")


def _library_modules() -> dict[str, Path]:
    """Dotted name -> file for every module and package of ispaq_spark."""
    out = {}
    for path in (REPO / PKG).rglob("*.py"):
        parts = path.relative_to(REPO).with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
        out[".".join(parts)] = path
    return out


def _imports(path: Path, module: str | None, modules: dict) -> set[str]:
    """Library modules `path` imports anywhere in its body, with relative
    imports resolved against `module` (None for files outside the
    package), and `from pkg import sub` counted as importing `sub`."""
    package = module
    if module is not None and path.name != "__init__.py":
        package = module.rpartition(".")[0]
    found = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            found.update(alias.name for alias in node.names)
        elif isinstance(node, ast.ImportFrom):
            if not node.level:
                target = node.module
            elif package is None:
                continue  # relative import between files outside the package
            else:
                target = package.rsplit(".", node.level - 1)[0]
                if node.module:
                    target = f"{target}.{node.module}"
            found.add(target)
            found.update(f"{target}.{alias.name}" for alias in node.names)
    reached = set()
    for name in found:
        # importing a.b.c runs the packages a and a.b first
        parts = name.split(".")
        reached.update(
            ".".join(parts[:i]) for i in range(1, len(parts) + 1)
        )
    return reached & modules.keys()


def _reached(modules: dict[str, Path]) -> set[str]:
    todo = set(ROOT_MODULES)
    for path in ROOT_FILES:
        todo |= _imports(path, None, modules)
    seen: set[str] = set()
    while todo:
        name = todo.pop()
        if name in seen:
            continue
        seen.add(name)
        todo |= _imports(modules[name], name, modules) - seen
    return seen


def test_every_library_module_is_reached_from_an_entry_point():
    """Packages are namespaces, so only their modules are counted."""
    modules = _library_modules()
    leaves = {
        name for name, path in modules.items() if path.name != "__init__.py"
    }
    unreached = leaves - _reached(modules)
    assert not unreached, f"unreached: {sorted(unreached)}"


def _names(*nodes: ast.AST) -> set[str]:
    """Every identifier the nodes use: bare names and attribute names."""
    out = set()
    for top in nodes:
        for node in ast.walk(top):
            if isinstance(node, ast.Name):
                out.add(node.id)
            elif isinstance(node, ast.Attribute):
                out.add(node.attr)
    return out


def test_every_library_function_is_reached_from_an_entry_point():
    """A name-based fixpoint over the top-level functions of the reached
    modules. Roots: the identifiers of the entry files, the module-level
    code of the reached modules, and every function of `request` and
    `driver_queries`. A function is reached once its name is; its body's
    identifiers then count as reached too."""
    modules = _library_modules()
    reached_modules = _reached(modules)
    bodies: dict[str, ast.AST] = {}  # "module.function" -> def node
    names: set[str] = set()
    for path in ROOT_FILES:
        names |= _names(ast.parse(path.read_text(), str(path)))
    for module in reached_modules:
        tree = ast.parse(modules[module].read_text(), str(modules[module]))
        short = module.removeprefix(f"{PKG}.")
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                bodies[f"{short}.{node.name}"] = node
                names |= _names(*node.decorator_list)
                if module in ROOT_MODULES:
                    names.add(node.name)
            else:
                names |= _names(node)
    todo = dict(bodies)
    while True:
        hit = [key for key in todo if key.rpartition(".")[2] in names]
        if not hit:
            break
        for key in hit:
            names |= _names(todo.pop(key))
    assert not todo, f"unreached: {sorted(todo)}"
