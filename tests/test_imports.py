"""Every import in the package resolves — including function-local ones
(the lazy codec imports in core/images.decode, the kernels imported
inside mapInPandas bodies), which would otherwise fail only when their
function first runs — and every package module is reached from an entry
point, so code that nothing runs cannot stay or come back unnoticed."""
import ast
import importlib
import importlib.util
from pathlib import Path

import azuresearchcrawlervector_spark as pkg

ROOT = Path(pkg.__file__).parent
REPO = ROOT.parent
ENTRY_POINTS = [ROOT / "cli.py", REPO / "__spark_entry__.py",
                REPO / "bench.py", *sorted((REPO / "crawlbench").glob("*.py")),
                *sorted((REPO / "tools").glob("*.py"))]
# Reached by no entry point but kept until the reference rows it carries
# (COVERAGE.md S8, S9 and A5) move onto the batch store or a declared query.
PENDING_DELETION = {"streaming/stream.py"}


def _module_name(path: Path) -> str:
    parts = path.relative_to(REPO).with_suffix("").parts
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def _imports(path: Path):
    """(lineno, absolute module, imported names) for every import
    statement in the file, at any nesting depth."""
    mod = _module_name(path)
    package = mod if path.name == "__init__.py" else mod.rpartition(".")[0]
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            for alias in node.names:
                yield node.lineno, alias.name, ()
        elif isinstance(node, ast.ImportFrom):
            rel = "." * node.level + (node.module or "")
            yield (node.lineno, importlib.util.resolve_name(rel, package),
                   tuple(alias.name for alias in node.names))


def _resolves(module: str, name: str | None = None) -> bool:
    try:
        if importlib.util.find_spec(module) is None:
            return False
        if name is None:
            return True
        if hasattr(importlib.import_module(module), name):
            return True
        return importlib.util.find_spec(f"{module}.{name}") is not None
    except ImportError:
        return False


def test_every_package_import_resolves():
    files = sorted(ROOT.rglob("*.py"))
    assert len(files) > 30
    dangling = []
    for path in files:
        where = path.relative_to(ROOT.parent)
        for lineno, module, names in _imports(path):
            if not _resolves(module):
                dangling.append(f"{where}:{lineno}: {module}")
                continue
            dangling += [f"{where}:{lineno}: {module}.{n}"
                         for n in names if not _resolves(module, n)]
    assert not dangling, "\n".join(dangling)


def test_every_package_module_is_reached():
    """The AST import closure of the entry points (cli, the driver
    contract, bench, crawlbench and tools) covers every package module
    but PENDING_DELETION; package __init__s count as reached."""
    by_name = {_module_name(p): p for p in ROOT.rglob("*.py")}
    todo = list(ENTRY_POINTS)
    reached = {*todo, *(p for p in by_name.values() if p.name == "__init__.py")}
    while todo:
        path = todo.pop()
        for _lineno, module, names in _imports(path):
            for name in (module, *(f"{module}.{n}" for n in names)):
                dep = by_name.get(name)
                if dep is not None and dep not in reached:
                    reached.add(dep)
                    todo.append(dep)
    unreached = {p.relative_to(ROOT).as_posix()
                 for p in set(by_name.values()) - reached}
    assert unreached == PENDING_DELETION
