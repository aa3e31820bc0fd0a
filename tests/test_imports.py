"""Every import in the package resolves — including function-local ones
(the lazy codec imports in core/images.decode, the kernels imported
inside mapInPandas bodies), which would otherwise fail only when their
function first runs."""
import ast
import importlib
import importlib.util
from pathlib import Path

import azuresearchcrawlervector_spark as pkg

ROOT = Path(pkg.__file__).parent


def _module_name(path: Path) -> str:
    parts = path.relative_to(ROOT.parent).with_suffix("").parts
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
