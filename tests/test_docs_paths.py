"""The docs name only package modules that exist: every module path
written in backticks in README.md, COVERAGE.md and crawlbench/COVERAGE.md
resolves to a file under azuresearchcrawlervector_spark/, and every
``path.py::name`` there names a symbol defined in that file."""
import ast
import re
from pathlib import Path

import azuresearchcrawlervector_spark as pkg

PKG = Path(pkg.__file__).parent
REPO = PKG.parent
DOCS = ("README.md", "COVERAGE.md", "crawlbench/COVERAGE.md")

# a path token inside a backtick span: optional directories, then a
# module name or a brace list of them, then .py (``spark.sql.pyspark``
# is not one: the suffix must end the word)
PATH = re.compile(r"(?:[\w-]+/)*(?:\{[\w,]+\}|\w+)\.py(?!\w)")
BRACES = re.compile(r"\{([\w,]+)\}")


def _expand(path: str) -> list[str]:
    """``core/{video,mp4}.py`` → [``core/video.py``, ``core/mp4.py``]."""
    m = BRACES.search(path)
    if m is None:
        return [path]
    return [p for name in m.group(1).split(",")
            for p in _expand(path[:m.start()] + name + path[m.end():])]


def _package_path(path: str) -> str | None:
    """The package-relative path when ``path`` names a package module,
    else None. It does when it has the ``acs/`` prefix, or when its top
    directory is a subpackage or no directory at the repo root (so
    ``tests/…`` and ``tools/…`` are skipped, and a deleted subpackage
    still counts). Bare file names are ambiguous (``bench.py``)."""
    if path.startswith("acs/"):
        return path[len("acs/"):]
    if "/" not in path:
        return None
    top = path.split("/", 1)[0]
    if (PKG / top).is_dir() or not (REPO / top).is_dir():
        return path
    return None


def _doc_paths():
    for doc in DOCS:
        text = (REPO / doc).read_text()
        for span in re.findall(r"`([^`\n]+)`", text):
            for token in PATH.findall(span):
                for path in _expand(token):
                    rel = _package_path(path)
                    if rel is not None:
                        yield doc, path, rel


def test_docs_name_only_existing_modules():
    assert _expand("core/{video,mp4,mkv}.py") == [
        "core/video.py", "core/mp4.py", "core/mkv.py"]
    assert _package_path("acs/core/jpeg.py") == "core/jpeg.py"
    assert _package_path("core/jpeg.py") == "core/jpeg.py"
    assert _package_path("tests/test_crawl.py") is None
    assert _package_path("bench.py") is None
    assert PATH.findall("spark.sql.pyspark.udf.profiler") == []
    assert PATH.findall("acs/plans/crawl.py::_wave") == ["acs/plans/crawl.py"]
    found = list(_doc_paths())
    assert len(found) > 20          # the scan sees the docs' module paths
    missing = sorted({f"{doc}: {path}" for doc, path, rel in found
                      if not (PKG / rel).is_file()})
    assert not missing, "\n".join(missing)


# ``path.py::name`` or ``path.py::Class.method`` inside a backtick span;
# a bare ``::name`` continuation (no path before it) does not match
SYMBOL = re.compile(r"((?:[\w-]+/)*\w+\.py)::(\w+(?:\.\w+)?)")


def _defined_names(path: Path) -> set[str]:
    """Top-level defs, classes and assigned names, each class's methods
    by bare name, and ``Class.method``."""
    names = set()
    for node in ast.parse(path.read_text(), str(path)).body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            names.add(node.name)
        elif isinstance(node, ast.ClassDef):
            names.add(node.name)
            for item in node.body:
                if isinstance(item, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    names |= {item.name, f"{node.name}.{item.name}"}
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            names |= {t.id for t in targets if isinstance(t, ast.Name)}
    return names


def _doc_symbols():
    for doc in DOCS:
        text = (REPO / doc).read_text()
        for span in re.findall(r"`([^`\n]+)`", text):
            for path, name in SYMBOL.findall(span):
                rel = _package_path(path)
                yield doc, path, name, PKG / rel if rel else REPO / path


def test_docs_name_only_existing_symbols():
    assert SYMBOL.findall("acs/plans/crawl.py::CrawlEngine._wave") == [
        ("acs/plans/crawl.py", "CrawlEngine._wave")]
    assert SYMBOL.findall("tests/test_crawl.py::test_x[sketch]") == [
        ("tests/test_crawl.py", "test_x")]
    assert SYMBOL.findall("::test_continuation") == []
    found = list(_doc_symbols())
    assert len(found) > 20          # the scan sees the docs' symbol refs
    missing = sorted({f"{doc}: {path}::{name}" for doc, path, name, file in found
                      if not file.is_file() or name not in _defined_names(file)})
    assert not missing, "\n".join(missing)
