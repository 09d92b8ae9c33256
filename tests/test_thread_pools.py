"""`registry.concurrently` is the package's one thread pool: a guard that
keeps hand-rolled pools (whose jobs lose the op's job group and whose
pin() calls lose the op's LRU entry) from coming back."""

from __future__ import annotations

import ast
import os

PACKAGE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "cs_pipeline_spark",
)

# (module path, top-level function) allowed to start threads
ALLOWED = {("registry.py", "concurrently")}

_NAMES = {"ThreadPoolExecutor", "Thread"}


def _starts_threads(node: ast.AST) -> bool:
    if isinstance(node, ast.Import):
        return any(a.name.startswith("concurrent") for a in node.names)
    if isinstance(node, ast.ImportFrom):
        mod = node.module or ""
        return mod.startswith("concurrent") or (
            mod == "threading" and any(a.name == "Thread" for a in node.names)
        )
    if isinstance(node, ast.Attribute):
        return node.attr in _NAMES
    if isinstance(node, ast.Name):
        return node.id in _NAMES
    return False


def _sites(source: str, module: str) -> set[tuple[str, str]]:
    """(module, top-level def) of every pool or thread use in ``source``."""
    return {
        (module, getattr(top, "name", "<module>"))
        for top in ast.parse(source).body
        for node in ast.walk(top)
        if _starts_threads(node)
    }


def _package_sites() -> set[tuple[str, str]]:
    sites = set()
    for root, _, files in os.walk(PACKAGE):
        for fn in sorted(files):
            if fn.endswith(".py"):
                path = os.path.join(root, fn)
                with open(path) as f:
                    sites |= _sites(f.read(), os.path.relpath(path, PACKAGE))
    return sites


def test_the_guard_sees_each_spelling():
    for src in (
        "from concurrent.futures import ThreadPoolExecutor",
        "import concurrent.futures",
        "def f():\n    with concurrent.futures.ThreadPoolExecutor(2) as ex:\n"
        "        pass",
        "from threading import Thread",
        "import threading\nthreading.Thread(target=print).start()",
    ):
        assert _sites(src, "m.py"), src
    assert not _sites("import threading\nL = threading.Lock()", "m.py")


def test_only_concurrently_starts_threads():
    sites = _package_sites()
    rogue = sites - ALLOWED
    assert not rogue, (
        f"hand-rolled thread pools {sorted(rogue)}: run independent work "
        "through registry.concurrently(spark, thunks)"
    )
    assert ALLOWED <= sites, f"allowlist entries starting no thread: {ALLOWED - sites}"
