"""``operators/helpers.py`` is the one place that says how a value is
quantized to 1e-6 (``dround``) and how an exact decimal becomes a double
(``dec_to_double``, the string carrier of the aggregate templates): a
guard that keeps module-local copies of those rules, and the deleted
``spark_sql_d*`` twins, from coming back."""

from __future__ import annotations

import ast
import os

PACKAGE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "cs_pipeline_spark",
)
HOME = os.path.join("operators", "helpers.py")

# (module path, top-level function) whose ``q6`` is not ``dround``:
# it divides by the quantum first, or casts the quantized value to long
ALLOWED = {
    (os.path.join("operators", "timeseries.py"), "agg_gumbel_extremes"),
    (os.path.join("operators", "windows.py"), "ts_pacf_durbin"),
}


def _is_carrier(node: ast.AST) -> bool:
    """``<x>.cast("string").cast("double")``"""

    def cast_to(n, typ):
        return (
            isinstance(n, ast.Call)
            and isinstance(n.func, ast.Attribute)
            and n.func.attr == "cast"
            and len(n.args) == 1
            and isinstance(n.args[0], ast.Constant)
            and n.args[0].value == typ
        )

    return cast_to(node, "double") and cast_to(node.func.value, "string")


def _copies(node: ast.AST) -> bool:
    if isinstance(node, ast.Assign) and isinstance(node.value, ast.Lambda):
        if any(isinstance(t, ast.Name) and t.id == "q6" for t in node.targets):
            return True
    if isinstance(node, ast.Lambda) and _is_carrier(node.body):
        return True
    if isinstance(node, ast.Name):
        return node.id.startswith("spark_sql_d")
    if isinstance(node, ast.Attribute):
        return node.attr.startswith("spark_sql_d")
    if isinstance(node, ast.alias):
        return node.name.startswith("spark_sql_d")
    return False


def _sites(source: str, module: str) -> set[tuple[str, str]]:
    """(module, top-level def) of every local copy in ``source``."""
    return {
        (module, getattr(top, "name", "<module>"))
        for top in ast.parse(source).body
        for node in ast.walk(top)
        if _copies(node)
    }


def _package_sites() -> set[tuple[str, str]]:
    sites = set()
    for root, _, files in os.walk(PACKAGE):
        for fn in sorted(files):
            path = os.path.join(root, fn)
            module = os.path.relpath(path, PACKAGE)
            if fn.endswith(".py") and module != HOME:
                with open(path) as f:
                    sites |= _sites(f.read(), module)
    return sites


def test_the_guard_sees_each_spelling():
    for src in (
        "def f():\n    q6 = lambda c: F.floor(c * 1e6 + 0.5) / 1e6",
        'd = lambda c: c.cast("string").cast("double")',
        'f = lambda col: F.col(col).cast("string").cast("double")',
        "from cs_pipeline_spark.operators.helpers import spark_sql_dsum",
        "e = H.spark_sql_davg('x')",
        "e = spark_sql_dstd_pop('x')",
    ):
        assert _sites(src, "m.py"), src
    for src in (
        "q9 = lambda c: F.floor(c * 1e9 + 0.5) / 1e9",
        'x = F.col("s").cast("string").cast("double")',
        'd = lambda c: c.cast("string")',
        "e = sql_dsum('x')",
    ):
        assert not _sites(src, "m.py"), src


def test_decimal_rules_live_in_helpers():
    sites = _package_sites()
    rogue = sites - ALLOWED
    assert not rogue, (
        f"local copies of a helpers rule {sorted(rogue)}: quantize with "
        "helpers.dround, cross decimal→double with helpers.dec_to_double, "
        "and aggregate with helpers.dsum/davg/dstd_pop (Spark SQL text)"
    )
    assert ALLOWED <= sites, f"allowlist entries with no q6: {ALLOWED - sites}"
