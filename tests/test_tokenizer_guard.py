"""The merge-training helpers in ``operators/text.py`` are the one
place that spells the tokenizer ops' symbol format: the spaced-symbol
construction (``regexp_replace(w, '(.)', '$1  ')``, sentinel-wrapped)
and the pair-explode over ``split(trim(s), '  ')``. A guard that keeps
copies of either out of ``operators/``."""

from __future__ import annotations

import ast
import os
import re

PACKAGE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "cs_pipeline_spark",
)
TEXT = os.path.join("operators", "text.py")

# (module path, top-level name) of the shared helpers
HELPERS = {
    (TEXT, "_SPACED_SQL"),
    (TEXT, "_spaced"),
    (TEXT, "_pair_counts"),
    (TEXT, "_pair_cte_sql"),
}

PATTERNS = (
    # spaced construction: Spark '$1  ', DuckDB '\\1  '
    re.compile(r"""\(\.\)['"],\s*['"](\$1|\\{1,2}1)  ['"]"""),
    # pair-explode: Spark element_at(split(...), i), DuckDB [CAST(i ...]
    re.compile(r"split\(trim\(s\), '  '\)(, i\b|\[CAST\(i )"),
)


def _name(top: ast.stmt) -> str:
    if isinstance(top, ast.Assign) and isinstance(top.targets[0], ast.Name):
        return top.targets[0].id
    return getattr(top, "name", "<module>")


def _sites(source: str, module: str) -> set[tuple[str, str]]:
    """(module, top-level name) of every statement spelling a pattern,
    decorators included (``register`` carries the oracle SQL)."""
    lines = source.splitlines()
    sites = set()
    for top in ast.parse(source).body:
        decos = getattr(top, "decorator_list", [])
        first = min([top.lineno] + [d.lineno for d in decos])
        text = "\n".join(lines[first - 1 : top.end_lineno])
        if any(p.search(text) for p in PATTERNS):
            sites.add((module, _name(top)))
    return sites


def _operator_sites() -> set[tuple[str, str]]:
    sites = set()
    root = os.path.join(PACKAGE, "operators")
    for fn in sorted(os.listdir(root)):
        if fn.endswith(".py"):
            module = os.path.join("operators", fn)
            with open(os.path.join(PACKAGE, module)) as f:
                sites |= _sites(f.read(), module)
    return sites


def test_the_guard_sees_each_spelling():
    for src in (
        'c = F.regexp_replace(F.col("w"), "(.)", "$1  ")',
        "q = \"SELECT regexp_replace(w, '(.)', '\\\\1  ', 'g') FROM wc\"",
        "def f():\n    return F.expr(\"regexp_replace(w, '(.)', '$1  ')\")",
        "e = \"element_at(split(trim(s), '  '), i + 1)\"",
        "q = \"string_split(trim(s), '  ')[CAST(i AS INT)]\"",
        "@register('op', \"SELECT regexp_replace(w, '(.)', '\\\\1  ', 'g')\")"
        "\ndef op(spark, sf_dir):\n    pass",
    ):
        assert _sites(src, "m.py"), src
    for src in (
        # text_bpe_merge_apply's single-space, unsentinelled form
        "e = \"replace(trim(regexp_replace(w, '(.)', '$1 ')), m, x)\"",
        # symbol lists, not pairs
        'c = F.split(F.trim("s"), "  ")',
        "q = \"unnest(string_split(trim(s), '  ')) AS sym\"",
    ):
        assert not _sites(src, "m.py"), src


def test_symbol_format_lives_in_the_helpers():
    sites = _operator_sites()
    rogue = sites - HELPERS
    assert not rogue, (
        f"copies of the tokenizer symbol format {sorted(rogue)}: build "
        "spaced strings with text._spaced / _SPACED_SQL and explode "
        "pairs with text._pair_counts / _pair_cte_sql"
    )
    assert HELPERS <= sites, f"helpers with no pattern: {HELPERS - sites}"
