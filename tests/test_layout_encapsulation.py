"""Layout encapsulation: only ``upsert.py`` knows the versioned-table
layout (version-dir naming, the ``_CURRENT`` pointer, the commit step)
and stages or commits a version.

Every other module commits through ``upsert.rewrite_table``; if one
imports or reaches into the layout helpers, swapping the table format
means editing it too. Pure Python AST scan — no SparkSession needed.
"""

from __future__ import annotations

import ast
from pathlib import Path

PACKAGE = Path(__file__).resolve().parents[1] / "the_movies_db_spark"
LAYOUT_NAMES = {
    "_commit_version",
    "_next_version_name",
    "_current_version",
    "_VERSION_RE",
    "CURRENT_POINTER",
    "_write_version",
    "_commit",
    "_publish",
    "_SCHEMA_RECORD",
    "_DELTAS",
    "_KEYS_RECORD",
    "_BRANCH_BASE",
}


def _layout_uses(path: Path) -> list[str]:
    uses = []
    for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
        if isinstance(node, ast.ImportFrom):
            names = [a.name for a in node.names]
        elif isinstance(node, ast.Attribute):
            names = [node.attr]
        else:
            continue
        uses += [
            f"{path.relative_to(PACKAGE.parent)}:{node.lineno} {n}"
            for n in names
            if n in LAYOUT_NAMES
        ]
    return uses


def test_only_upsert_knows_the_version_layout():
    offenders = [
        use
        for path in sorted(PACKAGE.rglob("*.py"))
        if path != PACKAGE / "upsert.py"
        for use in _layout_uses(path)
    ]
    assert not offenders, (
        "versioned-table layout used outside upsert.py (commit through "
        f"upsert.rewrite_table instead): {offenders}"
    )
