"""Canonical span-text rendering conventions, shared by the extraction
kernels AND the fixture generator so span equality is well-defined
(SURVEY.md §7.3 risk 1: freeze every convention in one place)."""

from __future__ import annotations

import re

CELL_SEP = " | "
ROW_SEP = "\n"
LIST_ITEM_SEP = "\n"

_WS = re.compile(r"\s+")


def norm_ws(s: str) -> str:
    """Collapse internal whitespace, strip ends (block-text normal form)."""
    return _WS.sub(" ", s).strip()


def table_to_text(rows: list[list[str]]) -> str:
    """Render a cell grid to the canonical table-span text.

    Mirrors the reference's table-as-text emission
    (extract_textstructure.py:378-384 renders the table df to string);
    we pin a simpler canonical form: cells ' | '-joined, rows '\n'-joined.
    """
    return ROW_SEP.join(CELL_SEP.join(norm_ws(c) for c in row) for row in rows)


def list_to_text(items: list[str]) -> str:
    return LIST_ITEM_SEP.join(norm_ws(i) for i in items)
