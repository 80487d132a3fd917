"""CSS-selector queries over page corpora.

Spark surface for :mod:`functions.selectors`: selector matching needs
the per-document tree, so both operators are views on the shared DOM
stage (:func:`operators.parse.dom_stage`; documents are the atomic
unit, exactly like :func:`operators.parse.parse_and_extract`) — the
100 TB plan is an embarrassingly parallel narrow stage over a 2-column
pruned scan with ZERO shuffle, not a corpus-wide node-table self-join
per combinator.

Two operators:

* :func:`select_nodes` — one output row per (page, matched element):
  node id, tag, and the element's full descendant text (querySelector +
  ``textContent`` semantics).
* :func:`select_counts` — one output row per page with a bigint match
  count per named selector; ALL selectors are evaluated in a single
  parse pass (compile once on the driver, match per document).

Error pages (invalid UTF-8 / parse budget) surface the row-level
``error`` column with null matches — the reference's ``{:error,
reason}`` contract (``lib/html5ever.ex:117-119``), never a task
failure. Selectors are validated eagerly on the driver
(``SelectorError`` before any job runs).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame

from ..parser.dom import TEXT
from ..functions.selectors import compile_selector, iter_elements, \
    _matches_complex
from .parse import DEFAULT_MAX_DEPTH, DEFAULT_MAX_NODES, dom_stage

__all__ = ["select_nodes", "select_counts"]


def _node_text(node) -> str:
    """Concatenated descendant text in document order, iteratively
    (textContent; skips <template> hidden contents like the matcher)."""
    out = []
    stack = [node]
    while stack:
        n = stack.pop()
        if n.type == TEXT:
            out.append(n.contents or "")
        stack.extend(reversed(n.children))
    return "".join(out)


def select_nodes(
    df: DataFrame,
    selector: str,
    url_col: str = "url",
    html_col: str = "html",
    max_nodes: int = DEFAULT_MAX_NODES,
    max_depth: int = DEFAULT_MAX_DEPTH,
) -> DataFrame:
    """pages → ``(url, error, node_id, name, text)``; one row per
    matched element, document order; error pages yield one null-match
    sentinel row carrying ``error``."""
    compiled = compile_selector(selector)  # driver-side validation

    def view(builder):
        return [
            (e.id, e.name, _node_text(e))
            for e in iter_elements(builder.doc)
            if any(_matches_complex(e, alt) for alt in compiled)
        ]

    return dom_stage(
        df, view,
        [("node_id", pa.int64()), ("name", pa.string()), ("text", pa.string())],
        id_col=url_col, html_col=html_col, id_name="url",
        max_nodes=max_nodes, max_depth=max_depth,
    )


def select_counts(
    df: DataFrame,
    selectors: dict[str, str],
    url_col: str = "url",
    html_col: str = "html",
    max_nodes: int = DEFAULT_MAX_NODES,
    max_depth: int = DEFAULT_MAX_DEPTH,
) -> DataFrame:
    """pages → one row per page: ``(url, error, <alias> bigint …)`` —
    match counts for every selector from ONE parse of each document."""
    compiled = [compile_selector(sel) for sel in selectors.values()]

    def view(builder):
        counts = [0] * len(compiled)
        for e in iter_elements(builder.doc):
            for i, alts in enumerate(compiled):
                if any(_matches_complex(e, alt) for alt in alts):
                    counts[i] += 1
        return [tuple(counts)]

    return dom_stage(
        df, view, [(a, pa.int64()) for a in selectors],
        id_col=url_col, html_col=html_col, id_name="url",
        max_nodes=max_nodes, max_depth=max_depth,
    )
