"""HTML → Markdown conversion over the arena DOM.

Web-corpus curation increasingly stores extracted pages as Markdown
(structure survives, markup noise doesn't); this operator converts the
reference's tuple tree (``lib/html5ever.ex:40`` — the thing users walk
to re-render content) into CommonMark-flavored text as a first-class
Spark surface. Like :mod:`operators.select` / :mod:`operators.tables`,
conversion needs the per-document tree, so :func:`to_markdown` is a
view on the shared DOM stage (:func:`operators.parse.dom_stage`): the
100 TB plan is ONE narrow mapInArrow stage over a 2-column pruned scan
— zero shuffle, embarrassingly parallel, scales with input splits.

Pinned conversion rules (v1 — the gate predicts output byte-for-byte,
so changes must update the oracle template in lockstep):

* blocks: ``h1..h6`` → ``#``·n, ``p`` → paragraph, ``ul``/``ol`` →
  ``- `` / ``1. `` items (nested lists supported via a context stack),
  ``blockquote`` → ``> `` line prefixes, ``pre`` → fenced code block
  (raw text — neither whitespace collapse nor the final blank-line
  normalization touch it), ``hr`` → ``---``, ``table`` → pipe table
  with a ``| --- |`` separator after an all-``th`` first row (``|`` in
  cell text escapes to ``\\|``), ``br`` → newline.
* inline: ``a`` → ``[text](href)``, ``strong``/``b`` → ``**text**``,
  ``em``/``i`` → ``*text*``, ``code`` → `` `text` ``.
* all other elements are transparent (children flow through); tags in
  ``MD_SKIP_TAGS`` (script/style/head/svg/…) drop their subtree.
* text nodes collapse ``[ \\t\\n\\r\\f]+`` runs to one space (except
  inside ``pre``); block junctions normalize to exactly one blank
  line; the result is stripped.

Error pages surface the row-level ``error`` column with a null
markdown column — the reference's ``{:error, reason}`` contract, never
a task failure.
"""

from __future__ import annotations

import re

import pyarrow as pa
from pyspark.sql import DataFrame

from ..parser.dom import ELEMENT, HTML_NS, TEXT
from .parse import DEFAULT_MAX_DEPTH, DEFAULT_MAX_NODES, dom_stage

__all__ = [
    "to_markdown",
    "docs_to_md_html_expr",
    "oracle_markdown_sql",
]

MD_SKIP_TAGS = frozenset(
    """script style template noscript iframe head title svg math object
    applet embed frame frameset noframes noembed xmp""".split()
)

_WS_RUN = re.compile(r"[ \t\n\r\f]+")
_NL_RUN = re.compile(r"\n{3,}")

_HEADINGS = {"h1": 1, "h2": 2, "h3": 3, "h4": 4, "h5": 5, "h6": 6}
# elements that open a fresh output buffer on enter and transform it on
# exit; everything else is transparent
_CONTAINERS = frozenset(
    ("a", "strong", "b", "em", "i", "code", "p", "li", "ul", "ol",
     "blockquote", "pre", "td", "th")
) | frozenset(_HEADINGS)


def _attr(node, name: str) -> str:
    for n, v in node.attrs or ():
        if n == name:
            return v
    return ""


def _doc_markdown(doc) -> str:
    """Convert one parsed document; iterative enter/exit walk only
    (10k-depth rule)."""
    bufs: list[list[str]] = [[]]
    list_stack: list[list] = []  # [marker, counter] per open ul/ol
    table_stack: list[dict] = []
    pre_depth = 0

    stack = [(doc, False)]
    while stack:
        node, leaving = stack.pop()
        t = node.type
        if not leaving:
            if t == TEXT:
                s = node.contents or ""
                bufs[-1].append(s if pre_depth else _WS_RUN.sub(" ", s))
                continue
            if t != ELEMENT and node is not doc:
                continue
            name = node.name if t == ELEMENT else ""
            if t == ELEMENT and node.namespace == HTML_NS:
                if name in MD_SKIP_TAGS:
                    continue
                if name == "br":
                    bufs[-1].append("\n")
                elif name == "hr":
                    bufs[-1].append("\n---\n\n")
                if name in _CONTAINERS:
                    bufs.append([])
                    if name == "pre":
                        pre_depth += 1
                    elif name == "ul":
                        list_stack.append(["-", 0])
                    elif name == "ol":
                        list_stack.append(["1", 0])
                    elif name == "li" and list_stack:
                        list_stack[-1][1] += 1
                elif name == "table":
                    table_stack.append(
                        {"rows": [], "cells": None, "th": [], "first": True}
                    )
                elif name == "tr" and table_stack:
                    table_stack[-1]["cells"] = []
                    table_stack[-1]["th"] = []
                stack.append((node, True))
            else:
                stack.append((node, True))
            stack.extend((c, False) for c in reversed(node.children))
            continue

        # leaving
        if t != ELEMENT or node.namespace != HTML_NS:
            continue
        name = node.name
        if name in _CONTAINERS:
            inner = "".join(bufs.pop())
            out = bufs[-1]
            if name == "a":
                # a link/emphasis whose content crosses a block
                # boundary (misnested source HTML puts a <p> inside
                # the element) cannot be valid markdown — emit the
                # content unwrapped instead of corrupting the syntax
                if "\n\n" in inner:
                    out.append(inner)
                else:
                    out.append(f"[{inner.strip()}]({_attr(node, 'href')})")
            elif name in ("strong", "b"):
                out.append(inner if "\n\n" in inner else f"**{inner.strip()}**")
            elif name in ("em", "i"):
                out.append(inner if "\n\n" in inner else f"*{inner.strip()}*")
            elif name == "code":
                if pre_depth:
                    out.append(inner)
                else:
                    # code spans cannot contain ANY newline
                    out.append(
                        inner if "\n" in inner else f"`{inner.strip()}`"
                    )
            elif name in _HEADINGS:
                out.append(
                    "\n" + "#" * _HEADINGS[name] + " " + inner.strip()
                    + "\n\n"
                )
            elif name == "p":
                s = inner.strip()
                if s:
                    out.append("\n" + s + "\n\n")
            elif name == "li":
                s = inner.strip()
                if list_stack:
                    m, k = list_stack[-1]
                    mark = "- " if m == "-" else f"{k}. "
                else:
                    mark = "- "
                indent = "  " * max(len(list_stack) - 1, 0)
                out.append(indent + mark + s + "\n")
            elif name in ("ul", "ol"):
                if list_stack:
                    list_stack.pop()
                if inner:
                    # nested list: break onto its own line inside the
                    # parent item; top level: close the block
                    out.append(
                        "\n" + inner if list_stack else inner + "\n"
                    )
            elif name == "blockquote":
                s = inner.strip()
                if s:
                    out.append(
                        "\n"
                        + "".join("> " + ln + "\n" for ln in s.split("\n"))
                        + "\n"
                    )
            elif name == "pre":
                pre_depth -= 1
                # \x00 cannot survive tokenization (§13.2.5 replaces
                # NUL), so it is a safe sentinel shielding the code
                # block's own newlines from the final junction collapse
                body = inner.strip("\n").replace("\n", "\x00")
                out.append("\n```\n" + body + "\n```\n\n")
            elif name in ("td", "th"):
                if table_stack and table_stack[-1]["cells"] is not None:
                    # escape pipes so cell text can't break the row
                    table_stack[-1]["cells"].append(
                        _WS_RUN.sub(" ", inner).strip().replace("|", "\\|")
                    )
                    table_stack[-1]["th"].append(name == "th")
                else:
                    out.append(inner)
        elif name == "tr" and table_stack:
            ctx = table_stack[-1]
            cells = ctx["cells"]
            if cells:
                ctx["rows"].append("| " + " | ".join(cells) + " |")
                if ctx["first"] and ctx["th"] and all(ctx["th"]):
                    ctx["rows"].append(
                        "| " + " | ".join(["---"] * len(cells)) + " |"
                    )
            ctx["cells"] = None
            ctx["first"] = False
        elif name == "table":
            ctx = table_stack.pop()
            if ctx["rows"]:
                bufs[-1].append("\n" + "\n".join(ctx["rows"]) + "\n\n")

    md = "".join(bufs[0])
    return _NL_RUN.sub("\n\n", md).strip().replace("\x00", "\n")


def to_markdown(
    df: DataFrame,
    id_col: str = "url",
    html_col: str = "html",
    max_nodes: int = DEFAULT_MAX_NODES,
    max_depth: int = DEFAULT_MAX_DEPTH,
) -> DataFrame:
    """pages → ``(<id_col>, error, markdown)``, one row per page."""
    return dom_stage(
        df, lambda builder: [(_doc_markdown(builder.doc),)],
        [("markdown", pa.string())],
        id_col=id_col, html_col=html_col, id_name=id_col,
        max_nodes=max_nodes, max_depth=max_depth,
    )


# ---------------------------------------------------------------------------
# deterministic markdown corpus over documents.text (driver gate)
#
# Both engines derive every fragment from the SAME sanitized-token rule
# (tokens are alphanumeric-only, so none is markdown- or markup-
# significant); Spark builds real HTML and round-trips it through the
# parser + this converter, DuckDB predicts the markdown string
# directly — heading/link/emphasis/list/quote/pre/table/hr rules are
# all exercised end to end.


def _tok(i: int, dialect: str) -> str:
    if dialect == "spark":
        tok = f"try_element_at(split(text, ' '), {i})"
        clean = f"regexp_replace({tok}, '[^A-Za-z0-9]', '')"
    elif dialect == "duckdb":
        tok = f"string_split(text, ' ')[{i}]"
        clean = f"regexp_replace({tok}, '[^A-Za-z0-9]', '', 'g')"
    else:  # pragma: no cover
        raise ValueError(dialect)
    return f"coalesce(nullif({clean}, ''), 'w{i}')"


def docs_to_md_html_expr() -> str:
    """Spark SQL expression building each document's HTML page: always
    a heading + a rich-inline paragraph + a table; conditionally (by
    ``doc_id`` residues) a ul, an ol, a blockquote, a pre and an hr.

    r9: the 17 word references are drawn from ONE lambda-bound
    cleaned-prefix array (``cw``) instead of inlining
    split+regexp_replace per reference — codegen subexpression
    elimination cannot hoist subtrees out of the CASE WHEN branches, so
    the old form re-split and re-regexed per token (~11% of the
    html_markdown gate). Output bytes identical (join-verified)."""
    c = lambda i: (  # noqa: E731
        f"coalesce(nullif(try_element_at(cw, {i}), ''), 'w{i}')"
    )
    parts = [
        f"concat('<h2>', {c(1)}, '</h2>')",
        (
            "concat('<p>see <a href=\"/p/', {a}, '\">', {a}, "
            "'</a> and <b>', {b}, '</b> plus <i>', {d}, "
            "'</i> or <code>', {e}, '</code>.</p>')"
        ).format(a=c(2), b=c(3), d=c(4), e=c(5)),
        (
            "CASE WHEN doc_id % 2 = 0 THEN concat('<ul><li>', {a}, "
            "'</li><li>', {b}, '</li></ul>') ELSE '' END"
        ).format(a=c(6), b=c(7)),
        (
            "CASE WHEN doc_id % 3 = 0 THEN concat('<ol><li>', {a}, "
            "'</li><li>', {b}, '</li></ol>') ELSE '' END"
        ).format(a=c(8), b=c(9)),
        (
            "CASE WHEN doc_id % 4 = 0 THEN concat("
            "'<blockquote><p>', {a}, ' ', {b}, '</p></blockquote>') "
            "ELSE '' END"
        ).format(a=c(10), b=c(11)),
        (
            "CASE WHEN doc_id % 5 = 0 THEN concat('<pre>', {a}, '  ', "
            "{b}, '</pre>') ELSE '' END"
        ).format(a=c(12), b=c(13)),
        (
            "concat('<table><tr><th>', {a}, '</th><th>', {b}, "
            "'</th></tr><tr><td>', {d}, '</td><td>', {e}, "
            "'</td></tr></table>')"
        ).format(a=c(14), b=c(15), d=c(16), e=c(17)),
        "CASE WHEN doc_id % 6 = 0 THEN '<hr>' ELSE '' END",
    ]
    inner = "concat(" + ", ".join(parts) + ")"
    return (
        "element_at(transform(array(transform(slice(split(text, ' '), "
        "1, 17), w -> regexp_replace(w, '[^A-Za-z0-9]', ''))), "
        f"cw -> {inner}), 1)"
    )


def oracle_markdown_sql(table: str = "documents") -> str:
    """DuckDB mirror predicting ``markdown`` for
    :func:`docs_to_md_html_expr` pages byte-for-byte."""
    c = lambda i: _tok(i, "duckdb")  # noqa: E731
    nl = "chr(10)"
    b2 = f"{nl} || {nl}"  # blank line between blocks
    pieces = [
        f"'## ' || {c(1)}",
        (
            f"'see [' || {c(2)} || '](/p/' || {c(2)} || ') and **' || "
            f"{c(3)} || '** plus *' || {c(4)} || '* or `' || {c(5)} "
            "|| '`.'"
        ),
        (
            f"CASE WHEN doc_id % 2 = 0 THEN '- ' || {c(6)} || {nl} || "
            f"'- ' || {c(7)} END"
        ),
        (
            f"CASE WHEN doc_id % 3 = 0 THEN '1. ' || {c(8)} || {nl} || "
            f"'2. ' || {c(9)} END"
        ),
        (
            f"CASE WHEN doc_id % 4 = 0 THEN '> ' || {c(10)} || ' ' || "
            f"{c(11)} END"
        ),
        (
            f"CASE WHEN doc_id % 5 = 0 THEN '```' || {nl} || {c(12)} || "
            f"'  ' || {c(13)} || {nl} || '```' END"
        ),
        (
            f"'| ' || {c(14)} || ' | ' || {c(15)} || ' |' || {nl} || "
            f"'| --- | --- |' || {nl} || "
            f"'| ' || {c(16)} || ' | ' || {c(17)} || ' |'"
        ),
        "CASE WHEN doc_id % 6 = 0 THEN '---' END",
    ]
    joined = f"concat_ws({b2}, " + ", ".join(pieces) + ")"
    return f"SELECT doc_id, {joined} AS markdown FROM {table}"
