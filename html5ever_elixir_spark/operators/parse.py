"""HTML parse + extract operators — the Spark mapping of the reference's
four entry points (``lib/html5ever.ex:40-129``) — and :func:`dom_stage`,
the parse-family row function (decode gate, budget, view) every
parse-family operator runs through.

Execution model: the shared row stage (``operators/stage.py``), one
``mapInArrow`` call per Arrow batch of documents — zero per-row Python
dispatch (the analog of the reference's one dirty-CPU NIF call per
document, ``lib.rs:24,:43``; Arrow zero-copy replaces the BEAM term-copy
avoidance of ``CHANGELOG.md:176-178``). Column pruning happens *before*
the Python stage: only (id, html) cross the JVM→Python boundary (plus
any passthrough columns), so the parquet scan reads exactly two columns.
Each operator (here and in select, tables, markdown) is a *view*: a
function from one parsed document to its output rows.

Row-level error semantics: invalid UTF-8 (the reference's only error
path, ``lib.rs:10-22``) or an exceeded parse budget yields an error row
with null outputs; the job never fails on malformed input.
"""

from __future__ import annotations

from operator import itemgetter
from typing import Callable

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..parser.api import _parse_or_error, tree_to_json
from ..parser.extract import extract_all
from .stage import row_stage

# per-document DOM node cap: ~3 orders of magnitude above the web
# average (~600 nodes/page, reference lib.rs:32-35) — bounds executor
# memory against adversarial/pathological documents at corpus scale
DEFAULT_MAX_NODES = 1_000_000
# open-element-stack cap (browser parity: Blink caps at 512); bounds the
# O(depth²) scope scans on never-closed-tag bombs
DEFAULT_MAX_DEPTH = 512

# per-doc metric columns emitted alongside text/title/links — histogram-
# class queries aggregate these instead of exploding every DOM node
# across the JVM boundary (VERDICT r1: html_node_histogram shipped all
# nodes to count 5 types)
_METRIC_KEYS = (
    "n_nodes", "n_elements", "n_anchors", "n_text_chars", "max_depth",
    "n_texts", "n_comments", "n_doctypes", "n_pis", "n_documents",
)
_metrics = itemgetter(*_METRIC_KEYS)

_PARSED_FIELDS = [
    ("text", pa.string()),
    ("title", pa.string()),
    ("links", pa.list_(pa.string())),
    ("n_parse_errors", pa.int64()),
    ("tree_json", pa.string()),
    ("markdown", pa.string()),
    *[(k, pa.int64()) for k in _METRIC_KEYS],
]

_NODE_FIELDS = [
    ("node_id", pa.int64()),
    ("parent_id", pa.int64()),
    ("children", pa.list_(pa.int64())),
    ("type", pa.string()),
    ("name", pa.string()),
    ("attrs", pa.list_(
        pa.struct([("name", pa.string()), ("value", pa.string())])
    )),
    ("attrs_map", pa.map_(pa.string(), pa.string())),
    ("contents", pa.string()),
]


def dom_stage(
    df: DataFrame,
    view: Callable,
    fields: list[tuple[str, pa.DataType]],
    *,
    id_col: str,
    html_col: str,
    id_name: str,
    max_nodes: int,
    max_depth: int,
    error_row: Callable | None = None,
    passthrough_cols: tuple[str, ...] = (),
    sniff: bool = False,
) -> DataFrame:
    """pages → the parse-family row function on the shared row stage
    (:func:`operators.stage.row_stage`): each document is parsed once
    and mapped through ``view``.

    ``df`` is pruned to (``id_col``, ``html_col``, *passthrough_cols*)
    before the Python stage. ``view(builder)`` returns the document's
    output rows as tuples matching ``fields`` (``[(name, arrow_type)]``);
    zero rows is allowed. Output columns: ``id_name`` (the id column's
    own type), ``error``, the view fields, then the passthrough columns
    verbatim. A document that fails the decode gate (strict UTF-8, or
    the WHATWG sniff chain when ``sniff``) or the node/depth budget gets
    one error row: ``error`` set and every view field null. With
    ``error_row`` the operator has no ``error`` column and
    ``error_row(reason)`` supplies that row's view fields instead."""
    pruned = df.select(
        F.col(id_col).alias(id_name), F.col(html_col),
        *[F.col(c) for c in passthrough_cols],
    )
    with_error = error_row is None
    if with_error:
        null_row = (None,) * len(fields)
        error_row = lambda err: (err, *null_row)  # noqa: E731
        fields = [("error", pa.string()), *fields]

    def rows(_, html):
        builder, err = _parse_or_error(html, max_nodes, max_depth, sniff)
        if builder is None:
            return [error_row(err)]
        got = view(builder)
        return [(None, *r) for r in got] if with_error else got

    return row_stage(pruned, rows, fields)


def parse_and_extract(
    df: DataFrame,
    url_col: str = "url",
    html_col: str = "html",
    with_tree_json: bool = False,
    with_markdown: bool = False,
    max_nodes: int = DEFAULT_MAX_NODES,
    max_depth: int = DEFAULT_MAX_DEPTH,
    passthrough_cols: tuple[str, ...] = (),
    encoding: str = "strict",
) -> DataFrame:
    """pages(url, html, ...) → parsed(url, error, text, title, links,
    metrics..., tree_json?).

    ``with_tree_json=False`` (default) skips the nested-tree JSON encode
    on the hot path; the column is emitted as null.
    ``with_markdown=True`` additionally emits the pinned-v1 Markdown
    conversion (operators/markdown.py) from the SAME parsed tree — a
    second in-memory walk, never a second parse.
    ``passthrough_cols`` names extra input columns to carry through the
    Python stage verbatim (they ride the same Arrow batch — no rejoin;
    e.g. ``("warc_ts",)`` for event-time streaming downstream). The
    default stays the 2-column pruned boundary.
    ``encoding="strict"`` (default) is the reference contract: binary
    html must be valid UTF-8, anything else is the typed UTF8_ERROR
    row. ``encoding="sniff"`` is the crawl mode: BOM → <meta charset>
    prescan → UTF-8 attempt → windows-1252 fallback (WHATWG chain,
    parser/encoding.py) — legacy cp1252/latin-1 pages decode instead of
    becoming error rows; output schema is unchanged."""
    if with_markdown:
        # lazy: markdown → parse would cycle at load time
        from .markdown import _doc_markdown

    def view(builder):
        doc = builder.doc
        m = extract_all(doc)  # fused single traversal
        return [(
            m["text"],
            m["title"],
            m["links"],
            builder.parse_errors + builder.tokenizer.parse_errors,
            tree_to_json(doc) if with_tree_json else None,
            _doc_markdown(doc) if with_markdown else None,
            *_metrics(m),
        )]

    return dom_stage(
        df, view, _PARSED_FIELDS, id_col=url_col, html_col=html_col,
        id_name="url", max_nodes=max_nodes, max_depth=max_depth,
        passthrough_cols=passthrough_cols, sniff=encoding != "strict",
    )


def flat_parse_nodes(
    df: DataFrame,
    url_col: str = "url",
    html_col: str = "html",
    max_nodes: int = DEFAULT_MAX_NODES,
    max_depth: int = DEFAULT_MAX_DEPTH,
) -> DataFrame:
    """pages → exploded per-node table (the reference's flat_parse map
    ``%{root, nodes}`` as rows keyed (url, node_id); arena_sink.rs:458-607).

    Error documents (invalid UTF-8 / parse budget) contribute ONE
    sentinel row — ``type='error'``, ``node_id`` null, ``contents`` =
    the error message — mirroring the reference's row-level
    ``{:error, reason}`` return (``lib/html5ever.ex:117-119``); real
    node rows always have ``type IN (document, element, text, comment,
    doctype, pi)``, so filters on those types are unaffected."""

    def view(builder):
        out = []
        stack = [builder.doc]
        while stack:
            node = stack.pop()
            if node.type == "element":
                attrs = [(n, v) for n, v in node.attrs]
                am: dict = {}
                for nk, v in node.attrs:
                    if nk not in am:
                        am[nk] = v
                aml = list(am.items())
            else:
                attrs = None
                aml = None
            out.append((
                node.id,
                node.parent.id if node.parent is not None else None,
                [c.id for c in node.children],
                node.type,
                node.name,
                attrs,
                aml,
                node.contents,
            ))
            if node.children:
                stack.extend(reversed(node.children))
        return out

    return dom_stage(
        df, view, _NODE_FIELDS, id_col=url_col, html_col=html_col,
        id_name="url", max_nodes=max_nodes, max_depth=max_depth,
        error_row=lambda err: (None, None, None, "error", None, None, None,
                               err),
    )
