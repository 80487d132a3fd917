"""One error-row contract for every parse-family operator.

Each operator gets the same four documents: a valid page, invalid
UTF-8 bytes, a NULL html and a never-closed ``<div>`` depth bomb. The
exact output rows and schema are pinned, so the typed error rows
(``UTF8_ERROR`` and ``parse budget exceeded: …``), the NULL-as-empty
rule and each operator's sentinel shape cannot drift apart."""

import pytest

from html5ever_elixir_spark.operators.markdown import to_markdown
from html5ever_elixir_spark.operators.parse import (
    flat_parse_nodes,
    parse_and_extract,
)
from html5ever_elixir_spark.operators.select import select_counts, select_nodes
from html5ever_elixir_spark.operators.tables import (
    extract_table_cells,
    extract_table_grid,
)
from html5ever_elixir_spark.parser.api import UTF8_ERROR

PAGE = (
    b'<title>T</title><p>hi <a href="/x">x</a></p>'
    b"<table><tr><th>h</th><td>c</td></tr></table>"
)
DOCS = [
    ("ok", bytearray(PAGE)),
    ("bad", bytearray(b"<p>\xff</p>")),
    ("null", None),
    ("bomb", bytearray(b"<div>" * 600)),
]
BUDGET = "parse budget exceeded: document exceeds max tree depth 512"
_N = None

CASES = {
    "parse_and_extract": (
        parse_and_extract,
        "struct<url:string,error:string,text:string,title:string,"
        "links:array<string>,n_parse_errors:bigint,tree_json:string,"
        "markdown:string,n_nodes:bigint,n_elements:bigint,"
        "n_anchors:bigint,n_text_chars:bigint,max_depth:bigint,"
        "n_texts:bigint,n_comments:bigint,n_doctypes:bigint,n_pis:bigint,"
        "n_documents:bigint>",
        [
            ("ok", _N, "hi x\nh\nc", "T", ["/x"], 1, _N, _N,
             17, 11, 1, 7, 7, 5, 0, 0, 0, 1),
            ("bad", UTF8_ERROR) + (_N,) * 16,
            ("null", _N, "", _N, [], 1, _N, _N, 4, 3, 0, 0, 2, 0, 0, 0, 0, 1),
            ("bomb", BUDGET) + (_N,) * 16,
        ],
    ),
    "flat_parse_nodes": (
        flat_parse_nodes,
        "struct<url:string,node_id:bigint,parent_id:bigint,"
        "children:array<bigint>,type:string,name:string,"
        "attrs:array<struct<name:string,value:string>>,"
        "attrs_map:map<string,string>,contents:string>",
        [
            ("ok", 0, _N, [1], "document", _N, _N, _N, _N),
            ("ok", 1, 0, [2, 5], "element", "html", [], {}, _N),
            ("ok", 2, 1, [3], "element", "head", [], {}, _N),
            ("ok", 3, 2, [4], "element", "title", [], {}, _N),
            ("ok", 4, 3, [], "text", _N, _N, _N, "T"),
            ("ok", 5, 1, [6, 10], "element", "body", [], {}, _N),
            ("ok", 6, 5, [7, 8], "element", "p", [], {}, _N),
            ("ok", 7, 6, [], "text", _N, _N, _N, "hi "),
            ("ok", 8, 6, [9], "element", "a", [("href", "/x")],
             {"href": "/x"}, _N),
            ("ok", 9, 8, [], "text", _N, _N, _N, "x"),
            ("ok", 10, 5, [11], "element", "table", [], {}, _N),
            ("ok", 11, 10, [12], "element", "tbody", [], {}, _N),
            ("ok", 12, 11, [13, 15], "element", "tr", [], {}, _N),
            ("ok", 13, 12, [14], "element", "th", [], {}, _N),
            ("ok", 14, 13, [], "text", _N, _N, _N, "h"),
            ("ok", 15, 12, [16], "element", "td", [], {}, _N),
            ("ok", 16, 15, [], "text", _N, _N, _N, "c"),
            ("bad", _N, _N, _N, "error", _N, _N, _N, UTF8_ERROR),
            ("null", 0, _N, [1], "document", _N, _N, _N, _N),
            ("null", 1, 0, [2, 3], "element", "html", [], {}, _N),
            ("null", 2, 1, [], "element", "head", [], {}, _N),
            ("null", 3, 1, [], "element", "body", [], {}, _N),
            ("bomb", _N, _N, _N, "error", _N, _N, _N, BUDGET),
        ],
    ),
    "select_nodes": (
        lambda df: select_nodes(df, "a, th"),
        "struct<url:string,error:string,node_id:bigint,name:string,"
        "text:string>",
        [
            ("ok", _N, 8, "a", "x"),
            ("ok", _N, 13, "th", "h"),
            ("bad", UTF8_ERROR, _N, _N, _N),
            ("bomb", BUDGET, _N, _N, _N),
        ],
    ),
    "select_counts": (
        lambda df: select_counts(df, {"n_p": "p", "n_cell": "td, th"}),
        "struct<url:string,error:string,n_p:bigint,n_cell:bigint>",
        [
            ("ok", _N, 1, 2),
            ("bad", UTF8_ERROR, _N, _N),
            ("null", _N, 0, 0),
            ("bomb", BUDGET, _N, _N),
        ],
    ),
    "extract_table_cells": (
        extract_table_cells,
        "struct<url:string,error:string,table_idx:bigint,row_idx:bigint,"
        "col_idx:bigint,is_header:bigint,cell_text:string>",
        [
            ("ok", _N, 1, 1, 1, 1, "h"),
            ("ok", _N, 1, 1, 2, 0, "c"),
            ("bad", UTF8_ERROR) + (_N,) * 5,
            ("bomb", BUDGET) + (_N,) * 5,
        ],
    ),
    "extract_table_grid": (
        extract_table_grid,
        "struct<url:string,error:string,table_idx:bigint,grid_row:bigint,"
        "col_idx:bigint,grid_col:bigint,rowspan:bigint,colspan:bigint,"
        "is_header:bigint,cell_text:string>",
        [
            ("ok", _N, 1, 1, 1, 1, 1, 1, 1, "h"),
            ("ok", _N, 1, 1, 2, 2, 1, 1, 0, "c"),
            ("bad", UTF8_ERROR) + (_N,) * 8,
            ("bomb", BUDGET) + (_N,) * 8,
        ],
    ),
    "to_markdown": (
        to_markdown,
        "struct<url:string,error:string,markdown:string>",
        [
            ("ok", _N, "hi [x](/x)\n\n| h | c |"),
            ("bad", UTF8_ERROR, _N),
            ("null", _N, ""),
            ("bomb", BUDGET, _N),
        ],
    ),
}


@pytest.mark.parametrize("name", list(CASES))
def test_error_row_contract(spark, name):
    op, schema, expected = CASES[name]
    out = op(spark.createDataFrame(DOCS, "url string, html binary"))
    assert out.schema.simpleString() == schema
    assert [tuple(r) for r in out.collect()] == expected
