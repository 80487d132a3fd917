"""Driver-side replay of a workload's documents, one process, no Spark.

The replay calls the same per-document functions the parse operator
calls (UTF-8 gate or charset sniff, tokenizer, tree builder, fused
extract, markdown) on the workload's own inputs. It serves two ends:

* the expected output digest for the correctness check, computed
  without Spark or Arrow, and
* in the traced run, the Python-side per-layer times. The tokenizer's
  self time is ``Tokenizer.run`` minus the time spent in the sink; the
  tree builder's time is measured through a delegating sink around
  ``TreeBuilder.process_token``.
"""

from __future__ import annotations

import hashlib
import time
from collections import Counter

from html5ever_elixir_spark.operators.markdown import _doc_markdown
from html5ever_elixir_spark.operators.parse import DEFAULT_MAX_DEPTH, DEFAULT_MAX_NODES
from html5ever_elixir_spark.parser.api import UTF8_ERROR, parse_document
from html5ever_elixir_spark.parser.encoding import sniff_decode
from html5ever_elixir_spark.parser.extract import extract_all
from html5ever_elixir_spark.parser.tokenizer import Tokenizer
from html5ever_elixir_spark.parser.treebuilder import ParseBudgetExceeded, TreeBuilder

# row digest: md5 over the fields joined by SEP, nulls as NULL, list
# items joined by ITEM; the first 60 bits as an integer. Summing the row
# values gives an order-independent digest of a whole output;
# workloads.row_hash_col builds the identical expression in Spark SQL.
SEP, NULL, ITEM = "\x1f", "\x00", "\x1e"


def row_hash(*fields) -> int:
    parts = []
    for v in fields:
        if v is None:
            parts.append(NULL)
        elif isinstance(v, list):
            parts.append(ITEM.join(v))
        else:
            parts.append(str(v))
    return int(hashlib.md5(SEP.join(parts).encode("utf-8")).hexdigest()[:15], 16)


class _TimedSink:
    """Delegates to a TreeBuilder and accumulates the time spent in it."""

    __slots__ = ("builder", "busy", "tokens")

    def __init__(self, builder: TreeBuilder):
        self.builder = builder
        self.busy = 0.0
        self.tokens = 0

    def process_token(self, tok) -> None:
        self.tokens += 1
        t0 = time.perf_counter()
        try:
            self.builder.process_token(tok)
        finally:
            self.busy += time.perf_counter() - t0

    def cdata_allowed(self) -> bool:
        return self.builder.cdata_allowed()


LAYERS = ("gate_s", "sniff_s", "tokenizer_s", "treebuilder_s", "extract_s",
          "markdown_s")


def replay_doc(url: str, html, encoding: str, markdown: bool,
               acc: Counter | None) -> int:
    """Process one document as ``parse_and_extract`` does and return the
    row hash of (url, error, text, title, links, n_nodes). With ``acc``
    the per-layer times and counts are added to it, and ``markdown``
    also times the markdown walk (it does not enter the hash)."""
    clock = time.perf_counter
    t0 = clock()
    error = None
    try:
        if html is None:
            text_in = ""
        elif isinstance(html, str):
            text_in = html
        elif encoding == "sniff":
            text_in = sniff_decode(bytes(html))[0]
        else:
            text_in = bytes(html).decode("utf-8", errors="strict")
    except UnicodeDecodeError:
        error = UTF8_ERROR
    t1 = clock()
    if acc is not None:
        acc["sniff_s" if encoding == "sniff" else "gate_s"] += t1 - t0
    if error is not None:
        if acc is not None:
            acc["error_rows"] += 1
        return row_hash(url, error, None, None, None, None)

    if acc is None:
        # untraced: the operator's own entry point
        try:
            builder = parse_document(text_in, max_nodes=DEFAULT_MAX_NODES,
                                     max_depth=DEFAULT_MAX_DEPTH)
        except ParseBudgetExceeded as exc:
            return row_hash(url, f"parse budget exceeded: {exc}", None, None, None, None)
        m = extract_all(builder.doc)
        return row_hash(url, None, m["text"], m["title"], m["links"], m["n_nodes"])

    # traced: parse_document's wiring, with the timed sink in between
    builder = TreeBuilder(max_nodes=DEFAULT_MAX_NODES, max_depth=DEFAULT_MAX_DEPTH)
    sink = _TimedSink(builder)
    tokenizer = Tokenizer(text_in, sink)
    builder.tokenizer = tokenizer
    t1 = clock()
    try:
        tokenizer.run()
    except ParseBudgetExceeded as exc:
        error = f"parse budget exceeded: {exc}"
    t2 = clock()
    acc["tokenizer_s"] += (t2 - t1) - sink.busy
    acc["treebuilder_s"] += sink.busy
    acc["tokens"] += sink.tokens
    acc["tokenizer_parse_errors"] += tokenizer.parse_errors
    acc["treebuilder_parse_errors"] += builder.parse_errors
    acc["nodes"] += builder.next_id
    if error is not None:
        acc["budget_exceeded"] += 1
        acc["error_rows"] += 1
        return row_hash(url, error, None, None, None, None)

    m = extract_all(builder.doc)
    t3 = clock()
    if markdown:
        _doc_markdown(builder.doc)
        acc["markdown_s"] += clock() - t3
    acc["extract_s"] += t3 - t2
    acc["docs"] += 1
    return row_hash(url, None, m["text"], m["title"], m["links"], m["n_nodes"])


def digest(docs: list, encoding: str) -> int:
    """Untraced replay digest, in this process."""
    return sum(replay_doc(u, h, encoding, False, None) for u, h in docs)


def traced(docs: list, encoding: str, markdown: bool) -> tuple[int, Counter]:
    """Replay in this process with per-layer times and counts."""
    acc: Counter = Counter()
    total = 0
    for url, html in docs:
        total += replay_doc(url, html, encoding, markdown, acc)
    acc["rows"] = len(docs)
    return total, acc
