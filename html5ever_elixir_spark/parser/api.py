"""Public parse API — parity with the reference's four entry points
(``lib/html5ever.ex:40-129``) plus the canonical encoders used by the
Spark operators.

All tree traversals are **iterative** (explicit stacks): the reference's
flat encoder already is (``arena_sink.rs:476-479``), its nested encoder
is recursive (``arena_sink.rs:364-423``) — a deep-document hazard we do
not copy.
"""

from __future__ import annotations

import json

from .dom import COMMENT, DOCTYPE, DOCUMENT, ELEMENT, PI, TEXT, Node
from .encoding import sniff_decode
from .tokenizer import Tokenizer
from .treebuilder import ParseBudgetExceeded, TreeBuilder

# Reference error string: native/html5ever_nif/src/lib.rs:10-12
UTF8_ERROR = "cannot transform bytes from binary to a valid UTF8 string"


def parse_document(
    html: str,
    max_nodes: int | None = None,
    max_depth: int | None = None,
) -> TreeBuilder:
    """Parse an HTML string into a DOM; never raises on malformed HTML
    (spec error recovery; reference arena_sink.rs:216). ``max_nodes`` /
    ``max_depth`` bound adversarial documents (ParseBudgetExceeded)."""
    builder = TreeBuilder(max_nodes=max_nodes, max_depth=max_depth)
    tokenizer = Tokenizer(html, builder)
    builder.tokenizer = tokenizer
    tokenizer.run()
    return builder


def parse_fragment(
    html: str,
    context: str = "div",
    context_attrs: tuple = (),
    max_nodes: int | None = None,
    max_depth: int | None = None,
) -> TreeBuilder:
    """WHATWG §13.4 HTML fragment parsing — the innerHTML algorithm.
    (Not in the reference's public API — lib/html5ever.ex exposes only
    whole-document parse/flat_parse — but it is the other half of the
    html5ever crate's surface and what fragment-context html5lib tests
    exercise.)

    ``context`` is the context element: an HTML tag name ("div",
    "template", "textarea", …) or a namespaced pair ("svg title",
    "math ms"). Setup per spec: the context element is created DETACHED
    (it stands in for reset-insertion-mode and the adjusted current
    node, and is never part of the output); a root <html> element is
    appended to the document and the fragment's nodes are its children
    (``builder.fragment_root.children``). Tokenizer starts in the
    context-appropriate state (RCDATA/RAWTEXT/script data/PLAINTEXT),
    with the context name as the "appropriate end tag". Node ids: doc=0,
    context=1, root=2, then creation order."""
    from .dom import HTML_NS, MATHML_NS, SVG_NS
    from .tokenizer import PLAINTEXT, RAWTEXT, RCDATA, SCRIPT_DATA
    from .treebuilder import M_IN_TEMPLATE

    builder = TreeBuilder(max_nodes=max_nodes, max_depth=max_depth)
    ns, name = HTML_NS, context
    if " " in context:
        prefix, name = context.split(" ", 1)
        ns = {"svg": SVG_NS, "math": MATHML_NS}[prefix]
    ctx = builder._create_element(name, [list(a) for a in context_attrs], ns)
    builder.fragment_context = ctx
    root = builder._create_element("html", [])
    builder.doc.append_child(root)
    builder.open.append(root)
    if ns == HTML_NS and name == "template":
        builder.template_modes.append(M_IN_TEMPLATE)
    builder._reset_mode()
    if ns == HTML_NS and name == "form":
        builder.form = ctx
    tokenizer = Tokenizer(html, builder)
    if ns == HTML_NS:
        state = {
            "title": RCDATA, "textarea": RCDATA,
            "style": RAWTEXT, "xmp": RAWTEXT, "iframe": RAWTEXT,
            "noembed": RAWTEXT, "noframes": RAWTEXT,
            # scripting enabled (html5ever default) → noscript is RAWTEXT
            "noscript": RAWTEXT,
            "script": SCRIPT_DATA,
            "plaintext": PLAINTEXT,
        }.get(name)
        if state is not None:
            tokenizer.state = state
            tokenizer.last_start = name
    builder.tokenizer = tokenizer
    builder.fragment_root = root
    tokenizer.run()
    return builder


def _decode(data, sniff: bool = False) -> str:
    """The decode gate. Binary input must be valid UTF-8
    (``UnicodeDecodeError`` otherwise; reference lib.rs:27-30); str
    input is accepted as-is (already decoded). ``sniff=True`` is the
    lenient crawl decode instead: BOM → <meta charset> prescan → UTF-8
    → windows-1252 (parser/encoding.py), which never raises."""
    if not isinstance(data, (bytes, bytearray, memoryview)):
        return data
    if sniff:
        return sniff_decode(bytes(data))[0]
    return bytes(data).decode("utf-8", errors="strict")


def _parse_or_error(
    html,
    max_nodes: int | None = None,
    max_depth: int | None = None,
    sniff: bool = False,
):
    """Decode gate + budgeted parse → ``(builder, None)``, or
    ``(None, reason)`` for the contract's two row-level errors: invalid
    UTF-8 (``UTF8_ERROR``, reference lib.rs:10-22) and
    ``ParseBudgetExceeded``. NULL html parses as the empty document."""
    try:
        text = _decode(html, sniff) if html is not None else ""
        return parse_document(text, max_nodes, max_depth), None
    except UnicodeDecodeError:
        return None, UTF8_ERROR
    except ParseBudgetExceeded as exc:
        return None, f"parse budget exceeded: {exc}"


# ---------------------------------------------------------------------------
# nested tuple tree (reference nodes_to_term, arena_sink.rs:364-423)


def _encode_tuple_tree(doc: Node, attrs_as_maps: bool):
    """document → list of encoded children; element → (name, attrs, children);
    text → str; comment → ("comment", s); doctype → ("doctype", n, p, s);
    pi → ("pi", target, contents). Iterative post-order assembly."""

    def attrs_of(node):
        if attrs_as_maps:
            out = {}
            for n, v in node.attrs:
                if n not in out:  # first occurrence wins (lib/html5ever.ex:46-47)
                    out[n] = v
            return out
        return [(n, v) for n, v in node.attrs]

    # iterative: build child lists bottom-up via an explicit stack
    result_children: dict[int, list] = {doc.id: []}
    stack = [(doc, iter(doc.children))]
    while stack:
        parent, it = stack[-1]
        child = next(it, None)
        if child is None:
            stack.pop()
            if parent is not doc:
                # finalize parent into its grandparent's list
                gp_list = result_children[stack[-1][0].id]
                gp_list.append(
                    (parent.name, attrs_of(parent), result_children.pop(parent.id))
                )
            continue
        t = child.type
        if t == ELEMENT:
            result_children[child.id] = []
            stack.append((child, iter(child.children)))
        elif t == TEXT:
            result_children[parent.id].append(child.contents)
        elif t == COMMENT:
            result_children[parent.id].append(("comment", child.contents))
        elif t == DOCTYPE:
            result_children[parent.id].append(
                ("doctype", child.name, child.public_id, child.system_id)
            )
        elif t == PI:
            result_children[parent.id].append(("pi", child.name, child.contents))
    return result_children[doc.id]


def _ok_or_error(html, encode, attrs_as_maps: bool):
    """``("ok", encode(doc, attrs_as_maps))`` | ``("error", reason)`` —
    the four entry points differ only in the encoder (reference
    lib.rs:24-47)."""
    builder, err = _parse_or_error(html)
    if builder is None:
        return ("error", err)
    return ("ok", encode(builder.doc, attrs_as_maps))


def parse(html):
    """HTML → ``("ok", nested_tree)`` | ``("error", reason)``.
    Parity: ``Html5ever.parse/1`` (lib/html5ever.ex:40-42)."""
    return _ok_or_error(html, _encode_tuple_tree, False)


def parse_attrs_maps(html):
    """Parity: ``Html5ever.parse_with_attributes_as_maps/1``."""
    return _ok_or_error(html, _encode_tuple_tree, True)


# ---------------------------------------------------------------------------
# flat node map (reference nodes_to_flat_term, arena_sink.rs:458-607)


def _encode_flat(doc: Node, attrs_as_maps: bool):
    """%{root: 0, nodes: %{id => node_map}} — iterative DFS with an
    explicit work stack, mirroring arena_sink.rs:476-479. Per-kind fields
    per arena_sink.rs:482-598 (flat doctype drops public/system ids)."""
    nodes: dict[int, dict] = {}
    stack = [doc]
    while stack:
        node = stack.pop()
        t = node.type
        entry: dict = {
            "id": node.id,
            "parent": node.parent.id if node.parent is not None else None,
        }
        if t == DOCUMENT:
            entry["type"] = "document"
            entry["parent"] = None
            entry["children"] = [c.id for c in node.children]
        elif t == DOCTYPE:
            entry["type"] = "doctype"
            entry["name"] = node.name
        elif t == TEXT:
            entry["type"] = "text"
            entry["contents"] = node.contents
        elif t == COMMENT:
            entry["type"] = "comment"
            entry["contents"] = node.contents
        elif t == ELEMENT:
            entry["type"] = "element"
            entry["name"] = node.name
            entry["children"] = [c.id for c in node.children]
            if attrs_as_maps:
                attrs = {}
                for n, v in node.attrs:
                    if n not in attrs:
                        attrs[n] = v
            else:
                attrs = [(n, v) for n, v in node.attrs]
            entry["attrs"] = attrs
        else:  # PI
            entry["type"] = "pi"
            entry["name"] = node.name
            entry["contents"] = node.contents
        nodes[node.id] = entry
        if node.children:
            stack.extend(reversed(node.children))
    return {"root": 0, "nodes": nodes}


def flat_parse(html):
    """Parity: ``Html5ever.flat_parse/1`` (lib/html5ever.ex:117-119)."""
    return _ok_or_error(html, _encode_flat, False)


def flat_parse_attrs_maps(html):
    """Parity: ``Html5ever.flat_parse_with_attributes_as_maps/1``."""
    return _ok_or_error(html, _encode_flat, True)


# ---------------------------------------------------------------------------
# canonical JSON encodings for Spark columns


def _json_children(node: Node, attrs_as_maps: bool) -> list:
    """Encoded child list of ``node`` (shared by :func:`tree_to_json`
    and :func:`fragment_to_json`)."""

    def enc_attrs(attrs):
        if not attrs_as_maps:
            return [[n, v] for n, v in attrs]
        out = {}
        for n, v in attrs:
            if n not in out:  # first wins (lib/html5ever.ex:46-47)
                out[n] = v
        return out

    def conv(node: Node):
        # children lists are shallow; recursion depth = DOM depth. Convert
        # iteratively to dodge pathological depth (100k-deep <div> chains).
        out_children: dict[int, list] = {node.id: []}
        stack = [(node, iter(node.children))]
        while stack:
            parent, it = stack[-1]
            child = next(it, None)
            if child is None:
                stack.pop()
                if stack:
                    gp = out_children[stack[-1][0].id]
                    gp.append(
                        ["e", parent.name, enc_attrs(parent.attrs),
                         out_children.pop(parent.id)]
                    )
                continue
            t = child.type
            if t == ELEMENT:
                out_children[child.id] = []
                stack.append((child, iter(child.children)))
            elif t == TEXT:
                out_children[parent.id].append(child.contents)
            elif t == COMMENT:
                out_children[parent.id].append(["c", child.contents])
            elif t == DOCTYPE:
                out_children[parent.id].append(
                    ["d", child.name, child.public_id, child.system_id]
                )
            elif t == PI:
                out_children[parent.id].append(["p", child.name, child.contents])
        return out_children[node.id]

    return conv(node)


def tree_to_json(doc: Node, attrs_as_maps: bool = False) -> str:
    """Byte-stable canonical nested encoding (Spark ``tree_json`` column).

    Tagged arrays: document → ["#doc", [children]], element →
    ["e", name, [[n,v],...], [children]], text → "…", comment →
    ["c", data], doctype → ["d", name, public, system], pi →
    ["p", target, data]. Compact separators, non-ASCII preserved.

    ``attrs_as_maps=True`` encodes attrs as a JSON object (insertion =
    first-occurrence order) — the maps-mode surface of the reference's
    ``parse_with_attributes_as_maps/1`` (lib/html5ever.ex:62-64)."""
    return json.dumps(
        ["#doc", _json_children(doc, attrs_as_maps)],
        separators=(",", ":"), ensure_ascii=False,
    )


def fragment_to_json(builder: TreeBuilder, attrs_as_maps: bool = False) -> str:
    """Byte-stable encoding of a :func:`parse_fragment` result: the
    fragment's node list (children of the fragment root, per §13.4 —
    the innerHTML return value) as ``["#frag", [children]]``, same
    child encoding as :func:`tree_to_json`."""
    return json.dumps(
        ["#frag", _json_children(builder.fragment_root, attrs_as_maps)],
        separators=(",", ":"), ensure_ascii=False,
    )
