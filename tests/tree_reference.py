"""Reference page parse for the parser tests: the full instrumented DOM
tree that ``neuscraper_spark.html_parser`` built before it became one
streaming pass.

It builds every element and string as a node object, numbers nodes with
the reference's LIFO stack (src/warc/build.py:44-65), computes every
element's subtree text with a recursive post-order pass, and walks the
tree in pre-order. It is a direct transcription of the reference's
algorithm, kept here only to check the streaming pass row for row. It
recurses once per nesting level, so it is for ordinary pages, not deep
ones.
"""

from __future__ import annotations

import neuscraper_spark.html_parser as H
from neuscraper_spark import config as C


class _Elem:
    __slots__ = ("tag", "children", "parent", "node_id", "is_instrument")

    def __init__(self, tag: str, parent: "_Elem | None"):
        self.tag = tag
        self.children: list[object] = []  # _Elem | str
        self.parent = parent
        self.node_id: int | None = None
        self.is_instrument = False


class _RefTreeBuilder(H._TreeBuilder):
    """Same tokenizer events and EOF recovery (``close``) as the
    streaming builder; the handlers build a tree instead."""

    def __init__(self) -> None:
        super().__init__()
        self.top: list[object] = []
        self._elems: list[_Elem] = []

    def _append(self, child: object) -> None:
        if self._elems:
            self._elems[-1].children.append(child)
            if isinstance(child, _Elem):
                child.parent = self._elems[-1]
        else:
            self.top.append(child)

    def handle_starttag(self, tag: str, attrs) -> None:
        el = _Elem(tag, None)
        self._append(el)
        if tag not in H.VOID_TAGS:
            self._elems.append(el)

    def handle_startendtag(self, tag: str, attrs) -> None:
        self._append(_Elem(tag, None))

    def handle_endtag(self, tag: str) -> None:
        for i in range(len(self._elems) - 1, -1, -1):
            if self._elems[i].tag == tag:
                del self._elems[i:]
                return

    def handle_data(self, data: str) -> None:
        if data and not self._drop_flush:
            self._append(data)


def _instrument(root: _Elem) -> None:
    """LIFO stack, children pushed in document order, bare strings
    span-wrapped (except directly under <span>)."""
    stack: list[_Elem] = [root]
    node_index = 0
    while stack:
        node = stack.pop()
        if node.node_id is not None:
            continue
        node.node_id = node_index
        node_index += 1
        for i, child in enumerate(node.children):
            if isinstance(child, str):
                if node.tag == "span":
                    continue
                wrapper = _Elem("span", node)
                wrapper.is_instrument = True
                wrapper.children.append(child)
                node.children[i] = wrapper
                stack.append(wrapper)
            else:
                stack.append(child)


def _compute_texts(root: _Elem, cache: dict[int, str]) -> str:
    parts: list[str] = []
    for child in root.children:
        if isinstance(child, str):
            parts.append(child)
        else:
            parts.append(_compute_texts(child, cache))
    text = "".join(parts)
    cache[id(root)] = text
    return text


def tree_rows(html: str, stdlib_only: bool = False) -> list[tuple]:
    """Every instrumented node as ``(seq, node_id, tag, is_text, text)``
    in pre-order. ``stdlib_only`` skips the fast tokenizer."""
    p = _RefTreeBuilder()
    try:
        if stdlib_only:
            raise H._Bail
        H._fast_feed(p, html)
    except H._Bail:
        p = _RefTreeBuilder()
        p.feed(html)
        p.close()
    root = next((c for c in p.top if isinstance(c, _Elem)), None)
    if root is None:
        return []
    _instrument(root)
    texts: dict[int, str] = {}
    _compute_texts(root, texts)
    rows = []
    walk = [root]
    while walk:
        el = walk.pop()
        is_text = el.is_instrument and (el.parent is None or el.parent.tag != "noscript")
        rows.append((len(rows), el.node_id, el.tag, is_text, texts[id(el)]))
        walk.extend(c for c in reversed(el.children) if isinstance(c, _Elem))
    return rows


def candidate_rows(html: str, stdlib_only: bool = False) -> list[tuple]:
    """``tree_rows`` filtered to the sequence candidates ``parse_nodes``
    returns: text nodes and ``SEQ_ELEMENT_TAGS`` elements."""
    return [
        r for r in tree_rows(html, stdlib_only)
        if r[3] or r[2] in C.SEQ_ELEMENT_TAGS
    ]


def stream_rows(html: str, stdlib_only: bool = False) -> list[tuple]:
    """``parse_nodes`` as tuples; ``stdlib_only`` skips the fast tokenizer."""
    if stdlib_only:
        p = H._TreeBuilder()
        p.feed(html)
        p.close()
        p.finish()
        rows = p.rows
    else:
        rows = H.parse_nodes(html)
    return [(r.seq, r.node_id, r.tag, r.is_text, r.text) for r in rows]
