"""C6 — separator calculus + gold-text assembly (ClueWeb22 path).

Faithful rebuild of the reference's between-text-node separator rules
and ``get_content_for_nodes`` (reference: src/api/AnnotateHtmlApi.py —
dispatch :562-596, visibility :599-609, <br> scan :612-627, same-block
:630-660, inline :662-674, spaces :677-688, margins :691-704,
punctuation :707-738, assembly :492-559). This path produces the
*gold/primary text with separators*; the CommonCrawl extraction path
(extract.py) concatenates with '' and is unaffected (SURVEY.md §2.9).

Needs the per-page node graph (prev-node chain, parents,
first-textnode) — built here from html_parser's streaming pass (same
nodes, same ids), plus optional VDOM features (functions/vdom.py) defaulting
to zeros exactly like the reference's init_vdom_feature (:767-801).

Replicated quirk: the reference's title-visibility check compares a tag
*object* to the string "title" (``node.html_node == "title"``,
:598-600) and therefore never fires; we reproduce the effective
behavior (no title special-case) rather than the dead code.
"""

from __future__ import annotations

import string
from dataclasses import dataclass, field
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from ..functions.text import strip_ws_py
from ..functions.vdom import VDOM_FIELDS
from ..html_parser import _parse, _TreeBuilder

# standard HTML element categories (reference: AnnotateHtmlApi.py:15-23)
INLINE_ELEMENT = frozenset(
    "a abbr acronym b bdo big br cite code dfn em i img input kbd label map "
    "object q samp script small span strong sub sup textarea time tt var".split()
)
BLOCK_ELEMENT = frozenset(
    "address article aside blockquote canvas dd div dl dt fieldset figcaption "
    "caption figure footer form h1 h2 h3 h4 h5 h6 header hgroup hr li main nav "
    "noscript ol output p pre section table tr td th tbody thead tfoot ul video "
    "h7 h8 h9 applet audio button datalist frameset legend menu summary "
    "textarea title".split()
)


@dataclass
class Vdom:
    """Zero-default visual features (reference init_vdom_feature)."""

    __annotations__ = {f: int for _, f in VDOM_FIELDS}

    def __init__(self, **kw):
        for _, f in VDOM_FIELDS:
            setattr(self, f, kw.get(f, 0))


@dataclass
class GraphNode:
    node_id: int
    tag: str
    is_textnode: bool
    strings: list[str] = field(repr=False)  # the page's strings, shared by its nodes
    start: int = 0  # the subtree's strings are strings[start:end]
    end: int = 0
    style: str = ""
    parent: "GraphNode | None" = None
    prev_node: "GraphNode | None" = None
    first_textnode: "GraphNode | None" = None
    vdom: Vdom = field(default_factory=Vdom)

    @property
    def text(self) -> str:
        """Subtree text, un-stripped. Joined when read, so a page nested
        n deep does not hold n overlapping copies of its text."""
        return "".join(self.strings[self.start : self.end])


class _GraphBuilder(_TreeBuilder):
    """The streaming parse, keeping every node as a GraphNode in
    document order (``rows``), with parent and prev-node links."""

    def __init__(self) -> None:
        super().__init__()
        self.title: GraphNode | None = None
        self._strings: list[str] = []  # every string inside the root

    def _node(self, tag, is_textnode) -> GraphNode:
        g = GraphNode(
            node_id=-1,
            tag=tag,
            is_textnode=is_textnode,
            strings=self._strings,
            start=len(self._strings),
            parent=self._stack[-1][1] if self._stack else None,
            prev_node=self.rows[-1] if self.rows else None,
        )
        self.rows.append(g)
        return g

    def _open(self, seq, tag):
        g = self._node(tag, False)
        if tag == "title" and self.title is None:
            self.title = g
        return g

    def _close(self, g, post):
        g.node_id = post
        g.end = len(self._strings)

    def _string(self, data, parent, seq, post):
        if seq >= 0:
            g = self._node("span", parent != "noscript")
            g.node_id, g.end = post, g.start + 1
        self._strings.append(data)


def build_graph(html: str, vdom_by_node: dict[int, Vdom] | None = None):
    """html -> (doc-order GraphNode list, title node or None)."""
    parsed = _parse(html, _GraphBuilder)
    nodes, title = parsed.rows, parsed.title

    # first_textnode per node (reference compute_node_relationship:
    # children resolve before parents; a parent's first_textnode is its
    # first document-order child subtree's). Parents precede children in
    # doc order, so reversed(nodes) processes children first.
    children: dict[int, list[GraphNode]] = {}
    for g in nodes:  # doc order -> children lists stay in doc order
        if g.parent is not None:
            children.setdefault(id(g.parent), []).append(g)
    for g in reversed(nodes):
        if g.is_textnode:
            g.first_textnode = g
        else:
            for c in children.get(id(g), []):
                if c.first_textnode is not None:
                    g.first_textnode = c.first_textnode
                    break
    if vdom_by_node:
        for g in nodes:
            if g.node_id in vdom_by_node:
                g.vdom = vdom_by_node[g.node_id]
    return nodes, title


# ----------------------------------------------------------- the predicates


def is_node_visible(node: GraphNode) -> bool:
    v = node.vdom
    return not (v.position_w <= 2 or v.position_h <= 2 or v.opacity == 0)


def is_br_between(prev_tn: GraphNode, curr_tn: GraphNode) -> bool:
    t = curr_tn.prev_node
    while t is not None:
        if t.tag == "br":
            return True
        if t is prev_tn:
            break
        t = t.prev_node
    return False


def _innermost_block(node: GraphNode | None) -> GraphNode | None:
    while node is not None and node.tag not in BLOCK_ELEMENT:
        node = node.parent
    return node


def is_under_same_block(prev_tn: GraphNode, curr_tn: GraphNode) -> bool:
    a, b = _innermost_block(prev_tn), _innermost_block(curr_tn)
    return a is not None and b is not None and a.node_id == b.node_id


def is_inline_element(node: GraphNode) -> bool:
    if node.is_textnode and node.parent is not None:
        node = node.parent
    if "display:inline" in node.style:
        return True
    return node.tag in INLINE_ELEMENT


def is_space_in_between(prev_tn: GraphNode, curr_tn: GraphNode) -> bool:
    p, c = prev_tn.text, curr_tn.text
    return bool(p and p[-1] in " \t") or bool(c and c[0] in " \t")


def has_margin_or_padding_between(prev_tn: GraphNode, curr_tn: GraphNode) -> bool:
    if prev_tn is None:
        return True
    pv, cv = prev_tn.vdom, curr_tn.vdom
    if pv.position_x + pv.position_w + 5 <= cv.position_x:
        return True
    return cv.offset_left >= 5 or cv.client_left >= 5


def _starts_punct_space(curr_tn: GraphNode) -> bool:
    t = curr_tn.text
    if not t or t.isspace() or t[0] not in string.punctuation:
        return False
    return len(t) == 1 or t[1] == " "


def _ends_space_punct(prev_tn: GraphNode) -> bool:
    t = prev_tn.text
    if not t or t.isspace() or t[-1] not in string.punctuation:
        return False
    return len(t) == 1 or t[-2] == " "


def get_text_separator(
    prev_tn: GraphNode | None, curr_tn: GraphNode, default: str = "\n"
) -> str:
    """The dispatch, rule order exactly as AnnotateHtmlApi.py:562-596."""
    if prev_tn is None:
        return default
    if is_node_visible(prev_tn) != is_node_visible(curr_tn):
        return "\n"
    if is_br_between(prev_tn, curr_tn):
        return "\n"
    if not is_under_same_block(prev_tn, curr_tn):
        return "\n"
    if is_space_in_between(prev_tn, curr_tn):
        return " "
    if (
        is_inline_element(prev_tn)
        and is_inline_element(curr_tn)
        and not has_margin_or_padding_between(prev_tn, curr_tn)
    ):
        return ""
    if _starts_punct_space(curr_tn) or _ends_space_punct(prev_tn):
        return ""
    return " "


# --------------------------------------------------------------- assembly


def get_content_for_nodes(
    html: str,
    nodeids: list[int],
    vdom_by_node: dict[int, Vdom] | None = None,
    add_html_title: bool = True,
    trim_space: bool = True,
    default_separator: str = "\n",
) -> tuple[str, dict[int, tuple[int, int]]]:
    """Separator-aware text assembly (AnnotateHtmlApi.py:492-559)."""
    nodes, title = build_graph(html, vdom_by_node)
    by_id = {g.node_id: g for g in nodes}

    out = ""
    offsets: dict[int, tuple[int, int]] = {}
    prev_tn: GraphNode | None = None

    if add_html_title and title is not None:
        t = strip_ws_py(title.text) if trim_space else title.text
        out += t
        if out:
            offsets[title.node_id] = (0, len(out))

    for nid in nodeids:
        g = by_id.get(nid)
        if g is None:
            continue
        node_text = strip_ws_py(g.text) if trim_space else g.text
        if node_text == "":
            continue
        curr_tn = g.first_textnode
        sep = "\n" if curr_tn is None else get_text_separator(prev_tn, curr_tn, default_separator)
        if len(out) == 0:
            sep = ""
        start = len(out) + len(sep)
        out = out + sep + node_text
        offsets[nid] = (start, len(out))
        prev_tn = curr_tn

    return out, offsets


def primary_content(web_pages: DataFrame, add_html_title: bool = True) -> DataFrame:
    """Corpus-scale gold-text generation: per page, assemble the
    separator-aware primary text from tag-derived primary node ids
    (labels.py provides the annotation stand-in; with real ClueWeb22
    annotations, pass their node-id lists instead)."""
    from .labels import gold_rows_for_page

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            urls, texts = [], []
            for url, html in zip(pdf["url"], pdf["html"]):
                try:
                    decoded = bytes(html).decode("utf-8")
                except UnicodeDecodeError:
                    continue
                primary_ids = sorted(
                    r["node_id"] for r in gold_rows_for_page(decoded)
                    if r["labels"][0] and r["is_text_node"]
                )
                # reference iterates annotation node lists sorted
                # descending (AnnotateHtmlApi.py:258-259) = document order
                primary_ids = list(reversed(primary_ids))
                text, _ = get_content_for_nodes(decoded, primary_ids,
                                                add_html_title=add_html_title)
                urls.append(url)
                texts.append(text)
            yield pd.DataFrame({"url": urls, "text": texts})

    return web_pages.select("url", "html").mapInPandas(
        run, schema="url string, text string"
    )
