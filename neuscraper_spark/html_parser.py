"""Stdlib-HTML page parse: html -> the node rows the model sequence needs.

Re-implements the reference's page-level parse on ``html.parser``
(bs4 is unavailable here), preserving the three invariants every
downstream operator depends on (SURVEY.md §1.b):

1. **Node-ID assignment** — the reference numbers nodes in reverse
   pre-order via a LIFO stack that pushes children in document order
   and pops last-child-first (reference: src/warc/build.py:37-67,
   identical at app/builder.py:38-59). That right-to-left pre-order is
   exactly the left-to-right post-order reversed, so a node's id is
   ``N - 1 - post``, where ``post`` is its index in the order nodes
   *close* in and ``N`` the page's node count. Consequence: for any two
   nodes where neither is the other's ancestor, *descending node_id ==
   document order*; final text assembly sorts node_id descending
   (src/warc/get_text.py:36).
2. **Synthetic text nodes** — bare strings are wrapped in
   ``<span instrument_node>`` and get their own id, *except* strings
   directly under an existing ``<span>`` (src/warc/build.py:54-63).
3. **noscript exclusion** — an instrument span whose parent is
   ``<noscript>`` is not a text node (src/api/CommonCrawlApi.py:53).

There is no node graph: ``_TreeBuilder`` is one streaming pass that
keeps only the stack of open elements, numbers nodes as they open and
close, and emits the sequence candidates in document order. No step
recurses, so page work and memory stay linear in the page however deep
it nests. Everything here is per-row scratch state inside
``mapInPandas`` batches (operators/extract.py) and the single-process
oracle.

Known divergence from bs4 (documented, corpus avoids them): comments,
doctypes and processing instructions are dropped entirely; bs4 would
treat a Comment as a wrappable string.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from html import unescape
from html.parser import HTMLParser

from .config import SEQ_ELEMENT_TAGS

VOID_TAGS = frozenset(
    "area base br col embed hr img input link meta param source track wbr".split()
)
_SEQ_TAGS = frozenset(SEQ_ELEMENT_TAGS)


@dataclass(slots=True)
class NodeRow:
    """One sequence candidate: a text node, or an element whose tag is in
    ``SEQ_ELEMENT_TAGS``. ``seq`` is its pre-order position among ALL the
    page's nodes."""

    seq: int
    node_id: int
    tag: str
    is_text: bool
    text: str  # full subtree text, UN-stripped (C1 strip applied downstream)


class _TreeBuilder(HTMLParser):
    """The streaming pass. The first element is the root; content before
    it and after it closes is ignored. A string is a node unless its
    parent is ``<span>``; it closes at once. A void or self-closed
    element closes at once; any other element closes on its matching end
    tag or at ``finish()``. ``node_id`` holds the post-order index until
    ``finish()`` turns it into ``N - 1 - post``.

    Subclasses change what a node becomes through ``_open``/``_close``
    (elements) and ``_string``; ``self.rows`` is what ``finish()``
    renumbers."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.rows: list = []
        self._stack: list[tuple[str, object]] = []  # open elements: (tag, payload)
        self._open_tags: dict[str, int] = {}  # tag -> open count; absent when 0
        self._n = 0  # nodes created = pre-order position of the next one
        self._post = 0  # nodes closed
        self._done = False  # the root has closed
        self._parts: list[str] = []  # strings inside an open SEQ element
        self._seq_open = 0

    # -- what a node becomes (sequence candidates) ----------------------

    def _row(self, seq: int, tag: str, is_text: bool, text: str) -> NodeRow:
        row = NodeRow(seq, -1, tag, is_text, text)
        self.rows.append(row)
        return row

    def _open(self, seq: int, tag: str):
        if tag not in _SEQ_TAGS:
            return None
        self._seq_open += 1
        return (self._row(seq, tag, False, ""), len(self._parts))

    def _close(self, payload, post: int) -> None:
        if payload is not None:
            row, start = payload
            row.node_id = post
            row.text = "".join(self._parts[start:])
            self._seq_open -= 1
            if not self._seq_open:
                self._parts.clear()

    def _string(self, data: str, parent: str, seq: int, post: int) -> None:
        if self._seq_open:
            self._parts.append(data)
        if seq >= 0 and parent != "noscript":
            self._row(seq, "span", True, data).node_id = post

    # -- html.parser handlers -------------------------------------------

    def handle_starttag(self, tag: str, attrs) -> None:
        if self._done:
            return
        if tag in VOID_TAGS:
            self.handle_startendtag(tag, attrs)
            return
        seq = self._n
        self._n = seq + 1
        self._stack.append((tag, self._open(seq, tag)))
        self._open_tags[tag] = self._open_tags.get(tag, 0) + 1

    def handle_startendtag(self, tag: str, attrs) -> None:
        if self._done:
            return
        seq = self._n
        self._n = seq + 1
        self._close(self._open(seq, tag), self._post)
        self._post += 1
        self._done = not self._stack  # a void root is the whole page

    def handle_endtag(self, tag: str) -> None:
        # tolerant close: pop to the nearest matching open tag, else ignore
        if tag in self._open_tags:
            self._pop_to(tag)

    def _pop_to(self, tag: str | None) -> None:
        """Close open elements innermost first, through the nearest
        ``tag`` (or all of them for None). Each element is popped once,
        so a page's end tags cost linear work in total."""
        stack, open_tags = self._stack, self._open_tags
        while stack:
            t, payload = stack.pop()
            left = open_tags[t] - 1
            if left:
                open_tags[t] = left
            else:
                del open_tags[t]
            self._close(payload, self._post)
            self._post += 1
            if t == tag:
                break
        self._done = not stack

    def handle_data(self, data: str) -> None:
        if data and self._stack and not self._drop_flush:
            parent = self._stack[-1][0]
            if parent == "span":
                self._string(data, parent, -1, -1)  # bare strings under <span> stay unwrapped
            else:
                seq = self._n
                self._n = seq + 1
                self._string(data, parent, seq, self._post)
                self._post += 1

    _drop_flush = False

    def close(self) -> None:
        # EOF recovery for truncated pages: stdlib close() flushes an
        # INCOMPLETE trailing tag ('<div cla' at EOF) as literal data
        # ('<' + 'div cla'), which would leak tag soup into extracted
        # text on every truncated crawl record. Drop the flush only when
        # the buffer is a genuine tag/comment/decl PREFIX — '<' followed
        # by a letter, '/', '!' or '?' — so literal trailing text like a
        # lone '<' or '< 3' (which the parser would have emitted as data
        # mid-stream) still flushes; buffered trailing text / incomplete
        # entities ('ends with &') flush normally too. bs4's html.parser
        # builder keeps the fragment; lxml drops it — we follow lxml
        # (tests/test_html_fuzz.py pins both paths).
        # ASCII letters only: HTMLParser's tagfind only matches
        # [a-zA-Z], so 'i <é' at EOF is literal text mid-stream and must
        # flush here too (r4 ADVICE — str.isalpha() is Unicode-wide)
        buf = self.rawdata
        nxt = buf[1:2]
        self._drop_flush = buf.startswith("<") and (
            (nxt.isascii() and nxt.isalpha()) or nxt in ("/", "!", "?")
        )
        try:
            super().close()
        finally:
            self._drop_flush = False

    def finish(self) -> None:
        """EOF: close what is still open, then turn post-order indices
        into node ids."""
        self._pop_to(None)
        last = self._n - 1
        for row in self.rows:
            row.node_id = last - row.node_id


class _Bail(Exception):
    """Fast tokenizer met a construct outside its proven subset."""


# Strict start-tag subset: simple name, whitespace-separated attrs with
# quoted values free of '<'/'>' or unquoted values free of specials, an
# optional self-closing slash. On every string this matches, stdlib
# html.parser's tolerant regexes (tagfind_tolerant/attrfind_tolerant/
# locatestarttagend_tolerant) find the SAME tag name, the same tag end,
# and the same start-vs-startend classification — anything else bails
# to the stdlib parser (tests/test_parser.py::test_fast_tokenizer_*
# pins the equivalence differentially).
#
# Whitespace inside the tag is the EXPLICIT ASCII class [\t\n\r\f ] —
# never \s. Python's \s additionally matches \x0b/\x85/\xa0/Unicode
# spaces, but stdlib tagfind_tolerant ends a tag NAME only on
# [\t\n\r\f />\x00], so '<p\x0bid=x>' is stdlib tag 'p\x0bid=x' while a
# \s-based fast pattern would silently parse tag 'p' (r6 code-review
# catch, reproduced). With the ASCII class such inputs simply fail the
# match and bail to stdlib. Exception: quoted attr VALUES may contain
# anything but the quote/angle chars — both parsers end them at the
# closing quote, so no divergence is possible there.
_WS = "\\t\\n\\r\\f "  # ASCII tag whitespace (see note above)
_FAST_STARTTAG = re.compile(
    rf"([a-zA-Z][-.a-zA-Z0-9:_]*)"                      # tag name
    rf"((?:[{_WS}]+[^{_WS}/>=<\"'`][^{_WS}/>=<\"'`]*"  # attr name
    rf"(?:[{_WS}]*=[{_WS}]*"                            # = value
    rf"(?:\"[^\"<>]*\"|'[^'<>]*'"                      # quoted value
    rf"|[^{_WS}<>\"'`=]+(?=[{_WS}/>])))?)*)"           # unquoted value
    rf"[{_WS}]*(/?)>"
)
_FAST_ENDTAG = re.compile(
    rf"/[{_WS}]*([a-zA-Z][-.a-zA-Z0-9:_]*)[{_WS}]*>"
)
_COMMENT_CLOSE = re.compile(r"--\s*>")  # == html.parser.commentclose


def _stdlib_cdata_close(elem: str) -> tuple[re.Pattern, re.Pattern]:
    """(search, strict) cdata terminators for ``elem``. ``search`` is
    the stdlib's OWN ``interesting`` regex, taken by introspection from
    a probe parser so the fast path's data-chunk boundary can never
    drift from the running interpreter's html.parser (the pattern
    changed across CPython versions: '</\\s*elem' pre-3.11.4 vs
    '</\\s*elem\\s*>' after — r6 code-review catch). ``strict`` is the
    full end-tag form; where ``search`` stops at something that is not
    a strict full end tag (possible only on the older pattern), the
    fast path bails instead of guessing."""
    probe = HTMLParser(convert_charrefs=True)
    probe.set_cdata_mode(elem)
    return probe.interesting, re.compile(rf"</\s*{elem}\s*>", re.I)


_CDATA_CLOSE = {elem: _stdlib_cdata_close(elem) for elem in ("script", "style")}


def _fast_feed(builder: _TreeBuilder, html: str) -> None:
    """Tokenize well-formed markup ~4x faster than HTMLParser.goahead,
    driving the SAME _TreeBuilder handlers so tree construction is
    shared with the stdlib path byte-for-byte. Raises _Bail on any
    construct outside the proven subset (caller re-parses via stdlib):
    malformed/incomplete tags, literal '<' in text, marked sections,
    unterminated comments/cdata."""
    i, n = 0, len(html)
    cdata_elem: str | None = None
    handle_data = builder.handle_data
    while i < n:
        if cdata_elem is not None:
            search, strict = _CDATA_CLOSE[cdata_elem]
            m = search.search(html, i)
            if m is None:
                raise _Bail  # EOF inside <script>/<style>
            e = strict.match(html, m.start())
            if e is None:
                raise _Bail  # stdlib would treat this as data; let it
            if m.start() > i:
                handle_data(html[i : m.start()])  # raw: no charref decode
            builder.handle_endtag(cdata_elem)
            cdata_elem = None
            i = e.end()
            continue
        j = html.find("<", i)
        if j < 0:
            handle_data(unescape(html[i:]))
            return
        if j > i:
            handle_data(unescape(html[i:j]))
        i = j
        nxt = html[i + 1 : i + 2]
        if nxt and nxt.isascii() and nxt.isalpha():
            m = _FAST_STARTTAG.match(html, i + 1)
            if m is None:
                raise _Bail
            tag = m.group(1).lower()
            if m.group(3):
                builder.handle_startendtag(tag, [])
            else:
                builder.handle_starttag(tag, [])
                if tag in _CDATA_CLOSE:
                    cdata_elem = tag
            i = m.end()
        elif nxt == "/":
            m = _FAST_ENDTAG.match(html, i + 1)
            if m is None:
                raise _Bail
            builder.handle_endtag(m.group(1).lower())
            i = m.end()
        elif html.startswith("<!--", i):
            m = _COMMENT_CLOSE.search(html, i + 4)
            if m is None:
                raise _Bail
            i = m.end()  # comments are dropped (no handler)
        elif nxt == "?":
            k = html.find(">", i + 2)
            if k < 0:
                raise _Bail
            i = k + 1  # PIs are dropped
        elif nxt == "!":
            if html.startswith("<![", i):
                raise _Bail  # marked section: stdlib-only path
            k = html.find(">", i + 2)
            if k < 0:
                raise _Bail
            i = k + 1  # doctype/bogus comment: dropped
        else:
            raise _Bail  # literal '<' data: stdlib-only path


def _parse(html: str, builder_cls: type[_TreeBuilder] = _TreeBuilder) -> _TreeBuilder:
    """Run one streaming pass over ``html``: the fast tokenizer, or the
    stdlib one on a fresh builder where the fast one bails."""
    p = builder_cls()
    try:
        _fast_feed(p, html)
    except _Bail:
        p = builder_cls()  # discard partial fast-path state
        p.feed(html)
        p.close()
    p.finish()
    return p


def parse_nodes(html: str) -> list[NodeRow]:
    """html string -> the page's sequence candidates in document order:
    every text node (text un-stripped) and every ``SEQ_ELEMENT_TAGS``
    element (text = its subtree's strings joined).

    Document order mirrors the reference's ``soup.find_all()`` iteration
    over the instrumented tree (src/api/CommonCrawlApi.py:39-79), which is
    the order the model sequence is built in (src/warc/build.py:83).
    Returns [] for pages with no candidate.
    """
    return _parse(html).rows
