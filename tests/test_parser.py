"""HTML parser invariants (SURVEY.md §1.b) — reference semantics at
src/warc/build.py:37-67 and src/api/CommonCrawlApi.py:39-130."""

from neuscraper_spark.functions.text import strip_ws_py
from neuscraper_spark.html_parser import parse_nodes
from tests.tree_reference import candidate_rows, stream_rows, tree_rows


HTML = (
    "<html><head><title>T</title></head><body>"
    "<p>Hello world</p><span>inline</span><noscript>NS</noscript>"
    "<ol><li>a</li><li>b</li></ol></body></html>"
)


def test_root_gets_id_zero():
    # the reference tree numbers the root 0; parse_nodes returns the root
    # only when it is a sequence element, and then with id 0
    assert tree_rows(HTML)[0][1:3] == (0, "html")
    assert stream_rows(HTML) == candidate_rows(HTML)
    rows = parse_nodes("<table><tr><td>x</td></tr></table><p>after</p>")
    assert (rows[0].tag, rows[0].node_id) == ("table", 0)


def test_reverse_preorder_ids():
    """LIFO assignment: for non-ancestor pairs, descending id == doc order."""
    rows = parse_nodes(HTML)
    text_rows = [r for r in rows if r.is_text]
    doc_order_texts = [r.text for r in text_rows]
    by_desc_id = [r.text for r in sorted(text_rows, key=lambda r: -r.node_id)]
    assert doc_order_texts == by_desc_id == ["T", "Hello world", "a", "b"]


def test_bare_string_under_span_not_wrapped():
    # in the reference tree "inline" is only the pre-existing <span>'s
    # text: no instrument span was made for it, so it is no text node
    ref = [r for r in tree_rows(HTML) if r[4] == "inline"]
    assert [(tag, is_text) for _, _, tag, is_text, _ in ref] == [("span", False)]
    assert not [r for r in parse_nodes(HTML) if r.text == "inline"]
    assert stream_rows(HTML) == candidate_rows(HTML)


def test_noscript_excluded():
    # the reference wraps the string under <noscript> in an instrument
    # span that is not a text node; it takes an id but is no candidate
    ref = [r for r in tree_rows(HTML) if r[4] == "NS" and r[2] == "span"]
    assert len(ref) == 1 and not ref[0][3]
    assert not [r for r in parse_nodes(HTML) if r.text == "NS"]
    assert stream_rows(HTML) == candidate_rows(HTML)


def test_element_text_is_subtree_concat():
    rows = parse_nodes(HTML)
    ol = next(r for r in rows if r.tag == "ol")
    assert ol.text == "ab"


def test_whitespace_strings_get_ids_but_empty_text():
    rows = parse_nodes("<html><body>\n  <p>x</p>\n</body></html>")
    ws = [r for r in rows if r.is_text and strip_ws_py(r.text) == ""]
    assert len(ws) == 2  # the two newline runs were wrapped and got ids


def test_strip_charset_exact():
    assert strip_ws_py("\r\n\t\xa0 x\xa0 \t") == "x"
    assert strip_ws_py("\x0b x \x0b") == "\x0b x \x0b"  # \v NOT in charset


def test_malformed_html_tolerated():
    html = "<html><body><p>a<div>b</p>c</div></body></html>"
    # </p> closes the <div> opened inside it; "c" lands under <body>
    assert [(r.text, r.node_id) for r in parse_nodes(html)] == [("a", 6), ("b", 5), ("c", 2)]
    assert tree_rows(html)[0][1] == 0
    assert stream_rows(html) == candidate_rows(html)


def test_empty_input():
    assert parse_nodes("") == []
    assert parse_nodes("just text, no tags") == []


# ------------------------------------- streaming pass vs the tree reference


def assert_matches_reference(html: str) -> None:
    """parse_nodes == the reference tree's sequence candidates, row for
    row, crossing the tokenizers: the streaming pass fast-or-bail against
    the reference on the stdlib tokenizer, and the streaming pass on the
    stdlib tokenizer against the reference fast-or-bail."""
    for stdlib_only in (False, True):
        assert stream_rows(html, stdlib_only) == candidate_rows(html, not stdlib_only), (
            html[:200], stdlib_only)


def test_fast_tokenizer_equivalent_on_corpus():
    """The fast path must be byte-identical to the stdlib parse on the
    corpus generator's output (the production input distribution)."""
    from neuscraper_spark.corpus import gen_pages

    for p in gen_pages(7, 60):
        assert_matches_reference(p["html"].decode())


HAND_CASES = [
    "<br>void root<p>ignored</p>",
    "text before the root<p>a</p>text after",
    "<table/>",
    "<table/><p>after a self-closed root</p>",
    "<ol><li>a<ol><li>b</ol>c</ol>d",
    "<dl><dt>t<dd>d</dl><table><tr><td>1<td>2</table>",
    "<div><span>in</span><noscript>ns<b>x</b></noscript></div>",
    "<div><span>a<b>b</b>c</span></div>",
    "<div><![CDATA[z]]><?pi data?><!-- c -->t</div>",
    "<p>a<p>b<p>c",
    "<ol>x",
    "<div>a</div><p>after</p>",
    "<html><body><ol><li>x</ol></ol></body></html><ol><li>outside</ol>",
]


def test_fast_tokenizer_equivalent_or_bails_on_edge_cases():
    """On constructs outside the strict subset the fast path must BAIL
    (fall back to stdlib) rather than diverge; on accepted input it
    must match. Either way parse_nodes == the reference."""
    cases = [
        "<html><body>a &amp; b &lt;tag&gt; &nbsp;x</body></html>",
        "<html><body>a < b and c<d</body></html>",              # literal '<'
        "<html><body><p>a<div>b</p>c</div></body></html>",      # misnesting
        "<html><body><p class='s' id=x data-a>t</p></body></html>",
        "<html><body><!-- a <p>hidden</p> --><p>x</p></body></html>",
        "<!DOCTYPE html><html><body><p>x</p></body></html>",
        "<html><body><script>if (a<b) {x();}</script><p>t</p></body></html>",
        "<html><body><script>s</SCRIPT ><p>x</p></body></html>",
        "<html><body><style>p>a{}</style><p>x</p></body></html>",
        "<html><body><p>x</p><div cla",                          # truncated
        "<html><body><p>broken <a href=\"x>y\">t</a></p></body></html>",
        "<html><body><![CDATA[z]]><p>x</p></body></html>",
        "<html><body><?pi data?><p>x</p></body></html>",
        "<html><body><br/><BR><p>UP</p></body></html>",
        "<html><body><p>tail&amp",                               # entity at EOF
        "<html><body><noscript><p>n</p></noscript></body></html>",
    ]
    for html in cases + HAND_CASES:
        assert_matches_reference(html)


def test_fast_tokenizer_fuzz_equivalence():
    """Random mutations of corpus pages: every page parses to the same
    rows via parse_nodes (fast-or-bail) and the reference."""
    import random

    from neuscraper_spark.corpus import gen_pages

    rng = random.Random(99)
    frags = ["<", ">", "&", "&amp;", "<!", "</", "<x", "'", '"', "/>", "<!--"]
    for p in gen_pages(3, 25):
        html = p["html"].decode()
        for _ in range(4):
            i = rng.randrange(len(html))
            assert_matches_reference(html[:i] + rng.choice(frags) + html[i:])


def test_stream_matches_reference_on_long_pages_and_mutants():
    """Long multi-chunk pages carrying the constructs that send a page
    to the stdlib tokenizer, and seeded mutants of corpus pages."""
    import random

    from neuscraper_spark.corpus import WORDS, gen_pages
    from tests.test_html_fuzz import _mutate

    rng = random.Random(11)
    bail = ["<p>x &lt; 10 and x < y</p>", "<p>raw <![CDATA[ payload ]]> end</p>",
            "<p>note</p><!-- unterminated comment"]
    for i in range(12):
        blocks = []
        for _ in range(300):
            s = " ".join(rng.choices(WORDS["en"], k=rng.randint(1, 12)))
            r = rng.random()
            if r < 0.7:
                blocks.append(f"<p>{s}</p>")
            elif r < 0.85:
                blocks.append(f"<ol><li>{s}<li><span>{s}</span></ol>")
            else:
                blocks.append(f"<table><tr><td>{s}</td><td><b>{i}</b></td></tr></table>")
        blocks.insert(rng.randrange(len(blocks)), bail[i % 3])
        assert_matches_reference(
            "<html><head><title>t</title></head><body><main>" + "\n".join(blocks) + "</main></body></html>")
    for p in gen_pages(21, 100):
        assert_matches_reference(_mutate(p["html"].decode(), rng))
