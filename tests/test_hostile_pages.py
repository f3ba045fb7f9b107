"""Pathological pages: deep nesting, huge pages, broken bytes.

Crawl HTML leaves tags unclosed all the time; html.parser has no
implicit-close rules, so 1,000 unclosed ``<p>`` nest 1,000 deep. Every
such page must go through the fused plan, the staged plan and the
oracle with the same output per url and no task failure, in work and
memory linear in the page.
"""

from __future__ import annotations

import random
import time
import tracemalloc

import pandas as pd

from neuscraper_spark import oracle
from neuscraper_spark.corpus import WEB_PAGES_DDL, WORDS
from neuscraper_spark.html_parser import parse_nodes
from neuscraper_spark.operators.extract import _page_sequence, extract_curate_fused, extract_pipeline
from neuscraper_spark.operators.quality import quality_chain

_RNG = random.Random(2024)


def _sentence(k: int) -> str:
    return " ".join(_RNG.choices(WORDS["en"], k=k)).capitalize() + "."


def _page(url: str, html: bytes, ts) -> dict:
    return {"url": url, "warc_ts": ts, "html": html, "text": "", "lang": "en"}


def _unclosed_p(n: int) -> bytes:
    body = "".join(f"<p>{_sentence(10)}" for _ in range(n))
    return f"<html><head><title>Unclosed</title></head><body><main>{body}</main></body></html>".encode()


def _deep_div(n: int) -> bytes:
    body = "".join(f"<p>{_sentence(12)}</p>" for _ in range(40))
    return ("<html><body><main>" + "<div>" * n + body + "</div>" * n + "</main></body></html>").encode()


def _assert_plans_match_oracle(spark, pages: list[dict]) -> pd.DataFrame:
    """fused, staged (extract_pipeline + quality chain) and oracle agree
    per url on every column; returns the oracle's rows."""
    df = spark.createDataFrame(pd.DataFrame(pages), schema=WEB_PAGES_DDL)
    fused = extract_curate_fused(spark, df).toPandas()
    staged = quality_chain(spark, extract_pipeline(spark, df)).toPandas()
    want = oracle.curate_pages(pages).sort_values("url").reset_index(drop=True)
    for got in (fused, staged):
        got = got.sort_values("url").reset_index(drop=True)
        pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=True)
    return want


def test_deep_pages_match_oracle(spark, pages):
    """A page of 1,200 unclosed <p> and one nested 10,000 <div> deep,
    among the fixture pages: any per-level recursion in the page parse
    fails the whole job with RecursionError."""
    ts = pages[0]["warc_ts"]
    deep = [
        _page("https://www.deep.example/unclosed-p.html", _unclosed_p(1200), ts),
        _page("https://www.deep.example/div.html", _deep_div(10_000), ts),
    ]
    want = _assert_plans_match_oracle(spark, pages + deep)
    assert {p["url"] for p in deep} <= set(want["url"])


def test_hostile_pages_match_oracle(spark):
    """A 10 MB page, 100,000 sibling <p>, invalid UTF-8, NUL bytes and an
    unterminated comment and CDATA section."""
    ts = pd.Timestamp("2024-01-01", tz="UTC")
    para = "<p>" + " ".join(_sentence(12) for _ in range(200)) + "</p>\n"
    big = "<html><body><main>" + para * ((10 << 20) // len(para) + 1) + "</main></body></html>"
    siblings = "".join(f"<p>{_sentence(8)}</p>" for _ in range(100_000))
    lead = "<html><body><main><p>" + _sentence(30) + "</p>"
    hostile = {
        "big": big.encode(),
        "siblings": f"<html><body><main>{siblings}</main></body></html>".encode(),
        "bad-utf8": lead.encode() + b"<p>\xff\xfe\xc3( broken</p></main></body></html>",
        "nul": (lead + "<p>a\x00NUL\x00 b</p></main></body></html>").encode(),
        "comment": (lead + "<!-- never closed <p>" + _sentence(10)).encode(),
        "cdata": (lead + "<![CDATA[ never closed <p>" + _sentence(10)).encode(),
    }
    assert len(hostile["big"]) >= 10 << 20
    pages = [_page(f"https://www.hostile.example/{k}.html", v, ts) for k, v in hostile.items()]
    want = _assert_plans_match_oracle(spark, pages)
    assert {"big", "siblings", "comment", "cdata"} <= {u.rsplit("/", 1)[1][:-5] for u in want["url"]}


def test_page_sequence_memory_bounded():
    """3,000 unclosed <p>: every <p> holds all the ones after it, so
    building a subtree text per element is quadratic (about 66 MB peak);
    only the sequence rows need text."""
    html = _unclosed_p(3000)
    tracemalloc.start()
    try:
        rows = _page_sequence(html)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert len(rows) == 3001  # 3,000 sentences + the title
    assert peak < 6 << 20, peak


def test_unmatched_end_tags_linear():
    """10,000 open <div> then 10,000 unmatched </span>: scanning the open
    stack for each end tag is quadratic (7.2 CPU-s on a 4-core x86
    host); the open-count map answers each in O(1)."""
    n = 10_000
    html = "<html><body>" + "<div>x" * n + "</span>" * n
    t0 = time.process_time()
    rows = parse_nodes(html)
    assert time.process_time() - t0 < 0.7
    assert len(rows) == n



def test_separator_graph_memory_bounded():
    """The separator calculus' node graph over 3,000 unclosed <p>: an
    element's subtree text is joined when read, so the graph does not
    hold 3,000 nested copies of the page text (about 200M characters)."""
    from neuscraper_spark.operators.separators import build_graph, get_content_for_nodes

    html = _unclosed_p(3000).decode()
    tracemalloc.start()
    try:
        nodes, title = build_graph(html)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert peak < 40 << 20, peak
    assert title.text == "Unclosed"
    body = [g for g in nodes if g.is_textnode][1:]
    assert len(body) == 3000
    text, offsets = get_content_for_nodes(html, [g.node_id for g in body], add_html_title=False)
    assert len(offsets) == 3000 and text.startswith(body[0].text)
