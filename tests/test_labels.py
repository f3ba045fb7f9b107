"""Gold-label propagation + train JSON builder + corpus-scale eval."""

import json

import pandas as pd
import pytest

from neuscraper_spark.operators import labels as L
from neuscraper_spark.operators.extract import (
    kept_nodes,
    parse_chunks,
    predictions,
    score_nodes,
    text_nodes,
)
from neuscraper_spark.operators.evaluate import evaluate
from neuscraper_spark.corpus import gen_pages, web_pages_df


HTML = (
    b"<html><head><title>My Title</title></head><body>"
    b"<nav><a href='/'>Home</a></nav>"
    b"<article><h1>Big Heading</h1><p>Primary paragraph text.</p>"
    b"<ol><li>item one</li></ol></article>"
    b"<footer>footer text</footer></body></html>"
)


def _by_text(rows):
    return {r["text"]: r["labels"] for r in rows}


def test_labels_follow_structure():
    rows = L.gold_rows_for_page(HTML)
    by = _by_text(rows)
    # Primary, Heading, Title, Paragraph, Table, List
    assert by["My Title"] == [0, 0, 1, 0, 0, 0]
    assert by["Big Heading"] == [1, 1, 0, 0, 0, 0]
    assert by["Primary paragraph text."] == [1, 0, 0, 1, 0, 0]
    assert by["item one"] == [1, 0, 0, 0, 0, 1]
    assert by["footer text"] == [0, 0, 0, 0, 0, 0]
    assert by["Home"] == [0, 0, 0, 0, 0, 0]


def test_labels_document_order():
    rows = L.gold_rows_for_page(HTML)
    texts = [r["text"] for r in rows]
    assert texts.index("My Title") < texts.index("Big Heading") < texts.index("footer text")


def test_train_json_shape():
    lines = L.train_chunk_jsons("https://x.example/", HTML)
    assert len(lines) == 1
    rec = json.loads(lines[0])
    assert set(rec) == {"TokenId", "NodeIds", "Url", "Labels"}
    assert len(rec["TokenId"]) == len(rec["NodeIds"]) == len(rec["Labels"])
    assert all(len(l) == 6 for l in rec["Labels"])
    assert all(len(t) == 50 for t in rec["TokenId"])


def test_corpus_scale_eval_against_tag_gold(spark):
    """Full loop: pipeline predictions vs tag-derived gold through the
    reference's eval — sanity-gates that the scorer behaves like a
    content extractor (not a correctness gate; labels are synthetic)."""
    wp = web_pages_df(spark, seed=7, n_pages=30, partitions=4).cache()
    chunks = parse_chunks(wp)
    scored = score_nodes(spark, chunks)
    preds = predictions(kept_nodes(scored))
    tn = text_nodes(chunks)
    gold = L.gold_table(spark, wp)
    m = evaluate(preds, tn, gold).toPandas().iloc[0]
    assert m["tp"] > 0 and m["tn"] > 0
    assert m["recall"] > 0.7, m.to_dict()   # keeps most primary content
    assert m["accuracy"] > 0.6, m.to_dict()
    wp.unpersist()


def test_build_train_chunks_native_byte_compat(spark):
    """The production training builder (native to_json via
    encode_chunks_json_native) emits byte-identical JSON lines to the
    python oracle twin train_chunk_jsons — one encoder for the wire
    format (VERDICT r2 #4)."""
    wp = web_pages_df(spark, seed=13, n_pages=12, partitions=3)
    got = {
        (r["url"], r["chunk_id"]): r["json_line"]
        for r in L.build_train_chunks(wp).collect()
    }
    pages = {p["url"]: p["html"] for p in gen_pages(13, 12)}
    want = {}
    for url, html in pages.items():
        for ci, line in enumerate(L.train_chunk_jsons(url, html)):
            want[(url, ci)] = line
    # drop pages that produce no sequence rows on either side
    assert got == {k: v for k, v in want.items() if v}
