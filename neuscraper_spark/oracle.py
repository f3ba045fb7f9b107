"""Single-process oracle: the reference's serving chain, mirrored.

Reproduces the reference's single-page path (app/app.py:31-46 ->
app/builder.py:103-142 -> app/extractor.py:71-142: build -> inference
-> Primary@0.9 -> join + sort desc + groupby-concat) as plain Python +
pandas. This chain *defines* the reference labels and reference
extracted text for the rebuild (BASELINE.md): the Spark pipeline must
match it byte-for-byte per url, and keep/drop F1 vs its labels must be
>= 0.99 (trivially 1.0 when byte-identical — asserted the hard way in
tests/test_pipeline.py).

It deliberately shares the leaf functions (the page -> sequence walk
extract._page_sequence over html_parser.parse_nodes' streaming pass,
tokenizer.tokenize, model.score_chunks, quality.curate_batch) with the
Spark operators — the thing under test is the *distributed plan*
(shuffles, aggregation order, Arrow round-trips, broadcast), not the
leaf math. The parser itself is checked against the full instrumented
tree of the reference in tests/tree_reference.py.
"""

from __future__ import annotations

import pandas as pd

from . import config as C
from .model import load_weights, score_chunks
from .operators.extract import _page_sequence
from .operators.quality import curate_batch

_W = None


def _weights():
    global _W
    if _W is None:
        _W = load_weights()
    return _W


def extract_page(url: str, html: bytes, threshold: float = C.PRIMARY_THRESHOLD):
    """One page -> (extracted_text | None, kept node ids, text_node rows)."""
    rows = _page_sequence(html)
    text_node_rows = [(r["node_id"], r["text"]) for r in rows if r["text"]]
    chunks = [
        [r["token_ids"] for r in rows[i : i + C.CHUNK_SIZE]]
        for i in range(0, len(rows), C.CHUNK_SIZE)
    ]
    kept: list[tuple[int, str]] = []
    if chunks:
        scores = score_chunks(chunks, _weights())
        for ci in range(len(chunks)):
            base = ci * C.CHUNK_SIZE
            chunk_rows = rows[base : base + C.CHUNK_SIZE]
            prim = scores[ci, : len(chunk_rows), 0]
            for j, r in enumerate(chunk_rows):
                # F6 threshold + F9 node-0 scrub + join/dropna fusion
                if prim[j] > threshold and r["node_id"] != 0 and r["text"]:
                    kept.append((r["node_id"], r["text"]))
    if not kept:
        return None, set(), text_node_rows
    kept_sorted = sorted(kept, reverse=True)  # node_id desc == document order
    extracted = "".join(t for _, t in kept_sorted)
    return extracted, {nid for nid, _ in kept}, text_node_rows


def extract_pages(pages: list[dict], threshold: float = C.PRIMARY_THRESHOLD) -> pd.DataFrame:
    """pages (dicts with url/html) -> DataFrame(url, text); pages with no
    kept nodes are omitted, like the reference's groupby output."""
    out = []
    for p in pages:
        text, _, _ = extract_page(p["url"], p["html"], threshold)
        if text is not None:
            out.append({"url": p["url"], "text": text})
    return pd.DataFrame(out, columns=["url", "text"])


def curate_pages(pages: list[dict], threshold: float = C.PRIMARY_THRESHOLD) -> pd.DataFrame:
    """Full oracle: extraction + quality chain -> one labeled row per
    extracted url, with the columns of extract_curate_fused (url, text,
    then quality.CURATE_DDL)."""
    extracted = extract_pages(pages, threshold)
    cols = curate_batch(extracted["text"].tolist())
    return pd.DataFrame({"url": extracted["url"].tolist(), "text": extracted["text"].tolist(), **cols})


def f1_keep_drop(oracle_keep: pd.Series, pipeline_keep: pd.Series) -> float:
    """Reference metric math (src/eval/evaluator.py:27-33)."""
    tp = float(((oracle_keep) & (pipeline_keep)).sum())
    fp = float(((~oracle_keep) & (pipeline_keep)).sum())
    fn = float(((oracle_keep) & (~pipeline_keep)).sum())
    if 2 * tp + fp + fn == 0:
        return 1.0
    return (2 * tp) / (2 * tp + fp + fn)
