"""Gold-label generation + training-data builder (build_test/build_train
parity).

The reference propagates page annotations to text-node descendants and
emits 6-bit label rows per sequence node (_get_annotation_labels /
_compute_labels, src/build_test.py:69-90; train JSON rows
{TokenId, NodeIds, Url, Labels} at src/build_train.py:139-143; gold CSV
(Url, TextNodeId, Text, JudgmentIsPrimary) at src/build_test.py:170).
ClueWeb22's human annotations don't exist here, so the annotation
*provider* is tag-derived (deterministic structural rules below); the
propagation/emission machinery is the parity surface.

Label heads (AnnotationType enum, src/api/AnnotateHtml_pb2.py:27-48):
Primary, Heading, Title, Paragraph, Table, List.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from .. import config as C
from ..functions.encoding import decode_html
from ..functions.text import strip_ws_py
from ..html_parser import _parse, _TreeBuilder
from ..tokenizer import tokenize

# ancestor tag -> label index (Primary via the content containers)
PRIMARY_TAGS = frozenset({"article", "main"})
HEAD_TAGS = frozenset({"h1", "h2", "h3", "h4", "h5", "h6"})
LIST_TAGS = frozenset({"ol", "ul", "dl"})


def _labels_from_ancestors(tags: frozenset) -> list[int]:
    return [
        int(bool(PRIMARY_TAGS & tags)),       # Primary
        int(bool(HEAD_TAGS & tags)),          # Heading
        int("title" in tags),                 # Title
        int("p" in tags),                     # Paragraph
        int("table" in tags),                 # Table
        int(bool(LIST_TAGS & tags)),          # List
    ]


class _LabelBuilder(_TreeBuilder):
    """The streaming parse, recording each sequence candidate's labels
    from the tags open when it is created: its ancestors, plus its own
    tag."""

    def __init__(self) -> None:
        super().__init__()
        self.labels: list[list[int]] = []

    def _row(self, seq, tag, is_text, text):
        self.labels.append(_labels_from_ancestors(self._open_tags.keys() | {tag}))
        return super()._row(seq, tag, is_text, text)


def gold_rows_for_page(html: bytes | str) -> list[dict]:
    """Sequence-member rows with node_id, stripped text, labels[6] and
    is_text_node — one streaming parse, document order."""
    html = decode_html(html)
    if html is None:
        return []
    parsed = _parse(html, _LabelBuilder)
    rows: list[dict] = []
    for node, labels in zip(parsed.rows, parsed.labels):
        stripped = strip_ws_py(node.text)
        if node.is_text and not stripped:
            continue
        rows.append(
            {
                "node_id": node.node_id,
                "text": stripped,
                "labels": labels,
                # text members always have non-empty stripped text;
                # <ol>/<dl>/<table> members need it checked — bool(stripped)
                # covers both (extract.py F4 form)
                "is_text_node": bool(stripped),
            }
        )
    return rows


def gold_table(spark, web_pages: DataFrame) -> DataFrame:
    """(url, text_node_id, text, judgment_is_primary) — the reference's
    GoldLabels.csv shape (judgment = Primary head)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for url, html in zip(pdf["url"], pdf["html"]):
                for r in gold_rows_for_page(html):
                    if r["is_text_node"]:
                        out.append(
                            {
                                "url": url,
                                "text_node_id": r["node_id"],
                                "text": r["text"],
                                "judgment_is_primary": bool(r["labels"][0]),
                            }
                        )
            yield pd.DataFrame(
                out, columns=["url", "text_node_id", "text", "judgment_is_primary"]
            )

    return web_pages.select("url", "html").mapInPandas(
        run,
        schema="url string, text_node_id int, text string, judgment_is_primary boolean",
    )


def train_chunk_jsons(url: str, html: bytes) -> list[str]:
    """ORACLE TWIN ONLY: python json.dumps of the reference train/test
    lines incl. Labels (build_train.py:139-143). Production encoding goes
    through sources.chunks.encode_chunks_json_native (one encoder for the
    wire format); tests assert the two are byte-identical."""
    import json

    rows = gold_rows_for_page(html)
    out = []
    for i in range(0, len(rows), C.CHUNK_SIZE):
        chunk = rows[i : i + C.CHUNK_SIZE]
        rec = {
            "TokenId": [tokenize(r["text"], C.PREP_MAX_TOKEN_LEN) for r in chunk],
            "NodeIds": [r["node_id"] for r in chunk],
            "Url": [url] * len(chunk),
            "Labels": [r["labels"] for r in chunk],
        }
        out.append(json.dumps(rec, separators=(",", ":")))
    return out


def train_nodes(web_pages: DataFrame) -> DataFrame:
    """Parse stage for the training builder: one row per sequence node
    with PREPROCESSING-width (50-id) tokens AND the 6-bit label vector —
    the labels-bearing input contract of encode_chunks_json_native.
    Parsing/labeling is python (T1 must be); everything after is
    Catalyst."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for url, html in zip(pdf["url"], pdf["html"]):
                for seq, r in enumerate(gold_rows_for_page(html)):
                    out.append(
                        {
                            "url": url,
                            "seq_pos": seq,
                            "node_id": r["node_id"],
                            "token_ids": tokenize(r["text"], C.PREP_MAX_TOKEN_LEN),
                            "labels": r["labels"],
                        }
                    )
            yield pd.DataFrame(
                out, columns=["url", "seq_pos", "node_id", "token_ids", "labels"]
            )

    return web_pages.select("url", "html").mapInPandas(
        run,
        schema=(
            "url string, seq_pos int, node_id int, "
            "token_ids array<int>, labels array<int>"
        ),
    )


def build_train_chunks(web_pages: DataFrame) -> DataFrame:
    """Training JSON-line builder routed through the ONE native encoder
    (sources.chunks.encode_chunks_json_native): the python parse stage
    emits labeled node rows, the chunk grouping and JSON encoding are
    pure Catalyst to_json — byte-identical to train_chunk_jsons (tested).
    Returns (url, chunk_id, json_line)."""
    from ..sources.chunks import encode_chunks_json_native

    return encode_chunks_json_native(train_nodes(web_pages))
