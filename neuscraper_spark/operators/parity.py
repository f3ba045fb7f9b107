"""Reference interchange-format parity: the encoded-chunks JSON table.

The reference's preprocessing emits one JSON line per 384-node chunk:
``{"TokenId": [[...50 ids...]...], "NodeIds": [...], "Url": [...]}``
with compact separators (src/warc/build.py:100-104, json.dumps
separators=(',', ':')), plus the text-node CSV. extract.text_nodes
covers the CSV; this module produces the JSON side so a user of the
reference can point their existing scorer at our output.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from .. import config as C
from .extract import _page_sequence


def page_chunk_jsons(url: str, html: bytes) -> list[str]:
    """Pure-python per-page chunk JSON lines (shared with tests)."""
    import json

    rows = _page_sequence(html, max_len=C.PREP_MAX_TOKEN_LEN)
    node_ids = [r["node_id"] for r in rows]
    token_rows = [r["token_ids"] for r in rows]
    out = []
    for i in range(0, len(node_ids), C.CHUNK_SIZE):
        chunk = {
            "TokenId": token_rows[i : i + C.CHUNK_SIZE],
            "NodeIds": node_ids[i : i + C.CHUNK_SIZE],
            "Url": [url] * len(node_ids[i : i + C.CHUNK_SIZE]),
        }
        out.append(json.dumps(chunk, separators=(",", ":")))
    return out


def encode_chunks_json(web_pages: DataFrame) -> DataFrame:
    """web_pages -> one row per chunk with the reference's JSON line."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            urls, lines = [], []
            for url, html in zip(pdf["url"], pdf["html"]):
                for line in page_chunk_jsons(url, html):
                    urls.append(url)
                    lines.append(line)
            yield pd.DataFrame({"url": urls, "json_line": lines})

    return web_pages.select("url", "html").mapInPandas(
        run, schema="url string, json_line string"
    )
