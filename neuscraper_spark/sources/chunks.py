"""S5 — encoded-chunk JSON reader + drop-in scoring (inference path).

The reference user's existing data is ``encoded/*.json`` chunk files —
one JSON line per 384-node chunk ``{"TokenId": [[50 ids]...],
"NodeIds": [...], "Url": [...]}`` (written by src/warc/build.py:100-104,
loaded by src/scraper/inference.py:13-28 / processing.py:24-34) — which
``scripts/inference.sh`` scores into the prediction TSV
``(Url, TextNodeId, Task)`` at Primary@0.9 (inference.py:77-144).

This module is that drop-in: a schema'd PERMISSIVE ``spark.read.json``
over a file/directory/glob (S4: Spark's reader accepts all three, the
reference's directory file-list scan at src/scraper/trainer.py:207-211
is subsumed), and one mapInPandas scoring stage sharing the broadcast
weights with the main pipeline.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import config as C

# Labels is present in train files (build_train.py:139-143) and absent in
# eval files — PERMISSIVE mode leaves it NULL there.
CHUNK_SCHEMA = (
    "TokenId array<array<int>>, NodeIds array<int>, Url array<string>, "
    "Labels array<array<int>>"
)


def read_encoded_chunks(spark: SparkSession, path: str) -> DataFrame:
    """Schema'd JSON-lines reader for encoded chunk files.

    `path` may be a single file, a directory, or a glob — S4/S5. An
    explicit schema skips Spark's inference pass (one read, not two) and
    PERMISSIVE mode nulls malformed lines instead of failing the job.
    """
    return (
        spark.read.schema(CHUNK_SCHEMA)
        .option("mode", "PERMISSIVE")
        .json(path)
    )


def score_encoded_chunks(
    spark: SparkSession,
    chunks: DataFrame,
    task: str = "Primary",
    threshold: float = C.PRIMARY_THRESHOLD,
) -> DataFrame:
    """Encoded chunks -> prediction rows (url, text_node_id, task).

    Mirrors inference.py:109-128: score > threshold, node id 0 removed
    (the pad sentinel), per-url set semantics (the reference accumulates
    into a set; dropDuplicates reproduces it — the shuffle moves only
    (url, int) prediction pairs, negligible at any scale).
    """
    from ..model import score_chunks, shm_cache_weights
    from ..operators.extract import _weights_broadcast

    bc = _weights_broadcast(spark)
    idx = C.TASKS.index(task)
    thr = float(threshold)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        w = shm_cache_weights(bc.value, tag=C.WEIGHTS_TAG)
        for pdf in batches:
            if pdf.empty:
                continue
            chunk_tokens = [
                [list(row) for row in rows] if rows is not None else []
                for rows in pdf["TokenId"]
            ]
            scores = score_chunks(chunk_tokens, w)
            # vectorized threshold: one flat (chunk_url, node_id) table per
            # Arrow batch, the predicate as a numpy mask — no per-node loop
            ok = [
                node_ids is not None and us is not None and len(us) > 0
                for node_ids, us in zip(pdf["NodeIds"], pdf["Url"])
            ]
            counts = np.fromiter(
                (min(len(n), C.CHUNK_SIZE) if k else 0
                 for n, k in zip(pdf["NodeIds"], ok)),
                dtype=np.int64, count=len(pdf),
            )
            flat_url = np.repeat(
                np.array([us[0] if k else "" for us, k in zip(pdf["Url"], ok)],
                         dtype=object),
                counts,
            )
            flat_nid = (
                np.concatenate(
                    [np.asarray(n[:c], dtype=np.int64)
                     for n, c in zip(pdf["NodeIds"], counts) if c]
                )
                if counts.sum()
                else np.zeros(0, dtype=np.int64)
            )
            real = np.arange(C.CHUNK_SIZE)[None, :] < counts[:, None]
            sc = scores[:, :, idx][real]
            kept = np.flatnonzero((sc > thr) & (flat_nid != 0))
            yield pd.DataFrame(
                {"url": flat_url[kept], "text_node_id": flat_nid[kept].astype(np.int32)}
            )

    out = chunks.mapInPandas(run, schema="url string, text_node_id int")
    return out.dropDuplicates(["url", "text_node_id"]).withColumn(
        "task", F.lit(task)
    )


# ------------------------------------------------------------- C8 (native)


def prep_nodes(web_pages: DataFrame) -> DataFrame:
    """Parse stage emitting PREPROCESSING-width (50-id) token rows —
    the input contract of encode_chunks_json_native. Parsing is python
    (T1 must be), everything after is Catalyst."""
    from ..operators.extract import _page_sequence

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for url, html in zip(pdf["url"], pdf["html"]):
                for r in _page_sequence(html, max_len=C.PREP_MAX_TOKEN_LEN):
                    r["url"] = url
                    out.append(r)
            yield pd.DataFrame(out, columns=["url", "seq_pos", "node_id", "token_ids"])

    return web_pages.select("url", "html").mapInPandas(
        run, schema="url string, seq_pos int, node_id int, token_ids array<int>"
    )


def encode_chunks_json_native(nodes: DataFrame) -> DataFrame:
    """C8 — chunk JSON lines with NATIVE to_json, no Python in the encode.

    Input is a node table with 50-id token rows (``prep_nodes``, or
    labels-bearing nodes); the chunk grouping and
    the JSON encoding are pure Catalyst. Byte-compatible with the
    reference's json.dumps(separators=(',', ':')) (build.py:102-103):
    struct field order pins key order, to_json emits compact separators.
    """
    has_labels = "labels" in nodes.columns
    per_node = F.struct(
        "seq_pos",
        "node_id",
        "token_ids",
        *(["labels"] if has_labels else []),
    )
    grouped = (
        nodes.withColumn("chunk_id", (F.col("seq_pos") / C.CHUNK_SIZE).cast("int"))
        .groupBy("url", "chunk_id")
        .agg(F.array_sort(F.collect_list(per_node)).alias("ns"))
    )
    payload = F.struct(
        F.transform("ns", lambda n: n["token_ids"]).alias("TokenId"),
        F.transform("ns", lambda n: n["node_id"]).alias("NodeIds"),
        F.transform("ns", lambda n: F.col("url")).alias("Url"),
        *(
            [F.transform("ns", lambda n: n["labels"]).alias("Labels")]
            if has_labels
            else []
        ),
    )
    return grouped.select(
        "url", "chunk_id", F.to_json(payload).alias("json_line")
    )
