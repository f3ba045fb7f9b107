"""Neural content-extraction pipeline, Spark-first.

Rebuilds the reference's preprocessing + scoring + assembly chain
(src/warc/build.py -> src/scraper/commoncrawl.py -> src/warc/get_text.py;
SURVEY.md §3.1-3.2) as a declarative DataFrame plan:

    web_pages ──parse_chunks (mapInPandas, T1/T2/F4/F5/T4/T5/T3)──> chunks
    chunks ──score_nodes (mapInPandas, M1, broadcast weights)──> scored
    scored ──filter θ=0.9, node_id!=0, text!='' (F6/F9/J1-fused)──> kept
    kept ──groupBy(url) ordered concat (A1/W1) [the ONE shuffle]──> extracted

Scale notes (100 TB design):

- Exactly **one shuffle**, keyed by url, carrying only the kept
  (url, node_id, text) rows. Chunking is narrow (``parse_chunks``):
  ``chunk_id`` derives per page, so the r1-r4 ``groupBy(url, chunk_id)``
  exchange moved bytes that were already task-local — the sf1 event log
  measured it at 136% of the corpus' uncompressed html payload
  (BENCH r5).
- The reference's J1 join
  (predictions ⟕ text_nodes on (Url, TextNodeId), get_text.py:6-8) is
  *fused away*: node text rides through the chunk structs, and
  ``text != ''`` reproduces the join+dropna semantics exactly — the
  non-empty sequence members are precisely the text_nodes side
  (SURVEY.md §2.2 F4; an empty <ol> can be predicted but never joins).
  J1 remains available as a standalone operator for parity testing.
- The 100KB+ ``html`` blobs are dropped at the first ``select`` after
  parsing — they never enter a shuffle.
- Ordered concat uses array_sort *inside* the aggregation (shuffle-order
  independent), never a global orderBy: descending node_id == document
  order (SURVEY.md §1.b; get_text.py:36-37).
- Model weights are a SparkContext broadcast, opened once per python
  worker (the twin of one checkpoint load per GPU,
  src/scraper/inference.py:46-74).
- ``salt_by_host`` spreads zipf-skewed hosts across partitions before
  wide stages; AQE skew-join handles the rest (session.py).

``extract_fused`` is the zero-shuffle variant: parse+chunk+score+
assemble per page inside one mapInPandas (the reference's
embarrassingly-parallel Pool(64) topology, src/warc/build.py:192-193) —
used when no per-stage materialization is needed; plans are verified
equal by tests/test_pipeline.py. ``extract_curate_fused``, the
production plan, runs the whole quality chain (``quality.curate_batch``)
in the same worker, so the plan is that one Python stage with no
Catalyst expression after it.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import config as C
from ..functions.encoding import decode_html
from ..functions.text import strip_ws_py
from ..html_parser import parse_nodes as _parse_html
from ..model import load_weights, score_chunks, shm_cache_weights
from ..tokenizer import tokenize

CHUNKS_DDL = (
    "url string, chunk_id int, "
    "nodes array<struct<seq_pos:int,node_id:int,token_ids:array<int>,text:string>>"
)
SCORED_DDL = "url string, node_id int, text string, scores array<float>"
EXTRACTED_DDL = "url string, text string"


def _page_sequence(html_bytes: bytes, max_len: int = C.MODEL_MAX_TOKEN_LEN) -> list[dict]:
    """One page -> its model-sequence rows ``seq_pos, node_id, text,
    token_ids`` — the package's only page -> sequence walk.

    Reference semantics (src/warc/build.py:74-98): iterate nodes in
    document order; text nodes join the sequence iff stripped text is
    non-empty; <ol>/<dl>/<table> element nodes always join. The CSV
    text-node side (build.py:155-165) is the members with ``text != ""``.

    ``max_len`` is the token row width: the MODEL_MAX_TOKEN_LEN the
    scorer reads (default), or the reference's PREP_MAX_TOKEN_LEN for
    the encoded-chunk JSON. Tokenizing straight to the model width is
    provably identical to tokenizing to 50 ids and truncating
    (processing.py:50) — BOS + first 3 pieces + EOS/PAD agree
    case-by-case; pinned by tests/test_model.py.
    """
    html = decode_html(html_bytes)
    if html is None:
        # F2: undecodable/binary page -> dropped (src/warc/build.py:124-131)
        return []
    rows = []
    for node in _parse_html(html):
        stripped = strip_ws_py(node.text)
        if node.is_text and not stripped:
            continue
        rows.append(
            {
                "seq_pos": len(rows),
                "node_id": node.node_id,
                "text": stripped,
                "token_ids": tokenize(stripped, max_len=max_len),
            }
        )
    return rows


def parse_chunks(web_pages: DataFrame) -> DataFrame:
    """web_pages -> chunk rows DIRECTLY (T1/T2/T3 in one narrow stage).

    ``chunk_id = seq_pos // CHUNK_SIZE`` is a per-page derivation and a
    page is one input row, so every node of a chunk is born in the same
    task, already in document order: the ``groupBy(url, chunk_id)``
    route (r1-r4) exchanged bytes it could have kept local.
    Event-log evidence at sf1 (BENCH r5): the grouped route shuffled
    785 MB — 136% of the corpus' uncompressed html payload — because
    every node's text + token ids crossed the wire before scoring.
    Emitting chunks narrow removes that exchange entirely; the staged
    pipeline keeps ONE url-keyed shuffle (kept-text assembly) and its
    exchange carries only the ~kept fraction of extracted text.
    """
    cols = web_pages.select("url", "html")
    keep_ids = C.MODEL_MAX_TOKEN_LEN - 1

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            urls: list = []
            cids: list = []
            nodes_col: list = []
            for url, html in zip(pdf["url"], pdf["html"]):
                rows = _page_sequence(html)
                for start in range(0, len(rows), C.CHUNK_SIZE):
                    chunk = rows[start : start + C.CHUNK_SIZE]
                    urls.append(url)
                    cids.append(start // C.CHUNK_SIZE)
                    nodes_col.append(
                        [
                            {
                                "seq_pos": r["seq_pos"],
                                "node_id": r["node_id"],
                                "token_ids": r["token_ids"][:keep_ids],
                                "text": r["text"],
                            }
                            for r in chunk
                        ]
                    )
            if urls:  # an all-empty batch would infer float64 columns
                yield pd.DataFrame({"url": urls, "chunk_id": cids, "nodes": nodes_col})

    return cols.mapInPandas(parse, schema=CHUNKS_DDL)


def text_nodes(chunks: DataFrame) -> DataFrame:
    """The reference's text-node CSV side (src/warc/build.py:155-165):
    the sequence members of ``parse_chunks`` with non-empty text."""
    n = F.col("n")
    return (
        chunks.select("url", F.explode("nodes").alias("n"))
        .filter(n["text"] != "")
        .select("url", n["node_id"].alias("text_node_id"), n["text"].alias("text"))
    )


_WEIGHTS_BC = {}


def _weights_broadcast(spark: SparkSession):
    key = id(spark)
    if key not in _WEIGHTS_BC:
        _WEIGHTS_BC[key] = spark.sparkContext.broadcast(load_weights())
    return _WEIGHTS_BC[key]


def score_nodes(spark: SparkSession, chunks: DataFrame) -> DataFrame:
    """Chunks -> per-node scores (M1): iterator-of-pandas mapInPandas,
    weights opened once per task from the broadcast, NumPy forward pass,
    one output row per real node with all 6 task scores."""
    bc = _weights_broadcast(spark)

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        w = shm_cache_weights(bc.value, tag=C.WEIGHTS_TAG)
        for pdf in batches:
            if pdf.empty:
                continue
            all_nodes = [nodes[: C.CHUNK_SIZE] for nodes in pdf["nodes"]]
            chunk_tokens = [[n["token_ids"] for n in nodes] for nodes in all_nodes]
            scores = score_chunks(chunk_tokens, w)  # [n, 384, 6]
            # vectorized row assembly: no per-node interpreter loop —
            # urls via np.repeat, the score rows via one 2-D mask gather
            counts = np.fromiter(
                (len(ns) for ns in all_nodes), dtype=np.int64, count=len(all_nodes)
            )
            urls = np.repeat(pdf["url"].to_numpy(), counts)
            node_ids = [n["node_id"] for ns in all_nodes for n in ns]
            texts = [n["text"] for ns in all_nodes for n in ns]
            real = np.arange(C.CHUNK_SIZE)[None, :] < counts[:, None]
            out_scores = scores[real].tolist()  # [total_nodes, 6] in one call
            yield pd.DataFrame(
                {"url": urls, "node_id": node_ids, "text": texts, "scores": out_scores}
            )

    return chunks.mapInPandas(score, schema=SCORED_DDL)


def kept_nodes(
    scored: DataFrame,
    task: str = "Primary",
    threshold: float = C.PRIMARY_THRESHOLD,
) -> DataFrame:
    """F6 threshold + F9 node-0 scrub + fused J1/F7 (text!='' == inner
    join against text_nodes, see module docstring)."""
    idx = C.TASKS.index(task)
    return scored.filter(
        (F.col("scores")[idx] > F.lit(threshold))
        & (F.col("node_id") != 0)
        & (F.col("text") != "")
    )


def ordered_concat_expr():
    """A1 — THE flagship agg: descending-node_id ''-join, shuffle-safe."""
    return F.array_join(
        F.transform(
            F.reverse(F.array_sort(F.collect_list(F.struct("node_id", "text")))),
            lambda x: x["text"],
        ),
        "",
    )


def assemble_text(kept: DataFrame) -> DataFrame:
    return kept.groupBy("url").agg(ordered_concat_expr().alias("text"))


def extract_pipeline(
    spark: SparkSession,
    web_pages: DataFrame,
    threshold: float = C.PRIMARY_THRESHOLD,
) -> DataFrame:
    """web_pages -> extracted(url, text). The staged plan: ONE url-keyed
    shuffle (kept-text assembly) — chunking is narrow (parse_chunks),
    so the only exchange carries kept (url, node_id, text) rows."""
    chunks = parse_chunks(web_pages)
    scored = score_nodes(spark, chunks)
    return assemble_text(kept_nodes(scored, threshold=threshold))


# ---------------------------------------------------------------- fused path


def extract_fused(
    spark: SparkSession,
    web_pages: DataFrame,
    threshold: float = C.PRIMARY_THRESHOLD,
    with_langid_ppl: bool = False,
    ppl_tables=None,
) -> DataFrame:
    """Zero-shuffle variant: the whole per-page chain inside one Arrow UDF.

    Chunks are still batched *across* pages within each Arrow batch so
    the NumPy forward pass sees full micro-batches — the same batching
    economy as the reference's DataLoader(batch_size=256).

    ``with_langid_ppl=True`` also appends langid and perplexity
    (``quality.LANGID_PPL_DDL``) in the same worker; the whole quality
    chain in one worker is ``extract_curate_fused``.
    """
    if not with_langid_ppl:
        return _fused_stage(spark, web_pages, threshold)
    from .quality import LANGID_PPL_DDL, langid_ppl_batch

    return _fused_stage(spark, web_pages, threshold, langid_ppl_batch, LANGID_PPL_DDL, ppl_tables)


def extract_curate_fused(
    spark: SparkSession,
    web_pages: DataFrame,
    threshold: float = C.PRIMARY_THRESHOLD,
    ppl_tables=None,
) -> DataFrame:
    """The whole flagship as ONE python stage: parse, score, assemble,
    then ``quality.curate_batch`` (langid, perplexity, heuristics, PII
    scrub, toxicity, keep) in the same worker, with no Catalyst
    expression after it. Byte-identical to
    quality_chain(extract_pipeline(...)), whose tail is Catalyst-native —
    asserted on all columns in tests."""
    from .quality import CURATE_DDL, curate_batch

    return _fused_stage(spark, web_pages, threshold, curate_batch, CURATE_DDL, ppl_tables)


def _fused_stage(
    spark: SparkSession,
    web_pages: DataFrame,
    threshold: float,
    kernel=None,
    kernel_ddl: str = "",
    ppl_tables=None,
) -> DataFrame:
    """The fused mapInPandas stage: (url, text) per page with output,
    plus the columns ``kernel(texts, ppl_tables)`` returns, typed by
    ``kernel_ddl``."""
    bc = _weights_broadcast(spark)
    thr = float(threshold)
    if kernel is not None:
        from .quality import _ppl_tables

        bc_ppl = spark.sparkContext.broadcast(
            ppl_tables if ppl_tables is not None else _ppl_tables()
        )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        w = shm_cache_weights(bc.value, tag=C.WEIGHTS_TAG)
        if kernel is not None:
            tables = bc_ppl.value
        for pdf in batches:
            page_rows = [(u, _page_sequence(h)) for u, h in zip(pdf["url"], pdf["html"])]
            # flatten all chunks in this Arrow batch
            chunk_tokens, chunk_meta = [], []  # meta: (page_idx, [rows])
            for pi, (_, rows) in enumerate(page_rows):
                for ci in range(0, len(rows), C.CHUNK_SIZE):
                    chunk = rows[ci : ci + C.CHUNK_SIZE]
                    chunk_tokens.append([r["token_ids"] for r in chunk])
                    chunk_meta.append((pi, chunk))
            scores = score_chunks(chunk_tokens, w)
            # vectorized keep + assembly: one flat node table for the
            # whole Arrow batch, the threshold test as a numpy mask, the
            # per-page descending-node_id order via one lexsort — no
            # per-node interpreter loop after the forward pass
            counts = np.fromiter(
                (len(c) for _, c in chunk_meta), dtype=np.int64, count=len(chunk_meta)
            )
            flat_pi = np.repeat(
                np.fromiter((pi for pi, _ in chunk_meta), dtype=np.int64,
                            count=len(chunk_meta)),
                counts,
            )
            flat_text = [r["text"] for _, c in chunk_meta for r in c]
            flat_nid = np.fromiter(
                (r["node_id"] for _, c in chunk_meta for r in c),
                dtype=np.int64, count=len(flat_text),
            )
            has_text = np.fromiter(
                (bool(t) for t in flat_text), dtype=bool, count=len(flat_text)
            )
            real = np.arange(C.CHUNK_SIZE)[None, :] < counts[:, None]
            prim = scores[:, :, 0][real] if len(chunk_meta) else np.zeros(0)
            keep_idx = np.flatnonzero((prim > thr) & (flat_nid != 0) & has_text)
            # sort kept nodes by (page, node_id desc); node ids are unique
            # per page (LIFO parser ids), so this equals the reference's
            # sorted(..., reverse=True) over (node_id, text) tuples
            order = keep_idx[np.lexsort((-flat_nid[keep_idx], flat_pi[keep_idx]))]
            opi = flat_pi[order]
            starts = np.flatnonzero(np.r_[True, opi[1:] != opi[:-1]]) if len(opi) else np.zeros(0, dtype=np.int64)
            ends = np.r_[starts[1:], len(opi)] if len(opi) else starts
            urls = [page_rows[opi[s]][0] for s in starts]
            texts = [
                "".join(flat_text[i] for i in order[s:e])
                for s, e in zip(starts, ends)
            ]
            cols = kernel(texts, tables) if kernel is not None else {}
            yield pd.DataFrame({"url": urls, "text": texts, **cols})

    schema = EXTRACTED_DDL + (", " + kernel_ddl if kernel is not None else "")
    return web_pages.select("url", "html").mapInPandas(run, schema=schema)


# ------------------------------------------------------- parity-shaped views


def predictions(kept: DataFrame, task: str = "Primary") -> DataFrame:
    """Reference TSV shape (Url, TextNodeId, Task) — inference.py:143-144."""
    return kept.select(
        "url", F.col("node_id").alias("text_node_id"), F.lit(task).alias("task")
    )


def threshold_sweep(scored: DataFrame, thresholds=C.THRESHOLD_SWEEP) -> DataFrame:
    """M2 — scores computed once, every (url, node, task, θ) prediction
    materialized by cheap native explodes (same economy as
    src/scraper/inference.py:78,109-128: one forward pass, 48 filters)."""
    tasks = F.array(*[F.lit(t) for t in C.TASKS])
    thrs = F.array(*[F.lit(float(t)) for t in thresholds])
    return (
        scored.filter(F.col("node_id") != 0)
        .select(
            "url", "node_id",
            F.posexplode(F.col("scores")).alias("task_idx", "score"),
        )
        .withColumn("task", tasks[F.col("task_idx")])
        .select("url", "node_id", "task", F.explode(thrs).alias("threshold"), "score")
        .filter(F.col("score") > F.col("threshold"))
        .select("url", "node_id", "task", "threshold")
    )
