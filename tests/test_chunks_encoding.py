"""F2 decode chain, S5 encoded-chunk reader/scorer round-trip, C8 native
JSON encoding byte-compat."""

import json

import pandas as pd
import pytest
from pyspark.sql import functions as F

from neuscraper_spark import config as C
from neuscraper_spark.functions.encoding import decode_html
from neuscraper_spark.operators.extract import _page_sequence, parse_chunks, score_nodes
from neuscraper_spark.operators.parity import encode_chunks_json, page_chunk_jsons
from neuscraper_spark.sources.chunks import (
    encode_chunks_json_native,
    prep_nodes,
    read_encoded_chunks,
    score_encoded_chunks,
)


# ----------------------------------------------------------------- F2 decode

BODY = "<html><body><p>Café déjà vu résumé</p></body></html>"


def test_decode_utf8():
    assert decode_html(BODY.encode("utf-8")) == BODY


def test_decode_utf8_bom():
    assert decode_html(b"\xef\xbb\xbf" + BODY.encode("utf-8")) == BODY


def test_decode_utf16_bom():
    assert decode_html(BODY.encode("utf-16")) == BODY


def test_decode_latin1_fallback():
    raw = BODY.encode("latin-1")  # é = 0xE9, invalid utf-8
    assert decode_html(raw) == BODY


def test_decode_meta_charset():
    raw = (
        b'<html><head><meta charset="windows-1252"></head>'
        b"<body><p>90\x96100</p></body></html>"  # 0x96 = en-dash in cp1252
    )
    out = decode_html(raw)
    assert out is not None and "–" in out  # en-dash via declared charset


def test_decode_binary_dropped():
    assert decode_html(b"\x00\x01\x02PK\x03\x04" * 100) is None


def test_decode_none_and_str_passthrough():
    assert decode_html(None) is None
    assert decode_html("already text") == "already text"


def test_page_sequence_keeps_latin1_page():
    # r1 gap: strict-utf-8 dropped every latin-1 page the reference keeps
    html = (
        "<html><body><p>Le caf\xe9 fran\xe7ais est tr\xe8s bon et la ville "
        "est belle aujourd'hui</p></body></html>"
    )
    rows = _page_sequence(html.encode("latin-1"))
    assert rows, "latin-1 page must parse"
    assert any("café" in r["text"] for r in rows)
    assert _page_sequence(b"\x00binary\x00junk") == []


def test_parse_nodes_spark_matches_py_on_mixed_encodings(spark):
    pages = [
        ("u0", BODY.encode("utf-8")),
        ("u1", BODY.encode("latin-1")),
        ("u2", b"\x00\x01binary"),
        ("u3", BODY.encode("utf-16")),
    ]
    df = spark.createDataFrame(pd.DataFrame(pages, columns=["url", "html"]))
    got = parse_chunks(df).select("url").toPandas()
    want_urls = {u for u, h in pages if _page_sequence(h)}
    assert set(got["url"]) == want_urls == {"u0", "u1", "u3"}


def test_parse_chunks_batch_without_sequence_nodes(spark):
    # an Arrow batch whose pages all yield no sequence node (binary,
    # empty markup) emits no chunk rows instead of failing the task
    pages = [("u0", b"\x00\x01binary"), ("u1", b"<html></html>")]
    df = spark.createDataFrame(pd.DataFrame(pages, columns=["url", "html"])).coalesce(1)
    assert parse_chunks(df).count() == 0


# ------------------------------------------------- S5 reader/scorer roundtrip


@pytest.fixture(scope="module")
def wp(spark):
    from neuscraper_spark.corpus import web_pages_df

    return web_pages_df(spark, seed=11, n_pages=12, partitions=2).cache()


def test_encoded_chunk_roundtrip_scores_match_pipeline(spark, wp, tmp_path):
    # write the reference-format encoded JSON, read it back with the
    # schema'd reader, score -> must equal the main pipeline's threshold
    # predictions (same model, same chunks) modulo the J1 text filter.
    enc_dir = str(tmp_path / "encoded")
    encode_chunks_json(wp).select("json_line").write.mode("overwrite").text(enc_dir)

    chunks = read_encoded_chunks(spark, enc_dir)
    got = (
        score_encoded_chunks(spark, chunks, task="Primary", threshold=C.PRIMARY_THRESHOLD)
        .select("url", "text_node_id")
        .toPandas()
    )
    scored = score_nodes(spark, parse_chunks(wp))
    want = (
        scored.filter(
            (F.col("scores")[0] > C.PRIMARY_THRESHOLD) & (F.col("node_id") != 0)
        )
        .select("url", F.col("node_id").alias("text_node_id"))
        .toPandas()
    )
    got_set = set(map(tuple, got.values.tolist()))
    want_set = set(map(tuple, want.values.tolist()))
    assert got_set == want_set and len(got_set) > 0


def test_reader_permissive_on_garbage_lines(spark, tmp_path):
    p = tmp_path / "enc.json"
    good = json.dumps({"TokenId": [[1, 2]], "NodeIds": [5], "Url": ["u"]})
    p.write_text(good + "\nnot json at all\n")
    df = read_encoded_chunks(spark, str(p))
    rows = df.collect()
    assert len(rows) == 2  # malformed line -> all-null row, job survives
    ok = [r for r in rows if r["NodeIds"] is not None]
    assert len(ok) == 1 and list(ok[0]["NodeIds"]) == [5]


# --------------------------------------------------------- C8 native to_json


def test_native_chunk_json_byte_identical(spark, wp):
    got = (
        encode_chunks_json_native(prep_nodes(wp))
        .orderBy("url", "chunk_id")
        .select("json_line")
        .toPandas()["json_line"]
        .tolist()
    )
    pages = wp.select("url", "html").orderBy("url").collect()
    want = []
    for r in pages:
        want.extend(page_chunk_jsons(r["url"], r["html"]))
    assert got == want
    rec = json.loads(got[0])
    assert list(rec) == ["TokenId", "NodeIds", "Url"]
    assert all(len(row) == C.PREP_MAX_TOKEN_LEN for row in rec["TokenId"])
