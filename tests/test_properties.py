"""Hypothesis property tests for the leaf functions (SURVEY.md §5.3)."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from neuscraper_spark.config import PREP_MAX_TOKEN_LEN, STRIP_CHARS
from neuscraper_spark.functions.text import strip_ws_py, unescape_gold_py
from neuscraper_spark.html_parser import parse_nodes
from neuscraper_spark.model import tensorize_chunk
from neuscraper_spark.operators.quality import heuristics_py, langid_scores_py, pii_scrub_py, ppl_py
from neuscraper_spark.tokenizer import tokenize
from tests.tree_reference import candidate_rows, tree_rows

text_st = st.text(max_size=300)


@given(text_st)
def test_strip_ws_matches_python_strip(s):
    assert strip_ws_py(s) == s.strip(STRIP_CHARS)


@given(text_st)
def test_strip_ws_idempotent(s):
    once = strip_ws_py(s)
    assert strip_ws_py(once) == once


@given(text_st)
def test_tokenize_shape_and_structure(s):
    ids = tokenize(s)
    assert len(ids) == PREP_MAX_TOKEN_LEN
    assert ids[0] == 0  # BOS
    assert 2 in ids  # EOS somewhere
    assert all(0 <= i < 8192 for i in ids)


@given(text_st)
def test_tokenize_short_equals_truncated_long(s):
    full = tensorize_chunk([tokenize(s, 50)])
    short = tensorize_chunk([tokenize(s, 5)])
    assert np.array_equal(full[0], short[0])
    assert np.array_equal(full[1], short[1])


@given(text_st)
def test_unescape_stable(s):
    # unescaping twice == once when no re-composable tokens remain
    once = unescape_gold_py(s)
    if "#" not in once:
        assert unescape_gold_py(once) == once


@settings(max_examples=50, deadline=2000)
@given(st.text(max_size=500))
def test_parser_never_crashes(s):
    rows = parse_nodes(s)
    ids = [r.node_id for r in rows]
    assert len(ids) == len(set(ids))  # ids unique
    ref = tree_rows(s)
    if ref:
        assert ref[0][1] == 0  # root always id 0
    assert [(r.seq, r.node_id, r.tag, r.is_text, r.text) for r in rows] == candidate_rows(s)


@settings(max_examples=50, deadline=2000)
@given(st.text(alphabet=st.characters(blacklist_categories=("Cs",)), max_size=400))
def test_quality_twins_never_crash(s):
    lang, conf = langid_scores_py(s)
    assert isinstance(lang, str) and 0.0 <= conf <= 1.0
    assert ppl_py(s) > 0
    h = heuristics_py(s)
    assert isinstance(h["quality_pass"], bool)
    p = pii_scrub_py(s)
    assert isinstance(p["scrubbed_text"], str)


@given(st.lists(st.integers(0, 8191), min_size=0, max_size=60))
def test_tensorize_arbitrary_token_rows(ids):
    padded = (ids + [1] * 50)[:50]
    t_ids, masks = tensorize_chunk([padded])
    assert t_ids.shape == (384, 5)
    assert t_ids[0, 4] == 2  # EOS appended
    assert not masks[1:].any()


# ------------------------------------------------- perplexity batching

_words_st = st.lists(
    st.text(alphabet="abcdefgà'z", min_size=1, max_size=8), max_size=30
)


@settings(max_examples=40, deadline=None)
@given(st.lists(_words_st, min_size=1, max_size=6))
def test_ppl_batch_composition_invariant(word_lists):
    """ppl of a text never depends on which batch it rides in: scoring
    all texts together == scoring each alone (Arrow batch boundaries
    move with partitioning, so this is a correctness invariant, not a
    nicety)."""
    from neuscraper_spark.operators.quality import ppl_batch

    texts = [" ".join(ws) for ws in word_lists]
    together = ppl_batch(texts)
    singles = [ppl_batch([t])[0] for t in texts]
    assert together == singles


# ----------------------------------------------------------------- BPE

_bpe_words = st.lists(
    st.text(alphabet="abcdef", min_size=1, max_size=8), min_size=1, max_size=30
)


@settings(max_examples=40, deadline=None)
@given(_bpe_words, st.integers(0, 64))
def test_bpe_roundtrip_property(words, n_merges):
    """decode(encode(text)) reproduces the word sequence for any corpus
    whose alphabet the tokenizer was trained on, at any merge count."""
    from collections import Counter

    from neuscraper_spark.bpe import BPETokenizer, train_bpe, words_of

    freqs = dict(Counter(words))
    tok = BPETokenizer(
        train_bpe(freqs, n_merges), {c for w in freqs for c in w}
    )
    text = " ".join(words)
    assert tok.decode(tok.encode(text)) == " ".join(words_of(text))
    # token count never exceeds characters+1 per word and never hits UNK
    from neuscraper_spark.bpe import UNK_ID

    assert UNK_ID not in tok.encode(text)
    assert tok.n_tokens(text) <= sum(len(w) + 1 for w in words_of(text))


@settings(max_examples=40, deadline=None)
@given(_bpe_words)
def test_bpe_more_merges_never_more_tokens(words):
    from collections import Counter

    from neuscraper_spark.bpe import BPETokenizer, train_bpe

    freqs = dict(Counter(words))
    alphabet = {c for w in freqs for c in w}
    text = " ".join(words)
    counts = [
        BPETokenizer(train_bpe(freqs, n), alphabet).n_tokens(text)
        for n in (0, 8, 32, 128)
    ]
    assert counts == sorted(counts, reverse=True) or all(
        a >= b for a, b in zip(counts, counts[1:])
    )


# -------------------------------------------------------------- Z-order


@settings(max_examples=60, deadline=None)
@given(
    st.integers(0, 255), st.integers(0, 255),
    st.integers(1, 8),
)
def test_zvalue_bucket_bit_interleave_py(x, y, bits):
    """The pure-python twin of the Catalyst z-expression: interleaving
    then de-interleaving recovers each column's bucket."""
    n = 1 << bits
    bx, by = min(x, n - 1), min(y, n - 1)
    z = 0
    for i in range(bits):
        z |= ((bx >> i) & 1) << (2 * i)
        z |= ((by >> i) & 1) << (2 * i + 1)
    rx = sum(((z >> (2 * i)) & 1) << i for i in range(bits))
    ry = sum(((z >> (2 * i + 1)) & 1) << i for i in range(bits))
    assert (rx, ry) == (bx, by)
    assert 0 <= z < n * n
