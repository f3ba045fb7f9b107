"""Dedup operators: exactness, near-dup recall, estimator quality."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from neuscraper_spark.operators import dedup as D


BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches from "
    "the warm windowsill and the birds sing in the garden all day long"
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, BASE),
        (1, BASE),  # exact dup of 0
        (2, BASE.replace("lazy", "sleepy")),  # near dup of 0
        (3, BASE.replace("quick", "fast").replace("garden", "yard")),  # near dup
        (4, "completely different content about spark query engines and shuffles"),
        (5, "another unrelated document mentioning benchmarks and parquet files"),
        (6, BASE + " with a small suffix appended here"),  # near dup
    ]
    return spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))


def test_exact_dedup(spark, docs):
    out = D.exact_dedup(docs).toPandas()
    dup_group = out[out["n_dups"] == 2]
    assert len(dup_group) == 1 and dup_group["keep_id"].iloc[0] == 0
    kept = D.exact_dedup_keep(docs).toPandas()
    assert sorted(kept["doc_id"]) == [0, 2, 3, 4, 5, 6]


def test_ngram_jaccard_finds_near_dups(spark, docs):
    pairs = D.ngram_jaccard_pairs(docs, threshold=0.3).toPandas()
    found = {tuple(r) for r in pairs[["id_a", "id_b"]].values.tolist()}
    assert (0, 1) in found  # exact dup -> jaccard 1.0
    assert (0, 2) in found and (0, 6) in found
    assert (4, 5) not in found
    j01 = pairs[(pairs.id_a == 0) & (pairs.id_b == 1)]["jaccard"].iloc[0]
    assert j01 == 1.0


def test_ngram_df_cap_prunes_ubiquitous_grams(spark):
    # Every doc opens with the same stop-phrase gram; only its grams
    # above the cap are pruned from the JOIN side, so (a) docs whose
    # only overlap is the stop-phrase stop pairing, and (b) per-doc
    # sizes stay exact (jaccard is a lower bound, not rescaled).
    stop = "click here now"
    rows = [(i, f"{stop} unique tail number {i} item{i} thing{i} stuff{i}") for i in range(6)]
    docs = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    uncapped = D.ngram_jaccard_pairs(docs, threshold=0.0, df_cap=1000).toPandas()
    assert len(uncapped) == 15  # all C(6,2) pairs share the stop gram
    capped = D.ngram_jaccard_pairs(docs, threshold=0.0, df_cap=3).toPandas()
    assert len(capped) == 0  # stop gram df=6 > 3 -> no candidates at all


def test_minhash_estimates_jaccard(spark, docs):
    pairs = D.minhash_lsh_pairs(docs, threshold=0.3).toPandas()
    found = {tuple(r[:2]): r[2] for r in pairs[["id_a", "id_b", "est_jaccard"]].values.tolist()}
    assert found.get((0, 1)) == 1.0  # exact dup: identical signatures
    assert (0, 2) in found  # near dup caught by banding
    exact = D.ngram_jaccard_pairs(docs, n=2, threshold=0.0).toPandas()
    # estimator within 0.25 of exact word-2gram jaccard for caught pairs
    ex = {tuple(r[:2]): r[2] for r in exact[["id_a", "id_b", "jaccard"]].values.tolist()}
    for pair, est in found.items():
        if pair in ex:
            assert abs(est - ex[pair]) < 0.35, (pair, est, ex[pair])


def test_minhash_deterministic(spark, docs):
    a = D.minhash_signatures(docs).toPandas().set_index("id")["sig"].map(tuple).to_dict()
    b = D.minhash_signatures(docs).toPandas().set_index("id")["sig"].map(tuple).to_dict()
    assert a == b


def test_simhash_near_pairs(spark, docs):
    pairs = D.simhash_near_pairs(docs, max_hamming=12).toPandas()
    found = {tuple(r) for r in pairs[["id_a", "id_b"]].values.tolist()}
    assert (0, 1) in found  # identical text -> hamming 0
    h01 = pairs[(pairs.id_a == 0) & (pairs.id_b == 1)]["hamming"].iloc[0]
    assert h01 == 0
    assert (0, 2) in found  # one-word change -> small hamming


def test_simhash_vectorized_matches_scalar(spark, docs):
    """The batched FNV-1a / reduceat path must be bit-identical to the
    per-word scalar reference (hash_word + the original accumulation)."""
    import re

    import numpy as np

    words = ["alpha", "βeta", "naïve", "x", "committee", "09'z"]
    vec = D._fnv1a_words_vec(words)
    assert [int(v) for v in vec] == [D.hash_word(w) for w in words]
    # memory-bounded grouped path (tiny budget forces length-sorted
    # groups, incl. a pathological long token) is bit-identical too
    words2 = words + ["z" * 5000, "mid", "a" * 40]
    vec2 = D._fnv1a_words_vec(words2, cell_budget=64)
    assert [int(v) for v in vec2] == [D.hash_word(w) for w in words2]

    word_re = re.compile(r"[a-z0-9à-ÿ']+")

    def scalar_simhash(text: str) -> int:
        ws = word_re.findall((text or "").lower())
        acc = np.zeros(D.SIMHASH_BITS, dtype=np.int64)
        for w in ws:
            h = np.uint64(D.hash_word(w))
            bits = (h >> np.arange(D.SIMHASH_BITS, dtype=np.uint64)) & np.uint64(1)
            acc += np.where(bits.astype(bool), 1, -1)
        sig = int(((acc > 0).astype(np.uint64) << np.arange(D.SIMHASH_BITS, dtype=np.uint64)).sum(dtype=np.uint64))
        return sig - (1 << 64) if sig >= (1 << 63) else sig

    got = D.simhash_signatures(docs).toPandas().set_index("id")["simhash"].to_dict()
    for row in docs.toPandas().itertuples():
        assert got[row.doc_id] == scalar_simhash(row.text), row.doc_id


def test_connected_components_transitive(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (8, 9), (1, 3)], "id_a long, id_b long"
    )
    cc = D.connected_components(pairs).toPandas().set_index("id")["component"].to_dict()
    assert cc == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5, 8: 8, 9: 8}


def test_connected_components_long_chain(spark):
    # diameter > 1 iteration: a 12-node path collapses to one component
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "id_a long, id_b long"
    )
    cc = D.connected_components(pairs).toPandas()
    assert set(cc["component"]) == {0} and len(cc) == 13


def test_dedup_keep_representatives(spark, docs):
    pairs = D.ngram_jaccard_pairs(docs, threshold=0.3).select("id_a", "id_b")
    kept = D.dedup_keep_representatives(docs, pairs).toPandas()
    # docs 0,1,2,3,6 are one near-dup cluster (0 is the representative);
    # 4 and 5 are unpaired and stay
    assert sorted(kept["doc_id"]) == [0, 4, 5]


def test_embedding_neardup(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0] * 16),
        (1, [0.999, 0.01, 0.0, 0.0] * 16),  # near dup of 0
        (2, [0.0, 1.0, 0.0, 0.0] * 16),     # orthogonal
        (3, [-1.0, 0.0, 0.0, 0.0] * 16),    # opposite
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = D.embedding_neardup_pairs(emb, threshold=0.95).toPandas()
    assert {tuple(r) for r in pairs[["id_a", "id_b"]].values.tolist()} == {(0, 1)}
    # the LSH scale path finds the same pair set at this threshold
    lsh = D.embedding_neardup_lsh(emb, threshold=0.95).toPandas()
    assert {tuple(r) for r in lsh[["id_a", "id_b"]].values.tolist()} == {(0, 1)}


def test_connected_components_nonconvergence_raises(spark):
    """A cluster deeper than max_iter must FAIL LOUD (partial labels are
    wrong labels): a 40-node chain has diameter 39, so plain min-label
    propagation cannot converge in 12 rounds."""
    chain = [(i, i + 1) for i in range(39)]
    pairs = spark.createDataFrame(chain, "id_a long, id_b long")
    with pytest.raises(RuntimeError, match="did not converge"):
        D.connected_components(pairs, max_iter=12)


def test_connected_components_doubling_deep_graphs(spark):
    """Pointer doubling converges in O(log diameter): the same 40-node
    chain (diameter 39) and a 32-node cycle both resolve within 8
    rounds — far below their diameters — with correct min labels."""
    chain = [(i, i + 1) for i in range(39)]
    pairs = spark.createDataFrame(chain, "id_a long, id_b long")
    cc = D.connected_components_doubling(pairs, max_iter=8).toPandas()
    assert set(cc["component"]) == {0} and len(cc) == 40

    cyc = [(i, (i + 1) % 32) for i in range(32)]
    pairs = spark.createDataFrame(cyc, "id_a long, id_b long")
    cc = D.connected_components_doubling(pairs, max_iter=8).toPandas()
    assert set(cc["component"]) == {0} and len(cc) == 32


def test_connected_components_doubling_matches_plain(spark):
    """On a random multi-component graph the doubling variant's labels
    equal plain propagation's AND a union-find reference."""
    import random

    rng = random.Random(17)
    edges = [(rng.randrange(60), rng.randrange(60)) for _ in range(45)]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    plain = D.connected_components(pairs).toPandas()
    doubled = D.connected_components_doubling(pairs).toPandas()
    p = plain.set_index("id")["component"].to_dict()
    d = doubled.set_index("id")["component"].to_dict()
    assert p == d

    # union-find reference with min-id representatives
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = min(ra, rb), max(ra, rb)
            parent[hi] = lo
    want = {x: find(x) for x in parent}
    assert d == want


def _word_ngrams_py(text: str, n: int) -> list[str]:
    """Reference word n-grams: lowercase, split on [^a-z0-9à-ÿ']+, drop
    empty words, distinct '␟'-joined n-grams (none for < n words)."""
    import re

    words = [w for w in re.split(r"[^a-z0-9à-ÿ']+", text.lower()) if w]
    return list(dict.fromkeys("␟".join(words[i : i + n]) for i in range(len(words) - n + 1)))


def _shingles_py(text: str, k: int) -> list[str]:
    """Reference char-k-shingles: distinct k-char windows of the lowered
    text in first-seen order, or the whole text when shorter than k."""
    t = text.lower()
    if len(t) < k:
        return [t]
    return list(dict.fromkeys(t[i : i + k] for i in range(len(t) - k + 1)))


def test_word_ngram_rows_equals_exploded_word_ngrams(spark):
    """The staged gram generator emits exactly one row per distinct word
    n-gram of each document, as the plain Python reference computes."""
    import pandas as pd

    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "a b"),                      # shorter than n
        (2, ""),                         # empty
        (3, "Tab\tand, punct; split--çà l'eau déjà vu encore une fois"),
        (4, "dup dup dup dup dup"),      # repeated grams collapse
    ]
    docs = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    staged = D.word_ngram_rows(docs, "text", "doc_id", 3).toPandas()
    got = sorted(zip(staged["id"], staged["gram"]))
    want = sorted((i, g) for i, t in rows for g in _word_ngrams_py(t, 3))
    assert len(want) > 0
    assert got == want


def test_shingle_array_lowered_equals_inline(spark):
    """_shingle_array_lowered over a staged lower(text) column emits the
    plain Python reference's shingle arrays — including the short-doc
    whole-text shingle, uppercase folding, and multi-byte chars
    (substring counts CHARACTERS)."""
    import pandas as pd
    from pyspark.sql import functions as F

    rows = [
        (0, "The Quick Brown Fox Jumps Over The Lazy Dog"),
        (1, "short"),                    # shorter than k -> one shingle
        (2, ""),                         # empty
        (3, "çà l'eau DÉJÀ vu — encore une fois çà l'eau déjà"),
        (4, "aaaaaaaaaaaaaaaaaa"),       # repeated shingles collapse
    ]
    docs = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    staged = docs.select(
        "doc_id", F.lower(F.col("text")).alias("_lt")
    ).select("doc_id", D._shingle_array_lowered("_lt").alias("sh"))
    got = staged.toPandas().sort_values("doc_id")
    assert [list(a) for a in got["sh"]] == [_shingles_py(t, D.SHINGLE_CHARS) for _, t in rows]
