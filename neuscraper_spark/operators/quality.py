"""Quality-filter chain (north-rule stages, BASELINE.json:14).

fastText-style language ID, KenLM-style n-gram perplexity, C4/Gopher
heuristic rules, and regex PII/toxicity scrubbing — none of which exist
in the reference (nearest analogue: the pycld2 en-filter at
src/warc/build.py:133-142); all built from public-knowledge designs.

The hot path is ``curate_batch``: every column of the chain (langid,
perplexity, heuristics, PII scrub, toxicity, keep) for a batch of texts,
in Python, run by ``extract.extract_curate_fused`` inside the fused
worker and by the single-process oracle (oracle.py). Its PII and
toxicity regexes run only behind exact necessary-condition gates.

The same chain also exists as ``DataFrame -> DataFrame`` stages for the
staged ``quality_chain`` and the DuckDB-checked queries: langid and
perplexity in one ``mapInPandas`` stage (``with_langid_ppl``) over
broadcast model tables, heuristics and scrubbing as Catalyst-native
expressions (``with_heuristics``, ``with_pii_scrub``, ``with_keep``).
Tests assert that the kernel and the Catalyst forms agree on every
column.
"""

from __future__ import annotations

import math
import re
import unicodedata
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# --------------------------------------------------------------------------
# F3 [north-rule] — fastText-style language ID
#
# Design (public: Joulin et al. 2016, "Bag of Tricks"): hash character
# n-grams into a fixed bucket space, average their embeddings, linear
# classify. Here the "trained" per-language weight rows are derived
# deterministically from seed word lists (corpus.py WORDS) — profile =
# L2-normalized bucket-count vector of the language's char trigrams.
# Prediction = argmax cosine; confidence = softmax over similarities.
# --------------------------------------------------------------------------

LANGID_BUCKETS = 4096
LANGID_UNKNOWN = "und"


# byte-trigram rolling hash (numpy-vectorizable, platform-stable):
# h = (b0*65599 + b1*257 + b2) mod BUCKETS over lowercased UTF-8 bytes
_H0, _H1 = 65599, 257


def _trigram_buckets(text: str) -> np.ndarray:
    """Vectorized bucket ids of every byte trigram in ' text '."""
    data = np.frombuffer(f" {text.lower()} ".encode("utf-8"), dtype=np.uint8)
    if data.size < 3:
        return np.empty(0, dtype=np.int64)
    a = data[:-2].astype(np.int64)
    b = data[1:-1].astype(np.int64)
    c = data[2:].astype(np.int64)
    return (a * _H0 + b * _H1 + c) % LANGID_BUCKETS


def _bucket_counts(text: str) -> np.ndarray:
    return np.bincount(_trigram_buckets(text), minlength=LANGID_BUCKETS).astype(np.float32)


def build_langid_profiles() -> tuple[list[str], np.ndarray]:
    """(langs, [n_langs, BUCKETS] float32 L2-normalized profile matrix)."""
    from ..corpus import WORDS

    langs = sorted(WORDS)
    mat = np.zeros((len(langs), LANGID_BUCKETS), dtype=np.float32)
    for li, lang in enumerate(langs):
        for word in WORDS[lang]:
            mat[li] += _bucket_counts(word)
    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    return langs, mat / np.maximum(norms, 1e-9)


_PROFILES: tuple[list[str], np.ndarray] | None = None


def _profiles() -> tuple[list[str], np.ndarray]:
    global _PROFILES
    if _PROFILES is None:
        _PROFILES = build_langid_profiles()
    return _PROFILES


def langid_scores_batch(texts, langs=None, mat=None) -> tuple[list[str], list[float]]:
    """Batched langid: one [n_texts, BUCKETS] count matrix, ONE matmul.

    This is the only implementation — the per-row twin wraps it — so the
    Spark path and the single-process oracle share the exact float path.
    """
    if langs is None:
        langs, mat = _profiles()
    n = len(texts)
    counts = np.zeros((n, LANGID_BUCKETS), dtype=np.float32)
    for i, t in enumerate(texts):
        counts[i] = _bucket_counts(t or "")
    norms = np.linalg.norm(counts, axis=1, keepdims=True)
    nonzero = norms[:, 0] > 0.0
    unit = counts / np.maximum(norms, np.float32(1e-30))
    sims = unit @ mat.T
    exp = np.exp((sims - sims.max(axis=1, keepdims=True)) * np.float32(16.0))
    probs = exp / exp.sum(axis=1, keepdims=True)
    best = sims.argmax(axis=1)
    preds = [langs[b] if ok else LANGID_UNKNOWN for b, ok in zip(best, nonzero)]
    confs = [
        round(float(probs[i, b]), 6) if ok else 0.0
        for i, (b, ok) in enumerate(zip(best, nonzero))
    ]
    return preds, confs


def langid_scores_py(text: str) -> tuple[str, float]:
    preds, confs = langid_scores_batch([text or ""])
    return preds[0], confs[0]


# --------------------------------------------------------------------------
# C9 [north-rule] — KenLM-style n-gram perplexity
#
# Bigram LM with stupid backoff (Brants et al. 2007) over a seed corpus
# generated deterministically from corpus.gen_pages(seed=7). Count
# tables are plain dicts — broadcastable constant state.
# --------------------------------------------------------------------------

PPL_SEED = 7
PPL_TRAIN_PAGES = 64
PPL_BACKOFF = 0.4
_WORD_RE = re.compile(r"[a-zà-ÿ']+")


def build_ppl_tables_from_texts(texts) -> tuple[dict[str, int], dict[tuple[str, str], int], int]:
    """Fit the bigram LM on an in-memory text sample (deterministic)."""
    uni: dict[str, int] = {}
    bi: dict[tuple[str, str], int] = {}
    total = 0
    for text in texts:
        toks = _WORD_RE.findall((text or "").lower())
        for t in toks:
            uni[t] = uni.get(t, 0) + 1
            total += 1
        for a, b in zip(toks, toks[1:]):
            bi[(a, b)] = bi.get((a, b), 0) + 1
    return uni, bi, total


def build_ppl_tables() -> tuple[dict[str, int], dict[tuple[str, str], int], int]:
    from ..corpus import gen_pages

    return build_ppl_tables_from_texts(
        page["text"] for page in gen_pages(PPL_SEED, PPL_TRAIN_PAGES)
    )


_PPL_TABLES: tuple[dict, dict, int] | None = None


def _ppl_tables():
    global _PPL_TABLES
    if _PPL_TABLES is None:
        _PPL_TABLES = build_ppl_tables()
    return _PPL_TABLES


class _PplVec:
    """Integer-indexed view of the bigram tables for vectorized scoring:
    vocab word -> id, unigram counts as an array, bigram counts keyed by
    ``prev_id * |V| + cur_id``. Built once per distinct table object."""

    __slots__ = ("vocab", "ucnt", "bi", "total", "floor", "n_vocab")

    def __init__(self, tables):
        uni, bi, total = tables
        self.vocab = {w: i for i, w in enumerate(uni)}
        self.ucnt = np.array(list(uni.values()), dtype=np.float64)
        self.total = total
        self.floor = 1.0 / (total + len(uni) + 1)
        self.n_vocab = len(uni)
        self.bi = {
            self.vocab[a] * self.n_vocab + self.vocab[b]: c
            for (a, b), c in bi.items()
        }


_PPL_VEC_CACHE: dict[int, tuple] = {}


def _ppl_vec(tables) -> _PplVec:
    hit = _PPL_VEC_CACHE.get(id(tables))
    if hit is not None and hit[0] is tables:
        return hit[1]
    vec = _PplVec(tables)
    _PPL_VEC_CACHE.clear()  # one LM at a time per worker; no unbounded growth
    _PPL_VEC_CACHE[id(tables)] = (tables, vec)
    return vec


def ppl_batch(texts, tables=None) -> list[float]:
    """Batched perplexity: the whole batch's tokens are id-mapped via
    ONE np.unique (each distinct token's dict lookup happens once),
    bigram hits resolved by one unique-code table lookup, probabilities
    and logs computed as arrays — no per-document python loop, matching
    ``langid_scores_batch``'s shape. This is the only implementation —
    the per-row twin wraps it — so the Spark path and the
    single-process oracle share the exact float path.

    Per-token probability (stupid backoff, Brants et al. 2007):
    bigram count/unigram-prev if the pair was seen, else
    BACKOFF * unigram/total if the token was seen, else BACKOFF * floor.
    """
    return _ppl_tokens([_WORD_RE.findall((t or "").lower()) for t in texts], tables)


def _ppl_tokens(tok_lists, tables=None) -> list[float]:
    """ppl_batch over texts already split into lowered ``_WORD_RE`` tokens."""
    tables = tables if tables is not None else _ppl_tables()
    vec = _ppl_vec(tables)
    lens = np.array([len(tl) for tl in tok_lists], dtype=np.int64)
    out = np.full(len(tok_lists), float(10**9))
    flat = [t for tl in tok_lists for t in tl]
    if flat:
        vocab = vec.vocab
        ids = np.fromiter(
            (vocab.get(t, -1) for t in flat), dtype=np.int64, count=len(flat)
        )
        known = ids >= 0
        p = np.where(
            known,
            PPL_BACKOFF * vec.ucnt[np.where(known, ids, 0)] / vec.total,
            PPL_BACKOFF * vec.floor,
        )
        if len(ids) > 1:
            seg = np.repeat(np.arange(len(tok_lists)), lens)
            # pair targets: not the first token of a text, both ids known
            pair = (seg[1:] == seg[:-1]) & known[1:] & known[:-1]
            idx = np.nonzero(pair)[0] + 1
            if idx.size:
                prev, cur = ids[idx - 1], ids[idx]
                codes = prev * vec.n_vocab + cur
                ucodes, cinv = np.unique(codes, return_inverse=True)
                cnt = np.fromiter(
                    (vec.bi.get(int(c), 0) for c in ucodes),
                    dtype=np.float64,
                    count=len(ucodes),
                )
                bcnt = cnt[cinv]
                has = bcnt > 0
                p[idx[has]] = bcnt[has] / vec.ucnt[prev[has]]
        logp = np.log(p)
        starts = np.concatenate(([0], np.cumsum(lens)))
        for i in range(len(tok_lists)):
            if lens[i]:
                out[i] = math.exp(
                    -logp[starts[i] : starts[i + 1]].sum() / lens[i]
                )
    return [round(float(v), 4) for v in out]


def ppl_py(text: str, tables=None) -> float:
    return ppl_batch([text], tables)[0]


# --------------------------------------------------------------------------
# F11 [north-rule] — C4/Gopher-style heuristic rules, Catalyst form.
# Public sources: Raffel et al. 2020 (C4), Rae et al. 2021 (Gopher §A1.1).
# Thresholds live here so curate_batch shares them.
# --------------------------------------------------------------------------

RULES = {
    "min_words": 20,
    "max_words": 100_000,
    "min_mean_word_len": 2.0,
    "max_mean_word_len": 12.0,
    "max_symbol_word_ratio": 0.1,
    "min_alpha_word_ratio": 0.7,
    "min_stopword_hits": 2,
}

# ONE whitespace definition shared by the Column and Python twins: the
# Unicode White_Space property (what Java's (?U)\\s matches — verified
# char-by-char against Spark). Java default \\s is ASCII-only while
# Python \\s is Unicode (NBSP from &nbsp; split differently and flipped
# n_words between engines), so the set is pinned explicitly.
#
# The JAVA side must use the (?U)\\s property form, NEVER an explicit
# [chars] class: Java compiles a multi-char class into a chain of
# per-character union lambdas evaluated per input char — measured ~50s
# of cold-JIT cost on the flagship tail (re-paid per fresh codegen
# class) vs milliseconds for the property form. The PYTHON side must
# not use \\s or a bare str.split(): both also split on \\x1c-\\x1f, which
# White_Space does not (curate_batch falls back to WS_RE when a text
# holds one of them).
WS_CHARS = (
    " \t\n\r\f\x0b\x85\xa0\u1680"
    "\u2000\u2001\u2002\u2003\u2004\u2005\u2006\u2007\u2008\u2009\u200a"
    "\u2028\u2029\u202f\u205f\u3000"
)
WS_RE = "[" + WS_CHARS + "]+"          # python twin
JAVA_WS_RE = r"(?U)\s+"                # Column twin
JAVA_WS_TRIM_RE = r"(?U)^\s+|\s+$"
# Symbol pattern — counted as MATCHES on both sides ('...' is one
# symbol, not three removed characters).
SYMBOL_RE = r"[#…]|\.\.\."
STOPWORDS = ("the", "a", "be", "to", "of", "and", "that", "have", "with", "in",
             "is", "it", "on", "at", "by", "der", "und", "die", "le", "la",
             "de", "el", "en", "que")
# Column-side stopword matcher (r6): a stopword "hit" is a stopword
# appearing as a MAXIMAL [a-zà-ÿ'] run of lower(text) — exactly the
# membership test `s IN set(split(lower(text), "[^a-zà-ÿ']+"))`, but as
# one bounded-alternation scan. The lookarounds assert the run is
# maximal, so match-set == token-set ∩ STOPWORDS (verified value-equal
# on the full bench corpus, 0/32000 mismatches). The split form
# materialized hundreds of token strings per row and cost ~5s of the
# 32k-page flagship wall; this form is noise-level.
JAVA_STOPWORD_RE = (
    r"(?<![a-zà-ÿ'])(" + "|".join(STOPWORDS) + r")(?![a-zà-ÿ'])"
)


# word-with-a-letter matcher: non-whitespace tokens can't cross
# whitespace, so non-overlapping matches == words containing >=1 letter
# (leftmost-greedy). Lets alpha_words be ONE regexp_extract_all instead
# of a lambda filter over the split array. (?U)\S: see the WS_CHARS note.
JAVA_ALPHA_WORD_RE = r"(?U)\S*[A-Za-zÀ-ÿ]\S*"


def with_heuristics(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Adds per-rule booleans + ``quality_pass`` as native expressions —
    whole-stage-codegen'd, no Python (SURVEY.md §2 F11).

    Expression hygiene matters as much as operator choice — two lessons
    are baked in:
    (1) every rule reads staged scalar columns, never re-deriving the
        split (a draft that re-derived ``split(text)`` per rule cost
        ~10ms/row once Catalyst expanded the tree);
    (2) NO higher-order functions (filter/aggregate/transform lambdas)
        anywhere in this chain: HOF expressions are interpreted, fall
        out of whole-stage codegen and block subexpression elimination,
        so when predicate pushdown duplicates the tree into a Filter the
        duplicates each re-run — measured 4x wall on the flagship tail
        (20s -> 5s at local[24] from this rewrite alone). Word stats are
        computed with plain split/regexp_replace/regexp_extract_all:
          n_words     = size(split(trim_ws(text)))        (0 when empty)
          total_chars = length(text with all ws removed)  (== Σ|word|)
          alpha_words = count of JAVA_ALPHA_WORD_RE matches
        Stopword hits use one bounded-alternation regex scan
        (JAVA_STOPWORD_RE) instead of materializing the token array —
        see the constant's comment for the equivalence argument and the
        measured ~5s flagship-tail saving (r6).
    """
    r = RULES
    text = F.col(text_col)
    trimmed = F.regexp_replace(text, JAVA_WS_TRIM_RE, "")
    df = (
        df.withColumn(
            "n_words",
            F.when(F.length(trimmed) == 0, F.lit(0)).otherwise(
                F.size(F.split(trimmed, JAVA_WS_RE))
            ),
        )
        .withColumn(
            "_total_chars",
            F.length(F.regexp_replace(text, JAVA_WS_RE, "")),
        )
        .withColumn(
            "mean_word_len",
            F.round(
                F.col("_total_chars").cast("double")
                / F.greatest(F.col("n_words"), F.lit(1)).cast("double"),
                4,
            ),
        )
        .withColumn(
            "_n_symbols",
            F.size(F.regexp_extract_all(text, F.lit(SYMBOL_RE), F.lit(0))),
        )
        .withColumn(
            "_alpha_words",
            F.size(F.regexp_extract_all(text, F.lit(JAVA_ALPHA_WORD_RE), F.lit(0))),
        )
        .withColumn(
            "_stop_hits",
            F.size(
                F.array_distinct(
                    F.regexp_extract_all(
                        F.lower(text), F.lit(JAVA_STOPWORD_RE), F.lit(1)
                    )
                )
            ),
        )
    )
    n_words = F.col("n_words")
    mean_wl_raw = F.col("_total_chars").cast("double") / F.greatest(n_words, F.lit(1)).cast("double")
    df = (
        df.withColumn(
            "rule_word_count",
            (n_words >= r["min_words"]) & (n_words <= r["max_words"]),
        )
        .withColumn(
            "rule_mean_word_len",
            (mean_wl_raw >= r["min_mean_word_len"]) & (mean_wl_raw <= r["max_mean_word_len"]),
        )
        .withColumn(
            "rule_symbol_ratio",
            F.col("_n_symbols").cast("double")
            <= F.lit(r["max_symbol_word_ratio"]) * F.greatest(n_words, F.lit(1)),
        )
        .withColumn(
            "rule_alpha_ratio",
            F.col("_alpha_words").cast("double")
            >= F.lit(r["min_alpha_word_ratio"]) * F.greatest(n_words, F.lit(1)),
        )
        .withColumn("rule_stopwords", F.col("_stop_hits") >= r["min_stopword_hits"])
    )
    df = df.withColumn(
        "quality_pass",
        F.col("rule_word_count")
        & F.col("rule_mean_word_len")
        & F.col("rule_symbol_ratio")
        & F.col("rule_alpha_ratio")
        & F.col("rule_stopwords"),
    )
    return df.drop("_words", "_total_chars", "_n_symbols", "_alpha_words", "_stop_hits")


# --------------------------------------------------------------------------
# F10 [north-rule] — PII scrub + toxicity flag, Catalyst form.
# Pattern strings are written to the common subset of Java and Python
# regex so curate_batch is byte-compatible.
# --------------------------------------------------------------------------

PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ssn", r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b", "<SSN>"),
    ("cc", r"\b(?:[0-9]{4}[ -]){3}[0-9]{4}\b", "<CC>"),
    # NB: the separator class is [ .\-] with the dash ESCAPED — an earlier
    # draft wrote [ -.], a character RANGE 0x20-0x2E matching !"#$%&'()*+,
    # which scrubbed strings like 12+345+6789 as phone numbers.
    ("phone", r"\+?[0-9]{1,3}[ .\-][0-9]{3}[ .\-][0-9]{3,4}[ .\-]?[0-9]{0,4}\b", "<PHONE>"),
    ("ipv4", r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b", "<IP>"),
)

TOXIC_TERMS = ("badword1", "badword2", "slur1", "slur2")  # placeholder blocklist
_TOXIC_RE = r"(?i)\b(" + "|".join(TOXIC_TERMS) + r")\b"


def with_pii_scrub(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Adds ``scrubbed_text``, ``pii_count``, ``toxic_hits``, ``toxicity_pass``."""
    scrubbed = F.col(text_col)
    for _, pat, repl in PII_PATTERNS:
        scrubbed = F.regexp_replace(scrubbed, pat, repl)
    pii_count = F.lit(0)
    for _, pat, _ in PII_PATTERNS:
        pii_count = pii_count + F.size(F.regexp_extract_all(F.col(text_col), F.lit(pat), F.lit(0)))
    toxic_hits = F.size(F.regexp_extract_all(F.col(text_col), F.lit(_TOXIC_RE), F.lit(1)))
    return (
        df.withColumn("scrubbed_text", scrubbed)
        .withColumn("pii_count", pii_count)
        .withColumn("toxic_hits", toxic_hits)
        .withColumn("toxicity_pass", toxic_hits == 0)
    )


# --------------------------------------------------------------------------
# keep/drop combiner
# --------------------------------------------------------------------------

PPL_MAX = 5_000.0
KEEP_LANGS = ("en",)


def with_keep(df: DataFrame) -> DataFrame:
    return df.withColumn(
        "keep",
        F.col("lang_pred").isin(*KEEP_LANGS)
        & F.col("quality_pass")
        & F.col("toxicity_pass")
        & (F.col("ppl") <= PPL_MAX),
    )


def keep_py(lang_pred: str, quality_pass: bool, toxicity_pass: bool, ppl: float) -> bool:
    return (lang_pred in KEEP_LANGS) and quality_pass and toxicity_pass and ppl <= PPL_MAX


# --------------------------------------------------------------------------
# The curation kernel: langid, perplexity, heuristics, PII scrub,
# toxicity and keep for a batch of texts, one pass per text in Python.
# extract.extract_curate_fused runs it in the fused worker and
# oracle.curate_pages over the extracted pages; heuristics_py and
# pii_scrub_py wrap it. Its output equals the Column forms above, which
# the staged quality_chain and the DuckDB-checked queries run, so the
# fused-vs-staged tests check it against Java's regex engine.
# --------------------------------------------------------------------------

HEURISTIC_COLUMNS = (
    "n_words", "mean_word_len", "rule_word_count", "rule_mean_word_len",
    "rule_symbol_ratio", "rule_alpha_ratio", "rule_stopwords", "quality_pass",
)
SCRUB_COLUMNS = ("scrubbed_text", "pii_count", "toxic_hits", "toxicity_pass")
CURATE_COLUMNS = ("lang_pred", "lang_conf", "ppl") + HEURISTIC_COLUMNS + SCRUB_COLUMNS + ("keep",)
LANGID_PPL_DDL = "lang_pred string, lang_conf double, ppl double"
CURATE_DDL = LANGID_PPL_DDL + (
    ", n_words int, mean_word_len double, rule_word_count boolean, "
    "rule_mean_word_len boolean, rule_symbol_ratio boolean, rule_alpha_ratio boolean, "
    "rule_stopwords boolean, quality_pass boolean, scrubbed_text string, "
    "pii_count int, toxic_hits int, toxicity_pass boolean, keep boolean"
)

# str.split() also splits on \x1c-\x1f, which are not White_Space; a
# text holding one of them splits on WS_RE instead.
_SPLIT_EXTRA = "\x1c\x1d\x1e\x1f"
_WS_SPLIT_RE = re.compile(WS_RE)
# a whitespace char, then a whole word with no [A-Za-zÀ-ÿ] letter: run
# over " " + text, its matches are the words JAVA_ALPHA_WORD_RE does
# not count
_NON_ALPHA_WORD_RE = re.compile("[" + WS_CHARS + "][^" + WS_CHARS + "A-Za-zÀ-ÿ]+(?![^" + WS_CHARS + "])")
_STOPWORD_SET = frozenset(STOPWORDS)
_ROUND4 = Decimal("0.0001")
_PII_RES = tuple((re.compile(pat), repl) for _, pat, repl in PII_PATTERNS)
_TOXIC_PY_RE = re.compile(_TOXIC_RE)
# Exact necessary condition for a PII match: every email match holds
# '@', and every ssn/cc/phone/ipv4 match a digit followed by ' ', '.'
# or '-'.
_DIGIT_SEP_RE = re.compile(r"[0-9][ .\-]")
_NON_ASCII_RUN_RE = re.compile(r"[^\x00-\x7f]+")
_LETTER_OR_DIGIT = frozenset(("Lu", "Ll", "Lt", "Lm", "Lo", "Nd"))
# Where unicodedata (Unicode 14.0 on Python 3.11) and JDK 17's Character
# (Unicode 13.0) disagree on a character's word-ness: the letters,
# digits and marks that Unicode 14.0 added, which JDK 17 does not define,
# and U+1734 (Mc in 14.0, Mn in 13.0).
# tests/test_quality.py::test_java_word_view_matches_jvm_on_every_code_point
# checks the view against the running JVM's \b.
_UNICODE_14_WORD_CHARS = (
    (0x0870, 0x0887), (0x0889, 0x088E), (0x0898, 0x089F), (0x08B5, 0x08B5),
    (0x08C8, 0x08D2), (0x0C3C, 0x0C3C), (0x0C5D, 0x0C5D), (0x0CDD, 0x0CDD),
    (0x170D, 0x170D), (0x171F, 0x171F), (0x180F, 0x180F), (0x1AC1, 0x1ACE),
    (0x1B4C, 0x1B4C), (0x1DFA, 0x1DFA), (0x2C2F, 0x2C2F), (0x2C5F, 0x2C5F),
    (0x9FFD, 0x9FFF), (0xA7C0, 0xA7C1), (0xA7D0, 0xA7D1), (0xA7D3, 0xA7D3),
    (0xA7D5, 0xA7D9), (0xA7F2, 0xA7F4), (0x10570, 0x1057A), (0x1057C, 0x1058A),
    (0x1058C, 0x10592), (0x10594, 0x10595), (0x10597, 0x105A1),
    (0x105A3, 0x105B1), (0x105B3, 0x105B9), (0x105BB, 0x105BC),
    (0x10780, 0x10785), (0x10787, 0x107B0), (0x107B2, 0x107BA),
    (0x10F70, 0x10F85), (0x11070, 0x11075), (0x110C2, 0x110C2),
    (0x11740, 0x11746), (0x11AB0, 0x11ABF), (0x12F90, 0x12FF0),
    (0x16A70, 0x16ABE), (0x16AC0, 0x16AC9), (0x1AFF0, 0x1AFF3),
    (0x1AFF5, 0x1AFFB), (0x1AFFD, 0x1AFFE), (0x1B11F, 0x1B122),
    (0x1CF00, 0x1CF2D), (0x1CF30, 0x1CF46), (0x1DF00, 0x1DF1E),
    (0x1E290, 0x1E2AE), (0x1E7E0, 0x1E7E6), (0x1E7E8, 0x1E7EB),
    (0x1E7ED, 0x1E7EE), (0x1E7F0, 0x1E7FE), (0x2A6DE, 0x2A6DF),
    (0x2B735, 0x2B738),
)
_JDK17_CATEGORY = {chr(c): "Cn" for lo, hi in _UNICODE_14_WORD_CHARS for c in range(lo, hi + 1)}
_JDK17_CATEGORY["\u1734"] = "Mn"


def _java_word_view(text: str) -> str:
    """``text`` as Java's regex engine sees it at a word boundary.

    The PII and toxicity patterns match ASCII characters only; outside
    them a character matters only through ``\\b``. Java (JDK 17) counts
    a letter, a decimal digit, '_', or a non-spacing mark whose base is
    a letter or digit as a word character; Python counts every
    ``isalnum()`` character ('½', '²', 'Ⅷ') but no mark. So each
    non-ASCII character becomes 'é' where Java sees a word character and
    NBSP where it does not, and the patterns run on this view with
    Java's boundaries. Neither stand-in folds to an ASCII letter, so
    Python's ``(?i)`` then folds ASCII only, as Java's does ('ſ' is not
    's'). ASCII characters and all positions are unchanged.

    Categories come from ``unicodedata`` corrected by ``_JDK17_CATEGORY``
    to JDK 17's Unicode 13.0, so the view is exact for Python's Unicode
    14.0 against JDK 17. Another pair of versions needs the table
    rebuilt; ``test_java_word_view_matches_jvm_on_every_code_point``
    fails until it is."""
    if text.isascii():
        return text
    parts, pos = [], 0
    for m in _NON_ASCII_RUN_RE.finditer(text):
        start = m.start()
        parts.append(text[pos:start])
        base = start > 0 and text[start - 1].isalnum()
        for c in m.group():
            cat = _JDK17_CATEGORY.get(c) or unicodedata.category(c)
            if cat != "Mn":
                base = cat in _LETTER_OR_DIGIT
            parts.append("é" if base else "\xa0")
        pos = m.end()
    parts.append(text[pos:])
    return "".join(parts)


def _splice(text: str, matches, repl: str) -> str:
    """``text`` with each match span replaced by ``repl``."""
    parts, pos = [], 0
    for m in matches:
        parts += (text[pos : m.start()], repl)
        pos = m.end()
    parts.append(text[pos:])
    return "".join(parts)


def _round4(x: float) -> float:
    """Spark's round(x, 4) on a double: half up on the shortest decimal
    string (BigDecimal.valueOf), where Python's round is half-even on
    the binary value (3.90625 -> 3.9063, not 3.9062)."""
    return float(Decimal(repr(x)).quantize(_ROUND4, ROUND_HALF_UP))


def curate_batch(texts, tables=None) -> dict[str, list]:
    """Every column the quality chain adds (``CURATE_DDL``, in order)
    for a batch of texts, as one list per column.

    Each text is scanned a few times, not once per rule: one whitespace
    split gives n_words, the word characters and the alpha words; one
    lowered token split feeds both perplexity and the stopword hits; the
    symbol count is three substring counts; the PII and toxicity regexes
    run only when their necessary condition holds ('@' or a digit
    followed by a separator; a blocklist term in the lowered text), on
    ``_java_word_view`` so that ``\\b`` and ``(?i)`` behave as in Java."""
    texts = [t or "" for t in texts]
    lowered = [t.lower() for t in texts]
    tok_lists = [_WORD_RE.findall(t) for t in lowered]
    langs, confs = langid_scores_batch(texts)
    ppls = _ppl_tokens(tok_lists, tables)
    r = RULES
    rows = []
    for text, low, toks, lang, conf, ppl in zip(texts, lowered, tok_lists, langs, confs, ppls):
        if any(c in text for c in _SPLIT_EXTRA):
            words = [w for w in _WS_SPLIT_RE.split(text) if w]
        else:
            words = text.split()
        n_words = len(words)
        n_or_1 = max(n_words, 1)
        mean_wl = sum(map(len, words)) / n_or_1
        n_symbols = text.count("#") + text.count("…") + text.count("...")
        alpha_words = n_words - len(_NON_ALPHA_WORD_RE.findall(" " + text))
        rules = (
            r["min_words"] <= n_words <= r["max_words"],
            r["min_mean_word_len"] <= mean_wl <= r["max_mean_word_len"],
            float(n_symbols) <= r["max_symbol_word_ratio"] * n_or_1,
            float(alpha_words) >= r["min_alpha_word_ratio"] * n_or_1,
            len(_STOPWORD_SET.intersection(toks)) >= r["min_stopword_hits"],
        )
        quality_pass = all(rules)
        # as in with_pii_scrub: counts on the original text, replacements
        # chained on the scrubbed one in PII_PATTERNS order. A pattern's
        # matches on the text are its matches on the scrubbed text until
        # an earlier pattern has replaced something. A replacement is
        # ASCII, so the scrubbed text's view is the view spliced the same
        # way, unless a non-ASCII character (a mark whose base was in the
        # match) follows a match; then the view is built again.
        scrubbed, pii_count, view = text, 0, None
        if "@" in text or _DIGIT_SEP_RE.search(text):
            view = scrubbed_view = _java_word_view(text)
            for rx, repl in _PII_RES:
                found = list(rx.finditer(view))
                pii_count += len(found)
                if scrubbed_view is not view:
                    found = list(rx.finditer(scrubbed_view))
                if found:
                    rebuild = any(not scrubbed[m.end() : m.end() + 1].isascii() for m in found)
                    scrubbed = _splice(scrubbed, found, repl)
                    scrubbed_view = (_java_word_view(scrubbed) if rebuild
                                     else _splice(scrubbed_view, found, repl))
        toxic_hits = 0
        if any(t in low for t in TOXIC_TERMS):
            toxic_hits = len(_TOXIC_PY_RE.findall(view or _java_word_view(text)))
        rows.append((
            lang, conf, ppl, n_words, _round4(mean_wl), *rules, quality_pass,
            scrubbed, pii_count, toxic_hits, toxic_hits == 0,
            keep_py(lang, quality_pass, toxic_hits == 0, ppl),
        ))
    return {c: [row[i] for row in rows] for i, c in enumerate(CURATE_COLUMNS)}


def heuristics_py(text: str) -> dict:
    """Per-row twin of ``with_heuristics``: ``curate_batch`` on one text."""
    cols = curate_batch([text])
    return {c: cols[c][0] for c in HEURISTIC_COLUMNS}


def pii_scrub_py(text: str) -> dict:
    """Per-row twin of ``with_pii_scrub``: ``curate_batch`` on one text."""
    cols = curate_batch([text])
    return {c: cols[c][0] for c in SCRUB_COLUMNS}


def langid_ppl_batch(texts, tables=None) -> dict[str, list]:
    """The ``LANGID_PPL_DDL`` columns for a batch of texts."""
    langs, confs = langid_scores_batch(texts)
    return {"lang_pred": langs, "lang_conf": confs, "ppl": ppl_batch(texts, tables)}


def with_langid_ppl(spark, df: DataFrame, text_col: str = "text", ppl_tables=None) -> DataFrame:
    """langid + perplexity in ONE mapInPandas stage.

    Why not two pandas_udfs: a struct-returning scalar UDF whose fields
    are re-referenced (and any UDF under a pushed-down filter) gets
    *duplicated* by Catalyst — measured 2-4x re-execution of the whole
    upstream pipeline on the bench corpus. mapInPandas appends the
    columns in a single python stage that can't be split, duplicated or
    pushed through, and both models share one Arrow round-trip.
    """
    bc = spark.sparkContext.broadcast(ppl_tables if ppl_tables is not None else _ppl_tables())
    in_schema = df.schema
    out_ddl = ", ".join(
        [f"`{f.name}` {f.dataType.simpleString()}" for f in in_schema.fields]
        + [LANGID_PPL_DDL]
    )
    cols = [f.name for f in in_schema.fields]

    def run(batches):
        tables = bc.value
        for pdf in batches:
            out = pdf[cols].copy()
            for c, v in langid_ppl_batch(pdf[text_col].tolist(), tables).items():
                out[c] = v
            yield out

    return df.mapInPandas(run, schema=out_ddl)


def quality_chain(spark, df: DataFrame, text_col: str = "text", ppl_tables=None) -> DataFrame:
    """langid -> perplexity -> heuristics -> PII scrub -> keep."""
    df = with_langid_ppl(spark, df, text_col, ppl_tables=ppl_tables)
    df = with_heuristics(df, text_col)
    df = with_pii_scrub(df, text_col)
    return with_keep(df)
