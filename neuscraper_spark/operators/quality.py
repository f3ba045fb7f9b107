"""Quality-filter chain (north-rule stages, BASELINE.json:14).

fastText-style language ID, KenLM-style n-gram perplexity, C4/Gopher
heuristic rules, and regex PII/toxicity scrubbing — none of which exist
in the reference (nearest analogue: the pycld2 en-filter at
src/warc/build.py:133-142); all built from public-knowledge designs.

Every stage is a pure ``DataFrame -> DataFrame`` function. Heuristics
and scrubbing are Catalyst-native expressions (zero Python in the hot
path); langid and perplexity run together in one ``mapInPandas`` stage
(``with_langid_ppl``, or folded into ``extract.extract_fused``) over
broadcast model tables. Each has a ``*_py`` twin with identical
semantics used by the single-process oracle (oracle.py) — property
tests assert twin agreement.
"""

from __future__ import annotations

import math
import re

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
    tables = tables if tables is not None else _ppl_tables()
    vec = _ppl_vec(tables)
    tok_lists = [_WORD_RE.findall((t or "").lower()) for t in texts]
    lens = np.array([len(tl) for tl in tok_lists], dtype=np.int64)
    out = np.full(len(texts), float(10**9))
    flat = [t for tl in tok_lists for t in tl]
    if flat:
        uniq, inv = np.unique(np.array(flat), return_inverse=True)
        uid = np.fromiter(
            (vec.vocab.get(u, -1) for u in uniq.tolist()),
            dtype=np.int64,
            count=len(uniq),
        )
        ids = uid[inv]
        known = ids >= 0
        p = np.where(
            known,
            PPL_BACKOFF * vec.ucnt[np.where(known, ids, 0)] / vec.total,
            PPL_BACKOFF * vec.floor,
        )
        if len(ids) > 1:
            seg = np.repeat(np.arange(len(texts)), lens)
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
        for i in range(len(texts)):
            if lens[i]:
                out[i] = math.exp(
                    -logp[starts[i] : starts[i + 1]].sum() / lens[i]
                )
    return [round(float(v), 4) for v in out]


def ppl_py(text: str, tables=None) -> float:
    return ppl_batch([text], tables)[0]


# --------------------------------------------------------------------------
# F11 [north-rule] — C4/Gopher-style heuristic rules, pure Catalyst.
# Public sources: Raffel et al. 2020 (C4), Rae et al. 2021 (Gopher §A1.1).
# Thresholds live here so the oracle twin shares them.
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
# use the explicit class (Python \\s additionally matches \\x1c-\\x1f,
# which White_Space does not; explicit classes are bitmap-fast there).
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
# (both engines leftmost-greedy). Lets alpha_words be ONE
# regexp_extract_all instead of a lambda filter over the split array.
# Java form uses (?U)\S (see WS_CHARS note); Python form the class.
ALPHA_WORD_RE = "[^" + WS_CHARS + "]*[A-Za-zÀ-ÿ][^" + WS_CHARS + "]*"
JAVA_ALPHA_WORD_RE = r"(?U)\S*[A-Za-zÀ-ÿ]\S*"


def _words(col: Column) -> Column:
    """Word array (twin of the Python split) — TEST/ORACLE surface only;
    the hot path below never materializes it."""
    return F.filter(F.split(col, WS_RE), lambda w: w != F.lit(""))


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
          alpha_words = count of ALPHA_WORD_RE matches
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


def heuristics_py(text: str) -> dict:
    """Python twin of with_heuristics (same thresholds, same formulas).

    Word stats mirror the Column formulas exactly; tests additionally
    pin that they equal the split-array definitions (n_words == number
    of non-empty split tokens, total_chars == Σ|word|, alpha_words ==
    words containing a letter)."""
    text = text or ""
    words = [w for w in re.split(WS_RE, text) if w]
    n_words = len(words)
    total_chars = len(re.sub(WS_RE, "", text))
    mean_wl = total_chars / max(n_words, 1)
    n_symbols = len(re.findall(SYMBOL_RE, text))
    alpha_words = len(re.findall(ALPHA_WORD_RE, text))
    toks = set(re.split(r"[^a-zà-ÿ']+", (text or "").lower()))
    stop_hits = sum(1 for s in STOPWORDS if s in toks)
    r = RULES
    out = {
        "n_words": n_words,
        "mean_word_len": round(mean_wl, 4),
        "rule_word_count": r["min_words"] <= n_words <= r["max_words"],
        "rule_mean_word_len": r["min_mean_word_len"] <= mean_wl <= r["max_mean_word_len"],
        "rule_symbol_ratio": float(n_symbols) <= r["max_symbol_word_ratio"] * max(n_words, 1),
        "rule_alpha_ratio": float(alpha_words) >= r["min_alpha_word_ratio"] * max(n_words, 1),
        "rule_stopwords": stop_hits >= r["min_stopword_hits"],
    }
    out["quality_pass"] = all(
        out[k] for k in (
            "rule_word_count", "rule_mean_word_len", "rule_symbol_ratio",
            "rule_alpha_ratio", "rule_stopwords",
        )
    )
    return out


# --------------------------------------------------------------------------
# F10 [north-rule] — PII scrub + toxicity flag, pure Catalyst.
# Pattern strings are written to the common subset of Java and Python
# regex so the oracle twin is byte-compatible.
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


def pii_scrub_py(text: str) -> dict:
    scrubbed = text or ""
    pii_count = 0
    for _, pat, repl in PII_PATTERNS:
        pii_count += len(re.findall(pat, text or ""))
        scrubbed = re.sub(pat, repl, scrubbed)
    toxic_hits = len(re.findall(_TOXIC_RE, text or ""))
    return {
        "scrubbed_text": scrubbed,
        "pii_count": pii_count,
        "toxic_hits": toxic_hits,
        "toxicity_pass": toxic_hits == 0,
    }


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
        + ["lang_pred string", "lang_conf double", "ppl double"]
    )
    cols = [f.name for f in in_schema.fields]

    def run(batches):
        tables = bc.value
        for pdf in batches:
            texts = pdf[text_col].tolist()
            langs, confs = langid_scores_batch(texts)
            ppls = ppl_batch(texts, tables)
            out = pdf[cols].copy()
            out["lang_pred"] = langs
            out["lang_conf"] = confs
            out["ppl"] = ppls
            yield out

    return df.mapInPandas(run, schema=out_ddl)


def quality_chain(spark, df: DataFrame, text_col: str = "text", ppl_tables=None) -> DataFrame:
    """langid -> perplexity -> heuristics -> PII scrub -> keep."""
    df = with_langid_ppl(spark, df, text_col, ppl_tables=ppl_tables)
    df = with_heuristics(df, text_col)
    df = with_pii_scrub(df, text_col)
    return with_keep(df)
