"""Quality chain: Spark stages vs pure-Python twins (north-rule ops)."""

import pandas as pd
import pytest

from neuscraper_spark.operators import quality as Q


TEXTS = [
    "The quick brown fox jumps over the lazy dog and that is all of it. " * 4,
    "Der schnelle braune Fuchs springt über den faulen Hund und das ist alles. " * 4,
    "Le renard brun rapide saute par dessus le chien paresseux et c'est tout. " * 4,
    "El rápido zorro marrón salta sobre el perro perezoso y eso es todo. " * 4,
    "short",
    "",
    "### ### ### ### ### ### ### ### ### ### ### ### ### ### ### ### ### ### ### ###",
    "Contact me at john.doe@example.com or call +1 555-123-4567 now. " * 5,
    "My SSN is 123-45-6789 and my card is 4111 1111 1111 1111 and IP 192.168.0.1. " * 4,
    "This text mentions badword1 which should be flagged as toxic content here. " * 4,
    # round-2 regression battery (ADVICE r1): ellipses counted as matches,
    # Unicode whitespace in the word split, phone-class range bug.
    "Well... it is that kind of a day… and the dots just keep coming on... " * 3,
    "Words\xa0held\xa0by\xa0nbsp and the rest of the sentence is quite normal here today. " * 3,
    "Mixed thin spaces and　ideographic　gaps with the usual words of the day. " * 3,
    "The totals 12+345+6789 and 1%555%1234 are sums, but 1-555-123-4567 is a phone.",
]


@pytest.fixture(scope="module")
def df(spark):
    pdf = pd.DataFrame({"url": [f"u{i}" for i in range(len(TEXTS))], "text": TEXTS})
    return spark.createDataFrame(pdf)


def test_langid_twins_agree(spark, df):
    got = Q.with_langid_ppl(spark, df).select("url", "lang_pred", "lang_conf").toPandas()
    for _, row in got.iterrows():
        lang, conf = Q.langid_scores_py(TEXTS[int(row["url"][1:])])
        assert row["lang_pred"] == lang
        assert abs(row["lang_conf"] - conf) < 1e-9


def test_langid_detects_languages():
    assert Q.langid_scores_py(TEXTS[0])[0] == "en"
    assert Q.langid_scores_py(TEXTS[1])[0] == "de"
    assert Q.langid_scores_py(TEXTS[2])[0] == "fr"
    assert Q.langid_scores_py(TEXTS[3])[0] == "es"
    assert Q.langid_scores_py("")[0] == Q.LANGID_UNKNOWN


def test_ppl_twins_agree(spark, df):
    got = Q.with_langid_ppl(spark, df).select("url", "ppl").toPandas()
    for _, row in got.iterrows():
        assert row["ppl"] == Q.ppl_py(TEXTS[int(row["url"][1:])])


def test_ppl_orders_fluency():
    fluent = "the time of the word and the way of the thing " * 8
    gibberish = "zxqv wvnm qqpl mxzt kjhg vbnm " * 8
    assert Q.ppl_py(fluent) < Q.ppl_py(gibberish)


def test_heuristics_twins_agree(spark, df):
    cols = [
        "n_words", "mean_word_len", "rule_word_count", "rule_mean_word_len",
        "rule_symbol_ratio", "rule_alpha_ratio", "rule_stopwords", "quality_pass",
    ]
    got = Q.with_heuristics(df).select("url", *cols).toPandas()
    for _, row in got.iterrows():
        want = Q.heuristics_py(TEXTS[int(row["url"][1:])])
        for c in cols:
            assert row[c] == want[c], (row["url"], c, row[c], want[c])


def test_heuristics_reject_degenerate():
    assert not Q.heuristics_py("short")["quality_pass"]
    assert not Q.heuristics_py(TEXTS[6])["quality_pass"]  # symbol spam
    assert Q.heuristics_py(TEXTS[0])["quality_pass"]


def test_pii_scrub_twins_agree(spark, df):
    cols = ["scrubbed_text", "pii_count", "toxic_hits", "toxicity_pass"]
    got = Q.with_pii_scrub(df).select("url", *cols).toPandas()
    for _, row in got.iterrows():
        want = Q.pii_scrub_py(TEXTS[int(row["url"][1:])])
        for c in cols:
            assert row[c] == want[c], (row["url"], c, row[c], want[c])


def test_pii_scrub_replaces_everything():
    out = Q.pii_scrub_py(TEXTS[8])
    assert "<SSN>" in out["scrubbed_text"] and "<CC>" in out["scrubbed_text"]
    assert "123-45-6789" not in out["scrubbed_text"]
    assert "4111" not in out["scrubbed_text"]
    out2 = Q.pii_scrub_py(TEXTS[7])
    assert "<EMAIL>" in out2["scrubbed_text"]
    assert "john.doe@example.com" not in out2["scrubbed_text"]


def test_toxicity_flag():
    assert Q.pii_scrub_py(TEXTS[9])["toxic_hits"] > 0
    assert not Q.pii_scrub_py(TEXTS[9])["toxicity_pass"]


def test_symbols_counted_as_matches():
    # '...' is ONE symbol match (not 3 removed chars); '…' is one too.
    h = Q.heuristics_py("a b ... c … d .... e")
    import re
    assert len(re.findall(Q.SYMBOL_RE, "... … ....")) == 3
    assert h["n_words"] == 8


def test_unicode_whitespace_splits_words():
    # NBSP and thin/ideographic spaces are word separators in BOTH twins.
    assert Q.heuristics_py("a\xa0b")["n_words"] == 2
    assert Q.heuristics_py("a b　c")["n_words"] == 3


def test_phone_class_not_a_range():
    out = Q.pii_scrub_py(TEXTS[13])
    assert "12+345+6789" in out["scrubbed_text"]  # NOT scrubbed
    assert "1%555%1234" in out["scrubbed_text"]  # NOT scrubbed
    assert "1-555-123-4567" not in out["scrubbed_text"]  # scrubbed
    assert "<PHONE>" in out["scrubbed_text"]


def test_word_stat_formulas_equal_definitions():
    # The Column form computes word stats WITHOUT materializing the word
    # array (regexp formulas, no higher-order functions) and the kernel
    # counts non-alpha words with one regex; pin that the formulas equal
    # the definitional forms on adversarial strings.
    import re
    import random

    rng = random.Random(99)
    atoms = ["word", "123", "a1b", "...", "…", "#", "é", "ab-cd", "'", "x", "\x1c"] + list(Q.WS_CHARS)
    for _ in range(300):
        s = "".join(rng.choice(atoms) for _ in range(rng.randint(0, 40)))
        words = [w for w in re.split(Q.WS_RE, s) if w]
        h = Q.heuristics_py(s)
        assert h["n_words"] == len(words), repr(s)
        total = sum(len(w) for w in words)
        alpha = sum(1 for w in words if re.search(r"[A-Za-zÀ-ÿ]", w))
        assert len(re.sub(Q.WS_RE, "", s)) == total, repr(s)
        assert len(words) - len(Q._NON_ALPHA_WORD_RE.findall(" " + s)) == alpha, repr(s)


def test_heuristics_twins_agree_fuzz(spark):
    # Seeded adversarial corpus: symbols, every whitespace char, unicode
    # letters, digits — twin agreement on all derived columns.
    import random

    # letters whose case folding differs between Java and Python (ſ, the
    # Kelvin sign, İ, ẞ), characters whose word-ness differs (½, ², Ⅷ, a
    # combining mark, U+0870 and U+1734 from Unicode 14.0), blocklist
    # terms and PII fragments that reach the kernel's regex gates (marks
    # right after a PII match change the scrubbed text's view), and \x1c,
    # which str.split() splits on
    rng = random.Random(1234)
    atoms = ["word", "the", "de", "...", "…", "#", "zxq", "éàü", "12+345+6789",
             "a", "Straße", "naïve", "x" * 30, "42", "\u017f", "\u212a", "\u0130",
             "\u1e9e", "\u017flur1", "SLUR2", "BadWord1", "IS", "\u0130n", "\x1c",
             "a@b.co", "@", "555-123-4567", "1.2.3.4", "-", ".", "½", "²", "Ⅷ",
             "\u0301", "_", "slur1", "\u0870", "\u1734", "4111 1111 1111 1111",
             "123-45-6789"] + list(Q.WS_CHARS)
    texts = [
        "".join(rng.choice(atoms) for _ in range(rng.randint(0, 80)))
        for _ in range(300)
    ]
    pdf = pd.DataFrame({"url": [f"f{i}" for i in range(len(texts))], "text": texts})
    cols = list(Q.HEURISTIC_COLUMNS + Q.SCRUB_COLUMNS)
    got = Q.with_pii_scrub(Q.with_heuristics(spark.createDataFrame(pdf)))
    got = got.select("url", *cols).toPandas()
    want = Q.curate_batch(texts)
    for _, row in got.iterrows():
        i = int(row["url"][1:])
        for c in cols:
            assert row[c] == want[c][i], (row["url"], c, row[c], want[c][i])


def test_mean_word_len_rounds_half_up_like_spark(spark):
    """Spark's round(x, 4) rounds the shortest decimal string half up;
    Python's round is half-even on the binary value. 125 chars over 32
    words is 3.90625: Spark writes 3.9063."""
    texts = [
        "x" * 94 + " a" * 31,                 # 125 / 32 = 3.90625
        "x" * 35 + " a" * 31,                 # 66 / 32 = 2.0625 (no tie)
        " ".join(["abc"] * 31 + ["abcdefgh"]),  # 101 / 32 = 3.15625
        "y" * 3 + " b" * 31,                  # 34 / 32 = 1.0625 (no tie)
    ]
    got = Q.with_heuristics(spark.createDataFrame([(t,) for t in texts], "text string"))
    spark_vals = [r["mean_word_len"] for r in got.select("mean_word_len").collect()]
    assert spark_vals[0] == 3.9063 and spark_vals[2] == 3.1563
    assert [Q.heuristics_py(t)["mean_word_len"] for t in texts] == spark_vals


def test_toxicity_and_pii_match_like_java(spark):
    """Java's (?i) folds ASCII only; Python's also folds ſ (U+017F) to s.
    Java's \\b (JDK 17) counts letters, decimal digits, '_' and marks on a
    letter or digit as word characters; Python's counts every isalnum()
    character (½, ², Ⅷ) and no mark, and its Unicode 14.0 tables hold
    letters JDK 17's Unicode 13.0 does not define. The kernel matches
    Java."""
    texts = [
        "the \u017flur1 of",       # long s: no hit in Java
        "the SlUr1 of",            # ASCII mixed case: a hit
        "the \u017fLUR2 and BADWORD1",
        "éslur1 slur1é ٣slur1 slur1٣ _slur1 slur1_",
        "(slur2) -badword2- slur1.",
        "x slur1½ y ½slur2 slur1Ⅷ",  # ½ and Ⅷ are no word chars in Java
        "x slur1\u0301 y \u0301slur2 _\u0301slur1 é\u0301slur2",  # marks
        "ssn 123-45-6789½, card ²1111 2222 3333 4444, ip 1.2.3.4\u0301",
        "mail a@b.com½ or 1-555-123-4567\u0301 now",
        "x slur1\u0870 123-45-6789\u0870",  # U+0870 is a letter in Unicode 14.0, undefined in JDK 17
        "a\u1734slur1 \u1734slur2",  # U+1734 is Mc in Unicode 14.0, Mn in JDK 17
        # a mark after an email has no base once the email is replaced,
        # so the ip and ssn after it match in the scrubbed text only
        "a@b.com\u0301192.168.0.1 and a@b.com\u0301123-45-6789",
    ]
    cols = ["scrubbed_text", "pii_count", "toxic_hits", "toxicity_pass"]
    got = Q.with_pii_scrub(spark.createDataFrame([(t,) for t in texts], "text string"))
    rows = [r.asDict() for r in got.select(*cols).collect()]
    assert [r["toxic_hits"] for r in rows] == [0, 1, 1, 0, 3, 3, 2, 0, 0, 1, 1, 0]
    assert [r["pii_count"] for r in rows][-5:] == [2, 2, 1, 0, 2]
    assert rows[-1]["scrubbed_text"] == "<EMAIL>\u0301<IP> and <EMAIL>\u0301<SSN>"
    assert rows == [Q.pii_scrub_py(t) for t in texts]


def test_java_word_view_matches_jvm_on_every_code_point(spark):
    """Java's \\b takes word-ness from JDK 17's Character tables (Unicode
    13.0), the kernel from unicodedata corrected by _JDK17_CATEGORY. For
    every code point, the character after 'a' (a mark there has a base)
    and after ' ' (a mark there has none) must start a boundary in the
    view exactly where it does in Java. The table holds for one pair of
    versions, so an upgrade of either side fails here."""
    import re
    import unicodedata

    from pyspark.sql import functions as F

    cps = [c for c in range(0x110000) if not 0xD800 <= c <= 0xDFFF]
    chars = spark.createDataFrame(pd.DataFrame({"cp": cps, "c": [chr(c) for c in cps]}))
    got = chars.select(
        "cp",
        F.concat(F.lit("a"), "c").rlike(r"^a\b").alias("after_letter"),
        F.concat(F.lit(" "), "c").rlike(r"^ \b").alias("after_space"),
    ).toPandas()
    java = dict(zip(got["cp"], zip(got["after_letter"], got["after_space"])))
    after_letter, after_space = re.compile(r"a\b"), re.compile(r" \b")
    wrong = [
        hex(c) for c in cps
        if (bool(after_letter.match(Q._java_word_view("a" + chr(c)))),
            bool(after_space.match(Q._java_word_view(" " + chr(c))))) != java[c]
    ]
    jvm = spark.sparkContext._jvm.java.lang.System.getProperty("java.specification.version")
    assert len(java) == len(cps)
    assert not wrong, (unicodedata.unidata_version, jvm, len(wrong), wrong[:20])
    # the pair of versions quality._UNICODE_14_WORD_CHARS was built for
    assert (unicodedata.unidata_version, jvm) == ("14.0.0", "17")


def test_str_split_extra_whitespace_is_pinned():
    """The kernel splits words with str.split() unless the text holds a
    character str.split() treats as whitespace and White_Space does not;
    that set is exactly _SPLIT_EXTRA, and every WS_CHARS char is one
    str.split() splits on."""
    extra = {chr(c) for c in range(0x110000) if chr(c).isspace()} - set(Q.WS_CHARS)
    assert extra == set(Q._SPLIT_EXTRA)
    assert all(c.isspace() for c in Q.WS_CHARS)
    assert Q.heuristics_py("a\x1cb c")["n_words"] == 2


def test_keep_combiner(spark, df):
    out = Q.quality_chain(spark, df).select("url", "keep").toPandas()
    keep = dict(zip(out["url"], out["keep"]))
    assert keep["u0"]  # fluent english
    assert not keep["u1"]  # german
    assert not keep["u4"]  # too short
    assert not keep["u9"]  # toxic


def test_ppl_batch_matches_sequential_reference():
    """The vectorized ppl_batch must reproduce the original per-token
    stupid-backoff recurrence (kept here as the reference), and be
    batch-composition invariant (a text scores the same alone as inside
    any batch — Arrow batch boundaries move with partitioning)."""
    import math

    uni, bi, total = Q.build_ppl_tables()

    def ref(text):  # the pre-vectorization implementation, verbatim
        toks = Q._WORD_RE.findall((text or "").lower())
        if not toks:
            return float(10**9)
        vocab = len(uni) + 1
        floor = 1.0 / (total + vocab)
        logp = 0.0
        prev = None
        for t in toks:
            if prev is not None and (prev, t) in bi:
                p = bi[(prev, t)] / uni[prev]
            elif t in uni:
                p = Q.PPL_BACKOFF * uni[t] / total
            else:
                p = Q.PPL_BACKOFF * floor
            logp += math.log(p)
            prev = t
        return round(float(math.exp(-logp / len(toks))), 4)

    from neuscraper_spark.corpus import gen_pages

    texts = [p["text"] for p in gen_pages(99, 40)]
    texts += ["", "zzz qqq xxy unseen words only", "the the the", None,
              "the fast key order and value with that"]
    got = Q.ppl_batch(texts)
    for t, g in zip(texts, got):
        r = ref(t)
        assert abs(g - r) <= max(1e-6 * r, 1e-6), (t, g, r)
    # batch-composition invariance: exact equality required
    for i in (0, 3, 7, len(texts) - 1):
        assert Q.ppl_batch([texts[i]])[0] == got[i]
    singles = [Q.ppl_batch([t])[0] for t in texts]
    assert singles == got


def test_stopword_regex_matches_split_membership(spark):
    """r6: _stop_hits as a bounded-alternation regex must equal the
    token-set intersection it replaced, including apostrophe/accent
    boundaries and sub-word non-matches."""
    from pyspark.sql import functions as F

    from neuscraper_spark.operators.quality import (
        JAVA_STOPWORD_RE,
        STOPWORDS,
    )

    texts = [
        "the cat and the hat",
        "theory of operation",            # 'the' only as sub-word -> 0 hits
        "a'the l'autre que",              # apostrophe-joined runs
        "THE AND",                        # case folding
        "",                               # empty
        "und der die das",
        "que qué café de",      # accents adjacent
        "a-a-a to,of;and",                # punctuation separators
        "isis onon byby",                 # doubled stopwords as sub-words
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    old = F.size(
        F.array_intersect(
            F.array_distinct(F.split(F.lower(F.col("text")), r"[^a-zà-ÿ']+")),
            F.array(*[F.lit(s) for s in STOPWORDS]),
        )
    )
    new = F.size(
        F.array_distinct(
            F.regexp_extract_all(
                F.lower(F.col("text")), F.lit(JAVA_STOPWORD_RE), F.lit(1)
            )
        )
    )
    rows = df.select(old.alias("o"), new.alias("n")).collect()
    assert all(r.o == r.n for r in rows), rows
