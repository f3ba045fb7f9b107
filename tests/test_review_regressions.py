"""Regression pins for the round-5 code-review findings (each verified
live before the fix; see the corresponding commit)."""

import pytest
from pyspark.sql import functions as F

from neuscraper_spark.sources.writer import TableWriter


def _batch(spark, rows):
    return spark.createDataFrame(rows, "url string, bucket string, score long")


@pytest.fixture()
def table(spark, tmp_path):
    w = TableWriter(str(tmp_path / "t"), partition_col="bucket")
    df = spark.range(0, 20).select(
        F.concat(F.lit("u"), F.col("id")).alias("url"),
        (F.col("id") % 2).cast("string").alias("bucket"),
        (F.col("id") * 10).alias("score"),
    )
    w.write(df, mode="resume")
    return w


def test_overwrite_clears_stale_deletes(spark, table):
    """Stale delete files must not apply to the replacement table: an
    equality delete would suppress same-keyed fresh rows, a position
    delete would reference deleted files and block compaction forever."""
    table.delete_where(spark, "url = 'u5'", key_col="url")
    table.delete_positions(spark, "score >= 150")
    table.write(_batch(spark, [("u5", "0", 1), ("u99", "0", 2)]),
                mode="overwrite")
    got = {r["url"] for r in table.read(spark).collect()}
    assert got == {"u5", "u99"}  # u5 NOT suppressed by the stale delete
    assert table.committed_deletes() == []
    table.compact(spark, min_files=1)  # no stale-position refusal


def test_failed_audit_does_not_publish_schema_evolution(spark, table):
    from neuscraper_spark.operators.expectations import ExpectationError

    bad = spark.createDataFrame(
        [("u100", "9", 5, None)],  # fresh partition: resume won't skip it
        "url string, bucket string, score long, lang string",
    )
    with pytest.raises(ExpectationError):
        table.write(bad, mode="resume", evolve=True, defaults={"lang": "und"},
                    expectations={"lang": [("not_null",)]})
    # the rejected batch published NOTHING: no new column, no new rows
    got = table.read(spark)
    assert "lang" not in got.columns
    assert got.count() == 20


def test_read_pruned_with_pending_position_deletes(spark, table):
    table.delete_positions(spark, "score >= 150")  # u15..u19
    out = table.read_pruned(spark, "score", lo=100, hi=190)
    urls = {r["url"] for r in out.collect()}
    assert urls == {f"u{i}" for i in range(10, 15)}
    assert "_file" not in out.columns and "_pos" not in out.columns


def test_merge_rows_matched_excludes_deleted_rows(spark, table):
    """rows_matched counts VISIBLE rows the source replaces; equality-
    deleted rows the rewrite incidentally materializes must not count."""
    table.delete_where(spark, "url = 'u3'", key_col="url")
    snap = table.merge_into(
        spark, _batch(spark, [("u5", "1", 999)]), key_col="url"
    )
    assert snap["merge"]["rows_matched"] == 1  # u5 only, not u3


def test_bpe_trains_on_unicode_words(spark):
    from neuscraper_spark.bpe import train_bpe_on

    df = spark.createDataFrame(
        [(i, "café für straße café") for i in range(10)],
        "doc_id long, text string",
    )
    tok = train_bpe_on(df, n_merges=64)
    # the dominant word must train to ONE piece — pre-fix the Java
    # ASCII-\w split fed 'caf'+'é' fragments that never merge with the
    # Python-side whole word
    assert tok.n_tokens("café") == 1


def test_repetition_filter_survives_duplicate_urls(spark):
    from neuscraper_spark.operators.curation import apply_corpus_filters

    clean = ("the quick brown fox jumps over one lazy dog today "
             "while seven other animals watch quietly from afar")
    df = spark.createDataFrame(
        [("https://a.com/x", clean, 1), ("https://a.com/x", clean, 2)],
        "url string, text string, batch long",
    )
    out = apply_corpus_filters(df, dedup_urls=False, repetition=True)
    # pre-fix: both copies aggregated as one doc, read ~50% duplicate
    # lines, and BOTH were dropped; each copy is clean on its own
    assert out.count() == 2


# ------------------------------------------------------------------ round 6


def test_fast_tokenizer_bails_on_nonascii_tag_whitespace():
    """r6 review: Python \\s matches \\x0b/\\xa0/Unicode spaces but
    stdlib html.parser ends tag names only on [\\t\\n\\r\\f />\\x00] —
    a \\s-based fast pattern silently parsed '<p\\x0bid=x>' as tag 'p'
    while stdlib sees tag 'p\\x0bid=x'. The fast path must now bail and
    match stdlib on every such input."""
    from tests.test_parser import assert_matches_reference

    cases = [
        "<html><body><p\x0bid=x>text</p></body></html>",
        "<html><body><script\x0btype=a>if(a<b){}</script><p>x</p></body></html>",
        "<html><body><br\x0bz><p>y</p></body></html>",
        "<html><body><p\xa0class=c>t</p></body></html>",
        "<html><body><p \x0b>t</p></body></html>",
        "<html><body><p a=\x0b>t</p></body></html>",
        "<html><body><p a=1\xa0b=2>t</p></body></html>",
    ]
    for html in cases:
        assert_matches_reference(html)


def test_cdata_close_matches_running_interpreter():
    """r6 review: the cdata terminator must be the stdlib's own regex
    (introspected), and the fast path must bail wherever that boundary
    is not a strict full end tag (older-interpreter pattern)."""
    from html.parser import HTMLParser

    from tests.test_parser import assert_matches_reference

    from neuscraper_spark.html_parser import _CDATA_CLOSE

    probe = HTMLParser(convert_charrefs=True)
    probe.set_cdata_mode("script")
    assert _CDATA_CLOSE["script"][0].pattern == probe.interesting.pattern
    # content containing a lookalike end tag must chunk identically
    html = '<html><body><script>var s="</scripty>";</script><p>x</p></body></html>'
    assert_matches_reference(html)


def test_minhash_bucket_rows_carry_no_signatures(spark):
    """r6 review: a mega-bucket of near-identical docs must cost the
    aggregation buffer O(members) ids, not O(members)*sig_bytes — no
    signature column may enter the bucket collect_list or its exchange."""
    import re as _re

    import neuscraper_spark.operators.dedup as D2

    docs = spark.createDataFrame(
        [(0, "alpha beta gamma"), (1, "alpha beta gamma"), (2, "delta")],
        "doc_id long, text string",
    )
    plan = (
        D2.minhash_lsh_pairs(docs, threshold=0.3)
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    m = _re.search(r"collect_list\(([^)]*)\)", plan)
    assert m and "sig" not in m.group(1), m.group(0) if m else plan
