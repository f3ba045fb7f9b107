"""The correctness gate: Spark pipeline vs single-process oracle.

BASELINE.json targets: byte-identical extracted text per url; keep/drop
F1 >= 0.99 vs reference labels (the oracle path, BASELINE.md).
"""

import random

import pandas as pd
import pytest

from neuscraper_spark import oracle
from neuscraper_spark.corpus import WEB_PAGES_DDL, WORDS, gen_pages, web_pages_df
from neuscraper_spark.operators.extract import (
    extract_curate_fused,
    extract_fused,
    extract_pipeline,
    kept_nodes,
    parse_chunks,
    score_nodes,
    text_nodes,
)
from neuscraper_spark.operators.quality import quality_chain


N_PAGES = 40
SEED = 42


@pytest.fixture(scope="module")
def web_pages(spark):
    return web_pages_df(spark, seed=SEED, n_pages=N_PAGES, partitions=4).cache()


@pytest.fixture(scope="module")
def oracle_extracted(pages):
    return oracle.extract_pages(pages).sort_values("url").reset_index(drop=True)


def _sorted(df) -> pd.DataFrame:
    return df.toPandas().sort_values("url").reset_index(drop=True)


def test_staged_byte_identical(spark, web_pages, oracle_extracted):
    got = _sorted(extract_pipeline(spark, web_pages))
    pd.testing.assert_frame_equal(got, oracle_extracted)


def test_fused_byte_identical(spark, web_pages, oracle_extracted):
    got = _sorted(extract_fused(spark, web_pages))
    pd.testing.assert_frame_equal(got, oracle_extracted)


def test_partitioning_invariance(spark, oracle_extracted):
    """Same corpus at a different partition count -> same bytes (the
    local[8]-vs-local[32] scaling claim depends on this)."""
    wp1 = web_pages_df(spark, seed=SEED, n_pages=N_PAGES, partitions=1)
    got = _sorted(extract_pipeline(spark, wp1))
    pd.testing.assert_frame_equal(got, oracle_extracted)


def _long_page(i: int, n_sentences: int, ts) -> dict:
    """One page of ``n_sentences`` <p> sentences of 1-24 words: several
    384-node chunks, with short nodes the scorer drops between kept ones."""
    rng = random.Random(7919 + i)
    words = WORDS["en"]
    body = "".join(
        f"<p>{' '.join(rng.choices(words, k=rng.randint(1, 24))).capitalize()}.</p>"
        for _ in range(n_sentences)
    )
    html = f"<html><head><title>Long page {i}</title></head><body><main>{body}</main></body></html>"
    url = f"https://www.long{i}.example/page.html"
    return {"url": url, "warc_ts": ts, "html": html.encode("utf-8"), "text": "", "lang": "en"}


def test_fused_curate_multi_chunk_pages_match_oracle(spark, pages):
    """Pages of 400-1,000 nodes span 2-3 chunks of different lengths, so
    the fused stage's cross-chunk keep + node order assembly runs; per
    url its output equals the per-page oracle's."""
    long_pages = [_long_page(i, n, pages[0]["warc_ts"]) for i, n in enumerate((400, 1000, 700))]
    all_pages = pages + long_pages
    df = spark.createDataFrame(pd.DataFrame(all_pages), schema=WEB_PAGES_DDL)
    got = extract_curate_fused(spark, df).toPandas().sort_values("url").reset_index(drop=True)
    want = oracle.curate_pages(all_pages).sort_values("url").reset_index(drop=True)
    assert {p["url"] for p in long_pages} <= set(want["url"])
    pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=True)


# Kept texts that reach every branch of the quality kernel: each PII kind,
# blocklist terms in mixed case, a mean word length tie at the fifth
# decimal, letters whose case folding differs between Java and Python
# (ſ U+017F, the Kelvin sign U+212A, İ U+0130, ẞ U+1E9E), and characters
# whose word-ness at \b differs (½, a combining mark).
TIE_TEXT = (
    "The time of the day and the way of the word is all that you can see "
    "from there when they write with some other things for their neighbours "
    "on long evenings."
)
SPECIAL_TEXTS = {
    "pii": "Mail john.doe@example.com or call +1 555-123-4567 about SSN "
           "123-45-6789, card 4111 1111 1111 1111 and host 192.168.0.1 today.",
    "toxic": "They said BadWord1 and sLuR2 in the middle of the day, not slur1é.",
    "fold": "The \u017flur1 of the day is the one with the \u212a sign, "
            "\u0130S it in the STRA\u1e9eE and \u017fo on for the rest of it.",
    "tie": TIE_TEXT,
    "boundary": "Not slur1½ nor 123-45-6789½ nor 1.2.3.4\u0301 made it into "
                "the text of the day, said \u0301slur2 in the end.",
}


def _special_page(name: str, text: str, ts) -> dict:
    """A page whose only kept node is ``text`` (one <p>; the model keeps it)."""
    html = f"<html><body><main><p>{text}</p></main></body></html>"
    url = f"https://www.special.example/{name}.html"
    return {"url": url, "warc_ts": ts, "html": html.encode("utf-8"), "text": "", "lang": "en"}


def test_curate_plans_match_oracle_on_all_columns(spark, pages):
    """extract_curate_fused (the Python quality kernel in the fused
    worker), quality_chain(extract_pipeline) (the Catalyst tail) and
    oracle.curate_pages agree on every output column, in the same order
    and types, over the fixture pages plus pages that reach the PII,
    toxicity and rounding branches."""
    ts = pages[0]["warc_ts"]
    special = [_special_page(k, v, ts) for k, v in SPECIAL_TEXTS.items()]
    all_pages = pages + special
    df = spark.createDataFrame(pd.DataFrame(all_pages), schema=WEB_PAGES_DDL)
    fused = extract_curate_fused(spark, df)
    staged = quality_chain(spark, extract_pipeline(spark, df))
    assert [(f.name, f.dataType) for f in fused.schema.fields] == [
        (f.name, f.dataType) for f in staged.schema.fields
    ]
    want = oracle.curate_pages(all_pages).sort_values("url").reset_index(drop=True)
    assert list(want.columns) == fused.columns
    kept = dict(zip(want["url"], want["text"]))
    assert [kept.get(p["url"]) for p in special] == list(SPECIAL_TEXTS.values())
    row = want.set_index("text").loc
    assert row[SPECIAL_TEXTS["pii"], "pii_count"] == 5
    assert row[SPECIAL_TEXTS["toxic"], "toxic_hits"] == 2
    assert row[SPECIAL_TEXTS["fold"], "toxic_hits"] == 0  # Java folds ASCII only
    assert row[TIE_TEXT, "mean_word_len"] == 3.9063  # 125 / 32, half up
    assert row[SPECIAL_TEXTS["boundary"], ["toxic_hits", "pii_count"]].tolist() == [2, 1]
    for plan in (fused, staged):
        got = plan.toPandas().sort_values("url").reset_index(drop=True)
        pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=True)


def test_text_nodes_match_oracle(spark, web_pages, pages):
    got = text_nodes(parse_chunks(web_pages)).toPandas()
    got = got.sort_values(["url", "text_node_id"]).reset_index(drop=True)
    rows = []
    for p in pages:
        _, _, tn = oracle.extract_page(p["url"], p["html"])
        rows.extend({"url": p["url"], "text_node_id": nid, "text": t} for nid, t in tn)
    want = (
        pd.DataFrame(rows)
        .astype({"text_node_id": "int32"})
        .sort_values(["url", "text_node_id"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want)


def test_kept_node_ids_match_oracle(spark, web_pages, pages):
    scored = score_nodes(spark, parse_chunks(web_pages))
    got = kept_nodes(scored).select("url", "node_id").toPandas()
    got_sets = got.groupby("url")["node_id"].agg(set).to_dict()
    for p in pages:
        _, kept, _ = oracle.extract_page(p["url"], p["html"])
        assert got_sets.get(p["url"], set()) == kept, p["url"]


def test_keep_drop_f1_vs_oracle_labels(spark, web_pages, pages):
    """The headline BASELINE metric, computed the reference's way
    (evaluator.py:27-33). Byte-identity makes it exactly 1.0 — assert the
    target threshold anyway."""
    curated = quality_chain(spark, extract_pipeline(spark, web_pages)).toPandas()
    want = oracle.curate_pages(pages)
    merged = curated.merge(want, on="url", suffixes=("_got", "_want"))
    assert len(merged) == len(want)
    f1 = oracle.f1_keep_drop(merged["keep_want"], merged["keep_got"])
    assert f1 >= 0.99
    # and the full label row agrees
    for col in ("lang_pred", "quality_pass", "toxicity_pass", "keep"):
        assert (merged[f"{col}_got"] == merged[f"{col}_want"]).all(), col
    assert (merged["scrubbed_text_got"] == merged["scrubbed_text_want"]).all()


def test_threshold_sweep_counts(spark, web_pages):
    """M2: one forward pass, all (task, θ) predictions; monotone in θ and
    consistent with kept_nodes at θ=0.9."""
    from neuscraper_spark.operators.extract import threshold_sweep

    scored = score_nodes(spark, parse_chunks(web_pages)).cache()
    sweep = threshold_sweep(scored).toPandas()
    prim = sweep[sweep.task == "Primary"]
    by_thr = prim.groupby("threshold")["node_id"].count()
    assert by_thr.is_monotonic_decreasing
    kept = kept_nodes(scored).count()
    # sweep at 0.9 counts nodes regardless of text!='' fusion
    assert by_thr.loc[0.9] >= kept
    scored.unpersist()


def test_threshold_monotonicity(spark, web_pages):
    """Lower θ keeps a superset of nodes (M2 sweep semantics)."""
    scored = score_nodes(spark, parse_chunks(web_pages)).cache()
    hi = kept_nodes(scored, threshold=0.9).count()
    lo = kept_nodes(scored, threshold=0.5).count()
    assert lo >= hi > 0
    scored.unpersist()
