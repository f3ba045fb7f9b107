"""Deterministic sampling/mixing: reproducibility, nesting, rates,
and plan shape."""

import pytest
from pyspark.sql import functions as F

from neuscraper_spark.operators.sampling import (
    deterministic_sample,
    mix_corpus,
    rate_to_threshold_hex,
    stratified_sample,
)

SF_DIR = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "lang"
    ).cache()


def _ids(df):
    return {r["doc_id"] for r in df.select("doc_id").collect()}


def test_sample_invariant_to_partitioning(spark, docs):
    a = _ids(deterministic_sample(docs.repartition(1), 0.3, "doc_id", salt="t"))
    b = _ids(deterministic_sample(docs.repartition(13), 0.3, "doc_id", salt="t"))
    assert a == b and a


def test_samples_nest_by_rate(spark, docs):
    """Same salt: a smaller rate's sample is a SUBSET of a larger
    rate's (threshold monotonicity) — growing a corpus draw never
    redraws what was already selected."""
    s25 = _ids(deterministic_sample(docs, 0.25, "doc_id", salt="t"))
    s50 = _ids(deterministic_sample(docs, 0.5, "doc_id", salt="t"))
    assert s25 < s50


def test_salt_redraws(spark, docs):
    a = _ids(deterministic_sample(docs, 0.5, "doc_id", salt="a"))
    b = _ids(deterministic_sample(docs, 0.5, "doc_id", salt="b"))
    assert a != b


def test_realized_rate_near_requested(spark, docs):
    n = docs.count()
    got = deterministic_sample(docs, 0.5, "doc_id", salt="t").count()
    assert abs(got / n - 0.5) < 0.1


def test_stratified_whitelist_and_full_stratum(spark, docs):
    out = stratified_sample(
        docs, {"en": 0.5, "zh": 1.0}, "lang", "doc_id", salt="t"
    ).toPandas()
    assert set(out["lang"]) == {"en", "zh"}
    n_zh = docs.filter("lang = 'zh'").count()
    assert (out["lang"] == "zh").sum() == n_zh  # rate-1.0 keeps everything


def test_mix_corpus_caps_and_shares(spark, docs):
    out = mix_corpus(
        docs,
        {"en": 0.3, "de": 0.3, "fr": 0.4},
        total_target=300,
        stratum_col="lang",
        key_col="doc_id",
        salt="t",
    ).toPandas()
    assert set(out["lang"]) <= {"en", "de", "fr"}
    # de and fr under-supply (70 and 64 docs vs 90/120 desired): capped
    # strata contribute everything they have
    assert (out["lang"] == "de").sum() == docs.filter("lang = 'de'").count()
    assert (out["lang"] == "fr").sum() == docs.filter("lang = 'fr'").count()
    # en samples at ~90/218
    n_en = (out["lang"] == "en").sum()
    assert 60 <= n_en <= 120


def test_mix_corpus_token_budget(spark):
    """weight_col switches the unit to sum(weight): the realized
    sampled char mass lands near each stratum's share of the budget."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "lang", "n_chars"
    )
    budget = 120_000
    out = mix_corpus(
        docs,
        {"en": 0.5, "zh": 0.5},
        total_target=budget,
        stratum_col="lang",
        key_col="doc_id",
        salt="t",
        weight_col="n_chars",
    ).toPandas()
    assert set(out["lang"]) <= {"en", "zh"}
    got = out.groupby("lang")["n_chars"].sum()
    for lang in got.index:
        supply = (
            docs.filter(docs.lang == lang)
            .agg({"n_chars": "sum"})
            .first()[0]
        )
        want = min(0.5 * budget, supply)
        assert abs(got[lang] - want) / want < 0.35, (lang, got[lang], want)


def test_sample_plan_is_shuffle_free(spark, docs):
    plan = (
        deterministic_sample(docs, 0.3, "doc_id", salt="t")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan and "EvalPython" not in plan


def test_threshold_hex_boundaries():
    assert rate_to_threshold_hex(0.0) == "00000000"
    assert rate_to_threshold_hex(1.0) == "ffffffff"
    assert rate_to_threshold_hex(0.5) == "80000000"
    assert rate_to_threshold_hex(2.0) == "ffffffff"


# ------------------------------------------------- train/val/test splits


def test_split_proportions_and_determinism(spark):
    from neuscraper_spark.operators.sampling import assign_split

    df = spark.range(0, 4000).selectExpr("cast(id as string) AS url")
    out = assign_split(df, {"train": 0.8, "val": 0.1, "test": 0.1})
    counts = {r["split"]: r["n"] for r in
              out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert set(counts) == {"train", "val", "test"}
    assert abs(counts["train"] / 4000 - 0.8) < 0.03
    assert abs(counts["val"] / 4000 - 0.1) < 0.02
    # deterministic: a re-run labels identically
    again = assign_split(df, {"train": 0.8, "val": 0.1, "test": 0.1})
    assert out.exceptAll(again).count() == 0


def test_split_bands_nest(spark):
    """Growing the first band only ADDS keys: no key swaps between two
    existing splits when a later band's weight changes."""
    from neuscraper_spark.operators.sampling import assign_split

    df = spark.range(0, 2000).selectExpr("cast(id as string) AS url")
    small = assign_split(df, {"train": 0.7, "val": 0.2, "test": 0.1})
    big = assign_split(df, {"train": 0.8, "val": 0.1, "test": 0.1})
    s = {r["url"]: r["split"] for r in small.collect()}
    b = {r["url"]: r["split"] for r in big.collect()}
    for url, lbl in s.items():
        if lbl == "train":
            assert b[url] == "train"  # train is a prefix band: only grows


def test_split_by_host_is_leakage_safe(spark):
    from neuscraper_spark.operators.sampling import assign_split

    df = spark.range(0, 900).selectExpr(
        "concat('https://site', cast(id % 30 as string), "
        "'.example.com/page/', cast(id as string)) AS url"
    )
    out = assign_split(
        df, {"train": 0.6, "val": 0.2, "test": 0.2}, by_host=True
    )
    per_host = (
        out.selectExpr("regexp_extract(url, '^https?://([^/]+)', 1) AS host",
                       "split")
        .groupBy("host")
        .agg(F.countDistinct("split").alias("n"))
        .collect()
    )
    assert all(r["n"] == 1 for r in per_host)  # one split per site


def test_split_by_host_spreads_hostless_urls(spark):
    """A url with no http(s):// host keys on the full url: the hostless
    urls spread over the splits exactly as without by_host, instead of
    sharing the empty-host key and landing in one split."""
    from neuscraper_spark.operators.sampling import assign_split

    weights = {"train": 0.6, "val": 0.2, "test": 0.2}
    df = spark.range(0, 300).selectExpr(
        "concat('site', cast(id as string), '.example.com/page') AS url"
    )
    by_host = {r["url"]: r["split"]
               for r in assign_split(df, weights, by_host=True).collect()}
    by_url = {r["url"]: r["split"] for r in assign_split(df, weights).collect()}
    assert by_host == by_url
    assert set(by_host.values()) == set(weights)


def test_split_validation(spark):
    from neuscraper_spark.operators.sampling import assign_split

    df = spark.range(0, 5).selectExpr("cast(id as string) AS url")
    with pytest.raises(ValueError, match="sum to 1"):
        assign_split(df, {"train": 0.8, "val": 0.1})
    with pytest.raises(ValueError, match=">= 2"):
        assign_split(df, {"train": 1.0})
