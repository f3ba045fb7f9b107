"""Production-job CLI integration: --streaming table-sink mode and
--bpe-merges token budgets (in-process main() drive; the spark-submit
launch contract itself is covered by test_submit_e2e)."""

import importlib.util
import json
import os
import sys

import pytest
from pyspark.sql import SparkSession

from neuscraper_spark.sources.writer import TableWriter

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run_main(monkeypatch, argv):
    spec = importlib.util.spec_from_file_location(
        "run_pipeline_under_test", os.path.join(REPO, "jobs", "run_pipeline.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    monkeypatch.setattr(sys, "argv", ["run_pipeline.py", *argv])
    # the job owns its session in production; under pytest it must not
    # tear down the shared fixture session
    monkeypatch.setattr(SparkSession, "stop", lambda self: None)
    mod.main()


@pytest.fixture()
def page_drop(spark, tmp_path):
    from neuscraper_spark.corpus import web_pages_df

    d = str(tmp_path / "drop")
    web_pages_df(spark, seed=9, n_pages=12, partitions=3).write.parquet(d)
    return d


def test_streaming_mode_lands_exactly_once(spark, page_drop, tmp_path, monkeypatch):
    out = str(tmp_path / "tbl")
    _run_main(monkeypatch, ["--input", page_drop, "--output", out, "--streaming"])
    w = TableWriter(out, partition_col="_batch")
    n1 = w.read(spark).count()
    assert n1 > 0
    urls = w.read(spark).select("url").toPandas()["url"]
    assert urls.is_unique
    # re-run with the same checkpoint: backlog already committed
    _run_main(monkeypatch, ["--input", page_drop, "--output", out, "--streaming"])
    assert w.read(spark).count() == n1


def test_streaming_mode_refuses_global_options(page_drop, tmp_path, monkeypatch):
    with pytest.raises(SystemExit):
        _run_main(
            monkeypatch,
            ["--input", page_drop, "--output", str(tmp_path / "x"),
             "--streaming", "--sample", "0.5"],
        )


def test_bpe_budget_annotation(spark, page_drop, tmp_path, monkeypatch):
    from neuscraper_spark.bpe import BPETokenizer

    out = str(tmp_path / "tbl")
    # --mix-by bpe is validated even before training
    with pytest.raises(SystemExit):
        _run_main(
            monkeypatch,
            ["--input", page_drop, "--output", out, "--mix", "en=1.0",
             "--mix-total", "10", "--mix-by", "bpe"],
        )
    _run_main(
        monkeypatch,
        ["--input", page_drop, "--output", out,
         "--bpe-merges", "64"],
    )
    w = TableWriter(out, partition_col="host_bucket")
    got = w.read(spark)
    assert "n_bpe_tokens" in got.columns and "bpe_ids" not in got.columns
    rows = got.select("text", "n_bpe_tokens").collect()
    assert rows and all(r["n_bpe_tokens"] > 0 for r in rows)
    # the persisted tokenizer reproduces the stored counts
    with open(os.path.join(out, "_bpe.json")) as f:
        tok = BPETokenizer.from_dict(json.load(f))
    for r in rows[:10]:
        assert tok.n_tokens(r["text"]) == r["n_bpe_tokens"]


def test_compact_zorder_flag(spark, page_drop, tmp_path, monkeypatch):
    out = str(tmp_path / "tblz")
    _run_main(
        monkeypatch,
        ["--input", page_drop, "--output", out,
         "--compact", "--compact-zorder", "ppl,n_words",
         "--compact-files", "2"],
    )
    w = TableWriter(out, partition_col="host_bucket")
    got = w.read(spark)
    assert got.count() > 0
    assert w.snapshots()[-1].get("layout_cols") == ["ppl", "n_words"]


def _run_erase(monkeypatch, argv):
    spec = importlib.util.spec_from_file_location(
        "erase_under_test", os.path.join(REPO, "jobs", "erase.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    monkeypatch.setattr(sys, "argv", ["erase.py", *argv])
    monkeypatch.setattr(SparkSession, "stop", lambda self: None)
    mod.main()


def test_erase_cli_both_flavors(spark, tmp_path, monkeypatch):
    from pyspark.sql import functions as F

    root = str(tmp_path / "t")
    df = spark.range(0, 20).select(
        F.concat(F.lit("u"), F.col("id")).alias("url"),
        (F.col("id") % 2).cast("string").alias("host_bucket"),
        (F.col("id") * 10).alias("score"),
    )
    w = TableWriter(root, partition_col="host_bucket")
    w.write(df, mode="resume")
    # position delete first (no embargo), then equality takedown,
    # then materialize both in one maintenance pass
    _run_erase(monkeypatch, ["--table", root, "--where", "score >= 180",
                             "--positions"])
    _run_erase(monkeypatch, ["--table", root, "--where", "url = 'u3'"])
    assert w.read(spark).count() == 17
    _run_erase(monkeypatch, ["--table", root, "--where", "score < 0",
                             "--materialize"])
    assert w.committed_deletes() == []
    assert spark.read.parquet(w.data_dir).count() == 17  # erased from bytes
