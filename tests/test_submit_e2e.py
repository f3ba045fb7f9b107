"""End-to-end launch contract: spark-submit --py-files (north rule,
BASELINE.json:14 'run via spark-submit --py-files on a multi-executor
cluster') driving jobs/run_pipeline.py, plus the inference CLI.

One spark-submit JVM spin-up (~40s) covers: packaging, --py-files
import resolution inside executors, the full pipeline, the resumable
writer, and the committed-read contract.
"""

import json
import os
import shutil
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _spark_submit() -> str:
    for cand in (shutil.which("spark-submit"),):
        if cand:
            return cand
    import pyspark

    return os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")


@pytest.fixture(scope="module")
def input_parquet(spark, tmp_path_factory):
    from neuscraper_spark.corpus import web_pages_df

    path = str(tmp_path_factory.mktemp("subm") / "web_pages")
    web_pages_df(spark, seed=5, n_pages=48, partitions=4).write.parquet(path)
    return path


def test_spark_submit_pipeline_and_resume(spark, input_parquet, tmp_path):
    zip_path = os.path.join(REPO, "neuscraper_spark.zip")
    subprocess.run([sys.executable, os.path.join(REPO, "jobs", "package.py")],
                   check=True, cwd=REPO, capture_output=True)
    assert os.path.exists(zip_path)

    out_table = str(tmp_path / "curated")
    cmd = [
        _spark_submit(), "--master", "local[4]",
        "--py-files", zip_path,
        "--conf", "spark.ui.enabled=false",
        os.path.join(REPO, "jobs", "run_pipeline.py"),
        "--input", input_parquet, "--output", out_table,
        "--partitions", "4", "--dedup-urls", "--metrics",
        # sampling/mixing plumbing rides the same submit: a 0.9
        # deterministic draw (same rows on the resume re-run, so row
        # counts still converge) and a mix whose huge budget caps every
        # stratum at rate 1.0 (drops nothing; langid emits only these 4)
        "--sample", "0.9",
        "--mix", "en=0.25,de=0.25,es=0.25,fr=0.25",
        "--mix-total", "100000000", "--mix-by", "words",
    ]
    env = dict(os.environ, PYSPARK_PYTHON=sys.executable)
    r = subprocess.run(cmd, capture_output=True, text=True, timeout=420, env=env)
    assert r.returncode == 0, r.stderr[-3000:]
    assert "committed partitions:" in r.stdout
    # --metrics: the corpus report derives from the COMMITTED table
    with open(os.path.join(out_table, "_metrics.json")) as f:
        metrics = json.load(f)
    assert metrics["n_docs"] > 0 and "lang_mix" in metrics

    manifests = os.listdir(os.path.join(out_table, "_manifests"))
    assert manifests, "per-partition manifests must exist"
    back = spark.read.parquet(os.path.join(out_table, "data"))
    n_rows = back.count()
    assert n_rows > 0
    assert "keep" in back.columns and "scrubbed_text" in back.columns

    # resume: delete one manifest (simulated crash-before-commit) and
    # re-run — only that partition is reprocessed, row count converges
    victim = os.path.join(out_table, "_manifests", manifests[0])
    os.unlink(victim)
    r2 = subprocess.run(cmd, capture_output=True, text=True, timeout=420, env=env)
    assert r2.returncode == 0, r2.stderr[-3000:]
    assert spark.read.parquet(os.path.join(out_table, "data")).count() == n_rows
    assert os.path.exists(victim)


def test_spark_submit_multi_executor_cluster(spark, input_parquet, tmp_path):
    """The north rule's literal launch sentence: spark-submit --py-files
    on a MULTI-EXECUTOR cluster. local-cluster[2,2,1024] spawns two real
    executor JVMs (own heaps, task schedulers, python worker pools);
    the zip must resolve inside them, not just on the driver."""
    zip_path = os.path.join(REPO, "neuscraper_spark.zip")
    subprocess.run([sys.executable, os.path.join(REPO, "jobs", "package.py")],
                   check=True, cwd=REPO, capture_output=True)
    out_table = str(tmp_path / "curated_mc")
    cmd = [
        _spark_submit(), "--master", "local-cluster[2,2,1024]",
        "--py-files", zip_path,
        "--conf", "spark.ui.enabled=false",
        "--conf", "spark.executor.memory=1g",
        os.path.join(REPO, "jobs", "run_pipeline.py"),
        "--input", input_parquet, "--output", out_table,
        "--partitions", "4",
    ]
    env = dict(os.environ, PYSPARK_PYTHON=sys.executable)
    r = subprocess.run(cmd, capture_output=True, text=True, timeout=540, env=env)
    assert r.returncode == 0, r.stderr[-3000:]
    back = spark.read.parquet(os.path.join(out_table, "data"))
    assert back.count() > 0
    assert "keep" in back.columns and "scrubbed_text" in back.columns


def test_inference_cli_roundtrip(spark, input_parquet, tmp_path):
    from pyspark.sql import functions as F

    from neuscraper_spark import config as C
    from neuscraper_spark.operators.extract import parse_chunks, score_nodes
    from neuscraper_spark.operators.parity import encode_chunks_json

    wp = spark.read.parquet(input_parquet)
    enc_dir = str(tmp_path / "encoded")
    encode_chunks_json(wp).select("json_line").write.mode("overwrite").text(enc_dir)

    out_dir = str(tmp_path / "preds")
    r = subprocess.run(
        [sys.executable, os.path.join(REPO, "jobs", "run_inference.py"),
         "--input", enc_dir, "--output", out_dir, "--single-file"],
        capture_output=True, text=True, timeout=420,
        cwd=REPO, env=dict(os.environ, SPARK_GRAFT_CPUS="4"),
    )
    assert r.returncode == 0, r.stderr[-3000:]

    got = (
        spark.read.csv(out_dir, sep="\t", header=False)
        .toDF("url", "text_node_id", "task")
        .select("url", F.col("text_node_id").cast("int").alias("text_node_id"))
        .toPandas()
    )
    want = (
        score_nodes(spark, parse_chunks(wp))
        .filter((F.col("scores")[0] > C.PRIMARY_THRESHOLD) & (F.col("node_id") != 0))
        .select("url", F.col("node_id").alias("text_node_id"))
        .toPandas()
    )
    assert set(map(tuple, got.values.tolist())) == set(map(tuple, want.values.tolist()))
    assert len(got) > 0
