"""ClueWeb22 eval-set builder CLI — drop-in for the reference's
``python src/build_test.py`` chain (src/build_test.py:148-199 ->
scripts/inference.sh -> src/eval/run_eval.py).

One Spark job over a vdom annotation zip produces every artifact the
reference eval consumes, in the reference's file formats:

    <out>/gold.csv          Url,TextNodeId,Text,JudgmentIsPrimary
                            (gold_from_zip: wire-parse + label machinery)
    <out>/text_nodes.csv    Url,TextNodeId,Text       (parse stage)
    <out>/predictions.tsv   Url<TAB>TextNodeId<TAB>Task, no header
                            (the neural pipeline at Primary@threshold)

``--eval`` then runs the evaluation in-process and prints the
reference's metric line (the same line jobs/run_eval.py prints from the
files), closing the zip -> gold -> predictions -> metrics chain e2e.

    python jobs/build_test.py --vdom-zip en0001-01.zip --out /tmp/eval --eval
"""

from __future__ import annotations

import argparse
import glob
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _single_file(spark_dir: str, dest: str) -> None:
    """Spark writes a directory; the reference formats are single files."""
    parts = sorted(glob.glob(os.path.join(spark_dir, "part-*")))
    with open(dest, "wb") as out:
        for p in parts:
            with open(p, "rb") as f:
                shutil.copyfileobj(f, out)
    shutil.rmtree(spark_dir)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--vdom-zip", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--threshold", type=float, default=None)
    ap.add_argument("--eval", action="store_true",
                    help="run the evaluation and print the metric line")
    args = ap.parse_args()

    from neuscraper_spark import config as C
    from neuscraper_spark.operators.extract import (
        kept_nodes, parse_chunks, predictions, score_nodes, text_nodes,
    )
    from neuscraper_spark.sources.annotate_pb import gold_from_zip, pages_from_zip
    from neuscraper_spark.session import get_spark

    threshold = args.threshold if args.threshold is not None else C.PRIMARY_THRESHOLD
    os.makedirs(args.out, exist_ok=True)
    spark = get_spark("build_test")

    from pyspark.sql import functions as F

    from neuscraper_spark.functions.text import escape_gold

    # cached: each feeds both its CSV write and the --eval pass (the
    # neural forward and the zip gold parse must not run twice)
    gold = gold_from_zip(spark, args.vdom_zip).cache()
    pages = pages_from_zip(spark, args.vdom_zip)
    chunks = parse_chunks(pages).cache()
    tn = text_nodes(chunks).cache()
    pred = predictions(
        kept_nodes(score_nodes(spark, chunks), threshold=threshold)
    ).cache()

    # text is #N#/#TAB#/#R#-escaped in the files (the reference's eval
    # file format — evaluator.py unescapes on read); the in-process
    # DataFrames stay raw, matching the in-process eval path.
    gold_dir = os.path.join(args.out, "_gold")
    (gold.toDF("Url", "TextNodeId", "Text", "JudgmentIsPrimary")
     .withColumn("Text", escape_gold(F.col("Text")))
     .coalesce(1).write.mode("overwrite").csv(gold_dir, header=True))
    _single_file(gold_dir, os.path.join(args.out, "gold.csv"))

    tn_dir = os.path.join(args.out, "_text_nodes")
    (tn.toDF("Url", "TextNodeId", "Text")
     .withColumn("Text", escape_gold(F.col("Text")))
     .coalesce(1).write.mode("overwrite").csv(tn_dir, header=True))
    _single_file(tn_dir, os.path.join(args.out, "text_nodes.csv"))

    pred_dir = os.path.join(args.out, "_predictions")
    (pred.coalesce(1).write.mode("overwrite")
     .csv(pred_dir, sep="\t", header=False))
    _single_file(pred_dir, os.path.join(args.out, "predictions.tsv"))

    if args.eval:
        from neuscraper_spark.operators.evaluate import evaluate

        m = evaluate(pred, tn, gold).collect()[0]
        print(
            "Metrics for NeuScraper: Acc: %f Prec: %f Rec: %f F1: %f"
            % (m["accuracy"], m["precision"], m["recall"], m["fscore"])
        )
    chunks.unpersist()
    spark.stop()


if __name__ == "__main__":
    main()
