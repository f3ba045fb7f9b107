"""spark-submit entry point for the full curation pipeline.

    spark-submit --py-files neuscraper_spark.zip jobs/run_pipeline.py \
        --input /path/web_pages_parquet --output /path/curated_table \
        [--partitions 2048] [--mode resume|overwrite]
        [--streaming] [--bpe-merges N] [--sample R] [--mix en=0.6,de=0.4]

Packaging: `python jobs/package.py` zips the library for --py-files.
On a cluster the same script runs unchanged at N or 4N executors: the
input is one row per page (narrow python stages scale with executors),
model/vocab/LM tables broadcast once per executor, output commits
per-partition manifests so a preempted run resumes mid-corpus.
"""

from __future__ import annotations

import argparse
import os
import sys

# direct `python jobs/run_pipeline.py` runs resolve the library from the
# repo; under spark-submit the --py-files zip takes precedence anyway
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="web_pages parquet/iceberg path")
    ap.add_argument("--output", required=True, help="curated table root")
    ap.add_argument("--partitions", type=int, default=None)
    ap.add_argument("--mode", choices=["resume", "overwrite"], default="resume")
    ap.add_argument("--threshold", type=float, default=None)
    ap.add_argument(
        "--compact",
        action="store_true",
        help="after the write, merge each partition's small parquet "
        "files (Iceberg rewrite_data_files maintenance)",
    )
    ap.add_argument(
        "--compact-zorder", default=None, metavar="COL,COL",
        help="with --compact: re-cluster each partition into Z-order "
        "range slices over these numeric columns (OPTIMIZE ZORDER) so "
        "file skipping works on every listed column",
    )
    ap.add_argument(
        "--compact-files", type=int, default=4,
        help="target files per partition for --compact-zorder",
    )
    ap.add_argument(
        "--dedup-urls", action="store_true",
        help="keep one row per canonical url (scheme/www/query/slash "
        "stripped) before writing",
    )
    ap.add_argument(
        "--repetition-filter", action="store_true",
        help="drop documents failing the Gopher repetition rules",
    )
    ap.add_argument(
        "--near-dup", type=float, default=None, metavar="JACCARD",
        help="MinHash+LSH near-dup dedup at this estimated-Jaccard "
        "threshold (keeps one representative per cluster)",
    )
    ap.add_argument(
        "--substring-dedup", type=int, default=None, metavar="W",
        help="excise every W-token span occurring >= 2 times corpus-wide "
        "from surviving rows' text (Lee et al. 2022 ExactSubstr; 50 is "
        "the published setting)",
    )
    ap.add_argument(
        "--sample", type=float, default=None, metavar="RATE",
        help="keep a deterministic md5(url)-keyed fraction of curated "
        "rows (reproducible across runs and cluster sizes; samples "
        "nest by rate under one salt)",
    )
    ap.add_argument(
        "--mix", default=None, metavar="L=W,L=W",
        help="target language shares for the final draw, e.g. "
        "en=0.6,de=0.4 (strata = lang_pred; unlisted languages drop)",
    )
    ap.add_argument(
        "--mix-total", type=int, default=None,
        help="mixture budget for --mix, in units of --mix-by",
    )
    ap.add_argument(
        "--mix-by", choices=["words", "docs", "bpe"], default="words",
        help="budget unit for --mix-total: n_words sum (default), "
        "document count, or trained-BPE token count (needs "
        "--bpe-merges)",
    )
    ap.add_argument(
        "--sample-salt", default="curate",
        help="salt for --sample/--mix draws; change to redraw, reuse "
        "to keep draws aligned across tables",
    )
    ap.add_argument(
        "--expect", action="store_true",
        help="write-audit-publish: audit the written bytes against the "
        "curated-table expectations (url unique/non-empty, lang in "
        "set, ranges) and refuse to commit a violating batch",
    )
    ap.add_argument(
        "--metrics", action="store_true",
        help="after the write, scan the committed table once and save "
        "corpus metrics (per-rule counts, keep rate, language mix) to "
        "<output>/_metrics.json",
    )
    ap.add_argument(
        "--streaming", action="store_true",
        help="treat --input as a parquet drop directory and run the "
        "same curation chain as a Structured Streaming job into the "
        "exactly-once table sink (availableNow drain: processes the "
        "current backlog and stops; re-running resumes from the "
        "checkpoint at <output>/_stream_ckpt). Corpus-global options "
        "(dedup/near-dup/sample/mix/compact) are batch-only",
    )
    ap.add_argument(
        "--bpe-merges", type=int, default=None, metavar="N",
        help="train an N-merge BPE tokenizer on the curated text (one "
        "word-count shuffle + driver-side merges), annotate each row "
        "with n_bpe_tokens, and save the tokenizer to <output>/_bpe.json"
        " — enables --mix-by bpe token budgets",
    )
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from neuscraper_spark import config as C
    from neuscraper_spark.operators.extract import extract_curate_fused
    from neuscraper_spark.session import get_spark
    from neuscraper_spark.sources.writer import TableWriter, url_host

    spark = get_spark("neuscraper_pipeline")

    thr = args.threshold if args.threshold is not None else C.PRIMARY_THRESHOLD

    if args.streaming:
        # stateless chain -> exactly-once table sink; global operators
        # need the whole corpus and stay batch-only
        blocked = [
            n for n, v in (
                ("--dedup-urls", args.dedup_urls),
                ("--repetition-filter", args.repetition_filter),
                ("--near-dup", args.near_dup is not None),
                ("--substring-dedup", args.substring_dedup is not None),
                ("--sample", args.sample is not None),
                ("--mix", bool(args.mix)),
                ("--compact", args.compact),
                ("--bpe-merges", args.bpe_merges is not None),
            ) if v
        ]
        if blocked:
            ap.error(f"{', '.join(blocked)} are batch-only (corpus-global)")
        from neuscraper_spark.operators.expectations import CURATED_RULES
        from neuscraper_spark.streaming.curate import (
            curated_stream,
            read_page_stream,
        )
        from neuscraper_spark.streaming.table_sink import stream_to_table

        stream = curated_stream(
            spark, read_page_stream(spark, args.input), threshold=thr
        )
        q = stream_to_table(
            stream,
            args.output,
            os.path.join(args.output, "_stream_ckpt"),
            expectations=CURATED_RULES if args.expect else None,
        )
        q.awaitTermination()
        writer = TableWriter(args.output, partition_col="_batch")
        print(f"stream drained: {len(writer.snapshots())} snapshots, "
              f"{writer.read(spark).count()} rows committed")
        spark.stop()
        return

    web_pages = spark.read.parquet(args.input)
    if args.partitions:
        web_pages = web_pages.repartition(args.partitions)
    # ONE python stage (parse+score+assemble+the whole quality chain),
    # byte-identical to the staged plan (tested)
    curated = extract_curate_fused(spark, web_pages, threshold=thr)
    if (args.dedup_urls or args.repetition_filter or args.near_dup is not None
            or args.substring_dedup is not None):
        from neuscraper_spark.operators.curation import apply_corpus_filters

        curated = apply_corpus_filters(
            curated,
            dedup_urls=args.dedup_urls,
            repetition=args.repetition_filter,
            near_dup_threshold=args.near_dup,
            substring_w=args.substring_dedup,
        )
    if args.mix and not args.mix_total:
        ap.error("--mix requires --mix-total")
    if args.mix_by == "bpe" and args.bpe_merges is None:
        ap.error("--mix-by bpe requires --bpe-merges")
    if args.bpe_merges is not None:
        import json as _json

        from neuscraper_spark.bpe import encode_col, train_bpe_on

        tok = train_bpe_on(curated, text_col="text", n_merges=args.bpe_merges)
        # budgets need the count, not the ids — keep the table narrow
        curated = encode_col(curated, tok, text_col="text").drop("bpe_ids")
        os.makedirs(args.output, exist_ok=True)
        with open(os.path.join(args.output, "_bpe.json"), "w") as f:
            _json.dump(tok.to_dict(), f)
    if args.sample is not None:
        from neuscraper_spark.operators.sampling import deterministic_sample

        curated = deterministic_sample(
            curated, args.sample, key_col="url", salt=args.sample_salt
        )
    if args.mix:
        from neuscraper_spark.operators.sampling import mix_corpus

        targets = {}
        for part in args.mix.split(","):
            lang, _, w = part.partition("=")
            targets[lang.strip()] = float(w)
        curated = mix_corpus(
            curated,
            targets,
            total_target=args.mix_total,
            stratum_col="lang_pred",
            key_col="url",
            salt=args.sample_salt,
            weight_col={"words": "n_words", "bpe": "n_bpe_tokens"}.get(
                args.mix_by
            ),
        )
    # partition the output by url-host bucket: stable, bounded
    # cardinality, and co-locates per-site reads downstream
    curated = curated.withColumn(
        "host_bucket", F.pmod(F.hash(url_host(F.col("url"))), F.lit(64))
    )

    writer = TableWriter(args.output, partition_col="host_bucket")
    expectations = None
    if args.expect:
        from neuscraper_spark.operators.expectations import CURATED_RULES

        expectations = CURATED_RULES
    snapshot = writer.write(curated, mode=args.mode, expectations=expectations)
    print(f"committed partitions: {len(snapshot['committed_now'])}, "
          f"rows: {snapshot['rows_written']}")
    if args.compact:
        zcols = args.compact_zorder.split(",") if args.compact_zorder else None
        comp = writer.compact(
            spark,
            layout_cols=zcols,
            target_files=args.compact_files if zcols else 1,
            min_files=1 if zcols else 2,
        )
        print(f"compacted partitions: {len(comp['compaction'])}"
              + (f" (z-order {zcols})" if zcols else ""))
    if args.metrics:
        # one metadata-cheap scan of the COMMITTED table (not a re-run
        # of the python chain): the corpus report a curation run files
        import json

        t = writer.read(spark)
        row = t.agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("keep").cast("long")).alias("n_keep"),
            F.sum((~F.col("quality_pass")).cast("long")).alias("n_fail_quality"),
            F.sum((F.col("pii_count") > 0).cast("long")).alias("n_with_pii"),
            F.sum((~F.col("toxicity_pass")).cast("long")).alias("n_toxic"),
            F.round(F.avg("ppl"), 4).alias("avg_ppl"),
        ).collect()[0]
        langs = {
            r["lang_pred"]: r["n"]
            for r in t.groupBy("lang_pred").agg(F.count("*").alias("n")).collect()
        }
        metrics = {**row.asDict(), "lang_mix": langs,
                   "snapshot_id": snapshot.get("snapshot_id")}
        with open(os.path.join(args.output, "_metrics.json"), "w") as f:
            json.dump(metrics, f, indent=1, default=str)
        print(f"metrics: kept {row['n_keep']}/{row['n_docs']}")
    spark.stop()


if __name__ == "__main__":
    main()
