"""Physical-plan shape assertions: the plans we want, not just plans
that pass (pushdown, broadcast, bounded shuffle counts, codegen)."""

import pytest
from pyspark.sql import functions as F

from neuscraper_spark.corpus import web_pages_df
from neuscraper_spark.operators.extract import extract_pipeline
from neuscraper_spark.operators.quality import quality_chain
from neuscraper_spark.queries import all_queries

SF_DIR = "/root/testdata/sf0.01"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushed_to_parquet_scan(spark):
    df = all_queries()["f1_filter_project"](spark, SF_DIR)
    plan = plan_of(df)
    assert "PushedFilters: [" in plan
    assert "l_returnflag" in plan.split("PushedFilters:")[1][:200]
    # column pruning: the scan reads only what the query needs
    read_schema = plan.split("ReadSchema:")[1][:300]
    assert "l_shipdate" not in read_schema


def test_j1_is_broadcast_join(spark):
    plan = plan_of(all_queries()["j1_left_join"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_a1_single_shuffle_no_global_sort(spark):
    plan = plan_of(all_queries()["a1_ordered_concat"](spark, SF_DIR))
    assert plan.count("Exchange") == 1  # partial+final agg, one exchange
    assert "Sort " not in plan  # ordering happens inside the agg expr


@pytest.fixture(scope="module")
def wp_parquet(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("wp") / "web_pages")
    web_pages_df(spark, seed=1, n_pages=8, partitions=2).write.parquet(path)
    return spark.read.parquet(path)


def test_extract_pipeline_single_shuffle(spark, wp_parquet):
    # r5: chunking is narrow (parse_chunks) — the only exchange left is
    # the kept-text url agg. The sf1 event log showed the grouped route
    # shuffled 136% of the html payload; this pin keeps it dead.
    plan = plan_of(extract_pipeline(spark, wp_parquet))
    assert plan.count("Exchange") == 1  # url agg, nothing else
    assert plan.count("MapInPandas") == 2  # parse+chunk + score only


def test_quality_chain_single_python_stage(spark, wp_parquet):
    full = quality_chain(spark, extract_pipeline(spark, wp_parquet)).filter("keep")
    plan = plan_of(full)
    assert plan.count("MapInPandas") == 3  # parse + score + langid/ppl
    assert "ArrowEvalPython" not in plan  # no scalar-udf duplication risk
    assert "BatchEvalPython" not in plan  # no row-at-a-time python, ever


def _expression_classes(tree) -> set[str]:
    """Short class names of every node and expression in a plan's JSON form."""
    found, stack = set(), [tree]
    while stack:
        o = stack.pop()
        if isinstance(o, dict):
            if "class" in o:
                found.add(o["class"].rsplit(".", 1)[-1])
            stack.extend(o.values())
        elif isinstance(o, list):
            stack.extend(o)
    return found


def test_curate_fused_is_one_python_stage_no_regex_tail(spark, wp_parquet):
    """The whole quality chain runs in the fused worker: the executed
    plan has exactly one MapInPandas node and no regex, split or lower
    expression anywhere."""
    import json

    from neuscraper_spark.operators.extract import extract_curate_fused

    plan = extract_curate_fused(spark, wp_parquet)._jdf.queryExecution().executedPlan()
    nodes = json.loads(plan.toJSON())
    node_classes = [n["class"].rsplit(".", 1)[-1] for n in nodes]
    assert node_classes.count("MapInPandasExec") == 1, node_classes
    tail = {"RegExpReplace", "RegExpExtractAll", "StringSplit", "Lower"}
    exprs = _expression_classes(nodes)
    assert "PythonUDF" in exprs  # the walk reached the expressions
    assert not exprs & tail, exprs & tail


def test_dedup_plans_no_nested_loop_join(spark):
    # the sketch row registers the LSH paths (incl. d5's) and d2 is
    # gram-equi-join: neither may fall back to a quadratic
    # BroadcastNestedLoopJoin (r1 fix).
    for q in ("d3_d4_d5_sketches", "d2_ngram_jaccard"):
        plan = plan_of(all_queries()[q](spark, SF_DIR))
        assert "BroadcastNestedLoopJoin" not in plan, q
        assert "CartesianProduct" not in plan, q


def test_repetition_plan_shape(spark):
    # the Gopher repetition battery is explode + doc/gram-keyed hash
    # aggs + doc-keyed joins: no cross joins, no python stages
    plan = plan_of(all_queries()["q_repetition"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "MapInPandas" not in plan and "EvalPython" not in plan


def test_ann_plans_no_cartesian(spark):
    # The ANN paths must stay bucketed equi-joins. (The registered
    # s_ann_topk row also carries the S1 brute-force variant, whose
    # broadcast cross with the tiny query side is the intended baseline
    # plan — so assert on the ANN operators directly.)
    from neuscraper_spark.operators.similarity import (
        ann_ivf_topk,
        ann_lsh_topk,
        queries_from_ids,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = queries_from_ids(emb, range(5))
    for name, df in (
        ("lsh", ann_lsh_topk(emb, q, k=10, tables=24, n_planes=2)),
        ("ivf", ann_ivf_topk(emb, q, k=10, n_centroids=16, nprobe=16)),
    ):
        plan = plan_of(df)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_lsh_bucket_exchange_carries_no_vectors(spark):
    # The signature rows are replicated LSH_TABLES× through the bucket
    # join; shipping the embedding there multiplies the shuffle payload
    # by the vector size (r4 ADVICE). Pin: the signature stage emits no
    # vector column, and no shuffle Exchange in either LSH consumer
    # moves one — vectors rejoin only after the slim pair dedup.
    from neuscraper_spark.operators.dedup import embedding_neardup_lsh
    from neuscraper_spark.operators.similarity import (
        ann_lsh_topk,
        lsh_signatures,
        queries_from_ids,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    assert set(lsh_signatures(emb).columns) == {"id", "table", "bucket"}

    q = queries_from_ids(emb, range(5))
    for name, df in (
        ("lsh_topk", ann_lsh_topk(emb, q, k=10)),
        ("neardup", embedding_neardup_lsh(emb, threshold=0.9)),
    ):
        fmt = spark._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        # formatted plan: each node is "(N) <name>" followed by an
        # "Input [n]: [...]" line; shuffle exchanges must be slim
        for block in fmt.split("\n\n"):
            lines = block.strip().splitlines()
            if not lines or not lines[0].lstrip("() 0123456789").startswith(
                "Exchange"
            ):
                continue
            inp = next(ln for ln in lines if ln.startswith("Input"))
            assert "vec" not in inp and "embedding" not in inp, (name, block)


def test_window_queries_are_partitioned(spark):
    # no unpartitioned Window.orderBy (single-task global sort) anywhere
    # in the registered window battery
    for q in ("w2_row_number", "w3_fixed_chunk", "w5_w6_window_calcs"):
        plan = plan_of(all_queries()[q](spark, SF_DIR))
        assert "SinglePartition" not in plan, q


def test_whole_stage_codegen_on_native_queries(spark):
    plan = plan_of(all_queries()["x2_x3_doc_scores"](spark, SF_DIR))
    assert "*(" in plan  # WholeStageCodegen stage marker in compact plans


def test_html_dropped_before_shuffle(spark, wp_parquet):
    """The 100KB html blobs must not survive into any exchange."""
    plan = plan_of(extract_pipeline(spark, wp_parquet))
    for segment in plan.split("Exchange")[1:]:
        assert "html" not in segment.split("+-")[0]


def test_scan_splits_are_cpu_granular(spark, tmp_path):
    """The r3 scan-split fix: a many-small-files table must not collapse
    into a handful of byte-packed partitions (the python stage is CPU-
    bound, so splits must be work-granular — one wave of giant tasks
    per cluster size was a measured 25-35% throughput loss)."""
    from pyspark.sql import functions as F

    assert spark.conf.get("spark.sql.files.maxPartitionBytes") == "1m"
    assert spark.conf.get("spark.sql.files.openCostInBytes") == "256k"
    path = str(tmp_path / "many_files")
    spark.range(0, 20000).select(
        "id", F.concat(F.lit("t" * 200), F.col("id")).alias("text")
    ).repartition(32).write.parquet(path)
    parts = spark.read.parquet(path).rdd.getNumPartitions()
    # tiny files may pack a few per split (per-task overhead), but the
    # fixed 1MB target must keep many waves' worth of splits — and,
    # unlike the default bytesPerCore scaling, the count is independent
    # of the session's parallelism, so a small cluster can never see
    # the whole table as one wave of giant tasks
    assert parts >= 8, parts


def test_quality_tail_zero_shuffle_no_python(spark):
    """q_quality_tail (heuristics + PII scrub + keep over documents) is
    a pure scan->project: no Exchange, no python UDF stage, pruned read
    schema — the shape that holds at 10^12 documents."""
    plan = plan_of(all_queries()["q_quality_tail"](spark, SF_DIR))
    assert "Exchange" not in plan           # narrow, partition-local
    assert "BatchEvalPython" not in plan    # no row-at-a-time python
    assert "ArrowEvalPython" not in plan    # not even vectorized python
    assert "*(1)" in plan                   # whole-stage codegen stage
    read_schema = plan.split("ReadSchema:")[1][:300]
    assert "source" not in read_schema      # unused column pruned


def test_ivf_indexed_probe_prunes_partitions(spark, tmp_path):
    """The stored-index probe reads only probed cell partitions: with
    nprobe=1 the scan's partition filter names exactly one cell."""
    from pyspark.sql import functions as F

    from neuscraper_spark.operators.similarity import (
        ann_ivf_topk_indexed,
        build_ivf_index,
        queries_from_ids,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    root = str(tmp_path / "ivf_plan")
    build_ivf_index(spark, emb, root, n_centroids=8)
    df = ann_ivf_topk_indexed(spark, root, queries_from_ids(emb, [0]), k=3, nprobe=1)
    plan = plan_of(df)
    # the committed-partition filter (cell IN (...)) reaches the scan
    assert "cell" in plan
    df.collect()  # and it executes correctly end-to-end


def test_doc_shape_shingle_staging_survives_optimizer(spark):
    # r6: the exact shingle verify's doc shape must keep lower(text)
    # STAGED as a child-projection column — if the optimizer ever
    # re-inlines it into the transform lambda (the HOF outer-reference
    # re-evaluation pathology, measured 2x), no test would notice from
    # outputs alone. Pin the optimized plan: no lower( call inside any
    # lambdafunction(.
    import re

    from neuscraper_spark.operators.dedup import exact_shingle_jaccard_pairs

    # spark.range, not createDataFrame: the optimizer folds a plan over
    # local relations into one LocalRelation, leaving no lambda to check
    docs = spark.range(1, 3).selectExpr(
        "id AS doc_id",
        "IF(id = 1, 'Some Document Text Here', 'some document text here') AS text",
    )
    pairs = spark.range(1, 2).selectExpr("id AS id_a", "id + 1 AS id_b")
    out = exact_shingle_jaccard_pairs(pairs, docs, threshold=0.5, shingle_per="doc")
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    lambdas = list(re.finditer(r"lambdafunction\(", plan))
    # no lambda at all would make the scan below pass vacuously
    assert lambdas, "no lambdafunction( in the optimized plan:\n" + plan
    for m in lambdas:
        # scan the lambda body (to its balancing paren) for lower(
        depth, i = 1, m.end()
        while i < len(plan) and depth:
            if plan[i] == "(":
                depth += 1
            elif plan[i] == ")":
                depth -= 1
            i += 1
        assert "lower(" not in plan[m.end():i], (
            "lower() re-inlined into a shingle lambda body:\n" + plan[m.end():i]
        )
