"""The benchmark workloads: inputs, plan, one pass, output check.

Each workload object is built from (seed, size) before Spark starts:
it generates (or reuses) its inputs and computes its oracle on a seeded
sample, neither of which is timed. With a session it then builds its
plan, runs a pass and checks a pass's output against the oracle.
"""

from __future__ import annotations

import json
import os
import random
import shutil

import gen


def _cached_json(path: str, compute):
    if not os.path.exists(path):
        with open(path + ".tmp", "w") as f:
            json.dump(compute(), f)
        os.replace(path + ".tmp", path)
    with open(path) as f:
        return json.load(f)


def _read_pages(d: str) -> list[dict]:
    import pyarrow.parquet as pq

    return pq.read_table(os.path.join(d, "pages")).to_pylist()


def _curate_oracle(pages: list[dict]) -> dict:
    """url -> [keep, text] from ``oracle.curate_pages``; pages the
    oracle drops (undecodable, no kept node) are absent."""
    from neuscraper_spark import oracle

    df = oracle.curate_pages(pages)
    return {u: [bool(k), t] for u, k, t in zip(df["url"], df["keep"], df["text"])}


class CurateCommit:
    """extract_curate_fused + host_bucket, committed by TableWriter into
    a fresh table every pass, over small pages."""

    kind = "web_pages"
    commits = True
    # pages the content check compares, per page kind
    sample_per_kind = {"small": 40}

    def __init__(self, seed: int, size: int, cache_root: str):
        self.seed, self.size = seed, size
        self.dir, self.props = gen.ensure(self.kind, seed, size, cache_root)
        self.rows = self.props["rows"]
        self.sample = self._sample()
        self.expected = _cached_json(
            os.path.join(self.dir, f"oracle-{len(self.sample)}.json"),
            lambda: _curate_oracle(self.sample_pages()),
        )

    def _sample(self) -> list[str]:
        """A seeded sample: ``sample_per_kind[kind]`` pages of each kind."""
        rng = random.Random(self.seed)
        kinds = self.props["kinds"]
        urls = []
        for kind, k in self.sample_per_kind.items():
            pool = sorted(u for u, x in kinds.items() if x == kind)
            urls += rng.sample(pool, min(k, len(pool)))
        return sorted(urls)

    def pages(self, spark):
        return spark.read.parquet(os.path.join(self.dir, "pages"))

    def sample_pages(self) -> list[dict]:
        keep = set(self.sample)
        return [p for p in _read_pages(self.dir) if p["url"] in keep]

    def build(self, spark):
        from pyspark.sql import functions as F

        from neuscraper_spark.operators.extract import extract_curate_fused
        from neuscraper_spark.sources.writer import url_host

        curated = extract_curate_fused(spark, self.pages(spark))
        return curated.withColumn("host_bucket", F.pmod(F.hash(url_host(F.col("url"))), F.lit(64)))

    def run_pass(self, spark, plan, out_dir: str):
        from neuscraper_spark.sources.writer import TableWriter

        return out_dir, TableWriter(out_dir, partition_col="host_bucket").write(plan)

    def _compare(self, rows_out: int, sample_rows=None) -> list[str]:
        """Rows out == pages with output; given ``sample_rows``, the
        sample's keep and text == the oracle's."""
        want = self.rows - self.props["no_output_pages"]
        errors = [] if rows_out == want else [f"{rows_out} rows out, want {want}"]
        if sample_rows is None:
            return errors
        got = {r["url"]: [bool(r["keep"]), r["text"]] for r in sample_rows}
        for u in self.sample:
            if got.get(u) != self.expected.get(u):
                errors.append(f"{u}: got {str(got.get(u))[:80]} want {str(self.expected.get(u))[:80]}")
        return errors

    def check(self, spark, out, content: bool) -> list[str]:
        """The committed row count; with ``content``, also the sample read
        back from the committed table. Removes the table."""
        from pyspark.sql import functions as F

        from neuscraper_spark.sources.writer import TableWriter

        out_dir, snap = out
        rows = None
        if content:
            rows = (
                TableWriter(out_dir, partition_col="host_bucket").read(spark)
                .filter(F.col("url").isin(self.sample)).select("url", "keep", "text").collect()
            )
        errors = self._compare(snap["rows_written"], rows)
        shutil.rmtree(out_dir, ignore_errors=True)
        return errors


class CurateLongpage(CurateCommit):
    """extract_curate_fused into Spark's ``noop`` sink, over long pages.
    An observation on the written DataFrame carries the row count, the
    kept share and the sample's rows out of every pass."""

    kind = "long_pages"
    commits = False
    sample_per_kind = {"normal": 4, "bail": 3, "undecodable": 1, "no_kept": 1}

    def build(self, spark):
        from neuscraper_spark.operators.extract import extract_curate_fused

        return extract_curate_fused(spark, self.pages(spark))

    def run_pass(self, spark, plan, out_dir: str) -> dict:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        obs = Observation()
        in_sample = F.col("url").isin(self.sample)
        plan.observe(
            obs,
            F.count(F.lit(1)).alias("rows"),
            F.avg(F.col("keep").cast("double")).alias("kept"),
            F.collect_list(F.when(in_sample, F.struct("url", "keep", "text"))).alias("sample"),
        ).write.format("noop").mode("overwrite").save()
        return obs.get

    def check(self, spark, out, content: bool) -> list[str]:
        return self._compare(out["rows"], out["sample"])


WORKLOADS = {
    "curate_commit": CurateCommit,
    "curate_longpage": CurateLongpage,
}
