"""C4-style line-level cleaning + URL canonicalization — the two
document-curation stages that sit beside the Gopher repetition rules
(operators/repetition.py) in a web-corpus pipeline.

Public sources for the semantics: Raffel et al. 2020 (C4, §2.2 — keep
lines ending in terminal punctuation with enough words, drop
"javascript" lines, drop pages containing "lorem ipsum" or a curly
brace) and the standard URL-canonicalization steps every crawl dedup
applies (lowercase, scheme/www strip, query strip, trailing-slash
strip). The reference pipeline extracts at node level; these are the
downstream page-level curation stages re-expressed as native Catalyst
plans.

Pinned semantics, mirrored exactly by the DuckDB oracles in
queries.py (q_c4_lines / q_url_dedup):

* line = element of split(text, '\\n'), trimmed; empty lines dropped.
* a line is KEPT iff it ends in one of ``. ! ? "``, has >= 5
  whitespace-delimited words (``\\S+`` count), and does not contain
  "javascript" (case-insensitive).
* ``clean_text`` = kept lines re-joined with '\\n' in original order
  ('' when nothing survives).
* page flags: ``has_lorem`` ("lorem ipsum" in lowered text),
  ``has_brace`` ('{' anywhere). ``page_pass`` = at least
  ``min_kept_lines`` kept lines AND neither flag (C4 uses >= 3
  sentences at corpus scale; the fixture default is 1 so both branches
  are populated at sf0.01 — callers pass their own threshold).
* url_norm = lowercase -> strip ^https?:// -> strip ^www. -> strip
  ?query -> strip trailing /.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

TERMINAL_PUNCT_RE = '[.!?"]$'
MIN_LINE_WORDS = 5
LINE_BLOCKLIST = "javascript"


def c4_line_filter(df: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text",
                   min_kept_lines: int = 1) -> DataFrame:
    """One row per input row: (id, n_lines_kept, clean_text, has_lorem,
    has_brace, page_pass).

    Plan shape: posexplode -> native line predicates -> one id-keyed
    agg that re-assembles kept lines in order (array_sort inside the
    agg — the A1 flagship pattern, shuffle-order independent). The
    page flags ride the original row, so the only exchange is the
    id-keyed agg."""
    lines = (
        df.select(id_col, F.posexplode(F.split(F.col(text_col), "\n")).alias("_pos", "_l"))
        .select(id_col, "_pos", F.trim("_l").alias("_l"))
        .filter(F.col("_l") != "")
    )
    kept = lines.filter(
        F.col("_l").rlike(TERMINAL_PUNCT_RE)
        & (F.regexp_count(F.col("_l"), F.lit(r"\S+")) >= MIN_LINE_WORDS)
        & (F.instr(F.lower("_l"), LINE_BLOCKLIST) == 0)
    )
    agg = kept.groupBy(id_col).agg(
        F.count("*").alias("n_lines_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_pos", "_l"))),
                lambda x: x["_l"],
            ),
            "\n",
        ).alias("clean_text"),
    )
    out = (
        df.withColumn("has_lorem", F.instr(F.lower(text_col), "lorem ipsum") > 0)
        .withColumn("has_brace", F.instr(F.col(text_col), "{") > 0)
        .join(agg, id_col, "left")
        .withColumn("n_lines_kept", F.coalesce("n_lines_kept", F.lit(0)))
        .withColumn("clean_text", F.coalesce("clean_text", F.lit("")))
    )
    return out.withColumn(
        "page_pass",
        (F.col("n_lines_kept") >= min_kept_lines)
        & ~F.col("has_lorem")
        & ~F.col("has_brace"),
    )


def with_url_norm(df: DataFrame, url_col: str = "url",
                  out_col: str = "url_norm") -> DataFrame:
    """Canonical URL column: lowercase, scheme/www/query/trailing-slash
    stripped. Pure codegen — four regexp_replace steps, no Python."""
    c = F.lower(F.col(url_col))
    c = F.regexp_replace(c, "^https?://", "")
    c = F.regexp_replace(c, r"^www\.", "")
    c = F.regexp_replace(c, r"\?.*$", "")
    c = F.regexp_replace(c, "/+$", "")
    return df.withColumn(out_col, c)


def url_dedup(df: DataFrame, id_col: str = "doc_id",
              url_col: str = "url") -> DataFrame:
    """Exact URL-level dedup: one row per canonical URL with the kept
    representative (min id — deterministic) and the duplicate count.
    A (url_norm)-keyed hash agg: the D1 shape on the canonical key."""
    return (
        with_url_norm(df, url_col)
        .groupBy("url_norm")
        .agg(
            F.count("*").alias("n_docs"),
            F.min(id_col).alias("keeper"),
        )
    )


def apply_corpus_filters(
    curated: DataFrame,
    *,
    dedup_urls: bool = True,
    repetition: bool = True,
    near_dup_threshold: float | None = None,
    substring_w: int | None = None,
    url_col: str = "url",
    text_col: str = "text",
) -> DataFrame:
    """The post-curation filter chain of a production corpus build,
    applied in fixed order (cheapest-per-row first, so each stage sees
    fewer rows):

      1. URL canonical dedup — keep the lexicographically-min raw url
         per canonical url (deterministic; one url_norm-keyed window).
      2. Gopher repetition filter — drop rows failing
         ``repetition_pass`` (operators/repetition.py).
      3. MinHash near-dup dedup (optional, enabled by a threshold) —
         keep one representative per near-dup cluster
         (operators/dedup.py D3+D6).
      4. Substring-level dedup (optional, enabled by a window width —
         Lee et al. use 50): corpus-wide duplicated w-token spans are
         EXCISED from the surviving rows' text (rows are edited, not
         dropped; operators/substring_dedup.py).

    Everything is lazy transformations — no driver-side actions — so
    the chain composes into a single resumable TableWriter write.
    """
    df = curated
    if dedup_urls:
        w = Window.partitionBy("url_norm").orderBy(url_col)
        df = (
            with_url_norm(df, url_col)
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn", "url_norm")
        )
    if repetition:
        from .repetition import with_repetition

        # metrics key on a CONTENT hash over distinct rows, not the raw
        # url: without --dedup-urls a twice-crawled url would otherwise
        # aggregate both copies' lines as one document, read ~50% dup
        # fraction, and silently drop every copy (r5 review)
        base = df.withColumn(
            "_rid", F.xxhash64(F.col(url_col), F.col(text_col))
        )
        uniq = base.select("_rid", text_col).dropDuplicates(["_rid"])
        rep = with_repetition(uniq, id_col="_rid", text_col=text_col).select(
            "_rid", "repetition_pass"
        )
        df = (
            base.join(rep, "_rid")
            .filter("repetition_pass")
            .drop("_rid", "repetition_pass")
        )
    if near_dup_threshold is not None:
        from .dedup import dedup_keep_representatives, minhash_lsh_pairs

        # the minhash/CC operators key on int64 ids: derive a stable
        # 64-bit id from the url (deterministic across runs/executors;
        # the cluster representative is then the min hashed id —
        # arbitrary but stable)
        ids = df.withColumn("_nid", F.xxhash64(F.col(url_col)))
        pairs = minhash_lsh_pairs(
            ids, text_col=text_col, id_col="_nid", threshold=near_dup_threshold
        )
        df = dedup_keep_representatives(ids, pairs, id_col="_nid").drop("_nid")
    if substring_w is not None:
        from .substring_dedup import remove_duplicate_windows

        clean = remove_duplicate_windows(
            df.select(url_col, text_col), w=substring_w,
            id_col=url_col, text_col=text_col,
        ).select(
            url_col,
            F.col("clean_text").alias("_ct"),
            "n_dup_windows",
            "n_removed",
        )
        df = (
            df.join(clean, url_col, "left")
            .withColumn(text_col, F.coalesce("_ct", F.col(text_col)))
            .drop("_ct")
        )
    return df


def decontaminate(
    df: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination: flag corpus documents that share any
    word ``n``-gram with an evaluation set (the GPT-3 appendix-C /
    PaLM 13-gram rule — Brown et al. 2020 §C use 13-grams; ``n`` is a
    parameter because the right value depends on tokenizer and eval
    suite).

    Returns ``df`` plus ``n_hits`` (distinct benchmark n-grams found in
    the document) and ``contaminated`` (n_hits > 0). Training-corpus
    builds drop ``contaminated`` rows so eval numbers stay honest.

    Scale shape: the eval set is tiny next to a 100 TB corpus, so its
    distinct grams BROADCAST; corpus grams are generated per row (the
    d2 gram machinery) and cut down by the broadcast hash join before
    anything shuffles — the only exchange is the id-keyed count of hit
    rows, which is bounded by actual contamination, not corpus size.
    """
    from .dedup import word_ngram_rows

    # staged gram rows (r6): word_ngram_rows stages the words array so
    # the gram lambda binds an attribute — an inline words expression
    # re-ran the split per gram position (see dedup._ngram_array note)
    bench_grams = (
        word_ngram_rows(benchmark, text_col, None, n, gram_col="_g")
        .distinct()
    )
    hits = (
        word_ngram_rows(df, text_col, id_col, n, gram_col="_g", out_id=id_col)
        .join(F.broadcast(bench_grams), "_g")
        # grams are distinct within a document, so count == distinct
        .groupBy(id_col)
        .agg(F.count("_g").alias("n_hits"))
    )
    return (
        df.join(hits, id_col, "left")
        .withColumn("n_hits", F.coalesce("n_hits", F.lit(0)))
        .withColumn("contaminated", F.col("n_hits") > 0)
    )


# ---------------------------------------------------------------------------
# single-process twins (pytest parity)
# ---------------------------------------------------------------------------


def c4_line_filter_py(text: str, min_kept_lines: int = 1) -> dict:
    kept = []
    for ln in text.split("\n"):
        ln = ln.strip()
        if not ln:
            continue
        if (
            re.search(TERMINAL_PUNCT_RE, ln)
            and len(re.findall(r"\S+", ln)) >= MIN_LINE_WORDS
            and LINE_BLOCKLIST not in ln.lower()
        ):
            kept.append(ln)
    has_lorem = "lorem ipsum" in text.lower()
    has_brace = "{" in text
    return {
        "n_lines_kept": len(kept),
        "clean_text": "\n".join(kept),
        "has_lorem": has_lorem,
        "has_brace": has_brace,
        "page_pass": len(kept) >= min_kept_lines and not has_lorem and not has_brace,
    }


def url_norm_py(url: str) -> str:
    u = url.lower()
    u = re.sub("^https?://", "", u)
    u = re.sub(r"^www\.", "", u)
    u = re.sub(r"\?.*$", "", u)
    u = re.sub("/+$", "", u)
    return u
