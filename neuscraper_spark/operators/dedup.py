"""Deduplication operators for a large-scale training-data pipeline.

No counterpart in the reference (its corpus dedup happens upstream of
NeuScraper); designs are the public standards: exact hash dedup (C4),
MinHash+LSH (Broder 1997; Lee et al. 2022 "Deduplicating Training Data
Makes Language Models Better"), SimHash (Charikar 2002; Manku et al.
2007), n-gram Jaccard, and embedding-cosine near-dup.

Scale notes:
- exact/ngram/embedding paths are pure Catalyst (hash-groupBy / explode
  + equi-join + count ratio) — shuffle keyed by signature, skew-safe
  because signatures are uniform.
- MinHash/SimHash signatures are numpy inside one mapInPandas; the LSH
  *banding* and bucket join are native (explode bands -> groupBy
  bucket), so the quadratic part never touches Python and candidate
  pairs are generated by shuffle, not crossJoin.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# ----------------------------------------------------------------- exact (D1)


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id row per identical text (hash-groupBy dedup).

    Returns (content_hash, keep_id, n_dups). md5 is used instead of
    xxhash so the DuckDB oracle is bit-compatible.
    """
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("content_hash"))
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n_dups"))
    )


def exact_dedup_keep(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """The deduplicated table itself (left-semi against the keepers)."""
    keepers = exact_dedup(df, text_col, id_col).select(F.col("keep_id").alias(id_col))
    return df.join(keepers, id_col, "left_semi")


# -------------------------------------------------------- n-gram Jaccard (D2)


def _words_expr(text_col: str):
    """The ONE word-tokenization definition shared by every gram
    consumer (word_ngram_rows — and through it d2, the components row,
    decontaminate): lowercased split on the [^a-z0-9à-ÿ']+ separator
    class, empty tokens dropped."""
    words = F.split(F.lower(F.col(text_col)), r"[^a-z0-9à-ÿ']+")
    return F.filter(words, lambda w: w != F.lit(""))


def _ngram_array(words, n: int):
    """Distinct '␟'-joined n-grams of a words-array COLUMN.

    PERFORMANCE (r6): pass a bound attribute (a staged column), never a
    derived expression — a transform lambda that references a
    non-attribute outer expression re-evaluates that expression per
    element (an inline split+filter ran once per gram position: measured
    23x — 10.9s -> 0.5s on the bench corpus — against the staged form
    :func:`word_ngram_rows` builds)."""
    idx = F.sequence(F.lit(0), F.greatest(F.size(words) - n, F.lit(0)))
    grams = F.transform(
        idx, lambda i: F.array_join(F.slice(words, i + 1, n), "␟")
    )
    return F.array_distinct(
        F.when(F.size(words) >= n, grams).otherwise(F.array())
    )


def word_ngram_rows(
    df: DataFrame,
    text_col: str = "text",
    id_col: str | None = "doc_id",
    n: int = 3,
    gram_col: str = "gram",
    out_id: str = "id",
) -> DataFrame:
    """([id,] gram) rows: one row per DISTINCT word n-gram per document
    (``id_col=None`` emits gram-only rows).

    Stages the split/filtered words array as a column in a child
    projection so the gram-building lambda references a bound attribute
    (evaluated once per row) instead of re-running the split per gram
    position — the r6 fix that took one gram pass from 10.9s to 0.5s
    on the bench corpus. Output equals a plain Python n-gram reference
    (asserted by tests/test_dedup.py)."""
    ids = [F.col(id_col).alias(out_id)] if id_col is not None else []
    staged = df.select(*ids, _words_expr(text_col).alias("_ws"))
    return staged.select(
        *([out_id] if id_col is not None else []),
        F.explode(_ngram_array(F.col("_ws"), n)).alias(gram_col),
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    df_cap: int = 1000,
) -> DataFrame:
    """All pairs (a < b) with word-n-gram Jaccard >= threshold.

    Plan: explode distinct n-grams -> self equi-join on the gram (the
    only shuffle; candidate pairs require >=1 shared gram, so no
    crossJoin) -> shared-count agg -> |A∪B| = |A|+|B|-shared.

    `df_cap` drops grams whose document frequency exceeds the cap from
    the pair generation only (per-doc sizes stay exact): a stop-phrase
    gram shared by 10^6 docs would otherwise make one gram bucket
    quadratic at corpus scale. Standard candidate-pruning practice
    (cf. CCNet / suffix-array dedup pipelines); shared counts — and
    hence Jaccard — become a lower bound for pairs whose only overlap
    is ubiquitous grams, which is exactly the overlap dedup should
    ignore.

    r6 plan shape: pairs come from groupBy(gram) + bucket expansion
    (see _bucket_pair_expand) instead of the r5 self-join — the gram
    subtree is evaluated twice (per-doc sizes, gram buckets) instead of
    four times, the df-cap check IS the bucket-size filter (no
    separate df agg + semi-join), and per-bucket expansion is bounded
    by C(df_cap, 2).
    """
    grams = word_ngram_rows(df, text_col, id_col, n)
    sizes = grams.groupBy("id").agg(F.count("*").alias("n_grams"))
    grouped = (
        grams.groupBy("gram")
        .agg(F.collect_list(F.struct("id")).alias("xs"))
        .filter((F.size("xs") > 1) & (F.size("xs") <= df_cap))
    )
    shared = (
        _bucket_pair_expand(grouped)
        .groupBy(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        .agg(F.count("*").alias("shared"))
    )
    out = (
        shared.join(sizes.withColumnsRenamed({"id": "id_a", "n_grams": "n_a"}), "id_a")
        .join(sizes.withColumnsRenamed({"id": "id_b", "n_grams": "n_b"}), "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("shared").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("shared")).cast("double"),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return out


# ---------------------------------------------- cluster resolution (D6)


def connected_components(pairs: DataFrame, max_iter: int = 25) -> DataFrame:
    """Near-dup pairs -> (id, component), component = min reachable id.

    Pair lists aren't the end of dedup — keep/drop needs the transitive
    CLUSTERS (a~b, b~c => {a,b,c} keeps one doc). Iterative min-label
    propagation (the MapReduce-CC family, Kiveris et al. 2014): each
    round is one equi-join + one min-groupBy, so a round is two shuffles
    keyed by id and the loop runs graph-diameter times (near-dup
    clusters are shallow — single digits). localCheckpoint truncates
    lineage each round so the plan stays flat at any iteration count;
    early-stops when no label changes.
    """
    edges = pairs.select("id_a", "id_b")
    bidir = edges.union(
        edges.select(F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"))
    )
    labels = (
        bidir.select(F.col("id_a").alias("id")).distinct().withColumn("label", F.col("id"))
    ).localCheckpoint(eager=True)
    changed = 0
    for _ in range(max_iter):
        prop = bidir.join(labels, bidir["id_a"] == labels["id"]).select(
            F.col("id_b").alias("id"), "label"
        )
        new_labels = (
            labels.select("id", "label")
            .union(prop)
            .groupBy("id")
            .agg(F.min("label").alias("label"))
        ).localCheckpoint(eager=True)
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    if changed != 0:
        # partial labels are WRONG labels: a cluster deeper than max_iter
        # hops would keep several docs — fail loudly instead
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} iterations "
            "(cluster graph deeper than max_iter); raise max_iter"
        )
    return labels.select("id", F.col("label").alias("component"))


def connected_components_doubling(pairs: DataFrame, max_iter: int = 25) -> DataFrame:
    """``connected_components`` in O(log diameter) rounds via pointer
    doubling — same API, same output contract (id, component = min
    reachable id), for pathological graphs (long chains, big cycles)
    where plain propagation's diameter-many rounds would exhaust
    max_iter.

    Each round unions three label sources before the min-groupBy:
      1. the current labels (keep),
      2. edge propagation  — neighbours' labels travel ONE hop,
      3. pointer jumping   — label(id) := label(label(id)), which
         shortcuts id's pointer to wherever its current label already
         points, DOUBLING the distance covered per round (the classic
         Shiloach-Vishkin / hash-to-min idea, cf. Kiveris et al. 2014).

    Cost per round is one extra self-join of the (small) label table vs
    plain propagation — worth it when cluster diameter is large;
    near-dup clusters are usually shallow, so the plain variant stays
    the default."""
    edges = pairs.select("id_a", "id_b")
    bidir = edges.union(
        edges.select(F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"))
    )
    labels = (
        bidir.select(F.col("id_a").alias("id")).distinct()
        .withColumn("label", F.col("id"))
    ).localCheckpoint(eager=True)
    changed = 0
    for _ in range(max_iter):
        prop = bidir.join(labels, bidir["id_a"] == labels["id"]).select(
            F.col("id_b").alias("id"), "label"
        )
        jump = (
            labels.alias("l1")
            .join(labels.alias("l2"), F.col("l1.label") == F.col("l2.id"))
            .select(F.col("l1.id").alias("id"), F.col("l2.label").alias("label"))
        )
        new_labels = (
            labels.select("id", "label")
            .union(prop)
            .union(jump)
            .groupBy("id")
            .agg(F.min("label").alias("label"))
        ).localCheckpoint(eager=True)
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    if changed != 0:
        raise RuntimeError(
            f"connected_components_doubling did not converge in {max_iter} "
            "iterations — pathological growth; raise max_iter"
        )
    return labels.select("id", F.col("label").alias("component"))


def dedup_keep_representatives(
    df: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Keep one document per near-dup cluster (the min-id representative)
    plus every unpaired document: left-anti against non-representatives."""
    non_reps = connected_components(pairs).filter(
        F.col("id") != F.col("component")
    ).select(F.col("id").alias(id_col))
    return df.join(non_reps, id_col, "left_anti")


def _cpu_parallel(df: DataFrame) -> DataFrame:
    """Spread a CPU-heavy python stage across the cluster when the scan
    yields fewer partitions than task slots (a small table arriving as
    1-3 files would otherwise run a multi-second numpy stage 3-wide on
    32 cores). The repartition shuffles only (id, text) bytes — orders
    of magnitude cheaper than the python work it parallelizes — and the
    per-row signatures are partition-independent, so results are
    unchanged (asserted by the determinism tests)."""
    slots = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < slots:
        return df.repartition(slots)
    return df


# ------------------------------------------------------------ MinHash (D3)

MINHASH_PERMS = 128
LSH_BANDS = 32  # 4 rows/band -> catches jaccard >~ 0.5 reliably
# Carter-Wegman (a*h+b) mod p over the Mersenne-31 prime: with a,b,h < 2^31
# the product stays < 2^62 and the int64 math is exact. An earlier draft
# used 2^61-1, whose products silently wrapped int64 — deterministic but
# not a universal hash, degrading the MinHash estimate.
_MERSENNE31 = (1 << 31) - 1
SHINGLE_CHARS = 9


def _minhash_params(seed: int = 1234) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.Generator(np.random.PCG64(seed))
    a = rng.integers(1, _MERSENNE31, size=MINHASH_PERMS, dtype=np.int64)
    b = rng.integers(0, _MERSENNE31, size=MINHASH_PERMS, dtype=np.int64)
    return a, b


def _shingle_hashes(text: str) -> np.ndarray:
    """Distinct char-shingle base hashes, vectorized (rolling polynomial
    over the lowercased UTF-8 bytes)."""
    data = np.frombuffer(text.lower().encode("utf-8"), dtype=np.uint8)
    k = SHINGLE_CHARS
    if data.size < k:
        data = np.pad(data, (0, k - data.size), constant_values=32)
    windows = np.lib.stride_tricks.sliding_window_view(data, k).astype(np.uint64)
    pows = np.power(np.uint64(1000003), np.arange(k, dtype=np.uint64))
    return np.unique((windows * pows).sum(axis=1))


def minhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", seed: int = 1234
) -> DataFrame:
    """(id, sig array<long>[MINHASH_PERMS]) via one Arrow stage."""
    a_params, b_params = _minhash_params(seed)

    def sign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, sigs = [], []
            for rid, text in zip(pdf[id_col], pdf[text_col]):
                h = _shingle_hashes(text or "")
                if h.size == 0:
                    sig = np.zeros(MINHASH_PERMS, dtype=np.int64)
                else:
                    hv = (h % _MERSENNE31).astype(np.int64)
                    # [perms, shingles] min over shingles; all operands
                    # < 2^31 so a*h+b < 2^62 — exact in int64
                    m = (a_params[:, None] * hv[None, :] + b_params[:, None]) % _MERSENNE31
                    sig = m.min(axis=1)
                ids.append(rid)
                sigs.append(sig.tolist())
            yield pd.DataFrame({"id": ids, "sig": sigs})

    return _cpu_parallel(df.select(F.col(id_col).alias(id_col), text_col)).mapInPandas(
        sign, schema="id long, sig array<long>"
    )


def _bucket_pair_expand(
    grouped: DataFrame, members_col: str = "xs", pred=None
) -> DataFrame:
    """Bucket membership array -> intra-bucket candidate pairs (x, y)
    with x.id < y.id, WITHOUT a self-join.

    ``pred(x, y)`` (optional) is an extra per-pair predicate evaluated
    INSIDE the membership-array filter, before a pair row is ever
    materialized: the O(bucket^2) element tests still run, but only
    survivors produce Generate output — the r6 fix for hot buckets
    whose expansion is dominated by pairs a later filter drops (simhash
    hamming: 11.6M expanded rows -> 328k emitted). ``x`` is the
    exploded left member (a bound attribute — safe in a lambda body)
    and ``y`` the lambda element.

    A self-join of the signature stage on (band, bucket) plans the
    Python signature pipeline TWICE (each join side is its own subtree;
    exchange reuse does not dedupe a mapInPandas stage across sides —
    measured in r6: two MapInPandas nodes in the executed plan either
    as broadcast build or as sort-merge sides). Grouping by bucket and
    expanding pairs inside the bucket array computes signatures exactly
    once BY CONSTRUCTION, and the one exchange carries each signature
    row once per band instead of a replicated join side.

    Pair expansion streams one output row per (member, later-member):
    explode the array, then per member explode only the members with a
    larger id — per-row transient memory stays O(bucket size), the same
    bound the collect_list row itself already has. Quadratic output per
    bucket is inherent to LSH banding (a join emits the same pairs);
    upstream exact dedup keeps identical-doc buckets from exploding.
    """
    e = grouped.select(F.explode(members_col).alias("x"), members_col)
    x = F.col("x")

    def keep(y):
        base = y["id"] > x["id"]
        return base & pred(x, y) if pred is not None else base

    return e.select(
        "x",
        F.explode(F.filter(F.col(members_col), keep)).alias("y"),
    )


def _minhash_bands(sigs: DataFrame) -> DataFrame:
    """(id, band, bucket) rows, one per (doc, band). The bucket is
    xxhash64 of the band's signature slice — 8 bytes through the
    exchange instead of a ~45-byte string; a hash collision can only
    MERGE two buckets (extra candidates, later verified/estimated),
    never lose a pair. Deliberately signature-free: nothing
    array-sized rides the bucket exchange or its aggregation buffers
    (a mega-bucket of D identical docs costs O(D) ids per buffer row,
    not O(D)·sig_bytes — r6 code-review catch)."""
    rows_per_band = MINHASH_PERMS // LSH_BANDS
    bands = sigs.select(
        "id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(LSH_BANDS - 1)),
                lambda bidx: F.struct(
                    bidx.alias("band"),
                    F.xxhash64(
                        F.array_join(
                            F.transform(
                                F.slice(F.col("sig"), bidx * rows_per_band + 1, rows_per_band),
                                lambda v: v.cast("string"),
                            ),
                            "_",
                        )
                    ).alias("bucket"),
                ),
            )
        ).alias("bb"),
    )
    return bands.select(
        "id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )


def minhash_band_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 1234,
) -> DataFrame:
    """Distinct LSH-band candidate pairs (id_a, id_b) — the slim
    candidate generator for an exact verify tail (Lee et al. 2022 shape:
    band at the working threshold, verify exactly; no estimator pass).
    One python signature stage, one (band, bucket)-keyed exchange whose
    rows are 20 bytes (id, band, bucket-hash) — no signature payload."""
    sigs = minhash_signatures(df, text_col, id_col, seed)
    grouped = (
        _minhash_bands(sigs)
        .groupBy("band", "bucket")
        .agg(F.collect_list(F.struct("id")).alias("xs"))
        .filter(F.size("xs") > 1)
    )
    return (
        _bucket_pair_expand(grouped)
        .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    seed: int = 1234,
) -> DataFrame:
    """Candidate pairs via LSH banding, verified by signature-estimated
    Jaccard >= threshold.

    Plan shape (r6): slim band candidates (minhash_band_candidates —
    one python signature stage, signature-free bucket exchange and
    aggregation buffers), then the deduped candidate pairs rejoin the
    signatures per side for the estimator. The rejoins re-run the
    signature stage (exchange reuse cannot deduplicate a mapInPandas
    subtree — measured r6), but they keep every aggregation buffer and
    exchange row bounded by ids, never by O(bucket)·sig_bytes: a
    mega-bucket of near-identical docs previously built its whole
    membership × 512-byte signatures in ONE collect_list row (r6
    code-review catch). Estimation compares the int32 view of the
    signatures (exact — Mersenne-31 keeps values < 2^31), halving the
    rejoin payload."""
    cand = minhash_band_candidates(df, text_col, id_col, seed)
    sig32 = minhash_signatures(df, text_col, id_col, seed).select(
        "id", F.col("sig").cast("array<int>").alias("sig32")
    )
    est = F.round(
        F.size(
            F.filter(
                F.zip_with("sig_a", "sig_b", lambda a, b: a == b),
                lambda eq: eq,
            )
        ).cast("double")
        / F.lit(float(MINHASH_PERMS)),
        6,
    )
    return (
        cand
        .join(sig32.withColumnsRenamed({"id": "id_a", "sig32": "sig_a"}), "id_a")
        .join(sig32.withColumnsRenamed({"id": "id_b", "sig32": "sig_b"}), "id_b")
        .withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", "est_jaccard")
    )


# ------------------------------------------------------------ SimHash (D4)

SIMHASH_BITS = 64


def _fnv1a_block(bs: list[bytes], lens: np.ndarray) -> np.ndarray:
    """Padded-matrix FNV-1a for one bounded group of byte strings."""
    flat = np.frombuffer(b"".join(bs), dtype=np.uint8)
    maxlen = int(lens.max())
    offs = np.concatenate(([0], np.cumsum(lens)[:-1]))
    idx = offs[:, None] + np.arange(maxlen)[None, :]
    valid = np.arange(maxlen)[None, :] < lens[:, None]
    chars = np.where(valid, flat[np.minimum(idx, max(flat.size - 1, 0))], 0).astype(np.uint64)
    h = np.full(len(bs), np.uint64(0xCBF29CE484222325), dtype=np.uint64)
    prime = np.uint64(0x100000001B3)
    for j in range(maxlen):
        hj = (h ^ chars[:, j]) * prime  # uint64 wraps == & 2^64-1
        h = np.where(valid[:, j], hj, h)
    return h


def _fnv1a_words_vec(words: list[str], cell_budget: int = 1 << 22) -> np.ndarray:
    """Vectorized FNV-1a over a word list -> uint64[len(words)].

    Bit-identical to ``hash_word`` (asserted by tests): byte sequences
    are packed into a padded uint8 matrix and the hash recurrence runs
    over the BYTE POSITION axis (whole-array xor/multiply per
    position; uint64 wrap-around is the FNV mask for free), instead of
    a python loop per word.

    Memory-bounded: the padded matrix is n_words x longest_word cells,
    so one pathological token (a 100 KB base64 run matches the word
    regex whole) must not be padded against every short word. Words
    are processed in length-sorted groups whose padded size stays
    under ``cell_budget`` (~4M cells = tens of MB of transients), so a
    giant token lands in a tiny group of its own length class."""
    n = len(words)
    bs = [w.encode("utf-8") for w in words]
    lens = np.fromiter((len(b) for b in bs), dtype=np.int64, count=n)
    if n == 0:
        return np.zeros(0, dtype=np.uint64)
    maxlen = int(lens.max())
    if n * maxlen <= cell_budget:
        return _fnv1a_block(bs, lens)
    order = np.argsort(lens, kind="stable")
    lens_s = lens[order]
    out = np.empty(n, dtype=np.uint64)
    start = 0
    while start < n:
        # group cells grow monotonically along the sorted axis:
        # cells(end) = (end-start+1) * lens_s[end]; binary-search the
        # largest end under budget within a bounded window
        window = int(min(n - start, max(1, cell_budget // max(1, lens_s[start]))))
        counts = np.arange(1, window + 1, dtype=np.int64)
        cells = counts * lens_s[start : start + window]
        take = int(np.searchsorted(cells, cell_budget, side="right"))
        take = max(1, take)
        sel = order[start : start + take]
        out[sel] = _fnv1a_block([bs[i] for i in sel], lens[sel])
        start += take
    return out


def simhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", seed: int = 99
) -> DataFrame:
    """(id, simhash long): sign of the summed random projections of word
    hashes — Charikar's 64-bit fingerprint, numpy inside one Arrow stage.

    Fully vectorized per Arrow batch: one flat word array across all
    docs in the batch (vectorized FNV-1a), the +-1 bit contributions as
    a [n_words, 64] int8 matrix, per-doc sums via ``np.add.reduceat``
    over the doc boundaries — no python loop over words or docs."""
    import re

    word_re = re.compile(r"[a-z0-9à-ÿ']+")
    bitpos = np.arange(SIMHASH_BITS, dtype=np.uint64)

    def sign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            doc_words = [word_re.findall((t or "").lower()) for t in pdf[text_col]]
            counts = np.fromiter((len(ws) for ws in doc_words), dtype=np.int64,
                                 count=len(doc_words))
            allw = [w for ws in doc_words for w in ws]
            sums = np.zeros((len(doc_words), SIMHASH_BITS), dtype=np.int64)
            if allw:
                hs = _fnv1a_words_vec(allw)
                contrib = (
                    ((hs[:, None] >> bitpos[None, :]) & np.uint64(1))
                    .astype(np.int8) * 2 - 1
                )  # [n_words, 64] in +-1
                nz = np.flatnonzero(counts)
                starts = np.concatenate(([0], np.cumsum(counts)[:-1]))[nz]
                sums[nz] = np.add.reduceat(contrib.astype(np.int32), starts, axis=0)
            sig = ((sums > 0).astype(np.uint64) << bitpos[None, :]).sum(
                axis=1, dtype=np.uint64
            )
            signed = sig.astype(np.int64)  # two's-complement view
            yield pd.DataFrame({"id": pdf["id"].to_numpy(), "simhash": signed})

    return _cpu_parallel(df.select(F.col(id_col).alias("id"), text_col)).mapInPandas(
        sign, schema="id long, simhash long"
    )


def hash_word(w: str) -> int:
    """64-bit FNV-1a — platform-stable, shared by tests."""
    h = 0xCBF29CE484222325
    for byte in w.encode("utf-8"):
        h = ((h ^ byte) * 0x100000001B3) & 0xFFFFFFFFFFFFFFFF
    return h


def simhash_near_pairs(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", max_hamming: int = 3
) -> DataFrame:
    """Near-dup pairs by Hamming distance <= max_hamming, using the
    Manku-style block trick: split the 64-bit hash into max_hamming+1
    blocks; any pair within distance shares >=1 exact block — equi-join
    on (block_idx, block_value), then exact Hamming verify natively.

    Recall contract: the result is exactly the pairs whose 64-bit
    SimHash fingerprints differ in at most ``max_hamming`` bits, and
    nothing beyond. Text similarity is not part of the contract: a pair
    of 36-word documents at word Jaccard 0.954 whose fingerprints are
    10 bits apart is out of contract for ``max_hamming=8`` and is not
    returned. Callers who need a Jaccard recall target use
    ``minhash_lsh_pairs`` or raise ``max_hamming``."""
    sigs = simhash_signatures(df, text_col, id_col)
    n_blocks = max_hamming + 1
    width = SIMHASH_BITS // n_blocks
    # shift amounts must be int literals -> build the block array in a
    # python loop (plan-time constant, still one native projection).
    # Pair generation groups by (block_idx, block_val) and expands pairs
    # inside the bucket (see _bucket_pair_expand) — ONE python signature
    # stage, one slim exchange (id + 8-byte fingerprint per block row)
    # instead of a self-join that plans the signature pipeline twice.
    blocks = sigs.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("block_idx"),
                        F.shiftrightunsigned(F.col("simhash"), i * width)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("block_val"),
                    )
                    for i in range(n_blocks)
                ]
            )
        ).alias("blk"),
    ).select("id", "simhash", "blk.block_idx", "blk.block_val")
    grouped = (
        blocks.groupBy("block_idx", "block_val")
        .agg(F.collect_list(F.struct("id", "simhash")).alias("xs"))
        .filter(F.size("xs") > 1)
    )
    # Hamming predicate PUSHED INTO the element filter of the shared
    # pair expansion (r6): 7-bit block values make hot buckets — on the
    # bench corpus 11.6M expanded pairs of which 97% fail hamming <=
    # max_hamming. Testing bit_count(xor) per element inside the
    # array filter still performs the O(bucket^2) comparisons (cheap
    # native int ops) but only MATERIALIZES the surviving pairs as
    # rows (328k, not 11.6M) — no Generate output, no downstream
    # projection for failures. Same output as filtering after
    # expansion, by construction. (A 13-bit super-block + 1-bit-flip
    # key scheme was prototyped and REJECTED: this corpus's near-dup
    # clusters are dense enough that flip-key collisions emitted MORE
    # candidate pairs, 15.4M vs 11.6M.)
    pairs = _bucket_pair_expand(
        grouped,
        pred=lambda x, y: (
            F.bit_count(x["simhash"].bitwiseXOR(y["simhash"])) <= F.lit(max_hamming)
        ),
    )
    hamming = F.bit_count(
        F.col("x.simhash").bitwiseXOR(F.col("y.simhash"))
    )
    return (
        pairs.select(
            F.col("x.id").alias("id_a"),
            F.col("y.id").alias("id_b"),
            hamming.alias("hamming"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )


# -------------------------------------- exact shingle-Jaccard verify tail


def _shingle_array_lowered(lowered_col: str, k: int = SHINGLE_CHARS):
    """Distinct char-k-shingles of an ALREADY-LOWERCASED bound attribute
    as a native array column.

    SQL-portable semantics (shared verbatim by the DuckDB oracle): full
    k-char windows of the lowercased text, one whole-text shingle for
    docs shorter than k chars — substr over CHARACTERS on both engines.

    PERFORMANCE: the caller must stage ``lower(text)`` as a real column
    (a child projection) so the lambda body references an attribute; an
    inline ``lower(text)`` is re-evaluated per element (the same
    HOF-outer-reference pathology as :func:`_ngram_array`), measured
    2.0x slower on the bench corpus (3.28s vs 1.62s per pass). Output
    equals a plain Python shingle reference (asserted by
    tests/test_dedup.py)."""
    return F.expr(
        f"array_distinct(transform("
        f"sequence(1, greatest(char_length({lowered_col}) - {k - 1}, 1)), "
        f"i -> substring({lowered_col}, i, {k})))"
    )


def exact_shingle_jaccard_pairs(
    pairs: DataFrame,
    docs: DataFrame,
    threshold: float,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = SHINGLE_CHARS,
    shingle_per: str = "doc",
) -> DataFrame:
    """Verify candidate pairs with EXACT distinct char-k-shingle Jaccard,
    pure Catalyst — the relational rerank tail that turns sketch-based
    candidate generators (MinHash bands, SimHash blocks) into
    oracle-checkable queries: if the sketch misses no true pair above
    ``threshold``, the output equals the quadratic exact-Jaccard SQL.

    Two plan shapes, same output (r6; pick by candidate density —
    candidates per document, which the caller knows from its sketch's
    looseness):

    - ``shingle_per="doc"``: shingle arrays are computed once per
      document and attached to each pair side by an id equi-join.
      Right when candidates outnumber documents (loose sketches — the
      7-bit-block SimHash at max_hamming=8 yields ~18 candidates per
      doc on the bench corpus): each doc's array is built once, not
      once per pair, and with a candidate-dense workload the guarded
      intersect consumes the arrays in the join's own stage.
    - ``shingle_per="pair"``: the joins carry RAW text (~k× smaller
      than the arrays) and both arrays are computed after the join,
      per surviving pair. Right when the sketch is tight (MinHash
      bands at J>=0.8: ~0.2 candidates per doc): no array is built for
      the >99% of docs that are never candidates, and nothing
      array-sized enters a join build side or broadcast.

    A guard-then-rebuild third shape (slim size proxies first, arrays
    only for guard survivors — guide §8) was measured and REJECTED: its
    two extra equi-joins cost more stage latency at bench scale than
    the array builds they save, and with a loose sketch the per-pair
    rebuild does strictly more array work than the per-doc pass.

    Both shapes intersect only pairs that pass the size-ratio guard
    min(|A|,|B|) >= (threshold - 1e-6) * max(|A|,|B|) — a necessary
    condition for the final filter (J <= min/max for sets, and the
    filter keeps round(J, 6) >= threshold, i.e. J >= threshold - 5e-7,
    which the guard's epsilon strictly covers), so the guard is
    provably output-neutral while skipping the expensive
    array_intersect for most candidates at high thresholds (88k SimHash
    candidates -> 11k intersects on the bench corpus).
    """
    if shingle_per == "pair":
        txt = docs.select(F.col(id_col).alias("id"), F.col(text_col).alias("t"))
        attached = (
            pairs.select("id_a", "id_b")
            .join(txt.withColumnsRenamed({"id": "id_a", "t": "t_a"}), "id_a")
            .join(txt.withColumnsRenamed({"id": "id_b", "t": "t_b"}), "id_b")
            # stage lower() as real columns so the shingle lambda binds
            # attributes (HOF outer-reference pathology — 2x, see
            # _shingle_array_lowered); lt_* is referenced twice by the
            # shingle expr, so CollapseProject leaves the staging alone.
            # CAVEAT (r6 code review): the staging governs only this
            # projection — the guard/jaccard FILTERS below reference
            # both join sides, so the optimizer pushes them into the
            # second join's condition with the shingle builds re-inlined
            # (unstaged) for the condition evaluation. That is a
            # constant-factor penalty per CANDIDATE, acceptable here
            # because the pair shape is chosen precisely when the
            # sketch is tight (few candidates); the doc shape — used
            # when candidates are dense — keeps the staging fully
            # effective and is plan-pinned (tests/test_plans.py).
            .withColumn("lt_a", F.lower("t_a"))
            .withColumn("lt_b", F.lower("t_b"))
            .withColumn("sh_a", _shingle_array_lowered("lt_a", k))
            .withColumn("sh_b", _shingle_array_lowered("lt_b", k))
        )
    else:
        sh = docs.select(
            F.col(id_col).alias("id"), F.lower(F.col(text_col)).alias("_lt")
        ).select(
            "id", _shingle_array_lowered("_lt", k).alias("sh")
        )
        attached = (
            pairs.select("id_a", "id_b")
            .join(sh.withColumnsRenamed({"id": "id_a", "sh": "sh_a"}), "id_a")
            .join(sh.withColumnsRenamed({"id": "id_b", "sh": "sh_b"}), "id_b")
        )
    n_a, n_b = F.size("sh_a"), F.size("sh_b")
    out = (
        attached
        .filter(
            F.least(n_a, n_b).cast("double")
            >= F.lit(float(threshold) - 1e-6) * F.greatest(n_a, n_b).cast("double")
        )
        .withColumn("_shared", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.round(
                F.col("_shared").cast("double")
                / (n_a + n_b - F.col("_shared")).cast("double"),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return out


# ------------------------------------------- embedding cosine near-dup (D5)


def embedding_neardup_pairs(
    emb: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
) -> DataFrame:
    """Pairs with cosine >= threshold. Exact quadratic form over a
    broadcast right side — correct baseline for modest partitions; the
    scale path is LSH bucketing (similarity.ann_lsh) feeding the same
    native cosine expression."""
    vec_d = F.col(vec_col).cast("array<double>")
    norm = F.sqrt(F.aggregate(vec_d, F.lit(0.0), lambda acc, x: acc + x * x))
    left = emb.select(F.col(id_col).alias("id_a"), vec_d.alias("v_a"), norm.alias("n_a"))
    right = emb.select(F.col(id_col).alias("id_b"), vec_d.alias("v_b"), norm.alias("n_b"))
    dot = F.aggregate(
        F.zip_with("v_a", "v_b", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    return (
        left.join(F.broadcast(right), F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", F.round(dot / (F.col("n_a") * F.col("n_b")), 6))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def embedding_neardup_lsh(
    emb: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    seed: int = 7,
) -> DataFrame:
    """Scale path for D5: random-hyperplane LSH buckets generate the
    candidate pairs (equi-join on (table, bucket) — no quadratic scan),
    exact double-fold cosine verifies. At cosine >= 0.95 (θ <= 18°) a
    6-plane table matches with p ~= 0.53, so 24 tables give ~1-3e-9 miss
    probability per true pair.

    Bucket grouping and pair dedup run on slim (id, table, bucket)
    rows (one signature stage, no self-join — see _bucket_pair_expand);
    vectors are rejoined per side only for the surviving pairs, so the
    24×-replicated bucket exchange never carries the embedding payload
    (plan-pinned in tests/test_plans.py)."""
    from .similarity import lsh_signatures

    sigs = lsh_signatures(emb, vec_col, id_col, seed)
    grouped = (
        sigs.groupBy("table", "bucket")
        .agg(F.collect_list(F.struct("id")).alias("xs"))
        .filter(F.size("xs") > 1)
    )
    pairs = (
        _bucket_pair_expand(grouped)
        .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    vecs = emb.select(
        F.col(id_col).alias("vid"), F.col(vec_col).cast("array<double>").alias("v")
    )
    cand = (
        pairs.join(vecs, pairs["id_a"] == vecs["vid"])
        .select("id_a", "id_b", F.col("v").alias("v_a"))
        .join(vecs, F.col("id_b") == vecs["vid"])
        .select("id_a", "id_b", "v_a", F.col("v").alias("v_b"))
    )
    dot = F.aggregate(
        F.zip_with("v_a", "v_b", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    norm_a = F.sqrt(F.aggregate("v_a", F.lit(0.0), lambda acc, x: acc + x * x))
    norm_b = F.sqrt(F.aggregate("v_b", F.lit(0.0), lambda acc, x: acc + x * x))
    return (
        cand.withColumn("cosine", F.round(dot / (norm_a * norm_b), 6))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )
