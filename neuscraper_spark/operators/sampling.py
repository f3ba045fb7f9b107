"""Deterministic sampling and corpus mixing.

A training-data pipeline's last step is rarely "keep everything that
passed the filters": it draws a *mixture* — so many tokens of English,
so many of code, down-weight the over-crawled domains — and the draw
must be reproducible across reruns, engines, and cluster sizes.
`rand()` gives none of that. These operators sample by hashing a
stable row key: a row is kept iff the first 8 hex chars of
``md5(salt || key)`` sort below a threshold derived from the rate.

Why the *string* comparison: both engines (and any engine with md5)
produce the identical lowercase hex digest, and fixed-width lowercase
hex sorts lexicographically exactly as its numeric value — so the
predicate needs no hex->int conversion anywhere and is trivially
portable to the DuckDB oracle, SQL engines, or a Python reader.
Rate r maps to threshold ``lpad(hex(floor(r * 2^32)), 8, '0')``; keys
are uniform over the 2^32 buckets, so the realized rate converges to r
with the usual binomial error, and the SAME rows are chosen no matter
the partitioning (pure per-row predicate: no shuffle, full pushdown —
at 100 TB this composes with partition pruning and costs one md5 per
row).

Changing ``salt`` redraws the sample independently; reusing a salt
across tables draws CORRELATED samples (same keys kept), which is what
you want to keep joined tables aligned through sampling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.writer import url_host

_BUCKETS = 1 << 32


def rate_to_threshold_hex(rate: float) -> str:
    """Constant shared with the DuckDB oracle: rate in [0,1] -> the
    8-hex-char cutoff its md5-prefix must sort below."""
    n = int(min(max(rate, 0.0), 1.0) * _BUCKETS)
    return format(min(n, _BUCKETS - 1), "08x") if n < _BUCKETS else "ffffffff"


def _hash8(key_col: str, salt: str):
    return F.substring(
        F.md5(F.concat(F.lit(salt), F.col(key_col).cast("string"))), 1, 8
    )


def deterministic_sample(
    df: DataFrame, rate: float, key_col: str, salt: str = ""
) -> DataFrame:
    """Keep a reproducible ``rate`` fraction of rows, chosen by key
    hash — same rows on every run, engine, and partitioning."""
    if rate >= 1.0:
        return df
    return df.filter(_hash8(key_col, salt) < F.lit(rate_to_threshold_hex(rate)))


def stratified_sample(
    df: DataFrame,
    rates: dict[str, float],
    stratum_col: str,
    key_col: str,
    salt: str = "",
) -> DataFrame:
    """Per-stratum rates (e.g. per language). Strata absent from
    ``rates`` are dropped (rate 0) — a mixing spec is a whitelist."""
    pairs = [(s, rate_to_threshold_hex(r)) for s, r in sorted(rates.items())]
    thr = F.create_map(*[F.lit(x) for p in pairs for x in p])[F.col(stratum_col)]
    full = [s for s, r in sorted(rates.items()) if r >= 1.0]
    keep = _hash8(key_col, salt) < thr
    if full:
        keep = keep | F.col(stratum_col).isin(full)
    return df.filter(keep)


def mix_corpus(
    df: DataFrame,
    targets: dict[str, float],
    total_target: int,
    stratum_col: str,
    key_col: str,
    salt: str = "",
    weight_col: str | None = None,
) -> DataFrame:
    """Draw ~``total_target`` units at the given stratum shares
    (``targets`` sum to 1): each stratum's rate is
    ``min(1, share * total_target / stratum_supply)`` — an
    under-supplied stratum contributes everything it has (capped, not
    re-normalized; the report tells you the mixture you actually got).

    ``weight_col`` switches the unit from rows to that column's sum —
    pass a token/char count to hit a TOKEN budget (the target a
    training mix is actually specified in): supply becomes
    sum(weight) per stratum and the expected sampled weight is
    share*total_target, because a uniform row draw at rate r keeps
    ~r of the stratum's weight in expectation.

    Fully declarative: supplies come from a groupBy agg that re-joins
    by stratum (broadcast — #strata is small by contract), the rate
    turns into an 8-hex threshold with native expressions, and the
    final predicate is the same per-row hash filter. Nothing collects.
    """
    pairs = [(s, float(w)) for s, w in sorted(targets.items())]
    share = F.create_map(*[F.lit(x) for p in pairs for x in p])[F.col(stratum_col)]
    supply = (
        F.sum(F.col(weight_col)) if weight_col else F.count(F.lit(1))
    ).cast("double")
    counts = df.groupBy(stratum_col).agg(supply.alias("_n"))
    # least() ignores NULL on both Spark and DuckDB (least(1.0, NULL)
    # == 1.0), so an unlisted stratum would silently get rate 1.0 —
    # gate on the share lookup explicitly to keep whitelist semantics
    rate = F.when(
        share.isNotNull(),
        F.least(F.lit(1.0), share * F.lit(float(total_target)) / F.col("_n")),
    )
    thr = F.lpad(
        F.lower(F.hex(F.floor(rate * F.lit(float(_BUCKETS))).cast("long"))),
        8,
        "0",
    )
    return (
        df.join(F.broadcast(counts), stratum_col)
        .withColumn("_rate", rate)
        .withColumn("_thr", thr)
        .filter(
            F.col("_rate").isNotNull()
            & ((F.col("_rate") >= 1.0) | (_hash8(key_col, salt) < F.col("_thr")))
        )
        .drop("_n", "_rate", "_thr")
    )


def assign_split(
    df: DataFrame,
    weights: dict[str, float],
    key_col: str = "url",
    salt: str = "split",
    out_col: str = "split",
    by_host: bool = False,
) -> DataFrame:
    """Deterministic train/validation/test split labels — zero shuffle,
    pure per-row predicate, reproducible across runs/engines/
    partitioning (the deterministic_sample hash machinery applied to
    cumulative bands: a key lands in the band its md5 prefix sorts
    into).

    Two properties a training-data split must have, both pinned by
    tests:
    - **Leakage safety**: ``by_host=True`` keys the hash on the url's
      host, so every page of a site — including near-duplicates the
      dedup pass missed — lands in the SAME split (C4/Pile
      methodology: page-level splits leak templated content across
      train/test). A url with no http(s):// host keys on the full url.
    - **Band nesting**: bands are cumulative prefixes of the hash
      space, so growing the first split's weight only ADDS keys to it;
      no key ever swaps between two existing splits when a later
      band's weight changes.

    ``weights`` must sum to 1 (insertion order defines band order; the
    last band absorbs float residue as the otherwise-branch).
    """
    total = sum(weights.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split weights must sum to 1, got {total}")
    if len(weights) < 2:
        raise ValueError("need >= 2 splits")
    key = F.col(key_col).cast("string")
    if by_host:
        # a url without an http(s):// host keys on itself: an empty-host
        # key would put every such url in ONE split
        host = url_host(F.col(key_col))
        key = F.when(host != "", host).otherwise(key)
    h = F.substring(F.md5(F.concat(F.lit(salt), key)), 1, 8)
    names = list(weights)
    acc = 0.0
    expr = None
    for name in names[:-1]:
        acc += weights[name]
        band = h < F.lit(rate_to_threshold_hex(acc))
        expr = F.when(band, name) if expr is None else expr.when(band, name)
    expr = expr.otherwise(names[-1])
    return df.withColumn(out_col, expr)
