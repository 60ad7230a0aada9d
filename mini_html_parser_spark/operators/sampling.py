"""Sampling operators (reference B9/B10).

The reference's dataset reducer enumerates every (file, line) and
draws ``random.sample(indexes, n)`` (parse_scripts/dataset_reducer.py:
15-39).  The distributed equivalent is exact-n without replacement,
deterministic: order by a seeded hash of the id and take n — a
TakeOrderedAndProject, no full sort materialization.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def sample_exact_n(df: DataFrame, n: int, seed: int = 42, id_col: str = "doc_id") -> DataFrame:
    """Deterministic exact-n sample without replacement."""
    key = F.md5(F.concat(F.col(id_col).cast("string"), F.lit(f"#{seed}")))
    return df.orderBy(key.asc(), F.col(id_col).asc()).limit(n)


def enumerate_rows(df: DataFrame, partition_col: str, order_col: str) -> DataFrame:
    """Row numbering within a partition key (reference B10's
    ``doc_id = f"{file}_{compt}"`` line index)."""
    from pyspark.sql import Window

    w = Window.partitionBy(partition_col).orderBy(order_col)
    return df.withColumn("row_idx", F.row_number().over(w) - 1)


def sample_exact_n_per_group(
    df: DataFrame,
    group_col: str,
    n: int,
    seed: int = 42,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic stratified sample: exactly min(n, group size)
    rows per ``group_col`` value.  The order key is the md5 hex of
    ``"{id}#{seed}"`` — a string compare identical in every engine, so
    a DuckDB oracle reproduces the selection bit-for-bit.  One window
    shuffle on the group; no global sort (each partition sorts
    locally)."""
    from pyspark.sql import Window

    key = F.md5(F.concat(F.col(id_col).cast("string"), F.lit(f"#{seed}")))
    w = Window.partitionBy(group_col).orderBy(key.asc(), F.col(id_col).asc())
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= n)
        .drop("_rn")
    )


def assign_shards(
    df: DataFrame,
    n_shards: int,
    seed: int = 42,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic pseudo-random training-shard assignment: every
    row gets ``(shard, pos_in_shard)`` — the pre-training "global
    shuffle then split into N files" step, done the scale-correct way.

    A true global shuffle is a full sort of the corpus; at 100 TB that
    is the single most expensive possible plan.  Equivalent layout,
    one window shuffle instead: shard = hash(id, seed) mod N (rows
    land pseudo-randomly), position = rank of a second hash within the
    shard (rows are pseudo-randomly ordered inside each shard).  A
    data loader reading shards in any order sees the same
    distributional shuffle a global sort would give, and the
    assignment is a pure function of (id, seed) — resumable,
    replayable, engine-portable (md5-hex order keys)."""
    if n_shards <= 0:
        raise ValueError(f"n_shards must be positive, got {n_shards}")
    from pyspark.sql import Window

    sid = F.col(id_col).cast("string")
    # shard from the first 8 md5 hex chars (32 bits → mod N): md5 is
    # the one hash every engine computes identically, so a DuckDB
    # oracle reproduces the assignment bit-for-bit (xxhash64 would be
    # Spark-only).  32 bits keep the mod-N bias negligible even at
    # tens of thousands of shards (16 bits would skew shard sizes 2×
    # for large N).
    shard = (
        F.conv(F.substring(F.md5(F.concat(sid, F.lit(f"@{seed}"))), 1, 8), 16, 10)
        .cast("bigint") % n_shards
    ).cast("int")
    order_key = F.md5(F.concat(sid, F.lit(f"!{seed}")))
    w = Window.partitionBy("shard").orderBy(order_key.asc(), F.col(id_col).asc())
    return (
        df.withColumn("shard", shard)
        .withColumn("pos_in_shard", (F.row_number().over(w) - 1).cast("long"))
    )


def _rate_threshold_hex(rate: float) -> str:
    """Keep-threshold for a rate in [0, 1] as a string compared
    against the first 8 md5 hex chars.  Lowercase-hex lexicographic
    order IS numeric order, so the compare is engine-portable
    (Spark, DuckDB, Python all agree).  rate >= 1 maps to 'g', which
    sorts after every hex string → keep-all."""
    if rate >= 1.0:
        return "g"
    return format(max(int(rate * 16**8), 0), "08x")


def sample_mixture(
    df: DataFrame,
    rates: dict[str, float],
    group_col: str = "lang",
    seed: int = 42,
    id_col: str = "doc_id",
    default_rate: float = 1.0,
) -> DataFrame:
    """Deterministic per-group Bernoulli downsampling — the data-
    mixture / temperature-resampling step of a pre-training pipeline
    (keep ``rates[group]`` of each group, e.g. upweight low-resource
    languages by downsampling the head ones).

    A row is kept iff ``md5(f"{id}%mix{seed}")[:8] < threshold(rate)``:
    pure codegen filter — NO shuffle, NO join, and Catalyst pushes it
    into the scan.  Deterministic in the id alone, so re-runs and
    resumed jobs select the identical subset (unlike ``df.sample``,
    whose selection depends on partitioning).

    The hash input uses its OWN domain separator (``%mix``, like
    ``assign_shards``'s ``@``/``!``): with the same ``#`` construction
    as ``sample_exact_n``, composing mixture sampling with stratified
    sampling at the same seed would yield fully correlated selections
    (mixture survivors = the head of the stratified order key), not
    independent draws (ADVICE r3).
    """
    key = F.substring(
        F.md5(F.concat(F.col(id_col).cast("string"), F.lit(f"%mix{seed}"))), 1, 8
    )
    thr = F.lit(_rate_threshold_hex(default_rate))
    for group, rate in sorted(rates.items()):
        thr = F.when(
            F.col(group_col) == group, F.lit(_rate_threshold_hex(rate))
        ).otherwise(thr)
    return df.filter(key < thr)


def temperature_rates(
    df: DataFrame,
    group_col: str = "lang",
    alpha: float = 0.5,
) -> dict[str, float]:
    """Per-group keep rates that reshape group masses from p_g to
    ∝ p_g^alpha (the multilingual temperature-sampling rule of
    XLM-R/mBERT, alpha = 1/T) using DOWN-sampling only: kept mass
    rate_g·p_g ∝ p_g^alpha ⇒ rate_g ∝ p_g^(alpha-1), normalized so
    the smallest group keeps everything (a filter cannot upsample).
    One tiny groupBy().count() collect — the corpus-sized work stays
    in Spark; the arithmetic is deterministic driver-side floats that
    a DuckDB oracle reproduces bit-for-bit (same libm)."""
    counts = {
        r[group_col]: int(r["count"])
        for r in df.groupBy(group_col).count().collect()
        # NULL groups can't key a rates dict (and sample_mixture's
        # equality predicate never matches null anyway — null rows get
        # default_rate); empty frames yield an empty rates dict
        if r[group_col] is not None
    }
    if not counts:
        return {}
    total = sum(counts.values())
    raw = {g: (c / total) ** (alpha - 1.0) for g, c in counts.items()}
    mx = max(raw.values())
    return {g: raw[g] / mx for g in sorted(raw)}


def temperature_resample(
    df: DataFrame,
    group_col: str = "lang",
    alpha: float = 0.5,
    seed: int = 42,
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-driven mixture resampling: derive the keep rates from
    the observed group distribution (:func:`temperature_rates`), then
    apply the deterministic zero-shuffle md5-threshold filter of
    :func:`sample_mixture`.  alpha=1 keeps everything; alpha→0
    equalizes group masses."""
    rates = temperature_rates(df, group_col, alpha)
    return sample_mixture(
        df, rates, group_col=group_col, seed=seed, id_col=id_col,
        default_rate=1.0,
    )


# ---- DSIR: Data Selection via Importance Resampling --------------------------
# Xie et al. 2023 (arXiv:2302.03169): score every raw document by how
# much its hashed-unigram distribution looks like a TARGET domain
# relative to the raw corpus, then keep the top-scoring slice.  The
# production use is "select the 5% of Common Crawl that looks like
# Wikipedia" before expensive downstream processing.

def dsir_bucket_weights(
    df: DataFrame,
    target_filter,
    n_buckets: int = 4096,
    text_col: str = "text",
    smoothing: float = 0.5,
):
    """Per-bucket log importance weights ``ln p_target(b) - ln p_raw(b)``
    over md5-hashed unigram buckets, Laplace-smoothed.

    ONE corpus pass computes both distributions: the target membership
    predicate (a row-level boolean Column, e.g. ``F.col('lang') ==
    'en'``) rides through the token explode, so raw and target counts
    come out of the same partial-aggregated groupBy(bucket) — a
    shuffle bounded by ``n_buckets`` rows after map-side combine, then
    an ``n_buckets``-row collect (4096 doubles — driver-trivial).

    Returns ``(weights, n_raw_tokens, n_target_tokens)``; ``weights``
    is a dense list indexed by bucket id.
    """
    import math

    from . import bpe

    b = (
        F.conv(F.substring(F.md5(F.col("t")), 1, 8), 16, 10)
        .cast("long") % n_buckets
    ).alias("b")
    toks = (
        df.select(
            F.split(F.trim(F.col(text_col)), bpe.WS_RE).alias("toks"),
            target_filter.alias("_t"),
        )
        .select(F.explode("toks").alias("t"), "_t")
    )
    counts = (
        toks.select(b, "_t")
        .groupBy("b")
        .agg(
            F.count(F.lit(1)).alias("cr"),
            F.sum(F.when(F.col("_t"), 1).otherwise(0)).alias("ct"),
        )
        .collect()
    )
    n_raw = sum(r["cr"] for r in counts)
    n_target = sum(r["ct"] for r in counts)
    raw = {r["b"]: r["cr"] for r in counts}
    tgt = {r["b"]: r["ct"] for r in counts}
    a = smoothing
    weights = [
        math.log((tgt.get(i, 0) + a) / (n_target + a * n_buckets))
        - math.log((raw.get(i, 0) + a) / (n_raw + a * n_buckets))
        for i in range(n_buckets)
    ]
    return weights, int(n_raw), int(n_target)


def dsir_score(
    df: DataFrame,
    target_filter,
    n_buckets: int = 4096,
    text_col: str = "text",
    id_col: str = "doc_id",
    smoothing: float = 0.5,
) -> DataFrame:
    """Per-document DSIR score: mean hashed-unigram log importance
    weight — ``(id, n_tokens, dsir_score)`` with the score rounded to
    6 dp (the engine-portable contract every FP oracle here uses).

    Scale shape: after :func:`dsir_bucket_weights` the weight table is
    a plain Python list folded into a LITERAL array column, so scoring
    is zero-shuffle whole-stage codegen — per token one md5 + one
    ``element_at`` — no join, no explode, no Python.  The token array
    is projected as a real column BEFORE the lambda (Catalyst does not
    CSE inside higher-order functions — see decontam.ngrams_of_tokens).
    """
    from . import bpe

    weights, _, _ = dsir_bucket_weights(
        df, target_filter, n_buckets, text_col, smoothing
    )
    warr = F.array(*[F.lit(float(w)) for w in weights])
    bucket_of = lambda t: (  # noqa: E731
        F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long") % n_buckets
    )
    toked = df.select(
        F.col(id_col),
        F.split(F.trim(F.col(text_col)), bpe.WS_RE).alias("toks"),
    )
    per_tok = F.transform(
        F.col("toks"), lambda t: F.element_at(warr, (bucket_of(t) + 1).cast("int"))
    )
    return toked.select(
        id_col,
        F.size("toks").alias("n_tokens"),
        F.round(
            F.aggregate(per_tok, F.lit(0.0), lambda acc, x: acc + x)
            / F.size("toks"),
            6,
        ).alias("dsir_score"),
    )


def dsir_select(
    df: DataFrame,
    target_filter,
    n: int,
    n_buckets: int = 4096,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-``n`` raw documents by DSIR score (deterministic tie order:
    rounded score DESC, id ASC) — a TakeOrderedAndProject, never a
    full sort materialization."""
    scored = dsir_score(df, target_filter, n_buckets, text_col, id_col)
    return scored.orderBy(
        F.desc("dsir_score"), F.asc(id_col)
    ).limit(n)
