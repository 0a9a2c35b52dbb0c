"""Deterministic sampling / splitting operators for training-data
pipelines (beyond-reference, BASELINE.json first-class additions).

Everything keys on the portable 60-bit md5 hash (`text.portable_hash64`)
so a sample is (a) reproducible across runs, engines, and cluster
sizes — unlike ``df.sample``, whose output depends on partitioning —
and (b) STABLE under corpus growth: a row's membership depends only on
its own key, so re-running after appending new data never flips
previously-sampled rows (the property every incremental pipeline
needs). All expressions are built-in pyspark.sql.functions — JVM-side
codegen, trivially pushdown-friendly, no shuffle introduced by any
operator here — and each has a bit-exact DuckDB oracle
(__spark_entry__.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text import portable_hash64

# sampling resolution: fractions are quantized to 1/GRANULARITY
GRANULARITY = 1_000_000


def _bucket(key_col: str, salt: str) -> Column:
    """Uniform bucket in [0, GRANULARITY) from the row key + salt.
    portable_hash64 is non-negative (60-bit), so plain % is portable."""
    return portable_hash64(
        F.concat(F.col(key_col).cast("string"), F.lit(salt))
    ) % GRANULARITY


def hash_sample(
    df: DataFrame, key_col: str, fraction: float, salt: str = ""
) -> DataFrame:
    """Keep a deterministic ~``fraction`` of rows by key hash. Distinct
    ``salt`` values give independent samples; the same salt always
    returns the same rows."""
    thresh = int(round(fraction * GRANULARITY))
    return df.where(_bucket(key_col, salt) < F.lit(thresh))


def stratified_hash_sample(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    fractions: dict[str, float],
    default: float = 0.0,
    salt: str = "",
) -> DataFrame:
    """Per-stratum deterministic sampling (e.g. language rebalancing:
    downsample en, keep all low-resource langs). ``fractions`` maps
    stratum value -> keep fraction; unlisted strata use ``default``.
    One codegen'd CASE — no join, no shuffle."""
    thresh = F.lit(int(round(default * GRANULARITY)))
    for value in sorted(fractions):  # deterministic plan
        thresh = F.when(
            F.col(strata_col) == value,
            F.lit(int(round(fractions[value] * GRANULARITY))),
        ).otherwise(thresh)
    return df.where(_bucket(key_col, salt) < thresh)


def train_holdout_split(
    df: DataFrame, key_col: str, holdout_fraction: float, salt: str = ""
) -> DataFrame:
    """Tag every row ``split IN ('holdout', 'train')`` by key hash — the
    leakage-safe way to carve an eval set: membership is a pure function
    of the key, so later appends/repartitions can never migrate a row
    across the split boundary."""
    thresh = int(round(holdout_fraction * GRANULARITY))
    return df.withColumn(
        "split",
        F.when(_bucket(key_col, salt) < F.lit(thresh), F.lit("holdout")).otherwise(
            F.lit("train")
        ),
    )


def top_k_per_group(
    df: DataFrame,
    group_col: str,
    order_cols: list,
    k: int,
    n_salts: int = 32,
) -> DataFrame:
    """Skew-safe deterministic top-k per group — the corpus-diversity
    cap ("at most k docs per domain/source") every web-scale curation
    pipeline applies, and a general per-key top-k primitive.

    A naive ``row_number() OVER (PARTITION BY group)`` puts an entire
    group in ONE task: at 100 TB a mega-host with 10^8 pages becomes a
    single-task sort. Two phases bound that:

    1. rows are salted by the hash of their own order-key columns
       (deterministic — no rand()) and ranked within
       ``(group, salt)``; only local rank <= k survives. Any row in
       the true per-group top-k is top-k within its subgroup, so the
       survivor set (<= k * n_salts rows per group) always contains
       the answer while the heaviest task shrinks by ~n_salts.
    2. an exact ``row_number`` over the bounded survivors keeps the
       true top-k.

    ``order_cols`` are (col, 'asc'|'desc') pairs and must totally
    order rows within a group (include a unique tiebreak column) or
    the result is nondeterministic. Output = input columns + ``rk``.
    """
    ordering = [
        F.col(c).desc() if d == "desc" else F.col(c).asc()
        for c, d in order_cols
    ]
    from pyspark.sql.window import Window

    salt = (
        portable_hash64(
            F.concat_ws("\x1f", *[F.col(c).cast("string") for c, _ in order_cols])
        )
        % n_salts
    )
    local = Window.partitionBy(group_col, "_salt").orderBy(*ordering)
    cand = (
        df.withColumn("_salt", salt)
        .withColumn("_lrk", F.row_number().over(local))
        .where(F.col("_lrk") <= k)
        .drop("_salt", "_lrk")
    )
    exact = Window.partitionBy(group_col).orderBy(*ordering)
    return (
        cand.withColumn("rk", F.row_number().over(exact))
        .where(F.col("rk") <= k)
    )


# ---------------------------------------------------------------------------
# DSIR-style importance weighting (Data Selection via Importance
# Resampling, Xie et al., NeurIPS 2023 — public method): score raw
# documents by how much their hashed-n-gram feature distribution looks
# like a TARGET corpus, then keep the top-weighted ones. The standard
# way to steer a 100 TB crawl toward a curated distribution without a
# model in the loop.
# ---------------------------------------------------------------------------


def _gram_buckets(
    df: DataFrame, n_buckets: int, text_col: str, id_col: str
) -> DataFrame:
    """(id, bucket) rows: every unigram and bigram of the normalized
    text, hashed into ``n_buckets`` (the paper's hashed feature space).
    All JVM: split + one guarded transform for bigrams + explode."""
    from .text import norm_text

    toks = F.split(norm_text(F.col(text_col)), " ")
    # no spread here: the gram explode fans out fast enough that the
    # up-front corpus shuffle costs more than the serial scan it
    # parallelizes (fresh-box same-HEAD A/B: median 2.3 s plain vs
    # 4.6-7.0 s spread; OPTIMIZATION_r06.md, q_dsir_weights)
    with_tk = df.select(F.col(id_col), toks.alias("_tk"))
    bigrams = F.when(
        F.size("_tk") >= 2,
        F.expr(
            "transform(sequence(1, size(_tk) - 1),"
            " i -> concat(element_at(_tk, i), ' ', element_at(_tk, i + 1)))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        with_tk.select(
            id_col, F.explode(F.concat(F.col("_tk"), bigrams)).alias("gram")
        )
        .where(F.col("gram") != "")
        .select(
            id_col,
            (portable_hash64(F.col("gram")) % n_buckets).alias("bucket"),
        )
    )


def dsir_weights(
    raw: DataFrame,
    target: DataFrame,
    n_buckets: int = 256,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Importance weight per raw document: ``score = Σ_b f_b · r_b``
    where ``f_b`` is the doc's count in hashed-n-gram bucket ``b`` and
    ``r_b = p_b / q_b`` is the add-one-smoothed bucket-probability
    ratio between the target and raw corpora.

    Cross-engine-exact scoring (the bm25_topk discipline): the paper
    sums LOG ratios — libm-dependent, so irreproducible bit-for-bit
    across engines. Here the weight sums the ratios themselves: still
    monotone per bucket in the same direction (r_b > 1 iff the bucket
    is target-enriched), selection quality is equivalent in practice,
    and every arithmetic step is an IEEE operation on identical
    integers — ``r_b = (double(tc_b+1) · double(R+k)) /
    (double(rc_b+1) · double(T+k))`` — summed in ascending-bucket
    order via an ordered fold, rounded to 4dp. A DuckDB oracle replays
    it bit-exactly (gate ``q_dsir_weights``).

    Scale shape: one explode + two k-row aggregations (map-side
    combine), ratio dim is ≤ ``n_buckets`` rows (broadcast join), one
    groupBy per doc. No shuffle is corpus² anywhere; overflow-safe —
    products are computed in double, never int64. Docs whose normalized
    text is empty emit no grams and are absent from the output (no
    evidence → no weight).
    """
    raw_g = _gram_buckets(raw, n_buckets, text_col, id_col)
    tgt_g = _gram_buckets(target, n_buckets, text_col, id_col)

    # rc is derived FROM the per-doc counts (identical integers: the
    # bucket total is the sum of its per-doc counts) so the raw-corpus
    # gram explode feeds ONE exchange — keyed (id, bucket) — that both
    # the ratio dim and the contrib join reuse; the old direct
    # groupBy("bucket") was a second, differently-keyed exchange that
    # re-ran the whole explode (guide §2.4: share one exchange)
    f = raw_g.groupBy(id_col, "bucket").agg(F.count("*").alias("f"))
    rc = f.groupBy("bucket").agg(F.sum("f").alias("rc"))
    tc = tgt_g.groupBy("bucket").agg(F.count("*").alias("tc"))
    totals = rc.agg(F.sum("rc").alias("R")).crossJoin(
        tc.agg(F.sum("tc").alias("T"))
    )
    k = F.lit(n_buckets).cast("long")
    ratios = (
        rc.join(tc, "bucket", "left")
        .na.fill({"tc": 0})
        .crossJoin(F.broadcast(totals))
        .select(
            "bucket",
            (
                ((F.col("tc") + 1).cast("double")
                 * (F.col("R") + k).cast("double"))
                / ((F.col("rc") + 1).cast("double")
                   * (F.col("T") + k).cast("double"))
            ).alias("r"),
        )
    )
    contrib = f.join(F.broadcast(ratios), "bucket").select(
        id_col,
        "bucket",
        (F.col("f").cast("double") * F.col("r")).alias("contrib"),
    )
    folded = F.aggregate(
        F.array_sort(F.collect_list(F.struct("bucket", "contrib"))),
        F.lit(0.0),
        lambda acc, x: acc + x["contrib"],
    )
    return contrib.groupBy(id_col).agg(
        F.round(folded, 4).alias("score")
    )


def dsir_select(
    raw: DataFrame,
    target: DataFrame,
    n: int,
    n_buckets: int = 256,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The selection step: top-``n`` raw docs by importance weight
    (deterministic ``(score desc, id asc)`` order — the paper's
    gumbel-resampling randomness replaced by the deterministic rank,
    like every sampler in this module). TakeOrderedAndProject — no
    global sort materializes."""
    w = dsir_weights(raw, target, n_buckets, text_col, id_col)
    return w.orderBy(F.desc("score"), F.asc(id_col)).limit(n)
