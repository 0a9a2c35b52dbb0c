"""Deduplication operators over the documents table — exact,
MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine near-dup.

Design for 100 TB (the whole point of each variant):

* exact        — one hash-groupBy shuffle on a 16-byte key; AQE handles
                 skewed boilerplate texts.
* minhash_lsh  — signatures are a map-side transform (no shuffle);
                 candidates come from a band-bucket self-join, so the
                 shuffle key is the band hash, never the document —
                 O(near-dups), not O(n²).
* simhash      — one 64-bit value per doc; banded prefix buckets give
                 the candidate join the same O(near-dups) profile.
* ngram_jaccard— the exact verifier run *after* LSH candidate pruning
                 at scale (here also runnable standalone for the oracle).
* embedding    — cosine near-dup; brute pair join at oracle scale,
                 LSH-bucketed in similarity.py for the scale path.

Every operator is built-in-function only (JVM codegen; zero Python) and
deterministic, with bit-exact DuckDB oracles in __spark_entry__.py.

MinHash hash family: each shingle is md5-hashed ONCE
(x = portable_hash64(s), split into two 30-bit halves x1/x2), then the
16 per-permutation values are the universal-hash combos
h_j(s) = (A_j*x1 + B_j*x2 + j) mod (2^31 - 1) with fixed md5-derived
30-bit odd coefficients (:func:`minhash_coeffs`; see MINHASH_P on why
the modulus must be small enough to wrap). One string hash +
num_hashes integer fmas per shingle instead of num_hashes string
hashes — every term stays below 2^61 so the arithmetic is exact in
int64 in ANY engine (the DuckDB oracle replays it literally).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import release
from .text import norm_text, portable_hash64


def cap_bucket_members(
    df: DataFrame,
    bucket_cols: list[str],
    order_col: str,
    max_bucket: int,
    op_name: str,
) -> DataFrame:
    """Skew guard shared by every LSH-family candidate generator
    (minhash bands, simhash prefix bands, embedding sign-buckets): K
    near-identical inputs land in ONE bucket and self-join into K²
    pairs — one boilerplate cluster can dominate the whole shuffle at
    corpus scale. Keeps only the first ``max_bucket`` members of each
    bucket (deterministic ``order_col`` order), bounding per-bucket
    join output at C(max_bucket, 2); oversized buckets are counted and
    reported via ``warnings.warn``. Members beyond the cap lose only
    pairs WITHIN that bucket — identical inputs collide in every
    band/probe, so heavy clusters still surface through kept members.

    The ranked frame is cached for the overflow-count job, then the
    capped rows are localCheckpoint-ed (one materialization the
    downstream join reuses) so the cache is released before return —
    a long-lived session never accumulates guard caches.
    """
    import warnings

    from pyspark.sql.window import Window

    ranked = df.withColumn(
        "_r",
        F.row_number().over(
            Window.partitionBy(*bucket_cols).orderBy(order_col)
        ),
    ).persist()
    n_over = (
        ranked.where(F.col("_r") > max_bucket)
        .select(*bucket_cols)
        .distinct()
        .count()
    )
    if n_over:
        warnings.warn(
            f"{op_name}: {n_over} bucket(s) exceeded max_bucket="
            f"{max_bucket}; pairs within the overflow were dropped "
            "(skew guard)",
            stacklevel=3,
        )
    capped = (
        ranked.where(F.col("_r") <= max_bucket)
        .drop("_r")
        .localCheckpoint(eager=True)
    )
    ranked.unpersist()
    return capped


def exact_duplicates(docs: DataFrame) -> DataFrame:
    """Groups of byte-identical (normalized) texts: fingerprint,
    canonical (min) doc_id, group size. Only groups with >1 member."""
    norm = norm_text(F.col("text"))
    return (
        docs.select(F.col("doc_id"), F.md5(norm).alias("fp"))
        .groupBy("fp")
        .agg(
            F.min("doc_id").alias("canonical_doc_id"),
            F.count("*").alias("dup_count"),
        )
        .where(F.col("dup_count") > 1)
    )


def word_shingles(docs: DataFrame, n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per doc: (doc_id, shingle).
    slice() is 1-based in both Spark and DuckDB list semantics.
    The doc scan is spread to the core count when narrower (guide §6):
    tokenize + n-gram expansion is the dominant map-side cost of every
    shingle consumer and otherwise serializes on a one-row-group file's
    single scan task; wide inputs pass through untouched."""
    from ..session import spread_scan

    toks = spread_scan(docs).select(
        "doc_id", F.split(norm_text(F.col("text")), " ").alias("w")
    )
    return (
        toks.select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.greatest(F.size("w") - (n - 1), F.lit(1))),
                    lambda i: F.concat_ws(" ", F.slice(F.col("w"), i, n)),
                )
            ).alias("shingle"),
        )
        .distinct()
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Exact Jaccard similarity over word n-gram shingle sets; pairs
    with jaccard >= threshold (a < b).

    With ``candidates`` (doc_a, doc_b pairs, e.g. from
    minhash_lsh_candidates), the shingle join is driven BY the candidate
    pairs — cost O(candidates × shingles-per-doc) instead of the full
    shingle self-join. This is the 100 TB path: LSH proposes, this
    verifies, and nothing ever enumerates all pairs. Pairs sharing zero
    shingles drop out in both modes (common >= 1 by construction)."""
    sh = word_shingles(docs, n)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    if candidates is not None:
        sh_a = sh.select(
            F.col("doc_id").alias("doc_a"), F.col("shingle").alias("shingle")
        )
        sh_b = sh.select(
            F.col("doc_id").alias("doc_b"), F.col("shingle").alias("shingle")
        )
        common = (
            candidates.select("doc_a", "doc_b")
            .join(sh_a, "doc_a")
            .join(sh_b, ["doc_b", "shingle"])
            .groupBy("doc_a", "doc_b")
            .agg(F.count("*").alias("common"))
        )
    else:
        common = (
            sh.alias("a")
            .join(sh.alias("b"), "shingle")
            .where(F.col("a.doc_id") < F.col("b.doc_id"))
            .groupBy(
                F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
            )
            .agg(F.count("*").alias("common"))
        )
    return (
        common.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sz", "sz_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sz", "sz_b"), "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("common") / (F.col("sz_a") + F.col("sz_b") - F.col("common")), 4
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "common", "jaccard")
    )


# Mersenne-31 modulus (Carter–Wegman): the 30-bit-coefficient products
# reach ~2^60, i.e. ~2^29 wraps around P — the wrapping is what makes
# the permutations independent. (A 2^61-1 modulus with the same
# coefficients NEVER wraps, leaving h_j monotone in (x1, x2) across all
# j — measured: LSH candidate pairs inflated 25 → 139 on the sf0.01
# gate corpus before being caught.)
MINHASH_P = (1 << 31) - 1


def minhash_coeffs(num_hashes: int) -> tuple[list[int], list[int]]:
    """Fixed 30-bit odd coefficient pairs (A_j, B_j) for the universal
    MinHash family, derived from md5 so any engine can re-derive (or
    just inline) the identical literals."""
    import hashlib

    def c(tag: str, j: int) -> int:
        h = hashlib.md5(f"minhash-{tag}-{j}".encode()).hexdigest()
        return (int(h[:8], 16) % (1 << 30)) | 1

    return (
        [c("a", j) for j in range(num_hashes)],
        [c("b", j) for j in range(num_hashes)],
    )


def minhash_signatures(
    docs: DataFrame, num_hashes: int = 16, n: int = 3
) -> DataFrame:
    """(doc_id, j, minhash): min over shingles of h_j(shingle).

    One md5 per DISTINCT shingle, then cheap exact int64 arithmetic per
    permutation (see module docstring) — at corpus scale the string
    hashing is the dominant per-row cost and this cuts it by
    num_hashes×. The j explode feeds a partially-aggregated groupBy, so
    the shuffle carries only num_hashes rows per doc."""
    a_co, b_co = minhash_coeffs(num_hashes)
    sh = word_shingles(docs, n)
    x = portable_hash64(F.col("shingle"))
    pre = sh.select(
        "doc_id",
        (x % F.lit(1 << 30)).alias("_x1"),
        F.shiftright(x, 30).alias("_x2"),
    )
    j = F.explode(F.sequence(F.lit(0), F.lit(num_hashes - 1))).alias("j")
    a_arr = F.array(*[F.lit(v).cast("long") for v in a_co])
    b_arr = F.array(*[F.lit(v).cast("long") for v in b_co])
    hashed = pre.select("doc_id", "_x1", "_x2", j).select(
        "doc_id",
        "j",
        (
            (
                F.element_at(a_arr, F.col("j") + 1) * F.col("_x1")
                + F.element_at(b_arr, F.col("j") + 1) * F.col("_x2")
                + F.col("j")
            )
            % F.lit(MINHASH_P)
        ).alias("h"),
    )
    return hashed.groupBy("doc_id", "j").agg(F.min("h").alias("minhash"))


def minhash_lsh_candidates(
    docs: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    n: int = 3,
    max_bucket: int | None = None,
) -> DataFrame:
    """Candidate near-dup pairs: docs sharing at least one LSH band.
    band signature = md5 of the band's minhashes joined in j order —
    identical construction in the DuckDB oracle (string_agg ORDER BY j).

    ``max_bucket`` is the skew guard for boilerplate-heavy corpora
    (round-2 verdict item 9): a single ``(band, bsig)`` bucket holding
    K near-identical docs self-joins into K² pairs — one mirror-page
    cluster can dominate the whole shuffle. With the cap set, each
    bucket keeps only its first ``max_bucket`` doc_ids (deterministic
    order), bounding per-bucket output at C(max_bucket, 2); oversized
    buckets are counted and reported via ``warnings.warn``. Docs beyond
    the cap lose only pairs WITHIN that bucket — identical docs collide
    in every band, so heavy clusters still surface through their kept
    members. Default None preserves the exact (oracle-checked) output.
    """
    rows_per_band = num_hashes // bands
    sig = minhash_signatures(docs, num_hashes, n).withColumn(
        "band", (F.col("j") / rows_per_band).cast("int")
    )
    band_sig = sig.groupBy("doc_id", "band").agg(
        F.md5(
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("j"), F.col("minhash")))
                    ),
                    lambda s: F.concat(
                        s["j"].cast("string"), F.lit(":"), s["minhash"].cast("string")
                    ),
                ),
            )
        ).alias("bsig")
    )
    if max_bucket is not None:
        band_sig = cap_bucket_members(
            band_sig, ["band", "bsig"], "doc_id", max_bucket,
            "minhash_lsh_candidates",
        )
    return (
        band_sig.alias("a")
        .join(band_sig.alias("b"), ["band", "bsig"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )


def simhash(docs: DataFrame, bits: int = 32) -> DataFrame:
    """Per-doc SimHash: sign-aggregate token-hash bits.
    bit b of simhash = 1 iff sum over tokens of ±1 (by bit b of the
    token hash) is positive. Narrow scans spread to the core count
    (guide §6 — same rationale as `word_shingles`)."""
    from ..session import spread_scan

    docs = spread_scan(docs)
    toks = docs.select(
        "doc_id", F.explode(F.split(norm_text(F.col("text")), " ")).alias("tok")
    ).withColumn("h", portable_hash64(F.col("tok")))
    per_bit = toks.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(bits - 1))).alias("b"),
        F.col("h"),
    ).groupBy("doc_id", "b").agg(
        # shiftright builtin takes a literal shift — use the SQL form for
        # a column-valued shift (stays JVM-side)
        F.sum(
            F.when(F.expr("shiftright(h, b) & 1") == 1, 1).otherwise(-1)
        ).alias("s")
    )
    return per_bit.groupBy("doc_id").agg(
        # .cast("long") pins the output to BIGINT — DuckDB's sum() widens
        # to HUGEINT, which hash-mismatches the gate otherwise
        F.sum(
            F.when(
                F.col("s") > 0, F.expr("shiftleft(cast(1 as bigint), b)")
            ).otherwise(F.lit(0).cast("long"))
        ).cast("long").alias("simhash")
    )


def simhash_neardup_pairs(
    docs: DataFrame, bits: int = 32, max_hamming: int = 3,
    max_bucket: int | None = None,
) -> DataFrame:
    """Pairs within Hamming distance; candidate pruning via banded
    prefix buckets (pigeonhole: ≤3 differing bits over 4 bands → at
    least one identical band), then exact popcount verify.

    ``max_bucket`` bounds each (band, bucket) self-join at
    C(max_bucket, 2) via the shared :func:`cap_bucket_members` skew
    guard — identical docs share every band bucket, so without the cap
    one boilerplate cluster produces K² candidate pairs. Default None
    preserves the exact (oracle-checked) output."""
    bands = max_hamming + 1
    band_bits = bits // bands
    sh = simhash(docs, bits)
    banded = sh.select(
        "doc_id",
        "simhash",
        F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("band"),
    ).withColumn(
        "bucket",
        F.expr(f"shiftright(simhash, band * {band_bits}) & {(1 << band_bits) - 1}"),
    )
    if max_bucket is not None:
        banded = cap_bucket_members(
            banded, ["band", "bucket"], "doc_id", max_bucket,
            "simhash_neardup_pairs",
        )
    cand = (
        banded.alias("a")
        .join(banded.alias("b"), ["band", "bucket"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    return (
        cand.withColumn(
            "hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
        )
        .where(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def embedding_neardup_pairs(
    embeddings: DataFrame, threshold: float = 0.99
) -> DataFrame:
    """Embedding-cosine near-duplicates (a < b, cosine >= threshold).
    Brute pair join — the oracle-scale exact variant; the LSH-bucketed
    scale path lives in similarity.py."""
    from .similarity import cosine_col

    a = embeddings.select(
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("va")
    )
    b = embeddings.select(
        F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb")
    )
    return (
        a.crossJoin(b)
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", F.round(cosine_col(F.col("va"), F.col("vb")), 4))
        .where(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def embedding_neardup_lsh(
    embeddings: DataFrame,
    threshold: float = 0.35,
    dim: int = 64,
    num_planes: int = 8,
    max_bucket: int | None = None,
) -> DataFrame:
    """Scale-path embedding near-dup: sign-LSH bucket self-join + exact
    cosine verify — the bucketed replacement for the all-pairs crossJoin
    in embedding_neardup_pairs.

    Candidate rule (deterministic, so exactly DuckDB-oracle-able): a
    pair is a candidate iff their hyperplane-sign buckets are equal OR
    differ in exactly one bit (multiprobe). Realized as an EQUI-join:
    side A explodes into its own bucket plus all 1-bit flips (probe
    keys); side B keeps its bucket; join on probe == bucket. The shuffle
    key is the 8-bit bucket — O(candidates), never O(n²). Each
    qualifying pair is produced exactly once per matching probe and
    deduped; the exact cosine then filters false positives.

    ``max_bucket`` caps each sign-bucket's membership via the shared
    :func:`cap_bucket_members` skew guard (K identical embeddings share
    a bucket → K² candidates × 9 probes without it); default None keeps
    the exact oracle-checked output.
    """
    from .similarity import cosine_col, lsh_sign_bucket

    bucketed = embeddings.select(
        "vec_id",
        "embedding",
        lsh_sign_bucket(F.col("embedding"), dim, num_planes).alias("bucket"),
    )
    if max_bucket is not None:
        bucketed = cap_bucket_members(
            bucketed, ["bucket"], "vec_id", max_bucket,
            "embedding_neardup_lsh",
        )
    # probe j in [0, num_planes]: j == num_planes is the identity probe
    probes = bucketed.select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("va"),
        F.explode(F.sequence(F.lit(0), F.lit(num_planes))).alias("j"),
        F.col("bucket").alias("bucket_a"),
    ).select(
        "id_a",
        "va",
        F.when(F.col("j") == num_planes, F.col("bucket_a"))
        .otherwise(F.col("bucket_a").bitwiseXOR(F.expr("shiftleft(cast(1 as bigint), j)")))
        .alias("probe"),
    )
    other = bucketed.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("vb"),
        F.col("bucket").alias("probe"),
    )
    cand = (
        probes.join(other, "probe")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "va", "vb")
        .dropDuplicates(["id_a", "id_b"])
    )
    return (
        cand.withColumn("cosine", F.round(cosine_col(F.col("va"), F.col("vb")), 4))
        .where(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def connected_components(
    pairs: DataFrame, src: str = "doc_a", dst: str = "doc_b", max_iter: int = 50
) -> DataFrame:
    """Connected components over near-duplicate pairs — the clustering
    step a dedup pipeline runs after candidate verification (keep one
    canonical doc per cluster, drop the rest).

    Min-label propagation: every vertex starts labeled with itself; each
    iteration takes the min of its own and its neighbors' labels (one
    join + one min-aggregate = one shuffle), stopping at fixpoint.
    Deterministic (min is order-free). Iterations are bounded by the
    cluster diameter — near-dup clusters are shallow, so this converges
    in a handful of rounds even at corpus scale; per-iteration
    ``localCheckpoint`` truncates lineage so the plan stays flat. (The
    large-star/small-star variant drops into the same loop shape if
    pathological chain-diameter graphs ever appear.)

    Returns (doc_id, canonical_doc_id = min doc id of the component)
    for every vertex that appears in ``pairs``.
    """
    half = pairs.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    edges = (
        half.unionByName(half.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .persist()
    )
    held = (
        edges.select(F.col("a").alias("v"))
        .distinct()
        .withColumn("label", F.col("v"))
        .localCheckpoint(eager=True)
    )
    labels = held
    for _ in range(max_iter):
        nbr = (
            edges.join(labels, edges["b"] == labels["v"])
            .groupBy("a")
            .agg(F.min("label").alias("nlabel"))
        )
        # the fixpoint test rides the same pass: a vertex changed iff a
        # neighbor offered a strictly smaller label — no extra
        # old-vs-new join. The checkpoint is LAZY so the count action
        # both materializes it and reads the change flag in ONE Spark
        # job per iteration (eager ckpt + count was two). Once it has,
        # the labels it supersedes are released: only the returned
        # labels stay held.
        new_labels = (
            labels.join(nbr, labels["v"] == nbr["a"], "left")
            .select(
                labels["v"].alias("v"),
                F.least(
                    F.col("label"), F.coalesce("nlabel", F.col("label"))
                ).alias("label"),
                (F.col("nlabel") < F.col("label")).alias("_chg"),
            )
            .localCheckpoint(eager=False)
        )
        changed = new_labels.where(F.col("_chg")).count()
        release(held)
        held, labels = new_labels, new_labels.drop("_chg")
        if changed == 0:
            break
    release(edges)
    return labels.select(
        F.col("v").alias("doc_id"), F.col("label").alias("canonical_doc_id")
    )


def line_dedup(
    docs: DataFrame,
    text_col: str = "text",
    delim: str = "\n",
    min_words: int = 2,
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-wide exact line (span) deduplication — the C4 /
    RefinedWeb curation step: every line whose trimmed form appears
    more than once in the corpus is kept ONLY at its first occurrence
    (ordered by (doc, position)) and dropped everywhere else, then each
    document is reassembled in original line order. Lines with fewer
    than ``min_words`` whitespace words (headings, bullets, empties)
    are exempt — they are legitimate repeats, and exempting the empty
    line also keeps the hottest possible key out of the shuffle.

    Returns ``(id_col, text_dedup, n_lines, n_removed)``.

    Scale shape (100 TB): the keep-set is computed as a hash
    **aggregate** — ``min(struct(doc, pos))`` per line key — NOT a
    ``row_number`` window over the key: partial aggregation combines
    map-side, so a boilerplate line repeated 10^8 times contributes one
    row per input partition to the shuffle instead of 10^8 rows into
    one window partition. The re-join that marks survivors sees at most
    ONE row per key on the build side (AQE splits the hot probe
    partitions), and the final reassembly is one groupBy on the doc id
    with ``array_sort`` — no global ordering anywhere. All built-in
    JVM expressions; the DuckDB oracle replays the semantics with an
    independent window-function plan.
    """
    lines = docs.select(
        F.col(id_col).alias("_d"),
        F.posexplode(F.split(F.col(text_col), delim, -1)).alias(
            "_pos", "_line"
        ),
    ).withColumn(
        "_exempt",
        F.size(F.split(F.trim(F.col("_line")), r"\s+", -1)) < F.lit(min_words),
    )
    keyed = lines.withColumn("_k", F.md5(F.trim(F.col("_line"))))
    firsts = (
        keyed.where(~F.col("_exempt"))
        .groupBy("_k")
        .agg(F.min(F.struct("_d", "_pos")).alias("_first"))
    )
    kept = keyed.join(firsts, "_k", "left").where(
        F.col("_exempt")
        | (F.struct("_d", "_pos") == F.col("_first"))
    )
    kept_agg = kept.groupBy("_d").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_pos", "_line"))),
                lambda s: s["_line"],
            ),
            delim,
        ).alias("text_dedup"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    # left from the per-doc line counts: a document whose every line
    # was removed still comes back, as the empty string
    return (
        lines.groupBy("_d")
        .agg(F.count(F.lit(1)).alias("n_lines"))
        .join(kept_agg, "_d", "left")
        .select(
            F.col("_d").alias(id_col),
            F.coalesce("text_dedup", F.lit("")).alias("text_dedup"),
            "n_lines",
            (
                F.col("n_lines") - F.coalesce("n_kept", F.lit(0))
            ).alias("n_removed"),
        )
    )
