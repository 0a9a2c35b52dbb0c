"""Training-data pipeline ops: dedup recall, ANN recall vs brute force,
multimodal plumbing (real PNG path + clearly-marked stubs)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from pholcus_spark.ops import dedup, multimodal, similarity, text


@pytest.fixture(scope="module")
def docs(spark):
    base = [
        "the quick brown fox jumps over the lazy dog near the river bank",
        "a completely different document about spark shuffle partitions and joins",
        "colorless green ideas sleep furiously in the garden of forking paths",
    ]
    rows = []
    did = 0
    for b in base:
        rows.append((did, b)); did += 1
        rows.append((did, b + " extra tail token"), ); did += 1  # near-dup
        rows.append((did, b), ); did += 1  # exact dup
    rows.append((did, "short"),); did += 1
    rows.append((did, ""),); did += 1
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_duplicates(spark, docs):
    out = {r.canonical_doc_id: r.dup_count for r in dedup.exact_duplicates(docs).collect()}
    assert out == {0: 2, 3: 2, 6: 2}


def test_ngram_jaccard_finds_neardups(spark, docs):
    pairs = {(r.doc_a, r.doc_b): r.jaccard for r in
             dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.5).collect()}
    # exact dups have jaccard 1.0; near-dups high
    assert pairs[(0, 2)] == 1.0
    assert pairs[(0, 1)] >= 0.5
    assert (0, 9) not in pairs


def test_minhash_lsh_recall_of_high_jaccard(spark, docs):
    cand = {(r.doc_a, r.doc_b) for r in
            dedup.minhash_lsh_candidates(docs, num_hashes=16, bands=4).collect()}
    exact = {(r.doc_a, r.doc_b) for r in
             dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.8).collect()}
    # every >=0.8-jaccard pair must be an LSH candidate (banding recall)
    assert exact <= cand


def test_simhash_neardup(spark, docs):
    pairs = {(r.doc_a, r.doc_b): r.hamming for r in
             dedup.simhash_neardup_pairs(docs, bits=32, max_hamming=3).collect()}
    assert pairs.get((0, 2)) == 0  # exact dup → identical simhash
    sh = {r.doc_id: r.simhash for r in dedup.simhash(docs, bits=32).collect()}
    assert sh[0] == sh[2]
    assert bin((sh[0] ^ sh[1]) & 0xFFFFFFFF).count("1") <= 6  # near-dup close


@pytest.fixture(scope="module")
def emb(spark):
    rng = np.random.default_rng(7)
    centers = rng.normal(size=(5, 16))
    rows = []
    vid = 0
    for label in range(5):
        for _ in range(20):
            v = centers[label] + rng.normal(scale=0.05, size=16)
            rows.append((vid, [float(x) for x in v], label))
            vid += 1
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")


def test_cosine_topk_matches_numpy(spark, emb):
    rows = emb.collect()
    vecs = {r.vec_id: np.array(r.embedding) for r in rows}
    q = vecs[0]
    cos = {
        vid: float(v @ q / (np.linalg.norm(v) * np.linalg.norm(q)))
        for vid, v in vecs.items() if vid != 0
    }
    expected = sorted(cos, key=lambda v: (-round(cos[v], 4), v))[:10]
    got = [r.vec_id for r in similarity.cosine_topk(emb, 0, 10).collect()]
    assert got == expected


def test_ann_lsh_recall(spark, emb):
    brute = {r.vec_id for r in similarity.cosine_topk(emb, 0, 10).collect()}
    ann = {r.vec_id for r in
           similarity.ann_lsh_topk(emb, 0, 10, dim=16, num_planes=6).collect()}
    # clustered data: same-cluster neighbors share sign buckets
    assert len(brute & ann) >= 7


def test_jaccard_candidate_driven_equals_full(spark, docs):
    """Candidate-driven verify (the scale path entry() uses) returns
    exactly the full-join result restricted to the candidate pairs, and
    its plan never contains a cartesian product."""
    cand = dedup.minhash_lsh_candidates(docs, num_hashes=16, bands=4)
    driven = dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.0, candidates=cand)
    plan = driven._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    full = dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.0)
    expect = {
        (r.doc_a, r.doc_b): (r.common, r.jaccard)
        for r in full.join(cand, ["doc_a", "doc_b"]).collect()
    }
    got = {(r.doc_a, r.doc_b): (r.common, r.jaccard) for r in driven.collect()}
    assert got == expect and len(got) > 0


def test_embedding_neardup_lsh_subset_of_exact(spark, emb):
    """Bucketed LSH near-dup pairs are a subset of the exact all-pairs
    result with identical cosines, and recall is high on clustered data
    (same-cluster vectors share sign buckets)."""
    exact = {
        (r.id_a, r.id_b): r.cosine
        for r in dedup.embedding_neardup_pairs(emb, threshold=0.99).collect()
    }
    lsh = {
        (r.id_a, r.id_b): r.cosine
        for r in dedup.embedding_neardup_lsh(
            emb, threshold=0.99, dim=16, num_planes=6
        ).collect()
    }
    assert set(lsh) <= set(exact)
    assert all(exact[p] == c for p, c in lsh.items())
    assert len(lsh) >= 0.7 * len(exact)
    plan = dedup.embedding_neardup_lsh(
        emb, threshold=0.99, dim=16, num_planes=6
    )._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_embedding_neardup_pairs(spark, emb):
    pairs = dedup.embedding_neardup_pairs(emb, threshold=0.995).collect()
    assert len(pairs) > 0
    labels = {r.vec_id: r.label for r in emb.collect()}
    same = sum(labels[r.id_a] == labels[r.id_b] for r in pairs)
    assert same / len(pairs) > 0.95  # near-dups are intra-cluster


def test_image_stats_matches_fixture_phash(spark):
    from pholcus_spark import fixtures

    corpus = fixtures.generate(fixtures.SiteSpec(n_hosts=1, list_pages=2))
    _, images, _, _, _ = fixtures.to_spark(spark, corpus)
    stats = multimodal.image_stats(images)
    joined = stats.alias("s").join(images.alias("i"), "image_id").select(
        "image_id",
        (F.col("s.phash") == F.col("i.phash")).alias("ph_eq"),
        (F.col("s.w") == F.col("i.w")).alias("w_eq"),
        F.col("s.ok"),
    ).collect()
    assert len(joined) > 0
    assert all(r.ph_eq and r.w_eq and r.ok for r in joined)


def test_resize_images(spark):
    from pholcus_spark import fixtures

    corpus = fixtures.generate(fixtures.SiteSpec(n_hosts=1, list_pages=1))
    _, images, _, _, _ = fixtures.to_spark(spark, corpus)
    out = multimodal.resize_images(images, 16, 16).collect()
    from pholcus_spark.imaging import decode_png

    for r in out:
        px = decode_png(bytes(r.bytes))
        assert px.shape == (16, 16, 3)


def test_audio_byte_features_deterministic(spark):
    rows = [("m1", b"\x00\x01\x02" * 100), ("m2", b"\xff" * 50)]
    df = spark.createDataFrame(rows, "media_id string, bytes binary")
    out = {r.media_id: (r.n_bytes, round(r.byte_entropy, 6), round(r.rms_proxy, 4))
           for r in multimodal.audio_byte_features(df).collect()}
    assert out["m1"][0] == 300
    assert out["m1"][1] == pytest.approx(1.584963, abs=1e-5)  # log2(3)
    assert out["m2"] == (50, 0.0, 127.0)


def test_video_stub_raises(spark):
    df = spark.createDataFrame([("m1", b"xx")], "media_id string, bytes binary")
    with pytest.raises(Exception, match="NotImplementedError|ffmpeg"):
        multimodal.video_frame_sample_stub(df).collect()


def test_text_ops_shapes(spark, docs):
    tc = {r.doc_id: r.n_tokens for r in text.token_count(docs).collect()}
    assert tc[0] == 13
    q = {r.doc_id: r.quality for r in text.quality_score(docs).collect()}
    assert all(0.0 <= v <= 1.0 for v in q.values())
    li = {r.doc_id: r.pred_lang for r in text.lang_id(docs).collect()}
    assert li[0] == "en"  # 'the' markers
    fp = {r.doc_id: r.fp_md5 for r in text.fingerprint(docs).collect()}
    assert fp[0] == fp[2] and fp[0] != fp[1]


def test_connected_components_clusters(spark):
    """Min-label CC on a known graph: two chains + a singleton-free
    isolated pair — every vertex maps to its component's min id, and
    convergence beats the iteration cap (diameter-bound). Of the
    per-iteration label checkpoints only the returned labels stay
    held."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22)],
        "doc_a long, doc_b long",
    )
    jsc = spark.sparkContext._jsc
    base = jsc.getPersistentRDDs().size()
    labels = dedup.connected_components(pairs)
    got = {r.doc_id: r.canonical_doc_id for r in labels.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}
    assert jsc.getPersistentRDDs().size() - base <= 1


def test_phash_neardup_pairs(spark):
    """Pigeonhole banding over 64-bit phash: all pairs within the
    Hamming bound are found (incl. differences isolated in the TOP bits,
    which a floor-divided band split would miss), none beyond it."""
    from pholcus_spark.ops.multimodal import phash_neardup_pairs

    def s64(x):  # wrap to signed 64-bit (phash is a Spark long)
        x &= (1 << 64) - 1
        return x - (1 << 64) if x >= (1 << 63) else x

    base = 0x0123456789ABCDEF
    rows = [
        ("a", s64(base)),
        ("b", s64(base ^ 0b11)),                 # hamming 2 vs a
        ("c", s64(base ^ (1 << 63) ^ (1 << 62))),  # hamming 2, top bits only
        ("d", s64(base ^ 0x00FF00FF00FF00FF)),   # far away
        ("e", s64(base ^ (1 << 13) ^ (1 << 26) ^ (1 << 39) ^ (1 << 52))),  # h=4, one per band
    ]
    df = spark.createDataFrame(rows, "image_id string, phash long")
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in phash_neardup_pairs(df, max_hamming=4).collect()
    }
    assert got[("a", "b")] == 2
    assert got[("a", "c")] == 2
    assert got[("a", "e")] == 4
    assert ("b", "c") in got  # hamming 4 via both
    assert all("d" not in p for p in got)


def test_minhash_lsh_skew_guard_caps_boilerplate_bucket(spark, docs):
    """N identical docs put all N in one (band, bsig) bucket per band —
    K^2 pairs without the guard. max_bucket bounds the output and warns;
    a normal corpus is unchanged by the cap."""
    import warnings

    same = spark.createDataFrame(
        [(i, "the same boilerplate page text repeated here") for i in range(40)],
        "doc_id long, text string",
    )
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        capped = dedup.minhash_lsh_candidates(same, 16, 4, max_bucket=8).count()
        assert any("skew guard" in str(x.message) for x in w)
    assert capped == 8 * 7 // 2  # C(8,2): pairs among kept members only
    uncapped = dedup.minhash_lsh_candidates(same, 16, 4).count()
    assert uncapped == 40 * 39 // 2
    # normal corpus: cap far above any bucket -> identical candidates
    a = {(r.doc_a, r.doc_b) for r in dedup.minhash_lsh_candidates(docs, 16, 4).collect()}
    b = {
        (r.doc_a, r.doc_b)
        for r in dedup.minhash_lsh_candidates(docs, 16, 4, max_bucket=1000).collect()
    }
    assert a == b


def test_simhash_skew_guard_caps_boilerplate_bucket(spark):
    """Identical docs share every simhash band bucket — K² candidate
    pairs without the shared cap_bucket_members guard."""
    import warnings

    same = spark.createDataFrame(
        [(i, "the same boilerplate page text repeated here") for i in range(40)],
        "doc_id long, text string",
    )
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        capped = dedup.simhash_neardup_pairs(
            same, bits=32, max_hamming=3, max_bucket=8
        ).count()
        assert any("skew guard" in str(x.message) for x in w)
    assert capped == 8 * 7 // 2  # C(8,2): pairs among kept members only
    uncapped = dedup.simhash_neardup_pairs(same, bits=32, max_hamming=3).count()
    assert uncapped == 40 * 39 // 2


def test_embedding_lsh_skew_guard_caps_identical_cluster(spark):
    import warnings

    rows = [(i, [1.0] * 16) for i in range(40)]  # one sign bucket
    same = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        capped = dedup.embedding_neardup_lsh(
            same, threshold=0.9, dim=16, num_planes=8, max_bucket=8
        ).count()
        assert any("skew guard" in str(x.message) for x in w)
    assert capped == 8 * 7 // 2
    uncapped = dedup.embedding_neardup_lsh(
        same, threshold=0.9, dim=16, num_planes=8
    ).count()
    assert uncapped == 40 * 39 // 2


def test_skew_guard_no_cap_is_identity(spark, docs, emb):
    """With the cap far above any bucket size the guarded operators
    return exactly the unguarded candidate sets."""
    a = {
        (r.doc_a, r.doc_b)
        for r in dedup.simhash_neardup_pairs(docs, 32, 3).collect()
    }
    b = {
        (r.doc_a, r.doc_b)
        for r in dedup.simhash_neardup_pairs(docs, 32, 3, max_bucket=1000).collect()
    }
    assert a == b
    c = {
        (r.id_a, r.id_b)
        for r in dedup.embedding_neardup_lsh(emb, 0.99, 16, 8).collect()
    }
    d = {
        (r.id_a, r.id_b)
        for r in dedup.embedding_neardup_lsh(
            emb, 0.99, 16, 8, max_bucket=1000
        ).collect()
    }
    assert c == d


def test_asof_join_semantics(spark):
    """Backward as-of: latest right row at-or-before each left ts per
    key; <= inclusive at equal ts; no prior right row -> NULLs; keys
    absent from right -> NULLs."""
    from pholcus_spark.ops.temporal import asof_join

    left = spark.createDataFrame(
        [(1, 10, "l10"), (1, 20, "l20"), (1, 5, "l5"), (2, 7, "x7")],
        "k int, ts int, lv string",
    )
    right = spark.createDataFrame(
        [(1, 10, "r10"), (1, 15, "r15"), (3, 1, "zz")],
        "k int, ts int, rv string",
    )
    out = {
        (r.k, r.ts): (r.rv_r, r.ts_r)
        for r in asof_join(left, right, on=["k"], ts="ts").collect()
    }
    assert out[(1, 10)] == ("r10", 10)  # equal ts matches (<=)
    assert out[(1, 20)] == ("r15", 15)  # latest prior, not first
    assert out[(1, 5)] == (None, None)  # nothing at-or-before
    assert out[(2, 7)] == (None, None)  # key missing on the right


def test_asof_join_plan_single_key_shuffle(spark):
    """The scale claim: union + ONE hash exchange on the key + window —
    no join operator (a range join would explode per key)."""
    from pholcus_spark.ops.temporal import asof_join

    left = spark.range(1000).selectExpr(
        "id % 7 AS k", "CAST(id AS int) AS ts", "id AS lv"
    )
    right = spark.range(500).selectExpr(
        "id % 7 AS k", "CAST(id * 2 AS int) AS ts", "id AS rv"
    )
    df = asof_join(left, right, on=["k"], ts="ts")
    phys = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in phys  # composition, not a join
    assert phys.count("Exchange hashpartitioning(k") <= 2  # one per leg max
    assert "CartesianProduct" not in phys
    # cross-check vs a naive (correct-by-construction) range join + argmax
    from pyspark.sql import functions as F

    naive = (
        left.alias("l")
        .join(
            right.alias("r"),
            (F.col("l.k") == F.col("r.k")) & (F.col("l.ts") >= F.col("r.ts")),
            "left",
        )
        .groupBy("l.k", "l.ts", "l.lv")
        .agg(F.max_by(F.col("r.rv"), F.col("r.ts")).alias("rv"))
    )
    got = {(r.k, r.ts): r.rv_r for r in df.collect()}
    want = {(r.k, r.ts): r.rv for r in naive.collect()}
    assert got == want


def test_tumbling_agg_buckets(spark):
    from pholcus_spark.ops.temporal import tumbling_agg

    ev = spark.createDataFrame(
        [
            ("2024-01-01 00:10:00", "a", 1.0),
            ("2024-01-01 23:59:59", "a", 2.0),
            ("2024-01-02 00:00:00", "a", 4.0),  # next bucket (start incl.)
            ("2024-01-02 05:00:00", "b", 8.0),
        ],
        "ts_s string, event_type string, value double",
    ).selectExpr("CAST(ts_s AS timestamp) AS ts", "event_type", "value")
    from pyspark.sql import functions as F

    out = tumbling_agg(
        ev, "1 day", group_cols=["event_type"],
        aggs=[F.count("*").alias("n"), F.sum("value").alias("s")],
    )
    rows = {
        (str(r.bucket_start), r.event_type): (r.n, r.s) for r in out.collect()
    }
    assert rows[("2024-01-01 00:00:00", "a")] == (2, 3.0)
    assert rows[("2024-01-02 00:00:00", "a")] == (1, 4.0)
    assert rows[("2024-01-02 00:00:00", "b")] == (1, 8.0)


def test_knn_ivf_full_probe_equals_brute_force(spark, emb):
    """nprobe == n_cells probes every inverted list, so the IVF path
    must reproduce exact brute-force top-k per query."""
    from pyspark.sql import functions as F

    from pholcus_spark.ops.similarity import cosine_col, knn_batch_ivf

    qs = emb.where(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    got = knn_batch_ivf(emb, qs, k=3, n_cells=8, nprobe=8)
    brute = (
        qs.crossJoin(emb)
        .where(F.col("vec_id") != F.col("qid"))
        .select(
            "qid", "vec_id",
            F.round(cosine_col(F.col("embedding"), F.col("qvec")), 4).alias("cosine"),
        )
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("vec_id"))
    want = brute.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= 3)
    g = {(r.qid, r.rn): (r.vec_id, r.cosine) for r in got.collect()}
    e = {(r.qid, r.rn): (r.vec_id, r.cosine) for r in want.collect()}
    assert g == e


def test_knn_ivf_recall_and_pruning(spark, emb):
    """With clustered data, nprobe=2 of 8 cells keeps high recall while
    candidates touch only the probed lists (candidate rows < Q×N)."""
    from pyspark.sql import functions as F

    from pholcus_spark.ops.similarity import ivf_centroids, knn_batch_ivf

    qs = emb.where(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    exact = knn_batch_ivf(emb, qs, k=3, n_cells=8, nprobe=8)
    approx = knn_batch_ivf(emb, qs, k=3, n_cells=8, nprobe=2)
    ex = {(r.qid, r.vec_id) for r in exact.collect()}
    ap = {(r.qid, r.vec_id) for r in approx.collect()}
    assert len(ap & ex) / len(ex) >= 0.9  # clustered corpus: high recall
    # centroids are deterministic across calls
    assert ivf_centroids(emb, 8) == ivf_centroids(emb, 8)


def test_knn_ivf_assignment_is_map_side(spark, emb):
    """The inverted-list build (cell assignment) is a pure projection:
    literal centroid vectors, no join, no exchange, no window."""
    from pyspark.sql import functions as F

    from pholcus_spark.ops.similarity import assign_ivf_cell, ivf_centroids

    cents = ivf_centroids(emb, 8)
    inv = emb.withColumn("cell", assign_ivf_cell(F.col("embedding"), cents))
    phys = inv._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in phys
    assert "Join" not in phys
    assert "Window" not in phys


def test_sliding_and_session_windows(spark):
    """Hopping buckets: each event in window/slide buckets; session
    windows: merge at diff <= gap (an event landing exactly on the
    session end still extends it), split at diff > gap; end = last
    event + gap."""
    from pyspark.sql import functions as F

    from pholcus_spark.ops.temporal import session_agg, sliding_agg

    ev = spark.createDataFrame(
        [("2024-01-01 13:00:00", 1.0)],
        "ts_s string, value double",
    ).selectExpr("CAST(ts_s AS timestamp) AS ts", "value")
    slid = {
        str(r.bucket_start): r.n
        for r in sliding_agg(
            ev, "1 day", "12 hours", aggs=[F.count("*").alias("n")]
        ).collect()
    }
    # 13:00 falls in the day-window starting 12:00 and the one at 00:00
    assert slid == {"2024-01-01 00:00:00": 1, "2024-01-01 12:00:00": 1}

    ev2 = spark.createDataFrame(
        [
            (1, "2024-01-01 10:00:00"),
            (1, "2024-01-01 10:29:59"),  # diff < gap -> same session
            (1, "2024-01-01 10:59:59"),  # chains (< gap from prev)
            (1, "2024-01-01 11:29:59"),  # diff == gap -> still merges
            (1, "2024-01-01 12:00:00"),  # diff > gap -> NEW session
            (2, "2024-01-01 10:00:00"),
        ],
        "user_id long, ts_s string",
    ).selectExpr("user_id", "CAST(ts_s AS timestamp) AS ts")
    out = {
        (r.user_id, str(r.session_start)): (str(r.session_end), r.n)
        for r in session_agg(
            ev2, "30 minutes", group_cols=["user_id"],
            aggs=[F.count("*").alias("n")],
        ).collect()
    }
    assert out == {
        (1, "2024-01-01 10:00:00"): ("2024-01-01 11:59:59", 4),
        (1, "2024-01-01 12:00:00"): ("2024-01-01 12:30:00", 1),
        (2, "2024-01-01 10:00:00"): ("2024-01-01 10:30:00", 1),
    }


def test_lsh_index_reuse_identical_results(spark, emb):
    """A prebuilt (persisted) lsh_index passed via bucketed= gives
    byte-identical results to the per-call path for both the single
    query and the batch join — and the single-query plan no longer
    recomputes the corpus hash (the persisted index is scanned)."""
    from pyspark.sql import functions as F

    from pholcus_spark.ops.similarity import (
        ann_lsh_topk, knn_batch_lsh, lsh_index,
    )

    idx = lsh_index(emb, dim=16, num_planes=6).persist()
    idx.count()
    try:
        a = ann_lsh_topk(emb, 0, 10, dim=16, num_planes=6).collect()
        b = ann_lsh_topk(emb, 0, 10, dim=16, num_planes=6, bucketed=idx).collect()
        assert [tuple(r) for r in a] == [tuple(r) for r in b]
        qs = emb.where(F.col("vec_id") % 25 == 0).select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
        )
        c = knn_batch_lsh(emb, qs, k=3, dim=16, num_planes=6).collect()
        d = knn_batch_lsh(emb, qs, k=3, dim=16, num_planes=6, bucketed=idx).collect()
        assert [tuple(r) for r in c] == [tuple(r) for r in d]
        phys = (
            ann_lsh_topk(emb, 0, 10, dim=16, num_planes=6, bucketed=idx)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "InMemoryTableScan" in phys  # index scanned, not re-hashed
    finally:
        idx.unpersist()


def test_ivf_index_reuse_identical_results(spark, emb):
    from pyspark.sql import functions as F

    from pholcus_spark.ops.similarity import (
        ivf_centroids, ivf_index, knn_batch_ivf,
    )

    cents = ivf_centroids(emb, 8)
    idx = ivf_index(emb, cents).persist()
    idx.count()
    try:
        qs = emb.where(F.col("vec_id") % 25 == 0).select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
        )
        a = knn_batch_ivf(emb, qs, k=3, n_cells=8, nprobe=3, centroids=cents).collect()
        b = knn_batch_ivf(
            emb, qs, k=3, n_cells=8, nprobe=3, centroids=cents, indexed=idx
        ).collect()
        assert [tuple(r) for r in a] == [tuple(r) for r in b] and len(a) > 0
    finally:
        idx.unpersist()


@pytest.mark.parametrize("seed", [11, 23, 47])
def test_asof_join_randomized_vs_naive(spark, seed):
    """Seeded randomized cross-check of the union+window as-of join
    against the naive range-join argmax on data with duplicate left
    timestamps, sparse keys, and exact-tie (left.ts == right.ts)
    collisions. Right side is unique per (k, ts) so both formulations
    are deterministic."""
    import random

    from pyspark.sql import functions as F

    from pholcus_spark.ops.temporal import asof_join

    rng = random.Random(seed)
    left = [
        (rng.randrange(8), rng.randrange(50), i)
        for i in range(300)
    ]
    right_map = {
        (k, t): rng.randrange(10_000)
        for k in range(6)  # keys 6,7 never on the right
        for t in rng.sample(range(50), 20)
    }
    ldf = spark.createDataFrame(left, "k int, ts int, lv long")
    rdf = spark.createDataFrame(
        [(k, t, v) for (k, t), v in right_map.items()],
        "k int, ts int, rv long",
    )
    got = {
        (r.k, r.ts, r.lv): (r.rv_r, r.ts_r)
        for r in asof_join(ldf, rdf, on=["k"], ts="ts").collect()
    }
    naive = (
        ldf.alias("l")
        .join(
            rdf.alias("r"),
            (F.col("l.k") == F.col("r.k")) & (F.col("l.ts") >= F.col("r.ts")),
            "left",
        )
        .groupBy("l.k", "l.ts", "l.lv")
        .agg(
            F.max_by(F.col("r.rv"), F.col("r.ts")).alias("rv"),
            F.max(F.col("r.ts")).alias("rts"),
        )
    )
    want = {(r.k, r.ts, r.lv): (r.rv, r.rts) for r in naive.collect()}
    assert got == want and len(got) == 300


# ---------------------------------------------------------------------------
# PII scrub / decontamination / deterministic sampling (round-4 additions)
# ---------------------------------------------------------------------------


def test_pii_scrub_redacts_and_counts(spark):
    rows = [
        (0, "mail me at alice.b+spam@sub.example.co.uk today"),
        (1, "server 192.168.0.1 and 10.0.0.255 are up"),
        (2, "call +44 (20) 7946-0958 now"),
        (3, "no pii here at all"),
        # \b guards: 1.2.3.4567 is NOT an ipv4 (right edge inside a
        # digit run); a bare local part without a TLD is not an email
        (4, "almost 1.2.3.4567 and user@host only"),
        (5, "a@b.io plus 8.8.8.8 plus +1 555 0100 end"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in text.pii_scrub(df).collect()}
    assert (out[0].n_email, out[0].n_ipv4, out[0].n_phone) == (1, 0, 0)
    assert "<EMAIL>" in out[0].text_clean and "alice" not in out[0].text_clean
    assert (out[1].n_email, out[1].n_ipv4) == (0, 2)
    assert out[1].text_clean == "server <IP> and <IP> are up"
    assert out[2].n_phone == 1 and out[2].text_clean == "call <PHONE> now"
    assert out[3].text_clean == "no pii here at all"
    assert (out[4].n_email, out[4].n_ipv4, out[4].n_phone) == (0, 0, 0)
    assert (out[5].n_email, out[5].n_ipv4, out[5].n_phone) == (1, 1, 1)


def test_pii_scrub_counts_stage_wise_not_double(spark):
    # the ip-shaped substring inside an email is consumed by the email
    # redaction first, so n_ipv4 counts only the standalone one
    df = spark.createDataFrame(
        [(0, "x 10.0.0.1@example.com and 10.0.0.2 y")],
        "doc_id long, text string",
    )
    r = text.pii_scrub(df).collect()[0]
    assert (r.n_email, r.n_ipv4) == (1, 1)
    assert r.text_clean == "x <EMAIL> and <IP> y"


def test_decontaminate_drops_overlapping_docs(spark):
    docs = spark.createDataFrame(
        [
            (0, "one two three four five six seven eight nine ten"),
            (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
            (2, "totally unrelated words with no overlap whatsoever here now"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        # shares the 8-gram "two three four five six seven eight nine"
        [(100, "zz two three four five six seven eight nine zz")],
        "doc_id long, text string",
    )
    kept = sorted(
        r.doc_id for r in text.decontaminate(docs, bench, n=8).collect()
    )
    assert kept == [1, 2]
    # scale shape: benchmark side must be broadcast (no shuffle of docs
    # for the probe)
    plan = text.decontaminate(docs, bench, n=8)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_hash_sample_deterministic_and_stable_under_append(spark):
    from pholcus_spark.ops import sampling

    big = spark.range(0, 2000).withColumnRenamed("id", "k")
    s1 = {r.k for r in sampling.hash_sample(big, "k", 0.3, salt="a").collect()}
    s2 = {r.k for r in sampling.hash_sample(big, "k", 0.3, salt="a").collect()}
    assert s1 == s2  # reproducible
    # append-stability: sampling the first half alone yields exactly the
    # members of the full sample with k < 1000 (membership is a pure
    # function of the key)
    half = spark.range(0, 1000).withColumnRenamed("id", "k")
    sh = {r.k for r in sampling.hash_sample(half, "k", 0.3, salt="a").collect()}
    assert sh == {k for k in s1 if k < 1000}
    # roughly the requested fraction
    assert 0.25 < len(s1) / 2000 < 0.35
    # independent under a different salt
    s3 = {r.k for r in sampling.hash_sample(big, "k", 0.3, salt="b").collect()}
    assert s3 != s1


def test_stratified_sample_and_split(spark):
    from pholcus_spark.ops import sampling

    df = spark.range(0, 1000).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 2 == 0, "en").otherwise("zh").alias("lang"),
    )
    out = sampling.stratified_hash_sample(
        df, "k", "lang", {"en": 0.5, "zh": 0.0}, default=0.1
    )
    rows = out.collect()
    assert all(r.lang == "en" for r in rows)  # zh fraction 0 -> dropped
    assert 0.4 < len(rows) / 500 < 0.6
    split = sampling.train_holdout_split(df, "k", 0.2)
    counts = {r.split: r.n for r in split.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert set(counts) == {"train", "holdout"}
    assert counts["train"] + counts["holdout"] == 1000
    assert 0.12 < counts["holdout"] / 1000 < 0.28
    # no shuffle in any sampling plan (pure filter/project)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


# ---------------------------------------------------------------------------
# Image+caption pair curation (north-rule input shape)
# ---------------------------------------------------------------------------


def test_shard_pairs_size_bound(spark):
    """Shard invariants: every shard's total stays under target_bytes +
    its largest row (the cumulative rule overshoots by at most the
    straddling row), shard indexes are contiguous from 0 per bucket,
    and the assignment is deterministic across runs."""
    from pholcus_spark.ops import imagecaption as ic

    rows = [(f"img{i:04d}", b"x" * ((i * 37) % 900 + 100), f"cap {i}")
            for i in range(200)]
    df = spark.createDataFrame(
        rows, "image_id string, bytes binary, caption string"
    )
    out = ic.shard_pairs(df, target_bytes=2000, n_buckets=4)
    man = {
        (r.bucket, r.shard_ix): r
        for r in ic.shard_manifest(out).collect()
    }
    per_shard_max = {
        (r.bucket, r.shard_ix): r
        for r in out.groupBy("bucket", "shard_ix")
        .agg(F.max("row_bytes").alias("mx"))
        .collect()
    }
    assert len(man) > 10
    for k, m in man.items():
        assert m.total_bytes < 2000 + per_shard_max[k].mx, k
    # contiguous shard_ix per bucket, starting at 0
    by_bucket = {}
    for b, ix in man:
        by_bucket.setdefault(b, []).append(ix)
    for b, ixs in by_bucket.items():
        assert sorted(ixs) == list(range(len(ixs))), b
    # deterministic: identical assignment on re-evaluation
    a = sorted((r.image_id, r.shard) for r in out.collect())
    b = sorted(
        (r.image_id, r.shard)
        for r in ic.shard_pairs(df, target_bytes=2000, n_buckets=4).collect()
    )
    assert a == b


def test_write_webdataset_roundtrip(spark, tmp_path):
    """write_webdataset: every sharded pair lands in its assigned
    shard's tar as adjacent <id>.<fmt> + <id>.txt members, member order
    follows the shard's deterministic (hash, image_id) interleave, and
    re-exporting produces byte-identical tar files."""
    import tarfile

    from pholcus_spark.ops import imagecaption as ic
    from pholcus_spark.ops.text import portable_hash64

    rows = [
        (f"img{i:03d}", b"P" * (i % 5 + 3) + bytes([i]), "png" if i % 2 else "jpeg",
         f"caption {i}")
        for i in range(40)
    ]
    df = spark.createDataFrame(
        rows, "image_id string, bytes binary, fmt string, caption string"
    )
    sharded = ic.shard_pairs(df, target_bytes=400, n_buckets=3)

    def export(d):
        ic.write_webdataset(sharded, str(d))
        return {
            p.name: p.read_bytes() for p in d.iterdir() if p.suffix == ".tar"
        }

    tars = export(tmp_path / "wds1")
    # one tar per shard id
    shards = {r.shard for r in sharded.select("shard").distinct().collect()}
    assert set(tars) == {f"{s}.tar" for s in shards}

    # membership + adjacency + order
    order = {
        r.image_id: (r.shard, r._h)
        for r in sharded.withColumn(
            "_h", portable_hash64(F.col("image_id"))
        ).collect()
    }
    seen = {}
    for fname, data in tars.items():
        import io

        with tarfile.open(fileobj=io.BytesIO(data)) as t:
            names = t.getnames()
            # adjacent pairs: image member then its caption
            assert len(names) % 2 == 0
            ids = []
            for j in range(0, len(names), 2):
                img, txt = names[j], names[j + 1]
                iid = img.rsplit(".", 1)[0]
                assert txt == f"{iid}.txt"
                ids.append(iid)
                seen[iid] = (
                    fname[:-4],
                    t.extractfile(img).read(),
                    t.extractfile(txt).read().decode(),
                )
            # member order is the (hash, image_id) interleave
            assert ids == sorted(ids, key=lambda i: (order[i][1], i))
    for iid, by, fmt, cap in rows:
        shard, img_bytes, txt = seen[iid]
        assert shard == order[iid][0]
        assert img_bytes == by
        assert txt == cap
    # pinned mtimes -> byte-identical re-export
    assert export(tmp_path / "wds2") == tars

    # fmt='txt' would collide with the caption member name: the writer
    # rejects it loudly instead of silently losing the image on read
    import pytest
    from py4j.protocol import Py4JJavaError

    bad = spark.createDataFrame(
        [("imgX", b"zz", "txt", "cap")],
        "image_id string, bytes binary, fmt string, caption string",
    )
    with pytest.raises(Py4JJavaError, match="collides with the caption"):
        ic.write_webdataset(
            ic.shard_pairs(bad, target_bytes=100, n_buckets=1),
            str(tmp_path / "wds_bad"),
        )

    # distributed read-back inverts the export (shard + fmt + bytes +
    # caption all survive)
    back = sorted(
        (r.image_id, r.shard, r.fmt, bytes(r.bytes), r.caption)
        for r in ic.read_webdataset(spark, str(tmp_path / "wds1")).collect()
    )
    want = sorted(
        (iid, order[iid][0], fmt, by, f"caption {int(iid[3:])}")
        for iid, by, fmt, _cap in rows
    )
    assert back == want


def test_paginate_expand_edges(spark):
    """PaginateRule expansion edges: clamp at max_pages, count < start
    -> empty, and the least()-skips-nulls trap — a NON-NUMERIC count
    with max_pages set must expand to ZERO pages (least(NULL, m) = m in
    Spark; regression pinned by gate q_paginate_expand)."""
    from pholcus_spark.engine import paginate_expand
    from pholcus_spark.spiderspec import PaginateRule

    src = spark.createDataFrame(
        [
            ("a", "http://h/x", {"n": "4"}),     # pages 2..4
            ("b", "http://h/y", {"n": "9"}),     # clamped 2..6
            ("c", "http://h/z", {"n": "1"}),     # < start -> none
            ("d", "http://h/w", {"n": "x"}),     # non-numeric -> none
            ("e", "http://h/v", {}),             # missing -> none
        ],
        "id string, parent_url string, _data map<string,string>",
    )
    pr = PaginateRule(
        rule="r", count_field="n", url_template="%s?p=%d",
        target_rule="t", start=2, max_pages=6,
    )
    rows = paginate_expand(src, pr).collect()
    got = {}
    for r in rows:
        got.setdefault(r.id, []).append((r._page, r.raw_link))
    assert sorted(got) == ["a", "b"]
    assert [p for p, _ in sorted(got["a"])] == [2, 3, 4]
    assert [p for p, _ in sorted(got["b"])] == [2, 3, 4, 5, 6]
    assert sorted(got["a"])[0][1] == "http://h/x?p=2"
    # no max_pages: count alone bounds; non-numeric still empty
    pr2 = PaginateRule(
        rule="r", count_field="n", url_template="%s?p=%d",
        target_rule="t", start=2,
    )
    rows2 = paginate_expand(src, pr2).collect()
    by_id = {}
    for r in rows2:
        by_id.setdefault(r.id, 0)
        by_id[r.id] += 1
    assert by_id == {"a": 3, "b": 8}
    # page_expr affine numbering (jdSpider.go:84-97 dual-URL loop):
    # TWO PaginateRules on one rule generate odd /Search pages 2i-1
    # and even /s_new pages 2i for i in 1..count-1
    pr_odd = PaginateRule(
        rule="r", count_field="n", url_template="%s?page=%d",
        target_rule="t", start=1, max_pages=3, page_expr=(2, -1),
    )
    pr_even = PaginateRule(
        rule="r", count_field="n", url_template="%s?async=%d",
        target_rule="t", start=1, max_pages=3, page_expr=(2, 0),
    )
    odd = paginate_expand(src.where("id = 'a'"), pr_odd).collect()
    even = paginate_expand(src.where("id = 'a'"), pr_even).collect()
    assert sorted(r._page for r in odd) == [1, 3, 5]
    assert sorted(r._page for r in even) == [2, 4, 6]
    assert sorted(r.raw_link for r in odd)[0] == "http://h/x?page=1"

    # base_field: an EMPTY base falls back to parent_url exactly like a
    # missing one (a temp_fields merge writes '' for an absent temp;
    # bare coalesce passed '' through and built '?p=2' garbage URLs —
    # the oracle's `or req.url` always treated '' as missing)
    src_b = spark.createDataFrame(
        [
            ("f", "http://h/f", {"n": "3", "b": "http://b/x"}),
            ("g", "http://h/g", {"n": "3", "b": ""}),
            ("h", "http://h/h", {"n": "3"}),
        ],
        "id string, parent_url string, _data map<string,string>",
    )
    pr_b = PaginateRule(
        rule="r", count_field="n", url_template="%s?p=%d",
        target_rule="t", start=2, base_field="b",
    )
    by = {r.id: r.raw_link for r in paginate_expand(src_b, pr_b).collect()
          if r._page == 2}
    assert by == {
        "f": "http://b/x?p=2",
        "g": "http://h/g?p=2",
        "h": "http://h/h?p=2",
    }


def test_aspect_bucket_assignment(spark):
    """Integer-exact rational argmin: hand-checked picks, ties to the
    lowest bucket index, out-of-gamut aspect clamps to the extreme
    bucket — and the whole op is shuffle-free."""
    from pholcus_spark.ops import imagecaption as ic

    rows = [
        ("sq", 1000, 1000),     # exactly 1:1 -> (512, 512)
        ("land", 1290, 1000),   # 1.29 ~ 576/448=1.2857 -> bucket 1
        ("port", 1000, 1290),   # inverse -> (448, 576)
        ("wide", 9000, 1000),   # 9:1, beyond 2.2 -> clamps to (704, 320)
        ("tall", 1000, 9000),   # -> (320, 704)
        ("mid", 1440, 1000),    # 1.44: 576/448=1.2857 vs 640/384=1.6667
                                # dists .1543 vs .2267 -> bucket 1
    ]
    df = spark.createDataFrame(rows, "image_id string, w int, h int")
    out = {r.image_id: r for r in ic.aspect_bucket(df).collect()}
    assert (out["sq"].bucket_w, out["sq"].bucket_h) == (512, 512)
    assert out["land"].bucket_id == 1
    assert (out["port"].bucket_w, out["port"].bucket_h) == (448, 576)
    assert (out["wide"].bucket_w, out["wide"].bucket_h) == (704, 320)
    assert (out["tall"].bucket_w, out["tall"].bucket_h) == (320, 704)
    assert out["mid"].bucket_id == 1
    # exact tie -> lowest index: two buckets with the SAME ratio
    tie = ic.aspect_bucket(
        spark.createDataFrame([("t", 2, 1)], "image_id string, w int, h int"),
        buckets=((512, 256), (1024, 512), (512, 512)),
    ).collect()[0]
    assert tie.bucket_id == 0
    # pure per-row fold: no shuffle, no Python in the plan
    plan = ic.aspect_bucket(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Python" not in plan


def test_pair_filter_bounds(spark):
    from pholcus_spark.ops import imagecaption as ic

    rows = [
        ("a", 512, 512, "png", "a fine sunset photo"),      # keep
        ("b", 32, 512, "png", "too narrow"),                # w < 64
        ("c", 512, 100, "jpeg", "too elongated wide"),      # aspect > 3
        ("d", 512, 512, "png", "x"),                        # 1 caption token
        ("e", 128, 384, "webp", "exactly three to one"),    # aspect == 3 keep
    ]
    df = spark.createDataFrame(
        rows, "image_id string, w int, h int, fmt string, caption string"
    )
    out = {r.image_id: r for r in ic.pair_filter(df).collect()}
    assert set(out) == {"a", "e"}
    assert out["e"].aspect_q4 == 30000
    assert out["a"].caption_tokens == 4
    # pure filter/project: no shuffle in the plan
    plan = ic.pair_filter(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_caption_dedup_min_id_survives(spark):
    from pholcus_spark.ops import imagecaption as ic

    rows = [
        ("img1", "A  Sunset "),   # normalizes equal to img3's caption
        ("img3", "a sunset"),
        ("img2", "different"),
    ]
    df = spark.createDataFrame(rows, "image_id string, caption string")
    out = sorted(r.image_id for r in ic.caption_dedup(df).collect())
    assert out == ["img1", "img2"]


def test_pair_ops_compose_with_engine_images_table(spark):
    # the engine's images sink emits exactly the pair-table shape —
    # curation ops must run on it unchanged (bytes column pruned away,
    # never shuffled)
    from pholcus_spark import fixtures
    from pholcus_spark.ops import imagecaption as ic

    corpus = fixtures.generate(fixtures.SiteSpec(n_hosts=1, list_pages=2))
    _, images, _, _, _ = fixtures.to_spark(spark, corpus)
    kept = ic.pair_filter(images, min_w=1, min_h=1, max_aspect_q4=10**6,
                          min_caption_tokens=1, max_caption_tokens=10**6)
    assert kept.count() == images.count()
    deduped = ic.caption_dedup(images)
    assert 0 < deduped.count() <= images.count()
    pairs = ic.pair_phash_neardup(images, max_hamming=8)
    pairs.count()  # executes the banded join end-to-end
    assert set(pairs.columns) == {"id_a", "id_b", "hamming"}


def test_chunk_documents_boundaries(spark):
    from pholcus_spark.ops.packing import chunk_documents

    words = " ".join(f"w{i}" for i in range(10))
    rows = [(0, "only three words"), (1, words), (2, "x")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = chunk_documents(df, chunk_tokens=4, overlap=1)
    got = {(r.doc_id, r.chunk_idx): r for r in out.collect()}
    # doc 0: 3 tokens < 4 -> exactly one (short) chunk
    assert [k for k in got if k[0] == 0] == [(0, 0)]
    assert got[(0, 0)].n_chunk_tokens == 3
    # doc 1: 10 tokens, stride 3 -> chunks at 0,3,6,9 => 1+ceil(6/3)=3? no:
    # 1 + ceil((10-4)/3) = 1 + 2 = 3 chunks, covering tokens 1-4,4-7,7-10
    idxs = sorted(k[1] for k in got if k[0] == 1)
    assert idxs == [0, 1, 2]
    assert got[(1, 2)].chunk_text == "w6 w7 w8 w9"
    # overlap: last token of chunk k equals first token of chunk k+1
    assert got[(1, 0)].chunk_text.split()[-1] == got[(1, 1)].chunk_text.split()[0]
    # single-token doc
    assert got[(2, 0)].n_chunk_tokens == 1
    # pure JVM: no Exchange, no Python eval in the plan
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Python" not in plan


def test_pack_sequences_greedy_semantics(spark):
    from pholcus_spark.ops.packing import pack_sequences

    # one group (n_groups=1): token counts 5,3,4,10,2 with budget 8:
    # [5,3] -> bin0 fill8, [4] -> bin1 fill4, [10] oversize alone bin2,
    # [2] -> bin3 (10+2 > 8 resets)
    rows = [
        (0, " ".join(["a"] * 5)),
        (1, " ".join(["b"] * 3)),
        (2, " ".join(["c"] * 4)),
        (3, " ".join(["d"] * 10)),
        (4, " ".join(["e"] * 2)),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in pack_sequences(df, budget=8, n_groups=1).collect()}
    assert [(out[i].bin, out[i].fill) for i in range(5)] == [
        (0, 5), (0, 8), (1, 4), (2, 10), (3, 2),
    ]
    # deterministic across runs
    again = {r.doc_id: (r.bin, r.fill)
             for r in pack_sequences(df, budget=8, n_groups=1).collect()}
    assert again == {i: (out[i].bin, out[i].fill) for i in range(5)}


def test_repetition_stats_hand_computed(spark):
    rows = [
        # 3 lines, one duplicated; "a b" bigram appears 3x of 8 grams
        (0, "a b c\na b c\nx y z"),
        (1, "unique line one\nunique line two"),
        (2, "single"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in text.repetition_stats(df, n=2).collect()}
    assert (out[0].n_lines, out[0].dup_lines) == (3, 1)
    # words: a b c a b c x y z -> 8 bigrams; "a b" and "b c" occur 2x,
    # "c a" "c x" "x y" "y z" once
    assert (out[0].top_ngram_count, out[0].n_ngrams) == (2, 8)
    assert abs(out[0].dup_line_frac - 1 / 3) < 1e-12
    assert (out[1].n_lines, out[1].dup_lines) == (2, 0)
    # "unique line" appears twice among the 5 bigrams
    assert (out[1].top_ngram_count, out[1].n_ngrams) == (2, 5)
    # single word: one truncated "bigram"
    assert (out[2].n_lines, out[2].dup_lines, out[2].n_ngrams) == (1, 0, 1)


def test_chunk_and_pack_randomized_invariants(spark):
    """Seeded randomized cross-check (one job each): chunking must tile
    every document exactly (each chunk equals its word-slice, coverage
    is complete), and packing must respect the budget for every
    multi-doc bin with contiguous bin ids and exact running fills."""
    import random

    from pholcus_spark.ops.packing import chunk_documents, pack_sequences

    rng = random.Random(404)
    docs = [
        (i, " ".join(f"t{rng.randrange(50)}" for _ in range(rng.randrange(1, 120))))
        for i in range(60)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    C, O = 16, 4
    stride = C - O
    by_doc = {}
    for r in chunk_documents(df, chunk_tokens=C, overlap=O).collect():
        by_doc.setdefault(r.doc_id, {})[r.chunk_idx] = r
    for doc_id, text in docs:
        words = text.split()
        chunks = by_doc[doc_id]
        assert sorted(chunks) == list(range(len(chunks)))
        for k, r in chunks.items():
            expect = words[k * stride : k * stride + C]
            assert r.chunk_text.split() == expect
            assert r.n_chunk_tokens == len(expect)
        # the last chunk reaches the final token; one more would start
        # beyond the text
        assert (len(chunks) - 1) * stride + C >= len(words)
        assert len(chunks) == 1 or (len(chunks) - 1) * stride < len(words)

    B = 40
    packed = pack_sequences(df, budget=B, n_groups=4).collect()
    by_grp = {}
    for r in packed:
        assert r.grp == r.doc_id % 4
        by_grp.setdefault(r.grp, []).append(r)
    assert sum(len(v) for v in by_grp.values()) == len(docs)  # each doc once
    for grp, rows in by_grp.items():
        rows.sort(key=lambda r: r.doc_id)
        fill, b = 0, 0
        for r in rows:
            if fill > 0 and fill + r.n_tokens <= B:
                fill += r.n_tokens
            else:
                if fill > 0:
                    b += 1
                fill = r.n_tokens
            assert (r.bin, r.fill) == (b, fill)
        bins = {}
        for r in rows:
            bins.setdefault(r.bin, []).append(r.n_tokens)
        assert sorted(bins) == list(range(len(bins)))  # contiguous ids
        for members in bins.values():
            assert sum(members) <= B or len(members) == 1  # oversize alone


def test_quantize_int8_roundtrip_error_bound(spark, emb):
    out = similarity.quantize_int8(emb).collect()
    src = {r.vec_id: r.embedding for r in emb.collect()}
    assert len(out) == len(src)
    for r in out:
        v = src[r.vec_id]
        assert all(-127 <= c <= 127 for c in r.q)
        assert abs(r.absmax - max(abs(float(x)) for x in v)) < 1e-12 or r.absmax == 1e-30
        for x, c in zip(v, r.q):
            # dequantization error within half a quantization step
            assert abs(float(x) - c * r.absmax / 127.0) <= r.absmax / 254.0 + 1e-12


def test_line_dedup_semantics(spark):
    # three docs sharing the boilerplate line; short/exempt lines
    # repeat freely; whole-doc removal comes back as ''
    rows = [
        (0, "subscribe to our newsletter\nunique first body line\nok"),
        (1, "subscribe to our newsletter\nanother unique body line"),
        # doc 2: both lines are non-exempt dups of doc 0/1 lines
        (2, "unique first body line\nsubscribe to our newsletter"),
        (3, "ok\nok\nok"),  # 1-word lines exempt -> all kept
        (4, ""),  # empty doc: one empty line, exempt
        # trailing newline -> trailing empty line survives rebuild
        (5, "tail case line one\n"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: (r.text_dedup, r.n_lines, r.n_removed)
        for r in dedup.line_dedup(docs).collect()
    }
    assert out[0] == (
        "subscribe to our newsletter\nunique first body line\nok", 3, 0,
    )
    assert out[1] == ("another unique body line", 2, 1)
    assert out[2] == ("", 2, 2)
    assert out[3] == ("ok\nok\nok", 3, 0)
    assert out[4] == ("", 1, 0)
    assert out[5] == ("tail case line one\n", 2, 0)
    # leading/trailing whitespace variants dedupe by trimmed form but
    # the SURVIVING line keeps its original spelling
    docs2 = spark.createDataFrame(
        [(0, "  padded boilerplate line  \nx"), (1, "padded boilerplate line")],
        "doc_id long, text string",
    )
    out2 = {r.doc_id: r.text_dedup for r in dedup.line_dedup(docs2).collect()}
    assert out2[0] == "  padded boilerplate line  \nx"
    assert out2[1] == ""


def test_bm25_topk_hand_computed(spark):
    """BM25 over a 3-doc corpus vs hand-derived scores: tf saturation,
    idf ordering (rarer term scores higher), dl normalization, the
    zero-hit doc excluded, tie-break on id."""
    from pholcus_spark.ops.text import bm25_topk

    docs = spark.createDataFrame(
        [
            (0, "spark spark spark joins data"),  # tf=3, short
            (1, "spark appears once in a much longer document body here"),
            (2, "nothing relevant at all whatsoever"),
            (3, "rare gem"),
        ],
        "doc_id long, text string",
    )
    out = bm25_topk(docs, ("spark", "gem"), k=10).collect()
    got = {r.doc_id: r.score for r in out}
    assert 2 not in got  # zero score excluded
    # python twin (same formulas, same order)
    import math

    corpus = {
        0: "spark spark spark joins data",
        1: "spark appears once in a much longer document body here",
        2: "nothing relevant at all whatsoever",
        3: "rare gem",
    }
    toks = {i: t.lower().split() for i, t in corpus.items()}
    n = len(corpus)
    tot = sum(len(v) for v in toks.values())
    exp = {}
    for i, tk in toks.items():
        dl = len(tk)
        s = 0.0
        for term in ("spark", "gem"):
            tf = float(tk.count(term))
            df = sum(1 for v in toks.values() if term in v)
            idf = (float(n - df) + 0.5) / (float(df) + 0.5)
            s = s + idf * (tf * 2.2) / (
                tf + 0.3 + 0.9 * float(dl * n) / float(tot)
            )
        if s > 0:
            exp[i] = round(s, 6)
    assert got == {i: pytest.approx(v, abs=1e-9) for i, v in exp.items()}
    # the rare exact term dominates: doc 3 outranks the tf=3 doc 0
    order = [r.doc_id for r in out]
    assert order[0] == 3 and order[1] == 0
    assert math.isfinite(sum(got.values()))


def test_bm25_plan_is_one_scan(spark):
    """Scale shape: no Generate (no explode), top-k via
    TakeOrderedAndProject, stats joined as a broadcast single row."""
    from pholcus_spark.ops.text import bm25_topk

    docs = spark.createDataFrame(
        [(0, "a b"), (1, "b c")], "doc_id long, text string"
    )
    plan = (
        bm25_topk(docs, ("a", "c"), k=5)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Generate" not in plan
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastNestedLoopJoin" in plan  # 1-row stats broadcast


def test_exact_substring_stats_hand_computed(spark):
    """ExactSubstr coverage, hand-derived: cross-doc dup window,
    within-doc repeats with overlapping interval union, short-doc
    (n < k) whole-doc windows, and a clean doc reported with zeros."""
    from pholcus_spark.ops.text import exact_substring_stats

    rows = [
        (0, "a b c d e f"),       # shares "b c d" with doc 1
        (1, "x b c d y"),
        (2, "p q p q p q"),       # self-repeating: all 4 windows dup
        (3, "u1 u2 u3 u4"),       # no duplicated window
        (4, "s t"),               # n < k: whole-doc window, dup w/ 5
        (5, "s t"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in exact_substring_stats(df, k=3).collect()}
    assert (out[0].n_tokens, out[0].dup_windows, out[0].dup_tokens) == (6, 1, 3)
    assert abs(out[0].dup_frac - 0.5) < 1e-12
    assert (out[1].n_tokens, out[1].dup_windows, out[1].dup_tokens) == (5, 1, 3)
    # doc 2: windows at pos 1..4 all duplicated; union covers the doc
    assert (out[2].dup_windows, out[2].dup_tokens) == (4, 6)
    assert out[2].dup_frac == 1.0
    assert (out[3].dup_windows, out[3].dup_tokens, out[3].dup_frac) == (0, 0, 0.0)
    # n < k: the single short window is the whole doc
    assert (out[4].n_tokens, out[4].dup_windows, out[4].dup_tokens) == (2, 1, 2)
    assert (out[5].dup_windows, out[5].dup_tokens) == (1, 2)


def test_exact_substring_stats_matches_bruteforce(spark):
    """Seeded randomized cross-check vs a plain-python interval-union
    twin: corpus-wide window counting and per-doc covered-token union
    must agree exactly for every doc."""
    import random
    from collections import Counter

    from pholcus_spark.ops.text import exact_substring_stats

    rng = random.Random(2107)  # arXiv:2107.06499
    k = 4
    docs = []
    for i in range(50):
        n = rng.randrange(1, 30)
        words = [f"w{rng.randrange(12)}" for _ in range(n)]
        docs.append((i, " ".join(words)))

    occ: Counter = Counter()
    toks = {}
    for i, text in docs:
        w = text.split()
        toks[i] = w
        for p in range(max(len(w) - k + 1, 1)):
            occ[" ".join(w[p:p + k])] += 1
    expect = {}
    for i, _ in docs:
        w = toks[i]
        covered: set = set()
        windows = 0
        for p in range(max(len(w) - k + 1, 1)):
            if occ[" ".join(w[p:p + k])] >= 2:
                windows += 1
                covered.update(range(p, min(p + k, len(w))))
        expect[i] = (len(w), windows, len(covered))

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_tokens, r.dup_windows, r.dup_tokens)
        for r in exact_substring_stats(df, k=k).collect()
    }
    assert got == expect


def test_exact_substring_stats_mega_duplicate_group(spark):
    """VERDICT r4 item 6 stress: N identical docs share every window
    fingerprint. With the old collect_list-per-fingerprint plan all
    their positions landed in ONE task's array; the count-prefilter +
    join-back plan must produce the same answer — every token of every
    doc covered — and the physical plan must contain no
    ObjectHashAggregate/collect_list."""
    from pholcus_spark.ops.text import exact_substring_stats

    n, k = 400, 5
    text = " ".join(f"tok{j}" for j in range(30))  # 30 tokens, 26 windows
    df = spark.createDataFrame(
        [(i, text) for i in range(n)], "doc_id long, text string"
    )
    res = exact_substring_stats(df, k=k)
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "collect_list" not in plan
    rows = res.collect()
    assert len(rows) == n
    for r in rows:
        assert (r.n_tokens, r.dup_windows, r.dup_tokens) == (30, 26, 30)
        assert r.dup_frac == 1.0


def test_top_k_per_group_matches_single_window(spark):
    """The salted two-phase per-group top-k must equal the plain
    single-window rank, including on a pathologically skewed group
    (one group holding 80% of rows) and with ties on the order value
    broken by the unique tiebreak column."""
    import random

    from pyspark.sql.window import Window as W

    from pholcus_spark.ops.sampling import top_k_per_group

    rng = random.Random(7)
    rows = [
        (i, "mega" if rng.random() < 0.8 else f"g{rng.randrange(6)}",
         rng.randrange(10))  # heavy ties -> tiebreak matters
        for i in range(500)
    ]
    df = spark.createDataFrame(rows, "doc_id long, grp string, score long")
    got = {
        (r.doc_id, r.grp, r.rk)
        for r in top_k_per_group(
            df, "grp", [("score", "desc"), ("doc_id", "asc")], 5, n_salts=8
        ).collect()
    }
    win = W.partitionBy("grp").orderBy(F.desc("score"), F.asc("doc_id"))
    want = {
        (r.doc_id, r.grp, r.rk)
        for r in df.withColumn("rk", F.row_number().over(win))
        .where(F.col("rk") <= 5)
        .collect()
    }
    assert got == want
    # deterministic across runs
    again = {
        (r.doc_id, r.grp, r.rk)
        for r in top_k_per_group(
            df, "grp", [("score", "desc"), ("doc_id", "asc")], 5, n_salts=8
        ).collect()
    }
    assert again == got


def test_top_k_per_group_k_exceeds_group_size(spark):
    from pholcus_spark.ops.sampling import top_k_per_group

    df = spark.createDataFrame(
        [(1, "a", 5), (2, "a", 3), (3, "b", 1)],
        "doc_id long, grp string, score long",
    )
    out = top_k_per_group(df, "grp", [("score", "desc"), ("doc_id", "asc")], 10)
    got = sorted((r.grp, r.rk, r.doc_id) for r in out.collect())
    assert got == [("a", 1, 1), ("a", 2, 2), ("b", 1, 3)]


def test_dsir_weights_match_pure_python_twin(spark):
    """dsir_weights vs an INDEPENDENT pure-python replay (hashlib md5
    buckets, collections.Counter stats, same smoothed-ratio arithmetic,
    ascending-bucket fold) — exact to the 4dp rounding."""
    import hashlib
    import re
    from collections import Counter

    from pholcus_spark.ops import sampling

    K = 16
    raw_rows = [
        (0, "the cat sat on the mat"),
        (1, "spark query engine for big data"),
        (2, "cat videos and cat pictures"),
        (3, "distributed query planning in spark"),
        (4, "  Mixed   CASE    and   spacing  "),
        (5, "solo"),
        (6, "   "),  # empty after norm: no grams, no weight row
    ]
    target_rows = [
        (100, "spark query optimization"),
        (101, "query engine internals"),
        (102, "spark spark spark"),
    ]
    raw = spark.createDataFrame(raw_rows, "doc_id long, text string")
    target = spark.createDataFrame(target_rows, "doc_id long, text string")

    def grams(text):
        t = re.sub(r"\s+", " ", text.strip().lower()).split(" ")
        t = [x for x in t if x != ""]
        return t + [f"{a} {b}" for a, b in zip(t, t[1:])]

    def bucket(g):
        return int(hashlib.md5(g.encode()).hexdigest()[:15], 16) % K

    raw_b = {d: Counter(bucket(g) for g in grams(t)) for d, t in raw_rows}
    rc = Counter()
    for c in raw_b.values():
        rc.update(c)
    tc = Counter()
    for _d, t in target_rows:
        tc.update(bucket(g) for g in grams(t))
    R, T = sum(rc.values()), sum(tc.values())
    expected = {}
    for d, fb in raw_b.items():
        if not fb:
            continue
        acc = 0.0
        for b in sorted(fb):
            r = (float(tc.get(b, 0) + 1) * float(R + K)) / (
                float(rc[b] + 1) * float(T + K)
            )
            acc += float(fb[b]) * r
        expected[d] = round(acc, 4)

    got = {
        r.doc_id: r.score
        for r in sampling.dsir_weights(raw, target, n_buckets=K).collect()
    }
    assert got == expected
    assert 6 not in got  # no grams → no row

    # selection: spark/query docs must outrank the cat docs, and the
    # order is the deterministic (score desc, doc_id asc)
    sel = sampling.dsir_select(raw, target, n=3, n_buckets=K).collect()
    ranked = sorted(
        expected.items(), key=lambda kv: (-kv[1], kv[0])
    )[:3]
    assert [(r.doc_id, r.score) for r in sel] == ranked
    top_two = {r.doc_id for r in sel[:2]}
    assert top_two <= {1, 3}, "target-enriched docs should lead"


def test_gopher_rules_each_rule_fires(spark):
    """One document per failure mode + one clean pass (Rae et al. 2021
    §A1.1 thresholds); gopher_filter keeps exactly the passing doc and
    is a plain where() over the scan (no join in the plan)."""
    good = ("the quick brown fox jumps over that lazy dog and then it "
            "went to have a long rest with friends of mine nearby " * 3)
    docs = spark.createDataFrame(
        [
            (0, good),                                   # passes
            (1, "too few words to pass the gate"),       # word count < 50
            (2, ("a " * 60).strip()),                    # mean word len < 3
            (3, good + " " + "#tag " * 20),              # symbol ratio > 0.1
            (4, "\n".join(f"- bullet {i} of the set to have and that be with"
                          for i in range(20))),          # 100% bullet lines
            (5, good.replace(" ", "... ", 40)),          # ellipsis symbols
            (6, ("123 456 " * 40 + "the be ").strip()),  # alpha frac < 0.8
            (7, ("lorem ipsum dolor sit amet " * 12).strip()),  # no stopwords
        ],
        "doc_id long, text string",
    )
    flags = {r.doc_id: r.gopher_pass for r in text.gopher_rules(docs).collect()}
    assert flags[0] is True
    assert all(flags[i] is False for i in range(1, 8)), flags
    kept = text.gopher_filter(docs)
    assert [r.doc_id for r in kept.collect()] == [0]
    assert "Join" not in kept._jdf.queryExecution().executedPlan().toString()


def test_url_quality_flags_signal_matrix(spark):
    """Each URL-curation signal fires independently and url_keep is
    their conjunction; blocklist works both as a literal sequence and
    as a broadcast DataFrame dim (the UT1-scale path)."""
    from pholcus_spark.ops.text import url_filter, url_quality_flags

    rows = [
        (1, "http://good.com/a/b"),               # clean
        (2, "http://spam.biz/a"),                 # bad_tld
        (3, "http://blocked.com/x"),              # blocked_domain
        (4, "http://good.com/p?utm_source=x"),    # tracking_query
        (5, "http://good.com/p?page=2"),          # benign query
        (6, "http://good.com/1234567/89"),        # digit_heavy_path
        (7, "http://good.com/" + "d/" * 10 + "x"),  # deep_path
        (8, "http://good.com/" + "a" * 600),      # too_long
        (9, "http://good.com:8080/a"),            # port stripped
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    out = {
        r.doc_id: r
        for r in url_quality_flags(
            df, blocked_domains=("blocked.com",), max_path_depth=8
        ).collect()
    }
    assert out[1].url_keep and out[5].url_keep and out[9].url_keep
    assert out[2].bad_tld and not out[2].url_keep
    assert out[3].blocked_domain and not out[3].url_keep
    assert out[4].tracking_query and not out[4].url_keep
    assert out[6].digit_heavy_path and not out[6].url_keep
    assert out[7].deep_path and not out[7].url_keep
    assert out[8].too_long and not out[8].url_keep
    assert out[9].url_host == "good.com"  # :8080 stripped

    kept = url_filter(df, blocked_domains=("blocked.com",), max_path_depth=8)
    assert kept.columns == ["doc_id", "url"]
    assert sorted(r.doc_id for r in kept.collect()) == [1, 5, 9]

    # blocklist as a DataFrame dim: broadcast join path, same answer
    dim = spark.createDataFrame([("blocked.com",)], "domain string")
    out2 = url_quality_flags(df, blocked_domains=dim, max_path_depth=8)
    assert {(r.doc_id, r.url_keep) for r in out2.collect()} == {
        (k, v.url_keep) for k, v in out.items()
    }
    phys = out2._sc._jvm.PythonSQLUtils.explainString(
        out2._jdf.queryExecution(), "formatted"
    )
    assert "BroadcastHashJoin" in phys
