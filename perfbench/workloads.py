"""The benchmark workloads.

Each workload class has the same shape:

* ``setup(bench, dir)`` writes the seeded inputs the program receives;
* ``run(bench, workdir)`` makes the timed calls into the public API
  and returns the observations of one operation;
* ``check(obs)`` compares them with an independent reference and
  returns the mismatches (empty = correct);
* ``layers(bench, obs, log)`` derives the per-layer metrics of a
  traced run from its spans, wrapped calls and the Spark event log.

Inputs depend only on the seed. Nothing touches the network.
"""

from __future__ import annotations

import copy
import hashlib
import os
import time

import numpy as np

from perfbench import probes
from perfbench.harness import dir_mb, median, spark_work

CURATE_STEPS = (
    "pii_scrub", "quality_score", "exact_dedup", "incremental_dedup",
    "minhash_dedup", "semantic_dedup", "chunk_pack",
)


class CrawlSite:
    """BFS crawl to termination over a ``fixtures.generate`` site graph,
    in the production shape of ``bench.crawl_bench``: StoreFetcher over
    a bucketed body store, python image sink, politeness off,
    ``commit_every`` > 1."""

    name = "crawl_site"
    WAVE_WINDOW_MS = 10_000_000  # politeness off: every host's budget exceeds its queue

    def __init__(self, seed: int):
        from pholcus_spark import fixtures

        self.seed = seed
        self.spec = fixtures.SiteSpec(
            n_hosts=10, list_pages=2, details_per_list=6, images_per_detail=1,
            flaky_rate=0.0, fail_404_rate=0.0, gbk_rate=0.05, image_sizes=(48,),
            # the robots join only runs when some host disallows a path
            robots_disallow={"h001.test": ["/d/0/1"], "h003.test": ["/d/0/2", "/img/"]},
        )
        self.corpus = fixtures.generate(self.spec, seed=seed)
        # sitemap-style seeding: the detail pages are seeded next to the
        # host roots, so the lists' links to them hit the in-flight
        # dedup and the crawl ends in two supersteps plus the flush
        # (each superstep costs seconds of fixed Spark work)
        self.seeds = self.corpus.seeds + [
            {"spider": "site", "url": p["url"], "rule": "detail", "priority": 1}
            for p in self.corpus.pages
            if "/d/" in p["url"]
        ]

    def setup(self, bench, store_dir: str):
        from pholcus_spark import fixtures
        from pholcus_spark.bodystore import ParquetBodyStore
        from pholcus_spark.fetch import StoreFetcher

        spark = bench.spark
        pages, *_rest, robots = fixtures.to_spark(spark, self.corpus)
        t0 = time.perf_counter()
        store = ParquetBodyStore.write(pages, store_dir, n_buckets=bench.cores)
        bench.calls["bodystore.write"].append(time.perf_counter() - t0)
        self.store_dir = store_dir
        fetcher = StoreFetcher(spark, store)
        fetcher.pages = fetcher.pages.repartition(bench.cores, "_page_url").persist()
        fetcher.pages.count()
        self.fetcher, self.robots = fetcher, robots

    def run(self, bench, workdir: str) -> dict:
        from pholcus_spark.catalog import SnapshotCatalog
        from pholcus_spark.engine import CrawlEngine, EngineConfig
        from pholcus_spark.spiderspec import SpiderSpec

        spark = bench.spark
        cat = SnapshotCatalog(workdir, spark)
        fetcher = self.fetcher
        if bench.trace:
            bench.instrument(cat, "catalog", ("commit", "read", "read_dirs"))
            fetcher = copy.copy(self.fetcher)  # wrappers go on this run's copy only
            bench.instrument(fetcher, "fetch", ("fetch_meta", "attach_bodies", "parse_pages"))
        base_ids = bench.cached_rdd_ids()
        eng = CrawlEngine(
            spark, cat, fetcher, SpiderSpec("site"), self.robots,
            EngineConfig(
                wave_window_ms=self.WAVE_WINDOW_MS,
                record_order=False,
                append_partitions=max(2, bench.cores // 4),
                frontier_partitions=bench.cores,
                python_image_sink=True,
                commit_every=10,
            ),
        )
        steps, storage = [], []
        c0 = bench.cpu_s()
        t0 = time.perf_counter()
        with bench.span("seed"):
            eng.seed(self.seeds)
        n = 1
        while n:
            with bench.span("superstep", group=f"superstep:ss{len(steps) + 1}") as sp:
                n = eng.superstep()
            sp["rows"] = n
            steps.append(sp)
            if bench.trace:
                storage.append(bench.sample_storage(base_ids))
        with bench.span("run"):
            state = eng.run()
        run_s = time.perf_counter() - t0
        cpu_s = bench.cpu_s() - c0
        return {
            "run_s": run_s, "cpu_s": cpu_s, "state": state, "cat": cat, "steps": steps,
            "output_mb": dir_mb(workdir),
            "storage_held_mb": bench.storage_mb(base_ids),
            "storage_samples": storage,
            "calls": {k: list(v) for k, v in bench.calls.items()},
            "trace_self_s": bench.trace_self_s,
        }

    def check(self, obs) -> list[str]:
        """Engine outputs against ``oracle.crawl`` on the same corpus,
        seeds and wave window."""
        from pholcus_spark import oracle
        from pholcus_spark.spiderspec import SpiderSpec

        c = self.corpus
        ref = oracle.crawl(
            c.pages_by_url(), {i["image_id"]: i for i in c.images}, self.seeds,
            c.robots, SpiderSpec("site"),
            oracle.OracleConfig(wave_window_ms=self.WAVE_WINDOW_MS),
        )
        cat, state = obs["cat"], obs["state"]
        seen = {r.key for r in cat.read("url_seen").select("key").collect()}
        got = {
            "items": _count(cat, "items"),
            "images": _count(cat, "images"),
            "failures_final": _count(cat, "failures_final"),
            "supersteps": state["superstep"],
        }
        want = {
            "items": len(ref.items),
            "images": len(ref.images),
            "failures_final": len(ref.failed_final),
            "supersteps": len(ref.metrics),
        }
        errs = [f"{k}: engine {got[k]} != oracle {want[k]}" for k in got if got[k] != want[k]]
        if seen != ref.seen:
            errs.append(
                f"url_seen differs from the oracle: {len(seen - ref.seen)} extra, "
                f"{len(ref.seen - seen)} missing"
            )
        if not state["stopped"]:
            errs.append("crawl did not reach its stop state")
        obs["seen"] = seen
        return errs

    def layers(self, bench, obs, log) -> dict:
        out = _engine_layers(bench, obs, log)
        calls = obs["calls"]
        children = obs["cat"].read("metrics").groupBy().sum("children").first()[0] or 0
        out["engine.children_rows"] = float(children)
        new_rows = obs["state"]["next_seq"] - len(self.seeds)
        out["engine.new_url_ratio"] = new_rows / children if children else 0.0
        out["engine.storage_held_mb"] = obs["storage_held_mb"]
        out["bodystore.write_s"] = sum(calls.get("bodystore.write", []))
        out["bodystore.mb"] = dir_mb(self.store_dir)
        out["fetch.calls"] = float(sum(len(v) for k, v in calls.items() if k.startswith("fetch.")))
        html = [p for p in self.corpus.pages if p["content_type"].startswith("text/html")]
        out.update(probes.canonicalize([u for p in self.corpus.pages for u in p["out_links"]]))
        out.update(probes.parse(html))
        out.update(probes.decode_phash([i["bytes"] for i in self.corpus.images]))
        out.update(probes.bloom_fpr(bench, sorted(obs["seen"]), self.seed))
        return out


class CurateCorpus:
    """A seeded document corpus plus embeddings, curated step by step:
    pii_scrub → quality_score → exact dedup → incremental dedup against
    a SeenStore holding a prior batch → MinHash-LSH near-dup → semantic
    dedup → chunk + pack. Every step reads the previous step's parquet
    and writes its own, so each step is its own set of Spark jobs."""

    name = "curate_corpus"
    N_DOCS = 600  # new batch
    N_HIST = 300  # prior batch, added to the SeenStore first
    EXACT_GROUPS = 24  # each: a source doc plus 1-2 byte-identical copies
    NEAR_PAIRS = 24  # copy with one word swapped for a non-vocabulary word
    HIST_OVERLAP = 30  # new docs whose text is a history doc's
    PII_DOCS = 40  # docs with one email, one IPv4 and one phone number
    EMB_DUPS = 20  # embeddings repeated exactly under another id
    # 24-d Gaussian vectors: two independent ones reach cosine 0.95 with
    # probability ~1e-11, so only the planted repeats are duplicates
    DIM = 24
    # 8 bands of 2: a one-word near duplicate (Jaccard ~0.96) misses
    # every band with probability ~1e-11; unrelated docs share no shingle
    MINHASH = dict(num_hashes=16, bands=8, n=3)
    CHUNK = dict(chunk_tokens=64, overlap=16)
    PACK_BUDGET = 512

    def __init__(self, seed: int):
        self.seed = seed
        rng = np.random.default_rng(seed)
        letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
        vocab = sorted(
            {"".join(rng.choice(letters, size=int(rng.integers(3, 9)))) for _ in range(5000)}
        )

        def doc() -> list[str]:
            return [vocab[i] for i in rng.integers(0, len(vocab), size=int(rng.integers(60, 180)))]

        hist = [doc() for _ in range(self.N_HIST)]
        new = [doc() for _ in range(self.N_DOCS)]
        # every planted set takes its own doc ids
        free = rng.permutation(self.N_DOCS).tolist()

        def take(k):
            return [free.pop() for _ in range(k)]

        self.copies = 0
        self.exact_groups = []
        for _ in range(self.EXACT_GROUPS):
            k = int(rng.integers(1, 3))
            src, *cps = take(1 + k)
            for c in cps:
                new[c] = list(new[src])
            self.exact_groups.append(sorted([src, *cps]))
            self.copies += k
        self.near_pairs = []
        for _ in range(self.NEAR_PAIRS):
            src, cp = take(2)
            w = list(new[src])
            pos = int(rng.integers(0, len(w)))
            w[pos] = "zq" + w[pos]
            new[cp] = w
            self.near_pairs.append((min(src, cp), max(src, cp)))
        hist_idx = rng.choice(self.N_HIST, size=self.HIST_OVERLAP, replace=False).tolist()
        for d, h in zip(take(self.HIST_OVERLAP), hist_idx):
            new[d] = list(hist[h])
        for d in take(self.PII_DOCS):
            at = int(rng.integers(0, len(new[d])))
            pii = [f"u{d}@mail{d % 7}.example.org", f"10.{d % 200}.0.{d % 250}",
                   "+1", "(555)", f"01{d % 100:02d}"]
            new[d] = new[d][:at] + pii + new[d][at:]
        emb = rng.standard_normal((self.N_DOCS, self.DIM))
        clean = take(2 * self.EMB_DUPS)
        self.emb_dups = []
        for a, b in zip(clean[::2], clean[1::2]):
            emb[b] = emb[a]
            self.emb_dups.append(max(a, b))
        self.hist_texts = [" ".join(w) for w in hist]
        self.texts = [" ".join(w) for w in new]
        self.emb = emb.tolist()

    def setup(self, bench, store_dir: str):
        spark = bench.spark
        frames = {
            "docs": spark.createDataFrame(list(enumerate(self.texts)), "doc_id long, text string"),
            "history": spark.createDataFrame(
                list(enumerate(self.hist_texts)), "doc_id long, text string"
            ),
            "embeddings": spark.createDataFrame(
                list(enumerate(self.emb)), "vec_id long, embedding array<double>"
            ),
        }
        self.paths = {}
        for name, df in frames.items():
            self.paths[name] = os.path.join(store_dir, name)
            df.repartition(bench.cores).write.mode("overwrite").parquet(self.paths[name])
        self.store_dir = store_dir

    def run(self, bench, workdir: str) -> dict:
        from pyspark.sql import functions as F

        from pholcus_spark.ops.cluster import semantic_dedup
        from pholcus_spark.ops.dedup import exact_duplicates, minhash_lsh_candidates
        from pholcus_spark.ops.packing import chunk_documents, pack_sequences
        from pholcus_spark.ops.seenstore import SeenStore
        from pholcus_spark.ops.text import norm_text, pii_scrub, quality_score

        spark = bench.spark
        read = spark.read.parquet
        base_ids = bench.cached_rdd_ids()
        out, steps = {}, {}

        def write(name, df):
            out[name] = os.path.join(workdir, name)
            df.write.mode("overwrite").parquet(out[name])

        def step(name):
            return bench.span(name, group=f"ops:{name}")

        c0 = bench.cpu_s()
        t0 = time.perf_counter()
        with step("pii_scrub") as steps["pii_scrub"]:
            write("pii_scrub", pii_scrub(read(self.paths["docs"])))
        with step("quality_score") as steps["quality_score"]:
            clean = read(out["pii_scrub"]).select("doc_id", F.col("text_clean").alias("text"))
            write("quality_score", quality_score(clean).join(clean, "doc_id"))
        with step("exact_dedup") as steps["exact_dedup"]:
            docs = read(out["quality_score"]).select("doc_id", "text")
            write("exact_groups", exact_duplicates(docs))
            groups = read(out["exact_groups"]).select("fp", "canonical_doc_id")
            surv = (
                docs.withColumn("fp", F.md5(norm_text(F.col("text"))))
                .join(groups, "fp", "left")
                .where(
                    F.col("canonical_doc_id").isNull()
                    | (F.col("doc_id") == F.col("canonical_doc_id"))
                )
            )
            write("exact_dedup", surv.select("doc_id", "text", F.col("fp").alias("key")))
        with step("incremental_dedup") as steps["incremental_dedup"]:
            # rebuild_min=0: the history batch gets a Bloom sidecar, so
            # filter_unseen takes the probe path
            store = SeenStore(
                spark, os.path.join(workdir, "seen"), num_buckets=2 * bench.cores,
                rebuild_min=0,
            )
            hist_keys = read(self.paths["history"]).select(
                F.md5(norm_text(F.col("text"))).alias("key")
            )
            with bench.span("seenstore.add", group="ops:incremental_dedup:add") as add:
                store.add(hist_keys)
            with bench.span("seenstore.filter", group="ops:incremental_dedup:filter") as filt:
                write("incremental_dedup", store.filter_unseen(read(out["exact_dedup"]), "key"))
        with step("minhash_dedup") as steps["minhash_dedup"]:
            docs = read(out["incremental_dedup"])
            write("minhash_pairs", minhash_lsh_candidates(docs.select("doc_id", "text"), **self.MINHASH))
            drop = read(out["minhash_pairs"]).select(F.col("doc_b").alias("doc_id")).distinct()
            write("minhash_dedup", docs.join(drop, "doc_id", "left_anti"))
        with step("semantic_dedup") as steps["semantic_dedup"]:
            ids = read(out["minhash_dedup"]).select(F.col("doc_id").alias("vec_id"))
            emb = read(self.paths["embeddings"]).join(ids, "vec_id")
            write("semantic_marks", semantic_dedup(emb, k=4, iters=1, threshold=0.95))
            keep = read(out["semantic_marks"]).where(F.col("dup_of").isNull()).select(
                F.col("vec_id").alias("doc_id")
            )
            write("semantic_dedup", read(out["minhash_dedup"]).join(keep, "doc_id"))
        with step("chunk_pack") as steps["chunk_pack"]:
            docs = read(out["semantic_dedup"]).select("doc_id", "text")
            write("chunks", chunk_documents(docs, **self.CHUNK))
            write("chunk_pack", pack_sequences(docs, budget=self.PACK_BUDGET, n_groups=bench.cores))
        run_s = time.perf_counter() - t0
        cpu_s = bench.cpu_s() - c0
        return {
            "run_s": run_s, "cpu_s": cpu_s, "paths": out, "steps": steps, "store": store,
            "seenstore": (add, filt),
            "output_mb": dir_mb(workdir),
            "storage_held_mb": bench.storage_mb(base_ids),
            "calls": {k: list(v) for k, v in bench.calls.items()},
            "trace_self_s": bench.trace_self_s,
        }

    def expected_rows(self) -> dict:
        n = self.N_DOCS
        exact = n - self.copies
        inc = exact - self.HIST_OVERLAP
        near = inc - self.NEAR_PAIRS
        return {
            "pii_scrub": n, "quality_score": n, "exact_dedup": exact,
            "incremental_dedup": inc, "minhash_dedup": near,
            "semantic_dedup": near - len(self.emb_dups),
        }

    def check(self, obs) -> list[str]:
        """Read every step output back with pyarrow and compare it with
        what the planted corpus implies."""
        import pyarrow.parquet as pq

        want = self.expected_rows()
        t = {
            k: pq.read_table(obs["paths"][k]).to_pydict()
            for k in (*want, "exact_groups", "minhash_pairs", "semantic_marks", "chunks", "chunk_pack")
        }
        rows = {k: len(t[k]["doc_id"]) for k in (*want, "chunks")}
        obs["rows"] = rows
        errs = [
            f"{k}: {rows[k]} rows, the planted corpus implies {v}"
            for k, v in want.items() if rows[k] != v
        ]
        pii = tuple(sum(t["pii_scrub"][c]) for c in ("n_email", "n_ipv4", "n_phone"))
        if pii != (self.PII_DOCS,) * 3:
            errs.append(f"PII counts {pii} != {self.PII_DOCS} planted of each kind")
        g = t["exact_groups"]
        if sorted(zip(g["canonical_doc_id"], g["dup_count"])) != sorted(
            (grp[0], len(grp)) for grp in self.exact_groups
        ):
            errs.append("exact duplicate groups differ from the planted groups")
        pairs = set(zip(t["minhash_pairs"]["doc_a"], t["minhash_pairs"]["doc_b"]))
        if pairs != set(self.near_pairs):
            errs.append(
                f"MinHash pairs: {len(pairs - set(self.near_pairs))} not planted, "
                f"{len(set(self.near_pairs) - pairs)} planted ones missed"
            )
        m = t["semantic_marks"]
        dups = sorted(v for v, d in zip(m["vec_id"], m["dup_of"]) if d is not None)
        if dups != sorted(self.emb_dups):
            errs.append(f"semantic duplicates {len(dups)} != {len(self.emb_dups)} planted")
        if (obs["store"].catalog.state() or {}).get("n_keys") != self.N_HIST:
            errs.append("the SeenStore does not hold exactly the history keys")
        # chunks per doc: 1 + ceil(max(n_tokens - chunk, 0) / stride)
        c, o = self.CHUNK["chunk_tokens"], self.CHUNK["overlap"]
        ntok = [len(x.split()) for x in t["semantic_dedup"]["text"]]
        if rows["chunks"] != sum(1 + -(-max(n - c, 0) // (c - o)) for n in ntok):
            errs.append("chunk count differs from the token-count formula")
        pk = t["chunk_pack"]
        if sorted(pk["doc_id"]) != sorted(t["semantic_dedup"]["doc_id"]) or sum(
            pk["n_tokens"]
        ) != sum(ntok):
            errs.append("packing lost or repeated documents")
        bins: dict = {}
        for key, n in zip(zip(pk["grp"], pk["bin"]), pk["n_tokens"]):
            bins.setdefault(key, []).append(n)
        if any(sum(v) > self.PACK_BUDGET and len(v) > 1 for v in bins.values()):
            errs.append("a packed bin exceeds the token budget")
        return errs

    def layers(self, bench, obs, log) -> dict:
        from pholcus_spark import bloom

        rows = obs["rows"]
        out = {"engine.storage_held_mb": obs["storage_held_mb"]}
        prev = None
        for s in CURATE_STEPS:
            sp = obs["steps"][s]
            w = spark_work(log, {sp["group"], sp["group"] + ":add", sp["group"] + ":filter"},
                           sp["start"], sp["end"])
            out[f"ops.{s}_s"] = sp["end"] - sp["start"]
            out[f"ops.{s}.rows_in"] = float(rows[prev] if prev else self.N_DOCS)
            out[f"ops.{s}.rows_out"] = float(rows["chunks" if s == "chunk_pack" else s])
            out[f"ops.{s}.tasks"] = float(w.get("tasks", 0))
            out[f"ops.{s}.shuffle_mb"] = w.get("shuffle_write_mb", 0.0)
            prev = s
        add, filt = obs["seenstore"]
        out["seenstore.add_s"] = add["end"] - add["start"]
        out["seenstore.filter_s"] = filt["end"] - filt["start"]
        # share of the new batch the sidecar passes on to the exact join
        sc = bloom.load_sidecar(os.path.join(obs["store"].catalog.root, "bloom"))
        batch = bench.spark.read.parquet(obs["paths"]["exact_dedup"]).select("key")
        passed = bloom.probe(batch, sc, "key").where("_maybe_seen").count()
        out["bloom.probe_pass_ratio"] = passed / max(1, rows["exact_dedup"])
        hist_keys = sorted(
            {hashlib.md5(" ".join(x.lower().split()).encode()).hexdigest() for x in self.hist_texts}
        )
        out.update(probes.bloom_fpr(bench, hist_keys, self.seed))
        return out


def _count(cat, table: str) -> int:
    df = cat.read(table)
    return df.count() if df is not None else 0


def _engine_layers(bench, obs, log) -> dict:
    """Engine, catalog and Spark numbers of a crawl from its spans, the
    wrapped catalog calls and the event log."""
    steps = obs["steps"]
    seed_span = next(s for s in bench.spans if s["name"] == "seed")
    run_span = next(s for s in bench.spans if s["name"] == "run")
    # flush calls: the superstep() that found the queue empty, and run()
    flush = [s for s in steps if s["rows"] == 0] + [run_span]
    work = [s for s in steps if s["rows"] > 0]
    out = {
        "engine.supersteps": float(len(work)),
        "engine.superstep_p50_s": median([s["end"] - s["start"] for s in work]),
        "engine.superstep_max_s": max(s["end"] - s["start"] for s in steps),
        "engine.flush_s": sum(s["end"] - s["start"] for s in flush),
        "engine.seed_s": seed_span["end"] - seed_span["start"],
        "engine.storage_peak_mb": max(obs["storage_samples"] or [0.0]),
        "catalog.snapshots": float(len(obs["cat"].snapshots())),
    }
    totals: dict = {}
    for cls, spans in (("superstep", [seed_span] + work), ("flush", flush)):
        part: dict = {}
        for s in spans:
            for k, v in spark_work(log, {s["group"]}, s["start"], s["end"]).items():
                part[k] = part.get(k, 0) + v
        for k in ("python_tasks", "python_task_s", "jvm_task_s"):
            out[f"engine.{k}.{cls}"] = float(part.get(k, 0))
        for k, v in part.items():
            totals[k] = totals.get(k, 0) + v
    for name, key in (
        ("spark_jobs", "jobs"), ("spark_stages", "stages"), ("spark_tasks", "tasks"),
        ("task_wait_s", "task_wait_s"), ("driver_only_s", "driver_only_s"),
        ("shuffle_write_mb", "shuffle_write_mb"), ("spill_mb", "spill_mb"),
    ):
        out[f"engine.{name}"] = float(totals.get(key, 0))
    calls = obs["calls"]
    commits = calls.get("catalog.commit", [])
    reads = calls.get("catalog.read", []) + calls.get("catalog.read_dirs", [])
    out["catalog.commits"] = float(len(commits))
    out["catalog.commit_s"] = sum(commits)
    out["catalog.read_calls"] = float(len(reads))
    out["catalog.read_s"] = sum(reads)
    return out


WORKLOADS = {w.name: w for w in (CrawlSite, CurateCorpus)}
