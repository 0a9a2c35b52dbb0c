"""Snapshot-versioned table catalog — the checkpoint/resume substrate.

The north rule calls for Iceberg tables with snapshot checkpoints. This
container ships no Iceberg runtime jar, so the catalog implements the
same contract over plain parquet with an atomic JSON manifest:

* every superstep ``commit()`` writes new parquet data dirs and then
  atomically renames a new manifest into place — readers (and resume)
  only ever see fully-committed snapshots, like an Iceberg metadata
  swap;
* append-only tables (url_seen, items, images, metrics, lineage,
  failures_final) are written as per-commit **delta dirs** listed in the
  manifest — an append is O(new rows), never a rewrite;
* mutable tables (frontier) are rewritten per commit (at 100 TB scale
  this is where Iceberg MERGE + partition-level rewrites take over; the
  swap is a one-line change in ``write_table`` because callers only see
  the read/commit API);
* old manifests are retained (``_manifest-{n}.json``) → time travel for
  the resume test.

Replaces the reference's history stores (local JSON/MySQL/Mongo,
``app/aid/history/success.go:54-120``) and its flush-at-batch
checkpointing (``app/scheduler/matrix.go:207-218``).
"""

from __future__ import annotations

import json
import os
import tempfile
from typing import Any

from pyspark.sql import DataFrame, SparkSession


class SnapshotCatalog:
    def __init__(self, root: str, spark: SparkSession):
        self.root = root
        self.spark = spark
        os.makedirs(root, exist_ok=True)

    # -- manifest ----------------------------------------------------------

    def _manifest_path(self) -> str:
        return os.path.join(self.root, "_manifest.json")

    def current(self) -> dict | None:
        path = self._manifest_path()
        if not os.path.exists(path):
            return None
        with open(path) as f:
            return json.load(f)

    def snapshots(self) -> list[dict]:
        out = []
        for name in sorted(os.listdir(self.root)):
            if name.startswith("_manifest-") and name.endswith(".json"):
                with open(os.path.join(self.root, name)) as f:
                    out.append(json.load(f))
        return sorted(out, key=lambda m: m["snapshot_id"])

    def _write_manifest(self, manifest: dict) -> None:
        data = json.dumps(manifest, indent=1)
        # keep the historical copy, then swap the head pointer; each
        # lands whole or not at all (a torn history copy would break
        # snapshots() and expire_snapshots())
        hist = f"_manifest-{manifest['snapshot_id']:06d}.json"
        for path in (os.path.join(self.root, hist), self._manifest_path()):
            fd, tmp = tempfile.mkstemp(dir=self.root, suffix=".tmp")
            try:
                with os.fdopen(fd, "w") as f:
                    f.write(data)
                os.replace(tmp, path)
            except BaseException:
                os.unlink(tmp)
                raise

    # -- tables ------------------------------------------------------------

    def read(self, name: str, snapshot: dict | None = None) -> DataFrame | None:
        """Read a table at the given (default: current) snapshot."""
        manifest = snapshot or self.current()
        if manifest is None:
            return None
        entry = manifest["tables"].get(name)
        if not entry or not entry["dirs"]:
            return None
        paths = [os.path.join(self.root, d) for d in entry["dirs"]]
        return self.spark.read.parquet(*paths)

    def read_dirs(self, name: str, dirs: list[str]) -> DataFrame | None:
        """Read a specific subset of a table's delta dirs (e.g. the
        url_seen deltas not yet covered by the Bloom sidecar)."""
        if not dirs:
            return None
        return self.spark.read.parquet(*[os.path.join(self.root, d) for d in dirs])

    def commit(
        self,
        appends: dict[str, DataFrame],
        rewrites: dict[str, DataFrame],
        state: dict[str, Any],
        adopt: dict[str, list[str]] | None = None,
    ) -> dict:
        """Write data dirs, then atomically publish a new snapshot.

        ``appends``: tables extended with a delta dir (append-only).
        ``rewrites``: tables fully replaced (frontier).
        ``state``: engine driver state carried in the manifest (superstep,
        next_seq, enqueued count, …) — the resume point.
        ``adopt``: tables extended with delta dirs whose parquet files
        were already written by executor-side python tasks (bodystore
        sink) — the commit just publishes the paths, exactly an Iceberg
        add-files commit. Until adopted, such dirs are invisible orphans.
        """
        prev = self.current()
        sid = (prev["snapshot_id"] + 1) if prev else 0
        tables: dict[str, dict] = {
            k: dict(v) for k, v in (prev["tables"] if prev else {}).items()
        }
        # each table's data dir is independent until the single manifest
        # publish below — write them as concurrent Spark jobs so one
        # write's task tail back-fills cores freed by another (guide
        # §2.6); a failure aborts before the manifest, exactly like the
        # serial form (unpublished dirs are invisible orphans)
        write_jobs: list[tuple] = []
        for name, df in appends.items():
            if df is None:
                continue
            rel = f"{name}/delta-{sid:06d}"
            write_jobs.append((df, rel))
            entry = tables.setdefault(name, {"dirs": []})
            entry["dirs"] = entry["dirs"] + [rel]
        for name, rels in (adopt or {}).items():
            rels = [r for r in rels if os.path.isdir(os.path.join(self.root, r))]
            if not rels:
                continue
            entry = tables.setdefault(name, {"dirs": []})
            entry["dirs"] = entry["dirs"] + rels
        for name, df in rewrites.items():
            rel = f"{name}/v{sid:06d}"
            write_jobs.append((df, rel))
            tables[name] = {"dirs": [rel]}

        # pool threads do not inherit the caller's job description
        sc = self.spark.sparkContext
        desc = sc.getLocalProperty("spark.job.description")

        def _write(job):
            df, rel = job
            sc.setJobDescription(desc)
            df.write.mode("overwrite").parquet(os.path.join(self.root, rel))

        if len(write_jobs) > 1:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(
                max_workers=min(3, len(write_jobs))
            ) as pool:
                list(pool.map(_write, write_jobs))
        else:
            for job in write_jobs:
                _write(job)
        manifest = {"snapshot_id": sid, "tables": tables, "state": state}
        self._write_manifest(manifest)
        return manifest

    def state(self) -> dict[str, Any] | None:
        m = self.current()
        return m["state"] if m else None

    def compact(self, name: str) -> None:
        """Rewrite an append-only table's delta dirs into one dir (Iceberg
        compaction analog). Keeps read fan-in bounded on long crawls. A
        Bloom sidecar over the table covers the old dirs, so it stops
        being used; ``bloom.SeenSet.compact`` compacts and then rebuilds
        it when its rebuild policy says so."""
        m = self.current()
        if m is None or name not in m["tables"]:
            return
        df = self.read(name)
        sid = m["snapshot_id"] + 1
        rel = f"{name}/compact-{sid:06d}"
        df.write.mode("overwrite").parquet(os.path.join(self.root, rel))
        tables = {k: dict(v) for k, v in m["tables"].items()}
        tables[name] = {"dirs": [rel]}
        self._write_manifest(
            {"snapshot_id": sid, "tables": tables, "state": m["state"]}
        )

    # -- maintenance -------------------------------------------------------

    def expire_snapshots(
        self, keep_last: int = 5, staging_min_age_s: float = 3600.0
    ) -> dict:
        """Iceberg ``expire_snapshots`` + ``remove_orphan_files`` analog:
        drop historical manifests beyond the newest `keep_last` and
        delete data dirs no retained snapshot references.

        Without expiry a long crawl leaks storage structurally: the
        frontier is REWRITTEN every commit (``frontier/v{sid}``), so a
        10^10-row frontier checkpointed per superstep accumulates one
        full copy per commit; compaction likewise strands the replaced
        delta dirs. Time travel keeps working across the retained
        window. Leftover ``.staging`` dirs from crashed python-sink
        flushes are removed once older than ``staging_min_age_s``
        (Iceberg's ``remove_orphan_files older_than`` guard: a LIVE
        engine may hold staged-but-unflushed sink dirs, and sweeping
        those from a concurrent standalone maintenance call would crash
        its adopt commit — an hour-old staging dir is from a crashed
        run, a seconds-old one may be in flight). Returns
        ``{"manifests_removed", "dirs_removed"}``.

        Reader contract (same as Iceberg's): a reader pinned to an
        expired snapshot — including a ``stream_table`` query built
        before the expiry — loses its files; size ``keep_last`` (or the
        engine's ``expire_keep_snapshots``) to cover the longest-lived
        concurrent reader.
        """
        import shutil
        import time

        snaps = self.snapshots()
        cur = self.current()
        keep = snaps[-keep_last:] if keep_last > 0 else []
        if cur is not None and cur["snapshot_id"] not in {
            s["snapshot_id"] for s in keep
        }:
            keep.append(cur)
        keep_ids = {s["snapshot_id"] for s in keep}
        referenced: set[str] = set()
        for s in keep:
            for entry in s["tables"].values():
                referenced.update(entry["dirs"])
        manifests_removed = 0
        for s in snaps:
            if s["snapshot_id"] not in keep_ids:
                path = os.path.join(
                    self.root, f"_manifest-{s['snapshot_id']:06d}.json"
                )
                if os.path.exists(path):
                    os.remove(path)
                    manifests_removed += 1
        dirs_removed = 0
        for table in sorted(os.listdir(self.root)):
            tdir = os.path.join(self.root, table)
            if not os.path.isdir(tdir):
                continue
            if table == ".staging":
                now = time.time()
                for d in os.listdir(tdir):
                    sub = os.path.join(tdir, d)
                    try:
                        age = now - os.path.getmtime(sub)
                    except OSError:
                        continue  # racing a concurrent adopt-rename
                    if age >= staging_min_age_s:
                        shutil.rmtree(sub, ignore_errors=True)
                        dirs_removed += 1
                continue
            if table.startswith(("_", ".")) or table == "bloom":
                # bloom sidecars have their own pointer + lifecycle
                # (engine rebuild invalidation), not manifest-listed
                continue
            for d in sorted(os.listdir(tdir)):
                rel = f"{table}/{d}"
                sub = os.path.join(tdir, d)
                if os.path.isdir(sub) and rel not in referenced:
                    shutil.rmtree(sub, ignore_errors=True)
                    dirs_removed += 1
        return {
            "manifests_removed": manifests_removed,
            "dirs_removed": dirs_removed,
        }
