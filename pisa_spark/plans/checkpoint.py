"""Per-stage / per-bucket checkpointed lineage for resumable index builds.

The reference resumes a killed parse via its `merge` subcommand over
surviving batch files (tools/parse_collection.cpp:43-52; invert keeps batch
files until merged, src/invert.cpp:250-257). The Spark-native equivalent:
every build stage writes a parquet artifact; above a work-size bound the
expensive postings stage is split into `n_buckets` independent jobs keyed on
doc shards (shard_id mod n_buckets), each writing its own directory of
string-keyed rows. A JSON manifest records completed artifacts; a restarted
build skips anything already recorded, so a killed build never recomputes
finished shard buckets (north-rule requirement).
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import threading
import time


class BuildManifest:
    def __init__(self, out_dir: str):
        self.out_dir = out_dir
        self.path = os.path.join(out_dir, "manifest.json")
        os.makedirs(out_dir, exist_ok=True)
        if os.path.exists(self.path):
            with open(self.path) as f:
                self.state = json.load(f)
        else:
            self.state = {"completed": {}, "stats": {}, "metrics": {}}
        # bucket jobs run concurrently from driver threads; manifest
        # updates must serialize so a mark never flushes a half-updated map
        self._lock = threading.Lock()

    def _flush_locked(self) -> None:
        fd, tmp = tempfile.mkstemp(dir=self.out_dir, suffix=".manifest")
        with os.fdopen(fd, "w") as f:
            json.dump(self.state, f, indent=1)
        os.replace(tmp, self.path)

    def done(self, name: str) -> bool:
        return name in self.state["completed"]

    def mark(self, name: str, **meta) -> None:
        with self._lock:
            self.state["completed"][name] = {"ts": time.time(), **meta}
            self._flush_locked()

    def record_metric(self, name: str, value) -> None:
        with self._lock:
            self.state["metrics"][name] = value
            self._flush_locked()

    def set_stats(self, stats: dict) -> None:
        with self._lock:
            self.state["stats"] = stats
            self._flush_locked()

    def artifact_path(self, name: str) -> str:
        return os.path.join(self.out_dir, name)

    def write_df(self, name: str, df, partition_by: list[str] | None = None,
                 mode: str = "overwrite", pre_mark=None) -> None:
        """Write a DataFrame artifact and mark it complete (atomic: the
        manifest entry lands only after the parquet _SUCCESS).

        pre_mark: optional callable invoked between the parquet write and
        the mark — the build uses it to gate derived-artifact marks on the
        root artifact's concurrent write finishing (a mark must never
        outlive the lineage it depends on)."""
        path = self.artifact_path(name)
        if os.path.exists(path) and not self.done(name):
            shutil.rmtree(path)  # partial output from a killed run
        w = df.write.mode(mode)
        if partition_by:
            w = w.partitionBy(*partition_by)
        t0 = time.time()
        w.parquet(path)
        if pre_mark is not None:
            pre_mark()
        nbytes = nfiles = 0
        for root, _dirs, files in os.walk(path):
            for fn in files:
                if fn.endswith(".parquet"):
                    nbytes += os.path.getsize(os.path.join(root, fn))
                    nfiles += 1
        self.mark(name, seconds=round(time.time() - t0, 3),
                  bytes=nbytes, files=nfiles)

    def read_df(self, spark, name: str):
        path = self.artifact_path(name)
        # a resumed build may have rewritten this path after an earlier read
        # in the same session cached its file listing
        spark.catalog.refreshByPath(path)
        return spark.read.parquet(path)
