"""Snapshot-per-round checkpoint store (the Iceberg stand-in).

The north rule asks for Iceberg tables with snapshot-per-round
checkpoints and per-partition lineage. The sandbox image ships no
Iceberg/Delta jars, so this module provides the same contract over
versioned Parquet directories:

- ``pending`` is written as a **full snapshot** each checkpointed round
  (it is the active set — the analog of Iceberg copy-on-write on the
  hot partition);
- ``done`` / ``pages`` / ``metrics`` are written as **append deltas**
  (the analog of Iceberg appends — no rewrite of the ever-growing mass);
- ``enqueued`` and ``seen`` are **not stored**: ``load_state`` derives
  ``enqueued`` = π(url, url_hash)(pending ∪ done), and ``CrawlState.seen``
  is always the completed rows of ``done`` (``plans/state.py``).
  Manifests written before this rule may still list them; those entries
  are ignored.
- a ``_MANIFEST.json``, written LAST, is the atomic commit marker (the
  snapshot pointer): it lists, per table, the exact delta paths that
  compose the table at that round. A crash mid-write leaves no manifest
  => the round never happened (resume re-runs it deterministically).
- every ``compact_every`` checkpoints the append chains are compacted
  into a fresh base snapshot so read fan-in stays bounded: the base is
  written as ``ceil(chain bytes / COMPACT_FILE_BYTES)`` files (at least
  one), so a compacted table holds a file count set by its size, not by
  how many partitions its inputs were read as.

On a real cluster this maps 1:1 to Iceberg ``writeTo(...).append()`` +
``MERGE INTO`` with idempotent ``url_hash`` merge keys; the interface
(``write_round`` / ``load_latest``) would not change.
"""

from __future__ import annotations

import json
import math
import os
import shutil

from pyspark.sql import DataFrame, SparkSession

from distributed_web_scrapper_and_crawler_spark.plans.state import (
    DONE_SCHEMA,
    FRONTIER_SCHEMA,
    METRICS_SCHEMA,
    CrawlState,
    derive_enqueued,
    pages_schema,
)

SNAPSHOT_TABLES = ("pending",)
APPEND_TABLES = ("done", "pages", "metrics")
ALL_TABLES = SNAPSHOT_TABLES + APPEND_TABLES
# target on-disk size of one compacted file (Spark's default scan split)
COMPACT_FILE_BYTES = 128 << 20


def _dir_bytes(paths: list[str]) -> int:
    total = 0
    for p in paths:
        for root, _, files in os.walk(p):
            total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


class CheckpointStore:
    def __init__(self, spark: SparkSession, root: str, compact_every: int = 8):
        from distributed_web_scrapper_and_crawler_spark.session import probe_table_format

        self.spark = spark
        self.root = root
        self.compact_every = compact_every
        # ACID-runtime probe (VERDICT r1 #9): with delta-spark present the
        # store writes Delta tables (ACID file commits under the same
        # manifest protocol); this sandbox ships neither Delta nor Iceberg
        # jars, so parquet-manifest is the tested path here.
        self.storage_format = "delta" if probe_table_format() == "delta" else "parquet"
        os.makedirs(root, exist_ok=True)

    def _write(self, df: DataFrame, path: str) -> None:
        df.write.mode("overwrite").format(self.storage_format).save(path)

    def _read(self, schema, paths: list[str]) -> DataFrame:
        if self.storage_format == "delta":
            # delta derives schema from its log
            dfs = [self.spark.read.format("delta").load(p) for p in paths]
            out = dfs[0]
            for d in dfs[1:]:
                out = out.unionByName(d)
            return out
        return self.spark.read.schema(schema).parquet(*paths)

    def reset(self) -> None:
        """Clear all crawl state (the reference's delete_many({}) reset,
        seed_urls.py:63-67 / clear_data.py:8-10)."""
        if os.path.isdir(self.root):
            shutil.rmtree(self.root)
        os.makedirs(self.root, exist_ok=True)

    # -- layout ----------------------------------------------------------
    def _round_dir(self, rnd: int) -> str:
        return os.path.join(self.root, f"round_{rnd:06d}")

    def _manifest_path(self, rnd: int) -> str:
        return os.path.join(self._round_dir(rnd), "_MANIFEST.json")

    def list_rounds(self) -> list[int]:
        if not os.path.isdir(self.root):
            return []
        out = []
        for d in os.listdir(self.root):
            if d.startswith("round_") and os.path.exists(os.path.join(self.root, d, "_MANIFEST.json")):
                out.append(int(d[len("round_") :]))
        return sorted(out)

    def latest_round(self) -> int | None:
        rounds = self.list_rounds()
        return rounds[-1] if rounds else None

    # -- write -----------------------------------------------------------
    def write_round(self, state: CrawlState, deltas: dict[str, DataFrame]) -> None:
        """Persist one completed round.

        ``deltas`` holds this round's *new* rows for append tables (keys
        outside ``APPEND_TABLES`` are ignored); ``state.pending`` is
        snapshotted in full. The manifest commits the round atomically
        (written last).
        """
        rnd = state.round
        rdir = self._round_dir(rnd)
        if os.path.exists(rdir):
            shutil.rmtree(rdir)  # re-running an uncommitted round
        os.makedirs(rdir)
        manifest: dict = {
            "round": rnd,
            "max_seq": state.max_seq,
            "pending_count": state.pending_count,
            "tables": {},
        }

        pend_path = os.path.join(rdir, "pending")
        self._write(state.pending, pend_path)
        manifest["tables"]["pending"] = [pend_path]

        prev = self.latest_round()
        prev_manifest = self._read_manifest(prev) if prev is not None else None

        for name in APPEND_TABLES:
            dpath = os.path.join(rdir, name)
            prior_paths = prev_manifest["tables"].get(name, []) if prev_manifest else []
            if len(prior_paths) >= self.compact_every:
                # fold the whole chain into one base snapshot of n_files
                # files. A shuffle, not a plain coalesce: coalesce would run
                # this round's delta plan (the pages extraction UDF) inside
                # the n_files tasks too. Hashing on every column keeps the
                # exchange deterministic without a sort. The chain is read
                # with the table's own schema: a bare parquet read would
                # launch a schema-inference job per table.
                base = self._read(getattr(state, name).schema, prior_paths)
                combined = base.unionByName(deltas[name]) if name in deltas else base
                n_files = max(1, math.ceil(_dir_bytes(prior_paths) / COMPACT_FILE_BYTES))
                self._write(combined.repartition(n_files, *combined.columns), dpath)
                manifest["tables"][name] = [dpath]
            else:
                paths = list(prior_paths)
                if name in deltas:
                    self._write(deltas[name], dpath)
                    paths.append(dpath)
                manifest["tables"][name] = paths

        with open(self._manifest_path(rnd) + ".tmp", "w") as f:
            json.dump(manifest, f)
        os.replace(self._manifest_path(rnd) + ".tmp", self._manifest_path(rnd))

    def write_snapshot(self, state: CrawlState) -> None:
        """Persist the COMPLETE state as base snapshots (no delta chains).

        Needed by lifecycle mutations that SHRINK append-only tables —
        ``readmit_cancelled`` removes rows from ``done``, which no append
        delta can express. The Iceberg analog is a
        copy-on-write MERGE snapshot instead of an append snapshot.
        """
        rnd = state.round
        rdir = self._round_dir(rnd)
        if os.path.exists(rdir):
            shutil.rmtree(rdir)
        os.makedirs(rdir)
        manifest: dict = {
            "round": rnd,
            "max_seq": state.max_seq,
            "pending_count": state.pending_count,
            "tables": {},
        }
        for name in ALL_TABLES:
            path = os.path.join(rdir, name)
            self._write(getattr(state, name), path)
            manifest["tables"][name] = [path]
        with open(self._manifest_path(rnd) + ".tmp", "w") as f:
            json.dump(manifest, f)
        os.replace(self._manifest_path(rnd) + ".tmp", self._manifest_path(rnd))

    def _read_manifest(self, rnd: int) -> dict:
        with open(self._manifest_path(rnd)) as f:
            return json.load(f)

    # -- read ------------------------------------------------------------
    def load_state(self, field_names: list[str], rnd: int | None = None) -> CrawlState:
        rnd = rnd if rnd is not None else self.latest_round()
        if rnd is None:
            raise FileNotFoundError(f"no committed rounds under {self.root}")
        m = self._read_manifest(rnd)
        schemas = {
            "pending": FRONTIER_SCHEMA,
            "done": DONE_SCHEMA,
            "pages": pages_schema(field_names),
            "metrics": METRICS_SCHEMA,
        }

        def rd(name: str) -> DataFrame:
            paths = m["tables"].get(name, [])
            if not paths:
                return self.spark.createDataFrame([], schemas[name])
            return self._read(schemas[name], paths)

        pending, done = rd("pending"), rd("done")
        return CrawlState(
            pending=pending,
            done=done,
            enqueued=derive_enqueued(pending, done),
            pages=rd("pages"),
            metrics=rd("metrics"),
            max_seq=m["max_seq"],
            round=m["round"],
            pending_count=m.get("pending_count", 0),
        )
