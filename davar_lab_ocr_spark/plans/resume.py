"""Snapshot-committed, resumable sink with per-file lineage.

The reference has no job-level resume (only model-weight checkpoints,
inference.py:66-75); this is net-new per the north rule: the job must
be resumable from a committed snapshot after executor/driver loss, and
every commit carries lineage + counters.

Without an Iceberg runtime in the sandbox we implement the same
commit protocol on plain parquet:

  out_path/
    batch=<id>/            data files + _SUCCESS   (task-level commit)
    _lineage/batch=<id>/   per-file counters       (parquet)
    _manifests/<id>.json   <- THE commit point (atomic file create,
                              written only after data+lineage land)

A batch is visible iff its manifest exists — a crash mid-write leaves
orphan files that readers never see (snapshot isolation, the
df.write.format('iceberg') analog). Resume = left-anti join of the
input's doc_ids against all committed batches' doc_ids, read as one
fixed-schema column.

One commit runs the upstream plan once and caches nothing; it makes
two passes over data:

  1. the data write, carrying a ``DataFrame.observe`` that counts
     n_docs / n_spans / n_empty_spans inside the same job;
  2. the lineage: the committed part files are read back (doc_id and
     two span fields), counted per file, keyed by the file's partition
     number, and written.

The lineage sums must equal the observed totals before the manifest is
written; if they differ the commit raises and no manifest exists.
"""

from __future__ import annotations

import json
import os
import time
import uuid

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation, SparkSession

from .extract import extract


class SnapshotSink:
    def __init__(self, path: str):
        self.path = path
        self.manifest_dir = os.path.join(path, "_manifests")

    # -- snapshot visibility -------------------------------------------------
    def committed_batches(self) -> list[dict]:
        if not os.path.isdir(self.manifest_dir):
            return []
        out = []
        for name in sorted(os.listdir(self.manifest_dir)):
            if name.endswith(".json"):
                with open(os.path.join(self.manifest_dir, name)) as fh:
                    out.append(json.load(fh))
        return out

    def committed_paths(self, as_of: str | None = None) -> list[str]:
        manifests = self.history()
        if as_of is not None:
            ids = [m["batch_id"] for m in manifests]
            if as_of not in ids:
                raise KeyError(f"no committed batch {as_of!r}")
            # cut by commit-log POSITION, not raw committed_at: two
            # commits inside one clock quantum (or a wall-clock step
            # backwards) would otherwise leak later batches into the
            # historical read
            manifests = manifests[: ids.index(as_of) + 1]
        return [os.path.join(self.path, f"batch={m['batch_id']}") for m in manifests]

    def history(self) -> list[dict]:
        """The commit log, oldest first (the Iceberg snapshots-table
        analog): one manifest per committed batch with counters.
        Ordered by the monotonic ``seq`` stamped at commit time — NOT by
        ``committed_at``: a wall-clock step backwards between commits
        would reorder a timestamp-sorted log and make an ``as_of`` cut
        include a later batch. Legacy manifests without ``seq`` sort
        first by (committed_at, batch_id)."""
        return sorted(
            self.committed_batches(),
            key=lambda m: (m.get("seq", -1), m["committed_at"], m["batch_id"]),
        )

    def read(self, spark: SparkSession, as_of: str | None = None) -> DataFrame | None:
        """Union of committed snapshots (uncommitted dirs invisible).
        ``as_of`` time-travels: only batches committed up to and
        including that batch_id are visible — reproduces any historical
        read of the table. Reads with mergeSchema: a later batch may
        ADD columns (the Iceberg schema-evolution analog) and earlier
        snapshots surface them as nulls."""
        paths = self.committed_paths(as_of)
        if not paths:
            return None
        return spark.read.option("mergeSchema", "true").parquet(*paths)

    def processed_doc_ids(self, spark: SparkSession) -> DataFrame | None:
        """doc_id of every committed batch. A fixed one-column schema:
        no footer reads, no schema-merge job (unlike ``read``)."""
        paths = self.committed_paths()
        if not paths:
            return None
        return spark.read.schema("doc_id string").parquet(*paths)

    # -- commit --------------------------------------------------------------
    def write_batch(self, docs: DataFrame, batch_id: str | None = None) -> dict:
        """Write one snapshot: data, per-file lineage, then the manifest
        (the commit point). Returns the manifest.

        A committed ``batch_id`` is never replaced: reusing one raises
        ``FileExistsError`` before anything is written.

        Lineage has one row per committed part file, keyed by ``_part``,
        the write task's partition number in the file name. AQE sizes
        the write's partitions, so a small batch may coalesce into one
        file (4 shuffle partitions -> 1 file at a few thousand docs)."""
        batch_id = batch_id or uuid.uuid4().hex[:12]
        manifest_path = os.path.join(self.manifest_dir, f"{batch_id}.json")
        if os.path.exists(manifest_path):
            raise FileExistsError(f"batch {batch_id!r} is already committed: {manifest_path}")
        data_path = os.path.join(self.path, f"batch={batch_id}")
        lineage_path = os.path.join(self.path, "_lineage", f"batch={batch_id}")

        written = Observation()
        docs.observe(written, *map(F.expr, _DOC_COUNTERS)).write.mode("overwrite").parquet(
            data_path
        )

        # one pass over the committed files; span fields beyond the two
        # the empty-span counter needs are never read
        per_file = (
            docs.sparkSession.read.schema(_LINEAGE_READ_SCHEMA)
            .parquet(data_path)
            .selectExpr("_metadata.file_name AS file", "doc_id", "spans")
            .groupBy("file")
            .agg(*map(F.expr, _DOC_COUNTERS + ["min(doc_id) AS min_doc_id",
                                                "max(doc_id) AS max_doc_id"]))
            .selectExpr(
                "CAST(regexp_extract(file, '^part-([0-9]+)', 1) AS INT) AS _part",
                "file", "n_docs", "n_spans", "n_empty_spans", "min_doc_id", "max_doc_id",
            )
        )
        summed = Observation()
        per_file.observe(summed, *map(F.expr, _LINEAGE_SUMS)).write.mode("overwrite").parquet(
            lineage_path
        )
        totals, lineage_totals = _totals(written), _totals(summed)
        if lineage_totals != totals:
            raise RuntimeError(
                f"batch {batch_id} not committed: lineage sums {lineage_totals} "
                f"!= written totals {totals}"
            )

        # monotonic commit sequence (single-writer protocol, like
        # Iceberg's snapshot sequence-number): next = max committed + 1
        prior = self.committed_batches()
        seq = max((m.get("seq", -1) for m in prior), default=-1) + 1
        manifest = {
            "batch_id": batch_id,
            "seq": seq,
            "committed_at": time.time(),
            **totals,
            "data_path": data_path,
            "lineage_path": lineage_path,
        }
        os.makedirs(self.manifest_dir, exist_ok=True)
        tmp = os.path.join(self.manifest_dir, f".{batch_id}.tmp")
        with open(tmp, "w") as fh:
            json.dump(manifest, fh)
        os.rename(tmp, manifest_path)
        return manifest


# content-free span counter (SCALE.md known limit, now counted): a span
# with empty text AND no media ref carries no content — short-payload
# docs produce these silently in the full chain; the counter makes them
# visible per batch and per file
EMPTY_SPANS_SQL = (
    "size(filter(spans, s -> coalesce(s.text, '') = '' AND coalesce(s.media_ref, '') = ''))"
)
_DOC_COUNTERS = [
    "count(1) AS n_docs",
    "sum(size(spans)) AS n_spans",
    f"sum({EMPTY_SPANS_SQL}) AS n_empty_spans",
]
_LINEAGE_SUMS = [f"sum({c}) AS {c}" for c in ("n_docs", "n_spans", "n_empty_spans")]
_LINEAGE_READ_SCHEMA = "doc_id string, spans array<struct<text:string,media_ref:string>>"


def _totals(obs: Observation) -> dict:
    """An observation's counters as ints (a sum over no rows is null)."""
    return {k: int(v or 0) for k, v in obs.get.items()}


def run_resumable_extract(
    spark: SparkSession,
    raw: DataFrame,
    out_path: str,
    batch_id: str | None = None,
    **extract_kwargs,
) -> dict:
    """One resumable increment: skip already-committed doc_ids, extract
    the remainder, snapshot-commit. Safe to re-run after any crash —
    uncommitted partial output is invisible and re-done."""
    sink = SnapshotSink(out_path)
    processed = sink.processed_doc_ids(spark)
    # no broadcast hint: at 10^12 docs the processed set is huge — let
    # Catalyst/AQE choose (it broadcasts small sides automatically)
    todo = raw if processed is None else raw.join(processed, "doc_id", "left_anti")
    docs = extract(todo, **extract_kwargs)
    return sink.write_batch(docs, batch_id)
