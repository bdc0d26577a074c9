"""Epoch replay driver — the binlog tail loop (SURVEY.md §2.8, §3.2).

Reads ordered epoch directories produced by gen.write_events (or any
binlog landing zone with the same layout), applies each epoch through
the merge core, records the checkpoint. Restart-safe from any point:
already-committed epochs no-op via the lake's epoch markers, and the
checkpoint lets a resume skip even the no-op job submission.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from .checkpoint import Checkpoint
from .gen import list_epochs
from .lake import LakeTable
from .merge import MergeResult, apply_epoch
from .spec import MergeMode, MergeSpec


def replay(
    spark: SparkSession,
    lake: LakeTable,
    events_dir: str,
    spec: MergeSpec,
    mode: MergeMode = MergeMode.DELTA,
    delta_dir: str | None = None,
    checkpoint: Checkpoint | None = None,
    epochs: list[int] | None = None,
    fast_resume: bool = True,
) -> list[MergeResult]:
    """Replay epochs in order; returns one MergeResult per epoch."""
    results: list[MergeResult] = []
    todo = epochs if epochs is not None else list_epochs(events_dir)
    done_fast = set()
    if checkpoint is not None and fast_resume:
        ck_done = checkpoint.done_epochs()
        if ck_done:
            # The lake's epoch markers are the source of truth, the
            # checkpoint is only a job-submission shortcut: a rollback()
            # may have UNMARKED epochs the checkpoint still records (the
            # bad-epoch escape hatch) — those must re-apply, not
            # fast-skip. One manifest read gates the whole resume.
            done_fast = ck_done & set(lake.manifest().committed_epochs)
    for ep in sorted(todo):
        if ep in done_fast:
            results.append(MergeResult(epoch_id=ep, version=-1, skipped=True))
            continue
        res = apply_epoch(spark, lake, _epoch_input(spark, f"{events_dir}/epoch={ep}"),
                          spec, mode, ep, delta_dir=delta_dir)
        if checkpoint is not None:
            checkpoint.record(res)
        results.append(res)
        _auto_compact(spark, lake)
    return results


def _epoch_input(spark: SparkSession, epoch_dir: str):
    """What ``apply_epoch`` gets for one landed epoch: the files Spark's
    reader would read there (names not starting with ``_`` or ``.``), so
    a small epoch can run on the driver — or the Spark read of the dir
    when it is not a local directory (a filesystem URI, or missing: Spark
    reports it) or holds a subdirectory (Spark would discover partitions
    in it)."""
    if os.path.isdir(epoch_dir):
        paths = [os.path.join(epoch_dir, n) for n in sorted(os.listdir(epoch_dir))
                 if not n.startswith(("_", "."))]
        if all(os.path.isfile(p) for p in paths):
            return paths
    return spark.read.parquet(epoch_dir)


def _auto_compact(spark: SparkSession, lake: LakeTable) -> None:
    """Merge-on-read compaction policy: when the table property
    ``compact.max.deltas.per.bucket`` = K is set, any bucket that has
    accumulated ≥ K delta files after an epoch is compacted back to one
    base file. Bounds the read-merge tax to K delta files per bucket
    while keeping the per-epoch write cost at changed-rows size (the MOR
    point, lake.commit_delta_buckets). Compaction is a maintenance
    commit: crash-safe, no epoch markers touched, so replay/resume
    semantics are unaffected.
    """
    m = lake.manifest()
    k = int(m.properties.get("compact.max.deltas.per.bucket", 0))
    if not k:
        return
    per_bucket: dict[int, int] = {}
    for e in m.files:
        if e.get("kind") == "delta":
            per_bucket[e["bucket"]] = per_bucket.get(e["bucket"], 0) + 1
    dirty = sorted(b for b, n in per_bucket.items() if n >= k)
    if dirty:
        lake.compact(spark, buckets=dirty)
