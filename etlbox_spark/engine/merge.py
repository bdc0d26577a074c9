"""Merge-apply core (M2) — ETLBox ``DbMerge`` re-expressed Spark-first.

Reference semantics (SURVEY.md §2.6, pinned by BASELINE.json:6): classify
each incoming row against the destination as insert / update / delete /
exists, honoring MergeMode Full / Delta / NoDeletions, and emit a delta
log of what was done. ETLBox does this with a full-cache lookup and a
per-row loop; we do it with one hash-partitioned full-outer join that
Catalyst plans (AQE handles skew), after a last-writer-wins dedupe.

Scale design (the part that must survive 10^10 events / 100 TB tables):

* **LWW dedupe is a ``groupBy(key).agg(max_by(...))``**, not a window.
  A window over (key, seq) has no partial aggregation — every event row
  shuffles. ``max_by`` combines map-side, so the shuffle carries at most
  one row per (key, partition): ~orders of magnitude less shuffle I/O on
  hot keys, and it makes per-repo skew a non-issue for the dedupe because
  the combine happens before the exchange (salting-equivalent effect with
  zero bookkeeping).
* **Bucket pruning**: in DELTA (binlog) mode the snapshot side of the join
  reads only the buckets the batch touches — the manifest prunes files, so
  a small epoch against a 100 TB table scans GBs, not TBs.
* **Copy-on-write by changed bucket**: only buckets with at least one
  actual row change (insert/update/delete) are rewritten. ``exists`` rows
  appear in the delta log but cause zero file churn (SURVEY.md §7 hard #2).
* The join itself is an equi-join on the key; both sides arrive hash
  partitioned by key-hash bucket, AQE's skew-join splitting handles any
  residual hot bucket.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import shutil
import time
import uuid
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from py4j.protocol import Py4JJavaError
from pyspark.errors import PySparkException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import from_arrow_schema

from ..functions.hashing import bucket_expr, key_hash
from ..operators.dedupe import dedupe_lww as _dedupe_lww
from ..operators.dedupe import payload_tie_break
from . import lookup
from .lake import (
    BUCKET_COL,
    KHASH_COL,
    MOR_OP_COL,
    SPARK_SCHEMA_KEY,
    STALE_ATTEMPT_S,
    LakeTable,
    align_to_schema,
    write_arrow_file,
)
from .lookup import ACTION_COL
from .spec import ChangeAction, MergeMode, MergeSpec


def _epoch_log_paths(root: str, epoch_id: int) -> tuple[str, str]:
    """(in-flight, final) dirs of epoch N in an epoch log under ``root``
    — the delta log itself, or ``…/_quarantine``."""
    # the temp name starts with "_" so Spark's listing skips an in-flight
    # epoch — and it must NOT contain "=": Spark's path filter keeps
    # underscore names that look like partition dirs (name.contains("=")),
    # so "_inflight-epoch=N" would be parsed as a CONFLICTING partition
    # column and break read_changes over the whole delta log (caught by
    # test_read_changes_incremental_feed)
    return (
        os.path.join(root, f"_inflight-epoch-{epoch_id}"),
        os.path.join(root, f"epoch={epoch_id}"),
    )


def _stage_epoch_log(df: "DataFrame | pa.Table", root: str, epoch_id: int) -> str:
    """Write an uncommitted epoch's rows under its in-flight name and
    return that path. The write replaces a crashed attempt's rows; the
    epoch is not committed (the marker no-op returns before staging), so
    a visible final dir is a failed attempt's garbage. A Spark frame is
    written by Spark; an Arrow table (an epoch served on the driver) as
    one pyarrow file carrying Spark's schema key, so the feed readers
    see the same types either way."""
    tmp, final = _epoch_log_paths(root, epoch_id)
    shutil.rmtree(final, ignore_errors=True)
    if isinstance(df, DataFrame):
        df.write.mode("overwrite").parquet(tmp)
    else:
        shutil.rmtree(tmp, ignore_errors=True)
        write_arrow_file(df, os.path.join(tmp, f"part-00000-{uuid.uuid4()}.c000.snappy.parquet"))
    return tmp


def _finalize_epoch_log(root: str, epoch_id: int) -> None:
    """Expose a committed epoch's staged rows: rename the in-flight dir
    to ``epoch=N``, so a visible ``epoch=N`` IMPLIES epoch N committed.
    A visible final wins — a leftover attempt dir is then stale and
    removed. Idempotent; a no-op when nothing was staged. Any actor
    retrying a committed epoch heals a crashed rename here (VERDICT r02
    #6), so two healers can race: the loser's rmtree/replace finds the
    source already gone — the winner established exactly this
    postcondition, so tolerate it."""
    tmp, final = _epoch_log_paths(root, epoch_id)
    with contextlib.suppress(OSError):
        if os.path.exists(final):
            if os.path.exists(tmp):
                shutil.rmtree(tmp)
            return
        if os.path.exists(tmp):
            os.replace(tmp, final)


def _finalize_logs(lake: LakeTable, delta_dir: str | None, epoch_id: int) -> None:
    """Finalize a committed epoch's delta log and quarantine log."""
    if delta_dir is not None:
        _finalize_epoch_log(delta_dir, epoch_id)
    qbase = delta_dir if delta_dir is not None else lake.root
    _finalize_epoch_log(os.path.join(qbase, "_quarantine"), epoch_id)


def _log_ids(root: str, part: str) -> list[int]:
    """Sorted ids of the committed ``{part}=ID`` dirs under ``root``. A
    name whose suffix is not an int (external tooling debris) is not a
    committed dir; a missing root is an empty log."""
    try:
        names = os.listdir(root)
    except FileNotFoundError:
        return []
    ids = []
    for n in names:
        if n.startswith(f"{part}="):
            with contextlib.suppress(ValueError):
                ids.append(int(n[len(part) + 1:]))
    return sorted(ids)


def _read_log(
    spark: SparkSession, root: str, part: str, lo: int | None, hi: int | None
) -> DataFrame | None:
    """The committed ``{part}=ID`` dirs of a log with ``lo <= ID <= hi``
    (either bound optional), schema generations folded. A range holding
    none of the committed ids yields an EMPTY frame with the newest
    dir's schema; a log with no committed dir returns None."""
    all_ids = _log_ids(root, part)
    if not all_ids:
        return None
    ids = [i for i in all_ids if (lo is None or i >= int(lo)) and (hi is None or i <= int(hi))]
    if ids:
        return _read_generations(spark, root, part, ids)
    sch = _probe_dir_schemas(spark, [os.path.join(root, f"{part}={all_ids[-1]}")])[0]
    return spark.createDataFrame(
        [], T.StructType(list(sch.fields) + [T.StructField(part, T.IntegerType(), True)])
    )


# in-flight attempt dirs: ``_inflight-epoch-N`` (epoch logs) and
# ``_inflight-v{V}-{token}`` (the maintenance feed, lake.py)
_ATTEMPT_RE = re.compile(r"_inflight-(?:epoch-|v)(\d+)(?:-.*)?")


def _expire_log(root: str, part: str, before: int) -> tuple[int, int]:
    """Retention for one log: a committed dir goes when its id is below
    ``before``; an in-flight attempt dir goes when its id is below
    ``before`` AND it is older than ``STALE_ATTEMPT_S`` — a live retry of
    an old id may be mid-write or about to rename it, and an attempt at
    or above the cutoff may be a committed-but-unrenamed set still inside
    retention. Returns (removed, kept committed dirs)."""

    def _rm(p: str) -> bool:
        # a concurrent expire (or any cleanup actor) can delete the same
        # dir between this sweep's listing and its rmtree — the
        # postcondition already holds, so a vanished target is the OTHER
        # actor's removal, not this sweep's failure
        try:
            shutil.rmtree(p)
            return True
        except OSError:
            return False

    removed = kept = 0
    for i in _log_ids(root, part):
        if i < before:
            removed += _rm(os.path.join(root, f"{part}={i}"))
        else:
            kept += 1
    now = time.time()
    with contextlib.suppress(FileNotFoundError):
        for name in os.listdir(root):
            m = _ATTEMPT_RE.fullmatch(name)
            p = os.path.join(root, name)
            with contextlib.suppress(OSError):
                if m and int(m[1]) < before and now - os.path.getmtime(p) > STALE_ATTEMPT_S:
                    removed += _rm(p)
    return removed, kept


def _fold_fields(
    base: list[T.StructField], new: list[T.StructField], skip: frozenset[str] = frozenset()
) -> tuple[list[T.StructField], bool]:
    """The add-and-widen rule, shared by ``evolve_schema`` (table schema
    vs batch) and ``_merge_change_schemas`` (epoch generations of the
    change feed) so the two can never drift: fields in ``new`` are
    appended if absent, widened in place per ``_WIDEN_RANK`` if
    numerically wider, never narrowed or dropped. Returns (fields,
    changed)."""
    out = list(base)
    names = [f.name for f in out]
    changed = False
    for f in new:
        if f.name in skip:
            continue
        if f.name not in names:
            out.append(T.StructField(f.name, f.dataType, True))
            names.append(f.name)
            changed = True
        else:
            i = names.index(f.name)
            ra = _WIDEN_RANK.get(out[i].dataType.typeName())
            rb = _WIDEN_RANK.get(f.dataType.typeName())
            if ra is not None and rb is not None and rb > ra:
                out[i] = T.StructField(f.name, f.dataType, True)
                changed = True
    return out, changed


def _merge_change_schemas(a: T.StructType, b: T.StructType) -> T.StructType:
    """Fold two epoch schemas: later epochs may ADD columns or WIDEN
    numeric types (the only evolutions ``evolve_schema`` permits)."""
    out, _ = _fold_fields(list(a.fields), list(b.fields))
    return T.StructType(out)


# above this many dirs the footer probe fans out as one Spark job — the
# measured crossover (BENCH_LOG_TAIL.json; script retired after d21bc57):
# the driver loop runs at ~0.19 ms/dir (1.5 s at 8k dirs) while the
# distributed probe is a flat ~2.5-3 s job at any size, so fan-out only
# wins past ~16k dirs
_PROBE_DISTRIBUTE_THRESHOLD = 16384


def _dir_schema_json(d: str) -> str | None:
    """Spark schema of one committed change dir, read from a single
    parquet footer's Spark metadata key (~1 ms, no Spark job). Every file
    in a dir came from one write job, so any one footer speaks for all.
    Returns None when the dir has no parquet files or the key is absent
    or unreadable (non-Spark writer, corrupt footer) — callers fall back
    to a real ``spark.read`` probe for that dir."""
    try:
        names = sorted(n for n in os.listdir(d) if n.endswith(".parquet"))
        if not names:
            return None
        meta = pq.read_schema(os.path.join(d, names[0])).metadata or {}
        raw = meta.get(SPARK_SCHEMA_KEY)
        return raw.decode("utf-8") if raw is not None else None
    except Exception:  # noqa: BLE001 — any footer failure routes to the fallback probe
        return None


def _as_nullable(dt: T.DataType) -> T.DataType:
    """File-source reads surface every field as nullable regardless of
    the written schema; the footer metadata preserves the writer's
    nullability — normalize so the probe returns exactly what the legacy
    ``spark.read`` probe returned (and so grouping never splits on a
    nullability-only difference)."""
    if isinstance(dt, T.StructType):
        return T.StructType(
            [T.StructField(f.name, _as_nullable(f.dataType), True, f.metadata) for f in dt.fields]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_as_nullable(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(_as_nullable(dt.keyType), _as_nullable(dt.valueType), True)
    return dt


def _probe_dirs_distributed(spark: SparkSession, dirs: list) -> list:
    """Footer-probe ``dirs`` as ONE Arrow-batched Spark job (the fsck
    deep-scan shape): only (index, schema-json) strings come back, so the
    collect is O(#dirs) small strings, the wall O(#dirs / cores)."""
    def probe(batches):
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame(
                {"i": pdf["i"], "sj": [_dir_schema_json(d) for d in pdf["d"]]}
            )

    parts = max(1, min(len(dirs), spark.sparkContext.defaultParallelism * 2))
    rows = (
        spark.createDataFrame(list(enumerate(dirs)), "i long, d string")
        .repartition(parts)
        .mapInPandas(probe, "i long, sj string")
        .collect()
    )
    res: list = [None] * len(dirs)
    for r in rows:
        res[r["i"]] = r["sj"]
    return res


def _probe_dir_schemas(spark: SparkSession, dirs: list) -> list:
    """One Spark ``StructType`` per change dir, WITHOUT one Spark
    schema-inference job per dir (that probe is ~50-100 ms of driver wall
    each — a full-history replay of a 10^5-epoch log would spend hours on
    planning before reading a row). The footer metadata key supplies the
    identical schema at ~1 ms per dir driver-side; past
    ``_PROBE_DISTRIBUTE_THRESHOLD`` dirs the probe runs as one Spark job.
    Dirs without the key (non-Spark writers) fall back to the real
    ``spark.read`` probe, preserving exact legacy behavior."""
    if len(dirs) >= _PROBE_DISTRIBUTE_THRESHOLD:
        jsons = _probe_dirs_distributed(spark, dirs)
    else:
        jsons = [_dir_schema_json(d) for d in dirs]
    out = []
    for d, sj in zip(dirs, jsons):
        if sj is not None:
            try:
                out.append(_as_nullable(T.StructType.fromJson(json.loads(sj))))
                continue
            except (ValueError, KeyError, TypeError):
                pass  # malformed metadata — treat as a non-Spark writer
        out.append(spark.read.parquet(d).schema)
    return out


def _read_generations(
    spark: SparkSession, root: str, part_col: str, ids: list
) -> DataFrame:
    """Shared generation fold for the three change-feed readers: group
    adjacent ``{root}/{part_col}={id}`` dirs by probed schema (a widen
    changes parquet physical types, so a single mixed read would fail),
    fold the group schemas with the add-and-widen rule, align each
    group's read to the fold, and union. One place to fix — the readers
    differ only in root, partition column and id selection."""
    schemas = _probe_dir_schemas(
        spark, [os.path.join(root, f"{part_col}={i}") for i in ids]
    )
    groups: list[tuple[T.StructType, list]] = []
    for i, sch in zip(ids, schemas):
        if groups and groups[-1][0] == sch:
            groups[-1][1].append(i)
        else:
            groups.append((sch, [i]))
    merged = groups[0][0]
    for sch, _ in groups[1:]:
        merged = _merge_change_schemas(merged, sch)
    parts = []
    for _, grp in groups:
        df = spark.read.option("basePath", root).parquet(
            *[os.path.join(root, f"{part_col}={i}") for i in grp]
        )
        parts.append(align_to_schema(df, merged, (part_col,)))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def read_changes(
    spark: SparkSession,
    delta_dir: str,
    from_epoch: int | None = None,
    to_epoch: int | None = None,
) -> DataFrame:
    """CDC-out: the committed change feed of a merge-applied table.

    Every ``apply_epoch`` writes its classified actions (keys + final
    payload + insert/update/delete/exists + seq) under
    ``{delta_dir}/epoch=N`` — and the rename protocol guarantees a
    visible ``epoch=N`` directory IMPLIES the epoch committed (in-flight
    attempts live under an underscore-prefixed name the listing skips).
    That makes the delta log itself an exactly-once incremental change
    stream: a downstream consumer checkpoints the last epoch it
    processed and reads ``read_changes(from_epoch=last+1)`` — the same
    pattern Iceberg calls an incremental scan and Delta calls CDF.

    Epoch bounds prune driver-side: only the selected epochs' dirs are
    ever handed to the reader, so tailing a long-lived table never
    lists, opens, or filters old epochs' files.

    Schema evolution: epochs before a column-add lack the new columns,
    and a widen changes parquet physical types mid-stream — Spark's
    ``mergeSchema`` refuses to reconcile int→long, so epochs are grouped
    into schema generations and each generation is aligned to the folded
    add-and-widen schema via ``align_to_schema`` (typed nulls for
    missing columns, upcasts for widened ones) before the union. The
    per-epoch schema comes from the parquet footer's Spark metadata key
    (~0.2 ms driver-side, no Spark job — see ``_probe_dir_schemas``),
    and past ~16k epochs the probe itself runs as one distributed job,
    so even a full-history replay of a 10^5-epoch log plans in seconds
    (BENCH_LOG_TAIL.json, script retired after d21bc57: 624 s of
    legacy planning → 1.5 s at 8k epochs).

    A caught-up consumer is the steady state, not an error: when the log
    HAS committed epochs but none fall in the requested range (e.g.
    ``from_epoch=last_processed+1`` with nothing new yet), the result is
    an EMPTY feed with the newest generation's schema. Only a delta dir
    with no committed epochs at all raises ``FileNotFoundError`` —
    that's indistinguishable from a wrong path.
    """
    df = _read_log(spark, delta_dir, "epoch", from_epoch, to_epoch)
    if df is None:
        raise FileNotFoundError(f"no committed epochs under {delta_dir}")
    return df


def read_maintenance_changes(
    spark: SparkSession,
    delta_dir: str,
    from_version: int | None = None,
    to_version: int | None = None,
) -> DataFrame:
    """CDC-out for MAINTENANCE content changes (r05): the synthesized
    change sets ``delete_where(emit_changes=True)`` and
    ``rollback(emit_changes=True)`` write under
    ``{delta_dir}/_maint/version={V}`` — the non-epoch generation of the
    change feed. Rows carry the table columns + ``bucket`` + ``action``
    (insert/update/delete; delete rows hold the erased preimage) +
    ``after_epoch`` + the ``version`` partition column (= the lake
    commit that performed the operation — consumers checkpoint it like
    an epoch id; a visible dir implies that commit landed).

    Ordering contract for a mirror consuming BOTH feeds: apply
    maintenance set V after draining epoch dirs with epoch ≤ its rows'
    ``after_epoch`` and before epochs committed later; distinct
    maintenance sets apply in ``version`` order. Schema generations are
    folded exactly like ``read_changes``' (epochs before a column-add
    surface typed nulls).

    A caught-up consumer is the steady state: committed sets outside the
    requested range yield an EMPTY frame with the newest set's schema.
    A delta log with no maintenance sets at all raises
    ``FileNotFoundError`` (indistinguishable from a wrong path)."""
    mroot = os.path.join(delta_dir, "_maint")
    df = _read_log(spark, mroot, "version", from_version, to_version)
    if df is None:
        raise FileNotFoundError(f"no committed maintenance change sets under {mroot}")
    return df


def expire_changes(
    delta_dir: str, before_epoch: int, before_maintenance_version: int | None = None
) -> dict[str, int]:
    """Change-feed retention: drop committed delta-log epochs older than
    ``before_epoch`` (exclusive). The log otherwise grows forever — one
    dir per epoch — and consumers that have checkpointed past an epoch
    never read it again. The quarantine log (``_quarantine/epoch=N``)
    expires with it. Every log follows ``_expire_log``'s rule: in-flight
    attempt dirs go only once below the cutoff AND stale (a live retry
    may still rename one into place). The table itself is untouched
    (the delta log is derived data — snapshots and epoch markers live in
    the lake manifest).

    ``before_maintenance_version`` (r05) independently expires
    maintenance change sets (``_maint/version=V``) below it — their
    lifecycle is keyed by lake commit version, not epoch.

    Returns ``{"removed": n, "kept": m}``; ``kept`` counts the committed
    dirs of every swept log that stay.
    """
    logs = [
        (delta_dir, "epoch", before_epoch),
        (os.path.join(delta_dir, "_quarantine"), "epoch", before_epoch),
    ]
    if before_maintenance_version is not None:
        logs.append((os.path.join(delta_dir, "_maint"), "version", before_maintenance_version))
    removed = kept = 0
    for root, part, before in logs:
        r, k = _expire_log(root, part, before)
        removed, kept = removed + r, kept + k
    return {"removed": removed, "kept": kept}


# Input op vocabulary: insert | update | delete (spec.op_col docstring);
# "upsert" accepted as the explicit tombstone-complement (the engine's
# merge semantics are exactly tombstone-vs-upsert, gen.py:57).
_VALID_OPS = ("insert", "update", "upsert", "delete")


def _malformed_pred(spec: MergeSpec):
    """True for events that would corrupt the merge rather than merge
    wrong: NULL key columns (the null-safe classify join would upsert a
    real NULL-keyed row), NULL seq (LWW order undefined), NULL/unknown
    op (silently treated as upsert today). NULL-safe by construction —
    the predicate itself is never NULL, so ``where(pred)`` and
    ``where(~pred)`` partition the batch exactly."""
    bad = F.lit(False)
    for k in spec.key_cols:
        bad = bad | F.col(k).isNull()
    bad = bad | F.col(spec.seq_col).isNull()
    bad = bad | ~F.coalesce(F.col(spec.op_col).isin(*_VALID_OPS), F.lit(False))
    return bad


def _route_malformed(
    spark: SparkSession, root: str, events: DataFrame, spec: MergeSpec, epoch_id: int
) -> tuple[DataFrame, int]:
    """Dead-letter split per ``spec.on_malformed`` (LinkErrorTo analog in
    the merge core). Runs BEFORE LWW dedupe — a malformed event must not
    outrank a valid one in the last-writer-wins window. Quarantined rows
    are written under an in-flight name and renamed to
    ``{root}/_quarantine/epoch=N`` only after the epoch COMMITS
    (``_finalize_logs``) — the delta log's rename protocol, so
    dead letters are never visible for an epoch that didn't commit, and
    a crashed attempt's rows (including a stale dir from a retry that
    turned out clean) can't linger as phantoms. The underscore parent is
    skipped by every listing of ``root`` (read_changes/stream_changes
    stay clean) while ``read_quarantine`` addresses it directly.

    The row count comes from the written files' parquet footers —
    bounded driver metadata, no separate count() job over the raw input
    (the split itself is one job; the complement filter fuses into the
    merge pipeline's own scan)."""
    if spec.on_malformed == "ignore":
        return events, 0
    bad_pred = _malformed_pred(spec)
    if spec.on_malformed == "fail":
        sample = events.where(bad_pred).limit(1).collect()
        if sample:
            raise ValueError(
                f"epoch {epoch_id}: malformed event under on_malformed='fail' "
                f"(NULL key/seq or unknown op): {sample[0].asDict()!r}"
            )
        return events, 0
    if spec.on_malformed != "quarantine":
        raise ValueError(f"unknown on_malformed policy {spec.on_malformed!r}")
    tmp = _stage_epoch_log(events.where(bad_pred), os.path.join(root, "_quarantine"), epoch_id)
    n = sum(
        pq.ParquetFile(os.path.join(tmp, f)).metadata.num_rows
        for f in os.listdir(tmp)
        if f.endswith(".parquet")
    )
    if n == 0:
        shutil.rmtree(tmp)
    return events.where(~bad_pred), n


def read_quarantine(
    spark: SparkSession,
    delta_dir: str,
    from_epoch: int | None = None,
    to_epoch: int | None = None,
) -> DataFrame:
    """Read the dead-letter log written by ``on_malformed="quarantine"``,
    optionally bounded by epoch (inclusive) — the operator's replay-or-
    discard queue. A visible ``epoch=N`` here implies epoch N committed
    (rename protocol, see ``_route_malformed``).

    Empty-range-safe with a STABLE schema: when the log has quarantined
    epochs but none fall in the range, the empty frame carries the
    newest epoch's event columns + the ``epoch`` partition column (same
    rule as ``read_changes`` — a consumer's ``.select(...)`` must not
    break the first time a range is empty). Only a log that never
    quarantined anything returns the minimal ``epoch``-only frame (the
    event schema is unknowable there).

    Schema generations fold exactly like ``read_changes``' (quarantined
    raw events evolve with the table: epochs before a column-add surface
    typed nulls, a numeric widen upcasts) — previously a range spanning
    a widen failed on the parquet physical-type change."""
    df = _read_log(spark, os.path.join(delta_dir, "_quarantine"), "epoch", from_epoch, to_epoch)
    if df is None:
        return spark.createDataFrame([], T.StructType([T.StructField("epoch", T.IntegerType())]))
    return df


@dataclass
class MergeResult:
    """One epoch's outcome. ``path`` says where an applied epoch ran:
    ``"driver"`` (``_apply_epoch_driver``) or ``"spark"``; for
    ``"spark"``, ``fallback`` names why — the driver gate's failed rule,
    or ``"dataframe"`` when the epoch came in as a frame, not files. A
    skipped epoch ran nowhere: both are None."""

    epoch_id: int
    version: int
    skipped: bool = False
    counts: dict[str, int] = field(default_factory=dict)
    changed_buckets: list[int] = field(default_factory=list)
    offsets: dict[int, dict[str, int]] = field(default_factory=dict)
    path: str | None = None
    fallback: str | None = None


def dedupe_lww(events: DataFrame, spec: MergeSpec) -> DataFrame:
    """Last-writer-wins dedupe: one surviving event per key, the one with
    the highest ``seq_col``. Re-delivered duplicates (same seq, same
    payload) collapse for free.

    ``operators.dedupe.dedupe_lww`` keyed on ``spec.key_cols`` and
    ordered by ``spec.seq_col``: ``groupBy(keys).agg(max_by(struct(rest),
    seq))`` — a single shuffle with map-side partial aggregation (see
    module doc).

    Duplicate-seq events with DIFFERENT payloads are an upstream protocol
    violation, but the survivor must still be deterministic (replay/
    oracle reproducibility — bare max_by picks a partition-order-
    dependent row on ties), so the ordering carries an 8-byte payload
    hash tie-breaker (``operators.dedupe.payload_tie_break``; appending
    the full payload struct instead would double the combiner state on
    this 10^10-row shuffle).

    A small epoch served on the driver picks its winners with the Arrow
    twin of this rule, ``lookup.lww_pick``; change the two together.
    """
    return _dedupe_lww(events, spec.key_cols, [spec.seq_col])


_WIDEN_RANK = {"byte": 0, "short": 1, "integer": 2, "long": 3, "float": 4, "double": 5}


def evolve_schema(
    table_schema: T.StructType, batch_schema: T.StructType, spec: MergeSpec
) -> T.StructType | None:
    """Schema evolution (BASELINE.json:6): column add + type widen.

    Returns the evolved schema, or None if the table schema already
    covers the batch. Never narrows, never drops columns. Key columns
    are never widened: the bucket layout hashes the key at its table
    type (xxhash64 hashes int and long differently), so widening a key
    would silently remap every stored row's logical key to a different
    bucket. A batch arriving with a wider key type is instead cast DOWN
    to the table type by ``align_to_schema`` — ANSI mode makes a lossy
    cast throw instead of corrupting the keyspace.
    """
    engine_cols = {spec.seq_col, spec.op_col, BUCKET_COL, "epoch", "ts", "schema_ver"}
    engine_cols |= set(spec.key_cols)
    out, changed = _fold_fields(
        list(table_schema.fields), list(batch_schema.fields), frozenset(engine_cols)
    )
    return T.StructType(out) if changed else None


def classify(
    snapshot: DataFrame,
    batch: DataFrame,
    spec: MergeSpec,
    mode: MergeMode,
    payload_cols: list[str],
) -> DataFrame:
    """Full-outer classification join (SURVEY.md §2.6 pseudo-plan).

    Returns keys + payload (new value for insert/update, old otherwise)
    + bucket + seq + ``action`` (insert/update/delete/exists, or NULL for
    rows that survive untouched and unlogged — DELTA-mode snapshot-only
    rows and tombstones of absent keys).

    ``lookup.classify_delta`` is the Arrow twin of the DELTA rule below,
    for small epochs served on the driver; change the two together.
    """
    keys = list(spec.key_cols)
    s = snapshot.withColumn("__s_present", F.lit(True)).alias("s")
    e = batch.withColumn("__e_present", F.lit(True)).alias("e")
    j = s.join(e, on=[F.col(f"s.{k}").eqNullSafe(F.col(f"e.{k}")) for k in keys], how="full_outer")

    s_here = F.col("__s_present").isNotNull() & F.col("__s_present")
    e_here = F.col("__e_present").isNotNull() & F.col("__e_present")
    is_tomb = e_here & (F.col(f"e.{spec.op_col}") == ChangeAction.DELETE.value)
    cmp_cols = [c for c in spec.compare_cols if c in payload_cols]
    same = F.lit(True)
    for c in cmp_cols:
        same = same & F.col(f"s.{c}").eqNullSafe(F.col(f"e.{c}"))

    ins, upd, dele, exi = (a.value for a in (
        ChangeAction.INSERT, ChangeAction.UPDATE, ChangeAction.DELETE, ChangeAction.EXISTS))

    null_s = F.lit(None).cast("string")
    if mode is MergeMode.NO_DELETIONS:
        # deletes suppressed at the sink; delta records them as existence
        # flags (FIXTURES.md §4 'no_deletions')
        ins_act, upd_act, tomb_hit, s_only = F.lit(ins), F.lit(upd), F.lit(exi), F.lit(exi)
    elif mode is MergeMode.FULL:
        ins_act, upd_act, tomb_hit, s_only = F.lit(ins), F.lit(upd), F.lit(dele), F.lit(dele)
    elif mode is MergeMode.ONLY_UPDATES:
        # inserts dropped unlogged (no existing row to flag); tombstone
        # hits suppressed as existence flags; otherwise DELTA-shaped
        ins_act, upd_act, tomb_hit, s_only = null_s, F.lit(upd), F.lit(exi), null_s
    elif mode is MergeMode.INSERTS_ONLY:
        # matched keys never rewritten: updates + tombstone hits become
        # existence flags (old payload kept), new keys insert as usual
        ins_act, upd_act, tomb_hit, s_only = F.lit(ins), F.lit(exi), F.lit(exi), null_s
    else:  # DELTA: binlog — no full diff; snapshot-only rows untouched+unlogged
        ins_act, upd_act, tomb_hit, s_only = F.lit(ins), F.lit(upd), F.lit(dele), null_s

    action = (
        F.when(is_tomb & s_here, tomb_hit)
        .when(is_tomb & ~s_here, null_s)  # idempotent tombstone of absent key
        .when(e_here & ~s_here, ins_act)
        .when(e_here & s_here & ~same, upd_act)
        .when(e_here & s_here & same, F.lit(exi))
        .otherwise(s_only)  # snapshot-only row
    )

    cols = [F.coalesce(F.col(f"e.{k}"), F.col(f"s.{k}")).alias(k) for k in keys]
    out = j.select(
        *cols,
        *[F.col(f"e.{c}").alias(f"__e_{c}") for c in payload_cols if c in batch.columns],
        *[F.col(f"s.{c}").alias(f"__s_{c}") for c in payload_cols],
        F.coalesce(F.col(f"e.{BUCKET_COL}"), F.col(f"s.{BUCKET_COL}")).alias(BUCKET_COL),
        F.col(f"e.{spec.seq_col}").alias(spec.seq_col),
        action.alias(ACTION_COL),
        e_here.alias("__e_here"),
        is_tomb.alias("__tomb"),
        # survival decided HERE, where s/e presence is known: a no-op
        # tombstone of an absent key must NOT write a ghost row, while a
        # DELTA-mode snapshot-only row (also action NULL) must survive.
        (
            action.isin(ins, upd, exi) | (action.isNull() & s_here)
        ).alias("__keep"),
    )
    take_new = out["__e_here"] & ~out["__tomb"] & out[ACTION_COL].isin(ins, upd)
    payload_exprs = []
    for c in payload_cols:
        if f"__e_{c}" in out.columns:
            v = F.when(take_new, out[f"__e_{c}"]).otherwise(out[f"__s_{c}"])
        else:
            v = out[f"__s_{c}"]
        payload_exprs.append(v.alias(c))
    return out.select(*keys, *payload_exprs, BUCKET_COL, spec.seq_col, ACTION_COL, "__keep")


def apply_epoch(
    spark: SparkSession,
    lake: LakeTable,
    events: "DataFrame | list[str]",
    spec: MergeSpec,
    mode: MergeMode,
    epoch_id: int,
    delta_dir: str | None = None,
) -> MergeResult:
    """Apply one epoch of change events to the lake table, exactly-once.

    Pipeline: LWW dedupe → bucket-pruned snapshot read → full-outer
    classify → commit of changed buckets → delta log. Re-applying a
    committed epoch is a no-op (idempotent replay).

    The commit strategy follows the table property ``write.mode``:

    * ``"cow"`` (default) — copy-on-write: changed buckets are rewritten
      whole. Reads stay merge-free; best when epochs touch a large
      fraction of each bucket.
    * ``"mor"`` — merge-on-read: only the epoch's changed rows (upserts +
      tombstones) are APPENDED as delta files via
      ``LakeTable.commit_delta_buckets``; reads of touched buckets merge
      on the fly until ``LakeTable.compact()``. Best at design scale,
      where a small epoch against a 100 TB table must not rewrite
      multi-GB buckets to change a few rows (write amplification is the
      10^10-event bottleneck, see lake.py).

    ``events`` is a DataFrame, or the parquet files of a landed epoch
    (``runner.replay``). A DataFrame always takes the Spark path. Files
    let a small merge-on-read DELTA epoch run on the driver instead
    (``_apply_epoch_driver``: at most one Spark job, for the per-row
    expressions), and fall back to reading them with Spark when its gate
    says no. ``MergeResult.path`` and ``fallback`` record which ran.
    """
    # the WHOLE read-classify-commit span holds an in-flight marker (not
    # just the write window): a live marker pins the snapshot versions
    # committed since it appeared — plus the latest at its creation —
    # against a concurrent vacuum, and the marker is created BEFORE the
    # snapshot is resolved so the pinned classify snapshot is inside the
    # pinned window (r05, found by the multi-writer soak; the commit
    # calls below nest their own markers harmlessly)
    with lake._inflight_guard():
        man = lake.manifest()
        if man.properties.get("bucketing", "khash") != "khash":
            # a custom-bucketed table (e.g. IVF cluster layout) cannot
            # take merge epochs: the batch's buckets are derived from key
            # hashes and would land rows in buckets readers don't
            # associate them with
            raise ValueError(
                "apply_epoch requires key-hash bucketing; this table is "
                f"bucketing={man.properties['bucketing']!r}"
            )
        if epoch_id in man.committed_epochs:
            # heal a crash between commit and delta-/quarantine-rename:
            # the epoch is committed, so expose its fully written logs
            _finalize_logs(lake, delta_dir, epoch_id)
            return MergeResult(epoch_id=epoch_id, version=man.version, skipped=True)
        if isinstance(events, DataFrame):
            fallback = "dataframe"
        else:
            res = _apply_epoch_driver(spark, lake, man, events, spec, mode, epoch_id, delta_dir)
            if isinstance(res, MergeResult):
                return res
            fallback, events = res, spark.read.parquet(*events)
        return _apply_epoch_pinned(
            spark, lake, man, events, spec, mode, epoch_id, delta_dir, fallback
        )


def _apply_epoch_pinned(
    spark: SparkSession,
    lake: LakeTable,
    man,
    events: DataFrame,
    spec: MergeSpec,
    mode: MergeMode,
    epoch_id: int,
    delta_dir: str | None,
    fallback: str,
) -> MergeResult:
    # dead-letter routing first: a malformed event must not poison the
    # LWW window or the null-safe classify join (spec.on_malformed)
    events, n_quarantined = _route_malformed(
        spark, delta_dir if delta_dir is not None else lake.root, events, spec, epoch_id
    )

    batch = dedupe_lww(events, spec)

    # schema evolution before classification so payload cols are final
    new_schema = evolve_schema(man.schema(), batch.schema, spec)
    table_schema = new_schema or man.schema()
    payload_cols = [f.name for f in table_schema.fields if f.name not in spec.key_cols]

    # align the batch to the (possibly evolved) table schema: widened
    # types cast up, columns the batch doesn't carry become typed nulls.
    # NO .persist() anywhere in this pipeline: the dedupe/join shuffles
    # are reused across the epoch's actions by Spark's shuffle-stage
    # reuse (map stages with live shuffle output are skipped), while a
    # columnar cache build measured 4-8x slower end-to-end (compression
    # + cached-read both serialize far below core count).
    batch = align_to_schema(batch, table_schema, (spec.seq_col, spec.op_col))
    # bucket AFTER the align: xxhash64 hashes int and long differently,
    # so a numeric key arriving at a different width than the table
    # would otherwise map the same logical key to a different bucket
    # (DELTA mode would then never scan the stored row's bucket and
    # re-insert the key as a duplicate)
    batch = batch.withColumn(BUCKET_COL, bucket_expr(man.n_buckets, *spec.key_cols))
    # one job yields both the per-partition offsets (checkpoint lineage)
    # and the touched-bucket set (snapshot pruning); lookup.epoch_stats
    # derives offsets, counts and changed buckets on the driver path.
    # Under on_malformed="ignore" a bucket's only winner may have a NULL
    # seq, and then so has its max
    offsets = {
        int(r[0]): {"max_seq": None if r[1] is None else int(r[1]), "rows": int(r[2])}
        for r in batch.groupBy(BUCKET_COL)
        .agg(F.max(spec.seq_col), F.count(F.lit(1)))
        .collect()
    }
    touched = sorted(offsets)

    # DELTA prunes the snapshot scan to touched buckets; FULL/NO_DELETIONS
    # must diff the entire table (semantics require it). The snapshot is
    # aligned too — it still reads under the pre-evolution schema.
    # version-pinned: the classify snapshot, the commit's conflict check
    # (base_version below) and the epoch marker test above must all see
    # the SAME manifest, or a concurrent maintenance commit landing
    # mid-epoch would split them
    snap = align_to_schema(
        lake.read(
            spark,
            buckets=touched if mode is MergeMode.DELTA else None,
            version=man.version,
        ),
        table_schema,
        (BUCKET_COL,),
    )

    j = classify(snap, batch, spec, mode, payload_cols)
    ins, upd, dele, exi = (a.value for a in (
        ChangeAction.INSERT, ChangeAction.UPDATE, ChangeAction.DELETE, ChangeAction.EXISTS))

    # The delta log is written FIRST; per-action counts (metrics) and the
    # changed-bucket set (copy-on-write scope) are then derived from the
    # small delta file instead of a separate aggregation over the join —
    # one fewer execution of the classify reduce per epoch, and the delta
    # log can no longer be lost in a crash after the commit (re-running a
    # committed epoch is a marker no-op, so a delta written after the
    # commit would never be retried).
    #
    # Crash window closed (VERDICT r02 #6): the delta is written under an
    # in-flight temp name and renamed to {delta_dir}/epoch=N only AFTER
    # the lake commit returns, so a visible epoch=N directory now IMPLIES
    # the epoch committed. A crash between commit and rename is healed on
    # retry (_finalize_logs in the committed-epoch no-op branch above).
    # Gating on lake.is_committed(N) remains a sound belt-and-braces for
    # external consumers but is no longer required for correctness.
    delta = j.where(F.col(ACTION_COL).isNotNull()).drop("__keep")
    if delta_dir is not None:
        tmp = _stage_epoch_log(delta, delta_dir, epoch_id)
        # the staged part files, not the dir: Spark's listing treats the
        # underscore-prefixed in-flight dir as hidden and warns "All paths
        # were ignored" when handed it (an empty delta still stages one
        # schema-only part file)
        delta = spark.read.parquet(
            *[os.path.join(tmp, f) for f in sorted(os.listdir(tmp)) if f.endswith(".parquet")]
        )
    counts: dict[str, int] = {}
    if spec.on_malformed == "quarantine":
        counts["quarantine"] = n_quarantined
    changed_set: set[int] = set()
    for b, a, c in delta.groupBy(BUCKET_COL, ACTION_COL).count().collect():
        counts[a] = counts.get(a, 0) + c
        if a in (ins, upd, dele):
            changed_set.add(b)
    changed = sorted(changed_set)

    if man.properties.get("write.mode", "cow") == "mor":
        # append-only: just the changed rows + tombstones, derived from
        # the (possibly re-read) delta log — no bucket rewrite
        mor_rows = delta.where(F.col(ACTION_COL).isin(ins, upd, dele)).select(
            *spec.key_cols,
            *payload_cols,
            BUCKET_COL,
            F.when(F.col(ACTION_COL) == dele, F.lit("delete"))
            .otherwise(F.lit("upsert"))
            .alias(MOR_OP_COL),
        )
        version = lake.commit_delta_buckets(
            mor_rows, changed, epoch_id, new_schema=new_schema, base_version=man.version
        )
    else:
        new_rows = (
            j.where(F.col(BUCKET_COL).isin(changed) & F.col("__keep"))
            .select(*spec.key_cols, *payload_cols, BUCKET_COL)
        )
        version = lake.commit_buckets(
            new_rows, changed, epoch_id, new_schema=new_schema, base_version=man.version
        )
    _finalize_logs(lake, delta_dir, epoch_id)
    return MergeResult(
        epoch_id=epoch_id,
        version=version,
        counts={k: int(v) for k, v in counts.items()},
        changed_buckets=sorted(changed),
        offsets=offsets,
        path="spark",
        fallback=fallback,
    )


# --------------------------------------------- small epochs on the driver

_TIE, _BAD = "__tie", "__bad"


def _read_events(files: list[str]) -> tuple[pa.Table, T.StructType] | None:
    """A landed epoch read by pyarrow (one chunk, typed as Spark's Arrow
    types), with the Spark schema ``spark.read.parquet`` gives it — or
    None when that schema is not known exactly without a Spark job: the
    files' schemas differ, or a file has no Spark footer key and a
    column's Arrow type is not Spark's own for the type Spark infers
    (nanosecond timestamps, unsigned ints, large strings, ...)."""
    # INT96 timestamps (Spark's default) at microseconds: the nanosecond
    # default overflows outside 1677–2262
    tables = [pq.read_table(f, coerce_int96_timestamp_unit="us") for f in files]
    first = tables[0].schema
    if any(not t.schema.equals(first) for t in tables[1:]):
        return None
    raw = (first.metadata or {}).get(SPARK_SCHEMA_KEY)
    try:
        schema = _as_nullable(
            T.StructType.fromJson(json.loads(raw)) if raw is not None else from_arrow_schema(first)
        )
        target = lookup.arrow_schema(schema)
        if raw is None and [(f.name, f.type) for f in target] != [(f.name, f.type) for f in first]:
            return None
        return pa.concat_tables(tables).cast(target).combine_chunks(), schema
    except (ValueError, TypeError, KeyError, PySparkException, pa.ArrowException):
        return None


# the ANSI errors of ``align_to_schema``'s casts: the Spark path would
# drop the failing event in LWW before it casts, so these fall back
_CAST_ERRORS = frozenset({"CAST_INVALID_INPUT", "CAST_OVERFLOW", "NUMERIC_VALUE_OUT_OF_RANGE"})
# compare and seq types the driver never orders or compares: Spark
# orders and compares NaN and -0.0 its own way, and Arrow has no
# equality kernel for arrays
_UNORDERED = (T.FloatType, T.DoubleType, T.ArrayType)


def _driver_table_rule(man, spec: MergeSpec, mode: MergeMode) -> str | None:
    """The driver gate's rules on the call and the table, checked from the
    manifest before any read: the name of the first that fails, or None."""
    if mode is not MergeMode.DELTA:
        return "mode"
    if man.properties.get("write.mode", "cow") != "mor":
        return "write.mode"
    if spec.on_malformed not in ("ignore", "quarantine", "fail"):
        return "on_malformed"  # the Spark path raises the typed error
    schema, keys = man.schema(), list(spec.key_cols)
    rule = lookup.types_rule(schema, keys)
    if rule is not None:
        return rule
    cmp = [schema[c].dataType for c in spec.compare_cols if c in schema.names and c not in keys]
    return "compare type" if any(isinstance(dt, _UNORDERED) for dt in cmp) else None


def _driver_events_rule(table_schema: T.StructType, ev_schema: T.StructType, spec: MergeSpec) -> str | None:
    """The driver gate's rules on the events' schema, checked once they
    are read: the name of the first that fails, or None."""
    keys = list(spec.key_cols)
    if any(c not in ev_schema.names for c in (*keys, spec.seq_col, spec.op_col)):
        return "columns"
    if evolve_schema(table_schema, ev_schema, spec) is not None:
        return "schema"
    rule = lookup.types_rule(ev_schema, keys)
    if rule is not None:
        return rule
    return "compare type" if isinstance(ev_schema[spec.seq_col].dataType, _UNORDERED) else None


def _cast_fields(t: pa.Table, target: pa.Schema) -> pa.Table:
    """``t`` with each column named in ``target`` cast to its type."""
    for f in target:
        t = t.set_column(t.schema.get_field_index(f.name), f, t[f.name].cast(f.type))
    return t


def _apply_epoch_driver(
    spark: SparkSession,
    lake: LakeTable,
    man,
    files: list[str],
    spec: MergeSpec,
    mode: MergeMode,
    epoch_id: int,
    delta_dir: str | None,
) -> "MergeResult | str":
    """A small merge-on-read DELTA epoch on the driver, from its landed
    files to its delta commit. Returns the ``MergeResult``, or the name
    of the gate rule that failed; nothing is written before the gate
    passes, so the Spark path then runs as if this had not been tried.

    Spark stays the only author of every per-row expression: the
    ``align_to_schema`` casts, ``key_hash``, ``bucket_expr``, the LWW
    tie-break (``payload_tie_break``) and ``_malformed_pred`` run as one
    projection over the events as a local relation — one Spark job, the
    ``toArrow()`` that returns at most ``lookup.DRIVER_EPOCH_MAX_ROWS``
    rows. Arrow then does the set operations (``lookup.lww_pick``,
    ``classify_delta``, ``epoch_stats``) against the current rows of the
    batch's keys from ``lookup._read_on_driver``, and pyarrow writes the
    delta files and the staged feed log. The commit
    (``commit_delta_buckets``), the log protocol and the compaction
    policy are the Spark path's own.

    The gate has no option. Each rule has one author and is checked as
    soon as what it needs is known, cheapest first, so a refused epoch
    pays for as little as possible:

    1. from the manifest (``_driver_table_rule``): the mode is DELTA, the
       table is merge-on-read, ``on_malformed`` is a known policy, the
       table passes ``lookup.types_rule`` (no float, double or timestamp
       key; every column ``lookup._arrow_exact``), and no compare column
       is float, double or an array;
    2. from the footers: the events hold at most
       ``lookup.DRIVER_EPOCH_MAX_ROWS`` rows (``epoch rows``), and their
       Spark schema is known without a Spark job (``event schema``,
       ``_read_events``);
    3. from the events' schema (``_driver_events_rule``): the key, seq
       and op columns are there, ``evolve_schema`` returns None, the
       events pass ``lookup.types_rule``, and the seq is not float,
       double or an array;
    4. from the projection: its casts all succeed (``cast``: an ANSI
       cast that fails on an event LWW would have dropped is no error on
       the Spark path; any other job failure is ``projection``), and no
       event is malformed;
    5. from the winners' key hashes: ``lookup.files_rule`` admits the
       pruned snapshot files with the events counted against
       ``lookup.DRIVER_MAX_ROWS``.

    A refusal by rule 4 or 5 has paid for the projection's job before
    the Spark path runs (BENCH.md, "The epoch gate", measures rule 5's)."""
    rule = _driver_table_rule(man, spec, mode)
    if rule is not None:
        return rule
    n_events = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
    if not files or n_events > lookup.DRIVER_EPOCH_MAX_ROWS:
        return "epoch rows"
    got = _read_events(files)
    if got is None:
        return "event schema"
    events, ev_schema = got
    table_schema = man.schema()
    rule = _driver_events_rule(table_schema, ev_schema, spec)
    if rule is not None:
        return rule

    keys = list(spec.key_cols)
    # LWW groups the events' own key values, as dedupe_lww does before
    # the align casts them
    raw_keys = [f"__raw_{i}" for i in range(len(keys))]
    ev = spark.createDataFrame(events, ev_schema)
    pre = ev.select(
        "*",
        payload_tie_break(ev, [c for c in ev.columns if c not in keys]).alias(_TIE),
        _malformed_pred(spec).alias(_BAD),
        *[F.col(k).alias(r) for k, r in zip(keys, raw_keys)],
    )
    batch = align_to_schema(pre, table_schema, (spec.seq_col, spec.op_col, _TIE, _BAD, *raw_keys))
    batch = batch.select(
        "*", key_hash(*keys).alias(KHASH_COL), bucket_expr(man.n_buckets, *keys).alias(BUCKET_COL)
    )
    try:
        rows = batch.toArrow()
    except PySparkException as e:
        return "cast" if (e.getCondition() or "").split(".")[0] in _CAST_ERRORS else "projection"
    except Py4JJavaError:
        return "projection"
    if pc.any(rows[_BAD]).as_py():
        return "malformed"

    target = lookup.arrow_schema(lookup.output_schema(man))
    winners = lookup.lww_pick(rows, raw_keys, [spec.seq_col, _TIE])
    winners = _cast_fields(winners.select([*target.names, spec.seq_col, spec.op_col, KHASH_COL]), target)
    touched = set(pc.unique(winners[BUCKET_COL]).to_pylist())
    hashes = sorted(pc.unique(winners[KHASH_COL]).to_pylist())
    entries = lake._prune_by_khash([e for e in man.files if e["bucket"] in touched], hashes)
    rule = lookup.files_rule(man, entries, extra_rows=n_events)
    if rule is not None:
        return rule

    snap = lookup._read_on_driver(lake.root, man, entries, hashes, winners.select(keys))
    payload_cols = [c for c in table_schema.names if c not in keys]
    cmp_cols = [c for c in spec.compare_cols if c in payload_cols]
    logged = lookup.classify_delta(winners, snap, keys, spec.op_col, cmp_cols, payload_cols)
    counts, changed, offsets = lookup.epoch_stats(winners, logged, spec.seq_col)

    # the same writes, in the same order, as the Spark path's
    if delta_dir is not None:
        _stage_epoch_log(
            logged.select([*keys, *payload_cols, BUCKET_COL, spec.seq_col, ACTION_COL]), delta_dir, epoch_id
        )
    if spec.on_malformed == "quarantine":
        # an empty split leaves no dead-letter dir for the epoch
        qroot = os.path.join(delta_dir if delta_dir is not None else lake.root, "_quarantine")
        for d in _epoch_log_paths(qroot, epoch_id):
            shutil.rmtree(d, ignore_errors=True)
        counts["quarantine"] = 0
    mor = logged.filter(pc.not_equal(logged[ACTION_COL], "exists"))
    op = pc.if_else(pc.equal(mor[ACTION_COL], "delete"), pa.scalar("delete"), pa.scalar("upsert"))
    mor = (
        mor.select([*keys, *payload_cols, BUCKET_COL])
        .append_column(MOR_OP_COL, op)
        .append_column(KHASH_COL, mor[KHASH_COL])
    )
    version = lake.commit_delta_buckets(mor, changed, epoch_id, base_version=man.version)
    _finalize_logs(lake, delta_dir, epoch_id)
    return MergeResult(
        epoch_id=epoch_id,
        version=version,
        counts=counts,
        changed_buckets=changed,
        offsets=offsets,
        path="driver",
    )
