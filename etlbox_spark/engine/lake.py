"""From-scratch Iceberg-*semantics* lake tables on plain Parquet (M0).

No Iceberg/Delta/Hudi jars ship with this PySpark install (SURVEY.md §1.2),
so the table format is ours. It provides exactly the guarantees the engine
needs (BASELINE.json:6,14):

* **Atomic commits with optimistic concurrency** — a snapshot is a JSON
  manifest ``meta/v{N}.json`` whose *creation* (a hard-link of a fully
  fsynced temp file, i.e. create-exclusive) IS the commit, exactly the
  Delta paper's log protocol: at most one writer wins each version; the
  loser rebases (epoch commits over logical-no-op compactions) or
  recomputes (maintenance), or fails loudly with
  ``ConcurrentCommitError`` — never a silent lost update. A crash
  anywhere before the link leaves the previous snapshot intact (orphan
  data files are vacuum's problem). ``meta/_latest`` is a monotonic
  floor hint for readers, not the commit point.
* **Concurrency model** — ONE ingest writer (the epoch runner) plus any
  number of concurrent maintenance jobs (``compact``/``vacuum``). An
  epoch commit losing the CAS to a compaction rebases and retries
  (compaction never changes logical content, so rows classified against
  the older snapshot stay exact); racing epoch writers resolve the same
  epoch id idempotently and conflict loudly on different ids.
* **Idempotent / exactly-once epochs** — each manifest carries the set of
  ``committed_epochs``; committing an epoch already in the set is a no-op,
  so replay after failure converges to the identical table state.
* **Copy-on-write at bucket granularity** — rows are hash-bucketed by the
  logical key; a commit rewrites only the buckets it touches, untouched
  buckets' files carry over by reference. This is what keeps a merge of a
  small epoch cheap on a 100 TB table: the scan and the write are pruned
  to touched buckets (partition pruning lives in the manifest, not in
  directory listing).
* **Schema evolution** — the manifest stores every schema version; each
  data file records the schema version it was written under. Reads align
  old files to the current schema (missing columns → null backfill,
  widened types → cast), so column-add and type-widen never rewrite data.
* **Time travel (for tests)** — any ``meta/v{N}.json`` can be read back.

Commit protocol follows the Delta Lake paper's optimistic protocol
(PAPERS.md): data files first, then a create-exclusive metadata commit
with conflict detection (Spark executors write data files but never
metadata).

Layout::

    <root>/
      meta/v1.json  v2.json ...   # immutable commit records (delta or full)
      meta/v16.ckpt.json ...      # periodic full-state checkpoints (derived)
      meta/_latest                # pointer file, atomic-rename'd
      data/c{version}-e{epoch}-{uuid6}/bucket_p=<K>/part-*.parquet

**Metadata scales like the Delta log, not like a single document** (r05,
VERDICT r04 #1): each commit record ``v{N}.json`` holds only that
commit's ACTIONS — files added, buckets replaced, the epoch marked, a
schema added — so commit serialization is O(commit), not O(#files);
at 10^5–10^6 live files the old single-JSON manifest serialized
megabytes (plus every file's inline bloom) per commit and re-serialized
them on every CAS retry. Snapshot state is reconstructed by replaying
records forward from the nearest full checkpoint: every
``meta.checkpoint.interval``-th commit (default 16) writes a sidecar
``v{N}.ckpt.json`` with the full state (Iceberg manifest-list / Delta
checkpoint-parquet analog), vacuum writes one for the oldest version of
each retained run before dropping older records (metadata compaction),
and a bounded in-process cache keyed by the record file's identity
(inode + mtime) makes the common case — re-reading the snapshot you
just committed — free. Wholesale operations (create, rollback,
rebucket, recluster) write full records; everything else is a delta,
whose successor state writers derive exactly as readers replay it
(``_delta_successor``).

Data files keep ``bucket`` as a *regular* column (single-valued per file,
so parquet row-group stats make bucket filters free) while the write is
directory-partitioned on a ``bucket_p`` copy — this lets the manifest map
file → bucket without relying on Spark partition-discovery over mixed
directory layouts.
"""

from __future__ import annotations

import base64
import bisect
import contextlib
import json
import os
import threading
import uuid
import zlib
from dataclasses import dataclass, field, fields as dataclass_fields, replace as dataclass_replace
from functools import lru_cache
from typing import Any

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import from_arrow_schema

BUCKET_COL = "bucket"
_WRITE_PARTITION_COL = "bucket_p"
# merge-on-read engine columns, stored as regular columns in DELTA files
# only (base files never carry them)
MOR_OP_COL = "__op"        # 'upsert' | 'delete' (tombstone)
MOR_ORDER_COL = "__order"  # manifest version the delta committed at
# age past which an attempt dir (change-log ``_inflight-*``) or a writer
# marker (``meta/_inflight.*``) counts as a crashed writer's leftover:
# change-log expiry and the maintenance-feed heal sweep such attempts,
# vacuum sweeps such markers by default, and fsck warns about them
STALE_ATTEMPT_S = 86400.0
# per-file key-hash stats column (SURVEY.md §4 partition pruning): every
# data file stores xxhash64(key) as a regular column, so the parquet
# footer yields exact min/max key-hash per file for free at write time.
# The manifest records them; point/range key probes then skip files whose
# hash range can't contain the key — the file-level pruning lever below
# bucket granularity (MoR-heavy buckets keep many small delta files, and
# a point lookup should not read the ones that can't hold its key).
# Readers never select the column (explicit-schema reads prune it).
KHASH_COL = "__khash"

# Per-file Bloom filter over the key hashes (Iceberg puffin / Parquet
# bloom analog). Min/max hash ranges prune nothing on a MoR delta
# backlog: a delta file holding even ~100 uniformly-hashed keys spans
# nearly the whole 64-bit range, so every point probe reads every delta
# of its bucket. A Bloom has no such geometry problem — membership is
# per-key — so ``lookup_keys`` skips exactly the delta files that don't
# contain the probed key (no false negatives by construction; false
# positives only cost a wasted read). Built for DELTA files by default
# (small by MoR construction → reading back one int64 column is
# trivial; base files are read by the probe anyway and at 100 TB would
# make the write path re-read GBs), stored inline in the manifest
# (zlib+b64, ≤ 8 KiB raw, sized at ~10 bits/key, capped — compaction
# drops the entries, so the manifest stays bounded).
_BLOOM_BITS_PER_KEY = 10
_BLOOM_K = 7  # optimal hash count at 10 bits/key (fp ≈ 0.9%)
_BLOOM_MIN_BITS = 1 << 10
_BLOOM_MAX_BITS = 1 << 16  # 8 KiB raw ≈ 6.5k keys; larger files skip


def _bloom_build(hashes: "list[int]") -> dict[str, Any] | None:
    """Deterministic Bloom filter over 64-bit key hashes. Double
    hashing from the xxhash64 value itself (low/high 32-bit halves) —
    no extra hash passes, identical bits regardless of row order."""
    uniq = {h & 0xFFFFFFFFFFFFFFFF for h in hashes if h is not None}
    if not uniq:
        return None
    m = 1 << max(
        _BLOOM_MIN_BITS.bit_length() - 1,
        (len(uniq) * _BLOOM_BITS_PER_KEY - 1).bit_length(),
    )
    if m > _BLOOM_MAX_BITS:
        return None  # file too large for a bounded filter; min/max stays
    buf = bytearray(m >> 3)
    mask = m - 1
    for u in uniq:
        h1 = u & 0xFFFFFFFF
        h2 = (u >> 32) | 1  # odd stride covers the power-of-two table
        for i in range(_BLOOM_K):
            b = (h1 + i * h2) & mask
            buf[b >> 3] |= 1 << (b & 7)
    return {
        "m": m,
        "k": _BLOOM_K,
        "z": base64.b64encode(zlib.compress(bytes(buf), 6)).decode("ascii"),
    }


@lru_cache(maxsize=4096)
def _bloom_buf(z: str) -> bytes:
    """Decompressed bloom bitmap, memoized on the compressed payload
    itself (ADVICE r04): a wide probe set over a deep delta backlog used
    to base64+zlib-decode every entry's filter on EVERY read() call —
    pure driver latency. The payload string is immutable and unique per
    filter, so it is its own cache key; 4096 × ≤8 KiB bounds the cache
    at ~32 MiB."""
    return zlib.decompress(base64.b64decode(z))


def _bloom_may_contain(bloom: dict[str, Any], hashes: "list[int]") -> bool:
    """True iff ANY of ``hashes`` may be a member. No false negatives."""
    m, k = int(bloom["m"]), int(bloom["k"])
    buf = _bloom_buf(bloom["z"])
    mask = m - 1
    for h in hashes:
        u = h & 0xFFFFFFFFFFFFFFFF
        h1 = u & 0xFFFFFFFF
        h2 = (u >> 32) | 1
        for i in range(k):
            b = (h1 + i * h2) & mask
            if not (buf[b >> 3] >> (b & 7)) & 1:
                break
        else:
            return True
    return False


class ConcurrentCommitError(RuntimeError):
    """A commit lost the manifest CAS to a conflicting concurrent commit
    and could not be safely rebased. The table is untouched by the loser;
    re-running the losing job against the new snapshot is always safe."""


def _validate_properties(props: dict[str, Any], schema_names: list[str]) -> None:
    """Fail fast on a property the write path would choke on LATER (a
    typo'd sort column otherwise surfaces as an AnalysisException deep
    inside the next epoch commit). ``write.*`` / ``compact.*`` are
    reserved engine namespaces — unknown keys there are almost certainly
    typos and raise; anything else is free-form user metadata."""
    known = {
        "write.mode",
        "write.sort.cols",
        "write.parquet.block.size",
        "write.bloom",
        "compact.max.deltas.per.bucket",
        "meta.checkpoint.interval",
    }
    for k, v in props.items():
        if (
            k.startswith("write.") or k.startswith("compact.") or k.startswith("meta.")
        ) and k not in known:
            raise ValueError(f"unknown engine table property {k!r} (known: {sorted(known)})")
        if k == "write.mode" and v not in ("cow", "mor"):
            raise ValueError(f"write.mode must be 'cow' or 'mor', got {v!r}")
        if k == "write.bloom" and v not in ("delta", "all", "none"):
            raise ValueError(f"write.bloom must be 'delta', 'all' or 'none', got {v!r}")
        if k == "bucketing" and v not in ("khash", "custom"):
            raise ValueError(f"bucketing must be 'khash' or 'custom', got {v!r}")
        if k.startswith("tag."):
            if len(k) <= 4:
                raise ValueError("tag name must be non-empty")
            try:
                n = int(v)
            except (TypeError, ValueError):
                raise ValueError(f"{k} must be a snapshot version int, got {v!r}") from None
            if n < 0:
                raise ValueError(f"{k} must be >= 0, got {v!r}")
        if k == "write.sort.cols":
            spec = str(v).strip()
            if spec not in ("none", "khash"):
                for c in (c.strip() for c in spec.split(",")):
                    if c not in schema_names:
                        raise ValueError(
                            f"write.sort.cols column {c!r} not in table schema {schema_names}"
                        )
        if k in (
            "write.parquet.block.size",
            "compact.max.deltas.per.bucket",
            "meta.checkpoint.interval",
        ):
            try:
                n = int(v)
            except (TypeError, ValueError):
                raise ValueError(f"{k} must be an integer, got {v!r}") from None
            if n < 0 or (
                k in ("write.parquet.block.size", "meta.checkpoint.interval") and n == 0
            ):
                raise ValueError(f"{k} must be positive, got {v!r}")


def _atomic_write(path: str, payload: str) -> None:
    tmp = f"{path}.tmp.{uuid.uuid4().hex[:8]}"
    with open(tmp, "w", encoding="utf-8") as f:
        f.write(payload)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)  # atomic on POSIX


@dataclass
class Manifest:
    version: int
    key_cols: list[str]
    n_buckets: int
    current_schema_version: int
    # schema_version (str key, JSON) -> StructType.jsonValue()
    schemas: dict[str, Any]
    # file entries: {path (rel to root), bucket, rows, schema_version}
    files: list[dict[str, Any]]
    committed_epochs: list[int]
    parent: int | None = None
    properties: dict[str, Any] = field(default_factory=dict)
    # what produced this snapshot: create | epoch | epoch-delta | compact
    # | rebucket | truncate. Conflict resolution keys off it: "compact"
    # is the only logical no-op an epoch commit may rebase across.
    # (Missing in pre-r04 manifests → dataclass default "epoch", which is
    # conservative: rebase refuses rather than assumes.)
    operation: str = "epoch"

    def schema(self, version: int | None = None) -> T.StructType:
        v = version if version is not None else self.current_schema_version
        return T.StructType.fromJson(self.schemas[str(v)])

    def to_json(self, extra: "dict | None" = None) -> str:
        # declared fields only: committers ride the per-commit delta
        # record on the instance as a ``_delta`` attribute, which must
        # never leak into a serialized full state. ``extra`` merges
        # record-level keys (e.g. change_token) — _publish routes its
        # full-record writes through HERE so the wire format has exactly
        # one author (the first drift between hand-copied serializers
        # was a real bug, see _rewrite_buckets' history)
        d = {f.name: getattr(self, f.name) for f in dataclass_fields(self)}
        d["committed_epochs"] = _epoch_runs(self.committed_epochs)
        d.update(extra or {})
        return json.dumps(d, sort_keys=True, indent=1)

    @staticmethod
    def from_json(s: str) -> "Manifest":
        return _manifest_from_dict(json.loads(s))

    @property
    def total_rows(self) -> int:
        return sum(f["rows"] for f in self.files)


_CKPT_INTERVAL_DEFAULT = 16

# Reconstructed snapshots, keyed by the COMMIT RECORD FILE's identity
# (root, version, inode, mtime_ns) — immutable once published, so a hit
# is always exact, and a same-path table recreated after a wipe (fixed
# contract scratch dirs) misses on the new file's inode. Shared across
# LakeTable instances and threads; manifests are treated as immutable
# after construction (commit paths always build NEW lists/dicts).
_MANIFEST_CACHE: "dict[tuple, Manifest]" = {}
_MANIFEST_CACHE_LOCK = threading.Lock()
_MANIFEST_CACHE_MAX = 256


def _cache_get(key: tuple) -> "Manifest | None":
    with _MANIFEST_CACHE_LOCK:
        return _MANIFEST_CACHE.get(key)


def _cache_put(key: tuple, m: Manifest) -> None:
    with _MANIFEST_CACHE_LOCK:
        if key not in _MANIFEST_CACHE:
            while len(_MANIFEST_CACHE) >= _MANIFEST_CACHE_MAX:
                _MANIFEST_CACHE.pop(next(iter(_MANIFEST_CACHE)))
            _MANIFEST_CACHE[key] = m


def _is_delta_record(d: dict[str, Any]) -> bool:
    # tolerate a corrupt record that parses to a non-object: it is "not
    # a delta record", so the caller's full-record parse raises the
    # loud, containable TypeError instead of an AttributeError here
    return isinstance(d, dict) and d.get("record") == "delta"


def _epoch_runs(eps: "list[int]") -> "list[list[int]]":
    """Wire encoding of ``committed_epochs``: inclusive ``[lo, hi]``
    runs. Epochs are near-contiguous by construction (a binlog tail
    marks them densely; only rollback carves a gap), so a checkpoint or
    full record carries O(#gaps) ints instead of O(#epochs) — at
    10^10-event scale (10^5+ epochs) the flat list was the last
    unbounded-per-checkpoint component of the metadata layer. Input
    must be sorted unique (the in-memory invariant)."""
    runs: "list[list[int]]" = []
    for e in eps:
        if runs and e == runs[-1][1] + 1:
            runs[-1][1] = e
        else:
            runs.append([int(e), int(e)])
    return runs


_MAX_EPOCHS_FLAT = 50_000_000  # far above any real history; see below


def _epochs_flat(v: "list") -> "list[int]":
    """Parse the ``[lo, hi]`` run wire shape back to the in-memory flat
    sorted list. Any other item (a bare int included) and malformed runs
    raise ValueError LOUDLY: a tampered record like ``[[0, 10**15]]``
    must fail the parse, not OOM the driver materializing the range."""
    out: "list[int]" = []
    total = 0
    for item in v:
        if not isinstance(item, list) or len(item) != 2:
            raise ValueError(f"malformed epoch run {item!r:.80}")
        lo, hi = int(item[0]), int(item[1])
        if hi < lo:
            raise ValueError(f"malformed epoch run [{lo}, {hi}] (hi < lo)")
        total += hi - lo + 1
        if total > _MAX_EPOCHS_FLAT:
            raise ValueError(
                f"epoch history implausibly large (> {_MAX_EPOCHS_FLAT}) — corrupt run bounds?"
            )
        out.extend(range(lo, hi + 1))
    out.sort()
    return out


_MANIFEST_FIELD_NAMES = frozenset(f.name for f in dataclass_fields(Manifest))


def _manifest_from_dict(d: dict[str, Any]) -> Manifest:
    """Parse a full-state record/checkpoint, ignoring annotation keys
    (e.g. ``change_token`` on an emitting rollback) — full records may
    carry commit metadata beyond the state fields."""
    if not isinstance(d, dict):
        # corrupt record that parsed to a JSON non-object: raise the
        # loud error type every caller (engine + fsck) already contains
        raise TypeError(f"manifest record is not a JSON object: {type(d).__name__}")
    kw = {k: v for k, v in d.items() if k in _MANIFEST_FIELD_NAMES}
    kw["committed_epochs"] = _epochs_flat(kw.get("committed_epochs", []))
    return Manifest(**kw)


def _apply_delta_record(parent: Manifest, rec: dict[str, Any]) -> Manifest:
    """Materialize one commit on top of its parent state — the ONLY
    successor rule for delta commits: readers replay records through it
    and writers derive their new state through it (``_delta_successor``).
    Anything wholesale (create/rollback/rebucket/recluster/revert) is a
    full record and never reaches this function."""
    if int(rec["parent"]) != parent.version:
        raise RuntimeError(
            f"manifest chain corrupt: record v{rec['version']} claims parent "
            f"v{rec['parent']} but was applied to v{parent.version}"
        )
    if rec.get("truncate"):
        files: list[dict[str, Any]] = []
    else:
        rb = rec.get("remove_buckets")
        base = (
            parent.files
            if rb is None
            else [e for e in parent.files if e["bucket"] not in set(rb)]
        )
        add = rec.get("add") or []
        files = base + add if add else (base if rb is not None else parent.files)
    epochs = parent.committed_epochs
    if rec.get("epoch") is not None:
        epochs = list(epochs)
        bisect.insort(epochs, int(rec["epoch"]))
    schemas = parent.schemas
    if rec.get("schema_add"):
        schemas = dict(schemas)
        schemas.update(rec["schema_add"])
    return Manifest(
        version=int(rec["version"]),
        key_cols=parent.key_cols,
        n_buckets=parent.n_buckets,
        current_schema_version=int(
            rec.get("current_schema_version", parent.current_schema_version)
        ),
        schemas=schemas,
        files=files,
        committed_epochs=epochs,
        parent=int(rec["parent"]),
        properties=(
            rec["properties"] if rec.get("properties") is not None else parent.properties
        ),
        operation=rec["operation"],
    )


def _delta_successor(m: Manifest, operation: str, **fields: Any) -> Manifest:
    """The successor of ``m`` under one delta commit: build the commit's
    record (every key present, unused ones at their defaults), derive the
    new state exactly as a cold reader replays it (``_apply_delta_record``)
    and attach the record for ``_publish`` to write. The writer's primed
    cache entry and every later reader's reconstruction therefore come
    from the same record by the same rule."""
    rec = {
        "record": "delta",
        "version": m.version + 1,
        "parent": m.version,
        "operation": operation,
        "add": [],
        "remove_buckets": None,
        "epoch": None,
        "schema_add": None,
        "properties": None,
        **fields,
    }
    nm = _apply_delta_record(m, rec)
    nm._delta = rec
    return nm


# Spark stamps the exact logical schema of every DataFrame it writes into
# the parquet footer under this key — and reads it back preferentially
# during its own schema inference, so the footer value IS the schema a
# spark.read probe of the same dir would return.
SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def write_arrow_file(t: pa.Table, path: str, row_group_size: int | None = None) -> None:
    """Write ``t`` as one parquet file that Spark reads as one of its own:
    the footer carries Spark's schema key (every field nullable, as a
    file scan reports it), so ``merge._dir_schema_json`` and schema
    inference see Spark's types, not a re-inference from parquet types.
    ``t``'s columns must already hold Spark's Arrow types
    (``to_arrow_schema``): timestamps in UTC microseconds, which pyarrow
    stores as INT64 instants that Spark reads back exactly."""
    spark_schema = T.StructType(
        [T.StructField(f.name, f.dataType, True) for f in from_arrow_schema(t.schema).fields]
    )
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(
        t.replace_schema_metadata({SPARK_SCHEMA_KEY: spark_schema.json().encode("utf-8")}),
        path,
        compression="snappy",
        row_group_size=row_group_size,
    )


def _write_arrow_buckets(
    t: pa.Table, out: str, sort_cols: list[str], block_size: int | None
) -> None:
    """The Arrow writer of ``LakeTable._write_data``: the frame writer's
    layout (one file per bucket under ``bucket_p=K``, rows ordered by
    ``sort_cols`` ascending with NULLs first) for a table that already
    carries Spark's ``__khash``. Row order within a file is a pruning
    layout, not a contract, so a nested sort column is skipped rather
    than given an Arrow ordering of its own."""
    if KHASH_COL not in t.column_names:
        raise ValueError(f"an Arrow data write needs Spark's {KHASH_COL!r} column")
    for b in sorted(pc.unique(t[BUCKET_COL]).to_pylist()):
        part = t.filter(pc.equal(t[BUCKET_COL], b))
        keys = [(c, "ascending") for c in sort_cols if not pa.types.is_nested(part.schema.field(c).type)]
        if keys:
            part = part.take(pc.sort_indices(part, sort_keys=keys, null_placement="at_start"))
        # ``write.parquet.block.size`` is bytes (parquet-mr); pyarrow
        # sizes row groups in rows — scale by the in-memory row width
        rows = None
        if block_size:
            rows = max(1, block_size * part.num_rows // max(1, part.nbytes))
        name = f"part-00000-{uuid.uuid4()}.c000.snappy.parquet"
        write_arrow_file(part, os.path.join(out, f"{_WRITE_PARTITION_COL}={b}", name), rows)


def _write_frame(
    df: DataFrame, out: str, key_cols: list[str], sort_cols: list[str], block_size: Any
) -> None:
    """The Spark writer of ``_write_data``; its Arrow twin is
    ``_write_arrow_buckets``."""
    from ..functions.hashing import key_hash

    staged = (
        # range-partition on bucket: ~one reducer per bucket (hash
        # repartition collides buckets onto shared reducers, leaving
        # stragglers + idle slots), so partitionBy emits one file per
        # bucket per commit and the manifest stays compact
        df.withColumn(KHASH_COL, key_hash(*key_cols))
        .withColumn(_WRITE_PARTITION_COL, F.col(BUCKET_COL))
        .repartitionByRange(F.col(BUCKET_COL))
    )
    if sort_cols:
        # leading partition col satisfies the file writer's required
        # ordering, so this one sort replaces (not stacks on) the
        # writer's own dynamic-partition sort
        staged = staged.sortWithinPartitions(_WRITE_PARTITION_COL, *sort_cols)
    writer = (
        # overwrite: until the manifest references this directory it
        # is garbage by definition, and a crashed attempt leaves one
        # behind — error-if-exists would make the RETRY of a failed
        # epoch fail (found by tests/test_crash_injection.py)
        staged.write.mode("overwrite").partitionBy(_WRITE_PARTITION_COL)
    )
    if block_size:
        writer = writer.option("parquet.block.size", str(block_size))
    writer.parquet(out)


def align_to_schema(
    df: DataFrame, schema: T.StructType, extra_cols: tuple[str, ...] = ()
) -> DataFrame:
    """Project ``df`` onto ``schema``: columns present are cast to the
    target type (type-widen), absent ones land as typed nulls (column
    add). ``extra_cols`` pass through unchanged (engine columns). This is
    what lets an evolved table merge batches of ANY older generation and
    vice versa — pure column expressions, no Python in the row path."""
    cols = [
        (
            F.col(f.name).cast(f.dataType)
            if f.name in df.columns
            else F.lit(None).cast(f.dataType)
        ).alias(f.name)
        for f in schema.fields
    ]
    return df.select(*cols, *[F.col(c) for c in extra_cols if c in df.columns])


class LakeTable:
    """A single lake table rooted at a directory. Single-writer."""

    def __init__(self, root: str):
        self.root = root

    # ---------------------------------------------------------------- meta
    @property
    def _meta_dir(self) -> str:
        return os.path.join(self.root, "meta")

    @property
    def _data_dir(self) -> str:
        return os.path.join(self.root, "data")

    def _pointer_path(self) -> str:
        return os.path.join(self._meta_dir, "_latest")

    def exists(self) -> bool:
        return os.path.exists(self._pointer_path())

    def latest_version(self) -> int:
        # the pointer is a FLOOR, not the commit point: a writer can
        # crash (or lose a benign pointer race) between the manifest
        # link — which IS the commit — and the pointer update, so probe
        # past it. Committed versions are dense (each CAS winner
        # publishes exactly parent+1), so probing upward costs O(lag)
        # stats and lag is ~0 outside a crash window — no O(#manifests)
        # directory listing per call. Raises FileNotFoundError after
        # drop() (pointer gone).
        with open(self._pointer_path(), encoding="utf-8") as f:
            v = int(f.read().strip())
        while os.path.exists(os.path.join(self._meta_dir, f"v{v + 1}.json")):
            v += 1
        return v

    def _vpath(self, v: int) -> str:
        return os.path.join(self._meta_dir, f"v{v}.json")

    def _ckpt_path(self, v: int) -> str:
        return os.path.join(self._meta_dir, f"v{v}.ckpt.json")

    def _load_record(self, v: int) -> dict[str, Any]:
        with open(self._vpath(v), encoding="utf-8") as f:
            return json.load(f)

    def _record_operation(self, v: int) -> str:
        """Operation of commit ``v`` straight off its record — both record
        shapes carry it, no state reconstruction (used by the rebase
        validator over intervening commits)."""
        return str(self._load_record(v)["operation"])

    def manifest(self, version: int | None = None) -> Manifest:
        if version is not None:
            v = int(version)
            # one retry absorbs the benign race where a concurrent vacuum
            # compacts metadata mid-walk (it writes the replacement
            # checkpoint BEFORE deleting older records, so the retry
            # lands on the checkpoint)
            try:
                return self._materialize(v)
            except FileNotFoundError:
                if not os.path.exists(self._vpath(v)):
                    raise  # the version itself is gone — not retained
                return self._materialize(v)
        # latest: the caller wants THE CURRENT snapshot, not a specific
        # version — if the one we resolved expires between resolution and
        # open (an aggressive concurrent vacuum under a fast-committing
        # table), the correct answer is the NEWER latest: re-resolve and
        # chase it (found by the r05 multi-writer soak; bounded retries,
        # then loud)
        last_err: FileNotFoundError | None = None
        for _attempt in range(5):
            v = int(self.latest_version())
            try:
                return self._materialize(v)
            except FileNotFoundError as e:
                last_err = e
                if os.path.exists(self._vpath(v)):
                    return self._materialize(v)  # mid-walk compaction race
        raise last_err  # type: ignore[misc]

    def _materialize(self, v: int) -> Manifest:
        """Reconstruct snapshot state at version ``v``: walk commit
        records down to the nearest full state (a cached snapshot, a
        ``v{c}.ckpt.json`` sidecar, or a full record), then replay the
        delta records forward. O(chain) where chain ≤ the checkpoint
        interval in steady state; every state touched lands in the
        cache, so repeated reads — including the publish-then-read
        pattern of every commit — are dict hits."""
        st = os.stat(self._vpath(v))  # FileNotFoundError => not retained
        key = (self.root, v, st.st_ino, st.st_mtime_ns)
        hit = _cache_get(key)
        if hit is not None:
            return hit
        keys: dict[int, tuple] = {v: key}
        chain: list[dict[str, Any]] = []
        cur_v, cur_rec = v, self._load_record(v)
        base: Manifest | None = None
        while _is_delta_record(cur_rec):
            ck = self._ckpt_path(cur_v)
            if os.path.exists(ck):
                with open(ck, encoding="utf-8") as f:
                    base = _manifest_from_dict(json.load(f))
                break
            chain.append(cur_rec)
            pv = int(cur_rec["parent"])
            if pv >= cur_v:
                # the protocol writes parent = the version rebased on,
                # always strictly smaller — a non-decreasing parent is
                # corrupt metadata and would loop this walk forever
                raise RuntimeError(
                    f"corrupt metadata: record v{cur_v} declares parent "
                    f"v{pv} (parents must strictly decrease)"
                )
            try:
                pst = os.stat(self._vpath(pv))
            except FileNotFoundError:
                # the parent record was vacuumed: metadata compaction
                # guarantees a checkpoint at or above it for every
                # retained version — so it must be right here
                ck = self._ckpt_path(pv)
                if os.path.exists(ck):
                    with open(ck, encoding="utf-8") as f:
                        base = _manifest_from_dict(json.load(f))
                    break
                raise FileNotFoundError(
                    f"cannot reconstruct snapshot v{v}: record v{pv} is gone "
                    "and no checkpoint covers it (vacuum raced or metadata "
                    "corrupt)"
                ) from None
            pkey = (self.root, pv, pst.st_ino, pst.st_mtime_ns)
            keys[pv] = pkey
            cached = _cache_get(pkey)
            if cached is not None:
                base = cached
                break
            cur_v, cur_rec = pv, self._load_record(pv)
        if base is None:  # the walk ended on a full record
            base = _manifest_from_dict(cur_rec)
        bk = keys.get(base.version)
        if bk is not None:
            _cache_put(bk, base)
        m = base
        for rec in reversed(chain):
            m = _apply_delta_record(m, rec)
            k = keys.get(m.version)
            if k is not None:
                _cache_put(k, m)
        return m

    def _publish(self, m: Manifest, extra: "dict[str, Any] | None" = None) -> bool:
        """Optimistic-CAS publish: creating ``meta/v{N}.json`` IS the
        commit. The content is fully written + fsynced to a temp file,
        then hard-linked into place — create-exclusive, so at most ONE
        writer wins each version; the loser gets ``False`` and must
        rebase or recompute. The ``_latest`` pointer is advanced
        best-effort afterwards (readers treat it as a floor).

        What hits disk is the commit's DELTA RECORD when ``m`` came from
        ``_delta_successor`` (``m._delta`` — O(commit) bytes), else the
        full state (create/rollback/``_rewrite_table``), with ``extra``'s
        record-level keys (rollback's ``change_token``; a delta record
        carries its keys itself). The in-memory
        ``m`` is primed into the snapshot cache either way (for a delta
        commit it is already the reader's replay of that record), so the
        winner's next ``manifest()`` is a dict hit; every
        ``meta.checkpoint.interval`` delta commits a full
        ``v{N}.ckpt.json`` sidecar is written (derived data —
        best-effort, a crash just lengthens one chain)."""
        os.makedirs(self._meta_dir, exist_ok=True)
        delta = getattr(m, "_delta", None)
        if delta is not None:
            payload = json.dumps(delta, sort_keys=True)
        else:
            payload = m.to_json(extra=extra)
        mpath = self._vpath(m.version)
        tmp = f"{mpath}.tmp.{uuid.uuid4().hex[:8]}"
        with open(tmp, "w", encoding="utf-8") as f:
            f.write(payload)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, mpath)  # atomic create-exclusive on POSIX
        except FileExistsError:
            return False
        finally:
            os.remove(tmp)
        with contextlib.suppress(OSError):
            st = os.stat(mpath)
            _cache_put((self.root, m.version, st.st_ino, st.st_mtime_ns), m)
        if delta is not None:
            interval = int(
                m.properties.get("meta.checkpoint.interval", _CKPT_INTERVAL_DEFAULT)
            )
            if m.version % max(interval, 1) == 0:
                with contextlib.suppress(OSError):
                    _atomic_write(self._ckpt_path(m.version), m.to_json())
        had_pointer = os.path.exists(self._pointer_path())
        try:
            cur = -1
            if had_pointer:
                with open(self._pointer_path(), encoding="utf-8") as f:
                    cur = int(f.read().strip())
            if m.version > cur:
                _atomic_write(self._pointer_path(), str(m.version))
        except OSError:
            # once a pointer exists it is only a floor hint and the
            # linked manifest is the truth — but the FIRST publish must
            # fail loudly: without meta/_latest the table neither
            # exists() nor load()s, yet a create() retry would hit the
            # stale-metadata guard (v0.json present) and wedge
            if not had_pointer:
                raise
        return True

    # -------------------------------------------------------------- create
    @staticmethod
    def create(
        root: str,
        schema: T.StructType,
        key_cols: list[str],
        n_buckets: int = 32,
        properties: dict[str, Any] | None = None,
    ) -> "LakeTable":
        """CreateTableTask analog (SURVEY.md §2.10). Data schema must NOT
        include the bucket column — the engine derives it from key_cols."""
        if BUCKET_COL in schema.names:
            raise ValueError(f"schema must not contain reserved column {BUCKET_COL!r}")
        for k in key_cols:
            if k not in schema.names:
                raise ValueError(f"key column {k!r} not in schema")
        _validate_properties(properties or {}, list(schema.names))
        t = LakeTable(root)
        if t.exists():
            raise FileExistsError(f"table already exists at {root}")
        if os.path.isdir(t._meta_dir):
            manifests = [
                fn for fn in os.listdir(t._meta_dir)
                if fn.startswith("v") and fn.endswith(".json")
            ]
            # self-heal a HARD-crashed create (power loss between the
            # v0.json link and the first pointer write): no pointer means
            # create() never returned, so no caller could have committed
            # data — the orphan v0 is safe to discard and re-create with
            # THIS call's schema. Conditions, ALL required:
            # * v0 is the sole manifest (anything past v0 without a
            #   pointer is a dropped table), AND
            # * no ``_dropped`` marker — drop() leaves one precisely so a
            #   table that was deliberately dropped at v0 is
            #   distinguishable from a crashed create (ADVICE r04) and
            #   refuses like any other dropped table, AND
            # * v0 has AGED past any live creator's link→pointer window:
            #   healing a fresh v0 would delete a CONCURRENT create's
            #   just-won CAS out from under it. The mtime window is a
            #   NARROWING, not a proof — a creator suspended >60 s
            #   between link and pointer write is indistinguishable from
            #   a crash, and after a heal its pointer write would
            #   publish the healer's v0 (documented residue; the window
            #   is microseconds in practice).
            if manifests == ["v0.json"] and not os.path.exists(
                os.path.join(t._meta_dir, "_dropped")
            ):
                p0 = os.path.join(t._meta_dir, "v0.json")
                import time as _time

                with contextlib.suppress(OSError):
                    if _time.time() - os.path.getmtime(p0) > 60.0:
                        os.remove(p0)
                        with contextlib.suppress(OSError):
                            os.remove(os.path.join(t._meta_dir, "v0.ckpt.json"))
                        manifests = []
            # a dropped table leaves meta/v*.json + data behind (drop
            # removes only the pointer); creating a NEW table over them
            # would publish v0 while manifest(v) time travel still
            # resolves the OLD table's manifests and data — refuse
            # instead of crossing table lifetimes
            if manifests:
                raise FileExistsError(
                    f"stale table metadata under {t._meta_dir}; remove the old "
                    "table's meta/data dirs (or choose a fresh root) before create()"
                )
        os.makedirs(t._data_dir, exist_ok=True)
        m = Manifest(
            version=0,
            key_cols=list(key_cols),
            n_buckets=n_buckets,
            current_schema_version=1,
            schemas={"1": schema.jsonValue()},
            files=[],
            committed_epochs=[],
            parent=None,
            properties=properties or {},
            operation="create",
        )
        if not t._publish(m):
            raise FileExistsError(f"concurrent create of table at {root}")
        # a leftover _dropped marker on an otherwise-clean meta dir (the
        # operator wiped the old manifests but not the marker) must not
        # taint the next drop/create cycle of the NEW table
        with contextlib.suppress(OSError):
            os.remove(os.path.join(t._meta_dir, "_dropped"))
        return t

    @staticmethod
    def load(root: str) -> "LakeTable":
        t = LakeTable(root)
        if not t.exists():
            raise FileNotFoundError(f"no lake table at {root}")
        return t

    def drop(self) -> None:
        """DropTableTask analog — removes the pointer (data left for GC).
        A ``_dropped`` marker is written FIRST so a table dropped while
        still at v0 is distinguishable from a hard-crashed create()
        (whose self-heal would otherwise silently recreate it)."""
        with contextlib.suppress(OSError):
            with open(os.path.join(self._meta_dir, "_dropped"), "w", encoding="utf-8"):
                pass
        os.remove(self._pointer_path())

    # ---------------------------------------------------------------- read
    def _stored_schema(self, m: Manifest, schema_version: int) -> T.StructType:
        """On-disk schema of files at a schema version: data cols + bucket."""
        s = m.schema(schema_version)
        return T.StructType(list(s.fields) + [T.StructField(BUCKET_COL, T.IntegerType(), False)])

    def _read_aligned(
        self,
        spark: SparkSession,
        m: Manifest,
        entries: list[dict[str, Any]],
        extra_fields: list[T.StructField] | None = None,
        khash_in: list[int] | None = None,
    ) -> DataFrame:
        """Read ``entries`` aligned to the current schema (+ bucket):
        group files by schema version, null-backfill added columns, cast
        widened columns. ``extra_fields`` are engine columns stored in
        the files beyond the data schema (the MOR op/order columns).

        ``khash_in`` pushes a ``__khash IN (...)`` filter INTO the scan
        (PushedFilters → parquet row-group stats), the row-level half of
        the point-lookup pruning: the manifest skips files whose hash
        range excludes every probe, this skips the non-matching rows of
        the files that remain — so a point probe of a fat MoR bucket
        feeds only matching-hash rows into the merge shuffle instead of
        the whole bucket. Exact for probed keys: a row of a probed key
        always carries that key's hash (same column the write path
        stamped)."""
        cur = m.schema()
        extra = extra_fields or []
        khash_fld = [T.StructField(KHASH_COL, T.LongType(), True)] if khash_in is not None else []
        stored_extra = lambda ver: T.StructType(  # noqa: E731
            list(self._stored_schema(m, ver).fields) + extra + khash_fld
        )
        if not entries:
            # no khash field here: the non-empty path drops it in the
            # per-version select, so the output schema must match
            return spark.createDataFrame(
                [], T.StructType(list(self._stored_schema(m, m.current_schema_version).fields) + extra)
            )
        by_ver: dict[int, list[str]] = {}
        for e in entries:
            by_ver.setdefault(e["schema_version"], []).append(os.path.join(self.root, e["path"]))
        parts: list[DataFrame] = []
        for ver, paths in sorted(by_ver.items()):
            df = spark.read.schema(stored_extra(ver)).parquet(*paths)
            if khash_in is not None:
                df = df.where(F.col(KHASH_COL).isin([int(h) for h in khash_in]))
            parts.append(align_to_schema(df, cur, (BUCKET_COL, *(f.name for f in extra))))
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        return df

    @staticmethod
    def _prune_by_khash(entries: list[dict[str, Any]], key_hashes: list[int]) -> list[dict[str, Any]]:
        """Keep entries whose [khash_min, khash_max] could contain any of
        the probe hashes, then — for entries carrying a Bloom filter
        (MoR delta files) — whose filter admits at least one probe hash.
        Entries without stats (older manifests) are always kept; both
        levels are free of false negatives — pruning is an optimization,
        never a filter."""
        import bisect

        hs = sorted(key_hashes)
        out = []
        for e in entries:
            lo, hi = e.get("khash_min"), e.get("khash_max")
            cand = hs
            if lo is not None and hi is not None:
                i = bisect.bisect_left(hs, lo)
                if i >= len(hs) or hs[i] > hi:
                    continue
                # only in-range hashes can be members (min/max are exact
                # footer stats) — probing the bloom with the slice costs
                # a fraction of the full list on wide probe sets
                cand = hs[i:bisect.bisect_right(hs, hi)]
            bloom = e.get("khash_bloom")
            if bloom is not None and not _bloom_may_contain(bloom, cand):
                continue
            out.append(e)
        return out

    def read(
        self,
        spark: SparkSession,
        buckets: list[int] | None = None,
        version: int | None = None,
        with_bucket: bool = True,
        key_hashes: list[int] | None = None,
        tag: str | None = None,
    ) -> DataFrame:
        """Read a snapshot, pruned to ``buckets`` if given. ``tag``
        addresses a named snapshot (see ``tag()``); mutually exclusive
        with ``version``.

        Pruning happens here, against the manifest's file list — Spark
        never even sees files of untouched buckets (manifest-level
        partition pruning, the lake analog of Iceberg's).

        Merge-on-read: buckets carrying delta files (appended by
        ``commit_delta_buckets``) are merged on the fly — base rows at
        order 0, delta rows at their commit order, last-writer-wins per
        key, tombstones dropped. Buckets with no deltas take the plain
        path with zero merge cost; ``compact()`` restores every bucket to
        the plain path.
        """
        if tag is not None:
            if version is not None:
                raise ValueError("pass either version or tag, not both")
            version = self.resolve_tag(tag)
        m = self.manifest(version)
        entries = m.files
        if buckets is not None:
            bset = set(buckets)
            entries = [e for e in entries if e["bucket"] in bset]
        if key_hashes is not None:
            # two-level point-probe pruning (SURVEY.md §4): files whose
            # [khash_min, khash_max] exclude every probe are skipped
            # here, and the surviving files are scanned with a pushed
            # ``__khash IN (...)`` row filter (_read_aligned) so only
            # matching-hash rows enter the MoR merge. ONLY rows whose
            # xxhash64(key) is among ``key_hashes`` are exact in the
            # result — a pruned file may hold newer versions of OTHER
            # keys, so callers must filter to the probed keys (as
            # ``lookup_keys`` does). Never pass this for full scans.
            entries = self._prune_by_khash(entries, key_hashes)

        cur = m.schema()
        out_cols = ([*cur.names, BUCKET_COL] if with_bucket else list(cur.names))

        delta_entries = [e for e in entries if e.get("kind") == "delta"]
        if not delta_entries:
            return self._read_aligned(spark, m, entries, khash_in=key_hashes).select(*out_cols)

        mor_fields = [
            T.StructField(MOR_OP_COL, T.StringType(), False),
            T.StructField(MOR_ORDER_COL, T.LongType(), False),
        ]
        dirty = {e["bucket"] for e in delta_entries}
        clean = [e for e in entries if e["bucket"] not in dirty]
        dirty_base = [
            e for e in entries if e["bucket"] in dirty and e.get("kind") != "delta"
        ]
        # invariant making order-0 sound for base rows: any base write of a
        # bucket (commit_buckets / compact / rebucket) drops that bucket's
        # delta entries, so every live delta's order exceeds its base's
        base = (
            self._read_aligned(spark, m, dirty_base, khash_in=key_hashes)
            .withColumn(MOR_OP_COL, F.lit("upsert"))
            .withColumn(MOR_ORDER_COL, F.lit(0).cast("long"))
        )
        delta = self._read_aligned(
            spark, m, delta_entries, extra_fields=mor_fields, khash_in=key_hashes
        )
        allr = base.unionByName(delta)
        keys = list(m.key_cols)
        rest = [c for c in allr.columns if c not in keys]
        # ordering: commit order first; at EQUAL order (one commit wrote
        # two rows for a key — the custom-bucketed cross-bucket-move case:
        # tombstone in the old bucket + upsert in the new one) the upsert
        # deterministically outranks the tombstone. CDC epochs write at
        # most one row per key per commit, so this tie-break is inert
        # there. lookup.probe_merge applies this same rule to the probes
        # it serves on the driver; change the two together.
        order = F.struct(
            F.col(MOR_ORDER_COL),
            (F.col(MOR_OP_COL) != "delete").cast("int").alias("__op_rank"),
        )
        merged = (
            allr.groupBy(*keys)
            .agg(F.max_by(F.struct(*rest), order).alias("__m"))
            .select(*keys, "__m.*")
            .where(F.col(MOR_OP_COL) != "delete")
            .drop(MOR_OP_COL, MOR_ORDER_COL)
        )
        if clean:
            merged = (
                self._read_aligned(spark, m, clean, khash_in=key_hashes)
                .select(*merged.columns)
                .unionByName(merged)
            )
        return merged.select(*out_cols)

    def is_committed(self, epoch_id: int) -> bool:
        return epoch_id in self.manifest().committed_epochs

    def lookup_keys(self, spark: SparkSession, keys: list[tuple]) -> DataFrame:
        """Point lookup: current rows for exactly ``keys`` (tuples in
        ``key_cols`` order), scanning only the files that can hold them;
        the columns and types of ``read()`` with ``bucket``.

        Pruning is three-level: bucket (manifest partition pruning), then
        per-file min/max key-hash (footer stats recorded at write time),
        then per-file Bloom membership (delta files record one at commit;
        min/max ranges of multi-key delta files overlap almost totally,
        so the bloom is what actually skips a MoR backlog's files). The
        probe hashes and buckets are computed by Spark itself over an
        Arrow-built local relation of the keys cast to the table's key
        types (0 jobs; identical xxhash64 to the write path by
        construction). A key with a NULL component matches nothing.

        Two paths serve the pruned files (``engine/lookup.py``):

        * **driver** — when the pruned files hold at most
          ``lookup.DRIVER_MAX_ROWS`` rows by their manifest counts,
          pyarrow reads them with the ``__khash IN (...)`` filter, one
          Arrow kernel applies ``read()``'s merge-on-read rule and the
          probe-key filter, and the rows come back as a local relation:
          no Spark job;
        * **Spark** — above the gate, or when a pruned file was written
          under an older schema version, a key column is float, double or
          timestamp, or a column's type is not one whose Arrow round trip
          is exact (``lookup._arrow_exact``: no map, struct or array of
          timestamps): ``read(key_hashes=...)`` semi-joined back to the
          probe keys, so the MoR caveat in ``read()`` never leaks
          spurious keys to the caller.
        """
        m = self.manifest()
        if m.properties.get("bucketing", "khash") != "khash":
            # e.g. an IVF table laid out by cluster id: the probe's
            # bucket_expr(key) would prune to buckets the rows don't
            # live in and silently return nothing
            raise ValueError(
                "lookup_keys requires key-hash bucketing; this table is "
                f"bucketing={m.properties['bucketing']!r} (buckets are not "
                "derivable from keys — read with explicit buckets instead)"
            )
        from .lookup import serve_probe

        probe, hb = self._probe_keys(spark, m, keys)
        return serve_probe(self, spark, m, probe, hb)

    @staticmethod
    def _probe_keys(spark: SparkSession, m: Manifest, keys: list[tuple]) -> tuple[DataFrame, list]:
        """The probe: ``keys`` as a local relation cast to the key types
        (nullable), and one collected row per probe key with the cast key
        columns, ``__h`` (the write path's ``key_hash``) and ``__b``
        (``bucket_expr``). Spark folds the projection on the driver: no
        job."""
        from ..functions.hashing import bucket_expr, key_hash
        from .lookup import probe_table

        cur = m.schema()
        ktype = T.StructType([T.StructField(c, cur[c].dataType, True) for c in m.key_cols])
        probe = spark.createDataFrame(probe_table(ktype, keys), ktype)
        hb = probe.select(
            *m.key_cols,
            key_hash(*m.key_cols).alias("__h"),
            bucket_expr(m.n_buckets, *m.key_cols).alias("__b"),
        ).collect()
        return probe, hb

    # --------------------------------------------------------------- write
    def _write_data(
        self,
        df: "DataFrame | pa.Table",
        commit_dir_name: str,
        m: Manifest,
        kind: str = "base",
        buckets: "set[int] | None" = None,
        schema_version: int | None = None,
    ) -> list[dict[str, Any]]:
        """The one data write of every commit: write rows (must carry
        BUCKET_COL) under data/<commit_dir_name>-<uuid6>/, one directory
        per bucket, with ``m``'s key columns and write properties; return
        manifest file entries with per-file row counts and min/max
        key-hash stats (from the parquet footers the rows-count pass
        already opens — free). ``kind="delta"`` marks the entries as MoR
        delta files.

        Two writers, one postcondition body: a Spark frame goes through
        ``_write_frame``; an Arrow table (a small merge-on-read epoch
        served on the driver, ``merge._apply_epoch_driver``) goes through
        ``_write_arrow_buckets`` and must already carry the ``__khash``
        that Spark computed for it. Everything below the write —
        directory name, schema version, the out-of-set check, footer
        stats and Bloom filters — is shared (``_data_entries``).

        Postconditions it owns: the uuid suffix keeps racing attempts
        (two replayers of the same epoch, commit vs compact at the same
        version) from colliding in one directory — a losing attempt's
        directory is an orphan for vacuum; every entry is stamped with
        ``schema_version`` (default ``m.current_schema_version``); and a
        file of a bucket outside ``buckets`` (when given) raises
        ``RuntimeError`` before any commit can reference it.

        Table property ``write.bloom`` decides which files also record a
        per-file Bloom filter over the key hashes (read back from the
        just-written file): delta files unless it is ``"none"`` — SMALL
        files, where the column read is trivial and min/max ranges prune
        nothing (see _bloom_build) — and base files only under ``"all"``.

        Table property ``write.sort.cols`` orders rows WITHIN each bucket
        file (a per-partition sort — no extra shuffle): buckets are
        key-HASH partitioned, so without it one repo's rows scatter
        unordered through every bucket and parquet row-group stats can
        prune nothing. Default = the key columns (key-range predicates
        skip row groups in every file); ``"khash"`` instead clusters by
        key hash so the pushed ``__khash IN`` point-probe filter lands
        on ~one row group per file (pick it for lookup-dominated MoR
        tables); ``"none"`` disables; any comma-separated column list
        works (Iceberg sort-order analog). ``write.parquet.block.size``
        sets the row-group size in bytes — the pruning granularity."""
        props = m.properties
        spec = str(props.get("write.sort.cols", "")).strip()
        if spec == "none":
            sort_cols: list[str] = []
        elif spec == "khash":
            sort_cols = [KHASH_COL]
        elif spec:
            sort_cols = [c.strip() for c in spec.split(",")]
        else:
            sort_cols = list(m.key_cols)
        block_size = props.get("write.parquet.block.size")

        out = os.path.join(self._data_dir, f"{commit_dir_name}-{uuid.uuid4().hex[:6]}")
        if isinstance(df, DataFrame):
            _write_frame(df, out, list(m.key_cols), sort_cols, block_size)
        else:
            _write_arrow_buckets(df, out, sort_cols, int(block_size) if block_size else None)
        return self._data_entries(
            out, commit_dir_name, m, kind, buckets,
            m.current_schema_version if schema_version is None else schema_version,
        )

    def _data_entries(
        self,
        out: str,
        commit_dir_name: str,
        m: Manifest,
        kind: str,
        buckets: "set[int] | None",
        schema_version: int,
    ) -> list[dict[str, Any]]:
        """The postconditions of ``_write_data`` over the files either
        writer left under ``out``."""
        bloom_mode = str(m.properties.get("write.bloom", "delta"))
        with_bloom = bloom_mode != "none" if kind == "delta" else bloom_mode == "all"
        entries: list[dict[str, Any]] = []
        for d in sorted(os.listdir(out)):
            if not d.startswith(f"{_WRITE_PARTITION_COL}="):
                continue
            bucket = int(d.split("=", 1)[1])
            if buckets is not None and bucket not in buckets:
                raise RuntimeError(
                    f"commit {commit_dir_name} wrote bucket {bucket} outside its "
                    f"target set {sorted(buckets)}"
                )
            bdir = os.path.join(out, d)
            for fn in sorted(os.listdir(bdir)):
                if not fn.endswith(".parquet"):
                    continue
                fpath = os.path.join(bdir, fn)
                md = pq.ParquetFile(fpath).metadata
                rows = md.num_rows
                if rows == 0:
                    continue
                kmin = kmax = None
                for rg in range(md.num_row_groups):
                    g = md.row_group(rg)
                    for ci in range(g.num_columns):
                        col = g.column(ci)
                        if col.path_in_schema != KHASH_COL:
                            continue
                        st = col.statistics
                        if st is None or not st.has_min_max:
                            continue
                        kmin = st.min if kmin is None else min(kmin, st.min)
                        kmax = st.max if kmax is None else max(kmax, st.max)
                entry: dict[str, Any] = {
                    "path": os.path.relpath(fpath, self.root),
                    "bucket": bucket,
                    "rows": rows,
                    "schema_version": schema_version,
                    "khash_min": kmin,
                    "khash_max": kmax,
                }
                if kind == "delta":
                    entry["kind"] = "delta"
                # size gate first: rows is already in hand from the
                # footer, so an oversized file never pays the column read
                if with_bloom and rows * _BLOOM_BITS_PER_KEY <= _BLOOM_MAX_BITS:
                    vals = pq.read_table(fpath, columns=[KHASH_COL])[KHASH_COL].to_pylist()
                    bloom = _bloom_build(vals)
                    if bloom is not None:
                        entry["khash_bloom"] = bloom
                entries.append(entry)
        return entries

    def _rebase_epoch(self, base_version: int, epoch_id: int) -> Manifest | None:
        """An epoch commit found the table moved past the snapshot its
        rows were derived from (lost the publish CAS, or a concurrent
        commit landed between the classify read and the commit): decide
        whether it can rebase. Safe iff every intervening commit is a
        logical no-op for table CONTENT: ``compact`` (rewrites what
        read() already merges) or ``set_properties`` (metadata only) —
        rows classified against ``base_version``'s snapshot are still
        exact, and n_buckets/schema are untouched by construction.
        Anything else (another epoch writer, rebucket, truncate)
        invalidates the derived rows → raise loudly instead of
        publishing a silent lost update. Returns None when another
        replayer already committed this very epoch (idempotent race)."""
        m2 = self.manifest()
        if epoch_id in m2.committed_epochs:
            return None
        for v in range(base_version + 1, m2.version + 1):
            try:
                op = self._record_operation(v)
            except FileNotFoundError as e:
                raise ConcurrentCommitError(
                    f"cannot verify intervening commit v{v} (already vacuumed?)"
                ) from e
            if op not in ("compact", "set_properties"):
                raise ConcurrentCommitError(
                    f"concurrent {op!r} commit at v{v} conflicts with epoch "
                    f"{epoch_id} derived from snapshot v{base_version}; the "
                    "lake supports ONE ingest writer plus concurrent "
                    "maintenance (compact/vacuum)"
                )
        return m2

    @contextlib.contextmanager
    def _restore_intent(self, to_version: int):
        """Pin snapshot ``to_version``'s manifest + data files against a
        concurrent vacuum for the span of a rollback. The ``_inflight.*``
        marker can't do this job: it only floors vacuum's deletion cutoff
        at the marker's mtime, which protects freshly WRITTEN files — a
        rollback references OLD files whose mtimes are far below any
        cutoff, so vacuum must instead treat the intent's target version
        as retained while the marker lives."""
        os.makedirs(self._meta_dir, exist_ok=True)
        p = os.path.join(
            self._meta_dir, f"_restore-intent.{to_version}.{uuid.uuid4().hex[:8]}"
        )
        with open(p, "w", encoding="utf-8"):
            pass  # the target version is in the name; mtime ages it out
        try:
            yield
        finally:
            with contextlib.suppress(OSError):
                os.remove(p)

    @contextlib.contextmanager
    def _inflight_guard(self):
        """Mark a commit as in-flight for the span between its first data
        file hitting disk and its manifest publish (or abandonment). A
        concurrent vacuum floors its deletion cutoff at the oldest live
        marker's mtime, so it can never reclaim files a still-running
        commit is about to reference — the window a concurrent compact
        would otherwise open by advancing the latest manifest's mtime
        past the in-flight writer's data files."""
        os.makedirs(self._meta_dir, exist_ok=True)
        p = os.path.join(self._meta_dir, f"_inflight.{uuid.uuid4().hex[:8]}")
        with open(p, "w", encoding="utf-8"):
            pass  # the marker's mtime is its payload
        try:
            yield
        finally:
            with contextlib.suppress(OSError):
                os.remove(p)

    def _commit_epoch(
        self,
        df: "DataFrame | pa.Table",
        changed_buckets: list[int],
        epoch_id: int,
        new_schema: T.StructType | None,
        base_version: int | None,
        kind: str,
    ) -> int:
        """The one epoch-commit body of both flavors: ``kind="base"``
        replaces ``changed_buckets``' files (``commit_buckets``, CoW),
        ``kind="delta"`` appends delta files (``commit_delta_buckets``,
        MoR). Committed-epoch no-op, ``base_version`` rebase, one data
        write, then the CAS/rebase publish loop of an O(commit)-sized
        delta record — the full file list exists only in memory (and in
        periodic checkpoints)."""
        m = self.manifest()
        if epoch_id in m.committed_epochs:
            return m.version
        if base_version is not None and m.version != base_version:
            m2 = self._rebase_epoch(base_version, epoch_id)
            if m2 is None:  # another replayer already committed it
                return self.latest_version()
            m = m2
        # decided once: a rebase only crosses compact/set_properties
        # (_rebase_epoch), neither of which changes the schema
        sv, schema_add = m.current_schema_version, None
        if new_schema is not None and new_schema.jsonValue() != m.schema().jsonValue():
            sv += 1
            schema_add = {str(sv): new_schema.jsonValue()}
        delta = kind == "delta"
        changed = set(changed_buckets)
        with self._inflight_guard():
            entries: list[dict[str, Any]] = []
            if changed:
                if delta:
                    # __order is stamped with the FIRST attempt's version;
                    # if the CAS is lost to a compaction and the commit
                    # rebases, the final version exceeds the stamp — still
                    # sound, because the order invariants only need (a)
                    # stamp > 0 (base rows read at 0; a compacted base of
                    # this bucket folded only PRIOR deltas, which this
                    # epoch logically supersedes), and (b) stamps strictly
                    # increase across delta commits of a bucket —
                    # guaranteed by the single-ingest-writer rule (the
                    # next epoch's stamp is its snapshot version + 1 ≥
                    # this commit's final version + 1 > this stamp).
                    if isinstance(df, DataFrame):
                        df = df.withColumn(MOR_ORDER_COL, F.lit(m.version + 1).cast("long"))
                    else:
                        df = df.append_column(MOR_ORDER_COL, pa.repeat(m.version + 1, df.num_rows))
                # data files are written ONCE, before the CAS loop
                entries = self._write_data(
                    df, f"{'d' if delta else 'c'}{m.version + 1}-e{epoch_id}", m, kind, changed, sv
                )
            while True:
                nm = _delta_successor(
                    m,
                    "epoch-delta" if delta else "epoch",
                    add=entries,
                    remove_buckets=None if delta else sorted(changed),
                    epoch=epoch_id,
                    schema_add=schema_add,
                    current_schema_version=sv,
                )
                if self._publish(nm):
                    return nm.version
                m2 = self._rebase_epoch(m.version, epoch_id)
                if m2 is None:  # another replayer won this epoch: no-op
                    return self.latest_version()
                m = m2

    def commit_buckets(
        self,
        df: DataFrame,
        changed_buckets: list[int],
        epoch_id: int,
        new_schema: T.StructType | None = None,
        base_version: int | None = None,
    ) -> int:
        """Replace the contents of ``changed_buckets`` with ``df`` (which
        must hold *all* surviving rows of exactly those buckets, incl. the
        ``bucket`` column), atomically, stamped with ``epoch_id``.

        Idempotent: if ``epoch_id`` is already committed this is a no-op.
        ``base_version`` (when given) is the snapshot version ``df`` was
        derived from — the commit validates every commit that landed
        since (the full optimistic read-classify-commit transaction, not
        just the publish CAS) and rebases across compactions or fails
        with ``ConcurrentCommitError``. Returns the new (or current)
        snapshot version.
        """
        return self._commit_epoch(df, changed_buckets, epoch_id, new_schema, base_version, "base")

    def commit_delta_buckets(
        self,
        df: "DataFrame | pa.Table",
        changed_buckets: list[int],
        epoch_id: int,
        new_schema: T.StructType | None = None,
        base_version: int | None = None,
    ) -> int:
        """Merge-on-read commit: APPEND per-epoch delta files for
        ``changed_buckets`` instead of rewriting them (copy-on-write
        rewrites a whole bucket to change one row — at 10^10 events that
        write amplification, not the merge itself, is the bottleneck).

        ``df`` holds only the epoch's changed rows — upserts with their
        new payload and tombstones — carrying the ``bucket`` column and
        ``__op`` ∈ {'upsert','delete'}; at most one row per (key, op):
        CDC epochs are LWW-deduped upstream to one row per key, and the
        one sanctioned two-row case is a custom-bucketed cross-bucket
        MOVE (tombstone in the old bucket + upsert in the new one, e.g.
        ``ivf_lake_append``), which ``read()`` resolves deterministically
        in the upsert's favor at equal commit order. The commit stamps ``__order`` =
        the new manifest version, so readers resolve base-vs-delta and
        delta-vs-delta conflicts by order alone. Reads of touched buckets
        pay a merge shuffle until ``compact()`` folds the deltas back in.

        Same idempotent atomic protocol as ``commit_buckets``: write
        data → publish manifest; a committed epoch is a no-op. ``df`` may
        also be an Arrow table that carries ``__khash`` (``_write_data``).
        """
        if MOR_OP_COL not in (df.columns if isinstance(df, DataFrame) else df.column_names):
            raise ValueError(f"delta commit requires the {MOR_OP_COL!r} column")
        return self._commit_epoch(df, changed_buckets, epoch_id, new_schema, base_version, "delta")

    def overwrite(self, df: DataFrame, epoch_id: int) -> int:
        """Truncate-and-reload fast path (ETLBox UseTruncateMethod,
        SURVEY.md §4): replace the whole table in one atomic commit.
        ``base_version`` pins the manifest the bucket range was derived
        from — a concurrent rebucket between this read and the commit
        would otherwise leave the extra buckets' old files live."""
        m = self.manifest()
        if epoch_id in m.committed_epochs:
            return m.version
        all_buckets = list(range(m.n_buckets))
        return self.commit_buckets(df, all_buckets, epoch_id, base_version=m.version)

    @staticmethod
    def _maint_root(delta_dir: str) -> str:
        # underscore parent WITHOUT "=": skipped by Spark's listing of
        # the delta log (same rule as _quarantine — a name containing
        # "=" would be parsed as a conflicting partition column)
        return os.path.join(delta_dir, "_maint")

    def _heal_maintenance_feed(self, delta_dir: str) -> None:
        """Finalize maintenance change dirs whose commit published but
        whose rename crashed (the delta log's heal-on-retry rule): an
        in-flight dir names its expected version + a token; the commit
        record carries the same token, so a match proves THIS attempt's
        commit landed and the dir's content is its change set. Unmatched
        dirs (live attempts, crashed CAS losers) only age out."""
        import shutil
        import time as _time

        mroot = self._maint_root(delta_dir)
        if not os.path.isdir(mroot):
            return
        for name in os.listdir(mroot):
            if not name.startswith("_inflight-"):
                continue
            parts = name.rsplit("-", 2)  # [prefix, v{N}, token]
            p = os.path.join(mroot, name)
            try:
                v = int(parts[-2].lstrip("v"))
                token = parts[-1]
            except (ValueError, IndexError):
                continue
            rec = None
            with contextlib.suppress(OSError, ValueError):
                rec = self._load_record(v)
            if (
                rec is not None
                and rec.get("change_token") == token
                and rec.get("operation") in ("delete", "rollback")
            ):
                final = os.path.join(mroot, f"version={v}")
                # the owning committer (or a second healer) can finalize
                # between the existence check and the rename — its rename
                # establishes exactly the postcondition this one wanted
                # (the token proves both hold the same content), so a
                # vanished source is success, not an error
                with contextlib.suppress(OSError):
                    if os.path.exists(final):
                        shutil.rmtree(p)
                    else:
                        os.replace(p, final)
                continue
            with contextlib.suppress(OSError):
                if _time.time() - os.path.getmtime(p) > STALE_ATTEMPT_S:
                    shutil.rmtree(p)

    def _emit_maintenance_changes(
        self, df: DataFrame, delta_dir: str, expected_version: int, token: str
    ) -> str:
        """Stage a maintenance change set under an in-flight name tied to
        (expected commit version, token); returns the tmp path. The
        caller renames to ``version={V}`` only after its commit publishes
        AND passes its post-publish checks — a visible ``version=V`` dir
        IMPLIES commit V landed with exactly this change set."""
        tmp = os.path.join(
            self._maint_root(delta_dir), f"_inflight-v{expected_version}-{token}"
        )
        df.write.mode("overwrite").parquet(tmp)
        return tmp

    @staticmethod
    def _finalize_maintenance_changes(tmp: str, version: int) -> str:
        import shutil

        final = os.path.join(os.path.dirname(tmp), f"version={version}")
        # commit versions are CAS-unique, so whoever installs version=V
        # installs THIS commit's change set: a concurrent healer that
        # token-matched the published record may rename tmp into place
        # before the owner gets here, and its rename establishes exactly
        # this postcondition — recognize that as success rather than
        # rmtree-ing the healed dir and then failing the replace on the
        # vanished source (which would LOSE the change set)
        try:
            os.replace(tmp, final)  # the common case: final absent
            return final
        except OSError:
            pass
        if not os.path.exists(tmp):
            if os.path.isdir(final):
                return final  # a healer finalized this very attempt
            raise FileNotFoundError(f"maintenance change set lost: {tmp}")
        # tmp still staged and the rename refused: final holds STALE
        # foreign content (a feed dir surviving a table wipe/recreate) —
        # clobber it and install ours, tolerating a healer winning the
        # retry window
        shutil.rmtree(final, ignore_errors=True)
        try:
            os.replace(tmp, final)
        except OSError:
            if not os.path.isdir(final):
                raise
        return final

    def delete_where(
        self,
        spark: SparkSession,
        condition,
        emit_changes: bool = False,
        delta_dir: str | None = None,
    ) -> dict[str, int]:
        """Row-level DELETE FROM ... WHERE analog (Delta DELETE /
        GDPR-erasure maintenance verb) — the one content change the
        event-driven merge deliberately doesn't cover: removing rows by
        PREDICATE rather than by key-addressed tombstone events.

        Rewrites only the buckets holding matching rows (untouched
        buckets carry over by reference); MoR backlogs of touched
        buckets fold in the same rewrite (the survivors are materialized
        from the merged view, like ``compact``). SQL NULL semantics:
        rows where the condition is NULL are KEPT (DELETE removes rows
        where it is TRUE).

        This is an operator verb, not an epoch: no epoch marker is
        stamped (replay idempotence is about re-delivered events — a
        predicate delete is a one-shot administrative action, revertable
        via ``rollback``), and a CONCURRENT epoch commit conflicts
        loudly via ``_rebase_epoch`` (operation "delete" is not a
        logical no-op) instead of landing on pre-delete state. A lost
        CAS recomputes from the new snapshot, like ``compact``.

        Non-deterministic predicates (rand(), uuid()) are REJECTED — the
        condition is evaluated by more than one job, so a
        non-deterministic one could write survivors that disagree with
        the hit scan (Delta's DELETE has the same rule). Predicates on
        query-time functions (current_timestamp) pass Spark's
        determinism check but still re-evaluate per job — pass the
        boundary as a literal instead.

        Change-feed emission (``emit_changes=True`` + ``delta_dir``,
        r05 — closes the r04 CDC blind spot): the erased rows' preimages
        are written as synthesized ``action='delete'`` changes into the
        MAINTENANCE change feed ``{delta_dir}/_maint/version={V}`` (V =
        the delete's commit version — a non-epoch generation; the
        underscore parent keeps epoch listings clean). Each row carries
        ``after_epoch`` = the highest epoch committed at delete time:
        a mirror orders the erasure after draining epochs ≤ after_epoch
        and before any later epoch. Rename-after-publish protocol with
        heal-on-retry (``_heal_maintenance_feed``), so a visible
        ``version=V`` dir implies commit V landed with exactly that
        change set. Default (emit_changes=False) keeps Delta's
        DELETE-without-CDF behavior: mirrors do NOT see the erasure.

        Returns {rows_deleted, buckets_rewritten, version}.
        """
        import shutil

        if emit_changes and delta_dir is None:
            raise ValueError("emit_changes=True requires delta_dir")
        if emit_changes:
            self._heal_maintenance_feed(delta_dir)
        cond = F.expr(condition) if isinstance(condition, str) else condition
        for _attempt in range(5):
            # the guard opens BEFORE the snapshot resolves: a live marker
            # pins the snapshot window against a concurrent vacuum for
            # the whole scan-rewrite span (r05, like apply_epoch's)
            with self._inflight_guard():
                m = self.manifest()
                full = self.read(spark, version=m.version)
                matched = full.where(cond)
                if not matched._jdf.queryExecution().analyzed().deterministic():
                    raise ValueError(
                        "delete_where requires a deterministic condition "
                        "(rand()/uuid()-style predicates evaluate differently "
                        "in the hit scan and the survivor write)"
                    )
                # one job yields BOTH the hit-bucket set and the deleted-
                # row metric: matched rows (cond true) are exactly the
                # rows the survivor filter (~coalesce(cond, false))
                # drops, so a separate touched.count() merge scan of the
                # hit buckets bought nothing
                hits = {
                    int(r[0]): int(r[1])
                    for r in matched.groupBy(BUCKET_COL).count().collect()
                }
                hit = sorted(hits)
                if not hit:
                    return {
                        "rows_deleted": 0,
                        "buckets_rewritten": 0,
                        "version": m.version,
                    }
                n_matched = sum(hits.values())
                touched = self.read(spark, buckets=hit, version=m.version)
                survivors = touched.where(~F.coalesce(cond, F.lit(False)))
                token = uuid.uuid4().hex[:12]
                tmp = None
                if emit_changes:
                    after_epoch = max(m.committed_epochs) if m.committed_epochs else -1
                    preimages = (
                        matched.select(*m.schema().names, BUCKET_COL)
                        .withColumn("action", F.lit("delete"))
                        .withColumn("after_epoch", F.lit(after_epoch).cast("long"))
                    )
                    tmp = self._emit_maintenance_changes(
                        preimages, delta_dir, m.version + 1, token
                    )
                res = self._rewrite_buckets(
                    m,
                    hit,
                    survivors,
                    "delete",
                    extra_record={"change_token": token} if emit_changes else None,
                )
            if res is not None:
                new_ver, entries = res
                if tmp is not None:
                    self._finalize_maintenance_changes(tmp, new_ver)
                return {
                    "rows_deleted": int(n_matched),
                    "buckets_rewritten": len(hit),
                    "version": new_ver,
                }
            # lost the CAS (e.g. an epoch landed) — the matched set may
            # have changed: recompute from the new snapshot
            if tmp is not None:
                shutil.rmtree(tmp, ignore_errors=True)
        raise ConcurrentCommitError("delete_where lost the publish CAS 5 times")

    def _rewrite_buckets(
        self,
        m: Manifest,
        buckets: list[int],
        df: DataFrame,
        operation: str,
        extra_record: "dict[str, Any] | None" = None,
    ) -> "tuple[int, list[dict[str, Any]]] | None":
        """The shared bucket-rewrite commit core of ``compact`` and
        ``delete_where``: write ``df`` (the buckets' full replacement
        content), replace those buckets' file lists in a new manifest,
        publish. Callers hold ``_inflight_guard`` across the read that
        produced ``df``. Returns (version, entries), or None when the CAS
        is lost (caller recomputes from the new snapshot)."""
        bset = set(buckets)
        entries = self._write_data(df, f"{operation}-v{m.version + 1}", m, buckets=bset)
        nm = _delta_successor(
            m, operation, add=entries, remove_buckets=sorted(bset), **(extra_record or {})
        )
        return (nm.version, entries) if self._publish(nm) else None

    def truncate(self, epoch_id: int) -> int:
        """TruncateTableTask analog: new empty snapshot. A lost CAS just
        retries on the newer snapshot — truncate serializes last."""
        while True:
            m = self.manifest()
            if epoch_id in m.committed_epochs:
                return m.version
            nm = _delta_successor(m, "truncate", truncate=True, epoch=epoch_id)
            if self._publish(nm):
                return nm.version

    def set_properties(
        self, props: dict[str, Any] | None = None, unset: list[str] | None = None
    ) -> int:
        """ALTER TABLE SET/UNSET TBLPROPERTIES analog: publish a new
        manifest version whose properties merge ``props`` over the
        current ones (``unset`` removes keys). Metadata-only — no data
        files move; the NEXT write (epoch commit, compact, rebucket)
        picks the new values up. The operational lever this exists for:
        switch ``write.sort.cols`` to ``"khash"`` when a table turns
        lookup-dominated, retune ``write.parquet.block.size`` (pruning
        granularity), ``write.bloom`` (per-file key membership filters:
        'delta' default / 'all' / 'none') or ``compact.max.deltas.per.bucket`` as the
        read/write cost ratio drifts — each takes effect incrementally
        as commits rewrite buckets, with ``compact()`` available to
        re-layout eagerly.

        Values are validated here, not at the next write (a typo'd sort
        column must not fail an ingest epoch hours later). Commutes with
        every concurrent commit, so a lost CAS re-reads and retries —
        like truncate, it serializes last; a concurrent epoch commit
        rebases across it (its already-written files keep the OLD
        layout — correct data, re-laid-out at the next rewrite)."""
        while True:
            m = self.manifest()
            new_props = dict(m.properties)
            new_props.update(props or {})
            for k in unset or []:
                new_props.pop(k, None)
            _validate_properties(new_props, list(m.schema().names))
            if new_props == m.properties:
                return m.version  # no-op: don't burn a version
            nm = _delta_successor(m, "set_properties", properties=new_props)
            if self._publish(nm):
                return nm.version

    # ------------------------------------------------------------- tags
    def tag(self, name: str, version: int | None = None) -> int:
        """Pin a retained snapshot under a name (Iceberg tag / named-ref
        analog): ``read(tag=...)`` and ``rollback(t.tags()[name])``
        address it, and **vacuum retains tagged versions** regardless of
        ``keep_versions`` — the durable form of the time-travel window.

        Stored as a ``tag.<name>`` table property, so tagging is an
        auditable ``set_properties`` CAS commit, tags ride forward with
        every subsequent commit automatically, and concurrent writers
        serialize through the ordinary manifest protocol. The tag-vs-
        vacuum race uses rollback's machinery: a ``_restore-intent``
        marker pins the target while the property commit is in flight
        (and vacuum re-lists markers + tags again just before its
        deletion walk, narrowing the residue window); what residue
        remains is detected by a post-publish file re-check that UNTAGS
        before raising."""
        v = self.latest_version() if version is None else int(version)
        with self._restore_intent(v):
            try:
                tgt = self.manifest(v)
            except FileNotFoundError:
                raise ValueError(
                    f"version {v} does not exist or is not retained (vacuumed?)"
                ) from None
            prev = self.manifest().properties.get(f"tag.{name}")
            out = self.set_properties({f"tag.{name}": v})
            # the tag addresses the MANIFEST as well as the files: a
            # racing vacuum may have deleted v{v}.json (e.g. when every
            # intervening commit shared v{v}'s file list, so zero data
            # files were reclaimable) — a tag naming a deleted manifest
            # would fail every read forever while vacuum silently drops
            # the pin
            missing = [
                e["path"]
                for e in tgt.files
                if not os.path.exists(os.path.join(self.root, e["path"]))
            ]
            if missing or not os.path.exists(
                os.path.join(self._meta_dir, f"v{v}.json")
            ):
                # restore the PREVIOUS pin, never plain-untag: a failed
                # RE-tag must not silently drop a durable retention
                # guarantee the operator never revoked (the old pin kept
                # its version alive through every vacuum until now)
                if prev is not None:
                    self.set_properties({f"tag.{name}": prev})
                    undone = f"restored to v{prev}"
                else:
                    self.untag(name)
                    undone = "removed"
                what = (
                    f"{len(missing)} of v{v}'s data file(s)"
                    if missing
                    else f"v{v}'s manifest"
                )
                raise ValueError(
                    f"tag {name!r} raced a vacuum that reclaimed {what}; "
                    f"the tag was {undone}"
                )
            return out

    def untag(self, name: str) -> int:
        """Drop a tag; the next vacuum may reclaim the version it pinned
        (subject to ``keep_versions`` as usual)."""
        return self.set_properties(unset=[f"tag.{name}"])

    def tags(self) -> dict[str, int]:
        return {
            k[4:]: int(v)
            for k, v in self.manifest().properties.items()
            if k.startswith("tag.")
        }

    def resolve_tag(self, name: str) -> int:
        t = self.tags()
        if name not in t:
            raise ValueError(f"unknown tag {name!r} (have: {sorted(t)})")
        return t[name]

    def _snapshot_diff(
        self, spark: SparkSession, cur_m: Manifest, tgt_version: int
    ) -> DataFrame:
        """Per-key change set that turns snapshot ``cur_m`` into snapshot
        ``tgt_version`` (the Delta RESTORE + CDF analog): rows only in
        current → ``delete`` (preimage payload), only in target →
        ``insert``, differing → ``update`` (target payload). Emitted in
        the CURRENT schema generation (target columns align up, dropped
        state is nulls). One full-outer join over the two snapshots —
        a real two-snapshot scan, priced only when rollback opts into
        emission."""
        keys = list(cur_m.key_cols)
        sch = cur_m.schema()
        payload = [f.name for f in sch.fields if f.name not in keys]
        cur = self.read(spark, version=cur_m.version)
        tgt_al = align_to_schema(self.read(spark, version=tgt_version), sch, (BUCKET_COL,))
        c = cur.withColumn("__c", F.lit(True)).alias("c")
        g = tgt_al.withColumn("__g", F.lit(True)).alias("g")
        j = c.join(
            g, on=[F.col(f"c.{k}").eqNullSafe(F.col(f"g.{k}")) for k in keys], how="full_outer"
        )
        c_here = F.col("__c").isNotNull()
        g_here = F.col("__g").isNotNull()
        same = F.lit(True)
        for p in payload:
            same = same & F.col(f"c.{p}").eqNullSafe(F.col(f"g.{p}"))
        action = (
            F.when(c_here & ~g_here, F.lit("delete"))
            .when(~c_here & g_here, F.lit("insert"))
            .when(c_here & g_here & ~same, F.lit("update"))
            .otherwise(F.lit(None).cast("string"))
        )
        take_cur = c_here & ~g_here  # deletes carry the erased preimage
        return (
            j.select(
                *[F.coalesce(F.col(f"g.{k}"), F.col(f"c.{k}")).alias(k) for k in keys],
                *[
                    F.when(take_cur, F.col(f"c.{p}")).otherwise(F.col(f"g.{p}")).alias(p)
                    for p in payload
                ],
                F.coalesce(F.col(f"g.{BUCKET_COL}"), F.col(f"c.{BUCKET_COL}")).alias(
                    BUCKET_COL
                ),
                action.alias("action"),
            )
            .where(F.col("action").isNotNull())
        )

    def rollback(
        self,
        to_version: int,
        spark: "SparkSession | None" = None,
        emit_changes: bool = False,
        delta_dir: str | None = None,
    ) -> int:
        """RESTORE TABLE ... VERSION AS OF analog (Delta RESTORE /
        Iceberg rollback): publish a NEW manifest whose content — files,
        schema history, bucket layout and ``committed_epochs`` — is that
        of retained snapshot ``to_version``. Metadata-only: no data
        moves, the old snapshot's files are re-referenced (so vacuum's
        retention window bounds how far back a rollback can reach, and
        the referenced files are checked to still exist up front).

        This is the CDC bad-epoch escape hatch: a poisoned upstream
        epoch lands → ``rollback`` to the pre-epoch version → re-replay.
        Reverting ``committed_epochs`` with the content is what makes
        the re-replay exactly-once-correct: rolled-back epochs re-apply
        (they are no longer marked), while epochs at or before the
        target stay no-ops. History is never rewritten — rollback is a
        forward commit (``operation="rollback"``), so time travel and
        the audit trail keep the bad epochs visible.

        Current table *properties* are KEPT (operational tuning like
        ``write.sort.cols`` is orthogonal to content and reverting it
        as a side effect would surprise the operator). Downstream
        change-feed consumers that already drained a rolled-back epoch
        are beyond this table's control — exactly Delta's RESTORE + CDF
        caveat; the re-applied epoch rewrites its ``epoch=N`` log dir
        for fresh consumers.

        Replay resume stays correct without operator care: ``replay``'s
        ``fast_resume`` shortcut is gated on the INTERSECTION of
        checkpoint-recorded and manifest-committed epochs, so a
        re-replay reusing the old checkpoint file still re-applies the
        rolled-back epochs (the markers outrank the checkpoint).

        Change-feed emission (``emit_changes=True`` + ``spark`` +
        ``delta_dir``, r05): the per-key diff current→target
        (``_snapshot_diff`` — insert/update/delete with preimage
        payloads for deletes) lands in the maintenance feed
        ``{delta_dir}/_maint/version={V}`` like ``delete_where``'s, with
        ``after_epoch`` = the highest epoch committed in the TARGET
        snapshot (the feed position a mirror is at once the rollback's
        changes apply; rolled-back epochs re-apply as future rewritten
        ``epoch=N`` dirs — consumers that already drained them must
        treat the rewrite as the re-delivery it is, Delta's RESTORE+CDF
        caveat). The emission is renamed into place only after the
        post-publish vacuum-race re-check passes, so a reverted rollback
        never leaks a change set.

        Concurrency: like ``truncate`` it serializes last (a lost CAS
        re-reads and retries — rollback's statement wins over whatever
        landed in between, by operator intent); a concurrent epoch
        commit racing it conflicts via ``_rebase_epoch`` ("rollback" is
        not a logical no-op) rather than silently landing on the
        rolled-back state. Against a concurrent VACUUM the target is
        pinned by a ``_restore-intent`` marker (vacuum retains the
        marked version while the marker lives) and the CURRENT snapshot
        — the other side of the ``emit_changes`` diff — by an
        ``_inflight`` marker's snapshot-window pin held for the whole
        diff-and-publish span; the unavoidable residue
        — a vacuum that listed markers just before the intent appeared —
        is caught by re-verifying the files after the publish and
        REVERTING the rollback (the pre-rollback snapshot's files are
        what that vacuum retained, so the revert is always safe) before
        raising."""
        try:
            tgt = self.manifest(to_version)
        except FileNotFoundError:
            raise ValueError(
                f"version {to_version} does not exist or is not retained "
                "(vacuumed?) — rollback can only reach snapshots inside "
                "the vacuum window"
            ) from None

        def _missing() -> list[str]:
            return [
                e["path"]
                for e in tgt.files
                if not os.path.exists(os.path.join(self.root, e["path"]))
            ]

        import shutil

        if emit_changes and (spark is None or delta_dir is None):
            raise ValueError("emit_changes=True requires spark and delta_dir")
        if emit_changes:
            self._heal_maintenance_feed(delta_dir)
        # the intent marker pins the TARGET version; the inflight guard
        # pins the snapshot window from here on (latest-at-creation plus
        # everything after), so the CURRENT snapshot the emit_changes
        # diff scans can't be expired by a concurrent vacuum mid-read
        # (r05 — the same span rule apply_epoch/delete_where hold)
        with self._restore_intent(to_version), self._inflight_guard():
            missing = _missing()
            if missing:
                raise ValueError(
                    f"cannot rollback to v{to_version}: {len(missing)} data "
                    f"file(s) already reclaimed, e.g. {missing[0]!r}"
                )
            while True:
                m = self.manifest()
                if (
                    m.version == to_version
                    or (
                        m.files == tgt.files
                        and m.committed_epochs == tgt.committed_epochs
                        and m.current_schema_version == tgt.current_schema_version
                        and m.n_buckets == tgt.n_buckets
                    )
                ):
                    # already at (or content-identical to) the target — a
                    # retried rollback must not burn versions (and has an
                    # empty diff: nothing to emit)
                    return m.version
                token = uuid.uuid4().hex[:12]
                tmp = None
                if emit_changes:
                    after_epoch = (
                        max(tgt.committed_epochs) if tgt.committed_epochs else -1
                    )
                    diff = self._snapshot_diff(spark, m, to_version).withColumn(
                        "after_epoch", F.lit(after_epoch).cast("long")
                    )
                    tmp = self._emit_maintenance_changes(
                        diff, delta_dir, m.version + 1, token
                    )
                nm = dataclass_replace(
                    tgt,
                    version=m.version + 1,
                    parent=m.version,
                    properties=m.properties,
                    operation="rollback",
                )
                if self._publish(nm, {"change_token": token} if emit_changes else None):
                    missing = _missing()
                    if missing:
                        if tmp is not None:
                            shutil.rmtree(tmp, ignore_errors=True)
                        self._revert_rollback(m, nm)
                        raise ValueError(
                            f"rollback to v{to_version} raced a vacuum that "
                            f"reclaimed {len(missing)} of its data file(s) "
                            f"(e.g. {missing[0]!r}); the table was reverted "
                            f"to v{m.version}'s content"
                        )
                    if tmp is not None:
                        self._finalize_maintenance_changes(tmp, nm.version)
                    return nm.version
                if tmp is not None:
                    shutil.rmtree(tmp, ignore_errors=True)

    def _revert_rollback(self, pre: Manifest, published: Manifest) -> None:
        """Undo a just-published rollback whose target files turned out
        reclaimed: publish a forward commit restoring the PRE-rollback
        content (those files were the then-latest snapshot's, which any
        racing vacuum retained by definition).

        Reverts ONLY while nothing has committed on top of the published
        rollback — a writer that based itself on the rollback (its
        ``base_version`` IS the rollback, so ``_rebase_epoch`` never saw
        a conflict) has already told ITS caller the epoch committed, and
        blindly restoring ``pre`` would erase that epoch's rows and
        markers. In that mixed state (rolled-back content with missing
        files plus a newer commit on top) we raise with the facts and
        leave resolution to the operator — there is no automatic answer
        that doesn't silently drop someone's acknowledged commit."""
        while True:
            cur = self.manifest()
            if (
                cur.files == pre.files
                and cur.committed_epochs == pre.committed_epochs
                and cur.current_schema_version == pre.current_schema_version
            ):
                return
            if cur.version > published.version:
                raise ValueError(
                    f"rollback v{published.version} references vacuumed files "
                    f"AND commit(s) landed on top of it (latest v{cur.version}); "
                    f"cannot auto-revert without erasing them — restore "
                    f"manually (e.g. rollback({pre.version}) after auditing "
                    "the newer commits)"
                )
            nm = dataclass_replace(
                pre,
                version=cur.version + 1,
                parent=cur.version,
                properties=cur.properties,
                operation="rollback",
            )
            if self._publish(nm):
                return

    # -------------------------------------------------------- maintenance
    def rebucket(self, spark: SparkSession, new_n_buckets: int) -> int:
        """Change the key-hash bucket count (layout evolution).

        Copy-on-write commits replace whole buckets, so this table never
        fragments within a bucket (≤ 1 live file each) — the maintenance
        op that matters at scale is instead growing the bucket count as
        the table grows (32 buckets at GBs vs thousands at 100 TB: a
        bucket is the unit of commit rewrite, snapshot pruning and merge
        parallelism). Rewrites every row under the new bucket function in
        one atomic commit; logical content untouched, epoch markers
        preserved, so subsequent merges are unaffected. Crash mid-way
        leaves the old manifest live (orphans reclaimed by vacuum).
        """
        from ..functions.hashing import bucket_expr

        # the marker goes up BEFORE the snapshot is resolved: a live
        # marker is what pins that snapshot against a concurrent vacuum
        # (compact's and delete_where's rule)
        with self._inflight_guard():
            m = self.manifest()
            if m.properties.get("bucketing", "khash") != "khash":
                raise ValueError(
                    "rebucket rewrites under the key-hash bucket function; this "
                    f"table is bucketing={m.properties['bucketing']!r}"
                )
            if new_n_buckets == m.n_buckets:
                return m.version
            df = self.read(spark, with_bucket=False, version=m.version).withColumn(
                BUCKET_COL, bucket_expr(new_n_buckets, *m.key_cols)
            )
            return self._rewrite_table(m, df, "rebucket", new_n_buckets)

    def _rewrite_table(
        self,
        m: Manifest,
        df: DataFrame,
        operation: str,
        n_buckets: int,
        properties: "dict[str, Any] | None" = None,
    ) -> int:
        """The full-rewrite commit core of ``rebucket`` and
        ``similarity.ivf_lake_recluster``: write ``df`` (every row of the
        table, carrying BUCKET_COL under the new ``n_buckets`` layout) as
        the whole file list of a full record on top of ``m``, with
        ``properties`` (default: ``m``'s) — epoch markers and schema
        history preserved. Callers hold ``_inflight_guard`` across the
        read that produced ``df``. Returns the new version.

        Single CAS attempt by design: each retry would be another
        full-table rewrite, and against a live ingest stream it would
        lose again — a lost CAS raises ``ConcurrentCommitError`` (pause
        the writer and re-run)."""
        entries = self._write_data(df, f"{operation}-v{m.version + 1}", m)
        nm = dataclass_replace(
            m,
            version=m.version + 1,
            n_buckets=n_buckets,
            files=entries,
            parent=m.version,
            properties=m.properties if properties is None else properties,
            operation=operation,
        )
        if self._publish(nm):
            return nm.version
        raise ConcurrentCommitError(
            f"{operation} lost the publish CAS to a concurrent commit; pause the "
            "ingest writer and re-run (a full-table rewrite cannot win "
            "against a live stream)"
        )

    def compact(self, spark: SparkSession, buckets: list[int] | None = None) -> dict[str, int]:
        """Fold a bucket's accumulated delta files back into one base file
        (Iceberg/Hudi-style compaction). Logical content is untouched —
        the rewrite materializes exactly what ``read()`` already merges —
        so subsequent reads of the bucket drop the merge shuffle and the
        per-bucket file count returns to 1. No epoch marker: compaction
        is a maintenance commit like ``rebucket``; crash mid-way leaves
        the old manifest live (orphans reclaimed by vacuum).
        """
        want = None if buckets is None else set(buckets)
        for _attempt in range(5):
            # guard opens before the snapshot resolves (r05): the live
            # marker pins the fold's source snapshot against a
            # concurrent vacuum for the whole read-rewrite span
            with self._inflight_guard():
                m = self.manifest()
                dirty = sorted({
                    e["bucket"]
                    for e in m.files
                    if e.get("kind") == "delta" and (want is None or e["bucket"] in want)
                })
                if not dirty:
                    return {"buckets_compacted": 0, "files_before": 0, "files_after": 0}
                n_before = sum(1 for e in m.files if e["bucket"] in set(dirty))
                # pin the snapshot the fold was computed from — re-resolving
                # _latest inside read() would race a concurrent epoch commit
                df = self.read(spark, buckets=dirty, version=m.version)
                res = self._rewrite_buckets(m, dirty, df, "compact")
            if res is not None:
                _, entries = res
                return {
                    "buckets_compacted": len(dirty),
                    "files_before": n_before,
                    "files_after": len(entries),
                }
            # lost the CAS to a concurrent commit (an ingest epoch may
            # have appended newer deltas to these buckets): the folded
            # output is stale — recompute from the new snapshot
        raise ConcurrentCommitError("compact lost the publish CAS 5 times")

    def vacuum(
        self,
        keep_versions: int = 1,
        grace_s: float = 0.0,
        inflight_max_age_s: float = STALE_ATTEMPT_S,
        dry_run: bool = False,
    ) -> dict[str, int]:
        """Delete data files referenced only by manifests older than the
        newest ``keep_versions`` (Iceberg expire_snapshots + orphan-file
        removal). Time travel remains possible within the kept window.
        Returns {files_deleted, manifests_deleted, bytes_freed}; the file
        counts are data files. A live file's checksum sidecar
        (``.<name>.crc``) stays while the file is referenced and goes
        with it, uncounted, as do leftover ``_SUCCESS`` markers.

        ``dry_run=True`` (Iceberg/Delta's VACUUM DRY RUN) reports the
        same counts while touching NOTHING — no data files, no
        manifests, and no stale-marker sweeping (a dry run must be
        side-effect-free; an aged-out marker merely isn't counted
        toward the cutoff, same as when it is swept).

        Concurrency: a vacuum racing an in-flight commit (between
        _write_data and _publish) must not delete the just-written
        uncommitted files. Two guards: (1) files whose mtime is at or
        after the latest manifest's mtime minus ``grace_s`` are skipped
        (Iceberg's orphan-removal grace window); (2) every commit holds
        an ``_inflight.*`` marker for its WHOLE read-classify-commit
        span (r05 — previously only write→publish): the deletion cutoff
        is floored at the oldest live marker's mtime (protecting freshly
        WRITTEN files), and additionally every snapshot VERSION
        committed since that marker appeared — plus the newest one
        before it, the latest at marker creation — is retained, so a
        commit's pinned classify snapshot can't be expired mid-read by
        fast metadata churn no matter how small ``keep_versions`` is.
        Markers of either kind (``_inflight.*``, ``_restore-intent.*``)
        older than ``inflight_max_age_s`` are crashed writers' leftovers:
        never live, and swept (unless ``dry_run``) so they can't block
        vacuum forever. (3) a live ``_restore-intent.{v}.*`` marker (an
        in-flight ``rollback`` or ``tag``) adds version ``v`` to the kept
        set — its OLD files are what the rollback is about to
        re-reference, and no mtime guard can protect old files. (4)
        ``tag.*`` properties on the latest manifest pin their versions
        durably until untagged.

        Readers pinned to an expired snapshot (e.g. a long job that
        called ``read(version=...)`` on a version outside the kept
        window) fail LOUDLY at scan time once its files are reclaimed —
        retention must cover the longest reader, exactly Iceberg's
        expire_snapshots contract; there is no silent-wrong-data arm.

        **Metadata compaction**: commit records are deltas, so before
        dropping the records below a retained version this writes a full
        ``v{N}.ckpt.json`` for the oldest version of each contiguous
        retained run (the Iceberg rewrite-manifests analog) — every kept
        version stays reconstructible from records ≥ its run minimum.
        Checkpoints of dropped versions are removed with their records.

        The tag/rollback-vs-vacuum residue (ADVICE r04): pins are
        re-listed (live ``_restore-intent`` markers + the CURRENT latest
        manifest's ``tag.*``) immediately before the data-file deletion
        walk, so a pin that appeared after the first scan still retains
        its files. This NARROWS the race to the walk itself rather than
        closing it — the unavoidable residue is detected by tag()/
        rollback()'s post-publish file re-check, which reverts/untags
        before raising."""
        if keep_versions < 1:
            # keep_versions=0 would compute an EMPTY keep set and delete
            # every record including the latest — one operator typo from
            # irreversibly losing the table
            raise ValueError(f"keep_versions must be >= 1, got {keep_versions}")
        latest = self.latest_version()
        keep = set(range(max(0, latest - keep_versions + 1), latest + 1))
        keep |= self._pinned_versions(inflight_max_age_s, sweep=not dry_run)
        cutoff = (
            os.path.getmtime(os.path.join(self._meta_dir, f"v{latest}.json")) - grace_s
        )
        live_marker_mtimes = [
            mt for _, mt in self._live_markers("_inflight.", inflight_max_age_s, not dry_run)
        ]
        if live_marker_mtimes:
            cutoff = min(cutoff, min(live_marker_mtimes))
        # live in-flight markers pin the SNAPSHOT WINDOW they started
        # under (r05, found by the multi-writer soak): a commit's
        # read-classify-commit span holds a marker for its whole
        # duration, and the snapshot it pinned was the latest at marker
        # creation — so retain every version committed since the oldest
        # live marker appeared, plus the newest one before it (that
        # latest). Without this, fast metadata churn (tag/untag are
        # ~10ms commits) expires a mid-classify snapshot in seconds no
        # matter what keep_versions says. Plain read(version=...)
        # callers outside a marker span remain under the retention
        # contract (fail loudly when expired).
        if live_marker_mtimes:
            floor = min(live_marker_mtimes)
            vers: list[tuple[int, float]] = []
            for fn in os.listdir(self._meta_dir):
                if fn.startswith("v") and fn.endswith(".json") and ".ckpt." not in fn:
                    with contextlib.suppress(ValueError, OSError):
                        vers.append(
                            (int(fn[1:-5]), os.path.getmtime(os.path.join(self._meta_dir, fn)))
                        )
            since = {v for v, mt in vers if mt >= floor and v <= latest}
            before = [v for v, mt in vers if mt < floor]
            keep |= since
            if before:
                keep.add(max(before))
        referenced: set[str] = set()
        for v in sorted(keep):
            try:
                entries = self.manifest(v).files
            except FileNotFoundError:
                if v == latest:
                    # an unreadable LATEST is table damage — deleting
                    # more (its record would leave keep, its files never
                    # enter `referenced`) escalates recoverable metadata
                    # damage into permanent data loss; abort loudly
                    raise RuntimeError(
                        f"vacuum: latest snapshot v{latest} does not "
                        "materialize — refusing to delete anything; run "
                        "fsck and repair first"
                    ) from None
                # an older keep-window/pin version with no record was
                # legitimately expired by an earlier, narrower vacuum
                keep.discard(v)
                continue
            for e in entries:
                referenced.add(os.path.normpath(os.path.join(self.root, e["path"])))
        # late re-pin (ADVICE r04): a rollback/tag whose intent marker or
        # tag property landed AFTER the scans above would otherwise lose
        # its target's files to this very walk — re-list both now, as
        # close to the deletion as possible
        for v in sorted(self._pinned_versions(inflight_max_age_s) - keep):
            if v > latest:
                continue
            try:
                entries = self.manifest(v).files
            except FileNotFoundError:
                continue  # already expired by an earlier vacuum
            keep.add(v)
            for e in entries:
                referenced.add(os.path.normpath(os.path.join(self.root, e["path"])))
        # metadata compaction: records below a retained run's minimum are
        # about to be dropped — give each run minimum a full checkpoint
        # first so every kept version stays reconstructible (records are
        # all still present here, so materialization cannot race the
        # deletions below)
        if not dry_run:
            self._ensure_run_checkpoints(keep)
        stats = {"files_deleted": 0, "manifests_deleted": 0, "bytes_freed": 0}
        for dirpath, _dirs, files in os.walk(self._data_dir):
            for fn in files:
                p = os.path.normpath(os.path.join(dirpath, fn))
                if p in referenced:
                    continue
                # Hadoop's checksum sidecar ``.<name>.crc`` belongs to its
                # data file: a checksummed open of a live file fails once
                # its sidecar is gone (FAILED_READ_FILE). It goes only
                # with its file; pyarrow-written files have none
                if fn.startswith(".") and fn.endswith(".crc") and (
                    os.path.normpath(os.path.join(dirpath, fn[1:-4])) in referenced
                ):
                    continue
                # a file can vanish between the walk listing and the stat:
                # a crashed commit's RETRY mode("overwrite")s its own
                # data/<commit_dir>/ garbage, and Spark's _temporary
                # staging files move at job commit. Such files were never
                # referenced by any manifest, so skipping them is always
                # safe — the alternative is the whole sweep aborting on a
                # concurrent writer's cleanup (OSError mid-walk)
                try:
                    if os.path.getmtime(p) >= cutoff:
                        continue
                    size = os.path.getsize(p)
                    if not dry_run:
                        os.remove(p)
                except OSError:
                    continue
                # the counts are what retention frees — data files; the
                # sidecars and job markers (``_SUCCESS``) that go with
                # them are not counted
                if fn.endswith(".parquet"):
                    stats["bytes_freed"] += size
                    stats["files_deleted"] += 1
        for fn in os.listdir(self._meta_dir):
            # crashed-publish temp files (v{N}.json.tmp.{hex}) age out
            # with the same cutoff as data files (checked BEFORE the
            # .json parse — their suffix fails endswith('.json'))
            if fn.startswith("v") and ".json.tmp." in fn:
                if not dry_run:
                    p = os.path.join(self._meta_dir, fn)
                    with contextlib.suppress(OSError):
                        if os.path.getmtime(p) < cutoff:
                            os.remove(p)
                continue
            if fn.startswith("v") and fn.endswith(".ckpt.json"):
                # derived checkpoints expire with their version (not
                # counted in manifests_deleted — dry_run counts must
                # equal a real run's, and a real run may itself CREATE
                # run-minimum checkpoints dry_run doesn't)
                try:
                    v = int(fn[1:-10])
                except ValueError:
                    continue
                if v not in keep and v <= latest and not dry_run:
                    with contextlib.suppress(OSError):
                        os.remove(os.path.join(self._meta_dir, fn))
                continue
            if fn.startswith("v") and fn.endswith(".json"):
                try:
                    v = int(fn[1:-5])
                except ValueError:
                    continue
                # NEVER touch manifests newer than the latest this vacuum
                # snapshotted: a concurrent commit (epoch, compact, tag,
                # rollback) may have published v{latest+1} mid-run, and
                # deleting it would erase a committed transaction and
                # leave the pointer naming a missing manifest
                if v not in keep and v <= latest:
                    if dry_run:
                        stats["manifests_deleted"] += 1
                        continue
                    # a concurrent vacuum can expire the same manifest
                    # first — credit it the removal and keep sweeping
                    try:
                        os.remove(os.path.join(self._meta_dir, fn))
                    except OSError:
                        continue
                    stats["manifests_deleted"] += 1
        return stats

    def _live_markers(
        self, prefix: str, max_age_s: float, sweep: bool
    ) -> "list[tuple[str, float]]":
        """(name, mtime) of the live ``prefix`` markers in the meta dir.
        A marker older than ``max_age_s`` is a crashed writer's leftover:
        never live, and removed when ``sweep`` (not on a dry run)."""
        import time as _time

        now = _time.time()
        live = []
        with contextlib.suppress(OSError):
            for fn in os.listdir(self._meta_dir):
                if not fn.startswith(prefix):
                    continue
                p = os.path.join(self._meta_dir, fn)
                try:
                    mt = os.path.getmtime(p)
                except OSError:
                    continue  # marker removed between listdir and stat
                if now - mt > max_age_s:
                    if sweep:
                        with contextlib.suppress(OSError):
                            os.remove(p)
                    continue
                live.append((fn, mt))
        return live

    def _pinned_versions(self, max_age_s: float, sweep: bool = False) -> "set[int]":
        """Versions pinned RIGHT NOW: a live ``_restore-intent.{v}.*``
        marker (an in-flight ``rollback`` or ``tag``) pins ``v``, and a
        ``tag.*`` property of the current latest manifest pins its
        version durably until untagged. Vacuum's first scan and its late
        re-scan just before the deletion walk both ask here, so a dry run
        and a real run keep the same versions; ``sweep`` (the first scan
        of a real run) also removes aged-out intent markers."""
        pins: set[int] = set()
        for fn, _ in self._live_markers("_restore-intent.", max_age_s, sweep):
            with contextlib.suppress(ValueError, IndexError):
                pins.add(int(fn.split(".")[1]))
        with contextlib.suppress(OSError):
            for k, v in self.manifest(self.latest_version()).properties.items():
                if k.startswith("tag."):
                    with contextlib.suppress(TypeError, ValueError):
                        pins.add(int(v))
        return pins

    def _ensure_run_checkpoints(self, keep: "set[int]") -> None:
        """Write a full ``v{N}.ckpt.json`` for the minimum of every
        contiguous run of retained versions whose record is a delta (its
        parent record is about to be vacuumed). Idempotent; checkpoint
        content is deterministic, so concurrent writers converge."""
        for v in sorted(keep):
            if v - 1 in keep or v == 0:
                continue  # interior of a run, or v0 (always full)
            if os.path.exists(self._ckpt_path(v)):
                continue
            try:
                if not _is_delta_record(self._load_record(v)):
                    continue  # full record is self-sufficient
                m = self._materialize(v)
            except FileNotFoundError:
                continue  # expired earlier; nothing to preserve
            # a FAILED checkpoint write (ENOSPC/EIO) must abort the
            # vacuum: the deletion walk below is about to drop this
            # run's parent records, and without the checkpoint every
            # version in the run — including possibly the latest —
            # becomes permanently unreconstructible in a fresh process
            _atomic_write(self._ckpt_path(v), m.to_json())

    # ------------------------------------------------------- introspection
    def row_count(self) -> int:
        """RowCountTask analog — manifest stats, no scan. Exact while no
        delta files are live; with merge-on-read deltas it is an upper
        bound (superseded rows + tombstones still count) until
        ``compact()`` runs."""
        return self.manifest().total_rows

    def schema(self, version: int | None = None) -> T.StructType:
        return self.manifest().schema(version)

    def fsck(
        self,
        deep: bool = False,
        delta_dir: str | None = None,
        spark: Any = None,
    ) -> dict[str, Any]:
        """Read-only integrity audit of this table (engine/fsck.py):
        manifest chain, checkpoint agreement, file liveness, bloom
        decodability, tag pins, orphan listing — plus the change log's
        rename-protocol invariants when ``delta_dir`` is given. Returns
        the report dict; ``report["ok"]`` is False iff errors found.
        Pass ``spark`` with ``deep=True`` to distribute the per-file
        footer scan (one Spark job instead of O(#files) driver reads)."""
        from .fsck import fsck as _fsck

        return _fsck(self, deep=deep, delta_dir=delta_dir, spark=spark)

    def history(self) -> list[dict[str, Any]]:
        """Snapshot history, newest first, within the retained (not yet
        vacuumed) manifest window — the Delta ``DESCRIBE HISTORY`` /
        Iceberg snapshot-log analog, straight off the manifests (no
        scan). Each entry: version, operation, parent, file/row totals,
        epochs committed so far, and current schema version."""
        out: list[dict[str, Any]] = []
        for v in range(self.latest_version(), -1, -1):
            try:
                m = self.manifest(v)
            except FileNotFoundError:
                break  # older manifests vacuumed away
            out.append(
                {
                    "version": v,
                    "operation": m.operation,
                    "parent": m.parent,
                    "n_files": len(m.files),
                    "total_rows": m.total_rows,
                    "n_epochs": len(m.committed_epochs),
                    "schema_version": m.current_schema_version,
                    "n_buckets": m.n_buckets,
                }
            )
        return out

    # ----------------------------------------------------- metadata tables
    _FILES_DF_SCHEMA = T.StructType(
        [
            T.StructField("path", T.StringType(), False),
            T.StructField("bucket", T.IntegerType(), False),
            T.StructField("rows", T.LongType(), False),
            T.StructField("kind", T.StringType(), False),
            T.StructField("schema_version", T.IntegerType(), True),
            T.StructField("khash_min", T.LongType(), True),
            T.StructField("khash_max", T.LongType(), True),
            T.StructField("has_bloom", T.BooleanType(), False),
            T.StructField("size_bytes", T.LongType(), True),
        ]
    )

    def files_df(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        """Iceberg ``table.files`` metadata-table analog: the snapshot's
        manifest entries as a DataFrame (bounded metadata — one row per
        live data file, no data scan), SQL-addressable via
        ``createOrReplaceTempView``. The operator's window into layout
        health: delta backlog per bucket (``kind='delta'``), row/size
        skew across buckets, pruning-stat coverage."""
        m = self.manifest(version)
        rows = []
        for e in m.files:
            p = os.path.join(self.root, e["path"])
            try:
                size = os.path.getsize(p)
            except OSError:
                size = None
            rows.append(
                (
                    e["path"],
                    int(e["bucket"]),
                    int(e["rows"]),
                    e.get("kind", "base"),
                    e.get("schema_version"),
                    e.get("khash_min"),
                    e.get("khash_max"),
                    "khash_bloom" in e,
                    size,
                )
            )
        return spark.createDataFrame(rows, self._FILES_DF_SCHEMA)

    _HISTORY_DF_SCHEMA = T.StructType(
        [
            T.StructField("version", T.IntegerType(), False),
            T.StructField("operation", T.StringType(), False),
            T.StructField("parent", T.IntegerType(), True),
            T.StructField("n_files", T.IntegerType(), False),
            T.StructField("total_rows", T.LongType(), False),
            T.StructField("n_epochs", T.IntegerType(), False),
            T.StructField("schema_version", T.IntegerType(), False),
            T.StructField("n_buckets", T.IntegerType(), False),
        ]
    )

    def history_df(self, spark: SparkSession) -> DataFrame:
        """``DESCRIBE HISTORY`` as a DataFrame (see ``history()``)."""
        rows = [tuple(h[f.name] for f in self._HISTORY_DF_SCHEMA.fields) for h in self.history()]
        return spark.createDataFrame(rows, self._HISTORY_DF_SCHEMA)
