"""The driver path: point lookups for ``LakeTable.lookup_keys`` (the
probe, the gate, and the driver-side read of the pruned files), and the
Arrow kernels of a small merge epoch served on the driver
(``merge._apply_epoch_driver``; see the section at the end).

A 50-key probe of a merge-on-read table resolves to about 50 rows in
about 20 files that the manifest has already picked (bucket, min/max
key hash, Bloom). Running that as Spark jobs costs a scan, a merge
shuffle and a semi-join — about 1.5 s of fixed cost for 50 rows. When
the picked files are small, this module reads them with pyarrow on the
driver, applies the merge-on-read rule of ``LakeTable.read`` in one
Arrow kernel (``probe_merge``), and hands the rows back to Spark as a
local relation, so a probe runs no Spark job at all (the Delta Lake
paper's data skipping plus a cheap execution mode for small inputs,
PAPERS.md).

Spark stays the only author of key casting and hashing: the probe is an
Arrow table typed by the key schema, handed to ``createDataFrame`` (a
``LocalRelation``), and its cast keys, ``key_hash`` and ``bucket_expr``
come back from one ``collect()`` that Spark folds on the driver
(``LakeTable._probe_keys``). Do not build the probe from pandas (a
nullable int64 column turns into float64, so ``2**60 + 1`` next to a
``None`` hashes as ``2**60``) or from a parameterized multi-row
``VALUES`` list (positional markers bind out of order);
``tests/test_lake.py`` pins both.
"""

from __future__ import annotations

import os
from typing import TYPE_CHECKING, Any

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from .lake import BUCKET_COL, KHASH_COL, MOR_OP_COL, MOR_ORDER_COL

if TYPE_CHECKING:
    from .lake import LakeTable, Manifest

# Largest sum of manifest ``rows`` over the pruned files that is served
# on the driver. Measured on a 4-vCPU host at local[2], with 50-key
# probes of a 16-bucket copy-on-write table of ~300 B rows that touch
# every file (base files, so the pushed ``__khash IN`` filter skips no
# row group), median driver vs Spark path: 200k rows 170 vs 669 ms,
# 1M 310 vs 990 ms, 3.2M 646 vs 1,480 ms, 6.4M 1,446 vs 2,603 ms. No
# crossover in time up to 6.4M rows; what grows is the driver's own
# memory, because pyarrow decodes every admitted row group before it
# filters: the Python process peaked at 0.53 GB at 1M rows (0.12 GB
# with Spark started and nothing read) and 2.2 GB at 6.4M. The constant
# holds the driver to about half a gigabyte for such rows, and leaves
# larger reads to executors, which a cluster scales out.
DRIVER_MAX_ROWS = 1_000_000

# Largest merge epoch (event rows, by footer count) served on the driver
# (``merge._apply_epoch_driver``); its events and snapshot rows together
# also stay under ``DRIVER_MAX_ROWS``. An epoch holds more copies of its
# rows than a probe does (the events, their Spark relation, the
# projection's result, the winners, the snapshot rows), so it gets its
# own bound. Measured on a 4-vCPU host at local[4], with bench.py's
# event shape (``gen_events``) landed into a 32-bucket merge-on-read table,
# the second epoch of a fresh table (its table about 0.78x the epoch),
# median of two, driver vs Spark path: 1k events 0.48 vs 3.55 s, 10k
# 0.83 vs 4.08 s, 100k 3.62 vs 5.62 s, 200k 2.75 vs 6.22 s, 400k 5.02 vs
# 8.38 s, 800k (bench.py's MoR epoch) 8.25 vs 12.99 s. No crossover in
# time; what grows is the driver's memory: the Python process peaked at
# 0.17, 0.20, 0.36, 0.55, 0.93 and 1.59 GB (0.12 GB with Spark started).
# The bound holds the driver to about half a gigabyte, as
# ``DRIVER_MAX_ROWS`` does, and caps what a refusal by the snapshot rule
# (checked after the projection) adds before the Spark path runs: 1.1 to
# 3.5 s at 100k–200k events, 5.2 s at 800k (one run each; BENCH.md,
# "The epoch gate").
DRIVER_EPOCH_MAX_ROWS = 200_000

_ORDER_RANK = "__op_rank"
_ROW_INDEX = "__i"


def serve_probe(
    table: "LakeTable", spark: SparkSession, m: "Manifest", probe: DataFrame, hb: list[Row]
) -> DataFrame:
    """Current rows of snapshot ``m`` for the keys of ``probe``, given its
    collected (cast keys, ``__h``, ``__b``) rows ``hb``; see
    ``LakeTable.lookup_keys`` for the contract, the paths and the gate."""
    key_cols = list(m.key_cols)
    hashes = sorted({int(r["__h"]) for r in hb})
    buckets = sorted({int(r["__b"]) for r in hb})
    bset = set(buckets)
    entries = table._prune_by_khash([e for e in m.files if e["bucket"] in bset], hashes)
    if types_rule(m.schema(), key_cols) is None and files_rule(m, entries) is None:
        cast_keys = probe_table(probe.schema, [tuple(r[c] for c in key_cols) for r in hb])
        rows = _read_on_driver(table.root, m, entries, hashes, cast_keys)
        return spark.createDataFrame(rows.combine_chunks(), output_schema(m))
    # pin the snapshot the hashes/buckets were derived from (ADVICE
    # r03): re-resolving _latest inside read() would race a concurrent
    # commit/rebucket — bucket ids computed under the old n_buckets
    # would prune the wrong files of the new snapshot
    df = table.read(spark, buckets=buckets, key_hashes=hashes, version=m.version)
    return df.join(F.broadcast(probe), on=key_cols, how="left_semi")


def probe_table(ktype: T.StructType, keys: list[tuple]) -> pa.Table:
    """The probe keys as one Arrow table typed by ``ktype``. One chunk:
    ``createDataFrame`` drops every row after an empty record batch."""
    width = len(ktype.fields)
    bad = [k for k in keys if len(k) != width]
    if bad:
        raise ValueError(f"lookup key {bad[0]!r} does not match the {width} key columns {ktype.names}")
    cols = list(zip(*keys)) if keys else [()] * width
    schema = arrow_schema(ktype)
    return pa.Table.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(cols, schema)], schema=schema
    )


def arrow_schema(schema: T.StructType) -> pa.Schema:
    return to_arrow_schema(schema, error_on_duplicated_field_names_in_struct=True)


# atomic types whose parquet → pyarrow → ``createDataFrame`` round trip
# is exact (tests/test_lake.py::test_driver_lookup_round_trips_column_types)
_ARROW_ATOMIC = (
    T.StringType, T.BinaryType, T.BooleanType, T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.DecimalType, T.DateType, T.TimestampType, T.TimestampNTZType,
)


def _arrow_exact(dt: T.DataType) -> bool:
    """The atomic types above, and arrays of them other than timestamps.
    Arrow conversion cannot carry MapType, ArrayType of TimestampType or
    nested StructType (SNIPPETS.md [1]); those, and any type not listed,
    take the Spark path."""
    if isinstance(dt, T.ArrayType):
        el = dt.elementType
        return isinstance(el, _ARROW_ATOMIC) and not isinstance(el, (T.TimestampType, T.TimestampNTZType))
    return isinstance(dt, _ARROW_ATOMIC)


# key types the driver never serves: Spark normalizes NaN and -0.0 in
# grouping and join keys, Arrow does not, and a session-zoned timestamp's
# collected value depends on the Python process's zone
INEXACT_KEY_TYPES = (T.FloatType, T.DoubleType, T.TimestampType)


def types_rule(schema: T.StructType, key_cols: list[str]) -> str | None:
    """The type rules of the driver path, checked once per schema (the
    table's, and for a merge epoch also the events'). Returns None, or
    the name of the rule that failed:

    * ``key type`` — no key column is of ``INEXACT_KEY_TYPES``;
    * ``types`` — every column's type round-trips through Arrow exactly
      (``_arrow_exact``)."""
    if any(isinstance(schema[c].dataType, INEXACT_KEY_TYPES) for c in key_cols):
        return "key type"
    return None if all(_arrow_exact(f.dataType) for f in schema.fields) else "types"


def files_rule(m: "Manifest", entries: list[dict[str, Any]], extra_rows: int = 0) -> str | None:
    """The file rules of the driver path: the driver reads ``entries`` of
    snapshot ``m`` only when both hold (the caller has already checked
    ``types_rule`` on ``m``'s schema); otherwise the caller's Spark path
    runs, so no rule gets a second author. Returns None, or the name of
    the rule that failed:

    * ``rows`` — the files hold at most ``DRIVER_MAX_ROWS`` rows, less
      ``extra_rows`` the caller also holds (manifest counts, known before
      any read; an entry without a count falls back);
    * ``schema version`` — every file's stored schema is the current
      one: there is no Arrow copy of ``align_to_schema``."""
    rows = [e.get("rows") for e in entries]
    if None in rows or extra_rows + sum(rows) > DRIVER_MAX_ROWS:
        return "rows"
    cur = m.schema()
    if any(m.schema(v) != cur for v in {e["schema_version"] for e in entries}):
        return "schema version"
    return None


def output_schema(m: "Manifest") -> T.StructType:
    """``read()``'s columns and types with ``bucket``; file scans make
    every column nullable, and so does this."""
    return T.StructType(
        [T.StructField(f.name, f.dataType, True) for f in m.schema().fields]
        + [T.StructField(BUCKET_COL, T.IntegerType(), True)]
    )


def _read_on_driver(
    root: str,
    m: "Manifest",
    entries: list[dict[str, Any]],
    hashes: list[int],
    probe: pa.Table,
) -> pa.Table:
    """The current rows of snapshot ``m`` for the keys of ``probe``, read
    from ``entries`` (pruned to ``hashes``), as an Arrow table typed by
    ``output_schema(m)``."""
    target = arrow_schema(output_schema(m))
    mor = pa.schema([pa.field(MOR_OP_COL, pa.string()), pa.field(MOR_ORDER_COL, pa.int64())])
    # INT96 timestamps at microseconds: the nanosecond default overflows
    # outside 1677–2262
    fmt = ds.ParquetFileFormat(read_options=ds.ParquetReadOptions(coerce_int96_timestamp_unit="us"))
    hit = pc.field(KHASH_COL).isin(hashes)

    def scan(es: list[dict[str, Any]], schema: pa.Schema) -> pa.Table:
        if not es:
            return schema.empty_table()
        paths = [os.path.join(root, e["path"]) for e in es]
        got = ds.dataset(paths, format=fmt).to_table(columns=schema.names, filter=hit)
        # Spark's parquet timestamps are UTC instants; a naive read
        # would be localized to the session zone by createDataFrame
        return got.cast(schema)

    dirty = {e["bucket"] for e in entries if e.get("kind") == "delta"}
    return probe_merge(
        scan([e for e in entries if e["bucket"] not in dirty], target),
        scan([e for e in entries if e["bucket"] in dirty and e.get("kind") != "delta"], target),
        scan([e for e in entries if e.get("kind") == "delta"], pa.schema([*target, *mor])),
        probe,
        list(m.key_cols),
    )


def probe_merge(
    clean: pa.Table, dirty_base: pa.Table, delta: pa.Table, probe: pa.Table, key_cols: list[str]
) -> pa.Table:
    """The merge-on-read rule of ``LakeTable.read`` (see the comment at
    its ``max_by`` merge; change the two together), over Arrow tables,
    restricted to the keys of ``probe``:

    * ``clean`` rows (buckets with no delta file) pass through;
    * ``dirty_base`` rows are upserts at order 0;
    * per key, the highest ``__order`` wins among base and ``delta``
      rows, and at equal order an upsert outranks a tombstone;
    * tombstones are dropped;
    * only keys equal to a ``probe`` row are kept, and a NULL key
      component never matches, as in the equi semi-join.

    ``clean`` and ``dirty_base`` share a schema; ``delta`` has it plus
    ``__op`` and ``__order``. Returns ``clean``'s columns."""
    probe = probe.select(key_cols).drop_null()
    n = dirty_base.num_rows
    base = dirty_base.append_column(MOR_OP_COL, pa.repeat("upsert", n)).append_column(
        MOR_ORDER_COL, pa.repeat(0, n)
    )
    rows = _semi_join(pa.concat_tables([base, delta]), probe, key_cols)
    rows = rows.append_column(_ORDER_RANK, pc.not_equal(rows[MOR_OP_COL], "delete").cast(pa.int8()))
    rows = rows.sort_by(
        [(k, "ascending") for k in key_cols]
        + [(MOR_ORDER_COL, "descending"), (_ORDER_RANK, "descending")]
    )
    winners = rows.filter(pc.and_(_first_of_key(rows, key_cols), pc.not_equal(rows[_ORDER_RANK], 0)))
    return pa.concat_tables([_semi_join(clean, probe, key_cols), winners.select(clean.column_names)])


def _semi_join(t: pa.Table, probe: pa.Table, key_cols: list[str]) -> pa.Table:
    """Rows of ``t`` whose key equals a ``probe`` row. The join carries
    only the keys and a row index: Acero joins no list payloads."""
    index = pa.array(np.arange(t.num_rows, dtype=np.int64))
    keyed = t.select(key_cols).append_column(_ROW_INDEX, index)
    hit = keyed.join(probe, keys=key_cols, join_type="left semi")
    return t.filter(pc.is_in(index, value_set=hit[_ROW_INDEX].combine_chunks()))


def _first_of_key(rows: pa.Table, key_cols: list[str]) -> pa.Array:
    """True at the first row of each key run of key-sorted, NULL-free
    ``rows``."""
    n = rows.num_rows
    if n == 0:
        return pa.array([], pa.bool_())
    change = pa.repeat(False, n - 1)
    for k in key_cols:
        col = rows[k].combine_chunks()
        change = pc.or_(change, pc.not_equal(col.slice(1), col.slice(0, n - 1)))
    return pa.concat_arrays([pa.array([True]), change])


# ------------------------------------------- small merge epochs on the driver
#
# The set operations of a small merge-on-read DELTA epoch
# (``merge._apply_epoch_driver``). Spark still computes every per-row
# expression of the epoch (casts, key hash, bucket, LWW tie-break,
# malformed predicate) in one projection; these kernels only pick, join
# and count. Each mirrors a Spark rule named in its docstring, and that
# rule names the kernel back: change the two together.

ACTION_COL = "action"
_BATCH_INDEX = "__bi"
_SNAP_INDEX = "__si"


def lww_pick(rows: pa.Table, group_cols: list[str], order_cols: list[str]) -> pa.Table:
    """The last-writer-wins rule of ``operators.dedupe.dedupe_lww`` (what
    ``merge.dedupe_lww`` runs) over an Arrow table: per value of
    ``group_cols``, the row with the highest ``order_cols`` tuple — for a
    merge epoch ``(seq, tie)``, where Spark computed the tie-break hash
    (``operators.dedupe.payload_tie_break``). ``rows`` must hold no NULL
    in ``group_cols`` or ``order_cols``: Spark orders NULL lowest, Arrow
    sorts it last."""
    ordered = rows.sort_by(
        [(c, "ascending") for c in group_cols] + [(c, "descending") for c in order_cols]
    )
    return ordered.filter(_first_of_key(ordered, group_cols))


def classify_delta(
    batch: pa.Table,
    snap: pa.Table,
    key_cols: list[str],
    op_col: str,
    compare_cols: list[str],
    payload_cols: list[str],
) -> pa.Table:
    """The ``MergeMode.DELTA`` rule of ``merge.classify`` over Arrow
    tables. ``batch`` holds the LWW winners (NULL-free keys), ``snap``
    the current rows of their keys; both carry ``payload_cols`` at the
    table's types. Per ``batch`` row:

    * a tombstone (``op_col`` = ``delete``) of a present key logs
      ``delete``, one of an absent key logs nothing;
    * an absent key logs ``insert``;
    * a present key logs ``update`` when a compare column differs
      (NULL-safe, Spark's ``<=>``), else ``exists``.

    Snapshot-only keys are not logged: DELTA leaves them untouched.
    Returns the logged rows: ``batch``'s columns, with ``snap``'s payload
    for ``delete`` and ``exists`` (the old value, as ``classify`` keeps
    it), plus ``action``."""
    b_index = pa.array(np.arange(batch.num_rows, dtype=np.int64))
    s_index = pa.array(np.arange(snap.num_rows, dtype=np.int64))
    pairs = (
        batch.select(key_cols).append_column(_BATCH_INDEX, b_index)
        .join(snap.select(key_cols).append_column(_SNAP_INDEX, s_index), keys=key_cols, join_type="left outer")
        .sort_by(_BATCH_INDEX)  # the join's output order is not deterministic
    )
    e = batch.take(pairs[_BATCH_INDEX])
    s = snap.take(pairs[_SNAP_INDEX])  # a NULL index takes a NULL row
    s_here = pc.is_valid(pairs[_SNAP_INDEX])
    tomb = pc.equal(e[op_col], "delete")
    same = pa.array(np.ones(e.num_rows, dtype=bool))
    for c in compare_cols:
        eq = pc.fill_null(pc.equal(s[c], e[c]), False)
        same = pc.and_(same, pc.or_(eq, pc.and_(pc.is_null(s[c]), pc.is_null(e[c]))))
    act = lambda a: pa.scalar(a, pa.string())  # noqa: E731
    action = pc.if_else(
        s_here,
        pc.if_else(tomb, act("delete"), pc.if_else(same, act("exists"), act("update"))),
        pc.if_else(tomb, act(None), act("insert")),
    )
    take_new = pc.fill_null(pc.is_in(action, value_set=pa.array(["insert", "update"])), False)
    take_old = pc.fill_null(pc.is_in(action, value_set=pa.array(["delete", "exists"])), False)
    old = e.filter(take_old)
    for c in payload_cols:
        old = old.set_column(old.schema.get_field_index(c), c, s[c].filter(take_old))
    return pa.concat_tables([
        e.filter(take_new).append_column(ACTION_COL, action.filter(take_new)),
        old.append_column(ACTION_COL, action.filter(take_old)),
    ])


def epoch_stats(
    batch: pa.Table, logged: pa.Table, seq_col: str
) -> tuple[dict[str, int], list[int], dict[int, dict[str, int]]]:
    """``MergeResult``'s counts, changed buckets and offsets, as
    ``merge._apply_epoch_pinned`` derives them with Spark (the
    ``groupBy(bucket)`` offsets job over the LWW winners, and the
    ``groupBy(bucket, action)`` count over the staged delta log): per
    action the logged rows, the buckets with an insert, update or
    delete, and per bucket of ``batch`` its highest ``seq_col`` and its
    row count. Every output is at most ``n_buckets`` values."""
    counts = {
        r["values"]: int(r["counts"]) for r in pc.value_counts(logged[ACTION_COL]).to_pylist()
    }
    changed = logged.filter(pc.not_equal(logged[ACTION_COL], "exists"))[BUCKET_COL]
    g = batch.group_by(BUCKET_COL).aggregate([(seq_col, "max"), (seq_col, "count")])
    offsets = {
        int(b): {"max_seq": int(mx), "rows": int(n)}
        for b, mx, n in zip(
            g[BUCKET_COL].to_pylist(), g[f"{seq_col}_max"].to_pylist(), g[f"{seq_col}_count"].to_pylist()
        )
    }
    return counts, sorted(pc.unique(changed).to_pylist()), offsets
