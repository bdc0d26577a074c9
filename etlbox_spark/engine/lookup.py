"""Point lookups for ``LakeTable.lookup_keys``: the probe, the gate, and
the driver-side read of the pruned files.

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
    if _driver_covers(m, entries):
        cast_keys = probe_table(probe.schema, [tuple(r[c] for c in key_cols) for r in hb])
        return _read_on_driver(spark, table.root, m, entries, hashes, cast_keys)
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
    schema = _arrow_schema(ktype)
    return pa.Table.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(cols, schema)], schema=schema
    )


def _arrow_schema(schema: T.StructType) -> pa.Schema:
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


def _driver_covers(m: "Manifest", entries: list[dict[str, Any]]) -> bool:
    """The driver path serves a probe only when all of these hold;
    otherwise ``read()`` plus the semi-join runs, so no rule gets a
    second author:

    * the pruned files hold at most ``DRIVER_MAX_ROWS`` rows (manifest
      counts, known before any read; an entry without a count falls
      back);
    * every pruned file's stored schema is the current one — there is no
      Arrow copy of ``align_to_schema``;
    * no key column is float or double (Spark normalizes NaN and -0.0 in
      grouping and join keys, Arrow does not) or a session-zoned
      timestamp (its collected value depends on the Python process's
      zone);
    * every column's type round-trips through Arrow exactly."""
    rows = [e.get("rows") for e in entries]
    if None in rows or sum(rows) > DRIVER_MAX_ROWS:
        return False
    cur = m.schema()
    if any(m.schema(v) != cur for v in {e["schema_version"] for e in entries}):
        return False
    if any(isinstance(cur[c].dataType, (T.FloatType, T.DoubleType, T.TimestampType)) for c in m.key_cols):
        return False
    return all(_arrow_exact(f.dataType) for f in cur.fields)


def _output_schema(m: "Manifest") -> T.StructType:
    """``read()``'s columns and types with ``bucket``; file scans make
    every column nullable, and so does this."""
    return T.StructType(
        [T.StructField(f.name, f.dataType, True) for f in m.schema().fields]
        + [T.StructField(BUCKET_COL, T.IntegerType(), True)]
    )


def _read_on_driver(
    spark: SparkSession,
    root: str,
    m: "Manifest",
    entries: list[dict[str, Any]],
    hashes: list[int],
    probe: pa.Table,
) -> DataFrame:
    out = _output_schema(m)
    target = _arrow_schema(out)
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
    result = probe_merge(
        scan([e for e in entries if e["bucket"] not in dirty], target),
        scan([e for e in entries if e["bucket"] in dirty and e.get("kind") != "delta"], target),
        scan([e for e in entries if e.get("kind") == "delta"], pa.schema([*target, *mor])),
        probe,
        list(m.key_cols),
    )
    return spark.createDataFrame(result.combine_chunks(), out)


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
