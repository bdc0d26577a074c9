"""Deduplication & ranking primitives.

``dedupe_lww`` generalizes the engine's merge dedupe (SURVEY.md §2.6) to
any (keys, order) pair; ``exact_dedup`` is the exact-duplicate stage of a
training-data pipeline (hash-groupBy on content); ``top_k_per_group`` is
the standard window idiom.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def payload_tie_break(df: DataFrame, payload_cols: Sequence[str]) -> Column:
    """Deterministic 8-byte tie-breaker for LWW-style max_by orderings:
    xxhash64 of the (hashable) payload columns. Bare ``max_by`` returns a
    partition-order-dependent survivor when rows TIE on the ordering —
    the determinism invariant (CLAUDE.md) bans that in data paths, and
    appending the full payload struct to the ordering would double the
    combiner state on a 10^10-row shuffle; the hash costs 8 bytes.
    Residue: rows identical in every hashable column but differing in a
    column whose type contains a map anywhere (xxhash64 rejects maps,
    also inside a struct or an array) can still tie — flat CDC payloads
    have no maps."""
    hashable = [F.col(c) for c in payload_cols if not _contains_map(df.schema[c].dataType)]
    return F.xxhash64(*hashable) if hashable else F.lit(0)


def _contains_map(dt: T.DataType) -> bool:
    if isinstance(dt, T.MapType):
        return True
    if isinstance(dt, T.StructType):
        return any(_contains_map(f.dataType) for f in dt.fields)
    if isinstance(dt, T.ArrayType):
        return _contains_map(dt.elementType)
    return False


def dedupe_lww(df: DataFrame, key_cols: Sequence[str], order_cols: Sequence[str]) -> DataFrame:
    """Last-writer-wins: keep the row with the max (order_cols) tuple per
    key. groupBy + max_by(struct) — partial-aggregating, unlike a window
    (see engine/merge.py module doc for why this matters at 10^10 rows).
    Ties on ``order_cols`` break deterministically by payload hash
    (``payload_tie_break`` — bare max_by would pick a partition-order-
    dependent survivor)."""
    keys = list(key_cols)
    rest = [c for c in df.columns if c not in keys]
    ord_struct = F.struct(
        *[F.col(c) for c in order_cols], payload_tie_break(df, rest).alias("__tie")
    )
    return (
        df.groupBy(*keys)
        .agg(F.max_by(F.struct(*rest), ord_struct).alias("__last"))
        .select(*keys, "__last.*")
    )


def exact_dedup(
    df: DataFrame,
    content_col: str,
    id_col: str,
    normalize: Column | None = None,
    fingerprint_col: str = "fingerprint",
) -> DataFrame:
    """Exact near-free dedup: sha256 fingerprint of (optionally
    normalized) content, keep the lowest id per fingerprint. One shuffle
    on the fingerprint; survivors carry the duplicate count."""
    src = normalize if normalize is not None else F.col(content_col)
    with_fp = df.withColumn(fingerprint_col, F.sha2(src.cast("string"), 256))
    return (
        with_fp.groupBy(fingerprint_col)
        .agg(
            F.min(id_col).alias(id_col),
            F.count(F.lit(1)).alias("dup_count"),
        )
        .select(id_col, fingerprint_col, "dup_count")
    )


def top_k_per_group(
    df: DataFrame,
    group_cols: Sequence[str],
    order_cols: Sequence[Column],
    k: int,
    rank_col: str = "rk",
) -> DataFrame:
    """Top-K per group via row_number window. Order columns must make the
    ranking deterministic (include a unique tiebreaker).

    Scale bound: one group = one window task (AQE cannot split a
    window). For zipf-hot groups use ``top_k_per_group_segmented`` —
    top-k is associative, so the skew fix is exact, unlike general
    ranked windows."""
    if rank_col in df.columns:
        # withColumn would silently replace the caller's values with
        # window ranks under the same name (the as_of_join rule)
        raise ValueError(f"input already has a column named {rank_col!r}")
    w = Window.partitionBy(*group_cols).orderBy(*order_cols)
    return (
        df.withColumn(rank_col, F.row_number().over(w))
        .where(F.col(rank_col) <= k)
    )


def top_k_per_group_segmented(
    df: DataFrame,
    group_cols: Sequence[str],
    order_cols: Sequence[Column],
    k: int,
    rank_col: str = "rk",
    segments: int = 32,
    salt_col: Column | None = None,
) -> DataFrame:
    """Hot-key-safe top-K: local top-k per (group, segment), then global
    top-k over the ≤ segments·k survivors per group.

    Top-k is associative — the global answer is contained in the union
    of per-segment answers — so this is RESULT-IDENTICAL to
    ``top_k_per_group`` whenever ``order_cols`` is a total order per
    group (the same tiebreaker requirement the plain variant already
    has). The hot key's serial window shrinks from its row count to
    segments·k rows; the first pass runs at (group × segment)
    parallelism. Segmentation is deterministic (xxhash64 of the row's
    hashable columns by default — no rand(), replay-stable; columns
    whose type contains a map at any depth are excluded because xxhash64
    rejects them); pass
    ``salt_col`` to segment by a cheaper existing expression (e.g. the
    unique tiebreaker the order already requires).
    """
    clash = {"__seg", "__lrk", rank_col} & set(df.columns)
    if clash:
        # the withColumn/drop below would silently replace-then-remove a
        # caller's column of the same name (the as_of_join rule)
        raise ValueError(f"input carries reserved column(s) {sorted(clash)}")
    if salt_col is not None:
        seg = salt_col
    else:
        seg = F.xxhash64(*[
            F.col(f.name) for f in df.schema.fields if not _contains_map(f.dataType)
        ])
    local = df.withColumn("__seg", F.pmod(seg, F.lit(segments)))
    w_local = Window.partitionBy(*group_cols, "__seg").orderBy(*order_cols)
    survivors = (
        local.withColumn("__lrk", F.row_number().over(w_local))
        .where(F.col("__lrk") <= k)
        .drop("__seg", "__lrk")
    )
    return top_k_per_group(survivors, group_cols, order_cols, k, rank_col)
