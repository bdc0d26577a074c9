"""Near-duplicate detection for large-scale text corpora.

Not in the reference (ETLBox has no text analytics) — added as first-class
training-data-pipeline operators per the build brief. All hot paths are
JVM expressions; SimHash uses a vectorized Arrow pandas_udf (numpy bit
ops), never row-at-a-time Python.

Scale notes:
* MinHash+LSH is the scalable path: cost is O(rows·perms) for signatures
  plus a shuffle on (band, band_hash). Candidate verification joins only
  within buckets — never all-pairs.
* ngram-Jaccard all-pairs verification is provided for candidate pairs
  (post-LSH) or small slices; it is deliberately NOT an all-pairs scan.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def normalize_text(col: Column) -> Column:
    """Lowercase + collapse whitespace — shared by fingerprint/dedup.

    NULL text coalesces to the empty string: left to propagate, NULL
    produced an inconsistent hazard pair — ``sha2(NULL)=NULL`` collapsed
    every null-text doc into ONE "exact duplicate" group (all but one
    silently deleted), while a NULL MinHash signature hashed every band
    to the same constant, pairing null docs all-against-all with
    null-valued verifies that formed no edges. Null and empty documents
    now take one deterministic path: they are exact duplicates of each
    other (empty text), deduped like any other content class."""
    return F.regexp_replace(F.lower(F.trim(F.coalesce(col, F.lit("")))), r"\s+", " ")


def _check_bands(n_perm: int, bands: int) -> None:
    """bands must divide n_perm: the silent ``rows = n_perm // bands``
    truncation would drop the tail permutations from banding (a different
    recall/precision operating point than requested, at full signature
    cost), and bands > n_perm yields rows=0 — a zero-arg xxhash64 plan
    error far from the bad parameter."""
    if bands < 1 or n_perm % bands:
        raise ValueError(
            f"bands={bands} must be >= 1 and divide n_perm={n_perm} "
            "(each band hashes n_perm/bands signature rows)"
        )


def word_ngrams(col: Column, n: int = 3) -> Column:
    """Array of word n-gram strings (shingles).

    The token array is bound ONCE as a lambda variable (via the
    single-element ``transform(array(toks), t -> ...)`` trick): naively
    referencing ``toks`` inside the per-element lambda re-inlines the
    whole split+regex subtree into EVERY element — higher-order
    functions defeat codegen subexpression elimination, which measured
    ~10x slower on ~50-token documents."""
    toks = F.split(normalize_text(col), " ")

    def build(t: Column) -> Column:
        idx = F.sequence(F.lit(0), F.greatest(F.size(t) - n, F.lit(0)))
        return F.when(F.size(t) < n, F.array(F.concat_ws(" ", t))).otherwise(
            F.transform(idx, lambda i: F.concat_ws(" ", F.slice(t, i + 1, n)))
        )

    return F.element_at(F.transform(F.array(toks), build), 1)


def minhash_signature(shingles: Column, n_perm: int = 32, seed: int = 42) -> Column:
    """MinHash signature: array of n_perm min-hashes, whole-stage-codegen.

    The shingle STRINGS are hashed exactly once (``xxhash64`` over
    variable-length text is the expensive part); each permutation then
    re-hashes the resulting 64-bit values (fixed-width, ~ns) — O(S)
    string hashes + O(S·perms) long hashes instead of O(S·perms) string
    hashes. Long-multiply affine permutations would be cheaper still but
    overflow throws under ANSI mode (Spark 4 default); xxhash64 on longs
    is overflow-free and deterministic."""
    base = F.transform(shingles, lambda s: F.xxhash64(s, F.lit(seed)))

    def perm_min(bs: Column, k: int) -> Column:
        # closure factory, NOT `lambda h, k=k:` — a two-arg lambda makes
        # pyspark pass (element, ARRAY-INDEX) and the index column
        # silently shadows the permutation number (the simhash64 gotcha,
        # CLAUDE.md). That bug made every signature entry the identical
        # position-dependent min-hash, so a single mid-document edit
        # (shifting all downstream shingle positions) zeroed signature
        # agreement and true near-dup pairs never became candidates —
        # caught by the sf0.1 contract sweep (6 of 256 pairs missing).
        return F.array_min(F.transform(bs, lambda h: F.xxhash64(h, F.lit(seed + k))))

    def build(bs: Column) -> Column:
        # bs binds the hashed-shingle array ONCE (see word_ngrams note —
        # referencing `base` in all n_perm transforms would inline the
        # string-hash pass n_perm times)
        return F.array(*[perm_min(bs, k) for k in range(n_perm)])

    return F.element_at(F.transform(F.array(base), build), 1)


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_perm: int = 32,
    bands: int = 8,
    ngram: int = 3,
    seed: int = 42,
    with_est: bool = False,
    parallelism: int | None = None,
) -> DataFrame:
    """Candidate near-dup pairs via banded MinHash LSH.

    signature → split into ``bands`` bands of n_perm/bands rows → hash
    each band → self-join on (band_idx, band_hash). Returns distinct
    (id_a < id_b) candidate pairs; with ``with_est`` also their
    estimated jaccard (signature agreement fraction). Estimation is
    OPT-IN because every current consumer verifies candidates with
    EXACT n-gram Jaccard anyway — computing the estimate re-joins both
    n_perm-long signatures per pair and folds them, pure overhead when
    an exact verify follows.

    ``parallelism``: signature compute parallelism follows the INPUT
    partitioning (correct at corpus scale, where thousands of files
    feed thousands of tasks). A small corpus in few files — e.g. one
    parquet row group — serializes the whole O(rows·perms) signature
    pass into one task; set ``parallelism`` (≈ total cores) to
    repartition first. At 100 TB leave unset: a full-corpus shuffle
    just to rebalance signatures would dwarf the compute.
    """
    if parallelism:
        df = df.repartition(parallelism)
    _check_bands(n_perm, bands)
    rows = n_perm // bands
    sig = df.select(
        F.col(id_col).alias("id"),
        minhash_signature(word_ngrams(F.col(text_col), ngram), n_perm, seed).alias("sig"),
    )
    # the banded self-join carries ONLY (id, band, bhash) — round 4
    # dropped the signature array from the join sides: shipping the
    # n_perm-long sig through a `bands`-way explode duplicates ~bands ×
    # n_perm × 8 bytes per doc through the shuffle (8 KB/doc at 64/16),
    # which dominates shuffle volume at corpus scale. Signatures re-join
    # AFTER pair dedup (candidate pairs ≪ banded rows), value-identical
    # — A/B'd equal at sf0.1, local cost parity, strictly less shuffle.
    banded = sig.select(
        "id",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    # variadic xxhash64 over the band's longs — no string
                    # building in the hot path
                    F.xxhash64(*[
                        F.element_at("sig", b * rows + r + 1) for r in range(rows)
                    ]).alias("bhash"),
                )
                for b in range(bands)
            ])
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bhash")
    a = banded.select(F.col("id").alias("id_a"), "band", "bhash")
    b = banded.select(F.col("id").alias("id_b"), "band", "bhash")
    cand = (
        a.join(b, on=["band", "bhash"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    if not with_est:
        return cand
    sa = sig.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a"))
    sb = sig.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))
    pairs = (
        cand.join(sa, on="id_a")
        .join(sb, on="id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.aggregate(
                    F.zip_with("sig_a", "sig_b", lambda x, y: F.when(x == y, 1).otherwise(0)),
                    F.lit(0),
                    lambda acc, v: acc + v,
                )
                / F.lit(float(n_perm))
            ).alias("est_jaccard"),
        )
    )
    return pairs


def ngram_jaccard(
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str,
    text_col: str,
    ngram: int = 3,
) -> DataFrame:
    """Exact n-gram Jaccard for candidate pairs (id_a, id_b): set
    intersection/union via array_intersect/array_union on distinct
    shingles. Join-based: docs side computed once."""
    sh = docs.select(
        F.col(id_col).alias("id"),
        F.array_distinct(word_ngrams(F.col(text_col), ngram)).alias("sh"),
    )
    return (
        pairs.join(sh.withColumnsRenamed({"id": "id_a", "sh": "sh_a"}), on="id_a")
        .join(sh.withColumnsRenamed({"id": "id_b", "sh": "sh_b"}), on="id_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")).cast("double"),
        )
        .drop("sh_a", "sh_b")
    )


def connected_components(
    edges: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
    stats: "dict | None" = None,
) -> DataFrame:
    """Connected components over near-dup candidate pairs → canonical
    (minimum) id per component — the cluster-canonicalization step that
    turns pairwise dedup output into one surviving document per group.

    Each round does min-label propagation (a vertex adopts the smallest
    label among itself and its neighbors) PLUS one pointer-jump
    (``component ← component[component]`` — path halving over the label
    table, r05): labels are always vertex ids and only ever decrease, so
    the jump stays inside the component and convergence needs
    **O(log diameter)** rounds, not O(diameter) — a 10^5-vertex chain
    converges in ~17 rounds where plain propagation needs 10^5 (the
    pathological topology VERDICT r04 #5 flagged; measured in
    BENCH.md §connected-components). Near-dup clusters are tiny
    stars/cliques (2-3 rounds); the jump costs one extra self-join of
    the one-row-per-vertex label table per round. The driver loop is
    over Spark JOBS (one count per round for the convergence check —
    bounded metadata), never over rows. Hot-key skew (a 10^5-leaf star's
    center) is absorbed by the map-side combine of the ``groupBy(src)
    .min`` — the shuffle carries one row per (center, partition).

    ``stats`` (optional dict) receives {"rounds": n} for
    benches/regression tests. Returns (id, component) for every vertex
    appearing in ``edges``.
    """
    sym = (
        edges.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionByName(edges.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
    )
    # the edge set is re-joined every round — checkpoint it once so the
    # (possibly expensive) upstream LSH plan runs a single time; with AQE
    # on, the call runs the plan's shuffle stages (CLAUDE.md)
    sym = sym.localCheckpoint(eager=False)
    labels = sym.select(F.col("src").alias("id")).distinct().withColumn("component", F.col("id"))
    converged = False
    for i in range(max_iter):
        neigh = (
            sym.join(
                labels.select(F.col("id").alias("dst"), F.col("component").alias("nl")),
                on="dst",
            )
            .groupBy("src")
            .agg(F.min("nl").alias("nl"))
        )
        # the pre-round label rides along as __old, so the convergence
        # count below reads this round's checkpointed frame alone
        new_labels = labels.join(
            neigh.select(F.col("src").alias("id"), "nl"), on="id", how="left"
        ).select(
            "id",
            F.col("component").alias("__old"),
            F.least(F.col("component"), F.coalesce(F.col("nl"), F.col("component"))).alias(
                "component"
            ),
        )
        # pointer jump (path halving): component ← component[component].
        # Labels are vertex ids (so the lookup side always has the row)
        # and min-monotone (so the jumped label can only shrink); this is
        # what collapses an L-long label chain in log₂(L) rounds instead
        # of L. left join + coalesce is belt-and-braces for the
        # mid-round state where a label names a vertex whose own row is
        # computed in this same frame.
        jump_side = new_labels.select(
            F.col("id").alias("component"), F.col("component").alias("__cc")
        )
        new_labels = new_labels.join(jump_side, on="component", how="left").select(
            "id",
            "__old",
            F.least(
                F.col("component"), F.coalesce(F.col("__cc"), F.col("component"))
            ).alias("component"),
        )
        # cap lineage (ADVICE r02): without this, each round's convergence
        # count() re-executes the whole accumulated join chain — O(rounds²)
        # recomputation on deep graphs. localCheckpoint truncates the plan
        # at the label table (tiny: one row per vertex); with AQE on, the
        # call itself runs the round's shuffle stages (CLAUDE.md), and the
        # count() reads the checkpointed rows.
        new_labels = new_labels.localCheckpoint(eager=False)
        changed = new_labels.where(F.col("component") != F.col("__old")).count()
        labels = new_labels.select("id", "component")
        if changed == 0:
            converged = True
            if stats is not None:
                stats["rounds"] = i + 1
            break
    if not converged:
        # silently returning unconverged labels would mislabel clusters
        # (ADVICE r02); diameter > max_iter means the caller's graph is not
        # the tiny-cluster shape this operator is tuned for
        raise RuntimeError(
            f"connected_components did not converge within max_iter={max_iter} "
            "rounds; raise max_iter (round count is O(component diameter))"
        )
    return labels


def corpus_dedup_pipeline(
    docs: DataFrame,
    root: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_perm: int = 64,
    bands: int = 16,
    ngram: int = 3,
    jaccard_threshold: float = 0.8,
    n_buckets: int = 16,
    epoch_id: int = 1,
    parallelism: int | None = None,
):
    """THE training-data use case, composed end-to-end (VERDICT r03 #3):

        documents → exact dedup → MinHash-LSH candidates → exact n-gram
        Jaccard edges → connected components → canonical survivors →
        committed through ``LakeTable`` (atomic manifest + epoch marker).

    Survivor rule (fully deterministic):
    * exact stage — lowest ``id_col`` per sha256(normalized text);
    * near-dup stage — among exact survivors, edges are candidate pairs
      whose exact n-gram Jaccard ≥ ``jaccard_threshold`` (LSH is the
      candidate generator only — every kept edge is exact-verified);
      each connected component keeps its minimum id.

    Scale shape: each stage is the already-audited operator — one
    fingerprint shuffle, banded LSH equi-joins (never all-pairs),
    O(component-diameter) label propagation over jobs — and the final
    write is one bucketed lake commit, idempotent per ``epoch_id`` (a
    crashed pipeline re-runs to the identical snapshot). Returns
    ``(table, survivors_df)``; the table is the source of truth.
    """
    from ..engine.lake import LakeTable
    from ..functions.hashing import bucket_expr

    # a small corpus in few files serializes the shingle/signature passes
    # into few tasks — see minhash_lsh_candidates' parallelism note
    if parallelism:
        docs = docs.repartition(parallelism)

    # 1. exact dedup: min-id survivor per normalized-content fingerprint
    ex = (
        docs.withColumn("__fp", F.sha2(normalize_text(F.col(text_col)), 256))
        .groupBy("__fp")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    survivors = docs.join(ex, on=id_col, how="left_semi")

    # 2-3. LSH candidates among exact survivors, exact-Jaccard verified
    cand = minhash_lsh_candidates(
        survivors, id_col, text_col, n_perm=n_perm, bands=bands, ngram=ngram
    )
    edges = ngram_jaccard(cand, survivors, id_col, text_col, ngram=ngram).where(
        F.col("jaccard") >= jaccard_threshold
    )

    # 4-5. components → drop every member that is not its component min
    comp = connected_components(edges)
    losers = comp.where(F.col("id") != F.col("component")).select(
        F.col("id").alias(id_col)
    )
    final = survivors.join(losers, on=id_col, how="left_anti")

    # 6. canonical-survivor table through the lake commit layer
    t = LakeTable.create(root, schema=final.schema, key_cols=[id_col], n_buckets=n_buckets)
    t.overwrite(final.withColumn("bucket", bucket_expr(n_buckets, id_col)), epoch_id=epoch_id)
    return t, final


FP_BAND = -1  # band id reserved for the exact-fingerprint hash row


def lsh_band_rows(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_perm: int = 64,
    bands: int = 16,
    ngram: int = 3,
    seed: int = 42,
) -> DataFrame:
    """Banded probe rows for a document set: one ``(id, band, bhash)``
    row per MinHash band plus one ``band = FP_BAND`` row carrying
    ``xxhash64`` of the exact sha256 content fingerprint.

    This is the unit the incremental index stores and the unit a new
    batch probes with — band rows collide for near-dups (LSH), the
    FP_BAND row collides for exact dups, and both are verified exactly
    downstream (the hash is only ever a candidate filter).
    """
    _check_bands(n_perm, bands)
    rows = n_perm // bands
    sig = docs.select(
        F.col(id_col).alias("id"),
        minhash_signature(word_ngrams(F.col(text_col), ngram), n_perm, seed).alias("sig"),
        F.sha2(normalize_text(F.col(text_col)), 256).alias("__fp"),
    )
    entries = [
        F.struct(
            F.lit(b).alias("band"),
            F.xxhash64(*[F.element_at("sig", b * rows + r + 1) for r in range(rows)]).alias(
                "bhash"
            ),
        )
        for b in range(bands)
    ] + [F.struct(F.lit(FP_BAND).alias("band"), F.xxhash64("__fp").alias("bhash"))]
    return sig.select("id", F.explode(F.array(*entries)).alias("bb")).select(
        "id", "bb.band", "bb.bhash"
    )


def lsh_index_build(
    docs: DataFrame,
    root: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_perm: int = 64,
    bands: int = 16,
    ngram: int = 3,
    seed: int = 42,
    n_buckets: int = 16,
    epoch_id: int = 1,
    parallelism: int | None = None,
):
    """Materialize the LSH signature index of an (already deduped)
    corpus as a LakeTable keyed ``(id, band)``.

    The index is what makes dedup INCREMENTAL at 100 TB: tonight's crawl
    probes ~17 longs/doc of index instead of re-shingling the corpus
    text, and index maintenance is an ordinary exactly-once merge epoch
    (``dedup_incremental(commit_epoch=...)``) — the same idempotent
    commit path as every CDC table.
    """
    from ..engine.lake import LakeTable
    from ..functions.hashing import bucket_expr

    if parallelism:
        docs = docs.repartition(parallelism)
    rows_df = lsh_band_rows(docs, id_col, text_col, n_perm, bands, ngram, seed)
    t = LakeTable.create(root, schema=rows_df.schema, key_cols=["id", "band"], n_buckets=n_buckets)
    t.overwrite(rows_df.withColumn("bucket", bucket_expr(n_buckets, "id", "band")), epoch_id)
    return t


def incremental_candidates(
    spark,
    index,
    batch: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_perm: int = 64,
    bands: int = 16,
    ngram: int = 3,
    seed: int = 42,
) -> tuple[DataFrame, DataFrame]:
    """Candidate nomination for ``dedup_incremental``: returns
    ``(batch×corpus, batch×batch)`` candidate-pair frames.

    The batch's band rows are BROADCAST against the index scan, so the
    corpus-side index (the big side at 100 TB) is never shuffled — the
    probe is one broadcast hash join over ~17 stored longs per corpus
    doc. Exposed separately so the plan is auditable (PLANS.md) and
    testable on its own.
    """
    b_rows = lsh_band_rows(batch, id_col, text_col, n_perm, bands, ngram, seed)
    return _probe_band_rows(spark, index, b_rows)


def _probe_band_rows(spark, index, b_rows: DataFrame) -> tuple[DataFrame, DataFrame]:
    """``incremental_candidates`` over already-computed batch band rows:
    ``dedup_incremental`` computes them once and reuses the same frame
    for the index commit."""
    idx = index.read(spark, with_bucket=False)
    cand_bc = (
        idx.join(
            F.broadcast(b_rows.withColumnRenamed("id", "batch_id")),
            on=["band", "bhash"],
        )
        .select(F.col("id").alias("corpus_id"), "batch_id")
        .distinct()
    )
    ba = b_rows.select(F.col("id").alias("id_a"), "band", "bhash")
    bb = b_rows.select(F.col("id").alias("id_b"), "band", "bhash")
    cand_bb = (
        ba.join(bb, on=["band", "bhash"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    return cand_bc, cand_bb


def dedup_incremental(
    spark,
    corpus,
    index,
    batch: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_perm: int = 64,
    bands: int = 16,
    ngram: int = 3,
    seed: int = 42,
    jaccard_threshold: float = 0.8,
    commit_epoch: int | None = None,
    nomination_limit: int = 100_000,
) -> DataFrame:
    """Dedupe a NEW batch against an already-deduped corpus without
    re-reading the corpus text or recomputing its signatures — the
    nightly-crawl shape of the training-data pipeline.

    ``corpus``: LakeTable of surviving documents (key ``[id_col]``);
    ``index``: LakeTable from ``lsh_index_build`` over the same corpus
    snapshot. Ids must be non-negative (corpus anchors are encoded as
    negative labels internally).

    Semantics (deterministic, oracle-checked in the contract):

    * candidate pairs — batch×corpus and batch×batch rows agreeing on any
      ``(band, bhash)`` (MinHash bands) or on the FP_BAND fingerprint row;
    * every candidate is verified EXACTLY (sha256 fingerprint equality or
      word-n-gram Jaccard ≥ threshold) — the hashes only nominate;
    * a batch doc whose connected component (over verified edges) touches
      the corpus is dropped — corpus survivors are immutable anchors;
    * a corpus-free component keeps its minimum-id batch doc.

    Scale shape: the batch's band rows are BROADCAST against the index
    scan (no shuffle of the index, which is ~17 longs per corpus doc);
    corpus text is fetched only for nominated candidate ids through
    ``LakeTable.lookup_keys`` (bucket + file-stat pruned point reads).
    The candidate-id set is collected driver-side — bounded by
    |batch| × collision rate, the defining property of the incremental
    regime (batch ≪ corpus). Above ``nomination_limit`` distinct ids
    (an adversarial batch near-duplicating a huge corpus slice would
    make that collect O(corpus)) the fetch switches to a distributed
    LEFT SEMI join of the corpus read against the nominated-id frame —
    no driver id list at any size (r05, VERDICT r04 #3); results are
    identical, only the fetch plan changes.

    With ``commit_epoch`` set, survivors are appended to ``corpus`` and
    their band rows to ``index`` via ``apply_epoch`` (exactly-once per
    epoch id; a crashed run re-commits idempotently).

    Returns the batch-survivor DataFrame.
    """
    # duplicate ids in one batch: id_a < id_b never forms an edge between
    # two rows sharing an id, so BOTH would be returned as survivors while
    # apply_epoch's LWW collapses them to one committed row — the returned
    # frame and the corpus would silently diverge (the ANN append's rule)
    dup = batch.groupBy(id_col).count().where(F.col("count") > 1).limit(1).collect()
    if dup:
        raise ValueError(
            f"batch has duplicate {id_col}={dup[0][0]!r}; one row per id "
            "per batch (the survivor set and the committed corpus would "
            "diverge)"
        )
    # one MinHash pass per batch: the band rows feed the broadcast probe,
    # both sides of the batch self-join and the index commit's events
    b_rows = lsh_band_rows(batch, id_col, text_col, n_perm, bands, ngram, seed).localCheckpoint(
        eager=False
    )
    cand_bc, cand_bb = _probe_band_rows(spark, index, b_rows)
    # cand_bc feeds the cids collect and the verify join — truncate its
    # lineage so the broadcast probe over the index runs a single time,
    # not per action. cand_bb feeds only the verify join, which runs once
    # inside the all_edges checkpoint below. With AQE on, a checkpoint
    # call runs its plan's shuffle stages right there (CLAUDE.md).
    cand_bc = cand_bc.localCheckpoint(eager=False)

    def with_text(df: DataFrame, idc: str, out: str, src: DataFrame) -> DataFrame:
        side = src.select(F.col(id_col).alias(idc), F.col(text_col).alias(out))
        return df.join(side, on=idc)

    def verified(df: DataFrame, ta: str, tb: str) -> Column:
        fp_eq = F.sha2(normalize_text(F.col(ta)), 256) == F.sha2(normalize_text(F.col(tb)), 256)
        sa = F.array_distinct(word_ngrams(F.col(ta), ngram))
        sb = F.array_distinct(word_ngrams(F.col(tb), ngram))
        jac = F.size(F.array_intersect(sa, sb)) / F.size(F.array_union(sa, sb)).cast("double")
        return fp_eq | (jac >= F.lit(jaccard_threshold))

    # corpus text only for nominated ids (see docstring for the two
    # regimes). limit(n+1) either returns the COMPLETE id set (≤ n) or
    # proves it exceeds the cap — never a silently truncated probe list.
    cids = [
        r[0]
        for r in cand_bc.select("corpus_id")
        .distinct()
        .limit(nomination_limit + 1)
        .collect()
    ]
    overflow = len(cids) > nomination_limit
    edges = cand_bb
    edges = with_text(edges, "id_a", "__ta", batch)
    edges = with_text(edges.withColumnRenamed("id_b", "__idb"), "__idb", "__tb", batch)
    edges_bb = (
        edges.where(verified(edges, "__ta", "__tb"))
        .select("id_a", F.col("__idb").alias("id_b"))
    )
    if cids:
        if overflow:
            # distributed fallback: one corpus scan semi-joined to the
            # nominated ids — the scan is the price of an adversarial
            # nomination set, paid executor-side instead of as an
            # unbounded driver collect
            nominated = cand_bc.select(F.col("corpus_id").alias(id_col)).distinct()
            ctext = (
                corpus.read(spark, with_bucket=False)
                .join(nominated, on=id_col, how="left_semi")
                .select(F.col(id_col).alias("corpus_id"), F.col(text_col).alias("__tc"))
            )
        else:
            ctext = corpus.lookup_keys(spark, [(int(i),) for i in cids]).select(
                F.col(id_col).alias("corpus_id"), F.col(text_col).alias("__tc")
            )
        e = with_text(cand_bc, "batch_id", "__ta", batch).join(ctext, on="corpus_id")
        # corpus anchors enter the component graph as negative labels so
        # min-label propagation can never elect a batch doc over them
        edges_bc = e.where(verified(e, "__ta", "__tc")).select(
            F.col("batch_id").alias("id_a"),
            (-F.col("corpus_id") - 1).alias("id_b"),
        )
        all_edges = edges_bb.unionByName(edges_bc)
    else:
        all_edges = edges_bb
    # isEmpty and connected_components share one run of the verify joins
    all_edges = all_edges.localCheckpoint(eager=False)

    if all_edges.isEmpty():
        survivors = batch
    else:
        comp = connected_components(all_edges)
        losers = comp.where((F.col("component") < 0) | (F.col("id") != F.col("component"))).select(
            F.col("id").alias(id_col)
        )
        # survivors feed up to three consumers (corpus commit, index
        # commit, the caller) — checkpoint so the component labeling and
        # verify joins don't re-execute per consumer
        survivors = batch.join(losers, on=id_col, how="left_anti").localCheckpoint(eager=False)

    if commit_epoch is not None:
        from ..engine.merge import apply_epoch
        from ..engine.spec import MergeMode, MergeSpec

        doc_spec = MergeSpec(
            key_cols=(id_col,), seq_col="__seq", compare_cols=(text_col,), op_col="__op"
        )
        ev = survivors.withColumn("__seq", F.lit(commit_epoch).cast("long")).withColumn(
            "__op", F.lit("upsert")
        )
        apply_epoch(spark, corpus, ev, doc_spec, MergeMode.DELTA, commit_epoch)
        idx_spec = MergeSpec(
            key_cols=("id", "band"), seq_col="__seq", compare_cols=("bhash",), op_col="__op"
        )
        # ids are unique per batch (checked above), so the semi-join keeps
        # exactly lsh_band_rows(survivors) without re-shingling them; the
        # checkpoint runs the join once, not in each of apply_epoch's
        # actions
        iev = (
            b_rows.join(survivors.select(F.col(id_col).alias("id")), on="id", how="left_semi")
            .localCheckpoint(eager=False)
            .withColumn("__seq", F.lit(commit_epoch).cast("long"))
            .withColumn("__op", F.lit("upsert"))
        )
        apply_epoch(spark, index, iev, idx_spec, MergeMode.DELTA, commit_epoch)
    return survivors


def simhash64(col: Column, seed: int = 42) -> Column:
    """64-bit SimHash over whitespace tokens — pure xxhash64 expressions,
    whole-stage-codegen (VERDICT r01 replaced a per-token Python kernel).

    Tokens are hashed ONCE (``transform(xxhash64)``, same machinery as
    MinHash); each of the 64 signature bits is the majority vote of that
    bit across the token hashes (``size(filter(...)) * 2 >= n``), and the
    bits are OR-folded into one long. The hashed-token array and the
    token count are bound once via the single-element ``transform`` trick
    (see word_ngrams — referencing them directly in 64 lambdas would
    re-inline the tokenize+hash subtree 64 times).
    """
    toks = F.filter(F.split(F.lower(F.coalesce(col, F.lit(""))), r"\s+"), lambda t: t != "")
    hs = F.transform(toks, lambda t: F.xxhash64(t, F.lit(seed)))

    def bit_set(b: int):
        # closure, NOT a `b=b` default arg: pyspark infers the lambda's
        # element/index signature from its arity, so a second parameter
        # would receive the array index Column instead of the int
        return lambda x: F.shiftrightunsigned(x, b).bitwiseAND(F.lit(1)) == 1

    def build(h: Column) -> Column:
        n = F.size(h)
        sig = F.lit(0).cast("long")
        for b in range(64):
            cnt = F.size(F.filter(h, bit_set(b)))
            sig = sig.bitwiseOR(
                F.when(cnt * 2 >= n, F.shiftleft(F.lit(1).cast("long"), b)).otherwise(
                    F.lit(0).cast("long")
                )
            )
        # empty token set -> 0 (the majority vote 0 >= 0 would set every bit)
        return F.when(n == 0, F.lit(0).cast("long")).otherwise(sig)

    return F.element_at(F.transform(F.array(hs), build), 1)


def simhash_near_dups(df: DataFrame, id_col: str, text_col: str, bands: int = 4) -> DataFrame:
    """SimHash near-dup candidates: band the 64-bit simhash into
    ``bands`` 16-bit chunks; pairs agreeing on any chunk are candidates
    (Hamming-distance LSH). Returns pairs with hamming distance."""
    sim = df.select(F.col(id_col).alias("id"), simhash64(F.col(text_col)).alias("sh"))
    width = 64 // bands
    banded = sim.select(
        "id",
        "sh",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.shiftrightunsigned("sh", b * width).bitwiseAND(F.lit((1 << width) - 1)).alias("chunk"),
                )
                for b in range(bands)
            ])
        ).alias("bb"),
    ).select("id", "sh", "bb.band", "bb.chunk")
    a = banded.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"), "band", "chunk")
    b = banded.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"), "band", "chunk")
    return (
        a.join(b, on=["band", "chunk"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).alias("hamming"))
        .groupBy("id_a", "id_b")
        .agg(F.min("hamming").alias("hamming"))
    )
