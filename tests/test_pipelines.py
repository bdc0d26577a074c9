"""End-to-end composed pipelines (VERDICT r03 #2/#3):

* ``corpus_dedup_pipeline`` — documents → exact dedup → LSH candidates →
  exact-Jaccard edges → connected components → canonical survivors
  committed through LakeTable, checked against an independent
  pure-Python oracle (its own normalizer/shingler/union-find — no Spark
  expressions reused).
* ``ivf_lake_build``/``ivf_lake_topk`` — the IVF cluster id as the lake
  bucket key: probe results must equal the plain DataFrame IVF path AND
  the probe scan must touch only the probed clusters' files (manifest
  pruning observed via ``inputFiles()``).
"""

from __future__ import annotations

import hashlib
import os
import re

from pyspark.sql import functions as F

from etlbox_spark.operators.similarity import (
    ivf_assign,
    ivf_lake_build,
    ivf_lake_topk,
    ivf_topk,
    kmeans_centroids,
    probe_clusters,
)
from etlbox_spark.operators.textdedup import corpus_dedup_pipeline

from .conftest import assert_cold_manifest_matches

SF = "/root/testdata/sf0.001"


# --------------------------------------------------------- corpus dedup

DOCS = [
    # exact-dup family (same normalized text): 0 survives, 1/2 drop
    (0, "The quick brown fox jumps over the lazy dog today"),
    (1, "the  quick Brown fox jumps over the lazy dog today"),
    (2, "THE QUICK BROWN FOX JUMPS OVER THE LAZY DOG TODAY"),
    # near-dup family (one word changed): 3 survives, 4 drops; 5 chains
    # to 4 (transitive) and drops too
    (3, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"),
    (4, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda nu"),
    (5, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda nu xi"),
    # uniques
    (6, "completely unrelated text about spark partition pruning strategies"),
    (7, "another standalone document mentioning watermark semantics only"),
]


def _py_oracle(docs: list[tuple[int, str]], thr: float = 0.8) -> set[int]:
    """Independent replay: normalize+sha256 exact stage, word-3-gram
    Jaccard all-pairs, union-find, min-id survivors."""
    norm = {i: re.sub(r"\s+", " ", t.strip().lower()) for i, t in docs}
    by_fp: dict[str, int] = {}
    for i in sorted(norm):
        fp = hashlib.sha256(norm[i].encode()).hexdigest()
        by_fp.setdefault(fp, i)
    surv = sorted(by_fp.values())

    def shingles(s: str) -> set[str]:
        toks = s.split(" ")
        if len(toks) < 3:
            return {" ".join(toks)}
        return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}

    sh = {i: shingles(norm[i]) for i in surv}
    parent = {i: i for i in surv}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a in surv:
        for b in surv:
            if a < b:
                j = len(sh[a] & sh[b]) / len(sh[a] | sh[b])
                if j >= thr:
                    ra, rb = find(a), find(b)
                    parent[max(ra, rb)] = min(ra, rb)
    return {i for i in surv if find(i) == i}


def test_corpus_dedup_pipeline_matches_python_oracle(spark, tmp_path):
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    root = str(tmp_path / "corpus")
    t, final = corpus_dedup_pipeline(docs, root, n_perm=64, bands=16, epoch_id=7)

    want = _py_oracle(DOCS)
    assert want == {0, 3, 6, 7}  # sanity of the fixture design
    got = {r["doc_id"] for r in t.read(spark).select("doc_id").collect()}
    assert got == want
    # full content survives the lake round-trip
    texts = {r["doc_id"]: r["text"] for r in t.read(spark).collect()}
    src = dict(DOCS)
    assert all(texts[i] == src[i] for i in got)
    # exactly-once: the epoch marker is recorded and a replayed commit is
    # a no-op (same snapshot version back)
    m = t.manifest()
    assert 7 in m.committed_epochs
    assert t.overwrite(final.limit(0), epoch_id=7) == m.version


# ---------------------------------------------------- incremental dedup

BATCH = [
    # exact dup (same normalized text) of corpus survivor 0 → dropped
    (100, "the quick brown fox JUMPS over the lazy dog today"),
    # near-dup of corpus survivor 3 (last token changed, 12 tokens →
    # 9/11 shingle jaccard ≈ 0.818) → dropped
    (101, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda omega"),
    # corpus-free near-dup pair: 102 survives, 103 drops
    (102, "one two three four five six seven eight nine ten eleven twelve"),
    (103, "one two three four five six seven eight nine ten eleven thirteen"),
    # unique → survives
    (104, "totally novel payload describing adaptive query execution internals"),
    # exact dup of batch peer 102 → same component, drops
    (106, "ONE TWO THREE FOUR FIVE SIX SEVEN EIGHT NINE TEN ELEVEN TWELVE"),
]


def _py_incr_oracle(
    corpus_docs: list[tuple[int, str]], batch_docs: list[tuple[int, str]], thr: float = 0.8
) -> set[int]:
    """Independent replay of the anchored incremental rule: batch docs
    whose verified-edge component touches any base survivor drop; a
    corpus-free component keeps its minimum batch id."""
    base = _py_oracle(corpus_docs, thr)
    norm = {i: re.sub(r"\s+", " ", t.strip().lower()) for i, t in corpus_docs + batch_docs}

    def shingles(s: str) -> set[str]:
        toks = s.split(" ")
        if len(toks) < 3:
            return {" ".join(toks)}
        return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}

    sh = {i: shingles(norm[i]) for i in norm}

    def edge(a: int, b: int) -> bool:
        if norm[a] == norm[b]:
            return True
        return len(sh[a] & sh[b]) / len(sh[a] | sh[b]) >= thr

    bids = sorted(i for i, _ in batch_docs)
    parent = {i: i for i in bids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a in bids:
        for b in bids:
            if a < b and edge(a, b):
                ra, rb = find(a), find(b)
                parent[max(ra, rb)] = min(ra, rb)
    tainted = {find(b) for b in bids for c in base if edge(b, c)}
    return {b for b in bids if find(b) == b and find(b) not in tainted}


def test_dedup_incremental_matches_python_oracle(spark, tmp_path):
    from etlbox_spark.operators.textdedup import (
        FP_BAND,
        dedup_incremental,
        lsh_band_rows,
        lsh_index_build,
    )

    corpus_df = spark.createDataFrame(DOCS, "doc_id long, text string")
    t, _ = corpus_dedup_pipeline(corpus_df, str(tmp_path / "docs"), n_perm=64, bands=16)
    idx = lsh_index_build(t.read(spark, with_bucket=False), str(tmp_path / "idx"))

    batch_df = spark.createDataFrame(BATCH, "doc_id long, text string")
    surv = dedup_incremental(spark, t, idx, batch_df, commit_epoch=2)
    got = {r["doc_id"] for r in surv.select("doc_id").collect()}
    assert got == _py_incr_oracle(DOCS, BATCH)
    assert got == {102, 104}  # fixture-design sanity

    # lake state after the commit epoch: base survivors ∪ batch survivors,
    # in BOTH the document table and the signature index
    base_ids = {0, 3, 6, 7}
    final_ids = {r["doc_id"] for r in t.read(spark).select("doc_id").collect()}
    assert final_ids == base_ids | got
    idx_ids = {r["id"] for r in idx.read(spark).select("id").collect()}
    assert idx_ids == base_ids | got
    assert 2 in t.manifest().committed_epochs and 2 in idx.manifest().committed_epochs
    # the survivors' index rows are exactly their band rows (every band
    # plus the FP_BAND row) — no non-survivor's bands, none dropped
    idx_rows = sorted(
        tuple(r)
        for r in idx.read(spark)
        .where(F.col("id").isin(sorted(got)))
        .select("id", "band", "bhash")
        .collect()
    )
    assert idx_rows == sorted(tuple(r) for r in lsh_band_rows(surv).collect())
    assert {b for _, b, _ in idx_rows} >= {FP_BAND}

    # crash-retry convergence: replaying the SAME epoch against the
    # already-updated corpus changes nothing (epoch markers make the
    # commits no-ops; re-delivered docs now match themselves in the index
    # and are dropped rather than duplicated)
    v_before = (t.manifest().version, idx.manifest().version)
    dedup_incremental(spark, t, idx, batch_df, commit_epoch=2)
    assert {r["doc_id"] for r in t.read(spark).select("doc_id").collect()} == final_ids
    assert (t.manifest().version, idx.manifest().version) == v_before


def test_dedup_incremental_distributed_nomination_fallback(spark, tmp_path):
    """VERDICT r04 #3: past ``nomination_limit`` distinct nominated
    corpus ids the text fetch must switch to a distributed semi-join (no
    driver id list) with IDENTICAL results. nomination_limit=1 forces
    the fallback on the standard fixture (it nominates ≥ 2 corpus ids);
    commits must stay exactly-once across the plan switch."""
    from etlbox_spark.operators.textdedup import dedup_incremental, lsh_index_build

    corpus_df = spark.createDataFrame(DOCS, "doc_id long, text string")
    t, _ = corpus_dedup_pipeline(corpus_df, str(tmp_path / "docs"), n_perm=64, bands=16)
    idx = lsh_index_build(t.read(spark, with_bucket=False), str(tmp_path / "idx"))

    batch_df = spark.createDataFrame(BATCH, "doc_id long, text string")
    surv = dedup_incremental(
        spark, t, idx, batch_df, commit_epoch=2, nomination_limit=1
    )
    got = {r["doc_id"] for r in surv.select("doc_id").collect()}
    assert got == _py_incr_oracle(DOCS, BATCH) == {102, 104}
    final_ids = {r["doc_id"] for r in t.read(spark).select("doc_id").collect()}
    assert final_ids == {0, 3, 6, 7} | got

    # an adversarial batch near-duplicating EVERY corpus survivor: the
    # nominated slice is the whole corpus; the fallback must drop every
    # batch doc (each anchors to a corpus survivor)
    adv = spark.createDataFrame(
        [(200 + i, txt + " tail") for i, (cid, txt) in enumerate(DOCS) if cid in (0, 3, 6, 7)],
        "doc_id long, text string",
    )
    surv2 = dedup_incremental(
        spark, t, idx, adv, commit_epoch=3, nomination_limit=1, jaccard_threshold=0.5
    )
    assert surv2.count() == 0
    assert {r["doc_id"] for r in t.read(spark).select("doc_id").collect()} == final_ids


def test_corpus_dedup_pipeline_on_fixture_docs(spark, tmp_path):
    """Fixture-scale smoke on the real documents table: survivor count =
    total - (exact dups) - (near-dup non-canonical members), and the
    pipeline result is stable across two runs (determinism)."""
    d = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    r1 = str(tmp_path / "r1")
    t1, _ = corpus_dedup_pipeline(d, r1)
    got1 = sorted(r["doc_id"] for r in t1.read(spark).select("doc_id").collect())
    t2, _ = corpus_dedup_pipeline(d, str(tmp_path / "r2"))
    got2 = sorted(r["doc_id"] for r in t2.read(spark).select("doc_id").collect())
    assert got1 == got2
    assert 0 < len(got1) <= d.count()


# --------------------------------------------------------------- IVF lake


def test_ivf_lake_probe_matches_and_prunes(spark, tmp_path):
    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    cents = kmeans_centroids(e, "embedding", 8, iters=2)
    qv = [float(x) for x in e.where(F.col("vec_id") == 7).select("embedding").collect()[0][0]]

    root = str(tmp_path / "ivf")
    t = ivf_lake_build(e, root, "embedding", cents)

    # result parity with the plain DataFrame IVF path
    direct = ivf_topk(ivf_assign(e, "embedding", cents), "embedding", qv, cents, k=5, n_probe=2)
    via_lake = ivf_lake_topk(spark, t, "embedding", qv, cents, k=5, n_probe=2)
    assert [tuple(r) for r in via_lake.collect()] == [tuple(r) for r in direct.collect()]

    # file pruning: the probe scan reads ONLY the probed clusters' files
    probe = set(probe_clusters(qv, cents, 2))
    m = t.manifest()
    by_name = {os.path.basename(f["path"]): f["bucket"] for f in m.files}
    pruned = t.read(spark, buckets=sorted(probe))
    read_buckets = {by_name[os.path.basename(p)] for p in pruned.inputFiles()}
    assert read_buckets <= probe
    all_buckets = {f["bucket"] for f in m.files}
    assert len(all_buckets) > len(probe), "fixture must populate more clusters than probed"
    # and the full scan would read strictly more files
    assert len(pruned.inputFiles()) < len(t.read(spark).inputFiles())


def test_ivf_lake_append_incremental(spark, tmp_path):
    """The nightly-append regime: new embeddings land as MoR deltas per
    cluster (pinned centroids — no re-clustering, no rewrite), probes
    see the union, a re-appearing id upserts, retries no-op, and
    compact() folds the deltas without changing results."""
    import pytest

    from etlbox_spark.operators.similarity import ivf_lake_append

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    cents = kmeans_centroids(e, "embedding", 8, iters=2)
    base = e.where(F.col("vec_id") < 40)
    rest = e.where(F.col("vec_id") >= 40)
    t = ivf_lake_build(base, str(tmp_path / "ivfa"), "embedding", cents)

    v1 = ivf_lake_append(spark, t, rest, epoch_id=2)
    assert any(x.get("kind") == "delta" for x in t.manifest().files)
    assert ivf_lake_append(spark, t, rest, epoch_id=2) == v1  # retry no-ops

    # probe parity with the one-shot plain-DataFrame path over ALL rows
    qv = [float(x) for x in e.where(F.col("vec_id") == 7).select("embedding").collect()[0][0]]
    direct = ivf_topk(ivf_assign(e, "embedding", cents), "embedding", qv, cents, k=5, n_probe=2)
    via_lake = ivf_lake_topk(spark, t, "embedding", qv, cents, k=5, n_probe=2)
    expect = [tuple(r) for r in direct.collect()]
    assert [tuple(r) for r in via_lake.collect()] == expect

    # upsert-by-id with a cross-bucket MOVE: vec 7's new vector is vec
    # 11's, which assigns to a different cluster — the append must
    # tombstone the old cluster, or a bucket-pruned probe of it would
    # keep serving the stale 1.0-similarity version forever
    new7 = e.where(F.col("vec_id") == 11).select(
        F.lit(7).cast("long").alias("vec_id"),
        *[F.col(c) for c in e.columns if c != "vec_id"],
    ).select(*e.columns)
    ivf_lake_append(spark, t, new7, epoch_id=3)
    assert t.read(spark).where(F.col("vec_id") == 7).count() == 1
    stale = [
        tuple(r)
        for r in ivf_lake_topk(spark, t, "embedding", qv, cents, k=5, n_probe=2).collect()
        if r["vec_id"] == 7 and r["sim"] > 0.999
    ]
    assert not stale, "old cluster served the pre-upsert vector"

    # duplicate ids within one batch have no LWW order -> refused
    with pytest.raises(ValueError, match="duplicate"):
        ivf_lake_append(spark, t, new7.unionByName(new7), epoch_id=4)

    # compaction folds the deltas; the (post-upsert) probe is unchanged
    before = [tuple(r) for r in ivf_lake_topk(spark, t, "embedding", qv, cents, k=5, n_probe=2).collect()]
    t.compact(spark)
    assert not any(x.get("kind") == "delta" for x in t.manifest().files)
    after = [tuple(r) for r in ivf_lake_topk(spark, t, "embedding", qv, cents, k=5, n_probe=2).collect()]
    assert after == before


def _drift_fixture(spark):
    """Three cosine clusters, dim 4: A≈[1,0,0,0], B≈[0,1,0,0] in the
    initial build; C≈[.707,.707,0,0] (between them) arrives later — the
    drift regime. C's points alternate lean-A / lean-B so the pinned
    2-centroid layout SPLITS them across both buckets (the recall decay
    recluster exists to repair). Ids interleave so kmeans' lowest-id
    init seeds one vector per true cluster after the append."""
    rows = []
    for i in range(20):
        j = (i % 5) * 0.01
        rows.append((3 * i, [1.0, j, 0.02 * (i % 3), 0.0]))        # A: ids 0,3,...
        rows.append((3 * i + 1, [j, 1.0, 0.0, 0.02 * (i % 3)]))    # B: ids 1,4,...
    drift = [(2, [0.75, 0.66, 0.0, 0.0])]                          # C seed at id 2
    for i in range(11):
        d = 0.05 + 0.005 * (i % 3)
        if i % 2 == 0:
            drift.append((101 + 3 * i, [0.707 + d, 0.707 - d, 0.0, 0.0]))  # lean A
        else:
            drift.append((101 + 3 * i, [0.707 - d, 0.707 + d, 0.0, 0.0]))  # lean B
    schema = "vec_id long, embedding array<double>"
    return (
        spark.createDataFrame(rows, schema),
        spark.createDataFrame(drift, schema),
    )


def test_ivf_lake_recluster_repairs_drifted_recall(spark, tmp_path):
    """VERDICT r04 #4: the recluster maintenance verb. Pinned centroids +
    a drifted append → pruned-probe recall decays; recluster (retrain on
    the merged current state, reassign, atomic rewrite, re-pin) must
    restore it, preserve epoch markers, keep the store appendable, and
    keep pruned-probe parity with the brute-force oracle."""
    from etlbox_spark.operators.similarity import (
        cosine_topk,
        ivf_centroids,
        ivf_lake_append,
        ivf_lake_recluster,
    )

    base, drift = _drift_fixture(spark)
    cents0 = kmeans_centroids(base, "embedding", 2, iters=3)
    t = ivf_lake_build(base, str(tmp_path / "ivfr"), "embedding", cents0)
    ivf_lake_append(spark, t, drift, epoch_id=2)

    qv = [0.707, 0.707, 0.0, 0.0]
    k = 10

    def recall(n_probe):
        truth = {r["vec_id"] for r in cosine_topk(t.read(spark), "embedding", qv, k=k).collect()}
        got = {
            r["vec_id"]
            for r in ivf_lake_topk(spark, t, "embedding", qv, k=k, n_probe=n_probe).collect()
        }
        return len(truth & got) / k

    before = recall(1)
    assert before < 1.0, "fixture must actually split the drifted cluster"

    res = ivf_lake_recluster(spark, t, k=3, iters=4)
    assert_cold_manifest_matches(t)
    assert res["n_clusters"] == 3 and t.manifest().n_buckets == 3
    assert t.manifest().operation == "recluster"
    assert 2 in t.manifest().committed_epochs  # append markers preserved
    assert ivf_centroids(t) == res["centroids"]  # re-pinned

    after = recall(1)
    assert after > before and after == 1.0

    # pruned-probe parity with brute force when probing everything
    truth = [
        (r["vec_id"], round(r["sim"], 9))
        for r in cosine_topk(t.read(spark), "embedding", qv, k=k).collect()
    ]
    via = [
        (r["vec_id"], round(r["sim"], 9))
        for r in ivf_lake_topk(spark, t, "embedding", qv, k=k, n_probe=3).collect()
    ]
    assert via == truth

    # the store stays appendable under the NEW pinned layout
    extra = spark.createDataFrame(
        [(999, [0.70, 0.71, 0.0, 0.0])], "vec_id long, embedding array<double>"
    )
    ivf_lake_append(spark, t, extra, epoch_id=3)
    got = {
        r["vec_id"]
        for r in ivf_lake_topk(spark, t, "embedding", qv, k=k, n_probe=1).collect()
    }
    assert 999 in got


def test_ivf_lake_recluster_conflicts_with_concurrent_append(spark, tmp_path, monkeypatch):
    """Rebucket's concurrency rule applies: an append landing mid-rewrite
    invalidates the reassignment — the recluster loses its single CAS
    attempt and raises; the append's state stands intact."""
    import pytest

    from etlbox_spark.engine import ConcurrentCommitError
    from etlbox_spark.engine.lake import LakeTable as LT
    from etlbox_spark.operators.similarity import ivf_lake_append, ivf_lake_recluster

    base, drift = _drift_fixture(spark)
    cents0 = kmeans_centroids(base, "embedding", 2, iters=2)
    t = ivf_lake_build(base, str(tmp_path / "ivfc"), "embedding", cents0)

    real = LT._publish
    state = {"armed": True}

    def racing(self, m):
        if getattr(m, "operation", "") == "recluster" and state["armed"]:
            state["armed"] = False
            ivf_lake_append(spark, self, drift, epoch_id=7)
        return real(self, m)

    monkeypatch.setattr(LT, "_publish", racing)
    with pytest.raises(ConcurrentCommitError, match="recluster"):
        ivf_lake_recluster(spark, t, k=3)
    assert not state["armed"]
    assert t.is_committed(7)  # the append won and is intact
    assert t.manifest().n_buckets == 2  # layout unchanged


def test_ivf_lake_refuses_keyhash_deriving_ops(spark, tmp_path):
    """The IVF table's bucket is the CLUSTER id, not a key hash — the
    ops that derive buckets from keys (lookup_keys / apply_epoch /
    rebucket) must refuse loudly instead of pruning to buckets the rows
    don't live in and silently returning nothing."""
    import pytest

    from etlbox_spark.engine import MergeMode, MergeSpec, apply_epoch

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    cents = kmeans_centroids(e, "embedding", 4, iters=1)
    t = ivf_lake_build(e, str(tmp_path / "ivfg"), "embedding", cents)
    assert t.manifest().properties["bucketing"] == "custom"

    with pytest.raises(ValueError, match="bucketing"):
        t.lookup_keys(spark, [(7,)])
    with pytest.raises(ValueError, match="bucketing"):
        t.rebucket(spark, 16)
    spec = MergeSpec(key_cols=("vec_id",), seq_col="vec_id", compare_cols=())
    with pytest.raises(ValueError, match="bucketing"):
        apply_epoch(spark, t, e.limit(1), spec, MergeMode.DELTA, 99)


def test_ivf_lake_topk_batch_matches_per_query(spark, tmp_path):
    """Batched IVF probe parity: for every query in the batch, the
    result equals the single-query ivf_lake_topk on the same lake —
    including the probe-cluster choice (same max-cosine/lowest-index
    rule) and tie-breaking by vec_id."""
    from etlbox_spark.operators.similarity import ivf_lake_topk_batch

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    cents = kmeans_centroids(e, "embedding", 8, iters=2)
    t = ivf_lake_build(e, str(tmp_path / "ivf"), "embedding", cents)

    qids = [3, 7, 11, 20]
    queries = e.where(F.col("vec_id").isin(qids)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    batch = ivf_lake_topk_batch(
        spark, t, "embedding", queries, cents, k=5, n_probe=2
    )
    got = {
        qid: [(r["vec_id"], round(r["sim"], 9)) for r in rows]
        for qid, rows in (
            (qid, sorted(
                (r for r in batch.collect() if r["query_id"] == qid),
                key=lambda r: r["rk"],
            )) for qid in qids
        )
    }
    for qid in qids:
        qv = [float(x) for x in
              e.where(F.col("vec_id") == qid).select("embedding").collect()[0][0]]
        single = ivf_lake_topk(spark, t, "embedding", qv, cents, k=5, n_probe=2)
        want = [(r["vec_id"], round(r["sim"], 9)) for r in single.collect()]
        assert got[qid] == want, f"query {qid} diverged"


def test_dedup_incremental_empty_batch(spark, tmp_path):
    """A nightly run with no new docs is a clean no-op epoch: zero
    survivors, untouched table, but the epoch marker still records so a
    retry of the empty epoch stays exactly-once."""
    from etlbox_spark.operators.textdedup import dedup_incremental, lsh_index_build

    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    t, _ = corpus_dedup_pipeline(docs, str(tmp_path / "docs"))
    idx = lsh_index_build(t.read(spark, with_bucket=False), str(tmp_path / "idx"))
    before = {r["doc_id"] for r in t.read(spark).select("doc_id").collect()}

    surv = dedup_incremental(spark, t, idx, docs.where("doc_id < 0"), commit_epoch=2)
    assert surv.count() == 0
    assert {r["doc_id"] for r in t.read(spark).select("doc_id").collect()} == before
    assert 2 in t.manifest().committed_epochs


def test_ivf_lake_recluster_refuses_empty_store(spark, tmp_path):
    """r05 hazard fix: reclustering a store with no rows would retrain on
    nothing and re-pin an EMPTY centroid set, breaking every later probe
    (probe_clusters over []). Both empty arms must refuse loudly:
    no data files at all, and files whose merged state is all
    tombstones."""
    import pytest as _pytest

    from etlbox_spark.operators.similarity import (
        ivf_lake_append,
        ivf_lake_build,
        ivf_lake_recluster,
    )

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    t = ivf_lake_build(empty, str(tmp_path / "ivfe"), "embedding", [[1.0, 0.0]])
    with _pytest.raises(ValueError, match="empty"):
        ivf_lake_recluster(spark, t, k=2)
    # the store (and its pinned centroids) must be untouched by the refusal
    from etlbox_spark.operators.similarity import ivf_centroids

    assert ivf_centroids(t) == [[1.0, 0.0]]
