"""Merge-on-read commits + compaction (lake.commit_delta_buckets /
compact; merge.apply_epoch write.mode=mor).

The invariant under test: for the SAME event stream, a MOR table and a
COW table converge to the identical logical state (and both match the
pure-Python replay oracle), while MOR writes only the changed rows per
epoch and compaction folds the deltas back without changing content.
"""

from __future__ import annotations

import os

from etlbox_spark.engine import LakeTable, MergeMode, MergeSpec, apply_epoch

from .conftest import EVENTS_SCHEMA, REPO_FILES_SCHEMA, assert_cold_manifest_matches, ev

SPEC = MergeSpec(compare_cols=("content",))


def _mk(tmp_path, name, mor: bool):
    props = {"write.mode": "mor"} if mor else {}
    return LakeTable.create(
        str(tmp_path / name), REPO_FILES_SCHEMA, ["repo", "path"], 4, properties=props
    )


def _apply(spark, t, rows, epoch, mode=MergeMode.DELTA):
    df = spark.createDataFrame(rows, EVENTS_SCHEMA)
    return apply_epoch(spark, t, df, SPEC, mode, epoch)


def _state(spark, t):
    return {(r.repo, r.path): r.content for r in t.read(spark).collect()}


EPOCHS = [
    [ev(1, "insert", "p1", "a1"), ev(2, "insert", "p2", "b1"), ev(3, "insert", "p3", "c1")],
    [ev(10, "update", "p2", "b2"), ev(11, "delete", "p1"), ev(12, "insert", "p4", "d1")],
    [ev(20, "insert", "p1", "a2"), ev(21, "update", "p4", "d2"), ev(22, "delete", "p3")],
]

FINAL = {("r0", "p1"): "a2", ("r0", "p2"): "b2", ("r0", "p4"): "d2"}


def test_mor_converges_with_cow_and_oracle(spark, tmp_path):
    cow, mor = _mk(tmp_path, "cow", False), _mk(tmp_path, "mor", True)
    for i, rows in enumerate(EPOCHS):
        rc = _apply(spark, cow, rows, i)
        rm = _apply(spark, mor, rows, i)
        assert rc.counts == rm.counts  # identical classification
    assert _state(spark, cow) == FINAL
    assert _state(spark, mor) == FINAL
    # MOR appended delta files; COW rewrote buckets
    assert any(e.get("kind") == "delta" for e in mor.manifest().files)
    assert not any(e.get("kind") == "delta" for e in cow.manifest().files)


def test_mor_writes_only_changed_rows(spark, tmp_path):
    """The write-amplification point: epoch 1 changes 3 rows, so the MOR
    commit's new files hold exactly 3 rows, regardless of bucket sizes."""
    t = _mk(tmp_path, "t", True)
    _apply(spark, t, EPOCHS[0], 0)
    v1_files = {e["path"] for e in t.manifest().files}
    _apply(spark, t, EPOCHS[1], 1)
    m = t.manifest()
    new = [e for e in m.files if e["path"] not in v1_files]
    assert all(e["kind"] == "delta" for e in new)
    assert sum(e["rows"] for e in new) == 3  # update + tombstone + insert
    # epoch-0 base files still referenced untouched
    assert v1_files <= {e["path"] for e in m.files}


def test_mor_idempotent_replay(spark, tmp_path):
    t = _mk(tmp_path, "t", True)
    _apply(spark, t, EPOCHS[0], 0)
    _apply(spark, t, EPOCHS[1], 1)
    files = [e["path"] for e in t.manifest().files]
    res = _apply(spark, t, EPOCHS[1], 1)  # replay committed epoch
    assert res.skipped
    assert [e["path"] for e in t.manifest().files] == files
    assert _state(spark, t) == {("r0", "p2"): "b2", ("r0", "p3"): "c1", ("r0", "p4"): "d1"}


def test_mor_exists_rows_write_nothing(spark, tmp_path):
    t = _mk(tmp_path, "t", True)
    _apply(spark, t, EPOCHS[0], 0)
    files = [e["path"] for e in t.manifest().files]
    res = _apply(spark, t, [ev(30, "insert", "p1", "a1")], 1)  # matched + equal
    assert res.counts == {"exists": 1}
    assert [e["path"] for e in t.manifest().files] == files


def test_compact_folds_deltas_and_preserves_state(spark, tmp_path):
    t = _mk(tmp_path, "t", True)
    for i, rows in enumerate(EPOCHS):
        _apply(spark, t, rows, i)
    assert_cold_manifest_matches(t)
    before = _state(spark, t)
    n_files_before = len(t.manifest().files)
    stats = t.compact(spark)
    assert_cold_manifest_matches(t)
    assert stats["buckets_compacted"] > 0
    assert stats["files_after"] < stats["files_before"]
    m = t.manifest()
    assert not any(e.get("kind") == "delta" for e in m.files)
    assert len(m.files) < n_files_before
    assert _state(spark, t) == before
    # row_count exact again after compaction
    assert t.row_count() == len(before)
    # merges continue against the compacted table
    _apply(spark, t, [ev(40, "update", "p2", "b3")], 10)
    assert _state(spark, t)[("r0", "p2")] == "b3"
    # compact with no deltas is a no-op
    t.compact(spark)  # epoch-10 delta compacted
    assert t.compact(spark)["buckets_compacted"] == 0


def test_mor_full_mode_deletes_missing_keys(spark, tmp_path):
    t = _mk(tmp_path, "t", True)
    _apply(spark, t, EPOCHS[0], 0, mode=MergeMode.FULL)
    # FULL with only p1 present -> p2, p3 tombstoned via delta files
    res = _apply(spark, t, [ev(10, "insert", "p1", "a1")], 1, mode=MergeMode.FULL)
    assert res.counts == {"exists": 1, "delete": 2}
    assert _state(spark, t) == {("r0", "p1"): "a1"}


def test_mor_crash_retry_overwrites_stale_attempt(spark, tmp_path):
    """Crash between _write_data and _publish: the retry must overwrite
    the stale delta directory and converge (same protocol as COW)."""
    from pyspark.sql import functions as F
    from etlbox_spark.engine.lake import BUCKET_COL, MOR_OP_COL
    from etlbox_spark.functions.hashing import bucket_expr

    t = _mk(tmp_path, "t", True)
    _apply(spark, t, EPOCHS[0], 0)
    rows = spark.createDataFrame(
        [("r0", "p2", "c", "py", "b2")], REPO_FILES_SCHEMA
    ).withColumn(BUCKET_COL, bucket_expr(4, "repo", "path")).withColumn(
        MOR_OP_COL, F.lit("upsert")
    )
    # simulate the crash: data written under the NEXT version's dir name,
    # manifest never published
    v = t.manifest().version
    t._write_data(
        rows.withColumn("__order", F.lit(v + 1).cast("long")), f"d{v + 1}-e1", t.manifest(), "delta"
    )
    # retry through the real path
    res = _apply(spark, t, [ev(10, "update", "p2", "b2")], 1)
    assert not res.skipped
    assert _state(spark, t)[("r0", "p2")] == "b2"


def test_mor_schema_evolution_mid_stream(spark, tmp_path):
    """Column add arrives mid-stream in MOR mode: delta files of the new
    generation align with base files of the old one on read."""
    from pyspark.sql import types as T

    t = _mk(tmp_path, "t", True)
    _apply(spark, t, EPOCHS[0], 0)
    wide = T.StructType(
        list(EVENTS_SCHEMA.fields) + [T.StructField("stars", T.LongType(), True)]
    )
    e1 = spark.createDataFrame(
        [(10, "update", "r0", "p2", "c0010", "py", "b2", 7)], wide
    )
    apply_epoch(spark, t, e1, SPEC, MergeMode.DELTA, 1)
    m = t.manifest()
    assert m.current_schema_version == 2
    rows = {r.path: r for r in t.read(spark).collect()}
    assert rows["p2"].content == "b2" and rows["p2"].stars == 7
    assert rows["p1"].stars is None  # old-generation base row null-backfilled
    # compaction rewrites the dirty buckets at the current schema version
    stats = t.compact(spark)
    assert stats["buckets_compacted"] > 0
    rows = {r.path: r for r in t.read(spark).collect()}
    assert rows["p2"].stars == 7 and rows["p1"].stars is None


def test_auto_compaction_policy_bounds_delta_files(spark, tmp_path):
    """replay() with compact.max.deltas.per.bucket=K keeps every bucket's
    live delta-file count < K while state still matches the oracle."""
    from etlbox_spark.engine.gen import gen_events, write_events
    from etlbox_spark.engine.runner import replay

    ev_dir = str(tmp_path / "events")
    write_events(
        gen_events(spark, n_events=3000, n_repos=10, paths_per_repo=40, epoch_size=500),
        ev_dir,
    )
    t = LakeTable.create(
        str(tmp_path / "t"), REPO_FILES_SCHEMA, ["repo", "path"], 4,
        properties={"write.mode": "mor", "compact.max.deltas.per.bucket": 2},
    )
    replay(spark, t, ev_dir, MergeSpec(), MergeMode.DELTA)
    per_bucket: dict[int, int] = {}
    for e in t.manifest().files:
        if e.get("kind") == "delta":
            per_bucket[e["bucket"]] = per_bucket.get(e["bucket"], 0) + 1
    assert all(n < 2 for n in per_bucket.values()), per_bucket
    # oracle: pure-python replay of the same events
    import pandas as pd

    state: dict = {}
    for r in pd.read_parquet(ev_dir).sort_values("event_seq").itertuples():
        if r.op == "delete":
            state.pop((r.repo, r.path), None)
        else:
            state[(r.repo, r.path)] = r.content
    assert _state(spark, t) == state


def test_rollback_restores_mor_delta_state(spark, tmp_path):
    """Rollback re-references delta entries verbatim: rolling a MoR table
    back to a mid-stream snapshot restores the read-merged state of that
    snapshot (base + the deltas live at that version), and the rolled-back
    epoch re-applies afterwards to converge on the straight-through run."""
    t = _mk(tmp_path, "mor_rb", True)
    for i, rows in enumerate(EPOCHS[:2]):
        _apply(spark, t, rows, i)
    mid_v = t.latest_version()
    mid = _state(spark, t)
    _apply(spark, t, EPOCHS[2], 2)
    assert _state(spark, t) == FINAL

    t.rollback(mid_v)
    assert _state(spark, t) == mid
    assert any(e.get("kind") == "delta" for e in t.manifest().files)
    r = _apply(spark, t, EPOCHS[2], 2)  # re-applies, not skipped
    assert not r.skipped
    assert _state(spark, t) == FINAL
