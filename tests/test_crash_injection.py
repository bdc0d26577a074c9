"""Exactly-once under crash injection at the merge level (SURVEY.md §7
hard #1; BASELINE.json:6 "replay after failure converges to the identical
final table state").

test_lake covers the rename-protocol window; here we kill apply_epoch
itself between the data-file write and the manifest publish, and between
the delta write and everything after, then re-run the epoch and the rest
of the stream — final state must equal the pure-Python oracle exactly.
"""

from __future__ import annotations

import hashlib

import pytest

from etlbox_spark.engine import LakeTable, MergeMode, MergeSpec, apply_epoch
from etlbox_spark.engine.lake import LakeTable as LT

from .conftest import EVENTS_SCHEMA, REPO_FILES_SCHEMA, ev

SPEC = MergeSpec(compare_cols=("content",))

EPOCHS = [
    [ev(1, "insert", "p1", "Test1"), ev(2, "insert", "p2", "Test2")],
    [ev(3, "update", "p1", "Test1b"), ev(4, "insert", "p3", "Test3")],
    [ev(5, "delete", "p2"), ev(6, "insert", "p4", "Test4")],
]
FINAL = {("r0", "p1"): "Test1b", ("r0", "p3"): "Test3", ("r0", "p4"): "Test4"}


def _state(spark, t):
    return {(r.repo, r.path): r.content for r in t.read(spark).collect()}


def _replay_all(spark, t, tmp_path):
    for i, rows in enumerate(EPOCHS):
        apply_epoch(spark, t, spark.createDataFrame(rows, EVENTS_SCHEMA),
                    SPEC, MergeMode.DELTA, i, delta_dir=str(tmp_path / "d"))


def test_crash_between_data_write_and_publish(spark, tmp_path, monkeypatch):
    t = LakeTable.create(str(tmp_path / "t"), REPO_FILES_SCHEMA, ["repo", "path"], 4)
    apply_epoch(spark, t, spark.createDataFrame(EPOCHS[0], EVENTS_SCHEMA),
                SPEC, MergeMode.DELTA, 0, delta_dir=str(tmp_path / "d"))
    v_before = t.latest_version()
    state_before = _state(spark, t)

    real_publish = LT._publish

    def boom(self, m):
        raise RuntimeError("simulated crash before manifest publish")

    monkeypatch.setattr(LT, "_publish", boom)
    with pytest.raises(RuntimeError, match="simulated crash"):
        apply_epoch(spark, t, spark.createDataFrame(EPOCHS[1], EVENTS_SCHEMA),
                    SPEC, MergeMode.DELTA, 1, delta_dir=str(tmp_path / "d"))
    monkeypatch.setattr(LT, "_publish", real_publish)

    # the failed epoch is invisible: same version, same rows (orphan data
    # files on disk are vacuum's problem, not correctness's)
    assert t.latest_version() == v_before
    assert _state(spark, t) == state_before

    # resume: re-run the crashed epoch and the rest — exact convergence
    for i in (1, 2):
        apply_epoch(spark, t, spark.createDataFrame(EPOCHS[i], EVENTS_SCHEMA),
                    SPEC, MergeMode.DELTA, i, delta_dir=str(tmp_path / "d"))
    assert _state(spark, t) == FINAL
    # orphans from the crashed attempt are reclaimable
    stats = t.vacuum(keep_versions=1)
    assert _state(spark, t) == FINAL
    assert stats["files_deleted"] >= 0


def test_crash_after_delta_write_before_commit(spark, tmp_path, monkeypatch):
    t = LakeTable.create(str(tmp_path / "t"), REPO_FILES_SCHEMA, ["repo", "path"], 4)

    real_commit = LT.commit_buckets
    calls = {"n": 0}

    def flaky_commit(self, df, changed, epoch_id, new_schema=None, base_version=None):
        calls["n"] += 1
        if calls["n"] == 2:  # crash exactly on epoch 1's commit
            raise RuntimeError("simulated crash after delta write")
        return real_commit(
            self, df, changed, epoch_id, new_schema=new_schema, base_version=base_version
        )

    monkeypatch.setattr(LT, "commit_buckets", flaky_commit)
    apply_epoch(spark, t, spark.createDataFrame(EPOCHS[0], EVENTS_SCHEMA),
                SPEC, MergeMode.DELTA, 0, delta_dir=str(tmp_path / "d"))
    with pytest.raises(RuntimeError, match="simulated crash"):
        apply_epoch(spark, t, spark.createDataFrame(EPOCHS[1], EVENTS_SCHEMA),
                    SPEC, MergeMode.DELTA, 1, delta_dir=str(tmp_path / "d"))
    monkeypatch.setattr(LT, "commit_buckets", real_commit)

    # VERDICT r02 #6: the uncommitted epoch's delta must NOT be visible
    # under its final name — only the in-flight temp dir may exist
    import os

    assert not os.path.exists(str(tmp_path / "d" / "epoch=1"))
    assert os.path.exists(str(tmp_path / "d" / "_inflight-epoch-1"))

    # the retry overwrites the in-flight delta and commits —
    # byte-identical convergence, and the final name appears
    for i in (1, 2):
        apply_epoch(spark, t, spark.createDataFrame(EPOCHS[i], EVENTS_SCHEMA),
                    SPEC, MergeMode.DELTA, i, delta_dir=str(tmp_path / "d"))
    got = _state(spark, t)
    assert got == FINAL
    assert {
        k: hashlib.sha256(v.encode()).hexdigest() for k, v in got.items()
    } == {k: hashlib.sha256(v.encode()).hexdigest() for k, v in FINAL.items()}
    # delta log for the retried epoch reflects the successful attempt
    d1 = spark.read.parquet(str(tmp_path / "d" / "epoch=1"))
    assert {r.action for r in d1.collect()} == {"update", "insert"}
    # the in-flight temp dir was renamed away, not copied
    assert not os.path.exists(str(tmp_path / "d" / "_inflight-epoch-1"))


def test_crash_between_commit_and_delta_rename_heals_on_retry(spark, tmp_path, monkeypatch):
    """The flip side of the closed window: if the crash lands AFTER the
    lake commit but BEFORE the delta rename, the committed epoch's delta
    is exposed by the retry's no-op branch."""
    import os
    import shutil

    from etlbox_spark.engine import merge as merge_mod

    t = LakeTable.create(str(tmp_path / "t"), REPO_FILES_SCHEMA, ["repo", "path"], 4)
    real_fin = merge_mod._finalize_epoch_log
    monkeypatch.setattr(merge_mod, "_finalize_epoch_log", lambda d, e: None)
    apply_epoch(spark, t, spark.createDataFrame(EPOCHS[0], EVENTS_SCHEMA),
                SPEC, MergeMode.DELTA, 0, delta_dir=str(tmp_path / "d"))
    monkeypatch.setattr(merge_mod, "_finalize_epoch_log", real_fin)

    assert t.is_committed(0)
    assert not os.path.exists(str(tmp_path / "d" / "epoch=0"))
    # retry of the committed epoch is a table no-op but finalizes the log
    res = apply_epoch(spark, t, spark.createDataFrame(EPOCHS[0], EVENTS_SCHEMA),
                      SPEC, MergeMode.DELTA, 0, delta_dir=str(tmp_path / "d"))
    assert res.skipped
    d0 = spark.read.parquet(str(tmp_path / "d" / "epoch=0"))
    assert {r.action for r in d0.collect()} == {"insert"}
    # a leftover attempt dir of the committed, visible epoch is stale:
    # the visible final wins, and re-applying the epoch removes it
    leftover = str(tmp_path / "d" / "_inflight-epoch-0")
    shutil.copytree(str(tmp_path / "d" / "epoch=0"), leftover)
    apply_epoch(spark, t, spark.createDataFrame(EPOCHS[0], EVENTS_SCHEMA),
                SPEC, MergeMode.DELTA, 0, delta_dir=str(tmp_path / "d"))
    assert not os.path.exists(leftover)


def test_finalize_heal_survives_concurrent_healer(spark, tmp_path, monkeypatch):
    """ANY actor retrying a committed epoch heals its crashed rename, so
    two healers can race: the loser's os.replace finds the in-flight dir
    already renamed away. The loser must treat that as success (the
    winner established exactly the postcondition), for both the delta log
    and the quarantine log. Driven by an os.replace wrapper that lets the
    'other healer' win first."""
    import os
    import shutil

    from etlbox_spark.engine import merge as merge_mod

    t = LakeTable.create(str(tmp_path / "t"), REPO_FILES_SCHEMA, ["repo", "path"], 4)
    monkeypatch.setattr(merge_mod, "_finalize_epoch_log", lambda d, e: None)
    apply_epoch(spark, t, spark.createDataFrame(EPOCHS[0], EVENTS_SCHEMA),
                SPEC, MergeMode.DELTA, 0, delta_dir=str(tmp_path / "d"))
    monkeypatch.undo()
    assert t.is_committed(0)
    d = str(tmp_path / "d")
    assert not os.path.exists(os.path.join(d, "epoch=0"))
    # a crashed quarantine rename of the same committed epoch
    qroot = os.path.join(d, "_quarantine")
    os.makedirs(os.path.join(qroot, "_inflight-epoch-0"))
    with open(os.path.join(qroot, "_inflight-epoch-0", "part.parquet"), "wb") as f:
        shutil.copyfileobj(
            open(next(
                os.path.join(d, "_inflight-epoch-0", n)
                for n in os.listdir(os.path.join(d, "_inflight-epoch-0"))
                if n.endswith(".parquet")
            ), "rb"),
            f,
        )

    real_replace = os.replace

    def racing_replace(src, dst, *a, **kw):
        if os.path.basename(str(src)).startswith("_inflight-epoch-"):
            real_replace(src, dst)  # the concurrent winner renames first...
            return real_replace(src, dst)  # ...so this attempt raises ENOENT
        return real_replace(src, dst, *a, **kw)

    monkeypatch.setattr(os, "replace", racing_replace)
    merge_mod._finalize_epoch_log(d, 0)  # must not raise
    merge_mod._finalize_epoch_log(qroot, 0)  # must not raise
    monkeypatch.undo()

    d0 = spark.read.parquet(os.path.join(d, "epoch=0"))
    assert {r.action for r in d0.collect()} == {"insert"}
    assert os.path.isdir(os.path.join(qroot, "epoch=0"))
    assert not os.path.exists(os.path.join(d, "_inflight-epoch-0"))
    assert not os.path.exists(os.path.join(qroot, "_inflight-epoch-0"))
