"""ETLBox DbMergeTests re-expressed (SURVEY.md §5.2, FIXTURES.md §4).

The reference's TwoColumnsTableFixture golden rows (1,'Test1')..(3,'Test3')
become (repo='r0', path='p{i}', content='Test{i}') under the (repo, path)
key model. Every fixture asserts the final snapshot AND the delta-log
ChangeActions (incl. existence flags), plus per-row sha256(content)
equality against a pure-Python replay oracle (BASELINE.json:15).
"""

from __future__ import annotations

import hashlib

import pytest

from etlbox_spark.engine import LakeTable, MergeMode, MergeSpec, apply_epoch
from etlbox_spark.functions.hashing import content_sha256

from .conftest import EVENTS_SCHEMA, REPO_FILES_SCHEMA, ev

# parity fixtures compare by content only (ETLBox [CompareColumn] equality)
SPEC = MergeSpec(compare_cols=("content",))


def _table(tmp_path):
    return LakeTable.create(str(tmp_path / "t"), REPO_FILES_SCHEMA, ["repo", "path"], 8)


def _apply(spark, t, rows, mode, epoch, delta_dir):
    df = spark.createDataFrame(rows, EVENTS_SCHEMA)
    return apply_epoch(spark, t, df, SPEC, mode, epoch, delta_dir=delta_dir)


def _seed_three(spark, t, delta_dir):
    rows = [ev(1, "insert", "p1", "Test1"), ev(2, "insert", "p2", "Test2"),
            ev(3, "insert", "p3", "Test3")]
    return _apply(spark, t, rows, MergeMode.FULL, 0, delta_dir)


def _snapshot(spark, t):
    return {(r.repo, r.path): r.content for r in t.read(spark).collect()}


def _delta_actions(spark, delta_dir, epoch):
    df = spark.read.parquet(f"{delta_dir}/epoch={epoch}")
    return {(r.repo, r.path): r.action for r in df.collect()}


def _sha_ok(spark, t, expected: dict):
    """Per-row sha256(content) vs the python-side oracle."""
    got = {
        (r.repo, r.path): r.sha
        for r in t.read(spark).withColumn("sha", content_sha256()).collect()
    }
    want = {
        k: hashlib.sha256(v.encode()).hexdigest() for k, v in expected.items()
    }
    assert got == want


def test_full_into_empty(spark, tmp_path):
    t = _table(tmp_path)
    d = str(tmp_path / "delta")
    res = _seed_three(spark, t, d)
    assert res.counts == {"insert": 3}
    exp = {("r0", "p1"): "Test1", ("r0", "p2"): "Test2", ("r0", "p3"): "Test3"}
    assert _snapshot(spark, t) == exp
    assert set(_delta_actions(spark, d, 0).values()) == {"insert"}
    _sha_ok(spark, t, exp)


def test_full_overlap(spark, tmp_path):
    t = _table(tmp_path)
    d = str(tmp_path / "delta")
    _seed_three(spark, t, d)
    rows = [ev(10, "insert", "p2", "Test2"), ev(11, "insert", "p3", "TestX"),
            ev(12, "insert", "p4", "Test4")]
    res = _apply(spark, t, rows, MergeMode.FULL, 1, d)
    exp = {("r0", "p2"): "Test2", ("r0", "p3"): "TestX", ("r0", "p4"): "Test4"}
    assert _snapshot(spark, t) == exp
    acts = _delta_actions(spark, d, 1)
    assert acts == {
        ("r0", "p1"): "delete",   # absent from source → deleted (Full)
        ("r0", "p2"): "exists",   # equal → existence flag, no write
        ("r0", "p3"): "update",
        ("r0", "p4"): "insert",
    }
    assert res.counts == {"delete": 1, "exists": 1, "update": 1, "insert": 1}
    _sha_ok(spark, t, exp)


def test_no_deletions_suppresses_deletes(spark, tmp_path):
    t = _table(tmp_path)
    d = str(tmp_path / "delta")
    _seed_three(spark, t, d)
    rows = [ev(10, "insert", "p2", "Test2"), ev(11, "insert", "p3", "TestX"),
            ev(12, "insert", "p4", "Test4")]
    _apply(spark, t, rows, MergeMode.NO_DELETIONS, 1, d)
    exp = {("r0", "p1"): "Test1", ("r0", "p2"): "Test2",
           ("r0", "p3"): "TestX", ("r0", "p4"): "Test4"}
    assert _snapshot(spark, t) == exp  # p1 retained
    acts = _delta_actions(spark, d, 1)
    assert acts[("r0", "p1")] == "exists"  # suppressed delete → existence flag
    _sha_ok(spark, t, exp)


def test_delta_flagged_delete(spark, tmp_path):
    t = _table(tmp_path)
    d = str(tmp_path / "delta")
    _seed_three(spark, t, d)
    rows = [ev(10, "update", "p2", "TestY"), ev(11, "delete", "p3")]
    res = _apply(spark, t, rows, MergeMode.DELTA, 1, d)
    exp = {("r0", "p1"): "Test1", ("r0", "p2"): "TestY"}
    assert _snapshot(spark, t) == exp  # p1 untouched: no full diff in Delta
    acts = _delta_actions(spark, d, 1)
    assert acts == {("r0", "p2"): "update", ("r0", "p3"): "delete"}
    assert res.counts == {"update": 1, "delete": 1}
    _sha_ok(spark, t, exp)


@pytest.mark.parametrize("mode", [MergeMode.FULL, MergeMode.DELTA, MergeMode.NO_DELETIONS])
def test_idempotent_replay(spark, tmp_path, mode):
    t = _table(tmp_path)
    d = str(tmp_path / "delta")
    _seed_three(spark, t, d)
    rows = [ev(10, "update", "p2", "TestY")]
    _apply(spark, t, rows, mode, 1, d)
    before = _snapshot(spark, t)
    v_before = t.latest_version()
    res = _apply(spark, t, rows, mode, 1, d)  # same epoch re-applied
    assert res.skipped
    assert t.latest_version() == v_before
    assert _snapshot(spark, t) == before


def test_tombstone_of_absent_key_is_noop(spark, tmp_path):
    t = _table(tmp_path)
    d = str(tmp_path / "delta")
    res = _apply(spark, t, [ev(1, "delete", "p9")], MergeMode.DELTA, 0, d)
    assert _snapshot(spark, t) == {}
    assert res.counts == {}  # nothing logged
    assert res.changed_buckets == []


def test_lww_dedupe_within_epoch(spark, tmp_path):
    """Out-of-order + duplicate delivery inside one epoch: highest
    event_seq wins; re-delivered rows are collapsed."""
    t = _table(tmp_path)
    d = str(tmp_path / "delta")
    rows = [
        ev(5, "insert", "p1", "v5"),
        ev(3, "insert", "p1", "v3"),   # out of order, must lose
        ev(5, "insert", "p1", "v5"),   # duplicate delivery
        ev(8, "update", "p1", "v8"),
        ev(2, "insert", "p2", "w2"),
        ev(9, "delete", "p2"),         # tombstone wins over w2
    ]
    res = _apply(spark, t, rows, MergeMode.DELTA, 0, d)
    assert _snapshot(spark, t) == {("r0", "p1"): "v8"}
    assert res.counts == {"insert": 1}  # p1 net-insert; p2 tombstone of absent → noop


def test_exists_rows_cause_zero_file_churn(spark, tmp_path):
    """SURVEY.md §7 hard #2: a batch that only re-states current rows
    commits the epoch marker but rewrites no files."""
    t = _table(tmp_path)
    d = str(tmp_path / "delta")
    _seed_three(spark, t, d)
    files_before = {e["path"] for e in t.manifest().files}
    rows = [ev(10, "insert", "p1", "Test1"), ev(11, "insert", "p2", "Test2"),
            ev(12, "insert", "p3", "Test3")]
    res = _apply(spark, t, rows, MergeMode.DELTA, 1, d)
    assert res.counts == {"exists": 3}
    assert res.changed_buckets == []
    assert {e["path"] for e in t.manifest().files} == files_before
    assert t.is_committed(1)


def test_only_updates_suppresses_inserts(spark, tmp_path):
    """MergeMode.ONLY_UPDATES (later-upstream MergeMode, SURVEY.md §1.1):
    new keys are dropped unlogged, matched keys update, tombstone hits
    are suppressed as existence flags."""
    t = _table(tmp_path)
    d = str(tmp_path / "delta")
    _seed_three(spark, t, d)
    rows = [ev(10, "insert", "p4", "Test4"),   # new key -> suppressed
            ev(11, "update", "p2", "TestX"),   # matched -> update
            ev(12, "insert", "p3", "Test3"),   # matched + equal -> exists
            ev(13, "delete", "p1")]            # tombstone hit -> exists flag
    res = _apply(spark, t, rows, MergeMode.ONLY_UPDATES, 1, d)
    exp = {("r0", "p1"): "Test1", ("r0", "p2"): "TestX", ("r0", "p3"): "Test3"}
    assert _snapshot(spark, t) == exp
    assert res.counts == {"update": 1, "exists": 2}
    acts = _delta_actions(spark, d, 1)
    assert ("r0", "p4") not in acts            # suppressed insert unlogged
    assert acts[("r0", "p2")] == "update"
    assert acts[("r0", "p1")] == "exists"
    _sha_ok(spark, t, exp)


def test_inserts_only_never_rewrites(spark, tmp_path):
    """MergeMode.INSERTS_ONLY: new keys insert; matched keys are never
    rewritten — updates and tombstone hits become existence flags with
    the old payload kept."""
    t = _table(tmp_path)
    d = str(tmp_path / "delta")
    _seed_three(spark, t, d)
    rows = [ev(10, "insert", "p4", "Test4"),   # new key -> insert
            ev(11, "update", "p2", "TestX"),   # matched -> exists, old kept
            ev(12, "delete", "p1")]            # tombstone hit -> exists
    res = _apply(spark, t, rows, MergeMode.INSERTS_ONLY, 1, d)
    exp = {("r0", "p1"): "Test1", ("r0", "p2"): "Test2",
           ("r0", "p3"): "Test3", ("r0", "p4"): "Test4"}
    assert _snapshot(spark, t) == exp
    assert res.counts == {"insert": 1, "exists": 2}
    acts = _delta_actions(spark, d, 1)
    assert acts[("r0", "p4")] == "insert"
    assert acts[("r0", "p2")] == "exists"
    assert acts[("r0", "p1")] == "exists"
    _sha_ok(spark, t, exp)


def test_read_changes_incremental_feed(spark, tmp_path):
    """CDC-out (read_changes): the delta log is an exactly-once
    incremental change stream — epoch-bounded reads return exactly the
    committed actions in range, prune to the requested epochs' files,
    and never surface an in-flight attempt."""
    import shutil

    from etlbox_spark.engine.merge import read_changes

    t = _table(tmp_path)
    d = str(tmp_path / "delta")
    _seed_three(spark, t, d)
    _apply(spark, t, [ev(10, "update", "p1", "Test1b"), ev(11, "delete", "p2"),
                      ev(12, "insert", "p4", "Test4")], MergeMode.DELTA, 1, d)
    _apply(spark, t, [ev(20, "update", "p4", "Test4b")], MergeMode.DELTA, 2, d)

    # a consumer checkpointed at epoch 0 reads exactly epochs 1..2
    feed = read_changes(spark, d, from_epoch=1)
    got = {(r.path, int(r.epoch)): r.action for r in feed.collect()}
    assert got == {("p1", 1): "update", ("p2", 1): "delete",
                   ("p4", 1): "insert", ("p4", 2): "update"}
    # the changed payload rides along (insert/update carry the new value)
    val = {r.path: r.content for r in feed.where("epoch = 2").collect()}
    assert val == {"p4": "Test4b"}

    # epoch bounds prune driver-side: only the selected epochs' dirs are
    # handed to the reader, so the relation's file list IS the evidence
    one = read_changes(spark, d, from_epoch=1, to_epoch=1)
    assert one.inputFiles() and all("epoch=1" in f for f in one.inputFiles())
    assert {int(r.epoch) for r in one.collect()} == {1}

    # an in-flight (crashed, uncommitted) attempt is invisible to the feed
    shutil.copytree(f"{d}/epoch=2", f"{d}/_inflight-epoch-9")
    assert {int(r.epoch) for r in read_changes(spark, d).collect()} == {0, 1, 2}


def test_expire_changes_retention(spark, tmp_path):
    """Change-feed retention: epochs older than the cutoff disappear,
    the rest (and in-flight attempt dirs) survive, and read_changes over
    the remaining range still works."""
    import os
    import shutil

    from etlbox_spark.engine.merge import expire_changes, read_changes

    t = _table(tmp_path)
    d = str(tmp_path / "delta")
    _seed_three(spark, t, d)
    _apply(spark, t, [ev(10, "update", "p1", "Test1b")], MergeMode.DELTA, 1, d)
    _apply(spark, t, [ev(20, "update", "p1", "Test1c")], MergeMode.DELTA, 2, d)
    shutil.copytree(f"{d}/epoch=2", f"{d}/_inflight-epoch-3")

    res = expire_changes(d, before_epoch=1)
    assert res == {"removed": 1, "kept": 2}
    assert sorted(n for n in os.listdir(d)) == [
        "_inflight-epoch-3", "epoch=1", "epoch=2"
    ]
    feed = read_changes(spark, d)
    assert {int(r.epoch) for r in feed.collect()} == {1, 2}
    # the table is untouched by log retention
    assert _snapshot(spark, t) == {("r0", "p1"): "Test1c", ("r0", "p2"): "Test2",
                                   ("r0", "p3"): "Test3"}


def test_expire_changes_tolerates_races_and_malformed_names(spark, tmp_path, monkeypatch):
    """Two expire_changes actors can race on the same log: the loser's
    rmtree finds the dir already gone. The sweep must credit the removal
    to the winner (not double-count) and keep going — not abort mid-sweep
    leaving younger expirable epochs behind. A malformed epoch dir name
    (external tooling debris) is likewise skipped, not fatal."""
    import os
    import shutil

    from etlbox_spark.engine.merge import expire_changes, read_changes

    t = _table(tmp_path)
    d = str(tmp_path / "delta")
    _seed_three(spark, t, d)
    _apply(spark, t, [ev(10, "update", "p1", "Test1b")], MergeMode.DELTA, 1, d)
    _apply(spark, t, [ev(20, "update", "p1", "Test1c")], MergeMode.DELTA, 2, d)
    os.makedirs(os.path.join(d, "epoch=bogus"))  # unparseable suffix

    real_rmtree = shutil.rmtree

    def racing_rmtree(p, *a, **kw):
        if os.path.basename(str(p)) == "epoch=0":
            real_rmtree(p)  # the concurrent winner deletes it first...
            raise FileNotFoundError(p)  # ...so this sweep's attempt fails
        return real_rmtree(p, *a, **kw)

    monkeypatch.setattr(shutil, "rmtree", racing_rmtree)
    res = expire_changes(d, before_epoch=2)
    monkeypatch.setattr(shutil, "rmtree", real_rmtree)

    # epoch=0's removal belongs to the winner; this sweep removed epoch=1,
    # kept epoch=2, and skipped the malformed name without aborting
    assert res == {"removed": 1, "kept": 1}
    assert sorted(os.listdir(d)) == ["epoch=2", "epoch=bogus"]
    assert {int(r.epoch) for r in read_changes(spark, d).collect()} == {2}


def test_rollback_rewrites_reapplied_epoch_change_log(spark, tmp_path):
    """Rollback + CDC-out interplay: a rolled-back epoch's re-application
    REWRITES its epoch=N change-log dir (the stale final dir is cleared
    before the new delta lands), so a fresh feed consumer sees the
    corrected actions, not the poisoned ones. Consumers that already
    drained the old log are beyond the table's control — Delta's
    RESTORE + CDF caveat, documented on LakeTable.rollback."""
    from etlbox_spark.engine.merge import read_changes

    t = _table(tmp_path)
    d = str(tmp_path / "delta")
    _seed_three(spark, t, d)
    good_v = t.latest_version()
    _apply(spark, t, [ev(10, "update", "p1", "POISON")], MergeMode.DELTA, 1, d)
    assert _delta_actions(spark, d, 1) == {("r0", "p1"): "update"}
    assert _snapshot(spark, t)[("r0", "p1")] == "POISON"

    t.rollback(good_v)
    # the stale log is still visible until the epoch re-applies (history
    # is never rewritten; the feed heals forward, not backward)
    assert {int(r.epoch) for r in read_changes(spark, d).collect()} == {0, 1}

    _apply(spark, t, [ev(10, "update", "p1", "Test1-fixed")], MergeMode.DELTA, 1, d)
    assert _snapshot(spark, t)[("r0", "p1")] == "Test1-fixed"
    feed = read_changes(spark, d, from_epoch=1).collect()
    assert {(r.repo, r.path, r.content, r.action) for r in feed} == {
        ("r0", "p1", "Test1-fixed", "update")
    }
    _sha_ok(spark, t, {("r0", "p1"): "Test1-fixed", ("r0", "p2"): "Test2",
                       ("r0", "p3"): "Test3"})
