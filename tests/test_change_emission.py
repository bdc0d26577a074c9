"""Maintenance change-feed emission (VERDICT r04 #2): delete_where and
rollback can emit synthesized change sets so downstream mirrors see
erasures — the r04 CDC blind spot. Contract under test:

* a mirror consuming epochs + maintenance sets (ordered by after_epoch)
  converges to the table state — including through a later epoch that
  re-inserts an erased key,
* rollback's emitted diff is exactly the insert/update/delete set that
  turns the pre-rollback snapshot into the target,
* the rename-after-publish crash window heals on the next maintenance
  call (a visible version=V dir implies commit V landed),
* the streaming face drains the same rows,
* retention expires sets independently of epochs.
"""

from __future__ import annotations

import os

import pytest

from etlbox_spark.engine import (
    LakeTable,
    MergeMode,
    MergeSpec,
    apply_epoch,
    read_changes,
    read_maintenance_changes,
)
from etlbox_spark.engine.merge import expire_changes

from .conftest import EVENTS_SCHEMA, REPO_FILES_SCHEMA, ev

SPEC = MergeSpec(compare_cols=("content",))


def _mk(tmp_path, name="t", mor=True):
    props = {"write.mode": "mor"} if mor else {}
    return LakeTable.create(
        str(tmp_path / name), REPO_FILES_SCHEMA, ["repo", "path"], 4, properties=props
    )


def _apply(spark, t, rows, epoch, delta_dir):
    return apply_epoch(
        spark, t, spark.createDataFrame(rows, EVENTS_SCHEMA), SPEC,
        MergeMode.DELTA, epoch, delta_dir=delta_dir,
    )


def _state(spark, t):
    return {(r.repo, r.path): r.content for r in t.read(spark).collect()}


def _mirror(spark, delta_dir, upto_epoch=None):
    """Independent mirror: replay the epoch feed and the maintenance feed
    in the documented order (maintenance set V applies after epochs ≤ its
    after_epoch, before later epochs; sets in version order)."""
    items = []
    for r in read_changes(spark, delta_dir).collect():
        if upto_epoch is not None and int(r["epoch"]) > upto_epoch:
            continue
        items.append((float(r["epoch"]), 0, int(r["epoch"]), r))
    try:
        maint = read_maintenance_changes(spark, delta_dir).collect()
    except FileNotFoundError:
        maint = []
    for r in maint:
        if upto_epoch is not None and float(r["after_epoch"]) > upto_epoch:
            continue
        items.append((float(r["after_epoch"]) + 0.5, int(r["version"]), 0, r))
    state: dict = {}
    for _, _, _, r in sorted(items, key=lambda x: (x[0], x[1], x[2])):
        k = (r["repo"], r["path"])
        if r["action"] in ("insert", "update"):
            state[k] = r["content"]
        elif r["action"] == "delete":
            state.pop(k, None)
    return state


def test_delete_where_emits_erasure_and_mirror_converges(spark, tmp_path):
    t = _mk(tmp_path)
    d = str(tmp_path / "delta")
    _apply(spark, t, [ev(1, "insert", "p1", "a1"), ev(2, "insert", "p2", "b1")], 0, d)
    _apply(spark, t, [ev(10, "update", "p2", "b2"), ev(11, "insert", "p3", "c1")], 1, d)

    res = t.delete_where(spark, "path = 'p2'", emit_changes=True, delta_dir=d)
    assert res["rows_deleted"] == 1

    feed = read_maintenance_changes(spark, d)
    rows = feed.collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["repo"], r["path"], r["action"]) == ("r0", "p2", "delete")
    assert r["content"] == "b2"  # the erased PREIMAGE
    assert int(r["after_epoch"]) == 1 and int(r["version"]) == res["version"]

    # a later epoch re-inserts the erased key: ordering keeps the mirror right
    _apply(spark, t, [ev(20, "insert", "p2", "b3")], 2, d)
    assert _mirror(spark, d) == _state(spark, t) == {
        ("r0", "p1"): "a1", ("r0", "p2"): "b3", ("r0", "p3"): "c1",
    }
    # ...and mid-stream (before epoch 2) the mirror saw the erasure
    assert _mirror(spark, d, upto_epoch=1) == {("r0", "p1"): "a1", ("r0", "p3"): "c1"}


def test_delete_without_emission_keeps_default_blindspot(spark, tmp_path):
    t = _mk(tmp_path)
    d = str(tmp_path / "delta")
    _apply(spark, t, [ev(1, "insert", "p1", "a1")], 0, d)
    t.delete_where(spark, "path = 'p1'")
    with pytest.raises(FileNotFoundError):
        read_maintenance_changes(spark, d)
    with pytest.raises(ValueError, match="delta_dir"):
        t.delete_where(spark, "path = 'p1'", emit_changes=True)


def test_rollback_emits_snapshot_diff(spark, tmp_path):
    t = _mk(tmp_path)
    d = str(tmp_path / "delta")
    _apply(spark, t, [ev(1, "insert", "p1", "a1"), ev(2, "insert", "p2", "b1")], 0, d)
    good_v = t.latest_version()
    _apply(
        spark, t,
        [ev(10, "update", "p1", "POISON"), ev(11, "delete", "p2"),
         ev(12, "insert", "p4", "d1")],
        1, d,
    )
    v = t.rollback(good_v, spark=spark, emit_changes=True, delta_dir=d)
    got = {
        (r["repo"], r["path"]): (r["action"], r["content"], int(r["after_epoch"]))
        for r in read_maintenance_changes(spark, d).collect()
    }
    assert got == {
        ("r0", "p1"): ("update", "a1", 0),       # poison reverted to target value
        ("r0", "p2"): ("insert", "b1", 0),       # tombstoned row restored
        ("r0", "p4"): ("delete", "d1", 0),       # rolled-back insert erased (preimage)
    }
    assert {int(r["version"]) for r in read_maintenance_changes(spark, d).collect()} == {v}
    # the mirror that drained poisoned epoch 1 converges once the
    # rolled-back epoch is re-applied corrected (rewriting epoch=1)
    _apply(spark, t, [ev(10, "update", "p1", "a2")], 1, d)
    assert _mirror(spark, d) == _state(spark, t) == {("r0", "p1"): "a2", ("r0", "p2"): "b1"}


def test_emission_crash_before_rename_heals_on_next_call(spark, tmp_path, monkeypatch):
    """Publish landed, rename crashed: the set is invisible (in-flight
    name) until the next emitting maintenance call heals it — token in
    the commit record proves which attempt's content it is."""
    t = _mk(tmp_path)
    d = str(tmp_path / "delta")
    _apply(spark, t, [ev(1, "insert", "p1", "a1"), ev(2, "insert", "p2", "b1")], 0, d)

    real = LakeTable._finalize_maintenance_changes
    monkeypatch.setattr(
        LakeTable, "_finalize_maintenance_changes",
        staticmethod(lambda tmp, version: (_ for _ in ()).throw(RuntimeError("crash"))),
    )
    with pytest.raises(RuntimeError, match="crash"):
        t.delete_where(spark, "path = 'p1'", emit_changes=True, delta_dir=d)
    monkeypatch.setattr(LakeTable, "_finalize_maintenance_changes", staticmethod(real))

    # deletion committed, feed empty (in-flight only)
    assert _state(spark, t) == {("r0", "p2"): "b1"}
    with pytest.raises(FileNotFoundError):
        read_maintenance_changes(spark, d)
    mroot = os.path.join(d, "_maint")
    assert any(n.startswith("_inflight-") for n in os.listdir(mroot))

    # ANY later emitting maintenance call heals first — even a no-match one
    t.delete_where(spark, "path = 'nope'", emit_changes=True, delta_dir=d)
    rows = read_maintenance_changes(spark, d).collect()
    assert [(r["path"], r["action"], r["content"]) for r in rows] == [("p1", "delete", "a1")]
    assert not any(n.startswith("_inflight-") for n in os.listdir(mroot))


def test_heal_survives_concurrent_finalize_race(spark, tmp_path, monkeypatch):
    """Two actors can race to finalize the same crashed in-flight set (the
    owning committer's retry and a reader's heal pass): the loser's
    os.replace finds the source already renamed away. The loser must treat
    that as success — the winner's rename established exactly the
    postcondition (token proves identical content) — not crash. Driven by
    an os.replace wrapper that lets the 'owner' win first."""
    t = _mk(tmp_path)
    d = str(tmp_path / "delta")
    _apply(spark, t, [ev(1, "insert", "p1", "a1"), ev(2, "insert", "p2", "b1")], 0, d)

    real_fin = LakeTable._finalize_maintenance_changes
    monkeypatch.setattr(
        LakeTable, "_finalize_maintenance_changes",
        staticmethod(lambda tmp, version: (_ for _ in ()).throw(RuntimeError("crash"))),
    )
    with pytest.raises(RuntimeError, match="crash"):
        t.delete_where(spark, "path = 'p1'", emit_changes=True, delta_dir=d)
    monkeypatch.setattr(LakeTable, "_finalize_maintenance_changes", staticmethod(real_fin))
    mroot = os.path.join(d, "_maint")
    assert any(n.startswith("_inflight-") for n in os.listdir(mroot))

    real_replace = os.replace

    def racing_replace(src, dst, *a, **kw):
        if os.path.basename(str(src)).startswith("_inflight-v"):
            real_replace(src, dst)  # the concurrent winner renames first...
            return real_replace(src, dst)  # ...so this attempt raises ENOENT
        return real_replace(src, dst, *a, **kw)

    monkeypatch.setattr(os, "replace", racing_replace)
    t._heal_maintenance_feed(d)  # must not raise
    monkeypatch.setattr(os, "replace", real_replace)

    rows = read_maintenance_changes(spark, d).collect()
    assert [(r["path"], r["action"], r["content"]) for r in rows] == [("p1", "delete", "a1")]
    assert not any(n.startswith("_inflight-") for n in os.listdir(mroot))


def test_owner_finalize_survives_healer_winning_first(spark, tmp_path, monkeypatch):
    """The destructive variant of the finalize race: a concurrent actor's
    heal pass (every delete_where/rollback entry runs one) can rename the
    owner's published-but-unrenamed tmp into place BEFORE the owner's own
    finalize. The owner must recognize the healed dir as its own set
    (commit versions are CAS-unique, token-proven content) — the old code
    rmtree'd it and then failed the replace on the vanished source,
    LOSING the change set."""
    t = _mk(tmp_path)
    d = str(tmp_path / "delta")
    _apply(spark, t, [ev(1, "insert", "p1", "a1"), ev(2, "insert", "p2", "b1")], 0, d)

    real_fin = LakeTable._finalize_maintenance_changes

    def healer_wins_first(tmp, version):
        t._heal_maintenance_feed(d)  # the concurrent healer finalizes first
        return real_fin(tmp, version)

    monkeypatch.setattr(
        LakeTable, "_finalize_maintenance_changes", staticmethod(healer_wins_first)
    )
    res = t.delete_where(spark, "path = 'p1'", emit_changes=True, delta_dir=d)
    monkeypatch.setattr(LakeTable, "_finalize_maintenance_changes", staticmethod(real_fin))

    assert res["rows_deleted"] == 1
    rows = read_maintenance_changes(spark, d).collect()
    assert [(r["path"], r["action"], r["content"]) for r in rows] == [("p1", "delete", "a1")]
    mroot = os.path.join(d, "_maint")
    assert not any(n.startswith("_inflight-") for n in os.listdir(mroot))


def test_finalize_clobbers_stale_foreign_final(tmp_path):
    """A feed dir surviving a table wipe/recreate can hold a STALE
    version=V from the previous table's life; the fresh commit's set must
    replace it (the only case the destructive clobber was ever for)."""
    mroot = tmp_path / "_maint"
    stale = mroot / "version=7"
    stale.mkdir(parents=True)
    (stale / "old.parquet").write_text("stale")
    tmp = mroot / "_inflight-v7-deadbeef"
    tmp.mkdir()
    (tmp / "new.parquet").write_text("fresh")

    final = LakeTable._finalize_maintenance_changes(str(tmp), 7)

    assert final == str(stale)
    assert sorted(os.listdir(final)) == ["new.parquet"]
    assert not tmp.exists()


def test_stream_maintenance_changes_drains_erasures(spark, tmp_path):
    from etlbox_spark.streaming.tail import stream_maintenance_changes

    t = _mk(tmp_path)
    d = str(tmp_path / "delta")
    _apply(spark, t, [ev(1, "insert", "p1", "a1"), ev(2, "insert", "p2", "b1")], 0, d)
    t.delete_where(spark, "path = 'p1'", emit_changes=True, delta_dir=d)

    change_schema = t.read(spark).schema  # table cols + bucket
    rows = []
    q = (
        stream_maintenance_changes(spark, d, change_schema)
        .writeStream.foreachBatch(lambda df, _b: rows.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    assert [(r["path"], r["action"], r["content"]) for r in rows] == [("p1", "delete", "a1")]

    # incremental: a second erasure, same checkpoint -> only the new set
    t.delete_where(spark, "path = 'p2'", emit_changes=True, delta_dir=d)
    rows2 = []
    q = (
        stream_maintenance_changes(spark, d, change_schema)
        .writeStream.foreachBatch(lambda df, _b: rows2.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    assert [(r["path"], r["action"]) for r in rows2] == [("p2", "delete")]
    # ...and the epoch stream's listing never saw the _maint subtree
    assert read_changes(spark, d).count() == 2


def test_expire_maintenance_sets_independently(spark, tmp_path):
    t = _mk(tmp_path)
    d = str(tmp_path / "delta")
    _apply(spark, t, [ev(1, "insert", "p1", "a1"), ev(2, "insert", "p2", "b1")], 0, d)
    r1 = t.delete_where(spark, "path = 'p1'", emit_changes=True, delta_dir=d)
    r2 = t.delete_where(spark, "path = 'p2'", emit_changes=True, delta_dir=d)
    assert read_maintenance_changes(spark, d).count() == 2
    # a stale attempt at the cutoff may be a committed-but-unrenamed set
    # still inside retention: only attempts below the cutoff age out
    attempt = os.path.join(d, "_maint", f"_inflight-v{r2['version']}-0123456789ab")
    os.makedirs(attempt)
    os.utime(attempt, (1, 1))
    stats = expire_changes(d, before_epoch=0, before_maintenance_version=r2["version"])
    assert stats["removed"] == 1
    assert os.path.isdir(attempt)
    left = read_maintenance_changes(spark, d).collect()
    assert [(r["path"], int(r["version"])) for r in left] == [("p2", r2["version"])]
    # range reads stay empty-safe after expiry
    assert read_maintenance_changes(spark, d, to_version=r1["version"]).count() == 0


def test_rollback_diff_runs_under_inflight_pin(spark, tmp_path, monkeypatch):
    """r05 hazard fix: the emit_changes diff scans the CURRENT snapshot,
    which only a live ``_inflight`` marker's snapshot-window pin protects
    from a concurrent vacuum — the ``_restore-intent`` marker pins only
    the TARGET version, and by diff time the current snapshot may no
    longer be the latest (a racing writer + vacuum(keep_versions=1)
    would expire its files mid-scan). Pin the invariant: the diff must
    be built while an inflight marker lives."""
    t = _mk(tmp_path)
    d = str(tmp_path / "delta")
    _apply(spark, t, [ev(1, "insert", "p1", "a1")], 0, d)
    good_v = t.latest_version()
    _apply(spark, t, [ev(10, "update", "p1", "a2")], 1, d)

    seen = {}
    orig = type(t)._snapshot_diff

    def spying(self, *a, **kw):
        seen["live_markers"] = [
            fn for fn in os.listdir(self._meta_dir) if fn.startswith("_inflight.")
        ]
        return orig(self, *a, **kw)

    monkeypatch.setattr(type(t), "_snapshot_diff", spying)
    t.rollback(good_v, spark=spark, emit_changes=True, delta_dir=d)
    assert seen.get("live_markers"), "rollback diffed without an inflight pin"


def test_rollback_emitting_diff_survives_hostile_vacuum_churn(spark, tmp_path, monkeypatch):
    """Drive the actual race the r05 pin closes, deterministically: while
    rollback(emit_changes=True) is between resolving the current snapshot
    and scanning it for the diff, a concurrent writer lands a NEW epoch
    (CoW — the old snapshot's bucket files become unreferenced by the
    latest) and a brutal vacuum(keep_versions=1) runs. The inflight
    marker's snapshot-window pin must retain the mid-diff snapshot's
    version + files; rollback then loses its CAS, recomputes against the
    new current, and emits the diff of THAT — correct feed, correct final
    state, no dangling first-attempt emission."""
    from etlbox_spark.engine import LakeTable as _LT

    t = _mk(tmp_path, mor=False)
    d = str(tmp_path / "delta")
    _apply(spark, t, [ev(1, "insert", "p1", "a1"), ev(2, "insert", "p3", "z1")], 0, d)
    good_v = t.latest_version()
    _apply(spark, t, [ev(10, "update", "p1", "POISON"), ev(11, "insert", "p2", "b1")], 1, d)

    fired = {}
    orig = type(t)._snapshot_diff

    def hostile(self, spark_, cur_m, tgt_version):
        if not fired:
            fired["v_mid_diff"] = cur_m.version
            t2 = _LT.load(self.root)
            _apply(spark_, t2, [ev(20, "update", "p1", "c1"), ev(21, "delete", "p2")], 2, d)
            t2.vacuum(keep_versions=1, grace_s=0.0)
        return orig(self, spark_, cur_m, tgt_version)

    monkeypatch.setattr(type(t), "_snapshot_diff", hostile)
    v = t.rollback(good_v, spark=spark, emit_changes=True, delta_dir=d)
    assert fired, "hostile churn never ran"

    got = {
        (r["repo"], r["path"]): (r["action"], r["content"], int(r["version"]))
        for r in read_maintenance_changes(spark, d).collect()
    }
    # only the WINNING attempt's set is visible (the lost-CAS emission was
    # torn down), and it is the diff vs the post-churn current snapshot
    assert got == {("r0", "p1"): ("update", "a1", v)}
    assert _state(spark, t) == {("r0", "p1"): "a1", ("r0", "p3"): "z1"}
    # epoch 2 rolled back with the content: it re-applies on replay
    assert 2 not in t.manifest().committed_epochs
