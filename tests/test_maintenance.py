"""Lake maintenance: re-bucketing (layout evolution) and vacuum
(expire_snapshots + orphan removal analog). Copy-on-write commits replace
whole buckets, so the ≤1-live-file-per-bucket invariant makes classic
small-file compaction unnecessary — asserted here too."""

from __future__ import annotations

import os

from etlbox_spark.engine import LakeTable, MergeMode, MergeSpec, apply_epoch
from etlbox_spark.functions.hashing import content_sha256

from .conftest import EVENTS_SCHEMA, REPO_FILES_SCHEMA, assert_cold_manifest_matches, ev

SPEC = MergeSpec(compare_cols=("content",))


def _apply_n_epochs(spark, t, n=4):
    for epoch in range(n):
        rows = [ev(epoch * 10 + i, "insert", f"p{epoch}_{i}", f"v{epoch}_{i}")
                for i in range(3)]
        apply_epoch(spark, t, spark.createDataFrame(rows, EVENTS_SCHEMA),
                    SPEC, MergeMode.DELTA, epoch)


def _state(spark, t, version=None):
    return {
        (r.repo, r.path): (r.content, r.sha)
        for r in t.read(spark, version=version).withColumn("sha", content_sha256()).collect()
    }


def test_no_intra_bucket_fragmentation(spark, tmp_path):
    """COW invariant: after any number of epochs, each bucket has at most
    one live file (small-file compaction is structurally unnecessary)."""
    t = LakeTable.create(str(tmp_path / "t"), REPO_FILES_SCHEMA, ["repo", "path"], 2)
    _apply_n_epochs(spark, t)
    per_bucket: dict[int, int] = {}
    for e in t.manifest().files:
        per_bucket[e["bucket"]] = per_bucket.get(e["bucket"], 0) + 1
    assert all(n == 1 for n in per_bucket.values())


def test_rebucket_preserves_content_and_markers(spark, tmp_path, monkeypatch):
    t = LakeTable.create(str(tmp_path / "t"), REPO_FILES_SCHEMA, ["repo", "path"], 2)
    _apply_n_epochs(spark, t)
    before = _state(spark, t)
    m = t.manifest()
    # every snapshot rebucket resolves must be pinned by a live in-flight
    # marker, or a concurrent vacuum could expire the files it reads
    real_manifest = LakeTable.manifest
    pinned = []

    def spy(self, *a, **kw):
        pinned.append(any(n.startswith("_inflight.") for n in os.listdir(self._meta_dir)))
        return real_manifest(self, *a, **kw)

    monkeypatch.setattr(LakeTable, "manifest", spy)
    v = t.rebucket(spark, 8)
    monkeypatch.undo()
    assert pinned and all(pinned)
    assert_cold_manifest_matches(t)
    m2 = t.manifest()
    assert m2.version == v and m2.n_buckets == 8
    assert {e["bucket"] for e in m2.files} <= set(range(8))
    assert _state(spark, t) == before
    assert m2.committed_epochs == m.committed_epochs
    assert m2.total_rows == m.total_rows
    assert t.rebucket(spark, 8) == v  # same count -> no-op


def test_rebucket_then_merge_continues(spark, tmp_path):
    t = LakeTable.create(str(tmp_path / "t"), REPO_FILES_SCHEMA, ["repo", "path"], 2)
    _apply_n_epochs(spark, t, n=2)
    t.rebucket(spark, 4)
    rows = [ev(100, "update", "p0_0", "patched"), ev(101, "delete", "p1_1")]
    apply_epoch(spark, t, spark.createDataFrame(rows, EVENTS_SCHEMA),
                SPEC, MergeMode.DELTA, 50)
    got = {k[1]: v[0] for k, v in _state(spark, t).items()}
    assert got["p0_0"] == "patched" and "p1_1" not in got


def test_vacuum_reclaims_unreferenced_files(spark, tmp_path):
    t = LakeTable.create(str(tmp_path / "t"), REPO_FILES_SCHEMA, ["repo", "path"], 2)
    _apply_n_epochs(spark, t)
    t.rebucket(spark, 4)
    latest_state = _state(spark, t)
    n_before = sum(len(files) for _, _, files in os.walk(t._data_dir))
    stats = t.vacuum(keep_versions=1)
    assert stats["files_deleted"] > 0 and stats["manifests_deleted"] > 0
    n_after = sum(len(files) for _, _, files in os.walk(t._data_dir))
    assert n_after < n_before
    assert _state(spark, t) == latest_state  # current snapshot intact
    # vacuum is idempotent
    stats2 = t.vacuum(keep_versions=1)
    assert stats2["files_deleted"] == 0 and stats2["manifests_deleted"] == 0


def test_vacuum_survives_files_vanishing_mid_walk(spark, tmp_path):
    """A concurrent writer's cleanup can remove a data file between
    vacuum's walk listing and its stat — a crashed commit's RETRY
    mode("overwrite")s its own data/<commit_dir>/ garbage, and Spark's
    _temporary staging files move at job commit. The sweep must skip the
    vanished file and keep going, not abort mid-walk. Simulated
    deterministically with a dangling symlink: os.walk lists it as a
    file, and the follow-target stat raises exactly the mid-walk
    FileNotFoundError the race produces."""
    t = LakeTable.create(str(tmp_path / "t"), REPO_FILES_SCHEMA, ["repo", "path"], 2)
    _apply_n_epochs(spark, t)
    t.rebucket(spark, 4)  # strands the pre-rebucket files as reclaimable
    latest_state = _state(spark, t)
    crashed = os.path.join(t._data_dir, "crashed-commit")
    os.makedirs(crashed)
    garbage = os.path.join(crashed, "junk.parquet")
    with open(garbage, "w", encoding="utf-8") as f:
        f.write("x")
    os.utime(garbage, (1, 1))  # old enough to fall below the cutoff
    vanished = os.path.join(crashed, "vanished.parquet")
    os.symlink(os.path.join(str(tmp_path), "never-existed"), vanished)

    stats = t.vacuum(keep_versions=1)

    assert stats["files_deleted"] > 0  # sweep ran to completion
    assert not os.path.exists(garbage)  # ...and still reclaimed garbage
    assert os.path.lexists(vanished)  # the unstattable entry was skipped
    assert _state(spark, t) == latest_state


def test_vacuum_survives_concurrent_manifest_expiry(spark, tmp_path, monkeypatch):
    """Two vacuums can race on the same table: the loser's os.remove of an
    expirable manifest finds it already gone. The sweep must credit the
    winner (not double-count) and keep expiring the rest — not abort the
    meta walk. Driven by an os.remove wrapper that lets the 'other
    vacuum' win the first manifest."""
    t = LakeTable.create(str(tmp_path / "t"), REPO_FILES_SCHEMA, ["repo", "path"], 2)
    _apply_n_epochs(spark, t)
    t.rebucket(spark, 4)
    latest_state = _state(spark, t)
    expirable = t.latest_version()  # versions 0..latest-1 are expirable

    real_remove = os.remove
    stolen = []

    def racing_remove(p, *a, **kw):
        name = os.path.basename(str(p))
        if not stolen and name.startswith("v") and name.endswith(".json") and ".ckpt." not in name:
            stolen.append(name)
            real_remove(p)  # the concurrent winner removes it first...
            return real_remove(p)  # ...so this attempt raises ENOENT
        return real_remove(p, *a, **kw)

    monkeypatch.setattr(os, "remove", racing_remove)
    stats = t.vacuum(keep_versions=1)
    monkeypatch.setattr(os, "remove", real_remove)

    assert stolen  # the race actually fired
    # the stolen manifest belongs to the winner; this sweep expired the rest
    assert stats["manifests_deleted"] == expirable - 1
    live = [n for n in os.listdir(t._meta_dir)
            if n.startswith("v") and n.endswith(".json") and ".ckpt." not in n]
    assert live == [f"v{t.latest_version()}.json"]
    assert _state(spark, t) == latest_state


def test_delete_where_rewrites_only_hit_buckets(spark, tmp_path):
    """DELETE FROM ... WHERE analog: matching rows vanish, untouched
    buckets carry over by file reference, NULL-condition rows are kept
    (SQL semantics), a no-match delete is a zero-cost no-op, and
    rollback reverts the whole thing."""
    t = LakeTable.create(str(tmp_path / "t"), REPO_FILES_SCHEMA, ["repo", "path"], 4)
    _apply_n_epochs(spark, t)
    pre_state = _state(spark, t)
    pre_files = {e["path"] for e in t.manifest().files}
    pre_v = t.latest_version()

    res = t.delete_where(spark, "path LIKE 'p1_%'")  # epoch 1's three rows
    assert_cold_manifest_matches(t)
    assert res["rows_deleted"] == 3 and res["buckets_rewritten"] >= 1
    got = _state(spark, t)
    assert got == {k: v for k, v in pre_state.items() if not k[1].startswith("p1_")}
    # untouched buckets' files carried over by reference
    assert any(e["path"] in pre_files for e in t.manifest().files)
    assert t.manifest().operation == "delete"

    # NULL-condition rows are KEPT on the SURVIVOR side too: a condition
    # TRUE for one row and NULL for its bucket-mates must delete exactly
    # the TRUE row (a regression from ~coalesce(cond,false) to ~cond
    # would silently drop the NULL ones with it)
    res2 = t.delete_where(
        spark,
        "CASE WHEN content = 'v2_0' THEN TRUE ELSE CAST(NULL AS BOOLEAN) END",
    )
    assert res2["rows_deleted"] == 1
    assert ("r0", "p2_0") not in _state(spark, t)
    assert len(_state(spark, t)) == len(got) - 1
    # an all-NULL condition is a zero-cost no-op
    res3 = t.delete_where(spark, "CAST(NULL AS BOOLEAN)")
    assert res3["rows_deleted"] == 0 and t.latest_version() == res2["version"]
    # non-deterministic predicates are rejected (Delta DELETE rule)
    import pytest

    with pytest.raises(ValueError, match="deterministic"):
        t.delete_where(spark, "rand() < 0.5")

    # rollback reverts the delete wholesale
    t.rollback(pre_v)
    assert _state(spark, t) == pre_state


def test_delete_where_folds_mor_backlog(spark, tmp_path):
    """Deleting from a MoR bucket materializes the merged survivors —
    the rewritten bucket's delta backlog folds away like compact."""
    t = LakeTable.create(
        str(tmp_path / "m"), REPO_FILES_SCHEMA, ["repo", "path"], 2,
        properties={"write.mode": "mor"},
    )
    _apply_n_epochs(spark, t)
    assert any(e.get("kind") == "delta" for e in t.manifest().files)
    pre = _state(spark, t)
    res = t.delete_where(spark, "content = 'v2_1'")
    assert res["rows_deleted"] == 1
    # the hit bucket's delta backlog folded into the rewritten base
    from etlbox_spark.functions.hashing import bucket_expr
    from pyspark.sql import functions as F

    hit_b = int(
        spark.createDataFrame([("r0", "p2_1")], "repo string, path string")
        .select(bucket_expr(2, "repo", "path"))
        .collect()[0][0]
    )
    assert not any(
        e.get("kind") == "delta" and e["bucket"] == hit_b for e in t.manifest().files
    )
    assert _state(spark, t) == {k: v for k, v in pre.items() if v[0] != "v2_1"}


def test_delete_where_preserves_bloom_policy(spark, tmp_path):
    """A write.bloom='all' table must keep per-file blooms through a
    delete rewrite (the drift the shared _rewrite_buckets core exists to
    prevent): every rewritten base entry still carries khash_bloom."""
    t = LakeTable.create(
        str(tmp_path / "b"), REPO_FILES_SCHEMA, ["repo", "path"], 2,
        properties={"write.bloom": "all"},
    )
    _apply_n_epochs(spark, t, n=2)
    assert all("khash_bloom" in e for e in t.manifest().files)
    t.delete_where(spark, "content = 'v0_0'")
    assert all("khash_bloom" in e for e in t.manifest().files)
    # compact (the other shared-core caller) preserves it too
    t2 = LakeTable.create(
        str(tmp_path / "b2"), REPO_FILES_SCHEMA, ["repo", "path"], 2,
        properties={"write.bloom": "all", "write.mode": "mor"},
    )
    _apply_n_epochs(spark, t2, n=2)
    t2.compact(spark)
    assert all("khash_bloom" in e for e in t2.manifest().files)


def test_metadata_tables(spark, tmp_path):
    """files_df / history_df: the manifest as SQL-addressable metadata
    tables (Iceberg table.files / DESCRIBE HISTORY analog) — counts
    agree with the manifest, no data scan involved."""
    t = LakeTable.create(
        str(tmp_path / "meta"), REPO_FILES_SCHEMA, ["repo", "path"], 2,
        properties={"write.mode": "mor"},
    )
    _apply_n_epochs(spark, t, n=3)
    m = t.manifest()
    fdf = t.files_df(spark)
    assert fdf.count() == len(m.files)
    assert fdf.where("kind = 'delta'").count() == sum(
        1 for e in m.files if e.get("kind") == "delta"
    )
    assert fdf.where("has_bloom").count() > 0  # MoR deltas carry blooms
    assert fdf.where("size_bytes IS NULL").count() == 0
    # SQL face: per-bucket backlog query
    fdf.createOrReplaceTempView("t_files")
    backlog = spark.sql(
        "SELECT bucket, count(*) AS n FROM t_files WHERE kind='delta' GROUP BY bucket"
    ).collect()
    assert sum(r["n"] for r in backlog) == fdf.where("kind='delta'").count()

    hdf = t.history_df(spark)
    assert hdf.count() == len(t.history())
    assert [r["version"] for r in hdf.orderBy("version").collect()] == sorted(
        h["version"] for h in t.history()
    )


def test_delete_where_conflicts_with_concurrent_epoch(spark, tmp_path):
    """An epoch commit racing a delete must conflict loudly, never land
    on pre-delete state (operation 'delete' is not rebase-able)."""
    import pytest
    from pyspark.sql import functions as F

    from etlbox_spark.engine.lake import ConcurrentCommitError
    from etlbox_spark.functions.hashing import bucket_expr

    t = LakeTable.create(str(tmp_path / "c"), REPO_FILES_SCHEMA, ["repo", "path"], 2)
    _apply_n_epochs(spark, t, n=2)
    base_v = t.latest_version()
    # rows classified against base_v's snapshot...
    df = spark.createDataFrame(
        [("r0", "px", "c", "py", "late")], REPO_FILES_SCHEMA
    ).withColumn("bucket", bucket_expr(2, "repo", "path"))
    # ...but the delete lands first
    t.delete_where(spark, "content = 'v0_0'")
    with pytest.raises(ConcurrentCommitError, match="delete"):
        t.commit_buckets(df, [0, 1], epoch_id=50, base_version=base_v)


def test_vacuum_dry_run_reports_without_touching(spark, tmp_path):
    """VACUUM DRY RUN analog: identical counts, zero side effects — every
    file, manifest and marker survives; the subsequent real vacuum
    deletes exactly what the dry run reported. A stale restore intent
    pins nothing in either run (the real run sweeps it)."""
    import time

    t = LakeTable.create(str(tmp_path / "t"), REPO_FILES_SCHEMA, ["repo", "path"], 2)
    _apply_n_epochs(spark, t)
    t.rebucket(spark, 4)
    # a stale marker that a REAL vacuum would sweep
    stale = os.path.join(t._meta_dir, "_inflight.deadbeef")
    open(stale, "w").close()
    os.utime(stale, (time.time() - 999, time.time() - 999))
    stale_intent = os.path.join(t._meta_dir, "_restore-intent.1.deadbeef")
    open(stale_intent, "w").close()
    os.utime(stale_intent, (time.time() - 999, time.time() - 999))

    def snapshot():
        return sorted(
            os.path.join(dp, f)
            for root in (t._data_dir, t._meta_dir)
            for dp, _, fs in os.walk(root)
            for f in fs
        )

    before = snapshot()
    dry = t.vacuum(keep_versions=1, inflight_max_age_s=100, dry_run=True)
    assert dry["files_deleted"] > 0 and dry["manifests_deleted"] > 0
    assert snapshot() == before  # nothing touched, marker included
    real = t.vacuum(keep_versions=1, inflight_max_age_s=100)
    assert real == dry  # the dry run's report was exact
    assert not os.path.exists(stale) and not os.path.exists(stale_intent)


def test_vacuum_keeps_time_travel_window(spark, tmp_path):
    t = LakeTable.create(str(tmp_path / "t"), REPO_FILES_SCHEMA, ["repo", "path"], 2)
    _apply_n_epochs(spark, t, n=3)
    v_latest = t.latest_version()
    prev_state = _state(spark, t, version=v_latest - 1)
    t.vacuum(keep_versions=2)
    assert _state(spark, t, version=v_latest - 1) == prev_state  # kept version readable


def test_vacuum_refuses_keep_versions_zero(spark, tmp_path):
    import pytest as _pytest

    t = LakeTable.create(str(tmp_path / "t"), REPO_FILES_SCHEMA, ["repo", "path"], 4)
    _apply_n_epochs(spark, t, 2)
    with _pytest.raises(ValueError, match="keep_versions"):
        t.vacuum(keep_versions=0)  # would have deleted EVERY record incl. latest
    with _pytest.raises(ValueError, match="keep_versions"):
        t.vacuum(keep_versions=-3)


def test_vacuum_aborts_when_latest_unmaterializable(spark, tmp_path):
    import pytest as _pytest

    t = LakeTable.create(str(tmp_path / "t"), REPO_FILES_SCHEMA, ["repo", "path"], 4)
    _apply_n_epochs(spark, t, 3)
    latest = t.latest_version()
    vpath = t._vpath(latest)
    os.remove(vpath)  # metadata damage: latest record gone
    t._snapshot_cache.clear() if hasattr(t, "_snapshot_cache") else None
    before = {
        os.path.join(dp, f)
        for dp, _d, fs in os.walk(t._data_dir)
        for f in fs
        if f.endswith(".parquet")
    }
    fresh = LakeTable.load(t.root)  # no warm cache: the damage must be SEEN
    # the abort may surface as the top-of-vacuum manifest read
    # (FileNotFoundError) or the referenced-walk guard (RuntimeError);
    # either way the guarantee is: refuse BEFORE deleting anything
    with _pytest.raises((RuntimeError, FileNotFoundError)):
        fresh.vacuum(keep_versions=1)
    after = {
        os.path.join(dp, f)
        for dp, _d, fs in os.walk(t._data_dir)
        for f in fs
        if f.endswith(".parquet")
    }
    assert after == before  # refused to delete ANYTHING


def test_vacuum_aborts_on_checkpoint_write_failure(spark, tmp_path, monkeypatch):
    import pytest as _pytest

    from etlbox_spark.engine import lake as lake_mod

    t = LakeTable.create(str(tmp_path / "t"), REPO_FILES_SCHEMA, ["repo", "path"], 4)
    _apply_n_epochs(spark, t, 5)
    real = lake_mod._atomic_write

    def failing(path, content):
        if path.endswith(".ckpt.json"):
            raise OSError("simulated ENOSPC")
        return real(path, content)

    monkeypatch.setattr(lake_mod, "_atomic_write", failing)
    records_before = sorted(
        f for f in os.listdir(t._meta_dir) if f.endswith(".json")
    )
    with _pytest.raises(OSError, match="ENOSPC"):
        t.vacuum(keep_versions=2)
    monkeypatch.undo()
    # nothing was deleted: every retained version still materializes
    assert sorted(f for f in os.listdir(t._meta_dir) if f.endswith(".json")) == records_before
    assert LakeTable.load(t.root).read(spark).count() > 0


def test_failed_retag_restores_previous_pin(spark, tmp_path, monkeypatch):
    import pytest as _pytest

    t = LakeTable.create(str(tmp_path / "t"), REPO_FILES_SCHEMA, ["repo", "path"], 4)
    _apply_n_epochs(spark, t, 3)
    v_old = t.latest_version() - 1
    t.tag("release", v_old)
    target = 1  # a retained, older version DIFFERENT from the old pin

    real = LakeTable.set_properties

    def racing(self, props=None, unset=None):
        out = real(self, props=props, unset=unset)
        if props and props.get("tag.release") == target:
            os.remove(self._vpath(target))  # vacuum reclaims the target's manifest
        return out

    monkeypatch.setattr(LakeTable, "set_properties", racing)
    with _pytest.raises(ValueError, match="restored to v"):
        t.tag("release", target)
    monkeypatch.undo()
    # the ORIGINAL durable pin is back in force, not silently dropped
    assert t.tags()["release"] == v_old
