"""Integrity-audit tests (engine/fsck.py): a healthy table — through
epochs, MoR deltas, compaction, tags and vacuum — audits clean, and
each corruption class an operator actually meets (vanished data file,
tampered stats, undecodable bloom, diverging checkpoint, dangling tag,
orphaned file) is pinned to its error code."""

from __future__ import annotations

import json
import os
import time

from etlbox_spark.engine import LakeTable, MergeMode, MergeSpec, apply_epoch
from etlbox_spark.engine.lake import _epoch_runs

from .conftest import EVENTS_SCHEMA, REPO_FILES_SCHEMA, ev

SPEC = MergeSpec(compare_cols=("content",))

EPOCHS = [
    [ev(1, "insert", "p1", "a1"), ev(2, "insert", "p2", "b1"), ev(3, "insert", "p3", "c1")],
    [ev(10, "update", "p2", "b2"), ev(11, "delete", "p1"), ev(12, "insert", "p4", "d1")],
    [ev(20, "insert", "p1", "a2"), ev(21, "update", "p4", "d2"), ev(22, "delete", "p3")],
]


def _mk(spark, tmp_path, name="t", mor=True, epochs=3, delta_dir=None):
    props = {"write.mode": "mor"} if mor else {}
    t = LakeTable.create(
        str(tmp_path / name), REPO_FILES_SCHEMA, ["repo", "path"], 4, properties=props
    )
    for i, rows in enumerate(EPOCHS[:epochs]):
        apply_epoch(
            spark,
            t,
            spark.createDataFrame(rows, EVENTS_SCHEMA),
            SPEC,
            MergeMode.DELTA,
            i,
            delta_dir=delta_dir,
        )
    return t


def _codes(report):
    return {e["code"] for e in report["errors"]}


def test_fsck_clean_table_deep(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.tag("release", t.latest_version())
    r = t.fsck(deep=True)
    assert r["ok"], r["errors"]
    assert r["orphans"] == []
    assert r["checked"]["versions"] >= 4  # create + 3 epochs
    assert r["checked"]["files"] > 0 and r["checked"]["footers"] > 0
    # MoR deltas carry inline blooms — the deep pass must have probed them
    assert r["checked"]["blooms"] > 0


def test_fsck_clean_after_compact_and_vacuum(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.compact(spark)
    t.vacuum(keep_versions=1, grace_s=-1.0)
    r = t.fsck(deep=True)
    assert r["ok"], r["errors"]
    assert r["orphans"] == []


def test_fsck_detects_missing_file(spark, tmp_path):
    t = _mk(spark, tmp_path)
    victim = os.path.join(t.root, t.manifest().files[0]["path"])
    os.remove(victim)
    r = t.fsck()
    assert not r["ok"]
    assert "file-missing" in _codes(r)


def test_fsck_deep_detects_tampered_stats_and_bloom(spark, tmp_path):
    t = _mk(spark, tmp_path)
    # tamper the latest commit record: bump one added entry's row count
    # and corrupt another's bloom payload (records are the only place
    # entries live — the manifest cache misses on the new mtime)
    vpath = t._vpath(t.latest_version())
    with open(vpath, encoding="utf-8") as f:
        rec = json.load(f)
    entries = rec["add"] if "add" in rec else rec["files"]
    entries[0]["rows"] += 1
    bloomed = [e for e in entries if "khash_bloom" in e]
    assert bloomed, "MoR delta entries should carry blooms"
    bloomed[0]["khash_bloom"]["z"] = "!!!not-base64!!!"
    with open(vpath, "w", encoding="utf-8") as f:
        json.dump(rec, f)
    r = t.fsck(deep=True)
    assert not r["ok"]
    codes = _codes(r)
    assert "rows-mismatch" in codes
    assert "bloom-undecodable" in codes


def _write_ckpt(t, v, mutate=None):
    """Hand-write a v{N}.ckpt.json in the shape vacuum's metadata
    compaction produces; ``mutate`` tampers the state dict first."""
    m = t.manifest(v)
    state = {
        "version": m.version,
        "key_cols": m.key_cols,
        "n_buckets": m.n_buckets,
        "current_schema_version": m.current_schema_version,
        "schemas": m.schemas,
        "files": [dict(e) for e in m.files],
        "committed_epochs": _epoch_runs(m.committed_epochs),
        "parent": m.parent,
        "properties": m.properties,
        "operation": m.operation,
    }
    if mutate is not None:
        mutate(state)
    with open(t._ckpt_path(v), "w", encoding="utf-8") as f:
        json.dump(state, f)


def test_fsck_detects_checkpoint_divergence(spark, tmp_path):
    t = _mk(spark, tmp_path)
    # diverge the checkpoint from what the records replay to
    _write_ckpt(t, t.latest_version(), mutate=lambda s: s["files"].pop())
    r = t.fsck()
    assert not r["ok"]
    assert "checkpoint-divergent" in _codes(r)


def test_fsck_detects_dangling_tag(spark, tmp_path):
    t = _mk(spark, tmp_path)
    pinned = t.latest_version() - 1
    latest = t.tag("keep", pinned)
    # simulate the tag-vs-vacuum residue: the pinned version's record
    # vanishes while the tag property survives on the latest manifest.
    # A checkpoint keeps the latest snapshot reconstructible (exactly
    # what metadata compaction guarantees when records are dropped).
    _write_ckpt(t, latest)
    os.remove(t._vpath(pinned))
    r = t.fsck()
    assert not r["ok"]
    assert "tag-dangling" in _codes(r)


def test_fsck_reports_orphans_but_stays_ok(spark, tmp_path):
    t = _mk(spark, tmp_path)
    stray = os.path.join(t._data_dir, "stray", "zombie.parquet")
    os.makedirs(os.path.dirname(stray), exist_ok=True)
    with open(stray, "wb") as f:
        f.write(b"PAR1 not really parquet")
    old = time.time() - 3600
    os.utime(stray, (old, old))
    r = t.fsck()
    assert r["ok"], r["errors"]  # orphans are vacuum candidates, not errors
    assert r["orphans"] == [os.path.relpath(stray, t.root)]


def test_fsck_warns_on_inflight_recent_file(spark, tmp_path):
    t = _mk(spark, tmp_path)
    stray = os.path.join(t._data_dir, "commit-x", "bucket_p=0", "part.parquet")
    os.makedirs(os.path.dirname(stray), exist_ok=True)
    with open(stray, "wb") as f:
        f.write(b"fresh")
    r = t.fsck()
    assert r["ok"]
    assert r["orphans"] == []
    assert any(w["code"] == "inflight-file" for w in r["warnings"])


def test_fsck_cli_exit_codes(spark, tmp_path):
    import subprocess
    import sys

    t = _mk(spark, tmp_path, epochs=1)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    cli = os.path.join(repo, "tools", "fsck.py")
    ok = subprocess.run(
        [sys.executable, cli, t.root, "--deep"], capture_output=True, text=True
    )
    assert ok.returncode == 0, ok.stdout + ok.stderr
    assert json.loads(ok.stdout)["ok"] is True
    os.remove(os.path.join(t.root, t.manifest().files[0]["path"]))
    bad = subprocess.run([sys.executable, cli, t.root], capture_output=True, text=True)
    assert bad.returncode == 1
    assert json.loads(bad.stdout)["ok"] is False


# -------------------------------------------------------- change-log audit


def test_fsck_delta_log_clean(spark, tmp_path):
    d = str(tmp_path / "delta")
    t = _mk(spark, tmp_path, delta_dir=d, mor=False)
    t.delete_where(spark, "path = 'p2'", emit_changes=True, delta_dir=d)
    r = t.fsck(deep=True, delta_dir=d)
    assert r["ok"], r["errors"]
    assert r["checked"]["log_epochs"] == 3
    assert r["checked"]["maint_sets"] == 1


def test_fsck_detects_uncommitted_epoch_dir(spark, tmp_path):
    d = str(tmp_path / "delta")
    t = _mk(spark, tmp_path, delta_dir=d, mor=False)
    # a visible epoch dir the lake never committed = the rename-protocol
    # invariant broken (no rollback in the retained history)
    os.makedirs(os.path.join(d, "epoch=99"))
    r = t.fsck(delta_dir=d)
    assert not r["ok"]
    assert "epoch-dir-uncommitted" in _codes(r)


def test_fsck_unmarked_epoch_dir_after_rollback_is_warning(spark, tmp_path):
    d = str(tmp_path / "delta")
    t = _mk(spark, tmp_path, delta_dir=d, mor=False)
    t.rollback(t.latest_version() - 1)  # unmarks epoch 2; its dir persists
    r = t.fsck(delta_dir=d)
    assert r["ok"], r["errors"]
    assert any(w["code"] == "epoch-dir-unmarked" for w in r["warnings"])


def test_fsck_detects_bogus_maintenance_sets(spark, tmp_path):
    d = str(tmp_path / "delta")
    t = _mk(spark, tmp_path, delta_dir=d, mor=False)
    # future version: no commit could have produced it
    os.makedirs(os.path.join(d, "_maint", "version=999"))
    # claimed by an existing commit that declared no change emission
    os.makedirs(os.path.join(d, "_maint", f"version={t.latest_version()}"))
    r = t.fsck(delta_dir=d)
    assert not r["ok"]
    codes = _codes(r)
    assert "maint-set-future" in codes
    assert "maint-set-unclaimed" in codes


def test_fsck_warns_on_gap_and_unhealed_inflight(spark, tmp_path):
    d = str(tmp_path / "delta")
    t = _mk(spark, tmp_path, delta_dir=d, mor=False)
    import shutil

    shutil.rmtree(os.path.join(d, "epoch=1"))  # interior gap
    os.makedirs(os.path.join(d, "_inflight-epoch-0"))  # committed, unhealed
    r = t.fsck(delta_dir=d)
    assert r["ok"], r["errors"]
    wcodes = {w["code"] for w in r["warnings"]}
    assert "epoch-dir-gap" in wcodes
    assert "unhealed-inflight-log" in wcodes


def test_fsck_reports_cyclic_chain_instead_of_hanging(tmp_path):
    """A delta record whose parent does not strictly decrease (corrupt
    metadata, e.g. a self-cycle) must surface as an error from BOTH
    walks — the engine's materializer and fsck's records-only replay —
    never as an infinite loop. Pure-metadata test: no Spark session."""
    t = LakeTable.create(str(tmp_path / "t"), REPO_FILES_SCHEMA, ["repo", "path"], 4)
    with open(os.path.join(t._meta_dir, "v1.json"), "w", encoding="utf-8") as f:
        json.dump({"record": "delta", "version": 1, "parent": 1, "operation": "epoch"}, f)
    r = t.fsck()
    assert not r["ok"]
    assert "unmaterializable" in _codes(r)  # engine raise, reported not raised

    # give v1 a valid checkpoint sidecar: the snapshot now materializes,
    # so fsck's independent records-only replay runs — and must report
    # the cyclic record chain instead of spinning
    with open(t._vpath(0), encoding="utf-8") as f:
        full = json.load(f)
    full["version"], full["parent"] = 1, 0
    with open(t._ckpt_path(1), "w", encoding="utf-8") as f:
        json.dump(full, f)
    r = t.fsck()
    assert not r["ok"]
    assert "chain-corrupt" in _codes(r)


def test_fsck_reports_parentless_delta_record(tmp_path):
    """A delta record missing its parent pointer is reported (KeyError
    contained), not propagated out of the audit."""
    t = LakeTable.create(str(tmp_path / "t"), REPO_FILES_SCHEMA, ["repo", "path"], 4)
    with open(os.path.join(t._meta_dir, "v1.json"), "w", encoding="utf-8") as f:
        json.dump({"record": "delta", "version": 1, "operation": "epoch"}, f)
    r = t.fsck()
    assert not r["ok"]
    assert "unmaterializable" in _codes(r)


def test_fsck_deep_distributed_matches_sequential(spark, tmp_path):
    """deep=True with a spark session runs the footer scan as one
    mapInPandas job — same error codes and checked-counters as the
    sequential driver scan, on both a clean and a tampered table."""
    t = _mk(spark, tmp_path)
    seq = t.fsck(deep=True)
    dist = t.fsck(deep=True, spark=spark)
    assert dist["ok"] and seq["ok"], (seq["errors"], dist["errors"])
    assert dist["checked"]["footers"] == seq["checked"]["footers"] > 0
    assert dist["checked"]["blooms"] == seq["checked"]["blooms"] > 0

    # tamper: bump a row count and corrupt a bloom in the latest record
    vpath = t._vpath(t.latest_version())
    with open(vpath, encoding="utf-8") as f:
        rec = json.load(f)
    entries = rec["add"] if "add" in rec else rec["files"]
    entries[0]["rows"] += 1
    bloomed = [e for e in entries if "khash_bloom" in e]
    bloomed[0]["khash_bloom"]["z"] = "!!!not-base64!!!"
    with open(vpath, "w", encoding="utf-8") as f:
        json.dump(rec, f)
    seq = t.fsck(deep=True)
    dist = t.fsck(deep=True, spark=spark)
    assert not dist["ok"]
    assert _codes(dist) == _codes(seq)
    assert {"rows-mismatch", "bloom-undecodable"} <= _codes(dist)
    # the deferred scan must not have skipped the shallow checks' files
    assert dist["checked"]["files"] == seq["checked"]["files"]


def test_fsck_contains_non_utf8_and_non_object_records(spark, tmp_path):
    """A byte-flipped record (invalid UTF-8 — UnicodeDecodeError, a
    ValueError the original catch lists missed; found by the corruption
    fuzzer) and a record that parses to a JSON non-object must both be
    CONTAINED as audit errors, from every walk that loads records
    (materializer, records-only replay, delta-log rollback probe)."""
    t = _mk(spark, tmp_path, delta_dir=str(tmp_path / "log"))
    v = t.latest_version()
    vpath = t._vpath(v)
    with open(vpath, "rb") as f:
        raw = bytearray(f.read())
    raw[140] ^= 0xC5  # guaranteed mid-JSON, breaks UTF-8 continuation
    with open(vpath, "wb") as f:
        f.write(bytes(raw))
    r = t.fsck(deep=True, delta_dir=str(tmp_path / "log"))
    assert not r["ok"]
    assert "unmaterializable" in _codes(r)

    # non-object record: valid JSON, wrong shape
    with open(t._vpath(v - 1), "w", encoding="utf-8") as f:
        f.write("[1, 2, 3]")
    r = t.fsck(deep=True, delta_dir=str(tmp_path / "log"))
    assert not r["ok"]
    assert "unmaterializable" in _codes(r)


def test_fsck_deep_survives_entry_missing_rows(spark, tmp_path):
    # a tampered entry WITHOUT "rows" reaches the deep pass (entry-bad-rows
    # does not return); e["rows"] there raised KeyError out of fsck(),
    # breaking never-raises in sequential mode only (distributed shipped
    # e.get) -- both modes must report, not crash
    t = _mk(spark, tmp_path)
    vpath = t._vpath(t.latest_version())
    with open(vpath, encoding="utf-8") as f:
        rec = json.load(f)
    entries = rec["add"] if "add" in rec else rec["files"]
    del entries[0]["rows"]
    with open(vpath, "w", encoding="utf-8") as f:
        json.dump(rec, f)
    # reported once, as entry-bad-rows: there is no manifest count for a
    # rows-mismatch to compare the footer against
    r_seq = t.fsck(deep=True)
    assert not r_seq["ok"]
    assert "entry-bad-rows" in _codes(r_seq)
    assert "rows-mismatch" not in _codes(r_seq)
    r_dist = t.fsck(deep=True, spark=spark)
    assert _codes(r_dist) == _codes(r_seq)


def test_fsck_suppresses_orphans_when_a_version_is_unreadable(spark, tmp_path):
    # files referenced ONLY by an unmaterializable version must not be
    # listed as vacuum candidates -- an operator deleting report["orphans"]
    # would destroy the only copy of that snapshot's data
    t = _mk(spark, tmp_path)
    vpath = t._vpath(t.latest_version())
    raw = open(vpath, "rb").read()
    with open(vpath, "wb") as f:
        f.write(raw[: len(raw) // 2])  # truncate: latest record unreadable
    # age the data files past the in-flight grace so they WOULD be orphans
    old = time.time() - 7200
    for dirpath, _d, files in os.walk(t._data_dir):
        for fn in files:
            os.utime(os.path.join(dirpath, fn), (old, old))
    r = t.fsck()
    assert not r["ok"]
    assert r["orphans"] == []
    assert "orphans-suppressed" in {w["code"] for w in r["warnings"]}
