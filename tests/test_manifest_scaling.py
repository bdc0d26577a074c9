"""Incremental delta manifests + metadata checkpoints (VERDICT r04 #1).

The metadata layer must scale like the Delta log, not like a single
document: each commit record is O(commit) bytes, full state lives only
in periodic ``v{N}.ckpt.json`` sidecars (plus the in-process cache), and
vacuum compacts metadata by checkpointing the oldest retained version of
each run before dropping older records. These tests pin:

* commit records do NOT re-serialize untouched buckets' entries,
* reconstruction (cold cache, mid-chain checkpoints, vacuumed prefixes,
  tag gaps) is value-identical to the in-memory state,
* the cache cannot serve a stale table recreated at the same path,
* drop() at v0 is distinguishable from a hard-crashed create (ADVICE).
"""

from __future__ import annotations

import json
import os
import time

import pytest

from etlbox_spark.engine import BUCKET_COL, LakeTable
from etlbox_spark.engine.lake import (
    _MANIFEST_CACHE,
    _MANIFEST_CACHE_LOCK,
    MOR_OP_COL,
)
from etlbox_spark.functions.hashing import bucket_expr
from pyspark.sql import functions as F

from .conftest import REPO_FILES_SCHEMA


def _rows_df(spark, rows, n_buckets=8):
    df = spark.createDataFrame(rows, REPO_FILES_SCHEMA)
    return df.withColumn(BUCKET_COL, bucket_expr(n_buckets, "repo", "path"))


def _mor_df(spark, rows, n_buckets=8):
    return _rows_df(spark, rows, n_buckets).withColumn(MOR_OP_COL, F.lit("upsert"))


def _mk(tmp_path, name="t", n_buckets=8, properties=None):
    return LakeTable.create(
        str(tmp_path / name), REPO_FILES_SCHEMA, ["repo", "path"], n_buckets,
        properties=properties,
    )


def _clear_cache():
    with _MANIFEST_CACHE_LOCK:
        _MANIFEST_CACHE.clear()


def _state(spark, t, version=None):
    return {
        (r.repo, r.path, r.content)
        for r in t.read(spark, version=version).collect()
    }


def test_commit_records_are_deltas_not_full_state(spark, tmp_path):
    """An epoch's on-disk record must carry only that epoch's actions —
    at 10^6 live files the old full-manifest serialization was the first
    100x breakage (megabytes of JSON + inline blooms per commit)."""
    t = _mk(tmp_path)
    base = _rows_df(spark, [(f"r{i}", f"p{i}", "c", "py", "x") for i in range(40)])
    t.commit_buckets(base, list(range(8)), epoch_id=0)

    one = _rows_df(spark, [("r1", "p1", "c", "py", "UPDATED")])
    bks = [r[0] for r in one.select(BUCKET_COL).distinct().collect()]
    t.commit_buckets(one, bks, epoch_id=1)

    rec = json.load(open(os.path.join(t._meta_dir, f"v{t.latest_version()}.json")))
    assert rec["record"] == "delta" and rec["operation"] == "epoch"
    assert rec["epoch"] == 1 and rec["remove_buckets"] == sorted(bks)
    # only the rewritten buckets' files are serialized
    assert {e["bucket"] for e in rec["add"]} <= set(bks)
    untouched = [
        e["path"] for e in t.manifest().files if e["bucket"] not in set(bks)
    ]
    raw = json.dumps(rec)
    assert untouched and not any(p in raw for p in untouched)
    # the materialized state still carries everything
    assert len(t.manifest().files) >= len(untouched) + len(rec["add"])
    assert t.manifest().committed_epochs == [0, 1]


def test_reconstruction_cold_cache_matches(spark, tmp_path):
    """A fresh process (cold cache) replaying the record chain must see
    bit-identical state: files, epochs, schemas, properties."""
    t = _mk(tmp_path, properties={"write.mode": "mor"})
    for e in range(6):
        rows = [(f"r{e}", f"p{i}", "c", "py", f"v{e}") for i in range(5)]
        t.commit_delta_buckets(_mor_df(spark, rows), list(range(8)), epoch_id=e)
    t.set_properties({"owner": "teamX"})
    hot = t.manifest()
    _clear_cache()
    cold = LakeTable.load(t.root).manifest()
    assert cold.to_json() == hot.to_json()
    assert cold.committed_epochs == list(range(6))
    assert cold.properties["owner"] == "teamX"


def test_checkpoint_interval_bounds_chain_length(spark, tmp_path):
    """Every Nth delta commit writes a full sidecar checkpoint, so a cold
    reconstruction replays at most N records — the knob that keeps
    manifest() O(interval), not O(#commits)."""
    t = _mk(
        tmp_path,
        properties={"write.mode": "mor", "meta.checkpoint.interval": 4},
    )
    for e in range(9):  # versions 1..9
        rows = [(f"r{e}", f"p{e}", "c", "py", f"v{e}")]
        t.commit_delta_buckets(_mor_df(spark, rows), list(range(8)), epoch_id=e)
    assert os.path.exists(t._ckpt_path(4))
    assert os.path.exists(t._ckpt_path(8))
    # the checkpoint IS the full state at its version
    _clear_cache()
    ck = json.load(open(t._ckpt_path(8)))
    assert "files" in ck and "record" not in ck
    # epochs serialize as [lo, hi] runs — O(#gaps), not O(#epochs)
    assert ck["committed_epochs"] == [[0, 7]]
    # cold read of an intermediate version lands on the nearest ckpt
    _clear_cache()
    m6 = LakeTable.load(t.root).manifest(6)
    assert m6.committed_epochs == list(range(6))


def test_vacuum_compacts_metadata_and_preserves_tag_gaps(spark, tmp_path):
    """Vacuum writes a checkpoint at the minimum of every retained run
    (tagged versions form their own runs) before dropping older records;
    every kept version — including a time-travel gap — reconstructs."""
    t = _mk(tmp_path, properties={"write.mode": "mor"})
    states = {}
    for e in range(10):
        rows = [("r0", "p1", "c", "py", f"v{e}")]
        t.commit_delta_buckets(_mor_df(spark, rows), list(range(8)), epoch_id=e)
        states[t.latest_version()] = _state(spark, t)
    t.tag("golden", 3)  # bumps a set_properties version on top
    states[t.latest_version()] = states[10]
    time.sleep(0.05)
    t.vacuum(keep_versions=2)
    latest = t.latest_version()
    # records below the retained runs are gone, checkpoints cover them
    assert not os.path.exists(t._vpath(1))
    assert not os.path.exists(t._vpath(2))
    assert os.path.exists(t._vpath(3)) and os.path.exists(t._ckpt_path(3))
    _clear_cache()
    t2 = LakeTable.load(t.root)
    assert _state(spark, t2, version=3) == states[3]
    assert _state(spark, t2) == states[latest]
    assert {
        (r.repo, r.path, r.content) for r in t2.read(spark, tag="golden").collect()
    } == states[3]
    # untag -> the gap run becomes reclaimable, ckpt goes with it
    t2.untag("golden")
    time.sleep(0.05)
    t2.vacuum(keep_versions=1)
    assert not os.path.exists(t2._ckpt_path(3))
    with pytest.raises(FileNotFoundError):
        t2.manifest(3)


def test_cache_does_not_cross_table_recreation(spark, tmp_path):
    """The contract tool wipes + recreates fixed scratch roots in ONE
    process: the snapshot cache must miss on the new table's records
    (keyed by record-file identity, not path+version alone)."""
    import shutil

    root = str(tmp_path / "re")
    t = LakeTable.create(root, REPO_FILES_SCHEMA, ["repo", "path"], 4)
    df = _rows_df(spark, [("r0", "p1", "c", "py", "OLD")], 4)
    t.commit_buckets(df, [r[0] for r in df.select(BUCKET_COL).distinct().collect()], 0)
    assert _state(spark, t) == {("r0", "p1", "OLD")}
    shutil.rmtree(root)
    t2 = LakeTable.create(root, REPO_FILES_SCHEMA, ["repo", "path"], 4)
    df2 = _rows_df(spark, [("r0", "p1", "c", "py", "NEW")], 4)
    t2.commit_buckets(df2, [r[0] for r in df2.select(BUCKET_COL).distinct().collect()], 0)
    assert _state(spark, t2) == {("r0", "p1", "NEW")}
    assert t2.manifest(1).committed_epochs == [0]


def test_dropped_at_v0_is_not_healed_as_crashed_create(tmp_path):
    """ADVICE r04: a table deliberately dropped while still at v0 used to
    be indistinguishable from a hard-crashed create() and was silently
    recreated once the 60s window passed. drop() now leaves a _dropped
    marker; only a marker-less aged v0 self-heals."""
    t = _mk(tmp_path, "d0")
    t.drop()
    v0 = os.path.join(t._meta_dir, "v0.json")
    os.utime(v0, (time.time() - 120, time.time() - 120))
    with pytest.raises(FileExistsError, match="stale"):
        LakeTable.create(t.root, REPO_FILES_SCHEMA, ["repo", "path"], 8)


def test_epoch_rebase_across_interleaved_maintenance_chain(spark, tmp_path, monkeypatch):
    """Rebase reads intervening operations straight off the records (no
    state reconstruction) — a compact + set_properties chain between the
    classify read and the commit still rebases cleanly."""
    t = _mk(tmp_path, properties={"write.mode": "mor"})
    rows = [("r0", "p1", "c", "py", "A"), ("r1", "p2", "c", "py", "B")]
    t.commit_delta_buckets(_mor_df(spark, rows), list(range(8)), epoch_id=0)
    base = t.manifest().version
    t.compact(spark)
    t.set_properties({"owner": "x"})
    upd = _mor_df(spark, [("r0", "p1", "c", "py", "A2")])
    bks = [r[0] for r in upd.select(BUCKET_COL).distinct().collect()]
    v = t.commit_delta_buckets(upd, bks, epoch_id=1, base_version=base)
    assert v == t.latest_version() and t.is_committed(1)
    assert _state(spark, t) == {("r0", "p1", "A2"), ("r1", "p2", "B")}


def test_epoch_runs_wire_encoding_round_trips():
    """committed_epochs serialize as [lo, hi] runs (O(#gaps) — the last
    unbounded-per-checkpoint component at 10^5+ epochs) and parse back;
    the pre-r05 flat-int shape fails the parse."""
    from etlbox_spark.engine.lake import Manifest, _epoch_runs, _epochs_flat

    assert _epoch_runs([]) == []
    assert _epoch_runs([0, 1, 2, 5, 7, 8]) == [[0, 2], [5, 5], [7, 8]]
    assert _epochs_flat([[0, 2], [5, 5], [7, 8]]) == [0, 1, 2, 5, 7, 8]
    with pytest.raises(ValueError, match="malformed epoch run"):
        _epochs_flat([0, 1, 2, 5])  # legacy flat
    # a dense 100k-epoch history costs ~one run on the wire, not 100k ints
    big = Manifest(
        version=3,
        key_cols=["repo", "path"],
        n_buckets=8,
        current_schema_version=0,
        schemas={"0": {"type": "struct", "fields": []}},
        files=[],
        committed_epochs=list(range(100_000)),
        parent=2,
        properties={},
        operation="epoch",
    )
    s = big.to_json()
    assert len(s) < 2_000, f"runs encoding should be tiny, got {len(s)}B"
    back = Manifest.from_json(s)
    assert back.committed_epochs == list(range(100_000))
    # a rollback-carved gap stays a gap
    big.committed_epochs = [*range(10), *range(20, 30)]
    assert Manifest.from_json(big.to_json()).committed_epochs == big.committed_epochs
