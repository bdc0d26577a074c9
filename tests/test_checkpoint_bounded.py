"""Bounded checkpoint (r05 continuation): the per-epoch lineage JSON
used to be rewritten + fsynced whole on every `record()` — O(epochs²)
total work on a long-lived tail. The state file now carries [lo, hi]
runs + a KEEP_RECENT sliding window while the complete audit trail is
an append-only journal. Pure-Python tests — no Spark."""

import json

import pytest

from etlbox_spark.engine.checkpoint import Checkpoint, _merge_into_runs
from etlbox_spark.engine.merge import MergeResult


def _res(ep, skipped=False):
    return MergeResult(
        epoch_id=ep,
        version=ep + 1,
        skipped=skipped,
        counts={"insert": 1},
        changed_buckets=[0],
        offsets={0: {"max_seq": ep, "rows": 1}},
    )


def test_merge_into_runs():
    runs = []
    for ep in [5, 0, 1, 2, 7, 6, 3, 4]:
        runs = _merge_into_runs(runs, ep)
    assert runs == [[0, 7]]
    assert _merge_into_runs([[0, 1], [5, 6]], 3) == [[0, 1], [3, 3], [5, 6]]
    assert _merge_into_runs([[0, 1], [3, 4]], 2) == [[0, 4]]
    assert _merge_into_runs([[5, 6]], 1) == [[1, 1], [5, 6]]
    assert _merge_into_runs([[5, 6]], 9) == [[5, 6], [9, 9]]
    assert _merge_into_runs([[0, 5]], 3) == [[0, 5]]  # idempotent re-record


def test_state_file_stays_bounded_and_index_complete(tmp_path):
    ck = Checkpoint(str(tmp_path / "c.json"))
    n = Checkpoint.KEEP_RECENT * 3 + 10
    for ep in range(n):
        ck.record(_res(ep))
    state = json.load(open(ck.path))
    assert len(state["epochs"]) == Checkpoint.KEEP_RECENT  # inline window bounded
    assert state["done_runs"] == [[0, n - 1]]  # dense history = ONE run
    assert ck.done_epochs() == set(range(n))
    assert ck.last_epoch() == n - 1
    # the journal is the complete audit trail, oldest first
    trail = list(ck.lineage())
    assert [e["epoch"] for e in trail] == list(range(n))
    assert trail[0]["offsets"]["0"]["rows"] == 1
    # recent epochs keep the legacy load()["epochs"] inline access
    assert ck.load()["epochs"][str(n - 1)]["version"] == n


def test_skipped_epochs_not_in_fast_resume_index(tmp_path):
    ck = Checkpoint(str(tmp_path / "c.json"))
    ck.record(_res(0))
    ck.record(_res(1, skipped=True))
    ck.record(_res(2))
    assert ck.done_epochs() == {0, 2}
    assert json.load(open(ck.path))["done_runs"] == [[0, 0], [2, 2]]


def test_state_without_done_runs_fails_fast(tmp_path):
    # a state file this module did not write must not be read as an
    # empty fast-resume index: load() names the file instead
    p = tmp_path / "c.json"
    p.write_text(json.dumps({"last_epoch": 1, "epochs": {}}))
    with pytest.raises(ValueError, match="c.json"):
        Checkpoint(str(p)).done_epochs()


def test_duplicate_journal_lines_tolerated(tmp_path):
    # crash between journal append and state replace -> the retry
    # re-records the epoch; lineage carries both lines, last wins
    ck = Checkpoint(str(tmp_path / "c.json"))
    ck.record(_res(0))
    ck.record(_res(0))
    assert [e["epoch"] for e in ck.lineage()] == [0, 0]
    assert ck.done_epochs() == {0}
    folded = {e["epoch"]: e for e in ck.lineage()}
    assert folded[0]["version"] == 1


def test_corrupt_run_expansion_guard(tmp_path):
    p = tmp_path / "c.json"
    p.write_text(json.dumps({"last_epoch": 0, "epochs": {}, "done_runs": [[0, 10**15]]}))
    with pytest.raises(RuntimeError, match="expand past"):
        Checkpoint(str(p)).done_epochs()
    # several sub-cap runs must trip the guard on their SUM, not per-run
    runs = [[i * 10**8, i * 10**8 + 49_000_000] for i in range(4)]
    p.write_text(json.dumps({"last_epoch": 0, "epochs": {}, "done_runs": runs}))
    with pytest.raises(RuntimeError, match="expand past"):
        Checkpoint(str(p)).done_epochs()


def test_torn_journal_append_is_isolated_and_skipped(tmp_path):
    # crash mid-append leaves a partial final line with no newline; the
    # next record() must not fuse onto it, and lineage() must skip it
    ck = Checkpoint(str(tmp_path / "c.json"))
    ck.record(_res(0))
    with open(ck.journal_path, "a", encoding="utf-8") as f:
        f.write('{"epoch": 1, "version"')  # torn: no newline, invalid JSON
    ck.record(_res(2))
    trail = list(ck.lineage())
    assert [e["epoch"] for e in trail] == [0, 2]
    assert trail[-1]["version"] == 3  # epoch 2's record is intact
