"""Self-tests of the benchmark's own helpers (no Spark needed).

    python3 -m pytest cdcbench -q
"""

from __future__ import annotations

import json
import os
import sys

import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import oracle  # noqa: E402
import spans  # noqa: E402
import stats  # noqa: E402


# ------------------------------------------------------ percentile rule

@pytest.mark.parametrize(
    "n, pct, beyond",
    [(19, None, None), (20, 50.0, 10), (39, 50.0, 19), (40, 75.0, 10),
     (100, 90.0, 10), (199, 90.0, 19), (200, 95.0, 10), (1000, 99.0, 10),
     (10_000, 99.9, 10)],
)
def test_tail_is_highest_percentile_with_ten_beyond(n, pct, beyond):
    t = stats.tail([float(i) for i in range(1, n + 1)])
    assert t["samples"] == n
    assert t["percentile"] == pct
    assert t["beyond"] == beyond
    if pct is None:
        assert t["value"] is None
    else:
        # nearest rank: exactly ``beyond`` samples are larger
        assert sum(v > t["value"] for v in range(1, n + 1)) == beyond


def test_tail_of_no_samples():
    assert stats.tail([]) == {"value": None, "percentile": None, "beyond": None, "samples": 0}


def test_summarize_reports_each_tail_once_with_its_sample_count():
    from types import SimpleNamespace as Op

    ops = [Op(kind="commit", wall=w, items=100) for w in (1.0, 2.0, 3.0)]
    ops += [Op(kind="feed", wall=0.5, items=0)]
    s = stats.summarize(ops)
    assert s["commit_p50_ms"] == 2000.0 and s["lookup_p50_ms"] is None
    assert s["commit_tail_ms"] == {"value": None, "percentile": None, "beyond": None, "samples": 3}
    assert not any(k.endswith("_tail") for k in s)
    assert s["items_per_s"] == pytest.approx(300 / 6.5)


def test_spread_is_quartile_distance_over_median():
    s = stats.spread([1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0])
    assert s["median"] == 5.5
    assert s["iqr_share"] == pytest.approx((s["q3"] - s["q1"]) / 5.5)


# ------------------------------------------------------------ span math

def _span(sid, parent, start, end, name="x"):
    return {"id": sid, "name": name, "parent": parent, "start": start, "end": end, "attrs": {}}


def test_self_time_subtracts_union_of_children():
    ss = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 3.0),
        _span(2, 0, 2.0, 4.0),  # overlaps span 1: covered once
        _span(3, 0, 8.0, 12.0),  # runs past its parent: clipped at 10
        _span(4, 1, 1.5, 2.5),  # grandchild: counts against span 1 only
    ]
    st = spans.self_times(ss)
    assert st[0] == pytest.approx(10.0 - 3.0 - 2.0)
    assert st[1] == pytest.approx(2.0 - 1.0)
    assert st[4] == pytest.approx(1.0)
    assert spans.descendants(ss, 1) == {1, 4}


def test_self_times_of_a_call_tree_add_up_to_its_wall():
    ss = [_span(0, None, 0.0, 10.0), _span(1, 0, 1.0, 4.0), _span(2, 1, 2.0, 3.0),
          _span(3, 0, 5.0, 9.5)]
    assert sum(spans.self_times(ss).values()) == pytest.approx(10.0)


class _FakeContext:
    def __init__(self):
        self.props: list = []

    def setLocalProperty(self, key, value):
        self.props.append((key, value))


def test_tracer_nests_spans_and_restores_job_tag():
    sc = _FakeContext()
    tr = spans.Tracer(sc)
    with tr.span("off"):
        pass
    assert tr.spans == [] and sc.props == []  # inactive: records nothing
    tr.active = True
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    assert [(s["name"], s["parent"]) for s in tr.spans] == [("outer", None), ("inner", 0)]
    assert sc.props == [("bench.span", "0"), ("bench.span", "1"), ("bench.span", "0"),
                        ("bench.span", None)]


def test_wrap_records_span_and_uninstall_restores():
    class Owner:
        @staticmethod
        def f(x):
            return x + 1

    tr = spans.Tracer()
    orig = Owner.f
    tr.wrap(Owner, "f", "owner.f", on_result=lambda r: {"r": r})
    tr.active = True
    assert Owner.f(1) == 2
    assert tr.spans[0]["name"] == "owner.f" and tr.spans[0]["attrs"] == {"r": 2}
    tr.uninstall()
    assert Owner.f is orig


# ------------------------------------------------------- event-log fold

def _task(stage, run_ms, sr=0, sw=0, inp=0, out=0, gc=0, spill=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage, "Stage Attempt ID": 0,
            "Task Metrics": {"Executor Run Time": run_ms, "JVM GC Time": gc,
                             "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": sr},
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": sw},
                             "Input Metrics": {"Bytes Read": inp},
                             "Output Metrics": {"Bytes Written": out},
                             "Memory Bytes Spilled": spill, "Disk Bytes Spilled": 0}}


CANNED_LOG = [
    {"Event": "SparkListenerApplicationStart", "App Name": "cdcbench"},
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
     "Properties": {"bench.span": "3"}},
    _task(0, 10, sw=100, inp=1000),
    _task(0, 30, sw=50, inp=500),
    _task(1, 20, sr=150, gc=5),
    # job 1 lists stage 1 again (skipped there) and runs stage 2
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1, 2],
     "Properties": {"bench.span": "4"}},
    _task(2, 7, out=64, spill=9),
    # an untagged job (set-up, checks) is ignored
    {"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [3], "Properties": {}},
    _task(3, 99, inp=1),
]


def test_fold_event_log_attributes_tasks_to_spans():
    fold = spans.fold_event_log(iter(json.dumps(e) for e in CANNED_LOG))
    s3, s4 = fold["spans"][3], fold["spans"][4]
    assert s3 == {"jobs": 1, "stages": 2, "tasks": 3, "run_ms": 60, "gc_ms": 5,
                  "shuffle_read_bytes": 150, "shuffle_write_bytes": 150, "input_bytes": 1500,
                  "output_bytes": 0, "spill_bytes": 0}
    assert s4 == {"jobs": 1, "stages": 1, "tasks": 1, "run_ms": 7, "gc_ms": 0,
                  "shuffle_read_bytes": 0, "shuffle_write_bytes": 0, "input_bytes": 0,
                  "output_bytes": 64, "spill_bytes": 9}
    assert set(fold["spans"]) == {3, 4}
    assert fold["task_times"][(3, 0)] == [10.0, 30.0]
    assert fold["stage_reads"][(3, 1)] == 150


# ------------------------------------------------------------- inputs

def test_same_seed_lands_identical_inputs(tmp_path):
    def land(d, seed):
        gen.land_binlog(str(d / "ev"), seed, 2, 300, 10, 20)
        gen.write_table(gen.seed_rows(seed, 10, 20), str(d / "seed" / "part-0.parquet"))
        corpus = gen.corpus_docs(seed, 50)
        gen.land_docs(str(d / "docs" / "part-0.parquet"),
                      gen.dedup_batch(seed, 0, 50, 20, corpus))
        return gen.fingerprint(str(d))

    a = land(tmp_path / "a", 7)
    assert a == land(tmp_path / "b", 7)
    assert a != land(tmp_path / "c", 8)


def test_binlog_shape():
    t = gen.binlog_epoch(3, 0, 1000, 2000, 100, 200).to_pandas()
    assert len(t) >= 2000 and t["event_seq"].nunique() == 2000
    assert t["event_seq"].min() == 1000
    dup = t[t.duplicated("event_seq", keep=False)]
    assert len(dup) > 0 and len(dup.drop_duplicates()) * 2 == len(dup)  # verbatim re-delivery
    share = t.drop_duplicates("event_seq")["op"].value_counts(normalize=True)
    assert share["insert"] == pytest.approx(0.6, abs=0.05)
    assert share["delete"] == pytest.approx(0.1, abs=0.03)
    assert t.loc[t["op"] == "delete", "content"].isna().all()
    # zipf skew: the hottest tenth of repos gets far more than a tenth
    hot = t["repo"].isin([f"repo_{i:04d}" for i in range(10)]).mean()
    assert hot > 0.2


# ------------------------------------------------------------- oracles

def test_lww_oracle_last_writer_wins_and_deletes():
    seed = pd.DataFrame({"repo": ["r", "r"], "path": ["a", "b"], "commit": ["c0", "c0"],
                         "lang": ["py", "py"], "content": ["A0", "B0"]})
    ev = pd.DataFrame({
        "event_seq": [3, 1, 2, 2, 4],
        "op": ["update", "insert", "delete", "delete", "insert"],
        "repo": ["r"] * 5, "path": ["a", "a", "b", "b", "c"],
        "commit": ["c3", "c1", None, None, "c4"], "lang": ["py", "py", None, None, "rs"],
        "content": ["A3", "A1", None, None, "C4"],
    })
    st = oracle.lww_state(seed, ev)
    assert st == {("r", "a"): oracle.row_digest(("c3", "py", "A3")),
                  ("r", "c"): oracle.row_digest(("c4", "rs", "C4"))}


def test_expected_actions_classify_against_the_state_before_the_epoch():
    state = {("r", "a"): oracle.row_digest(("c0", "py", "A0")),
             ("r", "b"): oracle.row_digest(("c0", "py", "B0")),
             ("r", "d"): oracle.row_digest(("c0", "py", "D0"))}
    ev = pd.DataFrame({
        "event_seq": [1, 2, 3, 4, 5, 6, 7],
        "op": ["update", "update", "insert", "delete", "insert", "delete", "update"],
        "repo": ["r"] * 7, "path": ["a", "a", "b", "c", "e", "e", "d"],
        "commit": ["c1", "c0", "c0", None, "c5", None, "c7"],
        "lang": ["py", "py", "py", None, "rs", None, "py"],
        "content": ["A1", "A0", "B0", None, "E5", None, "D7"],
    })
    # a: last event restores the old payload -> exists; b: same payload ->
    # exists; c: delete of an absent key -> nothing; e: insert then delete
    # of a new key -> nothing; d: new payload -> update
    assert oracle.expected_actions(state, ev) == {"exists": 2, "update": 1}
    ev2 = pd.DataFrame({"event_seq": [8, 9], "op": ["insert", "delete"], "repo": ["r", "r"],
                        "path": ["z", "b"], "commit": ["c8", None], "lang": ["py", None],
                        "content": ["Z8", None]})
    assert oracle.expected_actions(state, ev2) == {"insert": 1, "delete": 1}


def test_incremental_dedup_oracle_anchors_on_corpus():
    base = " ".join(f"w{i}" for i in range(40))
    corpus = [(0, base), (1, "completely unrelated words make up this other corpus document here")]
    batch = [
        (10, base.upper()),  # exact dup of a corpus doc -> drops
        (11, base.replace("w20", "x20")),  # Jaccard 35/41 to the corpus -> drops
        (12, "one two three four five six seven eight nine ten eleven twelve thirteen"),
        (13, "one two three four five six seven eight nine ten eleven twelve fourteen"),
        (14, "a fresh document about adaptive query execution and shuffle partitions"),
    ]
    rule = oracle.IncrementalDedupOracle(corpus)
    assert rule.apply(batch) == {12, 14}
    # survivors join the corpus: a re-delivered batch now drops entirely
    assert rule.apply([(20, batch[2][1]), (21, batch[4][1])]) == set()


def test_planted_near_duplicates_clear_the_threshold():
    corpus = gen.corpus_docs(5, 200)
    batch = gen.dedup_batch(5, 0, 200, 100, corpus)
    rule = oracle.IncrementalDedupOracle(corpus)
    kept = rule.apply(batch)
    # planted corpus copies and batch twins drop; fresh documents survive
    assert 0.55 < len(kept) / len(batch) < 0.9
    # the corpus itself is free of near duplicates
    assert oracle.IncrementalDedupOracle([]).apply(corpus) == {i for i, _ in corpus}
