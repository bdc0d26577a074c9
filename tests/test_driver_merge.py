"""Small merge-on-read epochs on the driver (``merge._apply_epoch_driver``):
the driver path must give the same table, change feed, counts, offsets and
changed buckets as the Spark path for every history, take the Spark path
wherever its gate says no, and survive a crash at each step of its write."""

from __future__ import annotations

import datetime as dt
import os
import shutil
from collections import Counter
from decimal import Decimal

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import types as T

from etlbox_spark.engine import Checkpoint, LakeTable, MergeMode, MergeSpec, lookup, merge, replay
from etlbox_spark.engine import lake as lake_mod
from etlbox_spark.engine.lake import LakeTable as LT

SCHEMA = T.StructType([
    T.StructField("g", T.StringType(), True),
    T.StructField("k", T.LongType(), True),
    T.StructField("n", T.LongType(), True),
    T.StructField("ts", T.TimestampType(), True),
    T.StructField("d", T.DecimalType(12, 4), True),
    T.StructField("c", T.StringType(), True),
])
EVENTS = pa.schema([
    ("seq", pa.int64()), ("op", pa.string()), ("g", pa.string()), ("k", pa.int64()),
    ("n", pa.int64()), ("ts", pa.timestamp("us", tz="UTC")), ("d", pa.decimal128(12, 4)),
    ("c", pa.string()),
])
KEYS = [("a", 2**60 + 1), ("a", 7), ("b", -3), ("b", 2**60 + 1), ("c", 0)]
UTC = dt.timezone.utc
# few payloads, so a re-sent value classifies as ``exists``; an instant
# before 1677 and one with microseconds test the timestamp round trip
PAYLOADS = [
    (2**53 + 1, dt.datetime(1650, 1, 1, 0, 0, 0, 7, tzinfo=UTC), Decimal("1.2345"), "x"),
    (None, dt.datetime(2021, 1, 1, tzinfo=UTC), Decimal("-7.0001"), "y"),
    (5, dt.datetime(2021, 1, 1, tzinfo=UTC), None, None),
]


def _spec(policy="ignore"):
    return MergeSpec(key_cols=("g", "k"), seq_col="seq", compare_cols=("n", "ts", "d", "c"),
                     on_malformed=policy)


def _events(epoch, evs, note=False, malformed=None):
    """One epoch's events: ``(key index, op, seq offset, payload index)``
    tuples, plus one ``malformed`` event (NULL key, NULL seq or an
    unknown op) when asked."""
    rows = []
    for ki, op, so, pi in evs:
        g, k = KEYS[ki]
        n, ts, d, c = (None,) * 4 if op == "delete" else PAYLOADS[pi]
        rows.append({"seq": 100 * epoch + so, "op": op, "g": g, "k": k, "n": n, "ts": ts, "d": d, "c": c})
    if malformed is not None:
        bad = {"seq": 100 * epoch + 50, "op": "upsert", "g": "a", "k": 7, "n": 1,
               "ts": None, "d": None, "c": "bad"}
        bad[{"key": "k", "seq": "seq", "op": "op"}[malformed]] = None if malformed != "op" else "bogus"
        rows.append(bad)
    schema = EVENTS
    if note:
        schema = schema.append(pa.field("note", pa.string()))
        for r in rows:
            r["note"] = f"n{epoch}"
    return pa.Table.from_pylist(rows, schema=schema)


def _land(spark, events_dir, epoch, table, with_spark):
    d = os.path.join(events_dir, f"epoch={epoch}")
    shutil.rmtree(d, ignore_errors=True)
    if with_spark:
        # Spark's own files: INT96 timestamps and the Spark footer key
        spark.createDataFrame(table).write.parquet(d)
    else:
        os.makedirs(d)
        pq.write_table(table, os.path.join(d, "part-0.parquet"))


def _table(root):
    return LakeTable.create(root, SCHEMA, ["g", "k"], 2, properties={
        "write.mode": "mor", "compact.max.deltas.per.bucket": "2"})


def _rows(df):
    return Counter(tuple(r) for r in df.collect())


_event = st.tuples(
    st.integers(0, len(KEYS) - 1),
    st.sampled_from(["insert", "update", "upsert", "delete"]),
    st.integers(0, 2),  # a repeated seq offset is a duplicate seq
    st.integers(0, len(PAYLOADS) - 1),
)
_epoch = st.tuples(
    st.lists(_event, min_size=1, max_size=6),
    st.sampled_from(["plain", "plain", "evolve", "malformed"]),
    st.sampled_from(["key", "seq", "op"]),
    st.booleans(),  # landed by Spark rather than pyarrow
)


@settings(
    max_examples=4,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(epochs=st.lists(_epoch, min_size=2, max_size=4), policy=st.sampled_from(["ignore", "quarantine", "fail"]))
@example(
    # every case once, whatever the generated examples hit: a tombstone
    # of an absent key; re-sent payloads with NULL compare values
    # (``exists``); a duplicate seq with different payloads; a delete and
    # re-inserts after it; a malformed event under quarantine
    epochs=[
        ([(0, "insert", 0, 1), (1, "insert", 0, 2), (2, "delete", 0, 0)], "plain", "key", False),
        ([(0, "update", 0, 1), (1, "upsert", 0, 2), (2, "insert", 0, 0), (3, "update", 1, 0),
          (3, "update", 1, 1), (4, "delete", 0, 0)], "plain", "key", True),
        ([(2, "delete", 0, 0), (0, "delete", 1, 0), (3, "upsert", 2, 2)], "plain", "key", False),
        ([(2, "insert", 0, 1)], "malformed", "op", False),
        ([(0, "insert", 0, 2)], "plain", "key", False),
    ],
    policy="quarantine",
)
@example(
    # under "ignore" a NULL-seq event is a bucket's only winner: its
    # offsets carry a NULL max_seq
    epochs=[([(0, "insert", 0, 0)], "plain", "key", False), ([(0, "insert", 0, 0)], "malformed", "seq", False)],
    policy="ignore",
)
def test_driver_epoch_equals_spark_epoch(spark, tmp_path_factory, monkeypatch, epochs, policy):
    """Random histories — tombstones of absent keys and re-inserts,
    duplicate seqs with different payloads, re-sent payloads
    (``exists``), a timestamp and a decimal payload, a schema-add epoch,
    malformed events under each ``on_malformed`` policy, and
    compactions — replayed with the driver gate forced open and forced
    shut give equal tables, change feeds, dead-letter logs, counts,
    offsets and changed buckets, and a clean ``fsck()``. A schema-add
    or malformed epoch takes the Spark path either way."""
    tmp = tmp_path_factory.mktemp("dm")
    spec = _spec(policy)
    events_dir = str(tmp / "events")
    for ep, (evs, kind, bad, with_spark) in enumerate(epochs, start=1):
        _land(spark, events_dir, ep, _events(ep, evs, note=kind == "evolve",
                                             malformed=bad if kind == "malformed" else None), with_spark)
    got = {}
    for gate in (10**12, -1):
        monkeypatch.setattr(lookup, "DRIVER_MAX_ROWS", gate)
        monkeypatch.setattr(lookup, "DRIVER_EPOCH_MAX_ROWS", gate)
        root = str(tmp / f"t{gate}")
        t, delta_dir = _table(os.path.join(root, "lake")), os.path.join(root, "changes")
        results = []
        for ep, (_, kind, _, _) in enumerate(epochs, start=1):
            if kind == "malformed" and policy == "fail":
                with pytest.raises(ValueError, match="malformed"):
                    replay(spark, t, events_dir, spec, MergeMode.DELTA, delta_dir=delta_dir, epochs=[ep])
                continue
            (res,) = replay(spark, t, events_dir, spec, MergeMode.DELTA, delta_dir=delta_dir, epochs=[ep])
            if gate < 0:
                assert (res.path, res.fallback) == ("spark", "epoch rows")
            elif kind == "evolve":
                assert (res.path, res.fallback) == ("spark", "schema")
            elif kind == "malformed":
                assert (res.path, res.fallback) == ("spark", "malformed")
            else:
                # files written before a schema add hold the old schema
                # until a compaction rewrites them
                assert res.path == "driver" or res.fallback == "schema version", res
            results.append((res.epoch_id, res.counts, res.changed_buckets, res.offsets))
        report = t.fsck(deep=True)
        assert report["ok"], report["errors"]
        assert report["orphans"] == []
        feed = _rows(merge.read_changes(spark, delta_dir)) if os.path.isdir(delta_dir) else None
        dead = _rows(merge.read_quarantine(spark, delta_dir))
        got[gate] = (_rows(t.read(spark)), feed, dead, results)
    driver, spark_path = got[10**12], got[-1]
    for name, a, b in zip(("table", "feed", "quarantine", "results"), driver, spark_path):
        assert a == b, name


def _oracle(epochs):
    """Last writer wins over unique seqs, in plain Python."""
    state = {}
    for ep, evs in enumerate(epochs, start=1):
        for ki, op, so, pi in sorted(evs, key=lambda e: e[2]):
            if op == "delete":
                state.pop(KEYS[ki], None)
            else:
                state[KEYS[ki]] = PAYLOADS[pi]
    return state


CRASH_EPOCHS = [
    [(0, "insert", 0, 0), (1, "insert", 1, 1), (2, "insert", 2, 2)],
    [(0, "update", 0, 1), (2, "delete", 1, 0), (3, "upsert", 2, 0)],
    [(1, "update", 0, 1), (2, "insert", 1, 0), (4, "delete", 2, 0)],
]


def _crash_setup(spark, tmp_path):
    events_dir = str(tmp_path / "events")
    for ep, evs in enumerate(CRASH_EPOCHS, start=1):
        _land(spark, events_dir, ep, _events(ep, evs), False)
    t = _table(str(tmp_path / "lake"))
    return t, events_dir, str(tmp_path / "changes"), str(tmp_path / "ck.json")


def _assert_converged(spark, t, delta_dir, results):
    """Oracle parity of the table, one feed dir per epoch whose rows
    match the epoch's counts, and a clean fsck."""
    got = {(r.g, r.k): (r.n, r.ts.replace(tzinfo=UTC) if r.ts else None, r.d, r.c)
           for r in t.read(spark).collect()}
    assert got == _oracle(CRASH_EPOCHS)
    feed = merge.read_changes(spark, delta_dir).collect()
    counts = {ep: Counter(r.action for r in feed if r.epoch == ep) for ep in (1, 2, 3)}
    assert {r.epoch_id: dict(counts[r.epoch_id]) for r in results} == {r.epoch_id: r.counts for r in results}
    assert sorted(n for n in os.listdir(delta_dir) if not n.startswith(".")) == ["epoch=1", "epoch=2", "epoch=3"]
    report = t.fsck(deep=True)
    assert report["ok"], report["errors"]


def test_driver_epoch_resumes_after_a_failed_publish(spark, tmp_path, monkeypatch):
    t, events_dir, delta_dir, ck = _crash_setup(spark, tmp_path)
    spec = _spec()
    (r1,) = replay(spark, t, events_dir, spec, delta_dir=delta_dir, checkpoint=Checkpoint(ck), epochs=[1])
    assert r1.path == "driver"
    real = LT._publish

    def boom(self, m, extra=None):
        raise RuntimeError("simulated crash at the publish")

    monkeypatch.setattr(LT, "_publish", boom)
    with pytest.raises(RuntimeError, match="simulated crash"):
        replay(spark, t, events_dir, spec, delta_dir=delta_dir, checkpoint=Checkpoint(ck), epochs=[2])
    monkeypatch.setattr(LT, "_publish", real)
    assert not t.is_committed(2)
    assert not os.path.exists(os.path.join(delta_dir, "epoch=2"))
    rest = replay(spark, t, events_dir, spec, delta_dir=delta_dir, checkpoint=Checkpoint(ck))
    assert [(r.epoch_id, r.skipped, r.path) for r in rest] == [(1, True, None), (2, False, "driver"), (3, False, "driver")]
    _assert_converged(spark, t, delta_dir, [r1, *rest[1:]])


def test_driver_epoch_heals_a_skipped_log_finalize(spark, tmp_path, monkeypatch):
    t, events_dir, delta_dir, ck = _crash_setup(spark, tmp_path)
    spec = _spec()
    monkeypatch.setattr(merge, "_finalize_epoch_log", lambda root, epoch_id: None)
    (r1,) = replay(spark, t, events_dir, spec, delta_dir=delta_dir, epochs=[1])
    assert r1.path == "driver" and t.is_committed(1)
    # committed, but its feed is still staged under the in-flight name
    assert os.listdir(delta_dir) == ["_inflight-epoch-1"]
    monkeypatch.undo()
    results = replay(spark, t, events_dir, spec, delta_dir=delta_dir, checkpoint=Checkpoint(ck))
    assert [(r.epoch_id, r.skipped) for r in results] == [(1, True), (2, False), (3, False)]
    _assert_converged(spark, t, delta_dir, [r1, *results[1:]])


def test_driver_epoch_resumes_after_a_crash_between_write_and_publish(spark, tmp_path, monkeypatch):
    t, events_dir, delta_dir, ck = _crash_setup(spark, tmp_path)
    spec = _spec()
    real = lake_mod._write_arrow_buckets

    def write_then_die(*a, **k):
        real(*a, **k)
        raise RuntimeError("simulated crash after the pyarrow write")

    monkeypatch.setattr(lake_mod, "_write_arrow_buckets", write_then_die)
    with pytest.raises(RuntimeError, match="simulated crash"):
        replay(spark, t, events_dir, spec, delta_dir=delta_dir, checkpoint=Checkpoint(ck), epochs=[1])
    monkeypatch.undo()
    assert t.latest_version() == 0
    assert os.listdir(delta_dir) == ["_inflight-epoch-1"]
    (crashed,) = os.listdir(t._data_dir)
    results = replay(spark, t, events_dir, spec, delta_dir=delta_dir, checkpoint=Checkpoint(ck))
    assert [r.path for r in results] == ["driver"] * 3
    _assert_converged(spark, t, delta_dir, results)
    # the crashed attempt's files are orphans that vacuum reclaims
    assert not any(e["path"].startswith(f"data/{crashed}/") for e in t.manifest().files)
    assert t.vacuum(keep_versions=1)["files_deleted"] >= 1
    assert not any(fns for _, _, fns in os.walk(os.path.join(t._data_dir, crashed)))


def test_merge_result_names_the_path_and_the_failed_rule(spark, tmp_path):
    """One epoch of each kind: a small MoR epoch landed as files runs on
    the driver with at most one Spark job; the same epoch as a DataFrame,
    on a copy-on-write table, in FULL mode, or with an ANSI cast that
    fails on an event LWW drops takes the Spark path and says why."""
    spec = _spec()
    events_dir = str(tmp_path / "events")
    _land(spark, events_dir, 1, _events(1, CRASH_EPOCHS[0]), False)
    files = [os.path.join(events_dir, "epoch=1", "part-0.parquet")]

    t = _table(str(tmp_path / "mor"))
    sc = spark.sparkContext
    sc.setJobGroup("driver-epoch", "driver-epoch")
    res = merge.apply_epoch(spark, t, files, spec, MergeMode.DELTA, 1)
    sc.setJobGroup("other", "other")
    assert (res.path, res.fallback) == ("driver", None)
    assert len(sc.statusTracker().getJobIdsForGroup("driver-epoch")) <= 1
    again = merge.apply_epoch(spark, t, files, spec, MergeMode.DELTA, 1)
    assert (again.skipped, again.path, again.fallback) == (True, None, None)

    frame = spark.read.parquet(*files)
    res = merge.apply_epoch(spark, _table(str(tmp_path / "mor2")), frame, spec, MergeMode.DELTA, 1)
    assert (res.path, res.fallback) == ("spark", "dataframe")
    cow = LakeTable.create(str(tmp_path / "cow"), SCHEMA, ["g", "k"], 2)
    res = merge.apply_epoch(spark, cow, files, spec, MergeMode.DELTA, 1)
    assert (res.path, res.fallback) == ("spark", "write.mode")
    res = merge.apply_epoch(spark, _table(str(tmp_path / "mor3")), files, spec, MergeMode.FULL, 1)
    assert (res.path, res.fallback) == ("spark", "mode")

    # ``c`` lands as a long column cast to the table's string... and a
    # string ``n`` that only the losing event of a key cannot cast
    cast = pa.table({
        "seq": [1, 2], "op": ["upsert", "upsert"], "g": ["a", "a"], "k": [7, 7],
        "n": ["x", "5"], "c": [1, 2],
    })
    os.makedirs(os.path.join(events_dir, "epoch=2"))
    pq.write_table(cast, os.path.join(events_dir, "epoch=2", "part-0.parquet"))
    t4 = _table(str(tmp_path / "mor4"))
    res = merge.apply_epoch(
        spark, t4, [os.path.join(events_dir, "epoch=2", "part-0.parquet")], spec, MergeMode.DELTA, 2
    )
    assert (res.path, res.fallback, res.counts) == ("spark", "cast", {"insert": 1})
    assert [(r.n, r.c) for r in t4.read(spark).collect()] == [(5, "2")]


def test_driver_gate_refuses_as_soon_as_a_rule_fails(spark, tmp_path, monkeypatch):
    """An epoch over ``DRIVER_EPOCH_MAX_ROWS`` is refused from its footers,
    before its events are read; a projection that fails for a reason
    other than a cast is reported as ``projection``, not ``cast``; and
    the snapshot rule, the one checked after the projection, refuses an
    epoch whose pruned snapshot rows leave no room under
    ``DRIVER_MAX_ROWS``. Each refusal then applies the epoch on Spark."""
    from pyspark.errors import PySparkException

    spec = _spec()
    events_dir = str(tmp_path / "events")
    for ep, evs in enumerate(CRASH_EPOCHS, start=1):
        _land(spark, events_dir, ep, _events(ep, evs), False)
    files = {ep: [os.path.join(events_dir, f"epoch={ep}", "part-0.parquet")] for ep in (1, 2, 3)}
    t = _table(str(tmp_path / "lake"))

    def unread(files):
        raise AssertionError("the events were read")

    with monkeypatch.context() as m:
        m.setattr(lookup, "DRIVER_EPOCH_MAX_ROWS", 2)
        m.setattr(merge, "_read_events", unread)
        res = merge.apply_epoch(spark, t, files[1], spec, MergeMode.DELTA, 1)
    assert (res.path, res.fallback) == ("spark", "epoch rows")

    def fail(self):
        raise PySparkException("the driver ran out of room for the result")

    with monkeypatch.context() as m:
        m.setattr(type(spark.range(1)), "toArrow", fail)
        res = merge.apply_epoch(spark, t, files[2], spec, MergeMode.DELTA, 2)
    assert (res.path, res.fallback) == ("spark", "projection")

    # the 3 events fill the bound, and the live row of key 1 is in a file
    # the pruning must admit
    monkeypatch.setattr(lookup, "DRIVER_MAX_ROWS", 3)
    res = merge.apply_epoch(spark, t, files[3], spec, MergeMode.DELTA, 3)
    assert (res.path, res.fallback) == ("spark", "rows")
    got = {(r.g, r.k): (r.n, r.ts.replace(tzinfo=UTC) if r.ts else None, r.d, r.c)
           for r in t.read(spark).collect()}
    assert got == _oracle(CRASH_EPOCHS)

