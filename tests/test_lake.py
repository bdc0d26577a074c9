"""M0 lake-table layer tests: atomic commits, idempotency, crash safety,
bucket pruning, schema evolution read alignment (SURVEY.md §7 M0)."""

from __future__ import annotations

import os
from collections import Counter

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etlbox_spark.engine.lake import BUCKET_COL, LakeTable
from etlbox_spark.functions.hashing import bucket_expr

from .conftest import REPO_FILES_SCHEMA, assert_cold_manifest_matches


def _rows_df(spark, rows, n_buckets=8):
    df = spark.createDataFrame(rows, REPO_FILES_SCHEMA)
    return df.withColumn(BUCKET_COL, bucket_expr(n_buckets, "repo", "path"))


def _mk(tmp_path, name="t", n_buckets=8):
    return LakeTable.create(str(tmp_path / name), REPO_FILES_SCHEMA, ["repo", "path"], n_buckets)


def test_create_load_empty(spark, tmp_path):
    t = _mk(tmp_path)
    assert t.exists()
    assert t.row_count() == 0
    df = t.read(spark)
    assert df.count() == 0
    assert [f.name for f in df.schema.fields] == [*REPO_FILES_SCHEMA.names, BUCKET_COL]
    t2 = LakeTable.load(str(tmp_path / "t"))
    assert t2.latest_version() == 0


def test_create_rejects_bad_schema(tmp_path):
    bad = T.StructType([T.StructField("bucket", T.IntegerType())])
    with pytest.raises(ValueError):
        LakeTable.create(str(tmp_path / "x"), bad, ["bucket"])
    with pytest.raises(ValueError):
        LakeTable.create(str(tmp_path / "y"), REPO_FILES_SCHEMA, ["nope"])


def test_commit_and_read(spark, tmp_path):
    t = _mk(tmp_path)
    df = _rows_df(spark, [("r0", "p1", "c1", "py", "A"), ("r0", "p2", "c2", "py", "B")])
    buckets = [r[0] for r in df.select(BUCKET_COL).distinct().collect()]
    v = t.commit_buckets(df, buckets, epoch_id=0)
    assert v == 1
    got = {(r.repo, r.path, r.content) for r in t.read(spark).collect()}
    assert got == {("r0", "p1", "A"), ("r0", "p2", "B")}
    assert t.row_count() == 2


def test_commit_is_idempotent_per_epoch(spark, tmp_path):
    t = _mk(tmp_path)
    df = _rows_df(spark, [("r0", "p1", "c1", "py", "A")])
    buckets = [r[0] for r in df.select(BUCKET_COL).distinct().collect()]
    v1 = t.commit_buckets(df, buckets, epoch_id=7)
    v2 = t.commit_buckets(df, buckets, epoch_id=7)  # replay → no-op
    assert v1 == v2 == t.latest_version()
    assert t.row_count() == 1


def test_copy_on_write_only_touched_buckets(spark, tmp_path):
    t = _mk(tmp_path)
    df = _rows_df(spark, [("r0", f"p{i}", f"c{i}", "py", f"X{i}") for i in range(20)])
    all_buckets = [r[0] for r in df.select(BUCKET_COL).distinct().collect()]
    t.commit_buckets(df, all_buckets, epoch_id=0)
    m0 = t.manifest()
    # rewrite a single bucket
    b0 = all_buckets[0]
    repl = t.read(spark, buckets=[b0]).withColumn("content", F.lit("NEW"))
    t.commit_buckets(repl, [b0], epoch_id=1)
    m1 = t.manifest()
    old_untouched = {e["path"] for e in m0.files if e["bucket"] != b0}
    new_untouched = {e["path"] for e in m1.files if e["bucket"] != b0}
    assert old_untouched == new_untouched  # untouched files carried by reference
    assert {e["path"] for e in m1.files if e["bucket"] == b0}.isdisjoint(
        {e["path"] for e in m0.files if e["bucket"] == b0}
    )
    got = t.read(spark, buckets=[b0]).select("content").distinct().collect()
    assert [r[0] for r in got] == ["NEW"]


def test_bucket_pruned_read_lists_only_selected_files(spark, tmp_path):
    t = _mk(tmp_path)
    df = _rows_df(spark, [("r0", f"p{i}", f"c{i}", "py", f"X{i}") for i in range(50)])
    bs = [r[0] for r in df.select(BUCKET_COL).distinct().collect()]
    t.commit_buckets(df, bs, epoch_id=0)
    sub = t.read(spark, buckets=bs[:2])
    assert set(r[0] for r in sub.select(BUCKET_COL).distinct().collect()) == set(bs[:2])
    # the physical scan must reference only pruned files
    plan = sub._jdf.queryExecution().executedPlan().toString()
    assert plan  # smoke: plan renders


def test_manifest_link_is_the_commit_point(spark, tmp_path):
    """The CAS protocol's two crash windows: a temp manifest that never
    got linked is invisible; a linked manifest with a stale pointer IS
    committed (latest_version scans past the pointer floor)."""
    t = _mk(tmp_path)
    df = _rows_df(spark, [("r0", "p1", "c1", "py", "A")])
    bs = [r[0] for r in df.select(BUCKET_COL).distinct().collect()]
    t.commit_buckets(df, bs, epoch_id=0)
    v = t.latest_version()
    m = t.manifest()
    meta = os.path.join(str(tmp_path / "t"), "meta")
    orphan = m.to_json().replace(f'"version": {m.version}', f'"version": {m.version + 1}')
    # crash BEFORE the link: only the fsynced temp file exists
    with open(os.path.join(meta, f"v{m.version + 1}.json.tmp.deadbeef"), "w") as f:
        f.write(orphan)
    t2 = LakeTable.load(str(tmp_path / "t"))
    assert t2.latest_version() == v  # reader still sees the old snapshot
    assert t2.read(spark).count() == 1
    # crash AFTER the link, BEFORE the pointer update: committed
    with open(os.path.join(meta, f"v{m.version + 1}.json"), "w") as f:
        f.write(orphan)
    assert t2.latest_version() == v + 1
    assert t2.read(spark).count() == 1  # same files, just a newer snapshot


def test_time_travel(spark, tmp_path):
    t = _mk(tmp_path)
    df1 = _rows_df(spark, [("r0", "p1", "c1", "py", "A")])
    bs1 = [r[0] for r in df1.select(BUCKET_COL).distinct().collect()]
    t.commit_buckets(df1, bs1, epoch_id=0)
    df2 = t.read(spark).withColumn("content", F.lit("B"))
    t.commit_buckets(df2, bs1, epoch_id=1)
    assert [r.content for r in t.read(spark, version=1).collect()] == ["A"]
    assert [r.content for r in t.read(spark, version=2).collect()] == ["B"]


def test_truncate_and_overwrite(spark, tmp_path):
    t = _mk(tmp_path)
    df = _rows_df(spark, [("r0", "p1", "c1", "py", "A")])
    bs = [r[0] for r in df.select(BUCKET_COL).distinct().collect()]
    t.commit_buckets(df, bs, epoch_id=0)
    assert_cold_manifest_matches(t)
    t.truncate(epoch_id=1)
    assert_cold_manifest_matches(t)
    assert t.row_count() == 0
    t.overwrite(_rows_df(spark, [("r1", "q", "c", "py", "Z")]), epoch_id=2)
    assert t.row_count() == 1
    # overwrite replay no-op
    t.overwrite(_rows_df(spark, [("r2", "w", "c", "py", "W")]), epoch_id=2)
    assert [r.repo for r in t.read(spark).collect()] == ["r1"]


def test_schema_evolution_read_alignment(spark, tmp_path):
    t = _mk(tmp_path)
    df = _rows_df(spark, [("r0", "p1", "c1", "py", "A")])
    bs = [r[0] for r in df.select(BUCKET_COL).distinct().collect()]
    t.commit_buckets(df, bs, epoch_id=0)
    # evolve: add size_bytes (column add, null backfill on old files)
    new_schema = T.StructType(
        list(REPO_FILES_SCHEMA.fields) + [T.StructField("size_bytes", T.LongType(), True)]
    )
    # pick a second key that lands in a different bucket than p1
    for cand in ("zz", "zz1", "zz2", "zz3", "zz4"):
        df2 = _rows_df(spark, [("r9", cand, "c2", "py", "B")]).withColumn(
            "size_bytes", F.lit(123).cast("long")
        )
        bs2 = [r[0] for r in df2.select(BUCKET_COL).distinct().collect()]
        if set(bs2).isdisjoint(bs):
            break
    cand_path = [r.path for r in df2.select("path").collect()][0]
    t.commit_buckets(df2, bs2, epoch_id=1, new_schema=new_schema)
    got = {(r.path, r.size_bytes) for r in t.read(spark).collect()}
    assert got == {("p1", None), (cand_path, 123)}
    assert t.manifest().current_schema_version == 2


def test_create_refuses_stale_meta_after_drop(spark, tmp_path):
    """ADVICE r01: drop() removes only the pointer; a new create() at the
    same root must not let time travel resolve the old table's manifests."""
    t = _mk(tmp_path, "dropped")
    t.commit_buckets(_rows_df(spark, [("r0", "a", "c", "py", "v1")]), [0, 1, 2, 3, 4, 5, 6, 7], 0)
    root = t.root
    t.drop()
    assert not LakeTable(root).exists()
    with pytest.raises(FileExistsError, match="stale"):
        LakeTable.create(root, REPO_FILES_SCHEMA, ["repo", "path"], 8)


def test_create_heals_hard_crashed_create(spark, tmp_path):
    """A crash between the v0.json link and the first pointer write used
    to wedge the root forever (no pointer → not exists(); v0 present →
    stale-metadata guard). v0-as-sole-manifest means create() never
    returned, so no data exists and the retry may self-heal."""
    import os

    import time

    t = _mk(tmp_path, "crashed")
    os.remove(t._pointer_path())  # simulate the crash window
    assert not LakeTable(t.root).exists()
    v0 = os.path.join(t._meta_dir, "v0.json")
    # a FRESH v0 might be a concurrent creator mid-CAS — refuse
    with pytest.raises(FileExistsError, match="stale"):
        LakeTable.create(t.root, REPO_FILES_SCHEMA, ["repo", "path"], 8)
    # once it has aged past any live link->pointer window, self-heal
    os.utime(v0, (time.time() - 120, time.time() - 120))
    t2 = LakeTable.create(t.root, REPO_FILES_SCHEMA, ["repo", "path"], 8)
    assert t2.exists() and t2.manifest().version == 0
    # but a table that COMMITTED anything still refuses (covered above in
    # test_create_refuses_stale_meta_after_drop)


def test_epoch_commit_rejects_rows_outside_changed_buckets(spark, tmp_path):
    """Both epoch commit flavors refuse rows of a bucket they were not
    told they change (a CoW commit would otherwise leave that bucket's
    old file live next to the new one) and publish nothing."""
    from etlbox_spark.engine.lake import MOR_OP_COL

    t = _mk(tmp_path)
    df = _rows_df(spark, [("r0", "p1", "c1", "py", "A")])
    (b,) = [r[0] for r in df.select(BUCKET_COL).distinct().collect()]
    other = [(b + 1) % 8]
    v = t.latest_version()
    with pytest.raises(RuntimeError, match="outside"):
        t.commit_buckets(df, other, epoch_id=0)
    with pytest.raises(RuntimeError, match="outside"):
        t.commit_delta_buckets(df.withColumn(MOR_OP_COL, F.lit("upsert")), other, epoch_id=0)
    assert t.latest_version() == v and not t.is_committed(0)


def test_vacuum_spares_in_flight_commit_files(spark, tmp_path):
    """ADVICE r01: files written after the latest manifest (an in-flight
    commit between _write_data and _publish) must survive vacuum."""
    import time

    t = _mk(tmp_path, "t", 2)
    df = _rows_df(spark, [("r0", "a", "c", "py", "v1")], 2)
    t.commit_buckets(df, [0, 1], 0)
    time.sleep(0.05)  # ensure the orphan's mtime is after the manifest's
    # simulate the in-flight commit: data written, manifest not yet published
    entries = t._write_data(df, "c99-e99", t.manifest())
    orphan = os.path.join(t.root, entries[0]["path"])
    assert os.path.exists(orphan)
    stats = t.vacuum(keep_versions=1)
    assert os.path.exists(orphan), "vacuum deleted an in-flight commit file"
    # once a newer manifest lands, the stale attempt becomes collectible
    time.sleep(0.05)
    t.commit_buckets(df, [0, 1], 1)
    t.vacuum(keep_versions=1)
    assert not os.path.exists(orphan)


def test_manifest_khash_stats_and_point_lookup_pruning(spark, tmp_path):
    """VERDICT r02 #4: every data file records min/max xxhash64(key) in
    the manifest; a point probe skips the (MoR delta) files whose hash
    range excludes the key, and lookup_keys returns the exact current
    rows for the probed keys."""
    from pyspark.sql import functions as F

    from etlbox_spark.engine.lake import MOR_OP_COL

    t = LakeTable.create(
        str(tmp_path / "kh"), REPO_FILES_SCHEMA, ["repo", "path"], n_buckets=2
    )
    base = _rows_df(
        spark, [(f"r{i}", f"p{i}", "c0", "py", f"base{i}") for i in range(40)], 2
    )
    t.commit_buckets(base, [0, 1], epoch_id=0)
    m = t.manifest()
    assert m.files and all(
        e["khash_min"] is not None and e["khash_min"] <= e["khash_max"] for e in m.files
    )

    # pile up single-key MoR delta files so one bucket holds many files
    # with narrow, disjoint hash ranges
    for i in range(8):
        d = _rows_df(spark, [(f"r{i}", f"p{i}", "c1", "py", f"new{i}")], 2).withColumn(
            MOR_OP_COL, F.lit("upsert")
        )
        bs = [r[0] for r in d.select(BUCKET_COL).distinct().collect()]
        t.commit_delta_buckets(d, bs, epoch_id=100 + i)

    m = t.manifest()
    # probe one updated key: file-level stats must prune most delta files
    probe = [("r3", "p3")]
    from etlbox_spark.functions.hashing import key_hash

    h = int(
        spark.createDataFrame(probe, "repo string, path string")
        .select(key_hash("repo", "path"))
        .collect()[0][0]
    )
    all_entries = m.files
    kept = LakeTable._prune_by_khash(all_entries, [h])
    assert len(kept) < len(all_entries), "khash stats pruned nothing"
    # a single-key delta file survives only if it holds the probed key
    assert sum(1 for e in kept if e.get("kind") == "delta") <= 2

    got = {(r.repo, r.path, r.content) for r in t.lookup_keys(spark, probe).collect()}
    assert got == {("r3", "p3", "new3")}
    # un-updated key resolves to its base version
    got2 = {(r.repo, r.path, r.content) for r in t.lookup_keys(spark, [("r20", "p20")]).collect()}
    assert got2 == {("r20", "p20", "base20")}

    # row-level half of the pruning: the probe read pushes a
    # __khash IN (...) filter into the parquet scan, so the surviving
    # files' non-matching rows never enter the MoR merge shuffle
    import contextlib
    import io

    probe_df = t.read(spark, buckets=[0, 1], key_hashes=[h])
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        probe_df.explain("formatted")
    plan = buf.getvalue()
    # one-element isin compiles to EqualTo; multi-element to In
    assert "PushedFilters: [IsNotNull(__khash), " in plan
    assert f"EqualTo(__khash,{h})" in plan or "In(__khash" in plan


# --- point lookups served on the driver (engine/lookup.py)
_LK_SCHEMA = T.StructType([
    T.StructField("g", T.StringType(), True),
    T.StructField("k", T.LongType(), True),
    T.StructField("v", T.LongType(), True),
    T.StructField("ts", T.TimestampType(), True),
    T.StructField("d", T.DecimalType(20, 4), True),
])
_LK_NOTE = T.StructField("note", T.StringType(), True)
# ("b", None) is a stored key with a NULL component: it must never match
_LK_KEYS = [("a", 2**60 + 1), ("a", 7), ("b", 2**60 + 1), ("b", -3), ("b", None)]
_LK_ABSENT = [("c", 1), ("a", 2**60 + 2)]



def test_probe_hashes_match_the_stored_khash_and_bucket(spark, tmp_path):
    """The probe's hash and bucket equal the ``__khash`` and ``bucket``
    that ``_write_data`` stored for the same key. A pandas-built probe
    fails the long table (``2**60 + 1`` beside a ``None`` becomes float64
    and reads back as ``2**60``); a multi-row ``VALUES`` probe with
    positional markers fails the string table (its markers bind out of
    order)."""
    import pyarrow.parquet as pq_  # noqa: N813

    long_schema = T.StructType(
        [T.StructField("k", T.LongType(), True), T.StructField("s", T.StringType(), True)]
    )
    cases = [
        (REPO_FILES_SCHEMA, ["repo", "path"], [
            ("repo_0001", "a/b.py", "c", "py", "x"),
            ("repo_0002", "c/d.py", "c", "py", "y"),
            ("repo_0003", "e.py", "c", "py", "z"),
        ]),
        (long_schema, ["k"], [(2**60 + 1, "x"), (None, "y")]),
    ]
    for i, (schema, key_cols, rows) in enumerate(cases):
        t = LakeTable.create(str(tmp_path / f"t{i}"), schema, key_cols, 8)
        df = spark.createDataFrame(rows, schema).withColumn(BUCKET_COL, bucket_expr(8, *key_cols))
        t.commit_buckets(df, list(range(8)), epoch_id=0)
        stored = {}
        for e in t.manifest().files:
            got = pq_.read_table(os.path.join(t.root, e["path"]), columns=[*key_cols, "__khash", BUCKET_COL])
            for r in got.to_pylist():
                stored[tuple(r[c] for c in key_cols)] = (r["__khash"], r[BUCKET_COL])
        keys = [tuple(r[:len(key_cols)]) for r in rows]
        _, hb = LakeTable._probe_keys(spark, t.manifest(), keys)
        assert [tuple(r[c] for c in key_cols) for r in hb] == keys
        assert {tuple(r[c] for c in key_cols): (r["__h"], r["__b"]) for r in hb} == stored


def test_driver_lookup_keeps_rows_after_a_file_with_no_match(spark, tmp_path, monkeypatch):
    """The middle of three pruned files passes the min/max key-hash range
    (base files carry no Bloom filter by default) yet holds no row of the
    probe, so its filtered scan is an empty Arrow batch between batches
    that match. ``createDataFrame`` drops every row after such a batch
    unless it gets one chunk: every matching row must come back."""
    from etlbox_spark.engine import lookup

    t = LakeTable.create(str(tmp_path / "eb"), _LK_SCHEMA, ["g", "k"], 4)
    rows = [("a", i, i, None, None) for i in range(64)]
    df = spark.createDataFrame(rows, _LK_SCHEMA).withColumn(BUCKET_COL, bucket_expr(4, "g", "k"))
    t.commit_buckets(df, [0, 1, 2, 3], epoch_id=0)
    m = t.manifest()
    files = sorted(m.files, key=lambda e: e["bucket"])
    assert [e["bucket"] for e in files] == [0, 1, 2, 3]
    owners = {r[BUCKET_COL]: (r.g, r.k) for r in t.read(spark).collect()}
    _, hb = LakeTable._probe_keys(spark, m, [("z", j) for j in range(64)])
    absent = next(
        (r["g"], r["k"]) for r in hb
        if r["__b"] in (1, 2) and files[r["__b"]]["khash_min"] <= r["__h"] <= files[r["__b"]]["khash_max"]
    )
    scans = []
    real = lookup.probe_merge
    monkeypatch.setattr(lookup, "probe_merge", lambda clean, *a: scans.append(clean) or real(clean, *a))
    got = {(r.g, r.k) for r in t.lookup_keys(spark, [owners[0], absent, owners[3]]).collect()}
    assert [b.num_rows for b in scans[0].to_batches()] == [1, 0, 1]
    assert got == {owners[0], owners[3]}


def _lk_rows(spark, schema, step, ops, with_op=True):
    """One commit's rows: key index → 'upsert' | 'delete'. Payloads are
    seeded by (step, key): a long above 2**53 or NULL, a microsecond
    timestamp, a 4-place decimal, and the evolved ``note`` when present."""
    import datetime as dt
    from decimal import Decimal

    rows = []
    for i, op in sorted(ops.items()):
        g, k = _LK_KEYS[i]
        if op == "delete":
            payload = [None] * (len(schema.fields) - 2)
        else:
            payload = [
                None if (step + i) % 3 == 0 else 2**53 + 1 + 7 * step + i,
                dt.datetime(2021, 1, 1) + dt.timedelta(seconds=step, microseconds=7 * i + 1),
                Decimal(f"{10 * step + i}.{i:04d}"),
            ]
            if len(schema.fields) > 5:
                payload.append(f"n{step}")
        rows.append((g, k, *payload) + ((op,) if with_op else ()))
    fields = list(schema.fields) + ([T.StructField("__op", T.StringType())] if with_op else [])
    df = spark.createDataFrame(rows, T.StructType(fields))
    return df.withColumn(BUCKET_COL, bucket_expr(2, "g", "k"))


_lk_step = st.one_of(
    st.tuples(
        st.just("write"),
        st.dictionaries(st.integers(0, len(_LK_KEYS) - 1), st.sampled_from(["upsert", "delete"]), min_size=1),
    ),
    st.just(("compact", None)),
)


@settings(
    max_examples=4,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(
    steps=st.lists(_lk_step, min_size=1, max_size=3),
    evolve_at=st.integers(0, 3),
    picks=st.lists(st.integers(0, len(_LK_KEYS) - 1), max_size=4),
)
def test_driver_lookup_equals_read_semi_join(spark, tmp_path_factory, monkeypatch, steps, evolve_at, picks):
    """Random MoR histories — upserts, tombstones, re-inserts after a
    tombstone, compactions and one schema evolution — probed with absent,
    duplicate and NULL-component keys and the empty list: with the row
    gate forced open the driver path, and forced shut the Spark path,
    each equal ``read()`` plus a left-semi join row for row. A probe that
    prunes to a file of an older schema version takes the Spark path."""
    from etlbox_spark.engine import lookup

    tmp = tmp_path_factory.mktemp("lk")
    t = LakeTable.create(str(tmp / "t"), _LK_SCHEMA, ["g", "k"], 2)
    schema = _LK_SCHEMA
    t.commit_buckets(
        _lk_rows(spark, schema, 0, dict.fromkeys(range(len(_LK_KEYS)), "upsert"), with_op=False),
        [0, 1], epoch_id=0,
    )
    ktype = T.StructType([T.StructField("g", T.StringType()), T.StructField("k", T.LongType())])
    calls = []
    real = lookup._read_on_driver
    monkeypatch.setattr(lookup, "_read_on_driver", lambda *a: calls.append(1) or real(*a))

    every = list(_LK_KEYS) + _LK_ABSENT + [("a", None), (None, 7)]
    every += every[:2]

    def check(keys):
        want = t.read(spark).join(spark.createDataFrame(keys, ktype), on=["g", "k"], how="left_semi")
        want_rows = Counter(tuple(r) for r in want.collect())
        m = t.manifest()
        old = {e["schema_version"] for e in m.files} != {m.current_schema_version}
        for gate in (10**12, -1):
            monkeypatch.setattr(lookup, "DRIVER_MAX_ROWS", gate)
            calls.clear()
            got = t.lookup_keys(spark, keys)
            assert [(f.name, f.dataType) for f in got.schema] == [(f.name, f.dataType) for f in want.schema]
            assert Counter(tuple(r) for r in got.collect()) == want_rows, (gate, keys)
            if gate < 0 or (old and keys == every):
                # every file holds a probed key, so an old-version file
                # is among the pruned ones
                assert not calls
            elif not old:
                assert calls

    # one schema evolution that tombstones key 3, re-inserted at the end
    plan = [*steps, ("write", {3: "upsert"})]
    plan.insert(min(evolve_at, len(steps)), ("evolve", {0: "upsert", 3: "delete"}))
    for step, (kind, ops) in enumerate(plan, start=1):
        if kind == "compact":
            t.compact(spark)
        else:
            new_schema = None
            if kind == "evolve":
                schema = new_schema = T.StructType([*_LK_SCHEMA.fields, _LK_NOTE])
            df = _lk_rows(spark, schema, step, ops)
            buckets = sorted({r[0] for r in df.select(BUCKET_COL).distinct().collect()})
            t.commit_delta_buckets(df, buckets, epoch_id=step, new_schema=new_schema)
        check(every)
    check([_LK_KEYS[i] for i in picks])
    check([])


def _row_counts(df):
    return Counter(tuple(tuple(v) if isinstance(v, list) else v for v in r) for r in df.collect())


def test_driver_lookup_round_trips_column_types(spark, tmp_path, monkeypatch):
    """Every column type the driver path admits, keys of int, date and
    binary included, comes back from it exactly as ``read()`` plus the
    semi-join returns it, over a base file and a MoR delta. A double key
    column, a map column and a struct column take the Spark path."""
    import datetime as dt
    from decimal import Decimal

    from etlbox_spark.engine import lookup

    calls = []
    real = lookup._read_on_driver
    monkeypatch.setattr(lookup, "_read_on_driver", lambda *a: calls.append(1) or real(*a))
    monkeypatch.setattr(lookup, "DRIVER_MAX_ROWS", 10**12)

    def check(t, keys, driver):
        names = t.manifest().key_cols
        kfields = [f for f in t.manifest().schema().fields if f.name in names]
        probe = spark.createDataFrame(keys, T.StructType(kfields))
        want = t.read(spark).join(probe, on=names, how="left_semi")
        calls.clear()
        got = t.lookup_keys(spark, keys)
        assert bool(calls) == driver
        assert [(f.name, f.dataType) for f in got.schema] == [(f.name, f.dataType) for f in want.schema]
        assert _row_counts(got) == _row_counts(want)

    schema = T.StructType([
        T.StructField("k", T.IntegerType(), True),
        T.StructField("dk", T.DateType(), True),
        T.StructField("kb", T.BinaryType(), True),
        T.StructField("s", T.StringType(), True),
        T.StructField("bo", T.BooleanType(), True),
        T.StructField("by", T.ByteType(), True),
        T.StructField("sh", T.ShortType(), True),
        T.StructField("f", T.FloatType(), True),
        T.StructField("d", T.DoubleType(), True),
        T.StructField("dc", T.DecimalType(38, 10), True),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("ntz", T.TimestampNTZType(), True),
        T.StructField("al", T.ArrayType(T.LongType()), True),
        T.StructField("astr", T.ArrayType(T.StringType()), True),
    ])

    def row(i, step):
        key = (i, dt.date(2020, 1, 1) + dt.timedelta(days=i), bytes([i, 0, 255]))
        if i == 5:
            return (*key, *[None] * (len(schema.fields) - 3))
        return (*key, f"s{i}.{step}", i % 2 == 0, i - 3, 1000 * i + step, 1.5 * i, 2.0**-i + step,
                Decimal(f"{10**20 + i}.{step:010d}"), dt.datetime(1650 + 700 * step, 1, 1, 0, 0, i, 7 * i),
                dt.datetime(2262 + step, 4, 11, 23, 47, 16, i), [2**60 + i, None], ["x", None, f"{step}"])

    t = LakeTable.create(str(tmp_path / "types"), schema, ["k", "dk", "kb"], 2)
    base = spark.createDataFrame([row(i, 0) for i in range(6)], schema)
    t.commit_buckets(base.withColumn(BUCKET_COL, bucket_expr(2, "k", "dk", "kb")), [0, 1], epoch_id=0)
    delta = spark.createDataFrame(
        [(*row(i, 1), op) for i, op in ((1, "upsert"), (2, "delete"), (7, "upsert"))],
        T.StructType([*schema.fields, T.StructField("__op", T.StringType())]),
    ).withColumn(BUCKET_COL, bucket_expr(2, "k", "dk", "kb"))
    t.commit_delta_buckets(delta, sorted({r[0] for r in delta.select(BUCKET_COL).collect()}), epoch_id=1)
    keys = [row(i, 0)[:3] for i in range(9)] + [(1, None, b"\x01\x00\xff")]
    check(t, keys, driver=True)

    for name, ktype, vtype in [
        ("double-key", T.DoubleType(), T.LongType()),
        ("map", T.LongType(), T.MapType(T.StringType(), T.LongType())),
        ("struct", T.LongType(), T.StructType([T.StructField("a", T.LongType())])),
    ]:
        s2 = T.StructType([T.StructField("k", ktype), T.StructField("v", vtype)])
        t2 = LakeTable.create(str(tmp_path / name), s2, ["k"], 2)
        df = spark.range(4).select(F.col("id").cast(ktype).alias("k"), F.lit(None).cast(vtype).alias("v"))
        t2.commit_buckets(df.withColumn(BUCKET_COL, bucket_expr(2, "k")), [0, 1], epoch_id=0)
        probe = [(1.0,), (3.0,)] if name == "double-key" else [(1,), (3,)]
        calls.clear()
        assert t2.lookup_keys(spark, probe).count() == 2
        assert not calls, name


def test_lookup_keys_requires_khash_bucketing(tmp_path, spark):
    t = LakeTable.create(
        str(tmp_path / "c"), REPO_FILES_SCHEMA, ["repo", "path"], 2, properties={"bucketing": "custom"}
    )
    with pytest.raises(ValueError, match="bucketing"):
        t.lookup_keys(spark, [("r0", "p0")])


def test_sorted_within_bucket_makes_rowgroup_stats_selective(spark, tmp_path):
    """write.sort.cols (default: the key columns) orders rows inside each
    bucket file, so parquet row-group stats prune key-range predicates —
    buckets are key-HASH partitioned, so without the sort one repo's rows
    scatter unordered through every file and stats prune nothing.
    write.parquet.block.size sets the pruning granularity."""
    import pyarrow.parquet as pq_  # noqa: N813

    t = LakeTable.create(
        str(tmp_path / "s"),
        REPO_FILES_SCHEMA,
        ["repo", "path"],
        2,
        properties={"write.parquet.block.size": 16384},
    )
    rows = [(f"r{i % 50:02d}", f"p{i:05d}", "c", "py", "x" * 64) for i in range(20000)]
    t.commit_buckets(_rows_df(spark, rows, 2), [0, 1], epoch_id=0)
    m = t.manifest()
    fpath = os.path.join(str(tmp_path / "s"), m.files[0]["path"])
    md = pq_.ParquetFile(fpath).metadata
    assert md.num_row_groups >= 2, "block.size knob produced a single row group"

    def col_ranges(name):
        out = []
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            for c in range(rg.num_columns):
                col = rg.column(c)
                if col.path_in_schema == name:
                    st = col.statistics
                    out.append((st.min, st.max))
        return out

    ranges = col_ranges("repo")
    assert len(ranges) == md.num_row_groups
    for (_, a_max), (b_min, _) in zip(ranges, ranges[1:]):
        assert a_max <= b_min, "row groups not key-ordered"
    # a single-repo predicate touches only a contiguous minority of groups
    hit = sum(1 for lo, hi in ranges if lo <= "r03" <= hi)
    assert hit < md.num_row_groups


def test_khash_sort_clusters_point_probes_to_one_rowgroup(spark, tmp_path):
    """write.sort.cols=khash clusters rows by key hash, so the pushed
    __khash IN (...) point-probe filter lands on ~one row group per
    surviving file instead of scanning all of them."""
    import pyarrow.parquet as pq_  # noqa: N813

    from etlbox_spark.functions.hashing import key_hash

    t = LakeTable.create(
        str(tmp_path / "kh2"),
        REPO_FILES_SCHEMA,
        ["repo", "path"],
        2,
        properties={"write.sort.cols": "khash", "write.parquet.block.size": 16384},
    )
    rows = [(f"r{i % 50:02d}", f"p{i:05d}", "c", "py", "x" * 64) for i in range(20000)]
    t.commit_buckets(_rows_df(spark, rows, 2), [0, 1], epoch_id=0)
    m = t.manifest()
    fpath = os.path.join(str(tmp_path / "kh2"), m.files[0]["path"])
    md = pq_.ParquetFile(fpath).metadata
    assert md.num_row_groups >= 2

    kranges = []
    for g in range(md.num_row_groups):
        rg = md.row_group(g)
        for c in range(rg.num_columns):
            col = rg.column(c)
            if col.path_in_schema == "__khash":
                st = col.statistics
                kranges.append((st.min, st.max))
    for (_, a_max), (b_min, _) in zip(kranges, kranges[1:]):
        assert a_max <= b_min, "row groups not khash-ordered"

    # a key stored in this file hits exactly one row group's range
    import pyarrow.parquet as pq_read

    sample = pq_read.read_table(fpath, columns=["repo", "path"]).slice(0, 1).to_pylist()[0]
    h = int(
        spark.createDataFrame([(sample["repo"], sample["path"])], "repo string, path string")
        .select(key_hash("repo", "path"))
        .collect()[0][0]
    )
    assert sum(1 for lo, hi in kranges if lo <= h <= hi) == 1
    # content identical to an unsorted table (sorting is layout-only)
    got = {(r.repo, r.path) for r in t.read(spark).collect()}
    assert got == {(r[0], r[1]) for r in rows}

def test_set_properties_validates_and_records_history(spark, tmp_path):
    """ALTER TABLE SET/UNSET TBLPROPERTIES analog: values validated at
    set time (a typo'd sort column must not fail an ingest epoch later),
    metadata-only version bump, visible in history()."""
    with pytest.raises(ValueError):  # typo in a reserved namespace
        LakeTable.create(
            str(tmp_path / "bad1"), REPO_FILES_SCHEMA, ["repo", "path"], 2,
            properties={"write.sortcols": "repo"},
        )
    with pytest.raises(ValueError):  # sort column not in schema
        LakeTable.create(
            str(tmp_path / "bad2"), REPO_FILES_SCHEMA, ["repo", "path"], 2,
            properties={"write.sort.cols": "repo,nope"},
        )
    t = _mk(tmp_path)
    v0 = t.latest_version()
    with pytest.raises(ValueError):
        t.set_properties({"write.mode": "sideways"})
    with pytest.raises(ValueError):
        t.set_properties({"write.parquet.block.size": "big"})
    assert t.latest_version() == v0  # failed set published nothing

    v1 = t.set_properties({"write.sort.cols": "khash", "owner": "teamX"})
    assert v1 == v0 + 1
    assert t.manifest().properties == {"write.sort.cols": "khash", "owner": "teamX"}
    assert_cold_manifest_matches(t)
    assert t.history()[0]["operation"] == "set_properties"
    # no-op set does not burn a version
    assert t.set_properties({"write.sort.cols": "khash"}) == v1
    # unset returns to defaults
    v2 = t.set_properties(unset=["write.sort.cols"])
    assert v2 == v1 + 1 and t.manifest().properties == {"owner": "teamX"}


def test_set_properties_relayout_applies_to_next_commit(spark, tmp_path):
    """Switching write.sort.cols to khash on a live table re-lays-out
    buckets incrementally: the NEXT CoW rewrite of a bucket emits
    khash-ordered row groups; files written before keep the old order."""
    import pyarrow.parquet as pq_  # noqa: N813

    t = LakeTable.create(
        str(tmp_path / "alter"),
        REPO_FILES_SCHEMA,
        ["repo", "path"],
        2,
        properties={"write.parquet.block.size": 16384},  # default key sort
    )
    rows = [(f"r{i % 50:02d}", f"p{i:05d}", "c", "py", "x" * 64) for i in range(20000)]
    t.commit_buckets(_rows_df(spark, rows, 2), [0, 1], epoch_id=0)

    def khash_ranges(fpath):
        md = pq_.ParquetFile(fpath).metadata
        out = []
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            for c in range(rg.num_columns):
                col = rg.column(c)
                if col.path_in_schema == "__khash":
                    st = col.statistics
                    out.append((st.min, st.max))
        return out

    before = khash_ranges(os.path.join(str(tmp_path / "alter"), t.manifest().files[0]["path"]))
    assert len(before) >= 2
    assert any(a_max > b_min for (_, a_max), (b_min, _) in zip(before, before[1:])), (
        "key-sorted file unexpectedly khash-ordered — fixture too small?"
    )

    t.set_properties({"write.sort.cols": "khash"})
    t.commit_buckets(_rows_df(spark, rows, 2), [0, 1], epoch_id=1)  # CoW rewrite
    for e in t.manifest().files:
        after = khash_ranges(os.path.join(str(tmp_path / "alter"), e["path"]))
        assert len(after) >= 2
        for (_, a_max), (b_min, _) in zip(after, after[1:]):
            assert a_max <= b_min, "post-alter rewrite not khash-ordered"
    got = {(r.repo, r.path) for r in t.read(spark).collect()}
    assert got == {(r[0], r[1]) for r in rows}


def test_epoch_commit_rebases_across_set_properties(spark, tmp_path):
    """set_properties is metadata-only, so an epoch commit whose classify
    snapshot it outran rebases across it (like compact) — and the rebased
    commit carries the NEW properties forward instead of reverting them."""
    t = _mk(tmp_path)
    df0 = _rows_df(spark, [("r0", "p1", "c1", "py", "A")])
    buckets = [r[0] for r in df0.select(BUCKET_COL).distinct().collect()]
    t.commit_buckets(df0, buckets, epoch_id=0)
    base = t.manifest().version
    df1 = _rows_df(spark, [("r0", "p1", "c2", "py", "B")])
    t.set_properties({"write.sort.cols": "khash"})  # lands mid-transaction
    v = t.commit_buckets(df1, buckets, epoch_id=1, base_version=base)
    m = t.manifest()
    assert v == m.version and 1 in m.committed_epochs
    assert m.properties == {"write.sort.cols": "khash"}  # not reverted
    got = {(r.repo, r.path, r.content) for r in t.read(spark).collect()}
    assert got == {("r0", "p1", "B")}


def test_rollback_restores_snapshot_and_epoch_markers(spark, tmp_path):
    """RESTORE TABLE analog: content, schema AND epoch markers revert to
    the target snapshot (so a rolled-back epoch re-applies), current
    properties are kept, history records a forward 'rollback' commit."""
    t = _mk(tmp_path)
    all_b = lambda df: [r[0] for r in df.select(BUCKET_COL).distinct().collect()]  # noqa: E731
    df0 = _rows_df(spark, [("r0", "p1", "c1", "py", "A"), ("r1", "p1", "c1", "py", "X")])
    t.commit_buckets(df0, all_b(df0), epoch_id=0)
    good_v = t.latest_version()
    df1 = _rows_df(spark, [("r0", "p1", "c2", "py", "GARBAGE")])
    t.commit_buckets(df1, all_b(df1), epoch_id=1)  # the poisoned epoch
    t.set_properties({"write.sort.cols": "khash"})  # tuning landed after

    v = t.rollback(good_v)
    assert_cold_manifest_matches(t)
    m = t.manifest()
    assert v == m.version and m.operation == "rollback"
    assert m.committed_epochs == [0]  # epoch 1 unmarked -> re-applies
    assert m.properties == {"write.sort.cols": "khash"}  # tuning kept
    got = {(r.repo, r.path, r.content) for r in t.read(spark).collect()}
    assert got == {("r0", "p1", "A"), ("r1", "p1", "X")}
    # a retried rollback is a no-op, not another version
    assert t.rollback(good_v) == v
    assert t.history()[0]["operation"] == "rollback"
    # the corrected epoch 1 now re-applies instead of no-opping
    df1b = _rows_df(spark, [("r0", "p1", "c2", "py", "B")])
    t.commit_buckets(df1b, all_b(df1b), epoch_id=1)
    got = {(r.repo, r.path, r.content) for r in t.read(spark).collect()}
    assert got == {("r0", "p1", "B"), ("r1", "p1", "X")}


def test_rollback_refuses_unretained_target(spark, tmp_path):
    """Rollback can only reach snapshots inside the vacuum window —
    a reclaimed target fails loudly instead of publishing a manifest
    that references deleted files."""
    t = _mk(tmp_path)
    for e in range(3):
        df = _rows_df(spark, [("r0", "p1", f"c{e}", "py", f"V{e}")])
        t.commit_buckets(
            df, [r[0] for r in df.select(BUCKET_COL).distinct().collect()], epoch_id=e
        )
    t.vacuum(keep_versions=1)
    with pytest.raises(ValueError):
        t.rollback(1)


def test_vacuum_honors_restore_intent_marker(spark, tmp_path):
    """A live _restore-intent marker (an in-flight rollback) pins its
    target version's manifest AND data files against vacuum — old files
    that no mtime guard protects. A stale marker ages out."""
    import os
    import time

    t = _mk(tmp_path)
    paths = []
    for e in range(3):
        df = _rows_df(spark, [("r0", "p1", f"c{e}", "py", f"V{e}")])
        t.commit_buckets(
            df, [r[0] for r in df.select(BUCKET_COL).distinct().collect()], epoch_id=e
        )
        paths.append([x["path"] for x in t.manifest().files])
    time.sleep(0.05)
    # pin v1 the way an in-flight rollback(1) does, then vacuum hard
    marker = os.path.join(t._meta_dir, "_restore-intent.1.deadbeef")
    open(marker, "w").close()
    t.vacuum(keep_versions=1)
    # v1 (= the first commit, paths[0]) is pinned by the marker
    assert all(os.path.exists(os.path.join(t.root, p)) for p in paths[0])
    assert t.rollback(1) > 0  # the pinned rollback completes
    os.remove(marker)

    # stale marker (older than inflight_max_age_s) is swept + ignored
    marker2 = os.path.join(t._meta_dir, "_restore-intent.0.cafecafe")
    open(marker2, "w").close()
    os.utime(marker2, (time.time() - 999, time.time() - 999))
    t.vacuum(keep_versions=1, inflight_max_age_s=100)
    assert not os.path.exists(marker2)


def test_tags_pin_snapshots_and_survive_vacuum(spark, tmp_path):
    """Iceberg-tag analog: a tagged version is readable by name, rides
    forward through later commits, survives vacuum past keep_versions,
    and becomes reclaimable after untag."""
    import os

    t = _mk(tmp_path)
    states = []
    for e in range(3):
        df = _rows_df(spark, [("r0", "p1", f"c{e}", "py", f"V{e}")])
        t.commit_buckets(
            df, [r[0] for r in df.select(BUCKET_COL).distinct().collect()], epoch_id=e
        )
        states.append({(r.repo, r.path, r.content) for r in t.read(spark).collect()})
    t.tag("golden", 1)
    assert t.tags() == {"golden": 1}
    # the tag rides forward through a later commit
    df = _rows_df(spark, [("r0", "p1", "c9", "py", "V9")])
    t.commit_buckets(df, [r[0] for r in df.select(BUCKET_COL).distinct().collect()], epoch_id=9)
    assert t.tags() == {"golden": 1}
    assert {
        (r.repo, r.path, r.content) for r in t.read(spark, tag="golden").collect()
    } == states[0]

    # vacuum keeps the tagged version's manifest AND files past the window
    tagged_files = [e["path"] for e in t.manifest(1).files]
    t.vacuum(keep_versions=1)
    assert all(os.path.exists(os.path.join(t.root, p)) for p in tagged_files)
    assert {
        (r.repo, r.path, r.content) for r in t.read(spark, tag="golden").collect()
    } == states[0]

    # untag -> the next vacuum reclaims it; reads by the dead tag fail loudly
    t.untag("golden")
    t.vacuum(keep_versions=1)
    assert not all(os.path.exists(os.path.join(t.root, p)) for p in tagged_files)
    with pytest.raises(ValueError, match="unknown tag"):
        t.read(spark, tag="golden")
    # tagging an unretained version fails loudly too
    with pytest.raises(ValueError, match="not retained"):
        t.tag("back", 1)
    with pytest.raises(ValueError, match="not both"):
        t.read(spark, version=0, tag="x")


def test_rollback_reverts_when_racing_vacuum_won(spark, tmp_path, monkeypatch):
    """The unavoidable residue window: a vacuum that listed markers just
    before the intent appeared can reclaim the target's files between
    rollback's precheck and its publish. Rollback must detect it after
    the publish and REVERT (the pre-rollback files were retained by that
    same vacuum), leaving the table readable, then raise."""
    import os

    t = _mk(tmp_path)
    for e in range(3):
        df = _rows_df(spark, [("r0", "p1", f"c{e}", "py", f"V{e}")])
        t.commit_buckets(
            df, [r[0] for r in df.select(BUCKET_COL).distinct().collect()], epoch_id=e
        )
    v_target = 1
    tgt_files = [e["path"] for e in t.manifest(v_target).files]
    pre_content = {(r.repo, r.path, r.content) for r in t.read(spark).collect()}

    real_publish = LakeTable._publish

    def racing_publish(self, m, extra=None):
        # the racing vacuum lands exactly between precheck and publish
        for p in tgt_files:
            fp = os.path.join(self.root, p)
            if os.path.exists(fp):
                os.remove(fp)
        monkeypatch.setattr(LakeTable, "_publish", real_publish)
        return real_publish(self, m, extra)

    monkeypatch.setattr(LakeTable, "_publish", racing_publish)
    with pytest.raises(ValueError, match="raced a vacuum"):
        t.rollback(v_target)
    # reverted: latest content is the pre-rollback snapshot, still readable
    got = {(r.repo, r.path, r.content) for r in t.read(spark).collect()}
    assert got == pre_content
    assert t.manifest().operation == "rollback"  # the revert commit


def test_rollback_across_rebucket_restores_layout(spark, tmp_path):
    """Rollback across a layout evolution: the target's bucket count is
    restored with its files (the bucket function must match the data
    files it addresses, or point probes and merge pruning would hash to
    the wrong buckets), and a later epoch commits under the restored
    layout."""
    t = _mk(tmp_path)  # n_buckets from the fixture
    df0 = _rows_df(spark, [("r0", "p1", "c1", "py", "A"), ("r1", "p2", "c1", "py", "B")])
    t.commit_buckets(
        df0, [r[0] for r in df0.select(BUCKET_COL).distinct().collect()], epoch_id=0
    )
    v0 = t.latest_version()
    old_n = t.manifest().n_buckets

    t.rebucket(spark, old_n * 2)
    assert t.manifest().n_buckets == old_n * 2

    t.rollback(v0)
    m = t.manifest()
    assert m.n_buckets == old_n
    got = {(r.repo, r.path, r.content) for r in t.read(spark).collect()}
    assert got == {("r0", "p1", "A"), ("r1", "p2", "B")}
    # point probe under the restored layout hashes to the right bucket
    hit = t.lookup_keys(spark, [("r0", "p1")]).collect()
    assert [(r.repo, r.path, r.content) for r in hit] == [("r0", "p1", "A")]
    # and a fresh epoch commits under the restored bucket function
    df1 = _rows_df(spark, [("r0", "p1", "c2", "py", "A2")])
    t.commit_buckets(
        df1, [r[0] for r in df1.select(BUCKET_COL).distinct().collect()], epoch_id=1
    )
    got = {(r.repo, r.path, r.content) for r in t.read(spark).collect()}
    assert got == {("r0", "p1", "A2"), ("r1", "p2", "B")}
