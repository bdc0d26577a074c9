"""M0 lake-table layer tests: atomic commits, idempotency, crash safety,
bucket pruning, schema evolution read alignment (SURVEY.md §7 M0)."""

from __future__ import annotations

import os

import pytest
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
