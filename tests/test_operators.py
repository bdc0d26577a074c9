"""Operator-surface tests (SURVEY.md §2.3-2.5) + plan-shape assertions
(§4: broadcast where expected, pushdown reaches the scan)."""

from __future__ import annotations

from pyspark.sql import functions as F

from etlbox_spark.operators import (
    aggregation,
    column_rename,
    conditional_split,
    cross_join,
    dedupe_lww,
    distinct,
    exact_dedup,
    lookup,
    merge_join_positional,
    multicast,
    row_duplication,
    row_multiplication,
    row_transformation,
    top_k_per_group,
)
from etlbox_spark.operators.aggregate import center_on_global_mean
from etlbox_spark.plans import has_broadcast_join, has_pushed_filters, scan_read_schema

SF = "/root/testdata/sf0.001"


def _t(spark, name):
    return spark.read.parquet(f"{SF}/{name}.parquet")


def test_row_transformation_and_duplication(spark):
    r = _t(spark, "region")
    out = row_transformation(r, {"upper_name": F.upper("r_name")})
    assert "upper_name" in out.columns
    dup = row_duplication(r, predicate=F.col("r_regionkey") < 2)
    assert dup.count() == r.count() + 2


def test_row_multiplication_and_rename(spark):
    p = _t(spark, "part").limit(10)
    out = row_multiplication(p, "w", F.split("p_type", " "))
    assert out.count() >= p.count()
    ren = column_rename(p, {"p_partkey": "id"}, drop_unmapped=True)
    assert ren.columns == ["id"]


def test_lookup_broadcasts(spark):
    c = _t(spark, "customer").withColumnRenamed("c_nationkey", "n_nationkey")
    n = _t(spark, "nation")
    out = lookup(c, n, ["n_nationkey"], {"n_name": "nation_name"})
    assert has_broadcast_join(out)
    row = out.where(F.col("nation_name").isNull()).count()
    assert row == 0  # every customer resolves


def test_lookup_dedupes_lookup_side(spark):
    n = _t(spark, "nation")
    dup_lookup = n.union(n)  # duplicate keys in the dim
    c = _t(spark, "customer").withColumnRenamed("c_nationkey", "n_nationkey")
    out = lookup(c, dup_lookup, ["n_nationkey"], ["n_name"])
    assert out.count() == c.count()  # no fan-out


def test_lookup_dup_key_deterministic_survivor(spark):
    """VERDICT r03 #1: duplicate match keys with DIFFERENT payloads must
    resolve to the same survivor on every run — never an arbitrary
    partition-order-dependent row."""
    dim = spark.createDataFrame(
        [(1, "zulu", 30), (1, "alpha", 10), (1, "mike", 20), (2, "only", 5)],
        "k int, name string, seq int",
    ).repartition(4)  # scatter dup keys across partitions on purpose
    facts = spark.createDataFrame([(1,), (2,), (1,)], "k int")
    # no order_col: lexicographically-smallest payload struct wins
    got = {
        (r.k, r.name)
        for r in lookup(facts, dim, ["k"], {"name": "name"}).collect()
    }
    assert got == {(1, "alpha"), (2, "only")}
    # order_col: lowest seq wins ("first match" analog), not min payload
    dim2 = spark.createDataFrame(
        [(1, "zulu", 1), (1, "alpha", 2)], "k int, name string, seq int"
    ).repartition(3)
    got2 = {
        (r.k, r.name)
        for r in lookup(facts, dim2, ["k"], {"name": "name"}, order_col="seq").collect()
    }
    assert got2 == {(1, "zulu"), (2, None)}
    # repeated runs agree (determinism smoke over shuffled input)
    for _ in range(3):
        again = {
            (r.k, r.name)
            for r in lookup(facts, dim.repartition(7), ["k"], {"name": "name"}).collect()
        }
        assert again == got


def test_lookup_map_typed_retrieve_named_in_error(spark):
    """VERDICT r04 nit: a map-typed retrieve column cannot feed the
    deterministic min-payload survivor (maps have no total order in
    Spark) — the engine must name the column up front instead of leaking
    Spark's opaque analyzer error."""
    import pytest

    dim = spark.createDataFrame(
        [(1, {"a": "b"})], "k int, props map<string,string>"
    )
    facts = spark.createDataFrame([(1,)], "k int")
    with pytest.raises(ValueError, match="props"):
        lookup(facts, dim, ["k"], {"props": "props"})
    # nested maps are caught too
    dim2 = spark.createDataFrame(
        [(1, ({"a": "b"},))],
        "k int, s struct<m: map<string,string>>",
    )
    with pytest.raises(ValueError, match="\\['s'\\]"):
        lookup(facts, dim2, ["k"], ["s"])
    # orderable columns of the same dim still work
    dim3 = spark.createDataFrame([(1, {"a": "b"}, "x")], "k int, m map<string,string>, name string")
    assert lookup(facts, dim3, ["k"], ["name"]).collect()[0]["name"] == "x"


def test_lookup_partial_cache_smj(spark):
    """partial-cache mode: same result as full-cache, but via a shuffled
    sort-merge join (no broadcast of the dim side)."""
    c = _t(spark, "customer").withColumnRenamed("c_nationkey", "n_nationkey")
    n = _t(spark, "nation")
    full = lookup(c, n, ["n_nationkey"], {"n_name": "nation_name"})
    part = lookup(c, n, ["n_nationkey"], {"n_name": "nation_name"}, cache_mode="partial")
    assert not has_broadcast_join(part)
    assert "SortMergeJoin" in part._jdf.queryExecution().executedPlan().toString()
    assert sorted(map(tuple, full.collect())) == sorted(map(tuple, part.collect()))


def test_merge_join_positional(spark):
    r = _t(spark, "region").select("r_regionkey", "r_name")
    n = _t(spark, "nation").select("n_nationkey", "n_name").where("n_nationkey < 5")
    out = merge_join_positional(r, n, ["r_regionkey"], ["n_nationkey"]).collect()
    assert len(out) == 5
    # the zip pairs the i-th smallest keys of each side
    pairs = {(row.r_regionkey, row.n_nationkey) for row in out}
    assert pairs == {(i, i) for i in range(5)}


def test_global_positions_dense_and_ordered(spark):
    """No single-partition window: positions must still be the dense
    1..n permutation matching the requested total order."""
    from etlbox_spark.operators.joins import global_positions

    df = spark.range(10_000).select((F.col("id") * 7919 % 337).alias("k"), "id")
    gp = global_positions(df, ["k", "id"], "pos")
    plan = gp._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan and "Window" not in plan
    rows = gp.orderBy("k", "id").collect()
    assert [r.pos for r in rows] == list(range(1, 10_001))


def test_cross_join_and_split(spark):
    r = _t(spark, "region")
    n = _t(spark, "nation")
    assert cross_join(n, r).count() == 125
    hit, miss = conditional_split(n, F.col("n_regionkey") == 0)
    assert hit.count() + miss.count() == 25


def test_multicast_branches(spark):
    c = _t(spark, "customer")
    b1, b2 = multicast(c, [lambda d: d.groupBy("c_mktsegment").count(), lambda d: d.limit(3)])
    assert b1.count() > 0 and b2.count() == 3
    c.unpersist()


def test_aggregation_and_center(spark):
    s = _t(spark, "supplier")
    agg = aggregation(s, ["s_nationkey"], {"n": ("count", "s_suppkey"), "bal": ("sum", "s_acctbal")})
    assert agg.count() == s.select("s_nationkey").distinct().count()
    ev = _t(spark, "events")
    centered = center_on_global_mean(ev, "value", "vc")
    m = centered.agg(F.abs(F.avg("vc")).alias("m")).collect()[0][0]
    assert m < 1e-6  # centered mean ≈ 0


def test_dedupe_and_topk(spark):
    ev = _t(spark, "events")
    d = dedupe_lww(ev, ["user_id", "event_type"], ["event_id"])
    assert d.count() == ev.select("user_id", "event_type").distinct().count()
    t = top_k_per_group(ev, ["user_id"], [F.col("value").desc(), F.col("event_id")], 2)
    assert t.groupBy("user_id").count().agg(F.max("count")).collect()[0][0] <= 2
    assert distinct(ev, ["event_type"]).count() == 5


def test_exact_dedup_groups_identical_content(spark):
    df = spark.createDataFrame(
        [(1, "Hello  world"), (2, "hello world"), (3, "unrelated")], "id long, txt string"
    )
    from etlbox_spark.operators.textdedup import normalize_text

    out = exact_dedup(df, "txt", "id", normalize=normalize_text(F.col("txt"))).collect()
    by_id = {r.id: r.dup_count for r in out}
    assert by_id == {1: 2, 3: 1}  # 1 and 2 collapse after normalization


def test_filter_pushdown_reaches_scan(spark):
    li = _t(spark, "lineitem").where(F.col("l_orderkey") == 5).select("l_orderkey", "l_quantity")
    assert has_pushed_filters(li)
    schemas = scan_read_schema(li)
    # column pruning: scan must read only the two needed columns
    assert schemas and all(len(s.split(",")) == 2 for s in schemas)


def test_as_of_join_whole_row_semantics(spark):
    """As-of join must attach the whole latest right ROW (a null payload
    value in v2 must not be backfilled from v1), honor <= at equal
    timestamps, and break same-ts ties by right_seq (highest wins)."""
    from etlbox_spark.operators.joins import as_of_join

    left = spark.createDataFrame(
        [("u1", 5, "e1"), ("u1", 10, "e2"), ("u1", 20, "e3"), ("u2", 7, "e4")],
        "k string, ts long, ev string",
    )
    right = spark.createDataFrame(
        [("u1", 10, 1, "a1", "b1"),      # v1 at ts=10 (equal-ts must match e2)
         ("u1", 10, 2, "a2", None),      # same ts, higher seq -> wins; b NULL
         ("u1", 15, 3, "a3", "b3")],
        "k string, rts long, seq long, a string, b string",
    )
    out = {r.ev: (r.a, r.b) for r in as_of_join(
        left, right, on=["k"], left_ts="ts", right_ts="rts", right_seq="seq"
    ).collect()}
    assert out["e1"] == (None, None)       # nothing at or before ts=5
    assert out["e2"] == ("a2", None)       # equal ts matches; seq=2 beats seq=1; b stays NULL
    assert out["e3"] == ("a3", "b3")
    assert out["e4"] == (None, None)       # other key unaffected


def test_row_duplication_zero_copies_drops(spark):
    # sequence(1, 0) counts DOWN ([1, 0]) -- copies=0 used to silently
    # DOUBLE matching rows instead of dropping them
    df = spark.range(4).toDF("n")
    dropped = row_duplication(df, predicate=F.col("n") < 2, copies=0)
    assert sorted(r["n"] for r in dropped.collect()) == [2, 3]
    tripled = row_duplication(df, predicate=F.col("n") == 0, copies=3)
    assert sorted(r["n"] for r in tripled.collect()) == [0, 0, 0, 1, 2, 3]
    # a user column named __dup survives
    df2 = spark.range(2).toDF("__dup")
    assert row_duplication(df2, copies=2).count() == 4


def test_salted_key_salts_null_keys(spark):
    from etlbox_spark.functions.hashing import salted_key

    df = spark.createDataFrame(
        [(None, i) for i in range(40)] + [("hot", 1)], "k string, seq long"
    )
    out = df.select(salted_key("k", 8, "seq").alias("sk"))
    null_keys = {r["sk"] for r in out.collect() if "#" not in r["sk"]}
    # concat was null-propagating: every NULL key mapped to NULL (one
    # reducer); concat_ws spreads them over the salt space
    assert len(null_keys) > 1
    assert all(sk is not None for (sk,) in out.collect())


def test_aggregation_rejects_nondeterministic_first(spark):
    import pytest as _pytest

    from etlbox_spark.operators.aggregate import aggregation

    df = spark.createDataFrame([("a", 1)], "k string, v int")
    with _pytest.raises(KeyError):
        aggregation(df, ["k"], {"x": ("first", "v")})


def test_center_on_global_mean_survives_user_mean_col(spark):
    from etlbox_spark.operators.aggregate import center_on_global_mean

    df = spark.createDataFrame([(1.0, "keep"), (3.0, "keep")], "v double, __mean string")
    out = center_on_global_mean(df, "v", "c")
    rows = sorted((r["v"], r["c"], r["__mean"]) for r in out.collect())
    assert rows == [(1.0, -1.0, "keep"), (3.0, 1.0, "keep")]


def test_session_shuffle_defaults_from_master_not_env(monkeypatch):
    from etlbox_spark.session import _default_shuffle_partitions

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "32")  # must NOT leak into an explicit master
    assert _default_shuffle_partitions("local[4]") == 4
    assert _default_shuffle_partitions("local[0]") == 1  # never an invalid 0
    assert _default_shuffle_partitions("local[*]") >= 1
    assert _default_shuffle_partitions("spark://host:7077") >= 1


def test_dedupe_lww_tie_is_deterministic(spark):
    from etlbox_spark.operators.dedupe import dedupe_lww

    # identical (key, order) with different payloads, scattered over
    # partitions two different ways -- bare max_by would pick a
    # partition-order-dependent survivor
    rows = [("k", 5, f"payload_{i}") for i in range(64)]
    a = dedupe_lww(
        spark.createDataFrame(rows, "k string, seq long, v string").repartition(8),
        ["k"], ["seq"],
    ).collect()
    b = dedupe_lww(
        spark.createDataFrame(list(reversed(rows)), "k string, seq long, v string").repartition(3),
        ["k"], ["seq"],
    ).collect()
    assert len(a) == len(b) == 1
    assert a[0]["v"] == b[0]["v"]


def test_dedupe_lww_payload_with_nested_map(spark):
    from etlbox_spark.operators.dedupe import dedupe_lww, top_k_per_group_segmented

    # xxhash64 rejects a map at any depth: a struct or array holding one
    # must stay out of the tie-break hash, or the plan fails at analysis
    rows = [("k", 5, f"payload_{i}", ({"a": i},), [{"b": i}]) for i in range(16)]
    sch = "k string, seq long, v string, s struct<m: map<string,int>>, a array<map<string,int>>"
    a = dedupe_lww(spark.createDataFrame(rows, sch).repartition(4), ["k"], ["seq"]).collect()
    b = dedupe_lww(
        spark.createDataFrame(list(reversed(rows)), sch).repartition(3), ["k"], ["seq"]
    ).collect()
    assert len(a) == len(b) == 1
    assert a[0]["v"] == b[0]["v"]
    assert a[0]["s"]["m"] == {"a": int(a[0]["v"].split("_")[1])}
    # the segmented top-k's default segment hash follows the same rule
    top = top_k_per_group_segmented(
        spark.createDataFrame(rows, sch), ["k"], [F.col("v").desc()], 2, segments=4
    ).collect()
    assert sorted(r["v"] for r in top) == ["payload_8", "payload_9"]


def test_engine_dedupe_lww_tie_is_deterministic(spark):
    from etlbox_spark.engine.merge import dedupe_lww as engine_lww
    from etlbox_spark.engine.spec import MergeSpec

    rows = [(7, "insert", "r", f"p{i}", "c", "py", f"content_{i}") for i in range(40)]
    sch = "event_seq long, op string, repo string, path string, commit string, lang string, content string"
    spec = MergeSpec()
    dup = [(7, "insert", "r", "p", "c", "py", f"content_{i}") for i in range(40)]
    a = engine_lww(spark.createDataFrame(dup, sch).repartition(8), spec).collect()
    b = engine_lww(spark.createDataFrame(list(reversed(dup)), sch).repartition(5), spec).collect()
    assert len(a) == len(b) == 1
    assert a[0]["content"] == b[0]["content"]


def test_join_guards_fail_fast(spark):
    import pytest as _pytest

    from etlbox_spark.operators.joins import (
        as_of_join,
        global_positions,
        merge_join_positional,
        range_join_points,
    )

    l = spark.createDataFrame([(1, "x")], "ts long, name string")
    r = spark.createDataFrame([(1, "y")], "pos long, name string")
    with _pytest.raises(ValueError, match="both sides"):
        merge_join_positional(l, r, ["ts"], ["pos"])
    with _pytest.raises(ValueError, match="reserved"):
        global_positions(spark.createDataFrame([(1, 2)], "ts long, __rn long"), ["ts"])
    with _pytest.raises(ValueError, match="segment_width"):
        as_of_join(l, spark.createDataFrame([(1, 9)], "ts long, v long"),
                   on=[], left_ts="ts", right_ts="ts", segment_width=0)
    with _pytest.raises(ValueError, match="reserved"):
        range_join_points(
            spark.createDataFrame([(1, 5)], "p long, __b long"),
            spark.createDataFrame([(0, 9)], "s long, e long"),
            "p", "s", "e", bucket_width=10,
        )


def test_top_k_rank_col_collision_raises(spark):
    import pytest as _pytest

    from etlbox_spark.operators.dedupe import top_k_per_group, top_k_per_group_segmented

    df = spark.createDataFrame([("g", 1, 9)], "g string, v long, rk long")
    with _pytest.raises(ValueError, match="rk"):
        top_k_per_group(df, ["g"], [F.col("v")], 1)
    with _pytest.raises(ValueError, match="rk"):
        top_k_per_group_segmented(df, ["g"], [F.col("v")], 1)


def test_lookup_map_typed_order_col_named(spark):
    import pytest as _pytest

    from etlbox_spark.operators.joins import lookup

    facts = spark.createDataFrame([(1,)], "k int")
    dim = spark.createDataFrame([(1, "v", {"a": 1})], "k int, v string, m map<string,int>")
    with _pytest.raises(ValueError, match="'m'"):
        lookup(facts, dim, ["k"], ["v"], order_col="m")
