from __future__ import annotations

import pytest
from pyspark.sql import types as T

from etlbox_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="etlbox_spark_tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.driver.memory": "4g", "spark.sql.warehouse.dir": "/tmp/spark-wh"},
    )
    yield s


REPO_FILES_SCHEMA = T.StructType(
    [
        T.StructField("repo", T.StringType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("commit", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("content", T.StringType(), True),
    ]
)

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_seq", T.LongType(), False),
        T.StructField("op", T.StringType(), False),
        T.StructField("repo", T.StringType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("commit", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("content", T.StringType(), True),
    ]
)


def ev(seq, op, path, content=None, repo="r0"):
    """Tiny event constructor for the DbMergeTests-style fixtures:
    the reference's (1,'Test1') rows become (repo='r0', path='p{i}')."""
    commit = None if op == "delete" else f"c{seq:04d}"
    lang = None if op == "delete" else "py"
    return (seq, op, repo, path, commit, lang, content)


@pytest.fixture()
def events_df(spark):
    def make(rows):
        return spark.createDataFrame(rows, EVENTS_SCHEMA)

    return make


def assert_cold_manifest_matches(table):
    """The snapshot a commit primed into the manifest cache (what its
    writer sees) must equal what a cold reader rebuilds from the log."""
    from etlbox_spark.engine import lake

    hot = table.manifest()
    with lake._MANIFEST_CACHE_LOCK:
        lake._MANIFEST_CACHE.clear()
    assert lake.LakeTable.load(table.root).manifest().to_json() == hot.to_json()
