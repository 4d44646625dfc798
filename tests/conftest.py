import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from linkgraph.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="linkgraph-tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture()
def uncoalesced(spark):
    """Keep every shuffle at its 4 partitions: coalesced into one, a small
    edge table is solved whole by the per-partition contraction and the
    star rounds never run."""
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    before = spark.conf.get(key)
    spark.conf.set(key, "false")
    yield
    spark.conf.set(key, before)


def edges_df(spark, triples):
    """[(src, dst, weight), ...] → edges DataFrame."""
    return spark.createDataFrame(
        [(int(s), int(d), float(w)) for s, d, w in triples], "src long, dst long, weight double"
    )


def nodes_df(spark, ids, seeds=None):
    seeds = seeds or {}
    return spark.createDataFrame(
        [(int(i), seeds.get(i)) for i in ids], "id long, seed long"
    )
