import pytest

from riskloc_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("riskloc-spark-tests", master="local[4]", shuffle_partitions=4)
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"


def union_find_groups(ids, pair_list):
    """Driver-side min-label connected-components oracle shared by the
    dedup and property tests (path-halving union-find)."""
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pair_list:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: min(j for j in ids if find(j) == find(i)) for i in ids}


def group_jobs(spark, group, fn):
    """``fn()`` and the number of Spark jobs it started, counted in a
    job group of its own."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup("", "")
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))
