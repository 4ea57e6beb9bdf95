"""local_rows_df (data.py): the single-slice literal-frame builder the
query paths use instead of bare createDataFrame (which splits a Python
list into defaultParallelism pickled slices — one Python-worker round
trip per slice per action).  Pins the contract: identical rows and
schema to createDataFrame, exactly one partition, and a working
empty-rows path."""
from riskloc_spark.data import local_rows_df

SCHEMA = "cause string, support double"
ROWS = [("a&b", 0.25), ("c", 0.5), (None, 0.0)]


def test_local_rows_df_matches_create_dataframe(spark):
    got = local_rows_df(spark, ROWS, SCHEMA)
    ref = spark.createDataFrame(ROWS, SCHEMA)
    assert got.schema == ref.schema
    key = lambda t: (t[0] is None, t[0] or "", t[1])
    assert sorted(map(tuple, got.collect()), key=key) == sorted(
        map(tuple, ref.collect()), key=key
    )


def test_local_rows_df_is_single_slice(spark):
    assert local_rows_df(spark, ROWS, SCHEMA).rdd.getNumPartitions() == 1


def test_local_rows_df_empty(spark):
    out = local_rows_df(spark, [], SCHEMA)
    assert out.count() == 0
    assert out.schema == spark.createDataFrame([], SCHEMA).schema


def test_load_table_schema_cache_contract(spark):
    """load_table's schema cache (r16): the first call per (sf_dir,
    table) infers from the parquet footer, later calls hand the
    recorded StructType to the reader — metadata only.  Pins: identical
    schema and rows either way, a FRESH DataFrame per call (two calls
    self-join without ambiguous-reference errors), and the events ts
    fix still applies through the cached path."""
    import riskloc_spark.data as D

    sf = "/root/testdata/sf0.001"
    D._SCHEMA_CACHE.pop((sf, "nation"), None)
    first = D.load_table(spark, sf, "nation")      # inference path
    assert (sf, "nation") in D._SCHEMA_CACHE
    second = D.load_table(spark, sf, "nation")     # cached-schema path
    assert first.schema == second.schema
    assert sorted(map(tuple, first.collect())) == sorted(
        map(tuple, second.collect())
    )
    # distinct plan ids: a join of two load_table results must not trip
    # Spark's ambiguous-self-join analysis
    joined = first.join(
        second.withColumnRenamed("n_name", "n_name2"),
        first["n_nationkey"] == second["n_nationkey"],
    )
    assert joined.count() == first.count()
    # events: the ts dtype fix applies on the cached path too
    D._SCHEMA_CACHE.pop((sf, "events"), None)
    e1 = D.load_table(spark, sf, "events")
    e2 = D.load_table(spark, sf, "events")
    t1, t2 = dict(e1.dtypes)["ts"], dict(e2.dtypes)["ts"]
    assert t1 == t2 and t1.startswith("timestamp")


def test_load_table_schema_cache_sees_rewrite(spark, tmp_path):
    """A table rewritten in place with a different schema is re-inferred:
    a cache entry only holds while the path's file fingerprint (listing,
    mtime, size) is unchanged."""
    import pandas as pd

    from riskloc_spark.data import load_table

    sf = str(tmp_path)
    pd.DataFrame({"a": [1, 2]}).to_parquet(tmp_path / "t.parquet")
    assert load_table(spark, sf, "t").columns == ["a"]
    pd.DataFrame({"b": ["x"], "c": [0.5]}).to_parquet(tmp_path / "t.parquet")
    df = load_table(spark, sf, "t")
    assert df.columns == ["b", "c"]
    assert [tuple(r) for r in df.collect()] == [("x", 0.5)]
