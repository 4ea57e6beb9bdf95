"""CSV readers vs the reference's pandas loading semantics
(run_utils.py:60-92, robustspot_data_utils.py:6-64)."""
import numpy as np
import pandas as pd
import pytest

from riskloc_spark.sources import (
    read_rca_csv,
    read_rca_csv_derived,
    read_robustspot_csv,
)


@pytest.fixture()
def plain_csv(tmp_path):
    pdf = pd.DataFrame(
        {
            "a": ["a1", "a1", "a2"],
            "b": ["b1", "b2", "b1"],
            "real": [10.0, 0.0, 5.5],
            "predict": [9.0, 1.0, 5.0],
        }
    )
    p = tmp_path / "case.csv"
    pdf.to_csv(p, index=False)
    return str(p), pdf


def test_read_rca_csv(spark, plain_csv):
    path, pdf = plain_csv
    df, attrs = read_rca_csv(spark, path)
    assert attrs == ["a", "b"]
    got = df.toPandas().sort_values(["a", "b"]).reset_index(drop=True)
    want = pdf[["a", "b", "real", "predict"]].sort_values(["a", "b"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, want)


def test_read_rca_csv_derived(spark, tmp_path):
    attrs_df = pd.DataFrame({"a": ["a1", "a2", "a3"], "b": ["b1", "b1", "b2"]})
    a = attrs_df.assign(real=[9.0, 3.0, 0.0], predict=[10.0, 4.0, 1.0])
    b = attrs_df.assign(real=[10.0, 4.0, 0.0], predict=[10.0, 4.0, 2.0])
    pa, pb = tmp_path / "x.a.csv", tmp_path / "x.b.csv"
    a.to_csv(pa, index=False)
    b.to_csv(pb, index=False)

    df, attrs = read_rca_csv_derived(spark, str(pa), str(pb))
    assert attrs == ["a", "b"]
    got = df.toPandas().set_index("a").sort_index()
    # KPI = a/b, 0 where denominator is 0 (reference fillna(0))
    assert got.loc["a1", "real"] == pytest.approx(0.9)
    assert got.loc["a3", "real"] == 0.0  # 0/0 -> 0
    assert got.loc["a3", "predict"] == pytest.approx(0.5)
    assert set(got.columns) >= {"real_a", "real_b", "predict_a", "predict_b"}


def test_read_robustspot_csv(spark, tmp_path):
    ts = 1_700_000_000
    rows = []
    # 5 minutes of data for two leaves; value = successes, cnt = total
    for i in range(5):
        t = ts - i * 60
        rows.append((t, "cdn1", "hd", 90.0 + i, 100.0))
        rows.append((t, "cdn2", "sd", 50.0, 100.0))
    pdf = pd.DataFrame(rows, columns=["min", "cdn", "bitrate", "value", "cnt"])
    p = tmp_path / "rs.csv"
    pdf.to_csv(p, index=False)

    df, attrs = read_robustspot_csv(spark, str(p), timestamp=ts)
    assert attrs == ["bitrate", "cdn"]
    got = df.toPandas().set_index("cdn").sort_index()
    # failures at ts for cdn1: 100 - 90 = 10 -> rate 0.1
    assert got.loc["cdn1", "real"] == pytest.approx(0.1)
    # forecast: mean failures over the 4 history minutes: (9+8+7+6)=...
    hist_fail = np.mean([100 - (90.0 + i) for i in range(1, 5)])
    assert got.loc["cdn1", "predict_a"] == pytest.approx(hist_fail)
    assert got.loc["cdn1", "predict_b"] == pytest.approx(100.0)
    assert got.loc["cdn1", "predict"] == pytest.approx(hist_fail / 100.0)
    assert got.loc["cdn2", "real"] == pytest.approx(0.5)


def test_jsonl_roundtrip_tricky_content(spark, tmp_path):
    """JSONL sink/source must survive what corpus text actually
    contains: quotes, backslashes, newlines, tabs, unicode (composed
    and decomposed), nulls, and empty strings."""
    import pandas as pd

    from riskloc_spark.sources.readers import read_jsonl, write_jsonl

    rows = [
        (1, 'he said "hi" \\ and left', "en"),
        (2, "line one\nline two\ttabbed", "en"),
        (3, "café vs café 가 ☃", "unk"),
        (4, None, None),
        (5, "", "en"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    path = str(tmp_path / "docs_jsonl")
    write_jsonl(df.repartition(2), path)
    back = read_jsonl(
        spark, path, schema="doc_id long, text string, lang string"
    )
    got = {r["doc_id"]: (r["text"], r["lang"]) for r in back.collect()}
    want = {i: (t, l) for i, t, l in rows}
    assert got == want
    # compressed shards read back identically
    gz = str(tmp_path / "docs_gz")
    write_jsonl(df, gz, compression="gzip")
    got2 = {
        r["doc_id"]: (r["text"], r["lang"])
        for r in read_jsonl(
            spark, gz, schema="doc_id long, text string, lang string"
        ).collect()
    }
    assert got2 == want


# ---------------------------------------------------------------------------
# The header of a local CSV is read without a Spark job, and named as
# Spark's own header read names it
# ---------------------------------------------------------------------------

HEADERS = {
    "plain": "a,b,real,predict\nx,y,1,2\n",
    "utf8_bom": "\ufeffa,b,real,predict\nx,y,1,2\n",
    "quoted_commas": '"a,1",b,"c, d",predict\nx,y,1,2\n',
    "doubled_quotes": '"a""1",b,"",predict\nx,y,1,2\n',
    "backslash": 'a\\b,c\\,"d\\"e",real,predict\nx,y,z,w,1,2\n',
    "spaces": " a , b c,real,predict\nx,y,1,2\n",
    "crlf": "a,b,real,predict\r\nx,y,1,2\r\n",
    "duplicates": "a,a,real,predict\nx,y,1,2\n",
    "empty_name": "a,,real,predict\nx,y,1,2\n",
    "empty_file": "",
}


@pytest.mark.parametrize("name", sorted(HEADERS))
def test_csv_header_named_as_spark_names_it(spark, tmp_path, name):
    from riskloc_spark.sources.readers import _read_csv

    p = tmp_path / f"{name}.csv"
    p.write_bytes(HEADERS[name].encode("utf-8"))
    want = spark.read.option("header", True).csv(str(p))
    got = _read_csv(spark, str(p))
    assert got.columns == want.columns
    assert got.collect() == want.collect()


def test_read_rca_csv_starts_no_spark_job(spark, plain_csv):
    from conftest import group_jobs

    path, _ = plain_csv
    (df, attrs), jobs = group_jobs(spark, "read-plain", lambda: read_rca_csv(spark, path))
    assert (attrs, jobs) == (["a", "b"], 0)
