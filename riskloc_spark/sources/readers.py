"""RCA case readers.

Parity: reference utils/run_utils.py:60-92 (plain + derived a/b pairs)
and utils/robustspot_data_utils.py:6-64 (RobustSpot minute-grain format).

Spark-first notes:
* CSVs are read with an all-string schema, then measures are cast
  explicitly — never ``inferSchema`` (a full extra pass at scale). For a
  local uncompressed file the header line is read here and named as
  Spark would name it (``_c<i>`` for an empty name, ``<name><i>`` for a
  duplicate), so building the frame starts no Spark job; any other path
  lets Spark read the header, one job per ``csv()`` call.
* The derived a/b merge is a join on the attribute columns; at scale both
  sides hash-partition on the same key so it is a single co-located
  shuffle each.
* The RobustSpot forecast (mean of the trailing ``predict_periods``
  minutes per leaf) is a groupBy + join — the reference iterates rows on
  the driver (robustspot_data_utils.py:34-40); here it is one aggregation
  regardless of leaf count.
"""
from __future__ import annotations

import csv
import os
from collections import Counter

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

MEASURES = ("real", "predict")
_COMPRESSED = (".gz", ".bz2", ".deflate", ".lz4", ".snappy", ".zst", ".xz", ".br")


def _local_header(spark: SparkSession, path: str) -> list[str] | None:
    """The column names Spark's header read gives a local uncompressed
    file, or None for any other path or a header with a doubled quote
    or a backslash: the first non-blank line, parsed with Spark's
    default quote character (a UTF-8 BOM dropped), an empty name as
    ``_c<i>``, a name repeated (case-folded unless
    spark.sql.caseSensitive) as ``<name><i>``."""
    # a glob or a compressed file is Spark's to expand or decode
    if (any(ch in path for ch in "*?[{") or path.lower().endswith(_COMPRESSED)
            or not os.path.isfile(path)):
        return None
    with open(path, encoding="utf-8-sig", newline="") as fh:
        line = next((ln for ln in fh if ln.strip()), "")
    # Spark's parser keeps a doubled quote's quotes in the name, and a
    # backslash outside quotes as a literal character; csv does neither
    if '""' in line or "\\" in line:
        return None
    row = next(csv.reader([line], doublequote=False), [])
    fold = (lambda n: n) if spark.conf.get("spark.sql.caseSensitive") == "true" else str.lower
    seen = Counter(fold(n) for n in row if n)
    return [n if n and seen[fold(n)] == 1 else f"{n}{i}" if n else f"_c{i}"
            for i, n in enumerate(row)]


def _read_csv(spark: SparkSession, path: str) -> DataFrame:
    """A headed CSV as an all-string frame; a local file's header is read
    here (_local_header) instead of by a Spark job."""
    reader = spark.read.option("header", True)
    names = _local_header(spark, path)
    if names is not None:
        reader = reader.schema(StructType([StructField(n, StringType()) for n in names]))
    return reader.csv(path)


def _attributes(df: DataFrame, drop: tuple[str, ...]) -> list[str]:
    return sorted(c for c in df.columns if c not in drop)


def read_rca_csv(spark: SparkSession, path: str) -> tuple[DataFrame, list[str]]:
    """Plain format: attribute columns + real + predict
    (ref run_utils.py:88-90). Returns (frame, attributes)."""
    df = _read_csv(spark, path)
    attrs = _attributes(df, MEASURES)
    df = df.select(
        *attrs,
        F.col("real").cast("double").alias("real"),
        F.col("predict").cast("double").alias("predict"),
    )
    return df, attrs


def read_rca_csv_derived(
    spark: SparkSession, path_a: str, path_b: str
) -> tuple[DataFrame, list[str]]:
    """Derived format: '<file>.a.csv' + '<file>.b.csv' joined on the
    attributes; KPI = a/b with NaN->0 (ref run_utils.py:75-86)."""
    df_a = _read_csv(spark, path_a)
    attrs = _attributes(df_a, MEASURES)
    df_a = df_a.select(
        *attrs,
        F.col("real").cast("double").alias("real_a"),
        F.col("predict").cast("double").alias("predict_a"),
    )
    df_b = _read_csv(spark, path_b).select(
        *attrs,
        F.col("real").cast("double").alias("real_b"),
        F.col("predict").cast("double").alias("predict_b"),
    )
    df = df_a.join(df_b, on=attrs, how="inner")
    ratio = lambda a, b: F.when(  # noqa: E731
        F.col(b) != 0, F.col(a) / F.col(b)
    ).otherwise(F.lit(0.0))
    df = df.withColumn("real", ratio("real_a", "real_b")).withColumn(
        "predict", ratio("predict_a", "predict_b")
    )
    return df, attrs


def read_robustspot_csv(
    spark: SparkSession,
    path: str,
    timestamp: int,
    predict_periods: int = 4,
) -> tuple[DataFrame, list[str]]:
    """RobustSpot minute-grain format: columns
    ``min,<attrs...>,value,cnt`` (ref robustspot_data_utils.py:6-64).

    value is flipped to failures (cnt - value); the forecast for the
    anomalous ``timestamp`` is the per-leaf mean of the trailing
    ``predict_periods`` minutes. Output matches the derived format:
    attrs + real/predict (failure rate) + real_a/real_b/predict_a/
    predict_b."""
    raw = _read_csv(spark, path)
    attrs = _attributes(raw, ("min", "value", "cnt"))
    base = raw.select(
        *attrs,
        F.col("min").cast("long").alias("min"),
        (F.col("cnt").cast("double") - F.col("value").cast("double")).alias("value"),
        F.col("cnt").cast("double").alias("cnt"),
    ).withColumn(
        "k_real",
        F.when(F.col("cnt") != 0, F.col("value") / F.col("cnt")).otherwise(F.lit(0.0)),
    )

    history_times = [timestamp - i * 60 for i in range(1, predict_periods + 1)]
    hist = (
        base.filter(F.col("min").isin(history_times))
        .groupBy(*attrs)
        .agg(
            F.avg("value").alias("predict_a"),
            F.avg("cnt").alias("predict_b"),
            F.avg("k_real").alias("predict"),
        )
    )
    cur = base.filter(F.col("min") == timestamp).select(
        *attrs,
        F.col("value").alias("real_a"),
        F.col("cnt").alias("real_b"),
        F.col("k_real").alias("real"),
    )
    df = cur.join(hist, on=attrs, how="left").na.fill(
        {"predict_a": 0.0, "predict_b": 0.0, "predict": 0.0}
    )
    return df.select(
        *attrs, "real", "predict", "real_a", "predict_a", "real_b", "predict_b"
    ), attrs


def read_jsonl(
    spark: SparkSession, path: str, schema=None
) -> DataFrame:
    """Read newline-delimited JSON (the interchange format of LLM
    training pipelines). ``schema`` (DDL string or StructType) should
    be supplied in production: without it Spark runs a full inference
    pass over the data before the real scan — fine for exploration,
    a wasted corpus read at 100 TB."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def write_jsonl(
    df: DataFrame, path: str, compression: str | None = None, mode: str = "overwrite"
) -> None:
    """Write newline-delimited JSON shards (one file per partition —
    repartition first to control shard count/size). ``compression``:
    e.g. 'gzip' / 'zstd' for shipping; None for local interchange.
    JSON is a lossy container for some Spark types (timestamps
    stringify, binary base64s) — this sink is for TEXT corpus frames;
    columnar data stays in parquet."""
    w = df.write.mode(mode)
    if compression:
        w = w.option("compression", compression)
    w.json(path)
