"""Structured Streaming surface: continuous deviation scoring and
micro-batch RCA triggering.

The reference is batch-only (one CSV per anomalous timestamp); this is
the streaming generalization: the same leaf aggregation the batch RCA
frame uses, expressed as a watermarked windowed aggregation, plus a
``foreachBatch`` hook that runs any batch RCA operator on each
micro-batch's completed windows.

Scale notes: the watermark bounds window state; the baseline join is a
broadcast (dims: event_type — tiny); all scoring is the same column
algebra as the batch path (riskloc_spark.functions.scores), so plans
stay JVM-side.
"""
from __future__ import annotations

from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from riskloc_spark.functions import scores

# Static events schema (TESTDATA.md layout): the fallback when the
# stream directory is empty at start — a standard structured-streaming
# startup state where the batch probe below cannot infer a schema.
EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def events_stream(
    spark: SparkSession,
    path: str,
    options: dict | None = None,
    schema: T.StructType | None = None,
) -> DataFrame:
    """File-source stream over the events table layout (TESTDATA.md).

    The events parquet has been written both as TIMESTAMP(MICROS) (reads
    as a Spark timestamp directly), TIMESTAMP_NTZ, and TIMESTAMP(NANOS)
    (no Spark type — read as long via nanosAsLong and downcast). Mirror
    riskloc_spark.data.load_table: infer the physical schema from a
    batch read of the same path and only downcast when ts is bigint.
    When the directory holds no files yet (normal stream startup) the
    probe cannot infer — fall back to ``schema`` or EVENT_SCHEMA.
    The file-stream source requires a *directory*; a direct file path is
    translated to parent-dir + pathGlobFilter."""
    import os

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    from pyspark.errors import AnalysisException

    try:
        probed = spark.read.parquet(path).schema
    except AnalysisException as e:
        # Only the empty-directory case may fall back (no files yet is
        # normal stream startup). A nonexistent / mistyped path also
        # raises AnalysisException (PATH_NOT_FOUND) — that, and every
        # other read error (permissions, corrupt footers), fails fast.
        # NOTE: the fallback assumes MICROS/NTZ files will arrive — a
        # TIMESTAMP(NANOS) file landing later reads as INT64 and will
        # mismatch this schema; for a NANOS-producing source pass the
        # bigint schema explicitly.
        # getCondition is the PySpark 4 name; getErrorClass is its
        # deprecated alias (removed eventually — keying only on the old
        # name would turn every normal no-files-yet startup into a hard
        # failure once it goes away).
        err_class = (
            getattr(e, "getCondition", lambda: None)()
            or getattr(e, "getErrorClass", lambda: None)()
            or ""
        )
        if "UNABLE_TO_INFER_SCHEMA" not in err_class:
            raise
        probed = schema if schema is not None else EVENT_SCHEMA
    reader = spark.readStream.schema(probed)
    for k, v in (options or {}).items():  # e.g. maxFilesPerTrigger
        reader = reader.option(k, v)
    if os.path.isfile(path):
        reader = reader.option("pathGlobFilter", os.path.basename(path))
        path = os.path.dirname(path)
    raw = reader.parquet(path)
    dt = dict(raw.dtypes)["ts"]
    if dt == "bigint":
        raw = raw.withColumn(
            "ts", F.timestamp_micros((F.col("ts") / 1000).cast("long"))
        )
    elif dt == "timestamp_ntz":
        # Watermarks require TIMESTAMP (with tz). Treat the ntz
        # wall-clock as UTC via interval arithmetic from the ntz epoch:
        # micros-exact and independent of spark.sql.session.timeZone
        # (a plain cast would shift hourly window alignment under an
        # offset session tz, and pinning the session tz here was a
        # hidden global side effect on unrelated queries).
        epoch_us = (
            F.col("ts") - F.expr("TIMESTAMP_NTZ '1970-01-01 00:00:00'")
        ).cast("decimal(28,6)") * F.lit(1_000_000)
        raw = raw.withColumn("ts", F.timestamp_micros(epoch_us.cast("long")))
    return raw


def windowed_kpi_stream(
    events: DataFrame,
    baseline: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Per (window, event_type) KPI vs a broadcast baseline rate.

    real = sum(value); predict = n_events * baseline mean value (the same
    rate-forecast shape as the batch RCA frame); deviation is the batch
    formula. Late events beyond the watermark are dropped — state is
    bounded by (#windows in watermark horizon) x |event_type|.
    """
    agg = (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "event_type")
        .agg(
            F.sum("value").alias("real"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    joined = agg.join(F.broadcast(baseline), on="event_type", how="left")
    predict = F.col("n_events") * F.coalesce(F.col("mean_value"), F.lit(0.0))
    return (
        joined.withColumn("predict", predict)
        .withColumn(
            "deviation", scores.deviation(scores.SPARK_OPS, F.col("real"), predict)
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type",
            "n_events",
            "real",
            "predict",
            "deviation",
        )
    )


def rca_foreach_batch(
    rca_fn: Callable[[DataFrame], Any],
    sink: list,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch adapter: run a batch RCA operator on each micro-batch
    and append (batch_id, result) to ``sink``.

    The micro-batch frame is a normal batch DataFrame, so every operator
    in riskloc_spark.operators works unchanged — this is the
    batch/streaming unification point.
    """

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        sink.append((batch_id, rca_fn(batch_df)))

    return handle


def ewma_anomaly_stream(
    events: DataFrame,
    alpha: float = 0.3,
    threshold: float = 0.5,
) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per
    event_type, hourly windowing AND an EWMA forecast carried across
    micro-batches, both inside the state function (Spark does not allow
    stateful ops after a streaming aggregation, so the windowing cannot
    be a groupBy upstream). A window is emitted when the first row of a
    LATER window arrives — emit-on-close semantics — with its deviation
    from the forecast and an anomaly flag.

    State per key is four scalars (ewma, n, open window start, open
    window sum) — bounded regardless of stream length. This is the
    template for reference-style RCA measures ("predict" from history)
    computed *online* instead of from a separate forecast file.
    """
    import pandas as pd

    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = T.StructType(
        [
            T.StructField("event_type", T.StringType()),
            T.StructField("window_start", T.TimestampType()),
            T.StructField("real", T.DoubleType()),
            T.StructField("predict", T.DoubleType()),
            T.StructField("deviation", T.DoubleType()),
            T.StructField("is_anomaly", T.BooleanType()),
        ]
    )
    # open-window start as epoch micros (-1 = none): keeps state flat
    state_schema = T.StructType(
        [
            T.StructField("ewma", T.DoubleType()),
            T.StructField("n", T.LongType()),
            T.StructField("open_us", T.LongType()),
            T.StructField("open_sum", T.DoubleType()),
        ]
    )

    def update(key, pdfs, state):
        (event_type,) = key
        ewma, n, open_us, open_sum = (
            state.get if state.exists else (0.0, 0, -1, 0.0)
        )
        rows = []

        def close_window(ws_us: int, real: float):
            nonlocal ewma, n
            predict = ewma if n > 0 else real
            denom = predict + real
            deviation = 0.0 if denom == 0 else 2.0 * (predict - real) / denom
            rows.append(
                (
                    event_type,
                    pd.Timestamp(ws_us, unit="us"),
                    real,
                    predict,
                    deviation,
                    bool(abs(deviation) > threshold),
                )
            )
            ewma = real if n == 0 else alpha * real + (1 - alpha) * ewma
            n += 1

        batch = pd.concat(list(pdfs))
        if len(batch):
            ws = batch["ts"].dt.floor("h")
            agg = batch.groupby(ws)["value"].sum().sort_index()
            for w, val in agg.items():
                w_us = int(w.value // 1_000)
                if open_us == -1:
                    open_us, open_sum = w_us, float(val)
                elif w_us == open_us:
                    open_sum += float(val)
                else:
                    close_window(open_us, open_sum)
                    open_us, open_sum = w_us, float(val)
        state.update((ewma, n, open_us, open_sum))
        yield pd.DataFrame(
            rows,
            columns=[
                "event_type", "window_start", "real", "predict",
                "deviation", "is_anomaly",
            ],
        )

    return (
        events.select("event_type", "ts", "value")
        .groupBy("event_type")
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def dedup_events_stream(
    events: DataFrame,
    key_cols: list[str] | None = None,
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming exact deduplication with WATERMARK-BOUNDED state — the
    shape a continuous ingestion pipeline needs (the batch dedup
    operators assume a closed corpus; a stream must forget).

    ``dropDuplicatesWithinWatermark`` keeps the first arrival of each
    key and drops any duplicate arriving within the watermark horizon
    of it; keys older than the event-time watermark are evicted from
    state, so memory is bounded by (keys per horizon), not by stream
    lifetime. The trade is explicit and documented: a duplicate
    arriving AFTER its original has aged past the watermark is emitted
    again — exact-once dedup over unbounded time is impossible with
    bounded state, and the horizon is the knob.

    ``key_cols`` defaults to the event identity (event_id). The
    watermark column must be the event-time ``ts``."""
    keys = key_cols or ["event_id"]
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        keys
    )


def near_dup_events_stream(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ts_col: str = "ts",
    num_hashes: int = 32,
    bands: int = 8,
    jaccard_threshold: float = 0.6,
    watermark: str = "2 hours",
    state_ttl_ms: int = 2 * 3600 * 1000,
    hash_fn=None,
) -> DataFrame:
    """Streaming NEAR-duplicate detection with watermark-bounded state —
    the near-dup sibling of ``dedup_events_stream`` (which is exact-key
    only; a content-farm stream needs small-edit suppression too).

    Shape: each document's MinHash signature is a pure projection
    (``minhash_signature_col`` — no aggregation, so it can precede a
    stateful op), exploded to its LSH band buckets; a per-(band,
    bucket) ``applyInPandasWithState`` keeps ONE representative per
    bucket (the earliest (ts, id) seen) plus its signature, and flags
    every later arrival whose signature agreement clears
    ``jaccard_threshold``. Event-time timeouts evict buckets
    ``state_ttl_ms`` past their last arrival, so state is bounded by
    (active buckets per horizon), not stream lifetime.

    Output (append): one row per (document x band) —
    (doc_id, ts, band, is_dup). A document is a near-duplicate if ANY
    band flags it; reduce with ``near_dup_verdicts`` (windowed OR) or
    a batch groupBy over a bounded sink.

    Documented bounded-state trades (the streaming analogues of the
    batch pipeline's probabilistic recall): (1) only the bucket
    REPRESENTATIVE is kept — two near-dups that both arrive after an
    unrelated doc claimed their bucket are not paired through that
    band (the other bands usually catch them); (2) a near-dup of a
    representative evicted past the horizon is re-admitted, exactly
    like the exact-dedup horizon trade; (3) within one micro-batch,
    rows are ordered by (ts, id) before the representative is chosen,
    so results are deterministic per batch composition."""
    import pandas as pd

    from pyspark.sql.streaming.state import GroupStateTimeout

    from riskloc_spark.operators.dedup import (
        minhash_signature_col,
        shingle_tokens,
        xxhash64_fn,
    )

    hash_fn = hash_fn or xxhash64_fn
    rows_per_band = num_hashes // bands
    # token array staged as a named column so the minhash fold consumes
    # an attribute — inline, the normalize/split re-evaluates per
    # shingle (dedup.shingle_tokens docstring)
    sig = minhash_signature_col(
        num_hashes=num_hashes, hash_fn=hash_fn, tokens=F.col("__T")
    )
    # fan out before the signature projection: a single-file micro-batch
    # arrives as ONE partition and the minhash fold is the CPU cost of
    # this operator — the round-robin exchange of raw docs is cheap next
    # to serializing the hashing (the streaming analogue of the batch
    # spread_small_scan)
    par = docs.sparkSession.sparkContext.defaultParallelism
    banded = (
        docs.repartition(par)
        .withWatermark(ts_col, watermark)
        .select(
            F.col(id_col), F.col(ts_col),
            shingle_tokens(F.col(text_col)).alias("__T"),
        )
        .select(
            F.col(id_col), F.col(ts_col), sig.alias("__sig")
        )
        .select(
            id_col,
            ts_col,
            "__sig",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("band"),
                            # same bucket mechanism as the batch
                            # pipeline (minhash_lsh_dedup): hash of the
                            # comma-joined band rows — so the portable
                            # md5 hash_fn makes the whole stream
                            # SQL-replayable
                            hash_fn(
                                F.concat_ws(
                                    ",",
                                    *[
                                        F.col("__sig")[
                                            b * rows_per_band + r
                                        ].cast("string")
                                        for r in range(rows_per_band)
                                    ],
                                )
                            ).alias("bucket"),
                        )
                        for b in range(bands)
                    ]
                )
            ).alias("bb"),
        )
        .select(
            id_col,
            ts_col,
            F.col("bb.band").alias("band"),
            F.col("bb.bucket").alias("bucket"),
            # plain name: itertuples renames _-prefixed columns
            F.concat_ws(",", F.col("__sig").cast("array<string>")).alias(
                "sigs"
            ),
        )
    )

    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("band", T.IntegerType()),
            T.StructField("is_dup", T.BooleanType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("rep_ts_us", T.LongType()),
            T.StructField("rep_doc", T.LongType()),
            T.StructField("rep_sig", T.StringType()),
        ]
    )

    empty = pd.DataFrame([], columns=["doc_id", "ts", "band", "is_dup"])

    def update(key, pdfs, state):
        # most buckets hold one or two rows: plain-list row handling
        # (no pd.concat / sort_values per group) — the per-group Python
        # cost is what bounds this operator's throughput (group-count-
        # bound, like any fine-keyed stateful op)
        band = int(key[0])
        if state.hasTimedOut:
            state.remove()
            yield empty
            return
        recs = []
        for pdf in pdfs:
            if len(pdf):
                ids = pdf["doc_id"].tolist()
                tss = pdf["ts"].tolist()
                sgs = pdf["sigs"].tolist()
                recs.extend(zip(tss, ids, sgs))
        rows = []
        if recs:
            recs.sort(key=lambda r: (r[0], r[1]))
            if state.exists:
                rep_ts_us, rep_doc, rep_sig = state.get
                rep = rep_sig.split(",")
            else:
                rep_ts_us = rep_doc = None
                rep = None
            max_ts_us = 0
            for ts, doc_id, sigstr in recs:
                ts_us = int(pd.Timestamp(ts).value // 1_000)
                if ts_us > max_ts_us:
                    max_ts_us = ts_us
                if rep is None:
                    # string-level signature compare: the joined sig
                    # string splits once, no int parsing needed
                    rep = sigstr.split(",")
                    rep_ts_us, rep_doc = ts_us, int(doc_id)
                    rows.append((int(doc_id), ts, band, False))
                    continue
                cur = sigstr.split(",")
                agree = sum(a == b for a, b in zip(cur, rep)) / len(rep)
                rows.append(
                    (int(doc_id), ts, band,
                     bool(agree >= jaccard_threshold)),
                )
            state.update((rep_ts_us, rep_doc, ",".join(rep)))
            state.setTimeoutTimestamp(max_ts_us // 1_000 + state_ttl_ms)
        yield pd.DataFrame(
            rows, columns=["doc_id", "ts", "band", "is_dup"]
        )

    return banded.groupBy("band", "bucket").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def near_dup_verdicts(flags: DataFrame) -> DataFrame:
    """Per-document OR-reduction of the band-level near-dup flags — a
    plain groupBy for batch frames (e.g. the collected availableNow
    output of ``near_dup_events_stream``). On a live stream, run this
    as a windowed aggregation over the flag stream or inside a
    foreachBatch sink."""
    return flags.groupBy("doc_id").agg(
        F.max("is_dup").alias("is_near_dup")
    )


def ingest_dedup_stream(
    docs: DataFrame,
    index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.6,
    ts_col: str | None = None,
    watermark: str = "2 hours",
    hash_fn=None,
) -> DataFrame:
    """Streaming ingestion dedup: a STREAM-STATIC join of incoming
    documents against a persisted base-corpus near-dup index
    (operators/dedup.build_near_dup_index) — the continuous form of
    ``incremental_near_dup``, and the streaming pattern the suite
    lacked: the static side is planned once per micro-batch (bucketed
    index layouts keep it exchange-free), the stream side is a pure
    projection (``minhash_signature_col`` -> band buckets), and the
    join itself is STATELESS — no watermark, no state store, exactly
    the Spark-native shape for "dedupe the firehose against the
    archive".

    Output (append): one row per (incoming doc x matching band) —
    (new_id, base_id, band, est_jaccard >= threshold). A pair matching
    in k bands emits k rows; with ``ts_col`` set the duplicates are
    collapsed per watermark horizon via dropDuplicatesWithinWatermark
    (the only stateful stage, bounded by the horizon); without it the
    stateless per-band stream is the output and downstream reduces
    (the trade is recorded here instead of hidden: collapsing without
    event time would need unbounded state)."""
    from riskloc_spark.operators.dedup import (
        _band_buckets,
        minhash_signature_col,
        shingle_tokens,
        xxhash64_fn,
    )

    hash_fn = hash_fn or xxhash64_fn
    # num_hashes / bands / shingle_n MUST match the index build —
    # a different shingle family never collides and near-dups stream
    # through unflagged
    # staged token array (dedup.shingle_tokens docstring)
    sig = minhash_signature_col(
        num_hashes=num_hashes, shingle_n=shingle_n,
        hash_fn=hash_fn, tokens=F.col("__T"),
    )
    par = docs.sparkSession.sparkContext.defaultParallelism
    stream = docs.repartition(par)
    keep: tuple = ()
    if ts_col is not None:
        stream = stream.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
        stream = stream.withWatermark(ts_col, watermark)
        keep = (ts_col,)
    sigs = stream.select(
        id_col, *keep, shingle_tokens(F.col(text_col)).alias("__T")
    ).select(id_col, *keep, sig.alias("sig"))
    probe = _band_buckets(
        sigs, id_col, bands, num_hashes // bands, hash_fn, keep_cols=keep
    )

    est = (
        F.size(
            F.filter(
                F.zip_with("sig_new", "sig_base", lambda a, b: a == b),
                lambda x: x,
            )
        ).cast("double")
        / F.lit(num_hashes)
    )
    out = (
        probe.alias("n")
        .join(
            index.alias("b"),
            on=[
                F.col("n.band") == F.col("b.band"),
                F.col("n.bucket") == F.col("b.bucket"),
                F.col(f"n.{id_col}") != F.col(f"b.{id_col}"),
            ],
        )
        .select(
            F.col(f"n.{id_col}").alias("new_id"),
            *([F.col(f"n.{ts_col}").alias(ts_col)] if ts_col else []),
            F.col(f"b.{id_col}").alias("base_id"),
            F.col("n.band").alias("band"),
            F.col("n.sig").alias("sig_new"),
            F.col("b.sig").alias("sig_base"),
        )
        .withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= jaccard_threshold)
        .drop("sig_new", "sig_base")
    )
    if ts_col is not None:
        out = out.dropDuplicatesWithinWatermark(["new_id", "base_id"]).drop(
            "band"
        )
    return out


def hll_registers_stream(
    events: DataFrame,
    value_col: str = "user_id",
    key_cols: tuple = ("event_type",),
    p: int = 12,
    hash_fn=None,
) -> DataFrame:
    """Bounded-state streaming distinct counts: the HLL register
    aggregation (operators/sketches.py) over a stream — groupBy
    (key, bucket) max(rank) in complete/update mode.

    This is the state-store shape ``dropDuplicates`` cannot offer: a
    streaming distinct-user count via dedup keeps EVERY key seen (the
    state grows with the stream forever, or a watermark silently
    forgets), while the sketch's state is at most 2^p rows per key —
    fixed, forever, with the standard ~1.04/sqrt(2^p) error.  The
    register table lands in any sink and ``hll_estimate`` /
    ``hll_merge`` consume it exactly like a batch sketch (streaming
    registers == batch registers over the same rows, gate-pinned)."""
    from riskloc_spark.operators.dedup import md5_hash64
    from riskloc_spark.operators.sketches import hll_register_rows

    rows = hll_register_rows(
        events,
        value_col,
        list(key_cols),
        p,
        hash_fn or md5_hash64,
    )
    return rows.groupBy(*key_cols, "bucket").agg(
        F.max("rank").alias("rank")
    )


def quantile_registers_stream(
    events: DataFrame,
    value_col: str = "value",
    id_col: str = "event_id",
    key_cols: tuple = ("event_type",),
    k: int = 128,
    hash_fn=None,
) -> DataFrame:
    """Bounded-state streaming quantile sample: the bucketed-min
    register aggregation (operators/quantiles.bucketed_min_sample)
    over a stream — groupBy (key, bucket) min(struct(h, value)) in
    complete/update mode.  State is at most k register rows per key,
    fixed forever (the hll_registers_stream shape — an order
    statistic like bottom-k can NOT run as a bounded streaming
    aggregation, which is exactly why the bucketed-min variant
    exists).  The register table lands in any sink and
    ``quantile_estimate`` / the batch groupBy-min merge consume it
    exactly like a batch sample (streaming registers == batch
    registers over the same rows, gate-pinned)."""
    from riskloc_spark.operators.dedup import md5_hash64
    from riskloc_spark.operators.quantiles import (
        quantile_register_rows,
    )

    rows = quantile_register_rows(
        events,
        value_col,
        id_col,
        list(key_cols),
        k,
        0,
        hash_fn or md5_hash64,
    )
    m = F.min(F.struct(F.col("h"), F.col("value"))).alias("__m")
    return (
        rows.groupBy(*key_cols, "bucket")
        .agg(m)
        .select(
            *key_cols, "bucket",
            F.col("__m.h").alias("h"),
            F.col("__m.value").alias("value"),
        )
    )


def cms_registers_stream(
    events: DataFrame,
    value_col: str = "user_id",
    key_cols: tuple = ("event_type",),
    width: int = 1024,
    depth: int = 4,
    hash_fn=None,
) -> DataFrame:
    """Bounded-state streaming frequency sketch: the Count-Min
    register aggregation (operators/cms.cms_sketch) over a stream —
    groupBy (key, row, bucket) SUM in complete/update mode.  State is
    at most depth x width register rows per key, fixed forever
    (counts are additive, so the streaming aggregation IS the batch
    sketch — gate-pinned); the register table lands in any sink and
    ``cms_lookup`` / ``cms_merge`` consume it exactly like a batch
    sketch.  Completes the bounded-state streaming trio: HLL
    (distinct), bucketed-min (quantiles), Count-Min (frequency)."""
    from riskloc_spark.operators.cms import _bucket
    from riskloc_spark.operators.dedup import md5_hash64

    hf = hash_fn or md5_hash64
    buckets = F.posexplode(
        F.array(
            *[
                _bucket(hf, F.col(value_col), r, width)
                for r in range(depth)
            ]
        )
    ).alias("row", "bucket")
    return (
        events.filter(F.col(value_col).isNotNull())
        .select(*key_cols, buckets)
        .groupBy(*key_cols, "row", "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def bloom_positions_stream(
    events: DataFrame,
    value_col: str = "user_id",
    key_cols: tuple = ("event_type",),
    m_bits: int = 1 << 16,
    k: int = 4,
    hash_fn=None,
) -> DataFrame:
    """Bounded-state streaming membership filter: the Bloom set-bit
    aggregation (operators/bloom.bloom_build) over a stream — the
    k seeded positions explode per row and a complete/update-mode
    groupBy keeps each distinct (key, pos) once.  State is at most
    ``m_bits`` rows per key FOREVER (the filter saturates, it never
    grows) — unlike a streaming dropDuplicates on the values
    themselves, whose state tracks every distinct value seen.  The
    position table lands in any sink and ``bloom_probe`` /
    ``bloom_merge`` consume it exactly like a batch filter
    (streaming == batch, gate-pinned).  Completes the bounded-state
    streaming sketch QUARTET: HLL (distinct), Count-Min (frequency),
    bucketed-min (quantiles), Bloom (membership)."""
    from riskloc_spark.operators.bloom import _pos
    from riskloc_spark.operators.dedup import md5_hash64

    hf = hash_fn or md5_hash64
    pos = F.explode(
        F.array(
            *[
                _pos(hf, F.col(value_col), r, m_bits)
                for r in range(k)
            ]
        )
    ).alias("pos")
    return (
        events.filter(F.col(value_col).isNotNull())
        .select(*key_cols, pos)
        .groupBy(*key_cols, "pos")
        .agg(F.count(F.lit(1)).alias("__n"))
        .select(*key_cols, "pos")
    )


def contamination_stream(
    docs: DataFrame,
    bench_grams: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    ts_col: str = "ts",
    watermark: str = "2 hours",
    hash_fn=None,
) -> DataFrame:
    """STREAMING benchmark decontamination: audit a document firehose
    against a static benchmark gram vocabulary
    (operators/decontamination.benchmark_gram_set) — append-mode
    (doc_id, n_ngrams, n_matched, contamination), one row per
    document, finalized when the watermark passes the document's
    event time.

    The Spark-native shape, stage by stage:
    - the distinct gram set is computed IN-ROW (array_distinct over
      the staged token shingles) and exploded — no cross-row dedup
      state, because a document's grams live in its own row;
    - the benchmark probe is a STREAM-STATIC broadcast left join
      (stateless; the vocabulary is the bounded eval-set artifact);
    - the only stateful stage is the per-(doc, event-time) counting
      aggregation, append-mode under the watermark — state is
      bounded by the documents inside the horizon, and each group
      emits EXACTLY ONCE when the watermark passes its timestamp
      (equality with the batch audit is gate-pinned).

    Late documents beyond the watermark are dropped, the standard
    trade; a replay pipeline re-audits them in batch.  n / text
    normalization / hash_fn MUST match the gram-set build."""
    from riskloc_spark.operators.dedup import (
        shingle_tokens,
        shingles_of_tokens,
        xxhash64_fn,
    )

    hf = hash_fn or xxhash64_fn
    stream = docs.withColumn(
        ts_col, F.col(ts_col).cast("timestamp")
    ).withWatermark(ts_col, watermark)
    staged = stream.select(
        id_col, ts_col, shingle_tokens(F.col(text_col)).alias("__T")
    )
    grams = staged.select(
        id_col,
        ts_col,
        F.explode(
            F.array_distinct(shingles_of_tokens(F.col("__T"), n))
        ).alias("__s"),
    ).select(id_col, ts_col, hf(F.col("__s")).alias("__g"))
    hits = grams.join(
        F.broadcast(bench_grams.withColumn("__hit", F.lit(1))),
        "__g",
        "left",
    )
    return (
        hits.groupBy(id_col, ts_col)
        .agg(
            F.count(F.lit(1)).alias("n_ngrams"),
            F.sum(F.coalesce(F.col("__hit"), F.lit(0))).alias(
                "n_matched"
            ),
        )
        .select(
            id_col,
            "n_ngrams",
            F.col("n_matched").cast("long").alias("n_matched"),
            (F.col("n_matched") / F.col("n_ngrams")).alias(
                "contamination"
            ),
        )
    )


def expectations_stream(
    docs: DataFrame, rules: list[dict]
) -> DataFrame:
    """Bounded-state STREAMING data-quality expectations: the
    one-scan violation audit (operators/expectations.
    validate_expectations) as a complete-mode global aggregation —
    state is ONE row of |rules| counters forever, and every trigger
    publishes the audit over everything seen so far (the continuous
    ingest-gate dashboard).  No stream-static join anywhere: the
    rule metadata rides as literals inside the post-aggregation
    projection, which is why this twin exists instead of reusing the
    batch function's meta-join.  Streaming == batch over the same
    files (test-pinned).  ``unique`` rules are NOT supported here —
    a streaming count-distinct would hold every value in state
    (unbounded); run those in batch or via the HLL registers."""
    from riskloc_spark.operators.expectations import (
        _KINDS,
        _named,
        _violation,
    )

    # mirror the batch contract (validate_expectations): empty rule
    # lists and unknown kinds fail fast instead of silently emitting
    # zero rows / exploding later inside the stream
    if not rules:
        raise ValueError("rules must be non-empty")
    for r in rules:
        if r["kind"] not in _KINDS:
            raise ValueError(
                f"unknown expectation kind {r['kind']!r}"
            )
    if any(r["kind"] == "unique" for r in rules):
        raise ValueError(
            "expectations_stream: 'unique' needs unbounded state — "
            "audit uniqueness in batch or approximately via "
            "hll_registers_stream"
        )
    aggs = [F.count(F.lit(1)).alias("__n")] + [
        F.sum(F.when(_violation(r), 1).otherwise(0)).alias(f"__v{i}")
        for i, r in enumerate(rules)
    ]
    agg = docs.agg(*aggs)
    return agg.select(
        F.col("__n"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(_named(r)).alias("rule"),
                        F.lit(r["col"]).alias("col"),
                        F.lit(r["kind"]).alias("kind"),
                        F.coalesce(
                            F.col(f"__v{i}"), F.lit(0)
                        ).cast("long").alias("nv"),
                    )
                    for i, r in enumerate(rules)
                ]
            )
        ).alias("v"),
    ).select(
        F.col("v.rule").alias("rule"),
        F.col("v.col").alias("col"),
        F.col("v.kind").alias("kind"),
        F.col("__n").cast("long").alias("n_rows"),
        F.col("v.nv").alias("n_violations"),
        F.when(F.col("__n") == 0, F.lit(0.0))
        .otherwise(F.col("v.nv") / F.col("__n"))
        .alias("violation_rate"),
    )
