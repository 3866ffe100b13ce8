"""Streaming + multimodal queries.

``st1`` drives an actual Structured Streaming job (checkpointed
availableNow file stream + foreachBatch dedup → parquet sink) —
rows-only, since a streaming run isn't a SQL expression. ``st2`` is
the same windowed aggregation expression a stream would run, executed
on the batch table, so it DOES get an oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from aws_csp_datapipeline_spark import lifecycle
from aws_csp_datapipeline_spark.catalog import (
    SCHEMAS,
    load_table,
    normalize_event_ts,
    table_path,
)
from aws_csp_datapipeline_spark.functions import multimodal as MM
from aws_csp_datapipeline_spark.plans.registry import register
from aws_csp_datapipeline_spark.streaming.ingest import windowed_event_counts


def _events_stream(spark: SparkSession, landing_dir: str) -> DataFrame:
    """File-source stream over an events landing dir with ``ts``
    normalized to TimestampType. The stream schema is taken from a
    batch read of the same dir because the driver has shipped
    ``events.ts`` under different parquet physical types across
    testdata generations (TIMESTAMP(NANOS) → long via ``nanosAsLong``;
    TIMESTAMP(MICROS) → TIMESTAMP_NTZ) — the file source needs the
    explicit schema either way, and normalize_event_ts converts both."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    try:
        schema = spark.read.parquet(landing_dir).schema
    except Exception:
        # Landing dir empty at stream-definition time (files arrive
        # later): fall back to the catalog schema, with ts as long
        # because nanosAsLong is set and the driver's current testdata
        # generation ships TIMESTAMP(NANOS); normalize_event_ts
        # converts either representation.
        schema = T.StructType(
            [
                T.StructField("ts", T.LongType())
                if f.name == "ts"
                else f
                for f in SCHEMAS["events"].fields
            ]
        )
    stream = spark.readStream.schema(schema).format("parquet").load(landing_dir)
    return stream.withColumn("ts", normalize_event_ts(stream))


@register(
    "st1_stream_ingest_dedup",
    """
    SELECT event_id, user_id, event_type, value FROM events
    WHERE event_id IN (SELECT MIN(event_id) FROM events
                       GROUP BY user_id, event_type)
    """,
)
def st1_stream_ingest_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest (README.md:42-56 restated): checkpointed
    file-source stream over the events landing file, per-batch
    keep-first (lowest event_id) dedup on (user_id, event_type)
    inside foreachBatch, parquet append sink. The landing file
    arrives as ONE availableNow micro-batch, so the streamed result
    equals the batch min-key dedup — which is the SQL oracle."""
    from aws_csp_datapipeline_spark.operators.crud import dedup_by_keys

    sink_dir = lifecycle.tempdir("ingest_sink_")
    ckpt_dir = lifecycle.tempdir("ingest_ckpt_")
    # the file source streams a landing DIRECTORY (the reference's S3
    # prefix); stage the test file into one
    landing_dir = lifecycle.tempdir("ingest_landing_")
    os.symlink(
        table_path(sf_dir, "events"), os.path.join(landing_dir, "events.parquet")
    )

    stream = _events_stream(spark, landing_dir)

    def handle_batch(batch_df: DataFrame, epoch_id: int) -> None:
        deduped = dedup_by_keys(
            batch_df.select("event_id", "user_id", "event_type", "value"),
            ["user_id", "event_type"],
            "event_id",
        )
        deduped.write.mode("append").parquet(sink_dir)

    q = (
        stream.writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", ckpt_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(sink_dir)


@register(
    "st2_windowed_counts",
    """
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS win_start,
           event_type, COUNT(*) AS n, ROUND(SUM(value), 2) AS total
    FROM events GROUP BY 1, 2
    """,
)
def st2_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time window counts — the streaming
    aggregation expression (windowed_event_counts) run on the batch
    table, where it is oracle-checkable."""
    ev = load_table(spark, sf_dir, "events")
    return windowed_event_counts(ev, "ts", "event_type", "1 hour")


@register(
    "st3_stateful_totals",
    """
    SELECT user_id, COUNT(*) AS n_events,
           ROUND(SUM(value), 2) AS total_value, MAX(value) AS max_value
    FROM events GROUP BY user_id
    """,
)
def st3_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator: per-user running totals via
    applyInPandasWithState, driven to completion over the events
    landing file. The drained final state must equal the batch
    aggregate — which is exactly what the oracle states."""
    from aws_csp_datapipeline_spark.streaming.stateful import running_user_totals

    landing = lifecycle.tempdir("st3_landing_")
    ckpt = lifecycle.tempdir("st3_ckpt_")
    os.symlink(table_path(sf_dir, "events"), os.path.join(landing, "events.parquet"))

    stream = _events_stream(spark, landing)
    out = running_user_totals(stream.select("user_id", "value"))
    sink = lifecycle.view_name(spark, "st3_totals")
    q = (
        out.writeStream.format("memory")
        .queryName(sink)
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # last update per user = final state (n_events is monotone)
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        spark.table(sink)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "user_id",
            "n_events",
            F.round("total_value", 2).alias("total_value"),
            "max_value",
        )
    )


# The fake-decode meta lanes (mm1/mm5/mm6) all derive their values
# from ONE deterministic integer fold over the first 64 payload bytes
# (`multimodal._fake_image_meta` et al.: h = (h*131 + b) & 0x7FFFFFFF)
# — plain integer arithmetic, so DuckDB restates it directly with a
# list_reduce over the hex-unpacked bytes; no hash-family plumbing
# needed. & 0x7FFFFFFF == % 2^31 because every intermediate is
# non-negative, and h*131 + b < 2^38 fits BIGINT exactly.
_FOLD64 = """
      list_reduce(list_prepend(0::BIGINT,
        [ (strpos('0123456789abcdef', ph[2*i-1]) - 1) * 16
        + (strpos('0123456789abcdef', ph[2*i]) - 1)
        FOR i IN range(1, least(length(ph) // 2, 64) + 1)]),
        (h, b) -> (h * 131 + b) % 2147483648)
"""


@register(
    "mm1_media_features",
    f"""
    WITH m AS (
      SELECT doc_id, lower(hex(encode(text))) AS ph FROM documents
    ), f AS (
      SELECT doc_id, length(ph) // 2 AS n_bytes, ({_FOLD64}) AS h,
             CASE WHEN length(ph) = 0 THEN 0.0 ELSE
               CAST(list_sum(
                 [ (strpos('0123456789abcdef', ph[2*i-1]) - 1) * 16
                 + (strpos('0123456789abcdef', ph[2*i]) - 1)
                 FOR i IN range(1, length(ph) // 2 + 1)]) AS DOUBLE)
               / (length(ph) // 2) END AS mean_byte
      FROM m
    )
    SELECT doc_id, CAST(n_bytes AS BIGINT) AS n_bytes, mean_byte,
           CAST(64 + h % 192 AS INT) AS width,
           CAST(64 + (h // 256) % 192 AS INT) AS height,
           CAST(CASE WHEN h % 4 = 0 THEN 1 ELSE 3 END AS INT) AS channels
    FROM f
    """,
)
def mm1_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal: documents → opaque binary payloads → Arrow-batched
    mapInPandas feature extraction (byte stats real; image decode
    STUBBED with a deterministic fake — no codec libs here).
    Oracle-paired: the byte stats are exact on both sides (one
    int-sum → double division each) and the fake meta is the `_FOLD64`
    integer fold, which DuckDB restates verbatim. The real-decode
    branches can't fire on this corpus — 0x89 (PNG) and 0xFF (JPEG)
    are invalid UTF-8 lead bytes, so a text payload never sniffs as
    either."""
    d = load_table(spark, sf_dir, "documents")
    media = MM.to_media_column(d, "doc_id", "text")
    return MM.extract_features(media, fake_decode=True)


@register(
    "mm2_frame_sample",
    """
    WITH m AS (SELECT doc_id, hex(encode(text)) AS ph FROM documents),
    f AS (
      SELECT doc_id,
             unnest(range(0, least(CAST(floor(length(ph) / 128) AS BIGINT),
                                   8))) AS fi,
             ph
      FROM m WHERE length(ph) >= 128
    )
    SELECT doc_id, CAST(fi AS INT) AS frame_idx,
           substring(ph, CAST(fi * 128 + 1 AS INT), 128) AS frame_hex
    FROM f
    """,
)
def mm2_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal: frame-sampling explode over binary payloads (the
    1→N video-frame shape) as pure column expressions. The library
    operator returns binary frames; the registered query hex-encodes
    them because DuckDB cannot byte-slice BLOBs — the oracle slices
    the hex string at doubled offsets, so the BYTE semantics (not
    character semantics: the corpus has multibyte text) are what gets
    hash-compared."""
    d = load_table(spark, sf_dir, "documents")
    media = MM.to_media_column(d, "doc_id", "text")
    frames = MM.frame_sample(media, every_n_bytes=64, max_frames=8)
    return frames.select(
        "doc_id", "frame_idx", F.hex(F.col("frame")).alias("frame_hex")
    )


@register(
    "st4_stream_stream_join",
    """
    WITH p AS (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'purchase'),
    c AS (SELECT event_id, user_id, ts FROM events
          WHERE event_type = 'click')
    SELECT p.user_id, COUNT(*) AS n_attributed
    FROM p JOIN c ON p.user_id = c.user_id
     AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 1 HOUR
    GROUP BY p.user_id
    """,
)
def st4_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream event-time join: purchases attributed to the
    same user's clicks within 1 hour, driven as TWO file-source
    streams with watermarks + a time-range join condition (bounded
    state), memory sink, availableNow. Oracle-pairable because the
    landing file arrives as ONE availableNow micro-batch: an inner
    stream-stream join emits matches as they arrive (the watermark
    only governs state EVICTION), so the appended result equals the
    batch time-range join the SQL states. Equality vs the identical
    batch join is additionally pytest-checked
    (tests/test_sources_streaming.py); ts is micro-aligned in the
    testdata, so the interval boundary compares identical integer
    micros in both engines."""
    from aws_csp_datapipeline_spark.streaming.ingest import attribution_join

    landing = lifecycle.tempdir("st4_landing_")
    ckpt = lifecycle.tempdir("st4_ckpt_")
    os.symlink(table_path(sf_dir, "events"), os.path.join(landing, "events.parquet"))

    def typed_stream(event_type: str) -> DataFrame:
        raw = _events_stream(spark, landing)
        return raw.filter(F.col("event_type") == event_type).select(
            "event_id", "user_id", "ts"
        )

    joined = attribution_join(typed_stream("purchase"), typed_stream("click"))
    sink = lifecycle.view_name(spark, "st4_attributed")
    q = (
        joined.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.table(sink)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_attributed"))
    )


@register(
    "st6_session_window",
    """
    WITH o AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) IS NULL
                    OR ts - lag(ts) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id)
                       >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_s
      FROM events
    ),
    i AS (
      SELECT user_id, ts,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS sess
      FROM o
    )
    SELECT user_id,
           CAST(date_trunc('second', MIN(ts)) AS TIMESTAMP) AS s_start,
           CAST(date_trunc('second', MAX(ts) + INTERVAL 30 MINUTE) AS TIMESTAMP)
             AS s_end,
           COUNT(*) AS n
    FROM i GROUP BY user_id, sess
    """,
)
def st6_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session_window (the streaming sessionization operator,
    run on the batch table where it is oracle-checkable): dynamic-gap
    sessions per user, window end = last event + gap. The oracle
    restates it as gap-flag islands — the same semantics w3 builds by
    hand. Second-truncated bounds keep ns-vs-us parquet precision out
    of the hash."""
    ev = load_table(spark, sf_dir, "events")
    g = ev.groupBy(
        "user_id", F.session_window(F.col("ts"), "30 minutes").alias("w")
    ).agg(F.count(F.lit(1)).alias("n"))
    return g.select(
        "user_id",
        F.date_trunc("second", F.col("w.start")).alias("s_start"),
        F.date_trunc("second", F.col("w.end")).alias("s_end"),
        "n",
    )


@register(
    "st7_stream_cdc_upsert",
    """
    WITH changes AS (
      SELECT n_nationkey, 'U' AS op, 2 AS seq,
             'NEW_' || n_name AS n_name, n_regionkey
      FROM nation WHERE n_nationkey < 4
      UNION ALL
      SELECT n_nationkey, 'U', 1, 'OLD_' || n_name, n_regionkey
      FROM nation WHERE n_nationkey < 4
      UNION ALL
      SELECT n_nationkey, 'D', 3, NULL, NULL
      FROM nation WHERE n_nationkey BETWEEN 10 AND 12
      UNION ALL
      SELECT r_regionkey + 200, 'I', 4, r_name, r_regionkey FROM region
    ),
    latest AS (
      SELECT * FROM changes
      QUALIFY ROW_NUMBER() OVER (PARTITION BY n_nationkey ORDER BY seq DESC) = 1
    )
    SELECT COALESCE(t.n_nationkey, l.n_nationkey) AS n_nationkey,
           CASE WHEN l.op IN ('I','U') THEN l.n_name ELSE t.n_name END AS n_name,
           CASE WHEN l.op IN ('I','U') THEN l.n_regionkey
                ELSE t.n_regionkey END AS n_regionkey
    FROM nation t FULL OUTER JOIN latest l ON t.n_nationkey = l.n_nationkey
    WHERE l.op IS NULL OR l.op <> 'D'
    """,
)
def st7_stream_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC upsert: the m10 change feed delivered as TWO
    parquet files (seq 1-2, then seq 3-4) through a checkpointed
    one-file-per-trigger stream, folded into the nation snapshot with
    apply_cdc inside foreachBatch. The sequential fold of in-order
    batches equals the global latest-change-per-key fold — so the
    batch-merge SQL is a valid oracle for the streaming path."""
    from aws_csp_datapipeline_spark.streaming.upsert import stream_upsert_cdc

    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    low = nation.filter(F.col("n_nationkey") < 4)
    u2 = low.select(
        "n_nationkey", F.lit("U").alias("op"), F.lit(2).alias("seq"),
        F.concat(F.lit("NEW_"), F.col("n_name")).alias("n_name"), "n_regionkey",
    )
    u1 = low.select(
        "n_nationkey", F.lit("U").alias("op"), F.lit(1).alias("seq"),
        F.concat(F.lit("OLD_"), F.col("n_name")).alias("n_name"), "n_regionkey",
    )
    d = nation.filter(F.col("n_nationkey").between(10, 12)).select(
        "n_nationkey", F.lit("D").alias("op"), F.lit(3).alias("seq"),
        F.lit(None).cast("string").alias("n_name"),
        F.lit(None).cast(nation.schema["n_regionkey"].dataType).alias("n_regionkey"),
    )
    i = region.select(
        (F.col("r_regionkey") + 200).alias("n_nationkey"),
        F.lit("I").alias("op"), F.lit(4).alias("seq"),
        F.col("r_name").alias("n_name"),
        F.col("r_regionkey").alias("n_regionkey"),
    )

    landing = lifecycle.tempdir("st7_changes_")
    batch1 = u1.unionByName(u2)
    batch2 = d.unionByName(i)
    for idx, batch in enumerate([batch1, batch2]):
        part = os.path.join(landing, f"part{idx}")
        batch.coalesce(1).write.parquet(part)
        # one landing FILE per change batch, mtime-ordered so the
        # file source replays them in sequence order
        for f in os.listdir(part):
            if f.endswith(".parquet"):
                dst = os.path.join(landing, f"changes_{idx}.parquet")
                os.rename(os.path.join(part, f), dst)
                os.utime(dst, (1000000 + idx, 1000000 + idx))

    return stream_upsert_cdc(spark, nation, landing, "n_nationkey")


@register(
    "mm3_resize_images",
    """
    WITH m AS (SELECT doc_id, hex(encode(text)) AS ph FROM documents)
    SELECT doc_id, CAST(768 AS BIGINT) AS n_out_bytes,
           32 AS width, 24 AS height,
           substring(repeat(ph, CAST(32 / length(ph) AS INT) + 1), 1, 32)
             AS out_prefix_hex
    FROM m
    """,
)
def mm3_resize_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal: fixed-shape batch 'resize' over binary payloads
    (non-PNG payloads take the deterministic cycle lane; real PNGs the
    stdlib codec) — summarized as per-doc output byte count plus a
    hex prefix of the output bytes, so the oracle checks the CONTENT
    of the fixed-shape contract, not just its size. The oracle cycles
    the hex string (hex of a concatenation == concatenation of hexes,
    so hex-domain cycling equals byte-domain cycling)."""
    d = load_table(spark, sf_dir, "documents")
    media = MM.to_media_column(d, "doc_id", "text")
    resized = MM.resize_images(media, 32, 24)
    return resized.select(
        "doc_id",
        F.length("payload").cast("long").alias("n_out_bytes"),
        "width",
        "height",
        F.hex(F.substring(F.col("payload"), 1, 16)).alias("out_prefix_hex"),
    )


@register(
    "mm5_audio_features",
    f"""
    WITH m AS (
      SELECT doc_id, lower(hex(encode(text))) AS ph FROM documents
    ), f AS (
      SELECT doc_id, length(ph) // 2 AS n, ({_FOLD64}) AS h,
             (ph[1:8] = '52494646' AND ph[17:24] = '57415645') AS is_wav
      FROM m
    )
    SELECT doc_id,
      CAST(CASE WHEN is_wav THEN 0 ELSE 8000 + h % 40000 END AS INT)
        AS sample_rate,
      CAST(CASE WHEN is_wav THEN 0 ELSE 1 + h % 2 END AS INT) AS channels,
      CAST(CASE WHEN is_wav THEN 0 ELSE n END AS BIGINT) AS n_frames,
      CASE WHEN is_wav THEN 0.0
           ELSE (1000.0 * n) / (8000 + h % 40000) END AS duration_ms
    FROM f
    """,
)
def mm5_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal audio lane through the registry surface: loudness /
    duration stats per payload via Arrow-batched mapInPandas (the
    testdata corpus has no real WAV bytes, so the deterministic fake
    lane runs here; real WAV payloads take the stdlib ``wav_codec``
    path — tests/test_multimodal_codec.py proves that on generated
    PCM). Oracle-paired via `_FOLD64`; the one sniffable prefix —
    'RIFF....WAVE' IS valid UTF-8, so a text payload CAN enter the
    real-decode branch — always fails the wave parse on text bytes
    (no valid fmt chunk) and degrades to the all-zeros row, which the
    oracle's is_wav CASE restates
    (tests/test_multimodal_codec.py::test_mm_meta_oracle_sniff_paths)."""
    d = load_table(spark, sf_dir, "documents")
    media = MM.to_media_column(d, "doc_id", "text")
    return MM.extract_audio_features(media).select(
        "doc_id", "sample_rate", "channels", "n_frames", "duration_ms"
    )


@register(
    "mm6_video_meta",
    f"""
    WITH m AS (
      SELECT doc_id, lower(hex(encode(text))) AS ph FROM documents
    ), f AS (
      SELECT doc_id, ({_FOLD64}) AS h, (ph[9:16] = '66747970') AS sniffs
      FROM m
    )
    SELECT doc_id,
      CASE WHEN sniffs THEN 0.0
           ELSE CAST(1000 + h % 60000 AS DOUBLE) END AS duration_ms,
      CAST(CASE WHEN sniffs THEN 0 ELSE 1 + h % 3 END AS INT) AS n_tracks,
      CAST(CASE WHEN sniffs THEN 0 ELSE 320 + h % 1600 END AS INT) AS width,
      CAST(CASE WHEN sniffs THEN 0 ELSE 240 + (h // 256) % 900 END AS INT)
        AS height
    FROM f
    """,
)
def mm6_video_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal video lane through the registry surface: container
    metadata (duration / tracks / dimensions — what duration caps and
    resolution floors filter on) via mapInPandas (real MP4 payloads
    take the stdlib ``mp4_meta`` box parse, proven on hand-built
    ISO-BMFF fixtures in tests). Oracle-paired via `_FOLD64`; a text
    payload with 'ftyp' at bytes 4-8 sniffs as MP4 but the box walk
    fails on text bytes (sizes are garbage) and degrades to the
    all-zeros row, which the oracle's sniffs CASE restates
    (tests/test_multimodal_codec.py::test_mm_meta_oracle_sniff_paths)."""
    d = load_table(spark, sf_dir, "documents")
    media = MM.to_media_column(d, "doc_id", "text")
    return MM.extract_video_meta(media).select(
        "doc_id", "duration_ms", "n_tracks", "width", "height"
    )


@register(
    "st8_stream_static_enrich",
    """
    SELECT c.c_mktsegment AS segment,
           COUNT(*) AS n_events,
           ROUND(SUM(e.value), 2) AS total_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def st8_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: the event stream joins a static
    dimension inside the micro-batch (stateless — no streaming state
    at all), the canonical 'attach account metadata to a click
    stream' pipeline. customer is sf-scaled, so the join carries no
    broadcast hint: each micro-batch plans it from runtime sizes
    (broadcast while the dim is small, keyed join at scale). Driven
    as a REAL checkpointed availableNow stream into a parquet sink;
    the result is provably the batch join, which is the oracle."""
    sink_dir = lifecycle.tempdir("enrich_sink_")
    ckpt_dir = lifecycle.tempdir("enrich_ckpt_")
    landing_dir = lifecycle.tempdir("enrich_landing_")
    os.symlink(
        table_path(sf_dir, "events"), os.path.join(landing_dir, "events.parquet")
    )
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), F.col("c_mktsegment").alias("segment")
    )
    stream = (
        _events_stream(spark, landing_dir)
        .select("event_id", "user_id", "value")
        .join(dim, "user_id")
    )
    q = (
        stream.writeStream.format("parquet")
        .option("path", sink_dir)
        .option("checkpointLocation", ckpt_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.read.parquet(sink_dir)
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


@register("st9_stream_dedup_watermark", None)
def st9_stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exactly-once dedup with BOUNDED state:
    dropDuplicatesWithinWatermark keeps each key's state only until
    the watermark passes it (vs plain dropDuplicates on a stream,
    whose state grows forever) — the shape that makes exactly-once
    ingest of a duplicated feed survive at 100-TB/week rates.
    Rows-only: pytest checks equality with the batch distinct-key
    count (tests/test_sources_streaming.py)."""
    sink_dir = lifecycle.tempdir("wmdedup_sink_")
    ckpt_dir = lifecycle.tempdir("wmdedup_ckpt_")
    landing_dir = lifecycle.tempdir("wmdedup_landing_")
    os.symlink(
        table_path(sf_dir, "events"), os.path.join(landing_dir, "events.parquet")
    )
    stream = (
        _events_stream(spark, landing_dir)
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("event_id", "user_id", "event_type")
    )
    q = (
        stream.writeStream.format("parquet")
        .option("path", sink_dir)
        .option("checkpointLocation", ckpt_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(sink_dir)


@register(
    "st10_sliding_counts",
    """
    SELECT CAST(date_trunc('hour', ts) - k * INTERVAL '1 hour' AS TIMESTAMP)
             AS win_start,
           event_type, COUNT(*) AS n
    FROM events CROSS JOIN (SELECT unnest([0, 1]) AS k) offs
    GROUP BY 1, 2
    """,
)
def st10_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding event-time windows (2 h length, 1 h slide): every event
    lands in exactly two overlapping windows — the overlapping-window
    streaming aggregation st2's tumbling form can't express. Spark's
    window() duplicates each row into its window set BEFORE the
    partial aggregation, so the shuffle carries (window, type)
    partial counts — 2x the tumbling group count, independent of row
    volume. The identical expression runs under readStream with a
    watermark (windowed_event_counts pattern); batch execution here
    makes it oracle-checkable, with the oracle enumerating the two
    phase-shifted hour grids explicitly."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "2 hours", "1 hour").alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("win.start").alias("win_start"),
            "event_type",
            "n",
        )
    )


@register(
    "mm4_modality_dispatch",
    """
    SELECT CASE ascii(substr(text, 1, 1)) % 3
             WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video'
           END AS modality,
           COUNT(*) AS n_items,
           CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes
    FROM documents GROUP BY 1
    """,
)
def mm4_modality_dispatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal: content-sniffing modality router over binary
    payloads (Arrow-batched mapInPandas, codec lanes stubbed) with a
    JVM-side per-modality rollup. Unlike mm1-mm3 this one IS
    oracle-paired: the routing function is deterministic on payload
    bytes, so DuckDB can restate the dispatch in SQL — validating
    the Python plumbing end to end. Scale: the Python stage is a
    narrow 1:1 batch map (no shuffle); only |modalities| grouped
    rows shuffle."""
    d = load_table(spark, sf_dir, "documents")
    media = MM.to_media_column(d, "doc_id", "text")
    routed = MM.dispatch_modalities(media)
    return routed.groupBy("modality").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum("n_bytes").alias("total_bytes"),
    )


def _dhash_oracle_cte() -> str:
    """DuckDB restatement of the PORTABLE fake-lane dHash
    (``multimodal._fake_pixels_portable`` + ``dhash64_from_pixels``),
    machine-generated so the 72 box-mean samplings stay in lockstep
    with the Python rule: seed = lowercase hex of the first 64 payload
    bytes; 16 chained ``md5(seed || prev_hex)`` blocks give the 256
    pixel bytes; each 9x8 grid cell is a box mean over enumerable byte
    indices (boxes are 2 rows x 1-2 cols, so the float means are exact
    and the a/na > b/nb compare is restated as the integer cross-
    multiply a*nb > b*na); the 64 gradient bits assemble into a signed
    BIGINT with bit 63 as the two's-complement sign term. Validated
    bit-identical to the Python lane over the full sf0.01 corpus
    (tests/test_multimodal_codec.py::test_portable_dhash_oracle)."""

    def bounds(g: int, size: int, grid: int) -> tuple[int, int]:
        lo = (g * size) // grid
        return lo, max(lo + 1, ((g + 1) * size) // grid)

    def cell(gy: int, gx: int) -> tuple[str, int]:
        y0, y1 = bounds(gy, 16, 8)
        x0, x1 = bounds(gx, 16, 9)
        idxs = [y * 16 + x + 1 for y in range(y0, y1) for x in range(x0, x1)]
        return "(" + "+".join(f"px[{i}]" for i in idxs) + ")", len(idxs)

    bits = []
    for k in range(64):
        y, x = divmod(k, 8)
        (a, na), (b, nb) = cell(y, x), cell(y, x + 1)
        shift = 63 - k
        cond = f"({a}*{nb} > {b}*{na})"
        bits.append(
            f"CASE WHEN {cond} THEN (-9223372036854775807 - 1) ELSE 0 END"
            if shift == 63
            else f"CASE WHEN {cond} THEN (1::BIGINT << {shift}) ELSE 0 END"
        )
    hash_expr = "\n      + ".join(bits)
    chain = "\n    ".join(
        f"c{i} AS (SELECT * EXCLUDE(h), h || md5(seed || h[-32:]) AS h "
        f"FROM c{i - 1}),"
        for i in range(2, 17)
    )
    return f"""
    seeds AS (
      SELECT doc_id,
             substring(lower(hex(encode(text))), 1, 128) AS seed
      FROM documents
    ),
    c1 AS (SELECT doc_id, seed, md5(seed) AS h FROM seeds),
    {chain}
    hashes AS (
      SELECT doc_id, ({hash_expr}) AS dhash
      FROM (
        SELECT doc_id,
          flatten([[ (strpos('0123456789abcdef', hx[2*i-1]) - 1) * 16
                   + (strpos('0123456789abcdef', hx[2*i]) - 1)
                   FOR i IN range(1, 17)]
                  FOR hx IN [h[j*32+1:j*32+32] FOR j IN range(0, 16)]]
          ) AS px
        FROM c16) u
    )"""


@register(
    "mm7_image_dhash_groups",
    f"""
    WITH {_dhash_oracle_cte()}
    SELECT dhash, CAST(COUNT(*) AS BIGINT) AS n_images
    FROM hashes GROUP BY dhash HAVING COUNT(*) >= 2
    ORDER BY n_images DESC, dhash ASC LIMIT 100
    """,
)
def mm7_image_dhash_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal near-dup: perceptual dHash per image payload
    (REAL stdlib PNG decode lane; deterministic fake for the
    text-payload stand-ins here), then group identical hashes —
    the image twin of `d1` exact dedup, with hamming-banding as the
    near-dup extension (tests/test_multimodal_codec.py proves
    near-identical real PNGs collide and distinct images don't).
    Oracle-paired via the PORTABLE fake-pixel family (hex-string md5
    chain): a text payload can never sniff as PNG/JPEG (0x89/0xFF are
    invalid UTF-8 lead bytes), so on this corpus every row takes the
    fake lane deterministically and DuckDB restates the full pipeline
    — md5 pixel chain, box means, gradient bits (`_dhash_oracle_cte`).
    Only (doc_id, 8-byte hash) rows ever shuffle — pixels stay in the
    scan stage's Arrow batches."""
    d = load_table(spark, sf_dir, "documents")
    media = MM.to_media_column(d, "doc_id", "text")
    hashes = MM.image_dhash(media, fake_decode=True, fake_family="portable")
    return (
        hashes.groupBy("dhash")
        .agg(F.count(F.lit(1)).cast("long").alias("n_images"))
        .filter(F.col("n_images") >= 2)
        .orderBy(F.desc("n_images"), F.asc("dhash"))
        .limit(100)
    )


@register(
    "mm8_image_neardup_pairs",
    f"""
    WITH {_dhash_oracle_cte()}
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.dhash, b.dhash)) AS INTEGER) AS hamming
    FROM hashes a JOIN hashes b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.dhash, b.dhash)) <= 6
    ORDER BY doc_a, doc_b LIMIT 500
    """,
)
def mm8_image_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual NEAR-dup image pairs: dHash per payload, then the
    pigeonhole-banded hamming join (`functions.dedup.
    hamming_candidate_pairs` — the d4 SimHash machinery pointed at
    the image fingerprint): a pair within the hamming budget must
    agree on one whole 64/(h+1)-bit chunk, so candidates come from
    bucket joins, never all-pairs — and the exact hamming verify
    makes the banded result EQUAL to the all-pairs set, which is what
    the oracle computes (a quadratic join DuckDB can afford at
    attestation SF; the Spark side never materializes it). Portable
    fake-pixel family as mm7. The image twin of d3's near-dup lane
    the way mm7 is d1's exact twin (planted real-PNG test:
    tests/test_multimodal_codec.py::test_image_neardup_pairs_banded).
    Only (doc_id, 8-byte hash) rows shuffle — pixels stay in the
    scan stage."""
    from aws_csp_datapipeline_spark.functions.dedup import hamming_candidate_pairs

    d = load_table(spark, sf_dir, "documents")
    media = MM.to_media_column(d, "doc_id", "text")
    hashes = MM.image_dhash(media, fake_decode=True, fake_family="portable")
    return (
        hamming_candidate_pairs(hashes, "doc_id", "dhash", max_hamming=6)
        .withColumn("hamming", F.col("hamming").cast("int"))
        .orderBy("doc_a", "doc_b")
        .limit(500)
    )


@register(
    "st11_stream_gate_monitor",
    """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN value >= 50 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           CAST(SUM(CASE WHEN value >= 50 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS keep_rate
    FROM events GROUP BY event_type
    """,
)
def st11_stream_gate_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming gate-health monitor: the per-class keep-rate of a
    value-threshold gate (value >= 50 stands in for "quality score
    above the ml6-chosen operating point"), maintained incrementally
    by a streaming aggregation — the production drift monitor that
    notices a corpus filter suddenly keeping too little (or all) of a
    class. Complete-mode aggregate over the events landing file; the
    drained result equals the batch GROUP BY, which is the oracle.
    keep_rate is one integer->double division (the ml5 discipline),
    so the hash needs no rounding fold."""
    landing = lifecycle.tempdir("st11_landing_")
    ckpt = lifecycle.tempdir("st11_ckpt_")
    os.symlink(
        table_path(sf_dir, "events"), os.path.join(landing, "events.parquet")
    )

    stream = _events_stream(spark, landing)
    agg = stream.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(F.when(F.col("value") >= 50, 1).otherwise(0))
        .cast("long")
        .alias("n_kept"),
    )
    sink = lifecycle.view_name(spark, "st11_gate")
    q = (
        agg.writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(sink).select(
        "event_type",
        "n_events",
        "n_kept",
        (
            F.col("n_kept").cast("double") / F.col("n_events").cast("double")
        ).alias("keep_rate"),
    )
