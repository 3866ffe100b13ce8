"""Oracle-paired queries for the mutation layer (SURVEY.md §2.8).

Each query stages a mutation over the immutable test tables and
returns the post-state (or the guarded split), with the oracle
restating the same semantics in ANSI SQL. This mirrors FIXTURES.md
§F-D's golden CRUD sequence on driver-provided data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aws_csp_datapipeline_spark import lifecycle
from aws_csp_datapipeline_spark.catalog import load_table
from aws_csp_datapipeline_spark.operators import cleaning as C
from aws_csp_datapipeline_spark.operators import crud as M
from aws_csp_datapipeline_spark.operators import relational as R
from aws_csp_datapipeline_spark.plans.registry import register


@register(
    "m1_serial_insert",
    """
    SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name, n_regionkey
    FROM nation
    UNION ALL
    SELECT (SELECT MAX(n_nationkey) FROM nation)
             + ROW_NUMBER() OVER (ORDER BY r_name) AS n_nationkey,
           r_name AS n_name, r_regionkey AS n_regionkey
    FROM region
    """,
)
def m1_serial_insert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1: serial-key insert — COALESCE(MAX(key),0)+row_number over
    the new batch only (lambda_function.py:258-333). The existing
    table is never windowed; its max is a scalar aggregate."""
    nation = load_table(spark, sf_dir, "nation").withColumn(
        "n_nationkey", F.col("n_nationkey").cast("long")
    )
    new_rows = load_table(spark, sf_dir, "region").select(
        F.lit(None).cast("long").alias("n_nationkey"),
        F.col("r_name").alias("n_name"),
        F.col("r_regionkey").alias("n_regionkey"),
    )
    return M.insert_with_serial_keys(nation, new_rows, "n_nationkey")


@register(
    "m2_insert_if_absent",
    """
    WITH incoming AS (
      SELECT n_nationkey + 15 AS n_nationkey, n_name, n_regionkey FROM nation
    )
    SELECT i.* FROM incoming i
    WHERE NOT EXISTS (SELECT 1 FROM nation n WHERE n.n_nationkey = i.n_nationkey)
    """,
)
def m2_insert_if_absent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M2: uniqueness-guarded insert (check_And_Insert,
    lambda_function.py:338-396) — one anti-join drops already-present
    keys from the incoming batch."""
    nation = load_table(spark, sf_dir, "nation")
    incoming = nation.select(
        (F.col("n_nationkey") + 15).alias("n_nationkey"), "n_name", "n_regionkey"
    )
    return M.insert_if_absent(nation, incoming, "n_nationkey")


@register(
    "m3_update_by_key",
    """
    SELECT n_nationkey,
           CASE WHEN n_nationkey = 5 THEN 'RENAMED' ELSE n_name END AS n_name,
           n_regionkey
    FROM nation
    """,
)
def m3_update_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M3: keyed single-row update (update_tool_data,
    lambda_function.py:399-462) as a conditional column rewrite."""
    return M.update_by_key(
        load_table(spark, sf_dir, "nation"), "n_nationkey", 5, {"n_name": "RENAMED"}
    )


@register(
    "m3_update_from_batch",
    """
    SELECT n_nationkey,
           CASE WHEN n_nationkey % 5 = 0 THEN upper(n_name) || '_U'
                ELSE n_name END AS n_name,
           n_regionkey
    FROM nation
    """,
)
def m3_update_from_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M3 at scale: a batch of keyed updates applied via one broadcast
    left join + coalesce (the Delta-MERGE shape) — the big side never
    shuffles."""
    nation = load_table(spark, sf_dir, "nation")
    updates = nation.filter(F.col("n_nationkey") % 5 == 0).select(
        "n_nationkey", F.concat(F.upper("n_name"), F.lit("_U")).alias("n_name")
    )
    return M.update_from_batch(nation, updates, "n_nationkey")


@register(
    "m4_soft_delete_visible",
    """
    SELECT n_nationkey, n_name, n_regionkey, TRUE AS is_display
    FROM nation WHERE n_nationkey <> 3
    """,
)
def m4_soft_delete_visible(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4: soft delete + visibility view — the row is flagged
    is_display=FALSE (soft_delete_tool, lambda_function.py:549-592)
    and every read filters on the flag (lambda_function.py:31)."""
    nation = C.add_column_default(load_table(spark, sf_dir, "nation"), "is_display", True)
    return R.visible(M.soft_delete(nation, "n_nationkey", 3))


@register(
    "m5_hard_delete",
    "SELECT n_nationkey, n_name, n_regionkey FROM nation WHERE n_nationkey <> 7",
)
def m5_hard_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M5: hard delete (``DELETE FROM t WHERE s_no=18`` shape,
    sql/ddl_create_tables.sql:61-62)."""
    return M.hard_delete(load_table(spark, sf_dir, "nation"), "n_nationkey", 7)


@register(
    "m6_guarded_update",
    """
    SELECT n_nationkey,
           CASE WHEN n_nationkey >= 20 THEN 'GUARDED_' || n_name
                ELSE n_name END AS n_name,
           n_regionkey
    FROM nation
    """,
)
def m6_guarded_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M6: guarded update — updates for keys 20..29; only existing
    keys (20..24) apply, the rest are rejected (check_And_Update 404
    path, lambda_function.py:466-546)."""
    nation = load_table(spark, sf_dir, "nation")
    updates = spark.range(20, 30).select(
        F.col("id").cast("int").alias("n_nationkey"),
        F.lit("PLACEHOLDER").alias("n_name"),
    )
    # rebuild the updated name from the table side so the semantics
    # (prefix existing name) are visible in the oracle
    upd = updates.join(
        nation.select("n_nationkey", F.col("n_name").alias("__old")), "n_nationkey"
    ).select("n_nationkey", F.concat(F.lit("GUARDED_"), F.col("__old")).alias("n_name"))
    updated, _rejected = M.guarded_update(nation, upd, "n_nationkey")
    return updated


@register(
    "m6_guarded_rejected",
    """
    WITH updates AS (SELECT UNNEST(range(20, 30)) AS n_nationkey)
    SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey FROM updates u
    WHERE NOT EXISTS (SELECT 1 FROM nation n WHERE n.n_nationkey = u.n_nationkey)
    """,
)
def m6_guarded_rejected(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M6 404 path: the update keys that matched nothing
    (check_And_Update, lambda_function.py:468-475)."""
    nation = load_table(spark, sf_dir, "nation")
    updates = spark.range(20, 30).select(F.col("id").alias("n_nationkey"))
    rejected = updates.join(
        nation.withColumn("n_nationkey", F.col("n_nationkey").cast("long")),
        "n_nationkey",
        "left_anti",
    )
    return rejected.select("n_nationkey")


@register(
    "m9_merge_upsert",
    """
    WITH batch AS (
      SELECT n_nationkey, 'MERGED_' || n_name AS n_name, n_regionkey
      FROM nation WHERE n_nationkey < 5
      UNION ALL
      SELECT r_regionkey + 100 AS n_nationkey, r_name AS n_name,
             r_regionkey AS n_regionkey
      FROM region
    )
    SELECT t.n_nationkey,
           COALESCE(b.n_name, t.n_name) AS n_name,
           COALESCE(b.n_regionkey, t.n_regionkey) AS n_regionkey
    FROM nation t LEFT JOIN batch b ON t.n_nationkey = b.n_nationkey
    UNION ALL
    SELECT b.n_nationkey, b.n_name, b.n_regionkey FROM batch b
    WHERE NOT EXISTS (SELECT 1 FROM nation t WHERE t.n_nationkey = b.n_nationkey)
    """,
)
def m9_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE upsert (SCD1): one batch carrying both updates (keys
    0..4, renamed) and inserts (keys 100+), applied in a single
    merge_upsert — update-matched via broadcast join + coalesce,
    insert-unmatched via anti-join append."""
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    updates = nation.filter(F.col("n_nationkey") < 5).select(
        "n_nationkey",
        F.concat(F.lit("MERGED_"), F.col("n_name")).alias("n_name"),
        "n_regionkey",
    )
    inserts = region.select(
        (F.col("r_regionkey") + 100).alias("n_nationkey"),
        F.col("r_name").alias("n_name"),
        F.col("r_regionkey").alias("n_regionkey"),
    )
    return M.merge_upsert(nation, updates.unionByName(inserts), "n_nationkey")


@register(
    "m7_dedup_by_keys",
    """
    SELECT event_id, user_id, event_type, value FROM events
    QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                               ORDER BY event_id) = 1
    """,
)
def m7_dedup_by_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M7: duplicate-load avoidance (README.md:56) — deterministic
    keep-first-by-order dedup via a per-key window (reproducible,
    unlike dropDuplicates). One shuffle on the dedup keys."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    return M.dedup_by_keys(ev, ["user_id", "event_type"], "event_id")


@register(
    "m10_cdc_apply",
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
def m10_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC apply: a change feed with a superseded update (seq 1 loses
    to seq 2), deletes, and inserts, folded into the snapshot in one
    outer merge — latest-change-per-key via a window over the FEED
    only; the snapshot is never windowed or shuffled."""
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
    changes = u2.unionByName(u1).unionByName(d).unionByName(i)
    return M.apply_cdc(nation, changes, "n_nationkey")


@register(
    "pipe2_cdc_refresh",
    """
    SELECT n_regionkey, COUNT(*) AS n_nations,
           COUNT(DISTINCT n_name) AS n_names
    FROM (
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
    ) snap
    WHERE n_regionkey IS NOT NULL
    GROUP BY n_regionkey
    """,
)
def pipe2_cdc_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline composition: the m10 CDC fold feeds the downstream
    per-region rollup refresh in the SAME lazy plan — the
    change-feed-to-serving-table path (fold, then re-aggregate only
    the merged snapshot). The feed window runs over the feed, the
    rollup is map-side combined; the snapshot itself still never
    shuffles."""
    snap = m10_cdc_apply(spark, sf_dir)
    return (
        snap.filter(F.col("n_regionkey").isNotNull())
        .groupBy("n_regionkey")
        .agg(
            F.count(F.lit(1)).alias("n_nations"),
            F.countDistinct("n_name").alias("n_names"),
        )
    )


@register(
    "m11_dynamic_partition_overwrite",
    """
    SELECT event_type, COUNT(*) AS n FROM events
    WHERE event_type <> 'click' GROUP BY event_type
    UNION ALL
    SELECT 'click' AS event_type, COUNT(*) AS n FROM events
    WHERE event_type = 'click' AND value > 50
    """,
)
def m11_dynamic_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition overwrite — the warehouse-maintenance write
    the reference's UPDATE-in-place becomes on immutable storage:
    rewrite ONLY the partitions present in the incoming batch, leave
    every other partition's files untouched (partitionOverwriteMode=
    dynamic). Here the 'click' partition is replaced with a filtered
    refresh while four other partitions survive byte-identical; the
    oracle states the expected post-state per partition. At 100 TB
    this is the idempotent daily-refresh primitive: the job rewrites
    one day's directory, never the table."""
    ev = load_table(spark, sf_dir, "events")
    out = lifecycle.tempdir("m11_dpo_")
    ev.write.partitionBy("event_type").mode("overwrite").parquet(out)
    prior = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        refresh = ev.filter((F.col("event_type") == "click") & (F.col("value") > 50))
        refresh.write.partitionBy("event_type").mode("overwrite").parquet(out)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prior)
    return (
        spark.read.parquet(out)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "inc2_incremental_dedup",
    """
    WITH old_fp AS (
      SELECT DISTINCT md5(lower(text)) AS fp FROM documents WHERE doc_id < 250
    ),
    new_docs AS (
      SELECT doc_id, md5(lower(text)) AS fp FROM documents WHERE doc_id >= 250
    )
    SELECT doc_id FROM new_docs n
    WHERE NOT EXISTS (SELECT 1 FROM old_fp o WHERE o.fp = n.fp)
    QUALIFY ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) = 1
    """,
)
def inc2_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental exact dedup: a NEW document batch is deduplicated
    against the persisted fingerprint set of the existing corpus
    (anti-join) and within itself (min-id per fingerprint) — without
    ever re-scanning existing document bodies. This is how d1's
    full-corpus dedup runs day over day at 100 TB: the state that
    carries forward is the (16-byte hash) fingerprint table, ~0.1%
    of corpus bytes, and each increment shuffles only the new batch.
    Cites the reference's duplicate-load avoidance (README.md:56)."""
    from aws_csp_datapipeline_spark.functions.text import fingerprint

    d = load_table(spark, sf_dir, "documents")
    old_fp = (
        d.filter(F.col("doc_id") < 250)
        .select(fingerprint(F.col("text")).alias("fp"))
        .distinct()
    )
    new_docs = d.filter(F.col("doc_id") >= 250).select(
        "doc_id", fingerprint(F.col("text")).alias("fp")
    )
    fresh = new_docs.join(old_fp, "fp", "left_anti")
    keep = fresh.groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
    return keep.select("doc_id")


@register(
    "m12_pit_lookup",
    """
    WITH dim AS (
      SELECT n_nationkey, n_name,
             TIMESTAMP '2020-01-01 00:00:00' AS effective_from,
             CASE WHEN n_nationkey < 15 AND n_nationkey % 3 = 0
                  THEN TIMESTAMP '2024-01-15 00:00:00' END AS effective_to
      FROM nation
      UNION ALL
      SELECT n_nationkey, n_name || '_V2',
             TIMESTAMP '2024-01-15 00:00:00', CAST(NULL AS TIMESTAMP)
      FROM nation WHERE n_nationkey < 15 AND n_nationkey % 3 = 0
    )
    SELECT d.n_name AS version_name, COUNT(*) AS n_events
    FROM (SELECT user_id % 25 AS k, ts FROM events) f
    JOIN dim d ON f.k = d.n_nationkey
              AND f.ts >= d.effective_from
              AND (d.effective_to IS NULL OR f.ts < d.effective_to)
    GROUP BY d.n_name
    """,
)
def m12_pit_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time SCD2 read: events (spanning the 2024-01-15
    version cut) join the dimension version valid AT EACH event's
    timestamp — the query side of m8's versioned upsert, built by
    running scd2_apply then pit_lookup. Rows before the cut see V1
    names, rows after see V2. The versioned dim carries no broadcast
    hint (a data-scaled dim must not be forced into executors —
    AQE broadcasts this nation-sized one at runtime); the validity
    range rides as a residual predicate on the keyed join. Output is
    |versions| rows."""
    from aws_csp_datapipeline_spark.operators.scd import pit_lookup, scd2_apply

    n = load_table(spark, sf_dir, "nation")
    dim = n.select(
        "n_nationkey",
        "n_name",
        F.lit("2020-01-01").cast("timestamp").alias("effective_from"),
        F.lit(None).cast("timestamp").alias("effective_to"),
    )
    updates = n.filter(F.col("n_nationkey") < 15).select(
        "n_nationkey",
        F.when(F.col("n_nationkey") % 3 == 0, F.concat("n_name", F.lit("_V2")))
        .otherwise(F.col("n_name"))
        .alias("n_name"),
    )
    versioned = scd2_apply(
        dim, updates, key="n_nationkey", attrs=["n_name"], change_ts="2024-01-15"
    )
    ev = load_table(spark, sf_dir, "events").select(
        (F.col("user_id") % 25).alias("k"), "ts"
    )
    joined = pit_lookup(ev, versioned, "k", "n_nationkey", "ts")
    return joined.groupBy(F.col("n_name").alias("version_name")).agg(
        F.count(F.lit(1)).alias("n_events")
    )
