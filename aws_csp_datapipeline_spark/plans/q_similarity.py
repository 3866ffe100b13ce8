"""Oracle-paired similarity-search queries over the embeddings table."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aws_csp_datapipeline_spark.catalog import load_table, table_row_count
from aws_csp_datapipeline_spark.functions import similarity as S
from aws_csp_datapipeline_spark.plans.registry import register


@register(
    "s1_cosine_topk",
    """
    WITH q AS (
      SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0
    ),
    e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings WHERE vec_id <> 0
    )
    SELECT vec_id,
           ROUND(list_dot_product(v, qv)
                 / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))),
                 4) AS cos_sim
    FROM e, q
    ORDER BY cos_sim DESC, vec_id
    LIMIT 10
    """,
)
def s1_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 for one query vector (vec_id=0):
    the exact ANN baseline. Linear scan + TakeOrderedAndProject."""
    e = load_table(spark, sf_dir, "embeddings")
    q = S.query_vector(e, "vec_id", "embedding", 0)
    return S.cosine_topk(e.filter(F.col("vec_id") != 0), "embedding", "vec_id", q, k=10)


@register(
    "s2_knn_join",
    """
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    p AS (SELECT vec_id AS probe_id, v AS pv FROM e WHERE vec_id < 5),
    scored AS (
      SELECT p.probe_id, e.vec_id AS neighbor_id,
             ROUND(list_dot_product(e.v, p.pv)
                   / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(p.pv, p.pv))),
                   4) AS cos_sim
      FROM e, p WHERE e.vec_id <> p.probe_id
    )
    SELECT probe_id, neighbor_id, cos_sim FROM scored
    QUALIFY ROW_NUMBER() OVER (PARTITION BY probe_id
                               ORDER BY cos_sim DESC, neighbor_id) <= 3
    """,
)
def s2_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact k-NN join (k=3) for a 5-vector probe set — probe side
    broadcast, corpus never shuffles."""
    e = load_table(spark, sf_dir, "embeddings")
    probes = e.filter(F.col("vec_id") < 5)
    return S.knn_join(probes, e, "embedding", "vec_id", k=3)


@register("s3_lsh_ann_topk", None)
def s3_lsh_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH ANN (rows-only: approximate by design) —
    bucketed candidate generation + exact re-rank, the shape that
    scales to corpus-sized ANN via bucketed storage. Bucket width
    follows ``auto_lsh_planes`` (bits/table ≈ log2(N/32), 24 planes —
    the attested plan — at sf0.01) so per-probe candidate volume
    stays ~constant instead of a fixed 1/16 of the corpus."""
    e = load_table(spark, sf_dir, "embeddings")
    probes = e.filter(F.col("vec_id") < 5)
    return S.lsh_topk(
        probes,
        e,
        "embedding",
        "vec_id",
        k=3,
        n_planes=S.auto_lsh_planes(table_row_count(sf_dir, "embeddings"), n_tables=6),
        n_tables=6,
        dim=64,
    )


@register(
    "s6_l2_normalize",
    """
    WITH n AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    u AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM n)
    SELECT vec_id, CAST(generate_subscripts(v, 1) AS INTEGER) AS dim,
           ROUND(unnest(v) / nrm, 4) + 0.0 AS val
    FROM u
    """,
)
def s6_l2_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unit-L2 normalization of the embedding column (exploded to
    scalar cells for the compare) — the preprocessing step that turns
    cosine into plain dot product downstream."""
    from aws_csp_datapipeline_spark.functions.vectors import l2_normalize

    e = load_table(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id", F.posexplode(l2_normalize(F.col("embedding"))).alias("dim0", "val")
    ).select("vec_id", (F.col("dim0") + 1).alias("dim"), "val")


@register(
    "s7_quantize_uint8",
    """
    WITH n AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    m AS (SELECT vec_id, v, list_min(v) AS mn, list_max(v) AS mx FROM n)
    SELECT vec_id, CAST(generate_subscripts(v, 1) AS INTEGER) AS dim,
           CAST(CASE WHEN mx = mn THEN 0
                ELSE least(255, CAST(FLOOR((unnest(v) - mn) * 255.999 / (mx - mn)) AS INT))
           END AS INTEGER) AS q
    FROM m
    """,
)
def s7_quantize_uint8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector min-max uint8 quantization (4× storage compression
    for ANN candidate sets), FLOOR-based so cast semantics are
    engine-portable."""
    from aws_csp_datapipeline_spark.functions.vectors import quantize_uint8

    e = load_table(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id", F.posexplode(quantize_uint8(F.col("embedding"))).alias("dim0", "q")
    ).select("vec_id", (F.col("dim0") + 1).alias("dim"), "q")


@register(
    "s8_cosine_neardup_pairs",
    """
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           ROUND(list_dot_product(a.v, b.v)
                 / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))),
                 4) AS cos_sim
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE list_dot_product(a.v, b.v)
          / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.45
    """,
)
def s8_cosine_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs above a threshold — brute-force
    all-pairs here (exact baseline); at corpus scale the same
    threshold query runs over LSH buckets (s3's bucketing) so the
    join touches candidate pairs only."""
    e = load_table(spark, sf_dir, "embeddings")
    a = e.select(F.col("vec_id").alias("vec_a"), S._as_double(F.col("embedding")).alias("va"))
    b = e.select(F.col("vec_id").alias("vec_b"), S._as_double(F.col("embedding")).alias("vb"))
    j = a.join(b, F.col("vec_a") < F.col("vec_b"))
    sim = S.cosine(F.col("va"), F.col("vb"))
    return (
        j.filter(sim >= 0.45)
        .select("vec_a", "vec_b", F.round(sim, 4).alias("cos_sim"))
    )


@register("s5_ivf_ann_topk", None)
def s5_ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate k-NN (rows-only: index-dependent): KMeans
    coarse quantizer (√N cells via ``auto_ivf_cells`` — 16 at
    sf0.01, the historical attested plan; 45 at sf0.1, ~450 at the
    200k-vector sf10 corpus), probes search their 4 nearest cells
    only — the index shape that bounds per-query work to
    n_probe/n_cells of the corpus, which stays a SHRINKING fraction
    only if cells track corpus size (SCALE.md "d10 cell-count scale
    rule" — same lesson, probe form)."""
    e = load_table(spark, sf_dir, "embeddings")
    probes = e.filter(F.col("vec_id") < 5)
    # corpus-size knob from the parquet footer — zero Spark jobs at
    # plan-build time (catalog.table_row_count)
    n = table_row_count(sf_dir, "embeddings")
    return S.ivf_topk(
        probes,
        e,
        "embedding",
        "vec_id",
        k=3,
        n_cells=S.auto_ivf_cells(n),
        n_probe=4,
        n_rows=n,
    )


@register(
    "s4_centroid_per_label",
    """
    WITH e AS (SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    x AS (SELECT label, unnest(v) AS val,
                 generate_subscripts(v, 1) AS dim
          FROM e)
    SELECT label, COUNT(DISTINCT dim) AS n_dims,
           ROUND(SUM(val) / 64.0, 4) AS mass
    FROM x GROUP BY label
    """,
)
def s4_centroid_per_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding mass (posexplode + aggregate) — the
    IVF-style centroid-build shape: one shuffle keyed by label."""
    e = load_table(spark, sf_dir, "embeddings")
    ex = e.select(
        "label", F.posexplode(F.col("embedding")).alias("dim0", "val")
    ).select("label", (F.col("dim0") + 1).alias("dim"), F.col("val").cast("double"))
    return ex.groupBy("label").agg(
        F.countDistinct("dim").alias("n_dims"),
        F.round(F.sum("val") / F.lit(64.0), 4).alias("mass"),
    )


@register(
    "s9_array_battery",
    """
    WITH n AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
    SELECT vec_id,
           CAST(len(list_filter(v, x -> x > 0)) AS INTEGER) AS n_pos,
           ROUND(list_aggregate(list_transform(v, x -> greatest(x, 0.0)), 'sum'),
                 4) + 0.0 AS sum_clipped,
           ROUND(list_max(list_transform(v, x -> abs(x))), 4) + 0.0 AS max_abs,
           ROUND(list_aggregate(v[1:3], 'sum'), 4) + 0.0 AS head3_sum
    FROM n
    """,
)
def s9_array_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array-function battery (filter / transform /
    aggregate / slice) over the embedding column — the building
    blocks of JVM-side vector math, all inside codegen, zero UDFs."""
    e = load_table(spark, sf_dir, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    bound = F.element_at(F.array(v), 1)  # bind once; see word_shingles
    def battery(vv):
        zero = F.lit(0.0)
        return F.struct(
            F.size(F.filter(vv, lambda x: x > 0)).alias("n_pos"),
            (F.round(
                F.aggregate(vv, zero, lambda acc, x: acc + F.greatest(x, zero)), 4
            ) + 0.0).alias("sum_clipped"),
            (F.round(F.array_max(F.transform(vv, lambda x: F.abs(x))), 4) + 0.0).alias(
                "max_abs"
            ),
            (F.round(
                F.aggregate(F.slice(vv, 1, 3), zero, lambda acc, x: acc + x), 4
            ) + 0.0).alias("head3_sum"),
        )
    s = F.element_at(F.transform(F.array(bound), battery), 1)
    return e.select("vec_id", s.alias("s")).select(
        "vec_id", "s.n_pos", "s.sum_clipped", "s.max_abs", "s.head3_sum"
    )


@register(
    "s10_hybrid_rrf",
    r"""
    WITH dl AS (
      SELECT doc_id,
             len(regexp_split_to_array(trim(lower(text)), '\s+')) AS dl
      FROM documents
    ), tok AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
      FROM documents
    ), tf AS (
      SELECT doc_id, token, COUNT(*) AS tf FROM tok
      WHERE token IN ('table', 'merge', 'window') GROUP BY doc_id, token
    ), dft AS (
      SELECT token, COUNT(*) AS df FROM tf GROUP BY token
    ), scal AS (
      SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
             (SELECT AVG(dl) FROM dl) AS avgdl
    ), lex AS (
      SELECT doc_id,
             row_number() OVER (
               ORDER BY ROUND(SUM(LN((n_docs - df + 0.5) / (df + 0.5) + 1.0)
                 * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))), 6) DESC,
               doc_id) AS r
      FROM tf JOIN dl USING (doc_id) JOIN dft USING (token), scal
      GROUP BY doc_id
    ), q AS (
      SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0
    ), vec AS (
      SELECT vec_id AS doc_id,
             row_number() OVER (
               ORDER BY ROUND(list_dot_product(v, qv)
                 / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))),
                 6) DESC, vec_id) AS r
      FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings WHERE vec_id <> 0), q
    )
    SELECT l.doc_id,
           ROUND(1.0 / (60 + l.r) + 1.0 / (60 + v.r), 6) AS rrf
    FROM lex l JOIN vec v ON l.doc_id = v.doc_id
    ORDER BY rrf DESC, l.doc_id LIMIT 10
    """,
)
def s10_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 lexical ranking fused with cosine
    vector ranking by reciprocal-rank fusion (k=60) — the standard
    two-tower retrieval merge. Both rankings rank on ROUNDED scores
    with an id tie-break so the order is engine-portable; every
    matched doc's rank feeds the reciprocal-rank sum (no top-k
    substitute exists), so both ranks come from the DISTRIBUTED
    range-partitioned rank (`functions/rank.global_row_number`)
    instead of a single-partition window — the fusion inputs can be
    whole-corpus score lists without funnelling any row through one
    task."""
    from aws_csp_datapipeline_spark.functions.rank import global_row_number
    from aws_csp_datapipeline_spark.functions.text import bm25_scores
    from aws_csp_datapipeline_spark.functions.similarity import cosine_scores

    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings")
    lex_rk = global_row_number(
        bm25_scores(d, ["table", "merge", "window"]),
        [F.desc(F.round("score", 6)), F.asc("doc_id")],
        out="r_lex",
        n_hint=table_row_count(sf_dir, "documents"),
    )
    lex = lex_rk.select("doc_id", "r_lex")
    q = S.query_vector(e, "vec_id", "embedding", 0)
    vec_rk = global_row_number(
        cosine_scores(e.filter(F.col("vec_id") != 0), "embedding", "vec_id", q),
        [F.desc(F.round("cos_sim", 6)), F.asc("vec_id")],
        out="r_vec",
        n_hint=table_row_count(sf_dir, "embeddings"),
    )
    vec = vec_rk.select(F.col("vec_id").alias("doc_id"), "r_vec")
    return (
        lex.join(vec, "doc_id")
        .select(
            "doc_id",
            F.round(
                1.0 / (60 + F.col("r_lex")) + 1.0 / (60 + F.col("r_vec")), 6
            ).alias("rrf"),
        )
        .orderBy(F.desc("rrf"), F.asc("doc_id"))
        .limit(10)
    )


@register(
    "s11_embedding_dim_stats",
    """
    SELECT dim,
           ROUND(AVG(v), 6) + 0 AS mean_v,
           ROUND(stddev_samp(v), 6) AS std_v,
           ROUND(MIN(v), 6) AS min_v,
           ROUND(MAX(v), 6) AS max_v
    FROM (
      SELECT CAST(generate_subscripts(embedding, 1) AS INTEGER) AS dim,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings
    ) GROUP BY dim
    """,
)
def s11_embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding statistics (mean/std/min/max) — the
    feature-scaling / drift-profiling pass over a vector column. One
    posexplode + one groupBy keyed by dimension index: the shuffle
    width is |dims| x partials, independent of corpus size."""
    e = load_table(spark, sf_dir, "embeddings")
    ex = e.select(F.posexplode("embedding").alias("dim0", "v")).select(
        (F.col("dim0") + 1).alias("dim"), F.col("v").cast("double").alias("v")
    )
    return ex.groupBy("dim").agg(
        F.round(F.avg("v"), 6).alias("mean_v"),
        F.round(F.stddev_samp("v"), 6).alias("std_v"),
        F.round(F.min("v"), 6).alias("min_v"),
        F.round(F.max("v"), 6).alias("max_v"),
    )


@register(
    "s13_centroid_distances",
    """
    WITH dims AS (
      SELECT label, generate_subscripts(embedding, 1) AS dim,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings
    ),
    cent AS (SELECT label, dim, AVG(v) AS c FROM dims GROUP BY label, dim),
    norms AS (SELECT label, sqrt(SUM(c * c)) AS nrm FROM cent GROUP BY label),
    dots AS (
      SELECT a.label AS label_a, b.label AS label_b, SUM(a.c * b.c) AS dot
      FROM cent a JOIN cent b ON a.dim = b.dim AND a.label < b.label
      GROUP BY 1, 2
    )
    SELECT label_a, label_b, ROUND(dot / (x.nrm * y.nrm), 6) + 0 AS centroid_cos
    FROM dots
    JOIN norms x ON label_a = x.label
    JOIN norms y ON label_b = y.label
    """,
)
def s13_centroid_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cosine similarity between label centroids — the
    cluster-separation diagnostic run after embedding or after IVF
    training (s5's KMeans cells get the same check). Per-dimension
    means reduce the corpus to |labels| x |dims| rows in one partial-
    aggregated shuffle; the pairwise stage runs on that constant-size
    centroid table (self-join on dim), so corpus growth only touches
    the first aggregation."""
    e = load_table(spark, sf_dir, "embeddings")
    dims = e.select(
        "label", F.posexplode("embedding").alias("dim", "v")
    ).withColumn("v", F.col("v").cast("double"))
    cent = dims.groupBy("label", "dim").agg(F.avg("v").alias("c"))
    norms = cent.groupBy("label").agg(
        F.sqrt(F.sum(F.col("c") * F.col("c"))).alias("nrm")
    )
    a = cent.select(
        F.col("label").alias("label_a"), F.col("dim").alias("dim_a"), F.col("c").alias("ca")
    )
    b = cent.select(
        F.col("label").alias("label_b"), F.col("dim").alias("dim_b"), F.col("c").alias("cb")
    )
    dots = (
        a.join(b, (a.dim_a == b.dim_b) & (a.label_a < b.label_b))
        .groupBy("label_a", "label_b")
        .agg(F.sum(F.col("ca") * F.col("cb")).alias("dot"))
    )
    na = norms.select(F.col("label").alias("label_a"), F.col("nrm").alias("nrm_a"))
    nb = norms.select(F.col("label").alias("label_b"), F.col("nrm").alias("nrm_b"))
    return (
        dots.join(F.broadcast(na), "label_a")
        .join(F.broadcast(nb), "label_b")
        .select(
            "label_a",
            "label_b",
            F.round(F.col("dot") / (F.col("nrm_a") * F.col("nrm_b")), 6).alias(
                "centroid_cos"
            ),
        )
    )


@register("pipe3_ann_recall", None)
def pipe3_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-evaluating ANN pipeline: recall@10 of the LSH index
    against the exact k-NN ground truth for a 20-vector probe set,
    in one job (rows-only: the LSH side depends on Spark's hash
    family). This is the index-quality gate a production ANN
    deployment recomputes after each (re)build — the eval is itself
    a distributed query, not a driver-side loop. One row out:
    probe count and mean recall."""
    e = load_table(spark, sf_dir, "embeddings")
    probes = e.filter(F.col("vec_id") < 20)
    exact = S.knn_join(probes, e, "embedding", "vec_id", k=10).select(
        "probe_id", "neighbor_id"
    )
    approx = S.lsh_topk(
        probes,
        e,
        "embedding",
        "vec_id",
        k=10,
        n_planes=S.auto_lsh_planes(table_row_count(sf_dir, "embeddings"), n_tables=6),
        n_tables=6,
        dim=64,
    ).select("probe_id", F.col("neighbor_id").alias("ann_neighbor_id"))
    hits = exact.join(
        approx,
        (exact.probe_id == approx.probe_id)
        & (exact.neighbor_id == approx.ann_neighbor_id),
    ).groupBy(exact.probe_id).agg(F.count(F.lit(1)).alias("n_hits"))
    per_probe = exact.groupBy("probe_id").agg(F.count(F.lit(1)).alias("n_true"))
    return (
        per_probe.join(F.broadcast(hits), "probe_id", "left")
        .select(
            (F.coalesce(F.col("n_hits"), F.lit(0)) / F.col("n_true")).alias("recall")
        )
        .agg(
            F.count(F.lit(1)).alias("n_probes"),
            F.round(F.avg("recall"), 4).alias("mean_recall_at_10"),
        )
    )


@register(
    "s14_truncated_recall",
    """
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings WHERE vec_id <> 0
    ),
    q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
          FROM embeddings WHERE vec_id = 0),
    full_rank AS (
      SELECT vec_id,
             ROW_NUMBER() OVER (
               ORDER BY ROUND(list_dot_product(v, qv)
                 / (sqrt(list_dot_product(v, v))
                    * sqrt(list_dot_product(qv, qv))), 6) DESC, vec_id) AS r
      FROM e, q
    ),
    trunc_rank AS (
      SELECT vec_id,
             ROW_NUMBER() OVER (
               ORDER BY ROUND(list_dot_product(v[1:16], qv[1:16])
                 / (sqrt(list_dot_product(v[1:16], v[1:16]))
                    * sqrt(list_dot_product(qv[1:16], qv[1:16]))), 6) DESC,
               vec_id) AS r
      FROM e, q
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_overlap,
           ROUND(COUNT(*) / 10.0, 2) AS recall_at_10
    FROM full_rank f JOIN trunc_rank t USING (vec_id)
    WHERE f.r <= 10 AND t.r <= 10
    """,
)
def s14_truncated_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style dimension-truncation quality: recall@10 of
    exact search over the FIRST 16 dims vs the full 64-dim ground
    truth for one query — the measurement that justifies (or vetoes)
    a 4x cheaper first-stage index. Fully deterministic (both
    rankings order by 6-dp-rounded cosine with id tie-breaks), so it
    oracle-pairs, unlike the hash-dependent LSH/IVF gates. Both
    rankings are corpus scans + top-k, and the top-10 sets are
    selected with orderBy+limit — TakeOrderedAndProject
    (per-partition heaps + k-list merge), never a corpus-wide rank
    window: only MEMBERSHIP in the top 10 matters here, so the
    global row_number the previous form computed for every corpus
    row was pure waste."""
    e = load_table(spark, sf_dir, "embeddings")
    qfull = S.query_vector(e, "vec_id", "embedding", 0)
    corpus = e.filter(F.col("vec_id") != 0)
    full_scores = S.cosine_scores(corpus, "embedding", "vec_id", qfull)
    trunc_corpus = corpus.withColumn("emb16", F.slice("embedding", 1, 16))
    trunc_scores = S.cosine_scores(trunc_corpus, "emb16", "vec_id", qfull[:16])
    f10 = (
        full_scores.orderBy(F.desc(F.round("cos_sim", 6)), F.asc("vec_id"))
        .limit(10)
        .select("vec_id")
    )
    t10 = (
        trunc_scores.orderBy(F.desc(F.round("cos_sim", 6)), F.asc("vec_id"))
        .limit(10)
        .select("vec_id")
    )
    return f10.join(t10, "vec_id").agg(
        F.count(F.lit(1)).alias("n_overlap"),
        F.round(F.count(F.lit(1)) / 10.0, 2).alias("recall_at_10"),
    )


@register(
    "s15_softmax_entropy",
    """
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ),
    z AS (
      SELECT vec_id, e, list_sum(list_transform(e, x -> exp(x))) AS zsum,
             list_sum(list_transform(e, x -> x * exp(x))) AS xsum
      FROM v
    )
    SELECT vec_id, ROUND(ln(zsum) - xsum / zsum, 4) AS softmax_entropy
    FROM z
    """,
)
def s15_softmax_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized scalar pandas_udf surface: per-row softmax entropy
    of the embedding (H = ln Σeˣ − Σx·eˣ/Σeˣ — the attention-
    sharpness diagnostic), computed with numpy over Arrow batches.
    This is the @pandas_udf lane of the custom-operator ladder —
    used when per-element math outgrows higher-order functions but
    stays embarrassingly columnar: one Arrow transfer per batch,
    ~100x over a row-at-a-time Python UDF, still a narrow no-shuffle
    projection."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    # no type hints: the module's `from __future__ import annotations`
    # stringifies them and the locally-imported `pd` can't resolve;
    # untyped + returnType defaults to the SCALAR pandas UDF
    @pandas_udf("double")
    def softmax_entropy(emb):
        out = np.empty(len(emb))
        for i, v in enumerate(emb):
            x = np.asarray(v, dtype=np.float64)
            ex = np.exp(x)
            z = ex.sum()
            out[i] = np.log(z) - float((x * ex).sum()) / z
        return pd.Series(out)

    e = load_table(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id", F.round(softmax_entropy("embedding"), 4).alias("softmax_entropy")
    )


def _s16_oracle() -> str:
    """DuckDB twin of the JL projection: identical literal sign
    matrix (vectors.rademacher_signs), identical 1/sqrt(k) scaling
    and ROUND(…,4)+0.0 discipline."""
    from aws_csp_datapipeline_spark.functions.vectors import rademacher_signs

    signs = rademacher_signs(8, 64)
    cols = ",\n           ".join(
        "ROUND(list_dot_product(v, [{lits}]) / sqrt(8.0), 4) + 0.0 AS p{j}".format(
            lits=", ".join(str(s) for s in row), j=j
        )
        for j, row in enumerate(signs)
    )
    return f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    )
    SELECT vec_id,
           {cols}
    FROM e
    """


@register("s16_random_projection", _s16_oracle())
def s16_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss dimensionality reduction: 64-d float
    embeddings → 8-d via a deterministic Rademacher ±1 matrix
    (Achlioptas 2003). The scale rationale and codegen shape live in
    ``functions/vectors.random_projection``; unbiasedness
    (E‖proj‖² = ‖v‖²) is property-tested in
    tests/test_property_operators.py."""
    from aws_csp_datapipeline_spark.functions.vectors import (
        rademacher_signs,
        random_projection,
    )

    e = load_table(spark, sf_dir, "embeddings")
    signs = rademacher_signs(8, 64)
    return e.select("vec_id", *random_projection(F.col("embedding"), signs))


@register(
    "s17_pairwise_cosine_profile",
    """
    WITH h AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             substr(md5(CAST(vec_id AS VARCHAR)), 1, 2) AS bkt,
             md5(CAST(vec_id AS VARCHAR)) AS hh
      FROM embeddings
    ),
    r AS (
      SELECT vec_id, v, bkt,
             row_number() OVER (PARTITION BY bkt ORDER BY hh, vec_id) AS rn
      FROM h
    ),
    p AS (
      SELECT a.v AS va, b.v AS vb
      FROM r a JOIN r b
        ON a.bkt = b.bkt AND b.rn = a.rn + 1 AND a.rn % 2 = 1
    ),
    cs AS (
      SELECT list_dot_product(va, vb)
             / (sqrt(list_dot_product(va, va)) * sqrt(list_dot_product(vb, vb)))
               AS c
      FROM p
    )
    SELECT CAST(floor(c * 10) AS INT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           ROUND(AVG(c), 4) + 0 AS avg_cos
    FROM cs GROUP BY 1 ORDER BY 1
    """,
)
def s17_pairwise_cosine_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space health profile: cosine similarity distribution
    over a deterministic ~N/2-pair sample (md5-bucketed consecutive
    pairing — no RNG, no all-pairs join). A healthy embedding space
    shows a broad distribution centered near 0; mass piled at high
    cosine means representation collapse / anisotropy (the check run
    before trusting `d10`/`s5` geometry). Pairing is a per-bucket
    window + one equi-join on (bucket, rank) — linear in N with 256
    independent buckets, vs the quadratic all-pairs audit."""
    e = load_table(spark, sf_dir, "embeddings")
    from pyspark.sql import Window

    from aws_csp_datapipeline_spark.functions.similarity import _as_double, dot

    h = e.select(
        "vec_id",
        _as_double(F.col("embedding")).alias("v"),
        F.substring(F.md5(F.col("vec_id").cast("string")), 1, 2).alias("bkt"),
        F.md5(F.col("vec_id").cast("string")).alias("hh"),
    )
    w = Window.partitionBy("bkt").orderBy("hh", "vec_id")
    r = h.withColumn("rn", F.row_number().over(w))
    a = r.select("bkt", "rn", F.col("v").alias("va"))
    b = r.select(
        "bkt", (F.col("rn") - 1).alias("rn"), F.col("v").alias("vb")
    )
    pairs = a.join(b, ["bkt", "rn"]).filter(F.col("rn") % 2 == 1)
    c = dot(F.col("va"), F.col("vb")) / (
        F.sqrt(dot(F.col("va"), F.col("va")))
        * F.sqrt(dot(F.col("vb"), F.col("vb")))
    )
    return (
        pairs.select(c.alias("c"))
        .groupBy(F.floor(F.col("c") * 10).cast("int").alias("bucket"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.round(F.avg("c"), 4).alias("avg_cos"),
        )
        .orderBy("bucket")
    )


@register("s18_persisted_ivf_probe", None)
def s18_persisted_ivf_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PERSISTED form of s5's IVF index (rows-only:
    index-dependent): build the cell-partitioned parquet index once
    (`functions.ann_index.build_ivf_index`), then answer a probe by
    scanning ONLY its n_probe nearest cell directories — the
    written-once / partition-pruned-probes artifact that amortizes
    index cost over every query at corpus scale (s5 re-derives the
    index per session). Probing with n_probe = n_cells reproduces
    brute force exactly (tests/test_ann_index.py pins that equality
    plus the pruning itself via inputFiles()). The index is a
    corpus-fingerprint-keyed CACHED artifact (rebuild-if-absent,
    ``functions/artifact_cache.py``): the first call per corpus pays
    the build, every later call — the steady state this lane exists
    to model — runs only the pruned probe (the economics SCALE.md
    measured: 0.7-2 s probes vs 27 s builds at sf100)."""
    from aws_csp_datapipeline_spark.functions import ann_index as AI
    from aws_csp_datapipeline_spark.functions.artifact_cache import (
        get_or_build,
    )

    e = load_table(spark, sf_dir, "embeddings")
    n_cells = S.auto_ivf_cells(table_row_count(sf_dir, "embeddings"))

    def build(staging: str) -> None:
        AI.build_ivf_index(e, "embedding", "vec_id", staging, n_cells=n_cells)

    idx = get_or_build(
        "ivf_index", sf_dir, ["embeddings"], {"n_cells": n_cells}, build
    )
    meta = AI.read_meta(idx)
    qv = [
        float(x)
        for x in e.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    ]
    return AI.probe_ivf_index(
        spark, idx, qv, k=10, n_probe=min(4, meta["n_cells"]), exclude_id=0
    )


@register("s19_pq_adc_topk", None)
def s19_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-compressed ANN (rows-only: codebook-dependent): embeddings
    are product-quantized to m=8 per-subspace codes plus an exact
    stored norm (~3% of the raw bytes), the query ADC-scores the
    codes via driver-precomputed lookup tables (m element_at's per
    row, JVM-side), and the shortlist alone is exact-reranked against
    full vectors — the IVF-PQ read path's compression half
    (`functions/pq.py`; recall/reconstruction floors in
    tests/test_pq.py)."""
    from aws_csp_datapipeline_spark.functions import pq as PQ

    e = load_table(spark, sf_dir, "embeddings")
    books = PQ.train_pq_codebooks(e, "embedding", m=8, k=16)
    enc = PQ.pq_encode(e, "embedding", books)
    qv = [float(x) for x in e.filter(F.col("vec_id") == 0).first()["embedding"]]
    return PQ.pq_adc_topk(
        enc.filter(F.col("vec_id") != 0),
        books,
        qv,
        "vec_id",
        k=10,
        shortlist=50,
        rerank_against=e.filter(F.col("vec_id") != 0),
        vec_col="embedding",
    )


@register("s20_ivfpq_topk", None)
def s20_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSED flagship ANN artifact (rows-only: index- and
    codebook-dependent): one persisted IVF-PQ index — cell-partitioned
    parquet holding (id, codes, vnorm) at ~3% of raw bytes — probed
    end-to-end: prune to the n_probe nearest cell DIRECTORIES
    (structural pruning, no listing of other cells), ADC-score only
    the codes there, exact-rerank the shortlist against full vectors
    fetched for finalists only. This is s18's pruning × s19's
    compression in one artifact (`functions/ann_index.py::
    build_ivf_pq_index` / `probe_ivf_pq_index`); sf100 economics:
    119.5 s build, 20.3 MB index (39×), 1.7-6 s probes (SCALE.md).
    Recall floor + rerank exactness pinned in tests/test_ann_index.py
    (full-probe == brute force) and tests/test_pq.py. The index is a
    corpus-fingerprint-keyed CACHED artifact (rebuild-if-absent):
    first call per corpus builds, steady state runs only the probe —
    the amortization the persisted form exists for."""
    from aws_csp_datapipeline_spark.functions import ann_index as AI
    from aws_csp_datapipeline_spark.functions.artifact_cache import (
        get_or_build,
    )

    e = load_table(spark, sf_dir, "embeddings")
    n_cells = S.auto_ivf_cells(table_row_count(sf_dir, "embeddings"))

    def build(staging: str) -> None:
        AI.build_ivf_pq_index(
            e, "embedding", "vec_id", staging,
            n_cells=n_cells, pq_m=8, pq_k=16,
        )

    idx = get_or_build(
        "ivfpq_index", sf_dir, ["embeddings"],
        {"n_cells": n_cells, "pq_m": 8, "pq_k": 16}, build,
    )
    meta = AI.read_meta(idx)
    qv = [
        float(x)
        for x in e.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    ]
    return AI.probe_ivf_pq_index(
        spark, idx, qv, k=10, n_probe=min(4, meta["n_cells"]),
        rerank_against=e, exclude_id=0,
    )
