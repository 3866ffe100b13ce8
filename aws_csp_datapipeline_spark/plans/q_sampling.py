"""Oracle-paired queries for deterministic sampling / dataset splits
(the training-data pipeline layer: reproducible train/test splits and
per-class downsampling over the documents corpus)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from aws_csp_datapipeline_spark import lifecycle
from aws_csp_datapipeline_spark.catalog import load_table, table_row_count
from aws_csp_datapipeline_spark.functions import sampling as SMP
from aws_csp_datapipeline_spark.plans.registry import register


@register(
    "tt1_hash_split",
    """
    SELECT doc_id,
           CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'c0'
                THEN 'train' ELSE 'test' END AS split
    FROM documents
    """,
)
def tt1_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 75/25 train/test split by content hash of the
    key — stable under repartitioning and corpus growth (a frozen
    split at 100 TB). Pure narrow projection, no shuffle, no RNG."""
    docs = load_table(spark, sf_dir, "documents")
    return SMP.hash_split(docs, "doc_id", train_frac=0.75).select("doc_id", "split")


@register(
    "tt2_split_balance",
    """
    SELECT CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'c0'
                THEN 'train' ELSE 'test' END AS split,
           lang, COUNT(*) AS n_docs
    FROM documents
    GROUP BY 1, 2
    """,
)
def tt2_split_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-quality audit: per-(split, language) document counts —
    the check that a hash split didn't skew any class. One constant-
    size shuffle of (2 x |langs|) groups at any corpus size."""
    docs = SMP.hash_split(load_table(spark, sf_dir, "documents"), "doc_id", 0.75)
    return docs.groupBy("split", "lang").agg(F.count(F.lit(1)).alias("n_docs"))


@register(
    "tt3_stratified_sample",
    """
    SELECT doc_id, lang
    FROM documents
    WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) <
          CASE lang WHEN 'en' THEN '40' WHEN 'de' THEN 'c0'
                    WHEN 'es' THEN 'c0' WHEN 'fr' THEN 'c0'
                    WHEN 'zh' THEN 'ff' ELSE '00' END
    """,
)
def tt3_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified downsample for class rebalancing:
    keep 25% of dominant 'en', 75% of mid classes, ~all of rare 'zh'
    — assignment reproducible row-for-row (unlike sampleBy's
    partitioning-dependent RNG). Narrow, no shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    sampled = SMP.stratified_sample(
        docs, "lang", "doc_id",
        {"en": 0.25, "de": 0.75, "es": 0.75, "fr": 0.75, "zh": 255 / 256},
    )
    return sampled.select("doc_id", "lang")


@register(
    "tt4_per_group_sample",
    """
    SELECT doc_id, lang FROM (
      SELECT doc_id, lang,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 2),
                        doc_id) AS rn
      FROM documents) WHERE rn <= 3
    """,
)
def tt4_per_group_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 3-docs-per-language sample (eval-set carving,
    per-class inspection): hash-ordered row_number inside each group,
    reproducible row-for-row across runs and engines."""
    docs = load_table(spark, sf_dir, "documents")
    return SMP.per_group_sample(docs, "lang", "doc_id", 3).select("doc_id", "lang")


@register(
    "tt5_split_leakage",
    """
    WITH d AS (
      SELECT doc_id, md5(lower(text)) AS fp,
             CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'c0'
                  THEN 'train' ELSE 'test' END AS split
      FROM documents)
    SELECT a.doc_id AS test_doc, b.doc_id AS train_doc
    FROM d a JOIN d b ON a.fp = b.fp
    WHERE a.split = 'test' AND b.split = 'train'
    """,
)
def tt5_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test contamination audit: exact-content (normalized-text
    fingerprint) matches across the split boundary — the
    decontamination primitive run before any eval set ships. The join
    carries only (fingerprint, id) pairs — document bodies never
    shuffle — and the test side is tiny, so AQE broadcasts it against
    the train side at any corpus scale."""
    from aws_csp_datapipeline_spark.functions.text import fingerprint

    docs = SMP.hash_split(load_table(spark, sf_dir, "documents"), "doc_id", 0.75)
    narrow = docs.select("doc_id", fingerprint(F.col("text")).alias("fp"), "split")
    test = narrow.filter(F.col("split") == "test").select(
        F.col("doc_id").alias("test_doc"), "fp"
    )
    train = narrow.filter(F.col("split") == "train").select(
        F.col("doc_id").alias("train_doc"), "fp"
    )
    return test.join(train, "fp").select("test_doc", "train_doc")


@register(
    "tt6_greedy_pack",
    r"""
    WITH n_t AS (
      SELECT lang, doc_id,
             len(regexp_split_to_array(trim(lower(text)), '\s+')) AS n
      FROM documents
    ), packed AS (
      SELECT lang, n,
             CAST(COALESCE(SUM(n) OVER (PARTITION BY lang ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 2048
                  AS BIGINT) AS bin_id
      FROM n_t
    )
    SELECT lang, bin_id, COUNT(*) AS n_docs, CAST(SUM(n) AS BIGINT) AS total_tokens
    FROM packed GROUP BY lang, bin_id
    """,
)
def tt6_greedy_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic greedy sequence packing: docs stream in key
    order, the exclusive running token count divided by the 2048
    budget is the bin id — the batch-assembly step before training.
    Packing runs PER SHARD (here: per language) so the running-sum
    window never needs a single global partition; at corpus scale the
    shard key is (lang, shard_id) with the same plan shape."""
    from pyspark.sql import Window

    from aws_csp_datapipeline_spark.functions.text import token_count

    d = load_table(spark, sf_dir, "documents")
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    n_t = d.select("lang", "doc_id", token_count(F.col("text")).alias("n"))
    packed = n_t.withColumn(
        "bin_id",
        F.floor(F.coalesce(F.sum("n").over(w), F.lit(0)) / F.lit(2048)).cast("long"),
    )
    return packed.groupBy("lang", "bin_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n").cast("long").alias("total_tokens"),
    )


def _tt7_sql() -> str:
    from aws_csp_datapipeline_spark.plans.q_text import QUALITY_EXPR_SQL

    return f"""
    WITH scored AS (
      SELECT doc_id, {QUALITY_EXPR_SQL} AS quality FROM documents
    )
    SELECT doc_id
    FROM scored
    WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) <
          lower(lpad(to_hex(CAST(round(quality * 255) AS INT)), 2, '0'))
    """


@register("tt7_weighted_sample", _tt7_sql())
def tt7_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted deterministic sampling (data curation): each
    document's keep-probability is its quality score — high-quality
    text is retained, boilerplate decimated — with the keep decision
    a pure function of (doc_id, text): reproducible across runs,
    partitionings, and engines. Narrow projection, no shuffle."""
    from aws_csp_datapipeline_spark.functions.text import quality_score

    docs = load_table(spark, sf_dir, "documents")
    thresh = F.lower(
        F.lpad(F.hex(F.round(quality_score(F.col("text")) * 255).cast("int")), 2, "0")
    )
    bucket = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    return docs.filter(bucket < thresh).select("doc_id")


def _tt10_sql() -> str:
    from aws_csp_datapipeline_spark.plans.q_text import QUALITY_EXPR_SQL

    return f"""
    WITH scored AS (
      SELECT doc_id, source, {QUALITY_EXPR_SQL} AS q FROM documents
    )
    SELECT doc_id, source, CAST(rk AS BIGINT) AS rk
    FROM (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY q DESC, doc_id) AS rk
      FROM scored
    )
    WHERE rk <= 15
    """


@register("tt10_per_source_cap", _tt10_sql())
def tt10_per_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document cap (per-domain caps in crawl curation: no
    single feed may dominate the training mix): keep the K
    highest-quality docs per source, deterministic tie-break on
    doc_id. One hash shuffle on ``source`` at attested scales; past
    500k docs ``per_group_topk`` switches to the salted two-phase
    form (per-salt-bucket heads, then exact per-source head) so a
    pathological mega-domain never sorts inside one task — result
    identical, since the output depends only on each group's top K
    rows under a total order (``functions/sampling.py``)."""
    from aws_csp_datapipeline_spark.functions.text import quality_score

    d = load_table(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id", "source", quality_score(F.col("text")).alias("__q")
    )
    capped = SMP.per_group_topk(
        scored,
        "source",
        [F.desc("__q"), F.asc("doc_id")],
        15,
        key_col="doc_id",
        salt_buckets=SMP.auto_salt_buckets(table_row_count(sf_dir, "documents")),
        rank_col="rk",
    )
    return capped.select("doc_id", "source", F.col("rk").cast("long").alias("rk"))


def _pipe1_sql() -> str:
    from aws_csp_datapipeline_spark.plans.q_text import QUALITY_EXPR_SQL

    return f"""
    WITH keep AS (
      SELECT doc_id, lang, text FROM documents
      WHERE {QUALITY_EXPR_SQL} >= 0.35
    ), canon AS (
      SELECT min(doc_id) AS doc_id FROM keep GROUP BY md5(lower(text))
    ), final AS (
      SELECT k.doc_id, k.lang,
             CASE WHEN substr(md5(CAST(k.doc_id AS VARCHAR)), 1, 2) < 'c0'
                  THEN 'train' ELSE 'test' END AS split,
             len(regexp_split_to_array(trim(lower(k.text)), '\\s+')) AS n
      FROM keep k JOIN canon c ON k.doc_id = c.doc_id
    )
    SELECT split, lang, COUNT(*) AS n_docs, CAST(SUM(n) AS BIGINT) AS total_tokens
    FROM final GROUP BY split, lang
    """


@register("pipe1_curation_pipeline", _pipe1_sql())
def pipe1_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus curation, one lazy plan: quality filter →
    exact dedup (fingerprint groupBy + semi-join, bodies never
    shuffle) → deterministic train/test split → per-(split, lang)
    doc/token summary. Every stage is one of this repo's operators
    composed unchanged — the 100-TB shape is the same plan with the
    same shuffle budget (one fingerprint agg + one summary agg)."""
    from aws_csp_datapipeline_spark.functions.dedup import exact_dedup
    from aws_csp_datapipeline_spark.functions.text import quality_score, token_count
    from aws_csp_datapipeline_spark.parallelism import (
        ensure_min_parallelism,
        gate_after_spread,
    )

    docs = load_table(spark, sf_dir, "documents")
    # the quality gate is consumed twice inside exact_dedup (the
    # fingerprint aggregate AND the semi-join back). Persist the
    # NARROW keep-id set — never document bodies (cache policy,
    # SCALE.md) — so the per-row quality expression runs once; the
    # two downstream consumers re-scan parquet (streaming-friendly)
    # and semi-join the cached ids instead of re-running the gate.
    # Spread + pin (r12): without them the gate expression evaluates
    # serially in the single scan task of a one-row-group extract.
    keep_ids = lifecycle.persist(
        ensure_min_parallelism(docs.select("doc_id", "text"))
        .filter(gate_after_spread(quality_score(F.col("text")) >= 0.35))
        .select("doc_id")
    )
    keep = docs.join(keep_ids, "doc_id", "left_semi")
    # token_count BEFORE the dedup semi-join (r13 — the pipe4 fix,
    # same reasoning at that site): with the count in the final
    # aggregate, `text` had to ride through exact_dedup's semi-join
    # exchange; computing __tok first lets pruning narrow the join's
    # left side to (doc_id, lang, __tok), so bodies are read in the
    # gate/fingerprint scans and never shuffled.
    canon = exact_dedup(
        keep.select(
            "doc_id",
            "lang",
            token_count(F.col("text")).alias("__tok"),
            "text",
        ),
        "text",
        "doc_id",
    ).select("doc_id", "lang", "__tok")
    final = SMP.hash_split(canon, "doc_id", 0.75)
    return final.groupBy("split", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("__tok").cast("long").alias("total_tokens"),
    )


def _pipe4_sql() -> str:
    from aws_csp_datapipeline_spark.plans.q_text import (
        BIGRAM_LOGPROB_SQL,
        QUALITY_EXPR_SQL,
    )

    trigram_list = (
        "list_transform(list_zip(t[:-3], t[2:-2], t[3:]), "
        "z -> z[1] || ' ' || z[2] || ' ' || z[3])"
    )
    return rf"""
    WITH tok AS (
      SELECT doc_id, source, lang, text,
             regexp_split_to_array(trim(lower(text)), '\s+') AS t,
             {QUALITY_EXPR_SQL} AS q
      FROM documents
    ),
    rowgate AS (
      SELECT doc_id, source, lang, text, q
      FROM tok
      WHERE q >= 0.35
        AND (len(t) < 3 OR
             1.0 - CAST(len(list_distinct({trigram_list})) AS DOUBLE)
                 / len({trigram_list}) <= 0.02)
    ),
    lm AS ({BIGRAM_LOGPROB_SQL}),
    lmkeep AS (
      SELECT doc_id FROM lm WHERE n_bigrams >= 12 AND avg_logprob >= -3.42
    ),
    gated AS (SELECT r.* FROM rowgate r JOIN lmkeep USING (doc_id)),
    canon AS (
      SELECT min(doc_id) AS doc_id FROM gated GROUP BY md5(lower(text))
    ),
    deduped AS (SELECT g.* FROM gated g JOIN canon c USING (doc_id)),
    capped AS (
      SELECT doc_id, lang, text FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY source
                                     ORDER BY q DESC, doc_id) AS rk
        FROM deduped
      ) WHERE rk <= 15
    ),
    final AS (
      SELECT lang,
             CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'c0'
                  THEN 'train' ELSE 'test' END AS split,
             len(regexp_split_to_array(trim(lower(text)), '\s+')) AS n
      FROM capped
    )
    SELECT split, lang, COUNT(*) AS n_docs, CAST(SUM(n) AS BIGINT) AS total_tokens
    FROM final GROUP BY split, lang
    """


@register("pipe4_full_curation", _pipe4_sql())
def pipe4_full_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full curation pipeline, raw docs → train-ready summary in
    ONE lazy plan, threading every gate this repo ships (pipe1 plus
    the round-5-requested composition):

      quality floor (t2) → Gopher repeated-trigram gate (t20) →
      bigram-LM fluency gate (t19, LM fit on the full corpus) →
      exact dedup (d1) → per-source cap (tt10) → deterministic
      split (tt1) → per-(split, lang) doc/token summary.

    Shuffle budget at any corpus size: the LM's two vocab-scale
    aggregations (AQE broadcasts the model back onto per-doc rows),
    one fingerprint agg + semi-join for dedup, one hash shuffle on
    ``source`` for the cap window, one summary agg. The per-row gates
    (quality, repetition) are codegen'd projections that prune the
    corpus BEFORE any shuffle; document bodies never move except
    into the cap window's per-group sort, which the tt10 docstring's
    two-phase top-K rewrite removes for pathological mega-sources."""
    from aws_csp_datapipeline_spark.functions import text as X
    from aws_csp_datapipeline_spark.functions.dedup import exact_dedup
    from aws_csp_datapipeline_spark.plans.q_text import doc_bigram_logprob

    from aws_csp_datapipeline_spark.parallelism import (
        ensure_min_parallelism,
        gate_after_spread,
    )

    d = load_table(spark, sf_dir, "documents")
    stats = F.element_at(
        F.transform(
            F.array(X.trigrams(F.col("text"))),
            lambda gs: F.struct(
                F.size(gs).alias("n"),
                F.size(F.array_distinct(gs)).alias("nd"),
            ),
        ),
        1,
    )
    # quality + trigram stats are the per-row-expensive gates: spread
    # the scan before evaluating them (no-op on parallel layouts)
    rowgate = (
        ensure_min_parallelism(
            d.select("doc_id", "source", "lang", "text")
        )
        .select(
            "doc_id", "source", "lang", "text",
            X.quality_score(F.col("text")).alias("__q"),
            stats.alias("__s"),
        )
        # gate_after_spread: without the pin, Catalyst pushes these
        # (deterministic, parquet-unpushable) gates below the spread
        # repartition and the quality/trigram expressions run in the
        # single-task scan stage (measured 2.1 s serial at sf0.1)
        .filter(
            gate_after_spread(
                (F.col("__q") >= 0.35)
                & (
                    (F.col("__s.n") == 0)
                    | (
                        F.lit(1.0)
                        - F.col("__s.nd").cast("double")
                        / F.col("__s.n").cast("double")
                        <= 0.02
                    )
                )
            )
        )
        .drop("__s")
    )
    lmkeep = doc_bigram_logprob(d).filter(
        (F.col("n_bigrams") >= 12) & (F.col("avg_logprob") >= -3.42)
    ).select("doc_id")
    # the gate outcome is consumed by multiple branches (exact_dedup's
    # fingerprint aggregate AND its semi-join back) — without a
    # persist every branch re-runs the quality/trigram expressions
    # and the LM semi-join (8 corpus scans in the executed plan).
    # Persist the NARROW (doc_id, __q) survivors only — document
    # bodies are never cached (SCALE.md cache policy); downstream
    # consumers re-scan parquet and join the cached keys.
    gated_keys = lifecycle.persist(
        rowgate.select("doc_id", "__q").join(lmkeep, "doc_id", "left_semi")
    )
    gated = d.select("doc_id", "source", "lang", "text").join(
        gated_keys, "doc_id"
    )
    # token_count is computed BEFORE the dedup semi-join (r13,
    # VERDICT r12 item 7; guide §8 "decide with small rows"): with
    # __tok in the post-projection, `text` had to survive the join
    # and the r12 executed plan shuffled document BODIES into the
    # SMJ LeftSemi (the keep side's aggregate estimate is large, so
    # the static plan never broadcasts it, and AQE's runtime flip
    # comes after the body exchange has already materialized).
    # Deriving __tok first lets column pruning strip text from the
    # join's left side entirely — the dedup exchange now carries
    # (doc_id, source, lang, __q, __tok) only; bodies are read in
    # the fingerprint scan and never shuffled, at ANY scale and
    # under ANY join strategy. Cost: token_count also runs on rows
    # the dedup would drop — a linear codegen'd projection on the
    # scan side, cheap against body bytes in a shuffle. The cap
    # window below keeps its narrow-row story unchanged.
    deduped = exact_dedup(
        gated.select(
            "doc_id",
            "source",
            "lang",
            "__q",
            X.token_count(F.col("text")).alias("__tok"),
            "text",
        ),
        "text",
        "doc_id",
    ).select("doc_id", "source", "lang", "__q", "__tok")
    # skew-proof cap: gate on the RAW documents count (metadata-only
    # count-star) — counting `deduped` would execute the whole
    # gate+dedup subplan once just to pick the knob
    capped = SMP.per_group_topk(
        deduped,
        "source",
        [F.desc("__q"), F.asc("doc_id")],
        15,
        key_col="doc_id",
        salt_buckets=SMP.auto_salt_buckets(table_row_count(sf_dir, "documents")),
    )
    final = SMP.hash_split(capped, "doc_id", 0.75)
    return final.groupBy("split", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("__tok").cast("long").alias("total_tokens"),
    )


_DECON_SQL = """
    WITH tok AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS t
      FROM documents
    ),
    grams AS (
      SELECT doc_id,
             list_distinct(list_transform(
               generate_series(1, len(t) - 4),
               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' '
                    || t[i+3] || ' ' || t[i+4])) AS gs
      FROM tok WHERE len(t) >= 5
    ),
    ex AS (SELECT doc_id, unnest(gs) AS g FROM grams),
    split AS (
      SELECT doc_id,
             CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'c0'
                  THEN 'train' ELSE 'test' END AS split
      FROM documents
    ),
    train_g AS (
      SELECT DISTINCT g FROM ex JOIN split USING (doc_id)
      WHERE split = 'train'
    )
    SELECT e.doc_id, COUNT(DISTINCT e.g) AS n_shared_grams
    FROM ex e
    JOIN split s USING (doc_id)
    JOIN train_g t ON e.g = t.g
    WHERE s.split = 'test'
    GROUP BY e.doc_id
    """


@register("tt8_ngram_decontaminate", _DECON_SQL)
def tt8_ngram_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: test-split documents sharing any
    word-5-gram with the train split, with the count of shared
    grams — the GPT-3-style n-gram overlap audit run before an eval
    set is trusted. One pass builds per-doc distinct shingles (the
    same bound-once shingle expression the MinHash path uses); the
    train side reduces to DISTINCT grams and the test side joins
    against it. The grams are joined as xxhash64 fingerprints, not
    strings — fixed 8-byte keys through the distinct and the join
    (A/B at sf1, warm: 2.6 s → 1.8 s, identical rows; counts differ
    only on a 64-bit collision, ~1e-7 corpus-wide). At 100 TB the
    fingerprints widen to 128-bit; a bloom prefilter does NOT help
    here — measured at sf10 it is ~3× slower because the member set
    (train grams) scales with the corpus (tt15 keeps the mechanism
    attested; SCALE.md "Bloom prefilter vs fingerprint join" has the
    A/B and the asymmetric regime where the bloom shape does win)."""
    from aws_csp_datapipeline_spark.functions import dedup as D
    from aws_csp_datapipeline_spark.parallelism import ensure_min_parallelism

    d = load_table(spark, sf_dir, "documents")
    # spread before the 5-gram explode (r12): a single-row-group
    # extract otherwise shingles the whole corpus in ONE scan task
    # (measured 2.1 s serial at sf0.1); both consumers read the same
    # spread exchange. No-op on real layouts.
    split = SMP.hash_split(
        ensure_min_parallelism(d.select("doc_id", "text")), "doc_id", 0.75
    )
    # two consumers re-derive the gram table rather than caching it:
    # the honest cold-cache A/B (clearCache before every run — a
    # warm-cache A/B is confounded by CacheManager plan dedup serving
    # later runs from the first run's cache) shows materializing the
    # exploded rows costs slightly more than the second explode
    # (sf0.1: 0.96 s recompute vs 1.02 s persisted; sf1: 1.5 s vs
    # 1.8 s) — the explode output is |docs|×|grams| rows, LARGER than
    # the input text, unlike the per-doc narrow tables this repo does
    # persist
    grams = split.select(
        "doc_id",
        "split",
        F.explode(D.hashed_word_shingles(F.col("text"), 5)).alias("g"),
    )
    train_g = grams.filter(F.col("split") == "train").select("g").distinct()
    # plain count, not count_distinct: the shingle builder emits
    # per-doc DISTINCT grams (array_distinct) and train_g is distinct,
    # so the inner join leaves each (doc_id, g) with multiplicity 1 —
    # count_distinct would re-shuffle every joined gram through a
    # distinct-expansion aggregate, while count gets map-side partial
    # aggregation (shuffle rows shrink from |matched grams| to
    # |test docs per partition|)
    return (
        grams.filter(F.col("split") == "test")
        .join(train_g, "g")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared_grams"))
    )


@register(
    "tt9_mixture_reweight",
    """
    WITH cur AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY source),
    t AS (SELECT SUM(n) AS tot, COUNT(*) AS n_sources FROM cur)
    SELECT source, n,
           ROUND(CAST(n AS DOUBLE) / tot, 6) AS current_share,
           ROUND(1.0 / n_sources, 6) AS target_share,
           ROUND((1.0 / n_sources) / (CAST(n AS DOUBLE) / tot), 6) AS weight
    FROM cur, t
    """,
)
def tt9_mixture_reweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixture reweighting: per-source sampling weights that move
    the corpus from its current source distribution to a target
    (here: uniform across sources) — the knob every pretraining run
    turns. One constant-size groupBy plus a 1-row broadcast cross
    join; the weights then drive tt7's deterministic weighted
    sampler. Output is |sources| rows at any corpus size."""
    d = load_table(spark, sf_dir, "documents")
    cur = d.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    t = cur.agg(
        F.sum("n").alias("tot"), F.count(F.lit(1)).alias("n_sources")
    )
    cur_share = F.col("n") / F.col("tot").cast("double")
    target = F.lit(1.0) / F.col("n_sources")
    return cur.crossJoin(F.broadcast(t)).select(
        "source",
        "n",
        F.round(cur_share, 6).alias("current_share"),
        F.round(target, 6).alias("target_share"),
        F.round(target / cur_share, 6).alias("weight"),
    )


@register(
    "tt11_deterministic_shuffle",
    """
    SELECT doc_id,
           substr(md5('shuf1:' || CAST(doc_id AS VARCHAR)), 1, 2) AS batch,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY substr(md5('shuf1:' || CAST(doc_id AS VARCHAR)), 1, 2)
             ORDER BY md5('shuf1:' || CAST(doc_id AS VARCHAR)), doc_id
           ) AS INT) AS pos
    FROM documents
    """,
)
def tt11_deterministic_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch shuffle for training: a deterministic, engine-portable
    pseudo-random global order as (batch, pos) — hash-batched so no
    global sort or RNG is involved (see
    ``functions.sampling.deterministic_shuffle`` for the 100-TB
    writer shape). Salt = epoch id; new salt = new permutation."""
    docs = load_table(spark, sf_dir, "documents")
    return SMP.deterministic_shuffle(docs, "doc_id", salt="shuf1").select(
        "doc_id", "batch", "pos"
    )


def _tt12_oracle() -> str:
    from aws_csp_datapipeline_spark.plans.q_dedup import _JACCARD_SQL

    return f"""
    WITH RECURSIVE pairs AS ({_JACCARD_SQL}),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION
      SELECT doc_b, doc_a FROM pairs
    ),
    nodes AS (SELECT DISTINCT a AS doc FROM edges),
    reach AS (
      SELECT doc, doc AS r FROM nodes
      UNION
      SELECT e.a AS doc, reach.r FROM edges e JOIN reach ON reach.doc = e.b
    ),
    grp AS (SELECT doc, MIN(r) AS group_id FROM reach GROUP BY doc)
    SELECT d.doc_id,
           COALESCE(g.group_id, d.doc_id) AS cluster_id,
           CASE WHEN substr(md5(CAST(COALESCE(g.group_id, d.doc_id)
                                     AS VARCHAR)), 1, 2) < 'c0'
                THEN 'train' ELSE 'test' END AS split
    FROM documents d LEFT JOIN grp g ON d.doc_id = g.doc
    """


@register("tt12_cluster_aware_split", _tt12_oracle())
def tt12_cluster_aware_split(
    spark: SparkSession, sf_dir: str, banding: str = "default"
) -> DataFrame:
    """Leakage-proof train/test split: the split key is the NEAR-DUP
    CLUSTER id, not the document id, so two near-duplicate documents
    can never land on opposite sides of the split (the contamination
    mode `tt5_split_leakage` audits for — this op removes it by
    construction; standard practice in LM corpus pipelines).

    Composition: LSH near-dup pairs → connected components
    (`functions/dedup.neardup_groups`) → left-join the cluster label
    back (singletons keep their own id) → deterministic md5 split on
    the cluster id (`functions/sampling.hash_split` semantics). The
    join shuffles only (doc_id, cluster_id) label pairs — never text —
    and the split itself stays a narrow projection. The oracle
    restates the clustering as a recursive-CTE reachability over the
    exact-Jaccard pairs (valid because d3 ≡ d2 at this banding — see
    q_dedup module docstring)."""
    from aws_csp_datapipeline_spark.functions import dedup as D

    d = load_table(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(
        d, "text", "doc_id", threshold=0.8, k=32, bands=16, n=3, banding=banding,
        n_rows=table_row_count(sf_dir, "documents"),
    )
    groups = D.neardup_groups(pairs)
    labeled = d.select("doc_id").join(
        groups.withColumnRenamed("doc", "doc_id"), "doc_id", "left"
    ).select(
        "doc_id",
        F.coalesce(F.col("group_id"), F.col("doc_id")).alias("cluster_id"),
    )
    return labeled.withColumn(
        "split", SMP.split_assign(F.col("cluster_id"), 0.75)
    )


@register(
    "tt13_temperature_mixture",
    """
    WITH cur AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY source),
    p AS (
      SELECT source, n,
             CAST(n AS DOUBLE) / SUM(n) OVER () AS share,
             POW(CAST(n AS DOUBLE) / SUM(n) OVER (), 0.5) AS unnorm
      FROM cur
    )
    SELECT source, n,
           ROUND(share, 6) AS current_share,
           ROUND(unnorm / SUM(unnorm) OVER (), 6) AS temp_share,
           ROUND((unnorm / SUM(unnorm) OVER ()) / share, 6) AS weight
    FROM p
    """,
)
def tt13_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based mixture sampling (τ = 0.5): per-source
    sampling shares ∝ share^τ — the standard multilingual/multi-source
    rebalancing rule (τ=1 keeps the natural mix, τ→0 approaches
    uniform; mBERT/XLM-R style). Generalizes `tt9` (uniform target)
    with one exponent; the weights feed `tt7`'s deterministic
    weighted sampler unchanged. Constant-size aggregation: |sources|
    rows total, window normalization over that same tiny set."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    cur = d.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy()
    share = F.col("n").cast("double") / F.sum("n").over(w)
    unnorm = F.pow(share, F.lit(0.5))
    temp_share = unnorm / F.sum(unnorm).over(w)
    return cur.select(
        "source",
        "n",
        F.round(share, 6).alias("current_share"),
        F.round(temp_share, 6).alias("temp_share"),
        F.round(temp_share / share, 6).alias("weight"),
    )


def _pipe6_sql() -> str:
    from aws_csp_datapipeline_spark.plans.q_text import QUALITY_EXPR_SQL

    return f"""
    WITH keep AS (
      SELECT doc_id, lang, text FROM documents
      WHERE {QUALITY_EXPR_SQL} >= 0.35
    ),
    canon AS (
      SELECT min(doc_id) AS doc_id FROM keep GROUP BY md5(lower(text))
    ),
    base AS (SELECT k.* FROM keep k JOIN canon c USING (doc_id)),
    split AS (
      SELECT doc_id,
             CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'c0'
                  THEN 'train' ELSE 'test' END AS split
      FROM base
    ),
    tok AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS t
      FROM base
    ),
    grams AS (
      SELECT doc_id,
             list_distinct(list_transform(
               generate_series(1, len(t) - 4),
               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' '
                    || t[i+3] || ' ' || t[i+4])) AS gs
      FROM tok WHERE len(t) >= 5
    ),
    ex AS (SELECT doc_id, unnest(gs) AS g FROM grams),
    train_g AS (
      SELECT DISTINCT g FROM ex JOIN split USING (doc_id)
      WHERE split = 'train'
    ),
    contaminated AS (
      SELECT DISTINCT e.doc_id
      FROM ex e JOIN split s USING (doc_id) JOIN train_g t ON e.g = t.g
      WHERE s.split = 'test'
    ),
    final AS (
      SELECT b.doc_id,
             CASE WHEN s.split = 'test' AND c.doc_id IS NOT NULL
                  THEN 'test_quarantined' ELSE s.split END AS status,
             len(regexp_split_to_array(trim(lower(b.text)), '\\s+')) AS n
      FROM base b
      JOIN split s USING (doc_id)
      LEFT JOIN contaminated c USING (doc_id)
    )
    SELECT status, COUNT(*) AS n_docs, CAST(SUM(n) AS BIGINT) AS total_tokens
    FROM final GROUP BY status
    """


@register("pipe6_train_ready", _pipe6_sql())
def pipe6_train_ready(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-ready corpus with a CLEAN eval set, one lazy plan:
    quality gate → exact dedup → deterministic split → GPT-3-style
    5-gram decontamination that QUARANTINES contaminated test docs
    (tt8 reports overlap; this pipeline acts on it — the eval set
    that survives shares no 5-gram with train). Summary per status
    (train / test / test_quarantined).

    Composition cost: the gate and dedup shuffle fingerprints only;
    the decontamination reuses tt8's hashed-gram join (xxhash64
    fingerprints in-engine, string grams in the oracle — equivalence
    modulo the documented 1e-7 collision rate); the status tag is a
    left-semi-derived flag, never a second corpus scan."""
    from aws_csp_datapipeline_spark.functions import dedup as D
    from aws_csp_datapipeline_spark.functions.dedup import exact_dedup
    from aws_csp_datapipeline_spark.functions.text import quality_score, token_count
    from aws_csp_datapipeline_spark.parallelism import (
        ensure_min_parallelism,
        gate_after_spread,
    )

    d = load_table(spark, sf_dir, "documents")
    # spread before the quality gate + pin the gate above the spread
    # (r12): single-row-group extracts otherwise evaluate the gate
    # expression serially in the scan task (see gate_after_spread).
    # The gate result is PERSISTED as a narrow keep-id set (the pipe1
    # pattern — never bodies): downstream, exact_dedup's two
    # consumers plus the gram and summary branches each re-derive
    # `keep`, and without the cache the per-row quality expression —
    # the most expensive projection in this plan — ran once PER
    # consumer (4x; measured ~15 s CPU per evaluation at sf0.1).
    keep_ids = lifecycle.persist(
        ensure_min_parallelism(d.select("doc_id", "text"))
        .filter(gate_after_spread(quality_score(F.col("text")) >= 0.35))
        .select("doc_id")
    )
    keep = d.select("doc_id", "lang", "text").join(
        keep_ids, "doc_id", "left_semi"
    )
    base = exact_dedup(keep, "text", "doc_id")
    split = SMP.hash_split(base, "doc_id", 0.75)
    grams = split.select(
        "doc_id",
        "split",
        F.explode(D.hashed_word_shingles(F.col("text"), 5)).alias("g"),
    )
    train_g = grams.filter(F.col("split") == "train").select("g").distinct()
    # left_semi: existence is all the quarantine tag needs — the semi
    # join emits each matched (doc_id, g) row once with no join-output
    # columns, and the per-doc distinct then collapses map-side
    contaminated = (
        grams.filter(F.col("split") == "test")
        .join(train_g, "g", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("__dirty", F.lit(1))
    )
    tagged = split.join(contaminated, "doc_id", "left").select(
        "doc_id",
        F.when(
            (F.col("split") == "test") & F.col("__dirty").isNotNull(),
            F.lit("test_quarantined"),
        )
        .otherwise(F.col("split"))
        .alias("status"),
        token_count(F.col("text")).alias("n"),
    )
    return tagged.groupBy("status").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n").cast("long").alias("total_tokens"),
    )


_DSIR_SQL = r"""
    WITH tok AS (
      SELECT doc_id, lang,
             unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
      FROM documents
    ),
    tb AS (
      SELECT doc_id, lang,
             CAST(concat('0x', substr(md5(w), 1, 6)) AS BIGINT) % 1024 AS b
      FROM tok WHERE w <> ''
    ),
    prop AS (SELECT b, COUNT(*) AS cp FROM tb GROUP BY b),
    tgt  AS (SELECT b, COUNT(*) AS ct FROM tb WHERE lang = 'en' GROUP BY b),
    tot  AS (SELECT (SELECT COUNT(*) FROM tb)                   AS tp,
                    (SELECT COUNT(*) FROM tb WHERE lang = 'en') AS tt)
    SELECT tb.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           ROUND(SUM(  ln((COALESCE(tgt.ct, 0) + 1.0) / (tot.tt + 1024.0))
                     - ln((prop.cp + 1.0)             / (tot.tp + 1024.0)))
                 / COUNT(*), 4) AS dsir_logweight
    FROM tb
    JOIN prop USING (b)
    LEFT JOIN tgt USING (b)
    CROSS JOIN tot
    GROUP BY tb.doc_id
    """


@register("tt14_dsir_weights", _DSIR_SQL)
def tt14_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023): hashed-unigram
    bag-of-words log-ratio of a target domain (here lang='en') over
    the full-corpus proposal, averaged per document — the weight that
    drives importance RESAMPLING toward the target mix, where tt9
    only reweights whole sources and tt7 samples by a given weight.
    Model tables are 1024 rows at any corpus size (broadcast back
    onto the one exploded token stream); see
    ``functions.sampling.dsir_logweights``."""
    d = load_table(spark, sf_dir, "documents")
    return SMP.dsir_logweights(
        d, "text", "doc_id", target=F.col("lang") == "en", buckets=1024
    )


@register("tt15_bloom_decontaminate", _DECON_SQL)
def tt15_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tt8's decontamination through the bloom membership path: the
    distinct train-gram set builds a bloom filter
    (`sketches.bloom_build`), the dense word list ships INTO the
    test-side projection as one literal array (`bloom_contains_expr`
    — zero joins), and the FP survivors take the exact confirm join
    that makes the output EXACTLY tt8's (same oracle, same hash
    gate).

    MEASURED honestly (SCALE.md "Bloom prefilter vs fingerprint
    join"): at sf10 this lane is ~3× SLOWER than tt8's direct
    8-byte-fingerprint join — the bloom build is an extra eager pass,
    and the giant literal array knocks the probe off whole-stage
    codegen. The regime where the bloom shape wins is a SMALL, FIXED
    member set (a real eval benchmark: thousands of docs ⇒ a
    kilobyte-scale filter probed by a 100-TB train scan with no
    member-side shuffle at all); when the member set grows with the
    corpus — as it does here, where 'train' is 75% of it — the
    fingerprint equi-join is the right plan and tt8 keeps it. This
    entry exists to keep the mechanism oracle-attested, not to
    replace tt8."""
    from aws_csp_datapipeline_spark.functions import dedup as D
    from aws_csp_datapipeline_spark.functions import sketches as SK

    n_bits, k = 1 << 20, 5
    d = load_table(spark, sf_dir, "documents")
    split = SMP.hash_split(d, "doc_id", 0.75)
    grams = split.select(
        "doc_id",
        "split",
        F.explode(D.hashed_word_shingles(F.col("text"), 5)).alias("g"),
    )
    # the bloom build is an EAGER pass (collect of ≤ n_bits/64 words),
    # so without a persist the distinct train-gram derivation would
    # run twice — once for the build, once for the confirm join.
    # Narrow 8-byte rows, same persist policy as the d1 keep-set.
    train_g = lifecycle.persist(
        grams.filter(F.col("split") == "train").select("g").distinct()
    )
    bloom = SK.bloom_build(train_g, F.col("g"), n_bits=n_bits, k=k)
    words = SK.bloom_dense_words(bloom, n_bits)
    survivors = grams.filter(F.col("split") == "test").filter(
        SK.bloom_contains_expr(words, F.col("g"), n_bits, k)
    )
    return (
        survivors.join(train_g, "g")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared_grams"))
    )


@register(
    "tt16_moore_lewis",
    r"""
    WITH ref AS (
      SELECT regexp_split_to_array(trim(lower(text)), '\s+') AS ts
      FROM documents WHERE source = 'src0'
    ),
    rbg AS (
      SELECT unnest(list_transform(list_zip(ts[:-2], ts[2:]),
                                   z -> z[1] || ' ' || z[2])) AS bigram
      FROM ref WHERE len(ts) >= 2
    ),
    bgc_in AS (SELECT bigram, COUNT(*) AS c12 FROM rbg GROUP BY bigram),
    heads_in AS (
      SELECT split_part(bigram, ' ', 1) AS w1, SUM(c12) AS c1
      FROM bgc_in GROUP BY 1
    ),
    v_in AS (
      SELECT COUNT(DISTINCT tok) AS vocab
      FROM (SELECT unnest(ts) AS tok FROM ref)
    ),
    gen AS (
      SELECT regexp_split_to_array(trim(lower(text)), '\s+') AS ts
      FROM documents
    ),
    gbg AS (
      SELECT unnest(list_transform(list_zip(ts[:-2], ts[2:]),
                                   z -> z[1] || ' ' || z[2])) AS bigram
      FROM gen WHERE len(ts) >= 2
    ),
    bgc_gen AS (SELECT bigram, COUNT(*) AS c12 FROM gbg GROUP BY bigram),
    heads_gen AS (
      SELECT split_part(bigram, ' ', 1) AS w1, SUM(c12) AS c1
      FROM bgc_gen GROUP BY 1
    ),
    v_gen AS (
      SELECT COUNT(DISTINCT tok) AS vocab
      FROM (SELECT unnest(ts) AS tok FROM gen)
    ),
    tgt AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS ts
      FROM documents WHERE source <> 'src0'
    ),
    tbg AS (
      SELECT doc_id,
             unnest(list_transform(list_zip(ts[:-2], ts[2:]),
                                   z -> z[1] || ' ' || z[2])) AS bigram
      FROM tgt WHERE len(ts) >= 2
    ),
    scored AS (
      SELECT t.doc_id,
             (COALESCE(bi.c12, 0) + 0.5)
               / (COALESCE(hi.c1, 0) + 0.5 * v_in.vocab) AS p_in,
             (COALESCE(bg.c12, 0) + 0.5)
               / (COALESCE(hg.c1, 0) + 0.5 * v_gen.vocab) AS p_gen
      FROM tbg t
      LEFT JOIN bgc_in bi USING (bigram)
      LEFT JOIN heads_in hi ON split_part(t.bigram, ' ', 1) = hi.w1
      LEFT JOIN bgc_gen bg USING (bigram)
      LEFT JOIN heads_gen hg ON split_part(t.bigram, ' ', 1) = hg.w1
      CROSS JOIN v_in CROSS JOIN v_gen
    ),
    docs AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             ROUND(-AVG(log2(p_in)) + AVG(log2(p_gen)), 4) + 0 AS ce_diff
      FROM scored GROUP BY doc_id
    )
    SELECT doc_id, n_bigrams, ce_diff,
           (NTILE(4) OVER (ORDER BY ce_diff, doc_id) = 1) AS selected
    FROM docs
    """,
)
def tt16_moore_lewis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moore-Lewis cross-entropy-difference data selection (Moore &
    Lewis 2010, "Intelligent Selection of Language Model Training
    Data"): score every pool document by
    H_in(x) − H_gen(x) — bigram-LM cross-entropy under an IN-DOMAIN
    reference model (src0 docs; Wikipedia/target-task text in the
    paper) minus cross-entropy under a GENERAL model trained on the
    whole pool — and select the lowest quartile. The difference
    cancels generic fluency: a document scores well only for being
    in-domain-LIKE, not merely common — the selection operator behind
    most "quality-filtered to match a reference" training mixes.

    Both models are the t25/t26 machinery (add-k smoothed bigram LM,
    OOV floors via LEFT join + COALESCE). Document BODIES are
    materialized exactly TWICE corpus-wide (a first cut derived each
    model from its own scans — three separate bigram explodes of the
    full bodies): one source-tagged bigram stream and one
    source-tagged token stream are persisted, and the in-domain model
    (filter src0 → group), the general model (group all), the two
    vocab scalars, and the scored target stream all derive from those
    two caches: PLAN_AUDIT's executed-plan ledger walks each cached
    relation once, and its 2 parquet scans are those two cache
    materializations. The target stream is
    scored against both models in ONE pass (per-row p_in and p_gen,
    one per-doc aggregate). Model joins stay unhinted — AQE sizes the
    build sides (the t26 reasoning: a forced broadcast of a
    10M-bigram general model is a driver hazard). Selection uses the
    distributed exact NTILE over (rounded ce_diff, doc_id) —
    deterministic cross-engine, no single-partition window. Bodies
    never shuffle; only bigram/token strings and the |docs|-row score
    frame do."""
    from aws_csp_datapipeline_spark.functions import text as X
    from aws_csp_datapipeline_spark.functions.rank import exact_ntile

    d = load_table(spark, sf_dir, "documents")
    # NOT spread (r12 A/B): an ensure_min_parallelism spread before
    # the two cache builds parallelized the explodes but measured
    # 1.15× SLOWER at sf0.1 (5-round interleaved A/B) — the extra
    # AQE exchange stages per cache materialization cost more than
    # the serialized explode they remove on this two-cache shape.
    bg_all = lifecycle.persist(d.select(
        "doc_id",
        "source",
        F.explode(X.bigrams(F.col("text"))).alias("bigram"),
    ))
    tok_all = lifecycle.persist(d.select(
        "source", F.explode(X.tokens(F.col("text"))).alias("tok")
    ))

    def model(bg, toks):
        bgc = bg.groupBy("bigram").agg(F.count(F.lit(1)).alias("c12"))
        # heads from bgc, not the stream — measured decision, see
        # the t25 site (r13: stream form 1.13x slower here at sf1).
        heads = (
            bgc.withColumn(
                "w1", F.split_part(F.col("bigram"), F.lit(" "), F.lit(1))
            )
            .groupBy("w1")
            .agg(F.sum("c12").alias("c1"))
        )
        vocab = toks.agg(F.count_distinct("tok").alias("vocab"))
        return bgc, heads, vocab

    is_ref = F.col("source") == "src0"
    bgc_in, heads_in, v_in = model(
        bg_all.filter(is_ref), tok_all.filter(is_ref)
    )
    bgc_gen, heads_gen, v_gen = model(bg_all, tok_all)
    tbg = bg_all.filter(~is_ref).withColumn(
        "w1", F.split_part(F.col("bigram"), F.lit(" "), F.lit(1))
    )

    def floor_p(c12, c1, vocab):
        return (F.coalesce(c12, F.lit(0)) + F.lit(0.5)) / (
            F.coalesce(c1, F.lit(0)) + F.lit(0.5) * vocab
        )

    scored = (
        tbg.join(bgc_in.withColumnRenamed("c12", "ci12"), "bigram", "left")
        .join(
            heads_in.withColumnRenamed("c1", "ci1").withColumnRenamed(
                "w1", "wi1"
            ),
            F.col("w1") == F.col("wi1"),
            "left",
        )
        .join(bgc_gen.withColumnRenamed("c12", "cg12"), "bigram", "left")
        .join(
            heads_gen.withColumnRenamed("c1", "cg1").withColumnRenamed(
                "w1", "wg1"
            ),
            F.col("w1") == F.col("wg1"),
            "left",
        )
        .crossJoin(F.broadcast(v_in.withColumnRenamed("vocab", "v_in")))
        .crossJoin(F.broadcast(v_gen.withColumnRenamed("vocab", "v_gen")))
        .select(
            "doc_id",
            floor_p(F.col("ci12"), F.col("ci1"), F.col("v_in")).alias("p_in"),
            floor_p(F.col("cg12"), F.col("cg1"), F.col("v_gen")).alias(
                "p_gen"
            ),
        )
    )
    docs = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.round(
            -F.avg(F.log2("p_in")) + F.avg(F.log2("p_gen")), 4
        ).alias("ce_diff"),
    )
    tiled = exact_ntile(
        docs,
        4,
        [F.asc("ce_diff"), F.asc("doc_id")],
        out="__tile",
        n_hint=table_row_count(sf_dir, "documents"),
    )
    return tiled.select(
        "doc_id",
        "n_bigrams",
        "ce_diff",
        (F.col("__tile") == 1).alias("selected"),
    )


@register(
    "tt17_purged_time_split",
    """
    WITH base AS (
      SELECT CAST(o_orderdate AS DATE) AS t, o_custkey AS e
      FROM orders
      WHERE o_orderdate IS NOT NULL AND o_custkey IS NOT NULL
    ),
    ext AS (SELECT MIN(t) AS lo, MAX(t) AS hi FROM base),
    tagged AS (
      SELECT e,
             CAST(datediff('day', lo, t) AS BIGINT) AS day,
             CASE
               WHEN datediff('day', lo, t)
                    >= FLOOR(datediff('day', lo, hi) * 0.8) THEN 'test'
               WHEN datediff('day', lo, t)
                    >= FLOOR(datediff('day', lo, hi) * 0.8) - 30
                 THEN 'embargo'
               ELSE 'train'
             END AS split0
      FROM base, ext
    ),
    te AS (SELECT DISTINCT e FROM tagged WHERE split0 = 'test'),
    lab AS (
      SELECT t.day,
             t.e,
             CASE WHEN t.split0 = 'train' AND te.e IS NOT NULL
                  THEN 'purged' ELSE t.split0 END AS split
      FROM tagged t LEFT JOIN te ON t.e = te.e
    )
    SELECT split,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT e) AS BIGINT) AS n_entities,
           MIN(day) AS min_day,
           MAX(day) AS max_day
    FROM lab GROUP BY split
    """,
)
def tt17_purged_time_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purged + embargoed temporal split over orders
    (functions/sampling.purged_time_split): last 20% of the date
    range is test, the 30 days before it are embargoed, and pre-
    embargo rows of customers who appear in the test window are
    PURGED — the leakage-safe split for time-correlated training
    data (tt5 audits this overlap after the fact; tt17 removes it by
    construction). Summarized per split as exact integer counts and
    day extents, so the oracle hash has no float surface at all."""
    orders = load_table(spark, sf_dir, "orders")
    lab = SMP.purged_time_split(
        orders, "o_orderdate", "o_custkey", test_frac=0.2, embargo_days=30
    )
    return lab.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("entity").alias("n_entities"),
        F.min("day").alias("min_day"),
        F.max("day").alias("max_day"),
    )


@register(
    "tt18_epoch_expansion",
    """
    WITH per AS (
      SELECT source, CAST(SUM(n_chars) AS BIGINT) AS ws
      FROM documents GROUP BY source
    ),
    tot AS (
      SELECT CAST(SUM(ws) AS BIGINT) AS wt, COUNT(*) AS ns FROM per
    ),
    eps AS (
      SELECT source,
             CASE WHEN ws <= 0 THEN 4.0
                  ELSE LEAST(CAST(wt AS DOUBLE)
                             / CAST(ns * ws AS DOUBLE), 4.0)
             END AS e
      FROM per, tot
    ),
    planned AS (
      SELECT d.source, d.doc_id,
             CAST(FLOOR(e) AS BIGINT)
             + CASE WHEN CAST(concat('0x', substr(
                        md5(CAST(d.doc_id AS VARCHAR)), 1, 6)) AS BIGINT)
                    < CAST(FLOOR((e - FLOOR(e)) * 16777216.0) AS BIGINT)
                    THEN 1 ELSE 0 END AS k
      FROM documents d JOIN eps USING (source)
    )
    SELECT source, doc_id,
           CAST(unnest(generate_series(1, k)) AS BIGINT) AS copy_idx
    FROM planned
    """,
)
def tt18_epoch_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-char-budget mixture expansion of the documents corpus
    (functions/sampling.epoch_expand): each source's documents are
    repeated ~e_s = total_chars/(n_sources * chars_s) times (capped
    at 4 epochs), fractional epochs resolved per document by the
    portable md5 coin — tt13 computes target mixture SHARES, tt18
    materializes the repeated stream that realizes them. Emitted
    copies are a pure function of the corpus; no RNG, no shuffle of
    the corpus (n_sources-row epoch table broadcasts back)."""
    docs = load_table(spark, sf_dir, "documents")
    return SMP.epoch_expand(
        docs, "source", "doc_id", "n_chars", max_epochs=4.0
    )


def _tt19_sql() -> str:
    gates = [int((1.0 / 64) * 2**i * 16777216) for i in range(6)]
    chain = " ".join(
        f"WHEN coin < {g} THEN {i}" for i, g in enumerate(gates)
    )
    return f"""
    WITH c AS (
      SELECT doc_id,
             CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))
                  AS BIGINT) AS coin
      FROM documents
    )
    SELECT doc_id, CAST(CASE {chain} END AS INT) AS subset_id
    FROM c
    """


@register("tt19_scaling_law_subsets", _tt19_sql())
def tt19_scaling_law_subsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested geometric subsets of the documents corpus for
    scaling-law experiments (functions/sampling.scaling_law_subsets):
    six subsets targeting 1/64 .. 1/2 of the corpus, nested by
    construction because every gate tests the same md5 coin — each
    larger training run strictly extends the smaller. subset_id is
    the smallest containing subset (NULL = only in the full corpus).
    Pure narrow projection: no shuffle, stable under corpus growth."""
    docs = load_table(spark, sf_dir, "documents")
    return SMP.scaling_law_subsets(docs, "doc_id").select(
        "doc_id", "subset_id"
    )


@register("tt20_weighted_topk_sample")
def tt20_weighted_topk_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-k weighted sample of the documents corpus, weight =
    n_chars (functions/sampling.weighted_topk_sample — the
    Efraimidis-Spirakis exponential-key construction): the SELECTION
    step that consumes importance weights, keeping exactly k=50 docs
    with inclusion probability proportional to length. Rows-only BY
    DESIGN: the ranking key is log(u)/w and IEEE leaves log's last
    ulp engine-specific, so a DuckDB hash twin cannot be guaranteed —
    the behavioral pytest reproduces the selection against an
    independent python reference and asserts the realized key margins
    sit orders of magnitude above ulp scale."""
    docs = load_table(spark, sf_dir, "documents")
    return SMP.weighted_topk_sample(docs, "doc_id", "n_chars", k=50).select(
        "doc_id", "n_chars"
    )
