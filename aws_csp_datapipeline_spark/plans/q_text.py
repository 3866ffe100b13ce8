"""Oracle-paired text-analysis queries over the documents table."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aws_csp_datapipeline_spark import lifecycle
from aws_csp_datapipeline_spark.catalog import load_table, table_row_count
from aws_csp_datapipeline_spark.functions import text as X
from aws_csp_datapipeline_spark.plans.registry import register

_SW = X.STOPWORD_PATTERN
_PUNCT = X.PUNCT_PATTERN.replace("'", "''")

# the exact SQL restatement of functions.text.quality_score — shared
# by t2 and the quality-weighted sampler (q_sampling.tt7)
QUALITY_EXPR_SQL = f"""0.4 * (CASE WHEN len(regexp_split_to_array(trim(lower(text)),'\\s+')) > 0
                    THEN CAST(len(regexp_extract_all(lower(text), '{_SW}')) AS DOUBLE)
                         / CAST(len(regexp_split_to_array(trim(lower(text)),'\\s+')) AS DOUBLE)
                    ELSE 0.0 END)
        + 0.4 * least(CAST(length(text) AS DOUBLE) / 500.0, 1.0)
        + 0.2 * (1.0 - least(
            (CASE WHEN length(text) > 0
                  THEN CAST(len(regexp_extract_all(text, '{_PUNCT}')) AS DOUBLE)
                       / CAST(length(text) AS DOUBLE)
                  ELSE 0.0 END) * 5.0, 1.0))"""


@register(
    "t1_token_stats",
    f"""
    SELECT doc_id,
           length(text) AS n_chars,
           len(regexp_split_to_array(trim(lower(text)), '\\s+')) AS n_tokens,
           len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]'))
             AS n_bpe_tokens
    FROM documents
    """,
)
def t1_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + a BPE-ish pre-tokenizer
    regex count. Pure projection — no shuffle, scales linearly."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars"),
        X.token_count(F.col("text")).cast("long").alias("n_tokens"),
        X.bpe_ish_token_count(F.col("text")).cast("long").alias("n_bpe_tokens"),
    )


@register(
    "t2_quality_score",
    f"""
    SELECT doc_id,
      ROUND({QUALITY_EXPR_SQL},
        4) AS quality
    FROM documents
    """,
)
def t2_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: stopword density + length + punctuation-soup
    penalty, fixed weights (the heuristics of large-corpus filtering
    pipelines). Identical double expression tree in the oracle."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id", F.round(X.quality_score(F.col("text")), 4).alias("quality")
    )


def _lang_case_sql() -> str:
    scores = {
        lang: f"len(regexp_extract_all(lower(text), '{pat}'))"
        for lang, pat in X.LANG_MARKERS.items()
    }
    best = "greatest(" + ", ".join(scores.values()) + ")"
    whens = "\n        ".join(
        f"WHEN {scores[lang]} = __best AND __best > 0 THEN '{lang}'"
        for lang in X.LANG_MARKERS
    )
    return f"""
    WITH scored AS (
      SELECT lang, {best} AS __best, text FROM documents
    )
    SELECT lang,
      CASE {whens} ELSE 'und' END AS pred_lang,
      COUNT(*) AS cnt
    FROM scored GROUP BY 1, 2
    """


@register("t3_lang_id_confusion", _lang_case_sql())
def t3_lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic (stopword-marker argmax, fixed tie-break)
    summarized as a (truth, prediction) confusion matrix."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select("lang", X.lang_id(F.col("text")).alias("pred_lang"))
        .groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@register(
    "t5_winnow_fingerprints",
    """
    WITH d AS (SELECT doc_id, lower(text) AS t FROM documents),
    g AS (
      SELECT doc_id,
             CASE WHEN length(t) >= 11 THEN
               [md5(substr(t, i, 8)) FOR i IN range(1, length(t) - 8 + 2)]
             ELSE [] END AS hs
      FROM d
    )
    SELECT doc_id,
           CASE WHEN len(hs) >= 4 THEN
             CAST(len(list_distinct(
               [list_aggregate(hs[j+1:j+4], 'min')
                FOR j IN range(0, len(hs) - 4 + 1)])) AS INTEGER)
           ELSE 0 END AS n_fps
    FROM g
    """,
)
def t5_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (rolling-hash) fingerprints per document — the
    MOSS-style substring-match primitive, here in the PORTABLE hash
    family (md5-hex grams, lexicographic window minima) so fingerprints
    are an engine-exchangeable artifact and DuckDB can restate the
    ENTIRE selection structure in SQL (list comprehensions over the
    same k=8 grams, w=4 window minima, distinct count) — formerly
    rows-only under xxhash64, which no other engine computes; the
    xxhash64 family remains ``winnow_fingerprints``'s default for
    in-engine lanes (r10 verdict item 6). Overlap quality is pinned by
    tests/test_approx_quality.py."""
    from aws_csp_datapipeline_spark.parallelism import ensure_min_parallelism

    d = load_table(spark, sf_dir, "documents")
    # per-char k-gram hashing is the heaviest per-row expression in the
    # repo — spread the narrow projection across cores first
    narrow = ensure_min_parallelism(d.select("doc_id", "text"))
    fp = narrow.select(
        "doc_id",
        X.winnow_fingerprints(F.col("text"), hash="portable").alias("fps"),
    )
    return fp.select("doc_id", F.size("fps").alias("n_fps"))


@register(
    "t4_fingerprint_stats",
    """
    SELECT source, COUNT(*) AS n_docs,
           COUNT(DISTINCT md5(lower(text))) AS n_distinct_fp
    FROM documents GROUP BY source
    """,
)
def t4_fingerprint_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting (md5 of normalized text) + per-source
    distinct counts — the exact-dup rate monitor."""
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(X.fingerprint(F.col("text"))).alias("n_distinct_fp"),
    )


@register(
    "t6_pii_scrub",
    r"""
    SELECT doc_id,
           regexp_replace(regexp_replace(regexp_replace(
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@mail.example.com or https://site'
                  || CAST(doc_id % 10 AS VARCHAR)
                  || '.example.org tel +1-555-0100',
             '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
             'https?://\S+', '<URL>', 'g'),
             '\+?[0-9][0-9-]{7,}[0-9]', '<PHONE>', 'g') AS clean
    FROM documents
    """,
)
def t6_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub (pre-training corpus hygiene): mask emails, URLs and
    phone-like digit runs via chained regexp_replace. The PII is
    synthesized deterministically per doc (the corpus itself has
    none), so the masking path is genuinely exercised. Narrow, no
    shuffle, codegen-friendly."""
    d = load_table(spark, sf_dir, "documents")
    with_pii = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example.com or https://site"),
        (F.col("doc_id") % 10).cast("string"),
        F.lit(".example.org tel +1-555-0100"),
    )
    return d.select("doc_id", X.scrub_pii(with_pii).alias("clean"))


@register(
    "t7_repetition_ratio",
    r"""
    SELECT doc_id,
           ROUND(CASE WHEN len(regexp_split_to_array(trim(lower(text)), '\s+')) > 0
                 THEN 1.0 - CAST(len(list_distinct(
                        regexp_split_to_array(trim(lower(text)), '\s+'))) AS DOUBLE)
                      / len(regexp_split_to_array(trim(lower(text)), '\s+'))
                 ELSE 0.0 END, 6) + 0.0 AS rep_ratio
    FROM documents
    """,
)
def t7_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token repetition ratio (1 - distinct/total) — the boilerplate
    /spam signal in quality filtering. Array expressions only."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        (F.round(X.repetition_ratio(F.col("text")), 6) + 0.0).alias("rep_ratio"),
    )


@register(
    "t8_levenshtein_pairs",
    """
    WITH names AS (SELECT DISTINCT p_name FROM part)
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS dist
    FROM names a JOIN names b ON a.p_name < b.p_name
    WHERE levenshtein(a.p_name, b.p_name) <= 3
    """,
)
def t8_levenshtein_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-match pairs over the distinct name
    vocabulary. The self-join is quadratic in VOCABULARY size (not
    corpus size) — fine for enum-like columns; for open text at
    corpus scale, pre-bucket by length band + first char so only
    plausible pairs meet, then verify with levenshtein."""
    names = load_table(spark, sf_dir, "part").select("p_name").distinct()
    a = names.select(F.col("p_name").alias("name_a"))
    b = names.select(F.col("p_name").alias("name_b"))
    pairs = a.join(b, F.col("name_a") < F.col("name_b"))
    return pairs.select(
        "name_a", "name_b", F.levenshtein("name_a", "name_b").alias("dist")
    ).filter(F.col("dist") <= 3)


@register(
    "t10_top_bigrams",
    r"""
    WITH toks AS (
      SELECT regexp_split_to_array(trim(lower(text)), '\s+') AS ts
      FROM documents
      WHERE len(regexp_split_to_array(trim(lower(text)), '\s+')) >= 2
    ), bg AS (
      SELECT unnest(list_transform(list_zip(ts[:-2], ts[2:]),
                                   z -> z[1] || ' ' || z[2])) AS bigram
      FROM toks
    )
    SELECT bigram, COUNT(*) AS cnt
    FROM bg GROUP BY bigram ORDER BY cnt DESC, bigram LIMIT 20
    """,
)
def t10_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus top-20 bigram counts (the n-gram LM / contamination-
    check primitive). Join-free: bigrams are zip_with of the token
    array against its own shift — one narrow projection, one explode,
    one partial-aggregated groupBy; the top-20 is TakeOrderedAndProject
    (per-partition heaps), never a global sort. Scales linearly in
    corpus size, shuffle bounded by |distinct bigrams|."""
    d = load_table(spark, sf_dir, "documents")
    bg = d.select(F.explode(X.bigrams(F.col("text"))).alias("bigram"))
    return (
        bg.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("bigram"))
        .limit(20)
    )


@register(
    "t11_chunk_windows",
    r"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS ts
      FROM documents
    ), st AS (
      SELECT doc_id, ts, unnest(generate_series(1, len(ts), 25)) AS s
      FROM toks WHERE len(ts) >= 1
    )
    SELECT doc_id, (s-1)//25 AS chunk_idx,
           len(ts[s:least(s+49, len(ts))]) AS n_tokens,
           ts[s] AS head
    FROM st
    """,
)
def t11_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking (50-token windows, stride 25)
    — the context-length packing precursor that turns long documents
    into training-sized pieces. Pure per-row expression (token array
    bound once, windows via sequence+slice) followed by ONE
    posexplode; no shuffle, no join, linear in corpus size."""
    d = load_table(spark, sf_dir, "documents")

    def chunks_of(t):
        return F.transform(
            F.sequence(F.lit(1), F.size(t), F.lit(25)),
            lambda s: F.struct(
                F.size(F.slice(t, s, F.lit(50))).alias("n_tokens"),
                F.element_at(t, s).alias("head"),
            ),
        )

    chunks = F.element_at(F.transform(F.array(X.tokens(F.col("text"))), chunks_of), 1)
    return (
        d.select("doc_id", F.posexplode(chunks).alias("chunk_idx", "c"))
        .select(
            "doc_id",
            F.col("chunk_idx").cast("long").alias("chunk_idx"),
            F.col("c.n_tokens").cast("long").alias("n_tokens"),
            F.col("c.head").alias("head"),
        )
    )


@register(
    "t14_vocab_build",
    """
    WITH tok AS (
      SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS token
      FROM documents
    ),
    counts AS (
      SELECT token, COUNT(*) AS freq FROM tok
      GROUP BY token HAVING COUNT(*) >= 20
    )
    SELECT token, freq,
           CAST(row_number() OVER (ORDER BY freq DESC, token) AS BIGINT)
             AS token_id
    FROM counts
    """,
)
def t14_vocab_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary build: token frequencies with a min-count
    cutoff and contiguous ids assigned by (freq desc, token) — the
    tokenizer-training precursor every LM data pipeline materializes.
    The explode shuffles only (token) singletons with map-side
    partial counts (bounded by per-partition vocab, not corpus
    tokens); the id-assigning row_number runs on the post-cutoff
    vocabulary, which is constant-size relative to the corpus (new
    documents mostly repeat existing tokens), so the single-partition
    window is over ~|vocab| rows, not data-scale."""
    d = load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window

    counts = (
        d.select(F.explode(X.tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
        .filter(F.col("freq") >= 20)
    )
    # full-vocabulary rank without a single-partition sort: the
    # distributed range-partitioned rank (functions/rank.py) — every
    # token's id contributes, so a top-k heap can't substitute
    from aws_csp_datapipeline_spark.functions.rank import global_row_number

    ranked = global_row_number(
        counts, [F.desc("freq"), F.asc("token")], out="__rn",
        # scale proxy from the footer (zero jobs): the gated vocab is
        # far below the corpus doc count in practice; both dispatch
        # paths are exact, so the hint is purely a performance knob
        n_hint=table_row_count(sf_dir, "documents"),
    )
    return ranked.withColumn("token_id", F.col("__rn").cast("long")).drop("__rn")


# t15's full SQL, exposed so downstream curation queries (t19) can
# embed it as a subquery
BIGRAM_LOGPROB_SQL = r"""
    WITH tok AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
      FROM documents
    ),
    bg AS (
      SELECT doc_id,
             unnest(list_transform(list_zip(t[:-2], t[2:]),
                                   z -> z[1] || ' ' || z[2])) AS bigram
      FROM tok WHERE len(t) >= 2
    ),
    bc AS (SELECT bigram, COUNT(*) AS nb FROM bg GROUP BY bigram),
    uc AS (SELECT split_part(bigram, ' ', 1) AS w1, COUNT(*) AS nu
           FROM bg GROUP BY 1)
    SELECT doc_id, COUNT(*) AS n_bigrams,
           ROUND(AVG(LN(CAST(nb AS DOUBLE) / nu)), 4) + 0 AS avg_logprob
    FROM bg
    JOIN bc USING (bigram)
    JOIN uc ON split_part(bg.bigram, ' ', 1) = uc.w1
    GROUP BY doc_id
    """


@register("t15_bigram_logprob", BIGRAM_LOGPROB_SQL)
def t15_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style bigram-LM quality score: each document's mean
    conditional log-probability ln(count(w1 w2)/count(w1 ·)) under
    the corpus's own bigram statistics — low scorers are boilerplate
    / gibberish candidates for the curation gate. Three aggregations
    over ONE exploded bigram table (per-doc rows, corpus bigram
    counts, corpus first-word counts); the model tables are
    vocab-scale so AQE broadcasts them back onto the per-doc rows.
    At 100 TB the join keys become 64-bit fingerprints and the
    per-doc side pre-aggregates (doc, bigram, n) before joining."""
    d = load_table(spark, sf_dir, "documents")
    return doc_bigram_logprob(d)


def doc_bigram_logprob(d: DataFrame) -> DataFrame:
    """(doc_id, n_bigrams, avg_logprob) under the corpus's own bigram
    LM — t15's body, reusable by downstream curation queries (t19).

    The LM only ever compares n-grams for EQUALITY, so the exploded
    table carries xxhash64 fingerprints of (bigram, first word)
    instead of the strings: the cached table is 3 longs/row, both
    model aggregations and both joins back key on 8-byte longs, and
    the count statistics — hence the scores — are unchanged short of
    a 64-bit collision (~1e-7 at millions of distinct bigrams; the
    DuckDB oracle keeps the string formulation). A/B at sf1, warm:
    5.0 s → 1.7 s, identical per-doc scores."""
    # the exploded bigram table feeds three consumers (per-doc rows,
    # bigram counts, first-word counts) — materialize it once with
    # explicit MEMORY_AND_DISK (same policy as the LSH shingle table:
    # spill, don't recompute the explode on eviction)
    from aws_csp_datapipeline_spark.parallelism import ensure_min_parallelism

    # the bigram build (regex split + zip) is the per-row-expensive
    # step — spread the narrow (id, text) projection across cores
    # first, or a single-row-group extract runs it on ONE task
    bg = lifecycle.persist(
        ensure_min_parallelism(d.select("doc_id", "text"))
        .select("doc_id", F.explode(X.bigrams(F.col("text"))).alias("bigram"))
        .select(
            "doc_id",
            F.xxhash64("bigram").alias("bh"),
            F.xxhash64(F.substring_index("bigram", " ", 1)).alias("wh"),
        )
    )
    bc = bg.groupBy("bh").agg(F.count(F.lit(1)).alias("nb"))
    uc = bg.groupBy("wh").agg(F.count(F.lit(1)).alias("nu"))
    scored = bg.join(bc, "bh").join(uc, "wh")
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(
            F.avg(F.log(F.col("nb").cast("double") / F.col("nu"))), 4
        ).alias("avg_logprob"),
    )


@register(
    "t20_gopher_repetition_gate",
    r"""
    WITH tok AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
      FROM documents
    ),
    g AS (
      SELECT doc_id,
             list_transform(list_zip(t[:-3], t[2:-2], t[3:]),
                            z -> z[1] || ' ' || z[2] || ' ' || z[3]) AS gs
      FROM tok WHERE len(t) >= 3
    )
    SELECT doc_id,
           CAST(len(gs) AS BIGINT) AS n_trigrams,
           ROUND(1.0 - CAST(len(list_distinct(gs)) AS DOUBLE) / len(gs), 6)
             + 0.0 AS dup_frac,
           (1.0 - CAST(len(list_distinct(gs)) AS DOUBLE) / len(gs)) > 0.02
             AS flagged
    FROM g
    """,
)
def t20_gopher_repetition_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-n-gram quality rule (the MassiveText/Gopher filter
    family, complementing t7's token-level repetition): the fraction
    of a document's trigrams that repeat an earlier trigram; docs
    over the threshold are boilerplate/spam candidates. Pure per-row
    array expressions — the trigram array is built once per row (see
    ``text.trigrams``) and consumed by size + array_distinct inside
    one bound struct, so nothing is recomputed, nothing explodes,
    and the operator is corpus-size-independent (no shuffle at all)."""
    from aws_csp_datapipeline_spark.parallelism import ensure_min_parallelism

    d = ensure_min_parallelism(load_table(spark, sf_dir, "documents"))
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
    scored = d.select("doc_id", stats.alias("__s")).filter(F.col("__s.n") >= 1)
    dup = 1.0 - F.col("__s.nd").cast("double") / F.col("__s.n").cast("double")
    return scored.select(
        "doc_id",
        F.col("__s.n").cast("long").alias("n_trigrams"),
        (F.round(dup, 6) + 0.0).alias("dup_frac"),
        (dup > 0.02).alias("flagged"),
    )


@register(
    "t19_lm_quality_gate",
    f"""
    WITH scored AS ({BIGRAM_LOGPROB_SQL})
    SELECT doc_id, n_bigrams, avg_logprob
    FROM scored
    WHERE n_bigrams >= 12 AND avg_logprob >= -3.42
    """,
)
def t19_lm_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style curation gate: keep documents whose mean bigram
    log-probability under the corpus's own LM (t15's score, reused via
    ``doc_bigram_logprob``) clears a fluency floor and that have
    enough bigrams for the score to be meaningful. Low scorers are
    the boilerplate / gibberish bucket a training-data pipeline routes
    to quarantine. Same physical shape as t15 (one cached exploded
    bigram table, vocab-scale model sides broadcast back by AQE) plus
    a final codegen'd filter."""
    d = load_table(spark, sf_dir, "documents")
    scored = doc_bigram_logprob(d)
    return scored.filter(
        (F.col("n_bigrams") >= 12) & (F.col("avg_logprob") >= -3.42)
    )


@register(
    "x8_explode_outer",
    r"""
    WITH tok AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                         t -> t LIKE '%qu%') AS ts
      FROM documents
    )
    SELECT doc_id, unnest(ts) AS token FROM tok WHERE len(ts) > 0
    UNION ALL
    SELECT doc_id, NULL AS token FROM tok WHERE len(ts) = 0
    """,
)
def x8_explode_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generator with outer semantics: explode a (often empty)
    filtered token array while KEEPING empty-array rows as a NULL
    token — the row-preserving fan-out needed when downstream joins
    must still see every document (x3's plain explode silently drops
    them). Narrow per-row expression + one generate; the oracle
    states outer semantics as UNION ALL of the two cases."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.filter(X.tokens(F.col("text")), lambda t: t.contains("qu"))
    return d.select("doc_id", F.explode_outer(toks).alias("token"))


@register(
    "t16_sentence_udtf",
    r"""
    WITH s AS (
      SELECT doc_id,
             regexp_split_to_array(text, '\.\s+') AS sents
      FROM documents
    ),
    ex AS (
      SELECT doc_id,
             CAST(generate_subscripts(sents, 1) - 1 AS INTEGER) AS sent_idx,
             trim(unnest(sents)) AS sentence
      FROM s
    )
    SELECT doc_id, sent_idx, sentence,
           length(sentence) AS n_chars
    FROM ex WHERE sentence <> ''
    """,
)
def t16_sentence_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (table function) surface: one document row expands
    to N sentence rows with positions — the 1→N API a Spark user
    reaches for when a generator needs imperative logic (here the
    logic is deterministic regex splitting, so DuckDB can restate it
    and the UDTF plumbing itself is oracle-checked). The UDTF runs
    per-partition with no shuffle; the row fan-out happens inside the
    generate, exactly like explode."""
    import re

    from pyspark.sql.functions import lit, udtf

    @udtf(returnType="doc_id: long, sent_idx: int, sentence: string, n_chars: long")
    class SentenceSplit:
        def eval(self, doc_id: int, text: str):
            idx = 0
            for raw in re.split(r"\.\s+", text or ""):
                sent = raw.strip()
                if sent:
                    yield doc_id, idx, sent, len(sent)
                idx += 1

    d = load_table(spark, sf_dir, "documents")
    spark.udtf.register("sentence_split", SentenceSplit)
    # lateral-join the UDTF over the documents relation; ``{d}`` binds
    # the frame under a per-call view that spark.sql drops on return
    return spark.sql(
        "SELECT s.* FROM {d} d, LATERAL sentence_split(d.doc_id, d.text) s", d=d
    )


@register(
    "t21_freq_of_freq",
    r"""
    WITH tok AS (
      SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
      FROM documents
    ),
    tf AS (
      SELECT token, COUNT(*) AS freq FROM tok WHERE token <> ''
      GROUP BY token
    )
    SELECT freq, CAST(COUNT(*) AS BIGINT) AS n_types
    FROM tf GROUP BY freq
    ORDER BY freq LIMIT 100
    """,
)
def t21_freq_of_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf profile: frequency-of-frequencies over the corpus
    vocabulary (n_types at freq=1 is the hapax count — the standard
    vocabulary-health / OCR-noise diagnostic, and the input to
    Good-Turing smoothing). Two combiner aggs, both over
    vocabulary-sized keys; the corpus-scale explode shuffles token
    singletons only (same pass as ``bpe.word_freqs`` — reused)."""
    from aws_csp_datapipeline_spark.functions import bpe

    d = load_table(spark, sf_dir, "documents")
    tf = bpe.word_freqs(d).select(
        F.col("word").alias("token"), F.col("freq")
    )
    return (
        tf.groupBy("freq")
        .agg(F.count(F.lit(1)).cast("long").alias("n_types"))
        .orderBy("freq")
        .limit(100)
    )


@register(
    "t22_vocab_growth",
    r"""
    WITH tok AS (
      SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+'))
               AS token
      FROM documents
    ),
    first_seen AS (
      SELECT token, MIN(doc_id) AS first_doc FROM tok WHERE token <> ''
      GROUP BY token
    ),
    per_bucket AS (
      SELECT first_doc // 100 AS bucket, COUNT(*) AS new_types
      FROM first_seen GROUP BY 1
    )
    SELECT bucket, CAST(new_types AS BIGINT) AS new_types,
           CAST(SUM(new_types) OVER (ORDER BY bucket
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS vocab_size
    FROM per_bucket ORDER BY bucket
    """,
)
def t22_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law vocabulary growth: new token types contributed per
    100-doc ingestion bucket and the cumulative vocabulary size — the
    curve that says whether a crawl is still finding new language or
    re-reading the same pages. First-occurrence is MIN(doc_id) per
    token (one vocab-sized agg after the explode); the cumulative
    window runs over the constant-size bucket table."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    first_seen = (
        d.select("doc_id", F.explode(X.tokens(F.col("text"))).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    per_bucket = (
        first_seen.groupBy(
            F.floor(F.col("first_doc") / 100).alias("bucket")
        ).agg(F.count(F.lit(1)).alias("new_types"))
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    return per_bucket.select(
        "bucket",
        F.col("new_types").cast("long").alias("new_types"),
        F.sum("new_types").over(w).cast("long").alias("vocab_size"),
    ).orderBy("bucket")


@register(
    "t23_readability",
    r"""
    WITH m AS (
      SELECT doc_id,
             len(regexp_split_to_array(trim(lower(text)), '\s+')) AS n_words,
             greatest(1, len(regexp_extract_all(text, '[.!?]+'))) AS n_sents,
             greatest(len(regexp_split_to_array(trim(lower(text)), '\s+')),
                      len(regexp_extract_all(lower(text), '[aeiouy]+')))
               AS n_syll
      FROM documents WHERE trim(text) <> ''
    )
    SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
           CAST(n_syll AS BIGINT) AS n_syllables,
           ROUND(206.835
                 - 1.015 * (CAST(n_words AS DOUBLE) / n_sents)
                 - 84.6 * (CAST(n_syll AS DOUBLE) / n_words), 2) AS flesch
    FROM m
    """,
)
def t23_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per document: syllables approximated as
    vowel-group runs (floored at one per word), sentences as
    terminal-punctuation runs (floored at 1) — the classic readability
    feature corpus filters threshold on. Narrow projection, all regex
    counts JVM-side; scores are comparable WITHIN a corpus under this
    syllable approximation, which is the filtering use case."""
    d = load_table(spark, sf_dir, "documents")
    n_words = X.token_count(F.col("text"))
    n_sents = F.greatest(
        F.lit(1), F.size(F.regexp_extract_all(F.col("text"), F.lit(r"[.!?]+"), 0))
    )
    n_syll = F.greatest(
        n_words,
        F.size(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit(r"[aeiouy]+"), 0)
        ),
    )
    return (
        d.filter(F.trim(F.col("text")) != "")
        .select(
            "doc_id",
            n_words.cast("long").alias("n_words"),
            n_syll.cast("long").alias("n_syllables"),
            F.round(
                F.lit(206.835)
                - F.lit(1.015) * (n_words.cast("double") / n_sents)
                - F.lit(84.6) * (n_syll.cast("double") / n_words),
                2,
            ).alias("flesch"),
        )
    )


@register(
    "t25_lm_perplexity",
    r"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS ts
      FROM documents
    ),
    bg AS (
      SELECT doc_id,
             unnest(list_transform(list_zip(ts[:-2], ts[2:]),
                                   z -> z[1] || ' ' || z[2])) AS bigram
      FROM toks WHERE len(ts) >= 2
    ),
    bgc AS (SELECT bigram, COUNT(*) AS c12 FROM bg GROUP BY bigram),
    heads AS (
      SELECT split_part(bigram, ' ', 1) AS w1, SUM(c12) AS c1
      FROM bgc GROUP BY 1
    ),
    v AS (
      SELECT COUNT(DISTINCT tok) AS vocab
      FROM (SELECT unnest(ts) AS tok FROM toks)
    ),
    probs AS (
      SELECT b.bigram,
             (b.c12 + 0.5) / (h.c1 + 0.5 * v.vocab) AS p
      FROM bgc b JOIN heads h ON split_part(b.bigram, ' ', 1) = h.w1
      CROSS JOIN v
    )
    SELECT bg.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           ROUND(POW(2.0, -AVG(log2(p.p))), 4) AS ppl
    FROM bg JOIN probs p USING (bigram)
    GROUP BY bg.doc_id
    """,
)
def t25_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM-perplexity quality gate (Wenzek et al. 2019,
    arXiv 1911.00359): score every document by the perplexity of an
    add-k-smoothed BIGRAM language model — low-perplexity text is
    fluent/common, high-perplexity is noise or boilerplate-mangled;
    CCNet buckets the corpus by exactly this statistic. Here the
    model trains on the scored corpus itself (self-perplexity, the
    registry's one-table form); a deployment trains `bgc/heads/vocab`
    on a REFERENCE corpus once, persists the three small relations,
    and scores any target corpus against them.

    P(w2|w1) = (c(w1 w2) + 0.5) / (c(w1·) + 0.5·|V|);
    doc cross-entropy H = −avg log2 P over its bigrams; ppl = 2^H.

    Scale shape: bigrams come join-free from the shifted-zip array
    (`text.bigrams` — no (doc, pos+1) self-join); the model is two
    grouped counts over the bigram relation (map-side combined,
    shuffle bounded by |distinct bigrams|); vocab is one
    count_distinct broadcast as a scalar; scoring is one equi-join of
    doc-bigrams to the prob table keyed by bigram (the only
    corpus-width shuffle) and one per-doc aggregate. Nothing is
    quadratic; document BODIES never shuffle — only bigram strings."""

    from aws_csp_datapipeline_spark.parallelism import ensure_min_parallelism

    d = load_table(spark, sf_dir, "documents")
    # the bigram relation is the substrate of BOTH the model (bgc →
    # heads → probs) and the scoring side — persist it so document
    # bodies are read once for all bigram consumers (un-persisted,
    # Catalyst re-scans the corpus per consumer; with the cache it is
    # the bigram TABLE, orders smaller than the bodies, that feeds
    # every reuse — PLAN_AUDIT's executed-plan ledger shows 2 parquet
    # scans: the cache's one and the vocab count's). Spread the
    # narrow projection first (r12): on a single-row-group extract
    # the bigram/token explodes otherwise run on ONE task per cache
    # pass (no-op on real multi-row-group layouts).
    nar = ensure_min_parallelism(d.select("doc_id", "text"))
    bg = lifecycle.persist(nar.select(
        "doc_id", F.explode(X.bigrams(F.col("text"))).alias("bigram")
    ))
    bgc = bg.groupBy("bigram").agg(F.count(F.lit(1)).alias("c12"))
    # heads = sum(c12) OVER BGC, not a second stream aggregation —
    # SETTLED r13 (VERDICT r12 item 3): the r12 heads-from-stream
    # rewrite was re-A/B'd at sf1 (interleaved, 3 rounds, reps=2,
    # .scratch/ab_heads_*.jsonl) and measured SLOWER — t25 1.10x,
    # t26 1.03x, tt16 1.13x — matching the committed r12 anchor
    # (1.11-1.13x). Both forms aggregate the bigram stream twice
    # (bgc for scoring + one heads pass); this form's heads pass
    # runs over |distinct bigrams| rows instead of the full stream,
    # so its per-row split_part + combine work is strictly smaller.
    # Reverted to this form on that measurement.
    heads = (
        bgc.withColumn("w1", F.split_part(F.col("bigram"), F.lit(" "), F.lit(1)))
        .groupBy("w1")
        .agg(F.sum("c12").alias("c1"))
    )
    vocab = nar.select(
        F.explode(X.tokens(F.col("text"))).alias("tok")
    ).agg(F.count_distinct("tok").alias("vocab"))
    probs = (
        bgc.withColumn("w1", F.split_part(F.col("bigram"), F.lit(" "), F.lit(1)))
        .join(heads, "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "bigram",
            (
                (F.col("c12") + F.lit(0.5))
                / (F.col("c1") + F.lit(0.5) * F.col("vocab"))
            ).alias("p"),
        )
    )
    return (
        bg.join(probs, "bigram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.round(F.pow(F.lit(2.0), -F.avg(F.log2("p"))), 4).alias("ppl"),
        )
    )


@register(
    "t26_ccnet_buckets",
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
    bgc AS (SELECT bigram, COUNT(*) AS c12 FROM rbg GROUP BY bigram),
    heads AS (
      SELECT split_part(bigram, ' ', 1) AS w1, SUM(c12) AS c1
      FROM bgc GROUP BY 1
    ),
    v AS (
      SELECT COUNT(DISTINCT tok) AS vocab
      FROM (SELECT unnest(ts) AS tok FROM ref)
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
             (COALESCE(b.c12, 0) + 0.5)
               / (COALESCE(h.c1, 0) + 0.5 * v.vocab) AS p
      FROM tbg t
      LEFT JOIN bgc b USING (bigram)
      LEFT JOIN heads h ON split_part(t.bigram, ' ', 1) = h.w1
      CROSS JOIN v
    ),
    docs AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             ROUND(POW(2.0, -AVG(log2(p))), 4) AS ppl
      FROM scored GROUP BY doc_id
    )
    SELECT doc_id, n_bigrams, ppl,
           CASE NTILE(3) OVER (ORDER BY ppl, doc_id)
             WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail'
           END AS bucket
    FROM docs
    """,
)
def t26_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL CCNet shape (Wenzek et al. 2019): train the bigram LM
    on a REFERENCE corpus (source 'src0' here; Wikipedia in the
    paper), score every OTHER document against it, and split the
    scored corpus into head/middle/tail perplexity terciles — the
    buckets CCNet publishes and downstream recipes sample from
    (head = most reference-like). t25 is the one-corpus form; this
    lane adds the two-corpus evaluation with proper OUT-OF-VOCABULARY
    handling: a target bigram the reference never saw still gets its
    add-k floor (c12+0.5)/(c1+0.5·V) via LEFT joins with COALESCE(0)
    — an inner join would silently DROP unseen bigrams and score
    noise as fluent.

    Scale shape: the model is built from the (small) reference corpus
    and its three relations join the target bigram stream keyed by
    bigram/head — broadcast-sized when the reference is bounded (the
    CCNet deployment: a fixed wiki LM scoring an unbounded crawl).
    The tercile split is one window over the per-doc result (rows =
    |docs|, orders smaller than the bigram stream). ntile ties break
    on doc_id so the bucketing is deterministic cross-engine."""
    from aws_csp_datapipeline_spark.parallelism import ensure_min_parallelism

    d = load_table(spark, sf_dir, "documents")
    # spread once before the four explode consumers (r12): the cheap
    # source filters may push into the scan, but the expensive bigram/
    # token explodes stay above the spread and parallelize on
    # single-row-group extracts (no-op on real layouts)
    nar = ensure_min_parallelism(d.select("doc_id", "source", "text"))
    ref = nar.filter(F.col("source") == "src0")
    tgt = nar.filter(F.col("source") != "src0")
    rbg = ref.select(F.explode(X.bigrams(F.col("text"))).alias("bigram"))
    bgc = rbg.groupBy("bigram").agg(F.count(F.lit(1)).alias("c12"))
    # heads from bgc, not the stream — measured decision, see the
    # t25 site (r13: stream form 1.03-1.13x slower at sf1).
    heads = (
        bgc.withColumn("w1", F.split_part(F.col("bigram"), F.lit(" "), F.lit(1)))
        .groupBy("w1")
        .agg(F.sum("c12").alias("c1"))
    )
    vocab = ref.select(
        F.explode(X.tokens(F.col("text"))).alias("tok")
    ).agg(F.count_distinct("tok").alias("vocab"))
    tbg = tgt.select(
        "doc_id", F.explode(X.bigrams(F.col("text"))).alias("bigram")
    ).withColumn("w1", F.split_part(F.col("bigram"), F.lit(" "), F.lit(1)))
    # model joins UNHINTED: at sf0.01 Catalyst broadcasts them anyway
    # (tiny), and at corpus scale the reference model can be
    # multi-million-row (src0 at sf100 is 250k docs -> ~10M distinct
    # bigrams) where a forced broadcast is a driver-memory hazard —
    # AQE picks broadcast vs shuffle from the REAL build-side size.
    # Only the 1-row vocab scalar keeps an explicit hint.
    scored = (
        tbg.join(bgc, "bigram", "left")
        .join(heads, "w1", "left")
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            (
                (F.coalesce(F.col("c12"), F.lit(0)) + F.lit(0.5))
                / (F.coalesce(F.col("c1"), F.lit(0)) + F.lit(0.5) * F.col("vocab"))
            ).alias("p"),
        )
    )
    docs = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.round(F.pow(F.lit(2.0), -F.avg(F.log2("p"))), 4).alias("ppl"),
    )
    # Exact NTILE(3) WITHOUT a global single-partition window:
    # `functions/rank.exact_ntile` (range-partitioned global rank +
    # closed-form bucket, bit-identical to NTILE(3) OVER (ORDER BY
    # ppl, doc_id) — the heavy-ties test below and the DuckDB oracle
    # pin it). The naive Window.orderBy("ppl","doc_id") funnels every
    # scored doc through ONE task — the anti-pattern this repo bans
    # at 100-TB doc counts.
    from aws_csp_datapipeline_spark.functions.rank import exact_ntile

    tiled = exact_ntile(
        docs, 3, [F.asc("ppl"), F.asc("doc_id")], out="__tile",
        n_hint=table_row_count(sf_dir, "documents"),
    )
    tile = F.col("__tile")
    return tiled.select(
        "doc_id",
        "n_bigrams",
        "ppl",
        F.when(tile == 1, "head")
        .when(tile == 2, "middle")
        .otherwise("tail")
        .alias("bucket"),
    )
