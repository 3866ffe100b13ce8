"""Oracle-paired dedup queries over the documents table.

The exact-Jaccard SQL below is also the oracle for the MinHash+LSH
variant: with k=32/b=16/r=2 the LSH candidate set provably contains a
J≥0.8 pair with probability ≈ 1-8e-8, and exact verification removes
false candidates — so on this corpus (pairs are either ≥0.8 or <0.1)
the approximate path reproduces the exact answer deterministically
(fixed xxhash64 seeds).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from aws_csp_datapipeline_spark import lifecycle
from aws_csp_datapipeline_spark.catalog import load_table, table_row_count
from aws_csp_datapipeline_spark.functions import dedup as D
from aws_csp_datapipeline_spark.functions import text as X
from aws_csp_datapipeline_spark.plans.registry import register

_JACCARD_SQL = """
    WITH tok AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS t
      FROM documents
    ),
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               generate_series(1, len(t) - 2),
               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
      FROM tok WHERE len(t) >= 3
    ),
    ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
    sz AS (SELECT doc_id, len(s) AS n FROM sh),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
      FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           ROUND(CAST(c AS DOUBLE) / CAST(x.n + y.n - c AS DOUBLE), 4) AS jaccard
    FROM common
    JOIN sz x ON common.doc_a = x.doc_id
    JOIN sz y ON common.doc_b = y.doc_id
    WHERE CAST(c AS DOUBLE) / CAST(x.n + y.n - c AS DOUBLE) >= 0.8
    """


@register(
    "d1_exact_dedup",
    """
    SELECT doc_id, lang, source, n_chars FROM documents
    QUALIFY ROW_NUMBER() OVER (PARTITION BY md5(lower(text))
                               ORDER BY doc_id) = 1
    """,
)
def d1_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: keep lowest doc_id per content fingerprint. The
    shuffle carries (128-bit hash, id), never the document bodies."""
    d = load_table(spark, sf_dir, "documents")
    return D.exact_dedup(d, "text", "doc_id").select(
        "doc_id", "lang", "source", "n_chars"
    )


@register("d2_ngram_jaccard_pairs", _JACCARD_SQL)
def d2_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard near-dup pairs (J ≥ 0.8) via the
    inverted-index self-join."""
    d = load_table(spark, sf_dir, "documents")
    return D.ngram_jaccard_pairs(d, "text", "doc_id", threshold=0.8, n=3)


@register("d3_minhash_lsh_pairs", _JACCARD_SQL)
def d3_minhash_lsh_pairs(
    spark: SparkSession, sf_dir: str, banding: str = "default"
) -> DataFrame:
    """MinHash(32) + LSH(16 bands × 2) near-dup pairs with exact
    verification — the 100-TB path; see module docstring for why the
    exact-Jaccard SQL is a valid oracle here."""
    d = load_table(spark, sf_dir, "documents")
    return D.minhash_lsh_pairs(
        d, "text", "doc_id", threshold=0.8, k=32, bands=16, n=3, banding=banding,
        # footer count: the bucket_cap auto-gate costs zero jobs (r12)
        n_rows=table_row_count(sf_dir, "documents"),
    )


# Portable-family hash helpers for the d4/d5 oracles (same pattern as
# t5 winnow / mm7 dHash): the ONLY engine-specific step in each
# signature is one xxhash64 base hash, so the portable variants swap
# it for an md5-derived integer that DuckDB re-derives with string
# functions. Everything above the base hash (votes, universal-hash
# permutations, banding) is plain integer arithmetic on both sides.
def _hex_fold(src: str, lo: int, hi: int) -> str:
    """DuckDB base-16 parse of ``src``'s hex chars [lo, hi)."""
    return (
        f"list_reduce([strpos('0123456789abcdef', {src}[i]) - 1 "
        f"FOR i IN range({lo}, {hi})], (a, b) -> a * 16 + b)"
    )


def _simhash_oracle_sql() -> str:
    """Restates ``dedup.simhash64(hash='portable')`` + the banded
    hamming join's exact result (all-pairs is affordable at
    attestation SF; pigeonhole + exact verify make the banded set
    equal to it — the mm8 argument)."""
    h63 = (
        f"({_hex_fold('m', 1, 9)} % 2147483648) * 4294967296"
        f" + {_hex_fold('m', 9, 17)}"
    )
    bits = "\n        + ".join(
        f"CASE WHEN list_sum([CASE WHEN (h // {1 << i}) % 2 = 1 "
        f"THEN 1 ELSE -1 END FOR h IN hs]) > 0 "
        f"THEN {1 << i}::BIGINT ELSE 0 END"
        for i in range(63)
    )
    return f"""
    WITH tok AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS t
      FROM documents
    ),
    hv AS (
      SELECT doc_id,
             [[{h63} FOR m IN [md5(w)]][1] FOR w IN t] AS hs
      FROM tok
    ),
    sig AS (
      SELECT doc_id, ({bits}) AS simhash FROM hv
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """


@register("d4_simhash_candidates", _simhash_oracle_sql())
def d4_simhash_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash(64-bit) hamming-≤3 candidate pairs, PORTABLE token-hash
    family (md5-derived 63-bit; `dedup._portable_h63`): per-token
    sign-votes per bit → signed BIGINT fingerprint → pigeonhole-banded
    hamming join. Oracle-paired: DuckDB re-derives every fingerprint
    from md5 hex and computes the all-pairs hamming set the banded
    join provably equals. The xxhash64 family stays the scale default
    for in-engine near-dup work (cheaper per token)."""
    from pyspark.sql import functions as F

    d = load_table(spark, sf_dir, "documents")
    return D.simhash_candidate_pairs(
        d, "text", "doc_id", max_hamming=3, hash="portable"
    ).withColumn("hamming", F.col("hamming").cast("int"))


_COMPONENTS_SQL = f"""
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
    )
    SELECT doc, MIN(r) AS group_id FROM reach GROUP BY doc
"""


@register("d6_neardup_groups", _COMPONENTS_SQL)
def d6_neardup_groups(
    spark: SparkSession, sf_dir: str, banding: str = "default"
) -> DataFrame:
    """Near-dup clustering: connected components over the LSH pair
    set (iterative min-label propagation; value-checked against a
    recursive-CTE reachability oracle over the EXACT-Jaccard pairs —
    valid because d3 ≡ d2 on this corpus, see module docstring),
    yielding (doc, group_id) for keep-one-per-group dedup."""
    d = load_table(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(
        d, "text", "doc_id", threshold=0.8, k=32, bands=16, n=3, banding=banding,
        n_rows=table_row_count(sf_dir, "documents"),
    )
    return D.neardup_groups(pairs)


def _minhash_oracle_sql(k: int = 32) -> str:
    """Restates ``dedup.minhash_signatures(hash='portable')``: 31-bit
    md5-derived base per shingle, then the same deterministic
    (a_j·x + b_j) mod 2^31 universal-hash permutations
    (``dedup._perm_constants(k)`` — embedded as literals so both
    engines run identical constants)."""
    from aws_csp_datapipeline_spark.functions.dedup import _perm_constants

    mins = ",\n      ".join(
        f"CAST(list_min([(x * {a} + {b}) % 2147483648 FOR x IN xs]) "
        f"AS BIGINT) AS mh{j}"
        for j, (a, b) in enumerate(_perm_constants(k))
    )
    return f"""
    WITH tok AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS t
      FROM documents
    ),
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               generate_series(1, len(t) - 2),
               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
      FROM tok WHERE len(t) >= 3
    ),
    xs AS (
      SELECT doc_id AS doc,
             [[{_hex_fold('m', 1, 9)} % 2147483648
               FOR m IN [md5(g)]][1] FOR g IN s] AS xs
      FROM sh WHERE len(s) > 0
    )
    SELECT doc,
      {mins}
    FROM xs
    """


@register("d5_minhash_signatures", _minhash_oracle_sql())
def d5_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw MinHash signature table — the reusable artifact a
    corpus-scale pipeline persists and re-bands against — in the
    PORTABLE base-hash family (md5-prefix mod 2^31; the universal-
    hash permutation layer is engine-neutral integer arithmetic, so
    DuckDB reproduces all k=32 signature columns exactly). The
    xxhash64 family stays the default for d3's in-engine LSH (cheaper
    per shingle); persisted signatures are only comparable within one
    family — which is exactly why an EXCHANGED artifact wants the
    portable one."""
    d = load_table(spark, sf_dir, "documents")
    return D.minhash_signatures(d, "text", "doc_id", k=32, n=3, hash="portable")


_CANONICAL_SQL = f"""
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
    grp AS (SELECT doc, MIN(r) AS group_id FROM reach GROUP BY doc),
    sz AS (SELECT group_id, COUNT(*) AS n_members FROM grp GROUP BY group_id)
    SELECT d.doc_id, d.lang, d.source, COALESCE(sz.n_members, 1) AS n_members
    FROM documents d
    LEFT JOIN grp g ON d.doc_id = g.doc
    LEFT JOIN sz ON g.group_id = sz.group_id
    WHERE g.doc IS NULL OR g.group_id = d.doc_id
"""


@register("d7_canonical_corpus", _CANONICAL_SQL)
def d7_canonical_corpus(
    spark: SparkSession, sf_dir: str, banding: str = "default"
) -> DataFrame:
    """The deduplicated corpus itself: every document survives except
    non-canonical members of near-dup clusters (canonical = min
    doc_id per component, d6's group labels), each kept row carrying
    its cluster size — the final 'emit the clean training set' step
    the pair/group queries feed. The group table holds only docs in
    near-dup clusters, but that count GROWS with the corpus (20-50 %
    duplication is normal at crawl scale), so it carries no broadcast
    hint: AQE broadcasts it while it is small and switches to a keyed
    shuffle join on doc_id at scale — which moves (doc_id, group_id,
    n_members) triples only; document bodies are pruned before the
    join either way."""
    from pyspark.sql import functions as F

    d = load_table(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(
        d, "text", "doc_id", threshold=0.8, k=32, bands=16, n=3, banding=banding,
        n_rows=table_row_count(sf_dir, "documents"),
    )
    groups = D.neardup_groups(pairs)
    sizes = groups.groupBy("group_id").agg(F.count(F.lit(1)).alias("n_members"))
    gs = groups.join(sizes, "group_id")
    joined = d.join(gs, d.doc_id == gs.doc, "left")
    return joined.filter(
        gs.doc.isNull() | (gs.group_id == d.doc_id)
    ).select(
        d.doc_id, "lang", "source", F.coalesce("n_members", F.lit(1)).alias("n_members")
    )


_REDUNDANCY_SQL = f"""
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
    SELECT d.source, COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN g.doc IS NOT NULL AND g.group_id <> d.doc_id
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_redundant,
           ROUND(SUM(CASE WHEN g.doc IS NOT NULL AND g.group_id <> d.doc_id
                          THEN 1 ELSE 0 END) / CAST(COUNT(*) AS DOUBLE), 6)
             AS redundancy_rate
    FROM documents d LEFT JOIN grp g ON d.doc_id = g.doc
    GROUP BY d.source
"""


@register("d8_redundancy_by_source", _REDUNDANCY_SQL)
def d8_redundancy_by_source(
    spark: SparkSession, sf_dir: str, banding: str = "default"
) -> DataFrame:
    """Redundancy audit per ingestion source: what fraction of each
    source's documents are non-canonical near-dup copies (d6/d7's
    cluster labels rolled up by provenance) — the signal that
    decides which feed gets its crawl budget cut. The redundant-doc
    set grows with the corpus, so no broadcast hint — AQE picks the
    join; only (doc_id, flag) pairs move, and the output is one
    |sources|-row aggregate."""
    from pyspark.sql import functions as F

    d = load_table(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(
        d, "text", "doc_id", threshold=0.8, k=32, bands=16, n=3, banding=banding,
        n_rows=table_row_count(sf_dir, "documents"),
    )
    groups = D.neardup_groups(pairs)
    redundant = groups.filter(F.col("doc") != F.col("group_id")).select(
        F.col("doc").alias("doc_id"), F.lit(1).alias("__r")
    )
    joined = d.join(redundant, "doc_id", "left")
    return joined.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.coalesce(F.col("__r"), F.lit(0))).alias("n_redundant"),
        F.round(
            F.sum(F.coalesce(F.col("__r"), F.lit(0))) / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("redundancy_rate"),
    )


_PASSAGE_SQL = r"""
    WITH tok AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
      FROM documents
    ),
    spans AS (
      SELECT doc_id,
             unnest(list_transform(
               generate_series(1, CAST(floor(len(t) / 10) AS BIGINT)),
               j -> array_to_string(t[(j-1)*10+1 : j*10], ' '))) AS span
      FROM tok WHERE len(t) >= 10
    ),
    cnt AS (SELECT span, COUNT(*) AS n_occ FROM spans GROUP BY span)
    SELECT doc_id, COUNT(*) AS n_spans,
           CAST(SUM(CASE WHEN n_occ > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_spans,
           ROUND(SUM(CASE WHEN n_occ > 1 THEN 1 ELSE 0 END)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS dup_frac
    FROM spans JOIN cnt USING (span)
    GROUP BY doc_id
"""


@register("d9_duplicate_passages", _PASSAGE_SQL)
def d9_duplicate_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring (passage) dedup statistics — the sub-document
    granularity the doc-level dedup family (d1-d8) doesn't cover:
    tile each document into non-overlapping 10-token spans and count,
    per doc, how many of its spans occur more than once corpus-wide
    (the Lee et al. train-set-dedup signal; docs with high dup_frac
    are boilerplate carriers even when no WHOLE document matches).
    See ``functions.dedup.duplicate_passage_stats`` for the shuffle
    budget and the 100-TB fingerprint+bloom restatement."""
    d = load_table(spark, sf_dir, "documents")
    return D.duplicate_passage_stats(d, "text", "doc_id", width=10)


_SEMDEDUP_SQL = """
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    b AS (SELECT vec_id, v,
            CAST(CASE WHEN v[1] > 0 THEN 32 ELSE 0 END
               + CASE WHEN v[2] > 0 THEN 16 ELSE 0 END
               + CASE WHEN v[3] > 0 THEN 8 ELSE 0 END
               + CASE WHEN v[4] > 0 THEN 4 ELSE 0 END
               + CASE WHEN v[5] > 0 THEN 2 ELSE 0 END
               + CASE WHEN v[6] > 0 THEN 1 ELSE 0 END AS BIGINT) AS bucket
          FROM e)
    SELECT x.vec_id, x.bucket
    FROM b x
    WHERE NOT EXISTS (
      SELECT 1 FROM b y
      WHERE y.bucket = x.bucket AND y.vec_id < x.vec_id
        AND list_dot_product(x.v, y.v)
            / (sqrt(list_dot_product(x.v, x.v))
               * sqrt(list_dot_product(y.v, y.v))) >= 0.45
    )
"""


@register("d10_semdedup", _SEMDEDUP_SQL, oracle_sf_max=0.1)
def d10_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic (embedding-space) dedup — the dedup granularity the
    text-hash family (d1-d9) can't reach: paraphrases and re-encodings
    that share no shingles but sit close in embedding space. SemDeDup
    shape: coarse cells (deterministic sign-bit quantizer here; an
    IVF/KMeans quantizer at 100 TB — see the function docstring),
    within-cell cosine pairs only, drop the higher id of each pair.
    Threshold 0.45 sits in a measured gap of the within-cell cosine
    distribution at every test SF (nearest values 0.4469 / 0.4483 at
    sf0.1), so engine float drift cannot flip a kept flag. Returns
    the KEPT corpus (vec_id, bucket) — the actual SemDeDup output;
    returning it (rather than all-rows-with-flags) also keeps every
    benchmark action dependent on the pair join, which Catalyst would
    otherwise prune out of a count over the multiplicity-preserving
    flags form.

    Cell count follows ``auto_semdedup_quantizer`` (the paper's
    k ∝ N rule): 6 sign bits — bit-identical to the fixed-bits oracle
    below — at every corpus up to 4,096 vectors, which covers the
    attested sf0.01 (200) and sf0.1 (2,000) corpora; from 4,097 the
    bits grow one per corpus doubling to hold expected cell size at
    ~64, and the oracle (hard-coded v[1..6] buckets) is NOT valid
    there — machine-enforced via oracle_sf_max=0.1 (the a15 gate
    pattern); do not oracle-compare d10 on larger corpora (SCALE.md
    "d10 cell-count scale rule" has the measured sf10 effect). Past
    the 14-bit sign cap (~1M vectors) the cell id composes a KMeans
    coarse cell with residual sign bits (SCALE.md "d10 beyond the
    sign-bit cap")."""
    from pyspark.sql import functions as F

    from aws_csp_datapipeline_spark.functions import similarity as S

    e = load_table(spark, sf_dir, "embeddings")
    # quantizer scales with the corpus: pure sign bits up to the
    # 14-bit cap (~1M vectors; bit-identical to every attested plan),
    # KMeans-composed cells beyond it (auto_semdedup_quantizer).
    # The knob statistic comes from the parquet FOOTER (zero Spark
    # jobs) so building this plan stays lazy — an eager e.count()
    # here was the r9 verdict's hidden-action watch item.
    n = table_row_count(sf_dir, "embeddings")
    ivf_cells, sign_bits = S.auto_semdedup_quantizer(n)
    flags = S.semdedup_flags(
        e,
        "embedding",
        "vec_id",
        threshold=0.45,
        sign_bits=sign_bits,
        ivf_cells=ivf_cells,
        n_rows=n,
    )
    return flags.filter(F.col("kept")).select("vec_id", "bucket")


_INC_SEMDEDUP_SQL = """
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    b AS (SELECT vec_id, v,
            CAST(CASE WHEN v[1] > 0 THEN 32 ELSE 0 END
               + CASE WHEN v[2] > 0 THEN 16 ELSE 0 END
               + CASE WHEN v[3] > 0 THEN 8 ELSE 0 END
               + CASE WHEN v[4] > 0 THEN 4 ELSE 0 END
               + CASE WHEN v[5] > 0 THEN 2 ELSE 0 END
               + CASE WHEN v[6] > 0 THEN 1 ELSE 0 END AS BIGINT) AS bucket
          FROM e),
    existing AS (SELECT * FROM b WHERE vec_id < 250),
    kept AS (
      SELECT * FROM existing x
      WHERE NOT EXISTS (
        SELECT 1 FROM existing y
        WHERE y.bucket = x.bucket AND y.vec_id < x.vec_id
          AND list_dot_product(x.v, y.v)
              / (sqrt(list_dot_product(x.v, x.v))
                 * sqrt(list_dot_product(y.v, y.v))) >= 0.45
      )
    ),
    incoming AS (SELECT * FROM b WHERE vec_id >= 250)
    SELECT i.vec_id, i.bucket,
           NOT EXISTS (
             SELECT 1 FROM kept k
             WHERE k.bucket = i.bucket
               AND list_dot_product(i.v, k.v)
                   / (sqrt(list_dot_product(i.v, i.v))
                      * sqrt(list_dot_product(k.v, k.v))) >= 0.45
           ) AS accepted
    FROM incoming i
"""


@register("inc3_incremental_semdedup", _INC_SEMDEDUP_SQL)
def inc3_incremental_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental semantic dedup (d10's day-over-day form): a new
    embedding batch (vec_id >= 250, mirroring inc2's split) is
    admitted against the KEPT set of the existing corpus only —
    each increment pays |batch| x |kept-in-cell| comparisons, never a
    corpus re-dedup; the carried state is the kept (id, cell,
    unit-vector) table built by ``similarity.semdedup_kept_state``
    (computed here from the vec_id<250 slice because the driver gives
    one static table; a real pipeline reads the PERSISTED state). See
    ``similarity.semdedup_incremental`` for the
    batch-internal-duplicates contract."""
    from pyspark.sql import functions as F

    from aws_csp_datapipeline_spark.functions import similarity as S

    e = load_table(spark, sf_dir, "embeddings")
    state = S.semdedup_kept_state(
        e.filter(F.col("vec_id") < 250), "embedding", "vec_id", 0.45, 6
    )
    incoming = e.filter(F.col("vec_id") >= 250)
    return S.semdedup_incremental(
        state, incoming, "embedding", "vec_id", threshold=0.45, sign_bits=6
    )


@register(
    "d11_cross_source_dups",
    """
    WITH fp AS (
      SELECT DISTINCT source, md5(lower(text)) AS f FROM documents
    ),
    pairs AS (
      SELECT a.source AS source_a, b.source AS source_b
      FROM fp a JOIN fp b ON a.f = b.f AND a.source < b.source
    )
    SELECT source_a, source_b, CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM pairs GROUP BY source_a, source_b
    ORDER BY n_shared DESC, source_a, source_b
    LIMIT 50
    """,
)
def d11_cross_source_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix: for every pair of ingestion
    feeds, how many identical documents (by content fingerprint) they
    both carry — the governance view that finds mirror/scraper feeds
    so one of them can be dropped at the source instead of deduped
    downstream forever (complements `d8`, which scores each source in
    isolation).

    Scale shape: the self-join key is the md5 fingerprint, so only
    (source, 16-byte hash) pairs shuffle — never text — and n_shared
    counts DISTINCT shared documents (per-(source, fingerprint) dedup
    before the join), so a feed's internal duplication can't
    quadratically inflate its overlap score. Output is at most
    |sources|² rows."""
    from pyspark.sql import functions as F

    d = load_table(spark, sf_dir, "documents")
    fp = d.select(
        "source", X.fingerprint(F.col("text")).alias("f")
    ).dropDuplicates(["source", "f"])
    a = fp.select(F.col("source").alias("source_a"), "f")
    b = fp.select(F.col("source").alias("source_b"), "f")
    pairs = a.join(b, "f").filter(F.col("source_a") < F.col("source_b"))
    return (
        pairs.groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .orderBy(F.desc("n_shared"), F.asc("source_a"), F.asc("source_b"))
        .limit(50)
    )


@register(
    "d12_kmv_source_overlap",
    """
    WITH f AS (
      SELECT DISTINCT source, md5(lower(text)) AS fp FROM documents
    ),
    s AS (SELECT source, COUNT(*) AS n FROM f GROUP BY source),
    i AS (
      SELECT a.source AS source_a, b.source AS source_b,
             COUNT(*) AS inter
      FROM f a JOIN f b ON a.fp = b.fp AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT sa.source AS source_a, sb.source AS source_b,
      ROUND(CAST(sa.n + sb.n - COALESCE(i.inter, 0) AS DOUBLE), 1)
        AS est_union,
      ROUND(CAST(COALESCE(i.inter, 0) AS DOUBLE), 1) AS est_intersection,
      ROUND(COALESCE(i.inter, 0)
            / CAST(sa.n + sb.n - COALESCE(i.inter, 0) AS DOUBLE), 4)
        AS est_jaccard
    FROM s sa JOIN s sb ON sa.source < sb.source
    LEFT JOIN i ON i.source_a = sa.source AND i.source_b = sb.source
    ORDER BY source_a, source_b
    """,
    oracle_sf_max=0.01,
)
def d12_kmv_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch form of `d11`: per-source bottom-k (KMV) sketches over
    document fingerprints, then PAIRWISE union/intersection/Jaccard
    estimates from the sketches alone — the shape cross-source overlap
    takes at 100 TB, where materializing the fingerprint self-join per
    source pair is off the table but |sources| × k longs always fits.

    Oracle with a machine-enforced exactness window (the a15/d10
    `oracle_sf_max` pattern): while every source pair's fingerprint
    UNION fits inside the sketch (< k=256 — true through sf0.01,
    max pair union 50; sf0.1's 500 crosses), the sketch saw
    everything and `kmv_pair_estimates` returns EXACT set
    cardinalities — so DuckDB restates the answer from the distinct
    md5 fingerprint sets directly, no xxhash needed (the hash only
    ORDERS the sketch; cardinalities are family-independent modulo a
    ~n²/2⁶⁴ collision). Beyond the window the driver downgrades to
    rows-only and the estimator's error stays pinned against the
    exact d11 matrix in tests/test_approx_quality.py. One corpus pass
    builds all sketches; the pair join is |sources|²-sized."""
    from pyspark.sql import functions as F

    from aws_csp_datapipeline_spark.functions import sketches as SK

    k = 256
    d = load_table(spark, sf_dir, "documents")
    sk = SK.kmv_build(d, "source", X.fingerprint(F.col("text")), k=k)
    a = sk.select(F.col("source").alias("source_a"), F.col("kmv").alias("ka"))
    b = sk.select(F.col("source").alias("source_b"), F.col("kmv").alias("kb"))
    pairs = a.join(b, F.col("source_a") < F.col("source_b"))
    est_u, est_i, est_j = SK.kmv_pair_estimates(
        F.col("ka"), F.col("kb"), k=k
    )
    return pairs.select(
        "source_a",
        "source_b",
        F.round(est_u, 1).alias("est_union"),
        F.round(est_i, 1).alias("est_intersection"),
        F.round(est_j, 4).alias("est_jaccard"),
    ).orderBy("source_a", "source_b")


_CONTAINMENT_SQL = r"""
    WITH tok AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
      FROM documents
    ),
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               generate_series(1, len(t) - 2),
               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
      FROM tok WHERE len(t) >= 3
    ),
    ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
    sz AS (SELECT doc_id, len(s) AS n FROM sh),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
      FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT CASE WHEN x.n < y.n OR (x.n = y.n AND doc_a < doc_b)
                THEN doc_a ELSE doc_b END AS doc_small,
           CASE WHEN x.n < y.n OR (x.n = y.n AND doc_a < doc_b)
                THEN doc_b ELSE doc_a END AS doc_big,
           ROUND(CAST(c AS DOUBLE) / LEAST(x.n, y.n), 4)      AS containment,
           ROUND(CAST(c AS DOUBLE) / (x.n + y.n - c), 4)      AS jaccard
    FROM common
    JOIN sz x ON common.doc_a = x.doc_id
    JOIN sz y ON common.doc_b = y.doc_id
    WHERE CAST(c AS DOUBLE) / LEAST(x.n, y.n) >= 0.9
    """


@register("d13_containment_pairs", _CONTAINMENT_SQL)
def d13_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment dedup: (small, big) pairs where ≥90% of
    the smaller document's 3-gram shingles appear in the bigger one —
    the short-doc-inside-long-doc duplicates a symmetric Jaccard
    cutoff structurally misses (J = |A|/|B| shrinks with the length
    ratio even at containment 1.0). Exact inverted-index form; see
    ``functions.dedup.containment_pairs`` for the banded-MinHash
    candidate path this verifies at 100 TB."""
    d = load_table(spark, sf_dir, "documents")
    return D.containment_pairs(d, "text", "doc_id", threshold=0.9, n=3)


_NOVELTY_SQL = r"""
    WITH tok AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
      FROM documents
    ),
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               generate_series(1, len(t) - 7),
               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
                 || ' ' || t[i+4] || ' ' || t[i+5] || ' ' || t[i+6]
                 || ' ' || t[i+7])) AS s
      FROM tok WHERE len(t) >= 8
    ),
    ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
    fs AS (SELECT g, MIN(doc_id) AS first_doc FROM ex GROUP BY g)
    SELECT ex.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN fs.first_doc = ex.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           ROUND(CAST(SUM(CASE WHEN fs.first_doc = ex.doc_id
                               THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 4) AS novelty
    FROM ex JOIN fs ON ex.g = fs.g
    GROUP BY ex.doc_id
    """


@register("t24_shingle_novelty", _NOVELTY_SQL)
def t24_shingle_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-novelty / memorization audit: per document, the fraction
    of its distinct 8-gram shingles whose corpus-wide first occurrence
    (min doc_id) is this document. Lives beside d9 (aligned tiles) and
    t22 (vocabulary types): overlapping shingles catch restated text
    that neither whole-doc hashes nor fixed tiles align with. See
    ``functions.dedup.shingle_novelty_stats`` (hashed=True is the
    8-byte-fingerprint 100-TB shuffle shape)."""
    d = load_table(spark, sf_dir, "documents")
    return D.shingle_novelty_stats(d, "text", "doc_id", n=8)


_SCRUB_SQL = r"""
    WITH tok AS (
      SELECT doc_id, text, regexp_split_to_array(trim(lower(text)), '\s+') AS t
      FROM documents
    ),
    sp AS (
      SELECT doc_id, t,
             unnest(generate_series(0, CAST(floor(len(t) / 10) AS INT) - 1))
               AS pos
      FROM tok WHERE len(t) >= 10
    ),
    spans AS (
      SELECT doc_id, pos,
             array_to_string(t[pos*10+1 : (pos+1)*10], ' ') AS span
      FROM sp
    ),
    rn AS (
      SELECT doc_id, pos,
             ROW_NUMBER() OVER (PARTITION BY span ORDER BY doc_id, pos) AS r
      FROM spans
    ),
    rm AS (
      SELECT doc_id, list(pos) AS rml FROM rn WHERE r > 1 GROUP BY doc_id
    ),
    kept AS (
      SELECT s.doc_id, string_agg(s.span, ' ' ORDER BY s.pos) AS body
      FROM spans s JOIN rn USING (doc_id, pos)
      WHERE rn.r = 1
      GROUP BY s.doc_id
    )
    SELECT d.doc_id,
           CASE WHEN rm.rml IS NULL THEN d.text
                ELSE trim(concat(COALESCE(k.body, ''), ' ',
                     array_to_string(
                       d.t[CAST(floor(len(d.t)/10) AS INT)*10+1 :], ' ')))
           END AS text,
           CAST(COALESCE(len(rm.rml), 0) AS INT) AS n_removed_spans
    FROM tok d
    LEFT JOIN rm USING (doc_id)
    LEFT JOIN kept k ON k.doc_id = d.doc_id
"""


@register("d14_passage_scrubbed_corpus", _SCRUB_SQL)
def d14_passage_scrubbed_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REMOVAL form of d9: delete every corpus-wide repeat of a
    10-token span except its canonical first occurrence
    (min (doc, pos)) and rebuild the touched documents — the
    exact-substring training-data scrub (Lee et al. 2022) the d9
    audit motivates. Untouched docs pass through verbatim; touched
    docs are rebuilt from the normalized token stream. See
    ``functions.dedup.scrub_duplicate_passages`` for the
    narrow-shuffle shape (8-byte span fingerprints; bodies never
    shuffle; removal lists are the only wide rows)."""
    d = load_table(spark, sf_dir, "documents")
    return D.scrub_duplicate_passages(d, "text", "doc_id", width=10)


@register("inc4_semdedup_state", _INC_SEMDEDUP_SQL)
def inc4_semdedup_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """inc3's day-over-day lane as a PERSISTED ARTIFACT
    (`functions/semdedup_state.py`): the kept state is built once and
    written bucket-sorted with its full quantizer identity (threshold,
    sign bits, and — past the sign-bit cap — the KMeans centers) in
    meta.json, then the batch is admitted by a fresh read of the
    artifact using the FROZEN persisted quantizer. Same oracle as
    inc3 (the decisions are identical by construction —
    tests/test_semdedup_state.py pins build ≡ semdedup_kept_state and
    admit ≡ semdedup_incremental); what this lane adds is the
    artifact lifecycle: no in-session state handoff, centers
    persisted beside the state so the incremental path survives past
    the sign-bit cap, append=True for tomorrow's batch. Temp dir per
    call keeps the query stateless for the driver."""
    from pyspark.sql import functions as F

    from aws_csp_datapipeline_spark.functions import semdedup_state as SS

    e = load_table(spark, sf_dir, "embeddings")
    sd = lifecycle.tempdir("spark_graft_semdedup_state_")
    SS.build_semdedup_state(
        e.filter(F.col("vec_id") < 250), "embedding", "vec_id", sd,
        threshold=0.45, sign_bits=6, ivf_cells=0,
    )
    return SS.incremental_from_state(
        spark, sd, e.filter(F.col("vec_id") >= 250)
    )
