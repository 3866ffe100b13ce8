"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale design (the point of each variant):

- ``exact``: group by a 128-bit content hash — one shuffle keyed by
  the hash (narrow rows), never by the text itself.
- ``ngram_jaccard_pairs``: the *exact* near-dup algorithm as an
  inverted-index self-join on shingles. Correct at any scale but the
  join fan-out is quadratic in per-shingle document frequency — it is
  the verification oracle and the small/medium-scale path.
- ``minhash_lsh_pairs``: the 100-TB path. Per-doc signature (k min
  hashes) computed in ONE groupBy over the exploded shingles; banding
  turns near-dup search into an equi-join on (band, band_hash);
  candidates are then exact-verified. Tunable (k, bands) for the
  recall/cost trade-off; deterministic (xxhash64, fixed seed).
- ``simhash``: 64-bit signed-projection fingerprint; hamming-band
  join for candidates. Cheapest signature, weakest recall — kept for
  surface completeness.

No Python UDFs anywhere — signatures are built from xxhash64 /
array expressions inside codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from aws_csp_datapipeline_spark import lifecycle
from aws_csp_datapipeline_spark.functions.text import fingerprint, tokens
from aws_csp_datapipeline_spark.parallelism import ensure_min_parallelism


def word_shingles(col, n: int = 3):
    """Distinct word n-gram shingles of lowered text (array column).

    The token array is bound ONCE per row through a single-element
    array-transform wrapper: referencing the split() expression
    directly inside the inner lambda would inline it, re-running the
    regex split for every element access (projection collapse defeats
    a plain two-step select). The wrapper keeps everything in
    whole-stage codegen with exactly one split per row.
    """
    def shingles_of(t):
        return F.when(
            F.size(t) >= n,
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(0), F.size(t) - n),
                    lambda i: F.concat_ws(
                        " ", *[F.element_at(t, i + j + 1) for j in range(n)]
                    ),
                )
            ),
        ).otherwise(F.array().cast("array<string>"))

    return F.element_at(
        F.transform(F.array(tokens(col)), shingles_of), 1
    )


def hashed_word_shingles(col, n: int = 3):
    """Distinct int64 fingerprints of the word n-gram shingles of
    lowered text — the equality-only representation every LSH/join
    path uses. The n words are hashed DIRECTLY (multi-arg xxhash64)
    instead of building the "w1 w2 w3" string first: no per-shingle
    string allocation, word boundaries preserved by argument position
    (strictly better than the space-join, whose only ambiguity source
    — spaces inside words — can't occur after the whitespace split).
    A/B at sf1, warm cold-cache: shingle build 0.70 s → 0.46 s,
    identical per-doc distinct counts corpus-wide. Same bound-once
    token-array wrapper as ``word_shingles``."""

    def sh_of(t):
        return F.when(
            F.size(t) >= n,
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(0), F.size(t) - n),
                    lambda i: F.xxhash64(
                        *[F.element_at(t, i + j + 1) for j in range(n)]
                    ),
                )
            ),
        ).otherwise(F.array().cast("array<bigint>"))

    return F.element_at(F.transform(F.array(tokens(col)), sh_of), 1)


def tiled_spans(col, width: int = 10):
    """Non-overlapping ``width``-token span strings of lowered text
    (array column) — the unit of exact substring/passage dedup (the
    "Deduplicating Training Data Makes Language Models Better"
    operator family works on fixed token spans, not whole docs).
    Same bound-once token-array wrapper as ``word_shingles``."""

    def spans_of(t):
        return F.when(
            F.size(t) >= width,
            F.transform(
                F.sequence(
                    F.lit(0), F.floor(F.size(t) / width).cast("int") - 1
                ),
                lambda j: F.concat_ws(" ", F.slice(t, j * width + 1, width)),
            ),
        ).otherwise(F.array().cast("array<string>"))

    return F.element_at(F.transform(F.array(tokens(col)), spans_of), 1)


def hashed_tiled_spans(col, width: int = 10):
    """Int64 fingerprints of the non-overlapping ``width``-token spans
    — ``tiled_spans``' equality-only sibling, hashing the width token
    arguments directly (multi-arg xxhash64, like
    ``hashed_word_shingles``) with no per-span string. Keep the two
    enumerations in lockstep: the DuckDB oracles state the string
    formulation that ``tiled_spans`` encodes."""

    def spans_of(t):
        return F.when(
            F.size(t) >= width,
            F.transform(
                F.sequence(
                    F.lit(0), F.floor(F.size(t) / width).cast("int") - 1
                ),
                lambda j: F.xxhash64(
                    *[F.element_at(t, j * width + i + 1) for i in range(width)]
                ),
            ),
        ).otherwise(F.array().cast("array<bigint>"))

    return F.element_at(F.transform(F.array(tokens(col)), spans_of), 1)


def duplicate_passage_stats(
    df: DataFrame, text_col: str, id_col: str, width: int = 10
) -> DataFrame:
    """Per-document duplicated-passage statistics: tile each doc into
    non-overlapping ``width``-token spans, count corpus-wide span
    occurrences, and report per doc how many of its spans occur more
    than once anywhere (doc_id, n_spans, n_dup_spans, dup_frac).
    Docs shorter than ``width`` tokens have no spans and drop out.

    Shuffle shape: one explode (1/width of the token count — tiling,
    not sliding), one narrow count aggregate keyed by span, one join
    back, one per-doc aggregate. The span key is an xxhash64
    fingerprint, not the ~width-word string — the count/join shuffles
    move 8-byte longs, and occurrence counts (hence the output) are
    unchanged short of a 64-bit collision; the DuckDB oracle states
    the string formulation. At 100 TB the fingerprint widens to
    128-bit and the >1-occurrence span set (tiny relative to the
    corpus) additionally ships as a broadcast/bloom filter instead of
    the equi-join — the ASYMMETRIC membership regime where the bloom
    shape pays (`sketches.bloom_build`; SCALE.md "Bloom prefilter vs
    fingerprint join" for the measured boundary)."""
    narrow = ensure_min_parallelism(
        df.select(F.col(id_col).alias("doc"), F.col(text_col).alias("__text"))
    )
    # ex feeds the corpus-wide count AND the join back — persist so
    # tokenization + tiling + explode run once (narrow (doc, int64)
    # rows; spillable, same lifecycle as the shingle tables)
    ex = lifecycle.persist(narrow.select(
        "doc", F.explode(hashed_tiled_spans(F.col("__text"), width)).alias("span")
    ))
    counts = ex.groupBy("span").agg(F.count(F.lit(1)).alias("n_occ"))
    return (
        ex.join(counts, "span")
        .groupBy("doc")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum((F.col("n_occ") > 1).cast("int")).cast("long").alias("n_dup_spans"),
            F.round(
                F.sum((F.col("n_occ") > 1).cast("int"))
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("dup_frac"),
        )
        .withColumnRenamed("doc", "doc_id")
    )


def scrub_duplicate_passages(
    df: DataFrame, text_col: str, id_col: str, width: int = 10
) -> DataFrame:
    """The REMOVAL form of ``duplicate_passage_stats``: every
    corpus-wide repeat of a ``width``-token span is deleted from the
    text except its canonical first occurrence (min (doc, pos)), and
    each touched document is rebuilt from its surviving tokens — the
    exact-substring training-data scrub (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"), on
    the same non-overlapping tiling d9 audits.

    Returns (``id_col``, text, n_removed_spans). Untouched documents
    (and docs shorter than ``width`` tokens) pass their text through
    VERBATIM; touched documents are rebuilt from the normalized
    token stream (lower/trim/single-space — the d2/d9 tokenization),
    kept spans in order plus the sub-``width`` tail.

    Shuffle shape: the occurrence table and the ownership aggregate
    carry (doc, pos, span-fingerprint) — 8-byte xxhash64 spans, never
    span strings (occurrence counts identical short of a 64-bit
    collision; the DuckDB oracle states the string formulation). The
    only wide rows are the per-doc removal lists (∝ duplicated spans
    only), which join back to the bodies in one equi-join; bodies
    never shuffle. At 100 TB the removal-list join is the
    broadcast/bloom candidate, same as d1's keep-set."""
    narrow = ensure_min_parallelism(
        df.select(F.col(id_col).alias("doc"), F.col(text_col).alias("__text"))
    )
    ex = narrow.select(
        "doc",
        F.posexplode(hashed_tiled_spans(F.col("__text"), width)).alias(
            "pos", "span"
        ),
    )
    own = ex.groupBy("span").agg(
        F.min(F.struct("doc", "pos")).alias("__owner")
    )
    removed = (
        ex.join(own, "span")
        .filter(
            (F.col("doc") != F.col("__owner.doc"))
            | (F.col("pos") != F.col("__owner.pos"))
        )
        .groupBy("doc")
        .agg(F.collect_set("pos").alias("__rm"))
    )
    out = df.join(
        removed, df[id_col] == removed["doc"], "left"
    ).select(
        F.col(id_col),
        F.when(F.col("__rm").isNull(), F.col(text_col))
        .otherwise(
            F.array_join(
                F.filter(
                    tokens(F.col(text_col)),
                    lambda _t, i: ~F.array_contains(
                        F.col("__rm"), (i / F.lit(width)).cast("int")
                    ),
                ),
                " ",
            )
        )
        .alias("text"),
        # size(NULL) is -1 under the legacy default, not NULL — branch
        # explicitly instead of coalescing
        F.when(F.col("__rm").isNull(), F.lit(0))
        .otherwise(F.size("__rm"))
        .cast("int")
        .alias("n_removed_spans"),
    )
    return out


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact dedup: keep the lowest-id row per content fingerprint.

    Two-phase narrow form: (1) aggregate (fingerprint → min id) over a
    (hash, id) projection — the only shuffle, constant bytes/row no
    matter how large the documents are; (2) semi-join the original
    rows on the keep-ids. Document bodies NEVER pass through a
    shuffle (a fingerprint-partitioned window would move them); when
    storage is bucketed by the id the semi-join itself is
    shuffle-free, and AQE broadcasts small keep-sets."""
    keep = (
        df.select(fingerprint(F.col(text_col)).alias("__fp"), F.col(id_col))
        .groupBy("__fp")
        .agg(F.min(id_col).alias(id_col))
        .drop("__fp")
    )
    return df.join(keep, id_col, "left_semi")


def _shingle_table(
    df: DataFrame, text_col: str, id_col: str, n: int, hashed: bool = False
) -> DataFrame:
    # shingle expr guards short docs itself → exactly ONE regex split
    # per row; the too-short docs drop on the (cheap) array-size check.
    # Shingling is the per-row-expensive step, so spread the (id, text)
    # projection across all cores first (no-op on parallel scans).
    #
    # hashed=True maps each distinct shingle string to its xxhash64 —
    # the representation the LSH path uses: 8-byte fixed-width keys
    # instead of ~n-word strings make the cached table, the shuffle of
    # the verification join, and array_intersect all several-fold
    # cheaper, while Jaccard counts are unchanged short of a 64-bit
    # collision (~1e-7 corpus-wide at millions of distinct shingles).
    # The exact/oracle path (ngram_jaccard_pairs) keeps the verbatim
    # strings so DuckDB can restate it symbol for symbol.
    narrow = ensure_min_parallelism(
        df.select(F.col(id_col).alias("doc"), F.col(text_col).alias("__text"))
    )
    if hashed:
        sh = hashed_word_shingles(F.col("__text"), n)
    else:
        sh = word_shingles(F.col("__text"), n)
    return (
        narrow.select("doc", sh.alias("sh"))
        .filter(F.size("sh") > 0)
    )


def ngram_jaccard_pairs(
    df: DataFrame, text_col: str, id_col: str, threshold: float = 0.8, n: int = 3
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via the inverted-index
    self-join: explode distinct shingles, equi-join on shingle,
    count common shingles per pair, then J = common / (|A|+|B|-common).
    Returns (doc_a, doc_b, jaccard) with doc_a < doc_b.
    """
    # The shingle table feeds both the size table and the exploded
    # self-join. MEMORY_AND_DISK explicitly: shingles are wider than
    # the input text, so memory-only caching would silently recompute
    # the shingling on eviction at corpus scale. The returned plan is
    # lazy, so the consumer's first action materializes the cache;
    # the caller's lifecycle scope releases it.
    sh = lifecycle.persist(_shingle_table(df, text_col, id_col, n))
    sizes = sh.select("doc", F.size("sh").alias("n_sh"))
    ex = sh.select("doc", F.explode("sh").alias("s"))
    a, b = ex.alias("a"), ex.alias("b")
    common = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc") < F.col("b.doc")))
        .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sizes.select(F.col("doc").alias("doc_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc").alias("doc_b"), F.col("n_sh").alias("nb"))
    j = (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.col("common").cast("double")
            / (F.col("na") + F.col("nb") - F.col("common")).cast("double"),
        )
    )
    return j.filter(F.col("jaccard") >= threshold).select(
        "doc_a", "doc_b", F.round("jaccard", 4).alias("jaccard")
    )


def containment_pairs(
    df: DataFrame, text_col: str, id_col: str, threshold: float = 0.9, n: int = 3
) -> DataFrame:
    """Asymmetric containment near-dup pairs: C(A→B) = |A∩B| / |A|
    over word n-gram shingles, reported as (doc_small, doc_big,
    containment, jaccard) where doc_small is the side with fewer
    shingles (tie → lower id). This is the failure mode a symmetric
    Jaccard threshold structurally misses: a short document fully
    embedded in a long one has containment 1.0 but Jaccard
    |A|/|B| — arbitrarily far below any dedup cutoff as the length
    ratio grows (the "quoted article inside an aggregator page" case).

    Shape: the same inverted-index self-join as
    ``ngram_jaccard_pairs`` (explode distinct shingles, equi-join on
    shingle, count per pair), with the denominator swapped to
    min(|A|, |B|). Same scale story too: exact and bucketed by
    posting list, so it is the verification oracle and the
    small/medium path; at 100 TB the candidate set comes from the
    banded MinHash join (``minhash_lsh_pairs``) run with a LOW
    Jaccard band threshold on the size-stratified corpus, and this
    containment check is the exact verifier over those candidates.
    """
    sh = lifecycle.persist(_shingle_table(df, text_col, id_col, n))
    sizes = sh.select("doc", F.size("sh").alias("n_sh"))
    ex = sh.select("doc", F.explode("sh").alias("s"))
    a, b = ex.alias("a"), ex.alias("b")
    common = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc") < F.col("b.doc")))
        .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sizes.select(F.col("doc").alias("doc_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc").alias("doc_b"), F.col("n_sh").alias("nb"))
    j = (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "containment",
            F.col("common").cast("double")
            / F.least("na", "nb").cast("double"),
        )
        .withColumn(
            "jaccard",
            F.col("common").cast("double")
            / (F.col("na") + F.col("nb") - F.col("common")).cast("double"),
        )
    )
    small_is_a = (F.col("na") < F.col("nb")) | (
        (F.col("na") == F.col("nb")) & (F.col("doc_a") < F.col("doc_b"))
    )
    return j.filter(F.col("containment") >= threshold).select(
        F.when(small_is_a, F.col("doc_a")).otherwise(F.col("doc_b")).alias(
            "doc_small"
        ),
        F.when(small_is_a, F.col("doc_b")).otherwise(F.col("doc_a")).alias(
            "doc_big"
        ),
        F.round("containment", 4).alias("containment"),
        F.round("jaccard", 4).alias("jaccard"),
    )


def shingle_novelty_stats(
    df: DataFrame, text_col: str, id_col: str, n: int = 8, hashed: bool = False
) -> DataFrame:
    """Per-document novelty audit: what fraction of a document's
    distinct word ``n``-gram shingles occur for the FIRST time in
    this document (first = minimum id corpus-wide)? The
    crawl-freshness / memorization signal: novelty ≈ 1 means new
    text, ≈ 0 means the document restates earlier corpus content
    even when no whole document or fixed tile matches (complements
    ``exact_dedup`` and ``duplicate_passage_stats``, which need
    verbatim whole-doc / aligned-tile repeats).

    Returns (``id_col``, n_shingles, n_novel, novelty); documents
    with fewer than ``n`` tokens drop (no shingles to audit).

    Shape: one explode + one groupBy(shingle).agg(min(id)) — the
    ownership table — then a join back and a per-doc count. With
    ``hashed=True`` both shuffles carry 8-byte xxhash64 fingerprints
    instead of n-word strings (identical counts short of 64-bit
    collisions) — the 100-TB representation; the default keeps
    verbatim strings so ANSI SQL restates it symbol for symbol.
    """
    sh = _shingle_table(df, text_col, id_col, n, hashed=hashed)
    ex = sh.select("doc", F.explode("sh").alias("s"))
    first = ex.groupBy("s").agg(F.min("doc").alias("first_doc"))
    return (
        ex.join(first, "s")
        .groupBy("doc")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc"), 1).otherwise(0)
            ).alias("n_novel"),
        )
        .select(
            F.col("doc").alias(id_col),
            "n_shingles",
            F.col("n_novel").cast("long").alias("n_novel"),
            F.round(
                F.col("n_novel").cast("double") / F.col("n_shingles"), 4
            ).alias("novelty"),
        )
    )


def _perm_constants(k: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a, b) constants for the universal-hash family
    h_j(x) = (a_j * x + b_j) mod 2^31, a_j odd."""
    import numpy as np

    rng = np.random.default_rng(seed)
    return [
        (int(rng.integers(1, 1 << 30)) * 2 + 1, int(rng.integers(0, 1 << 31)))
        for _ in range(k)
    ]


_MASK31 = (1 << 31) - 1


def _minhash_array(sh: DataFrame, k: int, hash: str = "xxhash64") -> DataFrame:
    """(doc, mhs: array<long>[k]) MinHash signatures with NO shuffle:
    the shingles are already a per-doc array, so each permutation's
    minimum is an ``array_min`` over a per-row transform — a narrow
    projection instead of the classic explode + k-way min-aggregate
    (which shuffles one row per (doc, shingle)).

    The k permutations run as ONE runtime loop over a literal
    (a_j, b_j) params array — a single compact expression, not k
    unrolled columns, which keeps the generated code small (the
    unrolled form cost seconds of Janino compile on first run).

    Hash family: each shingle is hashed ONCE (xxhash64 — of the
    string, or of the int64 fingerprint when the caller supplies a
    hashed shingle table; either way the value is bound
    as a lambda variable so codegen cannot inline/re-run it per
    permutation), then each permutation is an integer universal hash
    (a_j·x + b_j) mod 2^31 — k multiply-adds per shingle. Products
    stay < 2^62 so ANSI-mode long arithmetic never overflows."""
    # static literal params as ONE parsed SQL expression: k structs
    # through the Column API cost ~3 py4j round-trips each (~0.3 s of
    # driver chatter per plan build at k=100); one JVM parse of the
    # text takes under 1 ms
    params = F.expr(
        "array(" + ",".join(
            f"named_struct('a', {a}L, 'b', {b}L)" for a, b in _perm_constants(k)
        ) + ")"
    )

    def sig_of(hs):
        return F.transform(
            params,
            lambda p: F.array_min(
                F.transform(
                    hs, lambda x: F.pmod(x * p["a"] + p["b"], F.lit(1 << 31))
                )
            ),
        )

    if hash == "xxhash64":
        base = lambda s: F.xxhash64(s).bitwiseAND(F.lit(_MASK31))  # noqa: E731
    elif hash == "portable":
        # 31-bit md5-derived base (first 8 hex chars mod 2^31): any
        # engine with md5(varchar) + base-16 parse reproduces the
        # whole signature — the universal-hash layer above is plain
        # integer arithmetic either way (d5's driver oracle).
        base = lambda s: (  # noqa: E731
            F.conv(F.substring(F.md5(s), 1, 8), 16, 10)
            .cast("long")
            .bitwiseAND(F.lit(_MASK31))
        )
    else:
        raise ValueError(f"unknown minhash base-hash family: {hash!r}")
    hashed = F.transform(F.col("sh"), base)
    # one-element-array wrapper binds the hashed array once per row
    sig = F.element_at(F.transform(F.array(hashed), sig_of), 1)
    return sh.select("doc", sig.alias("mhs"))


def _signature_from_shingles(
    sh: DataFrame, k: int, hash: str = "xxhash64"
) -> DataFrame:
    """Column-per-permutation signature view (mh0..mh{k-1}) over
    ``_minhash_array`` — the persistable-artifact schema. The array
    is a bound attribute in the outer Project (CollapseProject keeps
    expensive multi-referenced aliases un-inlined), so the heavy
    expression still evaluates once per row."""
    arr = _minhash_array(sh, k, hash=hash)
    return arr.select(
        "doc", *[F.element_at(F.col("mhs"), j + 1).alias(f"mh{j}") for j in range(k)]
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 32,
    n: int = 3,
    hash: str = "xxhash64",
) -> DataFrame:
    """Per-doc MinHash signature table (see _signature_from_shingles
    for the hash family and shuffle shape).

    NOTE: this persistable artifact hashes the shingle STRINGS, while
    ``minhash_lsh_pairs`` internally double-hashes int64 shingle
    fingerprints — the two paths produce different (equally valid)
    signature values. Persisted signatures are only comparable to
    signatures built by the SAME path."""
    return _signature_from_shingles(
        _shingle_table(df, text_col, id_col, n), k, hash=hash
    )


def _min_band_hits(
    threshold: float, r: int, bands: int, miss_budget: float = 5e-5
) -> int:
    """Largest band-collision count m such that a TRUE pair at exactly
    J = threshold still collides in >= m of the ``bands`` bands with
    probability >= 1 - miss_budget (bands are independent Bernoulli
    trials with p = J^r under the hash family).

    Why this exists (measured, sf100): a corpus with a mid-J mass —
    here the scaled corpus's cross-replica boilerplate overlap at
    J ~= 0.26-0.30 (DuckDB-measured on .scratch/sf100 doc copies;
    in the wild, any shared-boilerplate crawl) — turns
    "collided in >= 1 band" into a quadratic candidate generator:
    P(>=1 of 16 bands | J=0.28) ~= 0.73, so ~2.5B boilerplate pairs
    became ~1.8B candidates whose SIGNATURE join (33 int64s per
    side) would write hundreds of GB; the band join alone wrote
    >60 GB of shuffle and killed the box. Requiring m=3 of 16
    (threshold 0.8) costs P(miss | J=0.8) = 3.2e-5 — the same risk
    class as the accepted est_prefilter bound (3.3e-5) and vanishing
    as J -> 1 — and cuts the J=0.28 candidate mass ~6x before
    anything wide is joined (P(>=3 hits | J=0.28) ~= 0.12). The
    count comes from the SAME map-side-combined exchange that
    already deduplicated multi-band pairs, so the filter is free.
    The filter alone is NOT sufficient in the high-multiplicity
    regime — see ``bucket_cap`` in ``minhash_lsh_pairs`` for the
    stop-bucket companion that is."""
    from math import comb

    p = threshold**r
    m = 1
    # P(X < m) for X ~ Binom(bands, p); grow m while the miss stays
    # inside the budget
    while m < bands:
        miss = sum(
            comb(bands, i) * p**i * (1 - p) ** (bands - i) for i in range(m + 1)
        )
        if miss > miss_budget:
            break
        m += 1
    return m


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.8,
    k: int = 32,
    bands: int = 16,
    n: int = 3,
    est_prefilter: float | str | None = "auto",
    banding: str = "default",
    bucket_cap: int | str | None = "auto",
    n_rows: int | None = None,
) -> DataFrame:
    """MinHash + LSH near-dup pairs, exact-verified.

    ``bucket_cap``: stop-bucket gate for the high-multiplicity
    boilerplate regime, OFF at every attested scale. ``"auto"``
    (default) enables it only past 500k input docs (sf10's 500,000
    exactly keeps its measured plan; sf100's 5M crosses), following
    the d10 auto-quantizer precedent. When on (an int, auto = 64):

    1. docs are first collapsed by IDENTICAL full signature (exact
       duplicates share all k minhashes), one rep bands per group,
       and member pairs are re-expanded into the verify stage — so
       a document duplicated 10,000x contributes ONE banding row,
       not a 10,000-deep bucket, and its C(n,2) true pairs still
       emit (the verify join re-checks each expanded pair exactly);
    2. any remaining (band, key) bucket with more than ``bucket_cap``
       rep members is skipped for pair generation.

    Why: measured at sf100 (SCALE.md "d3 at sf100"), a corpus whose
    docs carry ~1000 mid-J (~0.28) boilerplate variants generates
    its ENTIRE cross-variant collision mass at one value per band —
    the shared-minimum hash, which by construction is the only value
    two variants can agree on — i.e. in mega-buckets of ~170 of the
    1000 variants. C(170,2) pairs x 5k contents x 16 bands ~= 1.1B
    band-join rows wrote >60 GB of shuffle and killed a 61 GB-free
    box, with or without the ``_min_band_hits`` filter. Capping
    kills exactly those buckets. Recall contract: a TRUE pair is
    lost only if EVERY band it collides in is over-cap; near-dup
    pairs collide in ~10-16 bands of which only the shared-min
    bucket (~17% per band) can be over-cap, so
    P(loss | J=0.8) < 0.17^10 ~= 2e-8 — far inside the accepted
    est_prefilter risk class. Degenerate corpora whose every bucket
    is boilerplate should run exact dedup (d1) first, as every pipe*
    pipeline here does.

    banding: k/bands rows per band; band key = xxhash64 of the band's
    minhashes → candidate pairs are an equi-join on (band, key).
    With k=32, b=16, r=2: P(candidate | J=0.8) = 1-(1-0.64)^16 ≈ 1-8e-8, and false
    candidates are removed by the exact-Jaccard verification join, so
    the output equals ``ngram_jaccard_pairs`` with near-certainty —
    at a fraction of the join fan-out on large corpora.

    ``est_prefilter``: before the exact verification join, candidates
    whose SIGNATURE agreement (fraction of equal minhashes, an
    unbiased Jaccard estimate) falls below a cut are dropped by
    comparing the two k-long signatures — ~6x cheaper per pair than
    intersecting full shingle arrays, and r=2 banding is so
    recall-permissive that almost all candidates are low-J (measured
    at sf10: 22.3M candidates, only ~122k with agreement >= 0.5 —
    the pre-filter cut d3 from 38 s to 26 s; sf1 5.7 → 3.6 s).
    ``"auto"`` (default) ties the cut to the verification threshold
    with a 0.3 safety margin — cut = max(0, threshold − 0.3) — so
    lowering ``threshold`` automatically relaxes the pre-filter
    instead of silently eating true pairs near the boundary. Miss
    bound at the default (threshold 0.8 → cut 0.5):
    P(Binom(32, 0.8) < 16) ≈ 3.3e-5 per pair exactly AT the
    boundary, vanishing as J → 1 (≈ 1e-12 at J = 0.95), on top of
    banding's 8e-8 — and because the hash family is deterministic,
    equality to the exact pair set on a given corpus is a fixed fact
    checked by the oracle gate, not a per-run coin flip. Pass an
    explicit float for a manual cut, or ``None`` to disable (pure
    exact verify on every banding candidate).

    ``banding``: ``"default"`` keeps the passed (k, bands);
    ``"half-cost"`` overrides to (k=30, bands=10) — r=3 rows per
    band, measured 2× cheaper at sf10 with zero pair loss on
    boundary-SPARSE corpora (SCALE.md "d3 banding-r tradeoff"). The
    boundary bound is weaker (P(candidate | J=threshold) drops from
    1−8e-8 to 1−7.7e-4 at 0.8), so this is an explicit opt-in;
    ``banding_recommendation`` over a verified pair set computes
    whether a corpus's dup distribution makes the downgrade safe."""
    if banding == "half-cost":
        k, bands = 30, 10
    elif banding != "default":
        raise ValueError(f"banding must be 'default' or 'half-cost', got {banding!r}")
    if est_prefilter == "auto":
        est_prefilter = max(0.0, threshold - 0.3)
    r = k // bands
    # the shingle table feeds the signature build AND both sides of
    # the verification join — materialize it once, spilling to disk
    # rather than recomputing on eviction (see ngram_jaccard_pairs).
    # hashed=True: the LSH path never needs the shingle strings, only
    # equality — int64 fingerprints shrink the cache and the
    # verification shuffle and turn array_intersect into long
    # comparisons (A/B at sf1, warm: full d3 9.2 s → 4.5 s, same
    # 2551 output pairs).
    sh = lifecycle.persist(_shingle_table(df, text_col, id_col, n, hashed=True))
    # signatures feed the banding explode AND (with the pre-filter on)
    # both sides of the agreement join — materialize once like sh
    sig = _minhash_array(sh, k)
    if est_prefilter is not None:
        sig = lifecycle.persist(sig)
    if bucket_cap == "auto":
        # same gating shape as similarity.auto_semdedup_quantizer:
        # every attested corpus (incl. sf10's exactly-500k docs)
        # keeps its measured plan; the cap exists for the regime
        # where the band join itself is the scale hazard. Callers
        # that know the corpus size (parquet footer count —
        # catalog.table_row_count) pass ``n_rows`` so the knob costs
        # ZERO jobs; the df.count() fallback is a full-scan job at
        # plan-build time (the r10 preflight lesson, applied here
        # in r12 — it was the only remaining eager action on a
        # headline query path).
        n = n_rows if n_rows is not None else df.count()
        bucket_cap = 64 if n > 500_000 else None
    groups = None
    if bucket_cap is not None:
        # signature-identical collapse: exact duplicates (and k-way
        # signature collisions, which the exact verify re-checks)
        # band once per distinct signature — groupBy, not a window,
        # for the map-side combine (the d10 collapse lesson)
        groups = lifecycle.persist(sig.groupBy("mhs").agg(
            F.min("doc").alias("doc"),
            F.collect_list("doc").alias("__members"),
        ))
        band_src = groups
    else:
        band_src = sig
    # static band-key structs over the fixed internal column name
    # `mhs` as one parsed SQL expression, same rationale as the
    # minhash params (bands × (r element_at + xxhash64) Column calls
    # were ~0.2 s of py4j chatter per build)
    band_cols = F.expr(
        "array(" + ",".join(
            f"named_struct('band', {b}, 'key', xxhash64("
            + ",".join(f"element_at(mhs, {b * r + i + 1})" for i in range(r))
            + "))"
            for b in range(bands)
        ) + ")"
    )
    banded = band_src.select("doc", F.explode(band_cols).alias("bk")).select(
        "doc", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )
    if bucket_cap is not None:
        # stop buckets: a (band, key) bucket larger than the cap is
        # boilerplate-degenerate (see docstring) — skip pair
        # generation from it. The window's (band, key) partitioning
        # is the same key the self-join shuffles on.
        from pyspark.sql.window import Window

        wsz = Window.partitionBy("band", "key")
        banded = (
            banded.withColumn("__bsz", F.count(F.lit(1)).over(wsz))
            .filter(F.col("__bsz") <= F.lit(int(bucket_cap)))
            .drop("__bsz")
        )
    x, y = banded.alias("x"), banded.alias("y")
    cand = (
        x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.key") == F.col("y.key"))
            & (F.col("x.doc") < F.col("y.doc")),
        )
        .select(F.col("x.doc").alias("doc_a"), F.col("y.doc").alias("doc_b"))
        # count band collisions per pair instead of a bare distinct():
        # the SAME map-side-combined exchange that deduplicates
        # multi-band pairs (A/B at sf10: distinct-first 26 s vs
        # filter-first 31 s) now also yields the collision count, and
        # requiring >= _min_band_hits collisions kills a mid-J
        # boilerplate mass ~200x BEFORE the wide signature/shingle
        # joins — the sf100 lesson in _min_band_hits's docstring
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("__hits"))
        .filter(F.col("__hits") >= F.lit(_min_band_hits(threshold, r, bands)))
        .select("doc_a", "doc_b")
    )
    if est_prefilter is not None:
        siga = sig.select(F.col("doc").alias("doc_a"), F.col("mhs").alias("mhs_a"))
        sigb = sig.select(F.col("doc").alias("doc_b"), F.col("mhs").alias("mhs_b"))
        agree = F.size(
            F.filter(
                F.zip_with("mhs_a", "mhs_b", lambda a, b: a == b),
                lambda eq: eq,
            )
        )
        # no distinct needed here: cand is already pair-distinct and
        # sig carries exactly one row per doc, so these joins cannot
        # duplicate pairs
        cand = (
            cand.join(siga, "doc_a")
            .join(sigb, "doc_b")
            .filter(agree >= F.lit(int(est_prefilter * k)))
            .select("doc_a", "doc_b")
        )
    if groups is not None:
        # re-expand signature groups: every member pair of a matched
        # rep pair, plus all within-group pairs (identical signatures
        # ~always mean identical shingle sets; the exact verify below
        # re-checks every expanded pair, so k-way signature
        # collisions cannot leak a false pair)
        ma = groups.select(F.col("doc").alias("doc_a"), F.col("__members").alias("__ma"))
        mb = groups.select(F.col("doc").alias("doc_b"), F.col("__members").alias("__mb"))
        cross = (
            cand.join(ma, "doc_a")
            .join(mb, "doc_b")
            .select(F.explode("__ma").alias("__x"), "__mb")
            .select("__x", F.explode("__mb").alias("__y"))
            .select(
                F.least("__x", "__y").alias("doc_a"),
                F.greatest("__x", "__y").alias("doc_b"),
            )
        )
        within = (
            groups.filter(F.size("__members") > 1)
            .select(F.explode("__members").alias("__x"), "__members")
            .select("__x", F.explode("__members").alias("__y"))
            .filter(F.col("__x") < F.col("__y"))
            .select(F.col("__x").alias("doc_a"), F.col("__y").alias("doc_b"))
        )
        cand = cross.unionByName(within)
    # exact verification of candidates only
    sha = sh.select(F.col("doc").alias("doc_a"), F.col("sh").alias("sh_a"))
    shb = sh.select(F.col("doc").alias("doc_b"), F.col("sh").alias("sh_b"))
    verified = (
        cand.join(sha, "doc_a")
        .join(shb, "doc_b")
        .withColumn("common", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.col("common").cast("double")
            / (F.size("sh_a") + F.size("sh_b") - F.col("common")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    # the caller's first action on the result populates sh/sig and
    # later actions reuse them until its lifecycle scope exits
    return verified.select("doc_a", "doc_b", F.round("jaccard", 4).alias("jaccard"))


def banding_recommendation(
    pairs: DataFrame,
    jaccard_col: str = "jaccard",
    r: int = 3,
    bands: int = 10,
    miss_budget: float = 0.5,
) -> DataFrame:
    """Is the half-cost banding lane safe for THIS corpus? Takes a
    VERIFIED near-dup pair set (e.g. ``minhash_lsh_pairs`` output,
    whose r=2 recall at the threshold is 1−8e-8 — effectively ground
    truth) and computes the EXPECTED number of true pairs the
    (r, bands) downgrade would fail to band together:
    E[misses] = Σ over pairs (1 − J^r)^bands — each true pair
    becomes a candidate with probability 1−(1−J^r)^b, independent
    per pair under the hash family. One aggregate row:
    (n_pairs, n_boundary [J < 0.9, where the miss term is
    non-negligible], expected_misses, recommended_banding).

    The recommendation is 'half-cost' only when E[misses] <
    ``miss_budget`` (default 0.5 — less than one expected lost pair
    on the whole corpus); a boundary-DENSE corpus accumulates
    per-pair miss mass and keeps 'default'
    (tests/test_banding.py plants both corpus shapes). Governance
    workflow: run once per corpus in the profiling pass
    (tools/corpus_report.py "Near-dup banding" section), then
    configure the recurring pipeline's ``banding=`` accordingly —
    the d3/d5/d6/d11/tt12 plan entries all take a ``banding=``
    keyword that threads here."""
    j = F.col(jaccard_col).cast("double")
    miss = F.pow(F.lit(1.0) - F.pow(j, F.lit(float(r))), F.lit(float(bands)))
    return pairs.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(F.when(j < 0.9, 1).otherwise(0)).cast("long").alias("n_boundary"),
        F.round(F.sum(miss), 6).alias("expected_misses"),
    ).select(
        "n_pairs",
        "n_boundary",
        "expected_misses",
        F.when(
            F.coalesce(F.col("expected_misses"), F.lit(0.0)) < miss_budget,
            F.lit("half-cost"),
        )
        .otherwise(F.lit("default"))
        .alias("recommended_banding"),
    )


def neardup_groups(pairs: DataFrame, max_iters: int = 20) -> DataFrame:
    """Connected components over near-dup pairs → (doc, group_id)
    with group_id = min doc id in the component — the canonical-doc
    selection step after pair finding (keep one doc per group).

    Iterative min-label propagation: each round every node adopts the
    smallest label in its neighborhood; converges in O(component
    diameter) rounds (near-dup components are tiny — pairs, triples).
    The loop is driver-side CONTROL only; data stays distributed, and
    each round is one aggregation on the edge list.
    """
    # The edge list is orders of magnitude smaller than the corpus
    # (only near-dup pairs). Re-key it to core-count partitions so the
    # per-round joins don't inherit the full shuffle-partition count —
    # with default 200 partitions each tiny iteration pays 200-task
    # scheduling overhead, which dominates the loop's wall clock.
    # Partition on "b" — the JOIN key below — so the cached
    # partitioning satisfies the join's required distribution and the
    # edge list is never re-shuffled inside the loop (only the
    # node-sized labels move each round; the r12 iterative-lane
    # discipline, SCALE.md "gr3/gr5 at sf100").
    nparts = pairs.sparkSession.sparkContext.defaultParallelism
    edges = (
        pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
        .union(pairs.select(F.col("doc_b").alias("a"), F.col("doc_a").alias("b")))
        .distinct()
        .repartition(nparts, "b")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    labels = edges.select(F.col("a").alias("doc")).distinct().withColumn(
        "grp", F.col("doc")
    )
    # Convergence test: labels only ever decrease, so the label sum is
    # strictly decreasing until the fixed point — one cheap scalar
    # aggregate per round instead of a labels-vs-labels diff join.
    prev_sum = None
    for _ in range(max_iters):
        neighbor_min = (
            edges.join(labels, edges.b == labels.doc)
            .groupBy(F.col("a").alias("doc"))
            .agg(F.min("grp").alias("nbr_grp"))
        )
        new_labels = (
            labels.join(neighbor_min, "doc", "left")
            .select(
                "doc",
                F.least(F.col("grp"), F.coalesce("nbr_grp", "grp")).alias("grp"),
            )
        )
        prev_labels = labels
        labels = lifecycle.checkpoint(new_labels)
        # Drop the superseded round's checkpoint blocks eagerly: at
        # corpus scale the label frame is doc-count-sized and 20
        # retained rounds would hold 20 copies (the kcore lesson).
        lifecycle.release_checkpoint(prev_labels)
        cur_sum = labels.agg(F.sum("grp")).first()[0]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    # This operator OWNS the consuming actions (the eager checkpoints
    # above), so it releases its cache before returning: the final
    # labels are checkpointed and no longer depend on the edge list.
    edges.unpersist(blocking=False)
    return labels.select(F.col("doc"), F.col("grp").alias("group_id"))


def _portable_h63(col):
    """63-bit token hash from md5 hex — the PORTABLE family's base
    hash (any engine with md5(varchar) + base-16 parse reproduces
    it): bits 32..62 from the first 8 hex chars reduced to 31 bits,
    bits 0..31 from the next 8. Stays strictly below 2^63, so the
    hi*2^32 + lo assembly never overflows ANSI long arithmetic (the
    simhash assembly only votes bits 0..62 anyway — bit 63 is kept
    clear for signedness on the xxhash64 path too)."""
    m = F.md5(col)
    hi = (
        F.conv(F.substring(m, 1, 8), 16, 10)
        .cast("long")
        .bitwiseAND(F.lit(_MASK31))
    )
    lo = F.conv(F.substring(m, 9, 8), 16, 10).cast("long")
    return hi * F.lit(1 << 32) + lo


def simhash64(
    df: DataFrame, text_col: str, id_col: str, hash: str = "xxhash64"
) -> DataFrame:
    """64-bit SimHash per document: token hash sign-votes per bit,
    assembled into a BIGINT. One explode + one groupBy (64 small sum
    aggregates) — single shuffle, constant width.

    ``hash`` picks the token-hash family: ``"xxhash64"`` (default,
    JVM-native — the scale path) or ``"portable"`` (md5-derived
    63-bit, reproducible by any SQL engine — how d4's driver oracle
    restates the whole signature; see ``_portable_h63``)."""
    if hash == "xxhash64":
        token_hash = F.xxhash64("t")
    elif hash == "portable":
        token_hash = _portable_h63(F.col("t"))
    else:
        raise ValueError(f"unknown simhash token-hash family: {hash!r}")
    narrow = ensure_min_parallelism(
        df.select(F.col(id_col).alias("doc"), F.col(text_col).alias("__text"))
    )
    ex = narrow.select(
        "doc", F.explode(tokens(F.col("__text"))).alias("t")
    ).withColumn("h", token_hash)
    votes = ex.groupBy("doc").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"b{i}")
            for i in range(64)
        ]
    )
    sim = F.lit(0).cast("long")
    for i in range(63):  # keep bit 63 clear to stay in signed range
        sim = sim + F.when(F.col(f"b{i}") > 0, F.lit(1).cast("long") * (2**i)).otherwise(0)
    return votes.select("doc", sim.alias("simhash"))


def simhash_candidate_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
    hash: str = "xxhash64",
) -> DataFrame:
    """SimHash near-dup candidates: band the 64-bit fingerprint into
    ``max_hamming + 1`` chunks (pigeonhole: any pair within the
    hamming budget shares at least one identical chunk), equi-join on
    (chunk-index, chunk), then filter by true hamming distance."""
    sig = simhash64(df, text_col, id_col, hash=hash)
    return hamming_candidate_pairs(sig, "doc", "simhash", max_hamming)


def hamming_candidate_pairs(
    sig: DataFrame, id_col: str, hash_col: str, max_hamming: int = 3
) -> DataFrame:
    """Pigeonhole-banded hamming join over ANY 64-bit fingerprint
    column (SimHash text prints, image dHashes, …): band into
    ``max_hamming + 1`` chunks — a pair within the hamming budget
    must agree on at least one whole chunk — bucket-join on
    (band, chunk), verify true hamming. Never all-pairs: candidate
    volume is bounded by per-bucket populations exactly like d3's
    LSH banding. Returns (doc_a, doc_b, hamming)."""
    nbands = max_hamming + 1
    width = 64 // nbands
    sig = sig.select(F.col(id_col).alias("doc"), F.col(hash_col).alias("simhash"))
    chunks = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftrightunsigned(F.col("simhash"), b * width)
                .bitwiseAND(F.lit((1 << width) - 1))
                .alias("chunk"),
            )
            for b in range(nbands)
        ]
    )
    banded = sig.select("doc", "simhash", F.explode(chunks).alias("c")).select(
        "doc", "simhash", F.col("c.band").alias("band"), F.col("c.chunk").alias("chunk")
    )
    x, y = banded.alias("x"), banded.alias("y")
    cand = (
        x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.chunk") == F.col("y.chunk"))
            & (F.col("x.doc") < F.col("y.doc")),
        )
        .select(
            F.col("x.doc").alias("doc_a"),
            F.col("y.doc").alias("doc_b"),
            F.col("x.simhash").alias("sh_a"),
            F.col("y.simhash").alias("sh_b"),
        )
        .distinct()
        .withColumn("hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
        .filter(F.col("hamming") <= max_hamming)
    )
    return cand.select("doc_a", "doc_b", "hamming")
