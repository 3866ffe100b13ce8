"""Text-analysis operators over a document corpus.

All hot-path logic is built-in column expressions (JVM-side, inside
whole-stage codegen) — no Python UDFs. Each op is deterministic and
ANSI-SQL-expressible so the DuckDB oracle can restate it exactly.

Designed for a ``documents(doc_id, text, ...)`` table of arbitrary
size: everything here is a narrow projection — no shuffle at all until
an (optional) aggregation, so it scales linearly with input splits.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from aws_csp_datapipeline_spark import lifecycle

# language marker patterns: tiny stopword lexicons as word-boundary
# alternations. RE2 (DuckDB) and java.util.regex (Spark) agree on this
# subset of syntax, which keeps the oracle exact.
LANG_MARKERS: dict[str, str] = {
    "en": r"\b(the|and|of|to|is|in|that|it)\b",
    "de": r"\b(der|die|das|und|ist|nicht|ein|zu)\b",
    "es": r"\b(el|la|los|las|de|que|es|un)\b",
    "fr": r"\b(le|les|des|et|est|une|dans|pour)\b",
    "zh": r"[一-鿿]",
}

STOPWORD_PATTERN = r"\b(the|and|of|to|is|in|that|it|a|for)\b"
PUNCT_PATTERN = r"[.,!?;:'\"()\[\]{}-]"


def tokens(col: Column) -> Column:
    """Whitespace tokenization of trimmed, lowered text."""
    return F.split(F.lower(F.trim(col)), r"\s+")


def token_count(col: Column) -> Column:
    """Token count; empty string counts 0."""
    return F.when(F.trim(col) == "", F.lit(0)).otherwise(F.size(tokens(col)))


def bpe_ish_token_count(col: Column) -> Column:
    """BPE-ish token estimate: count word-piece-like units (runs of
    letters, digits, or single punctuation), the common pre-tokenizer
    regex shape."""
    return F.size(F.regexp_extract_all(F.lower(col), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"), 0))


def marker_hits(col: Column, pattern: str) -> Column:
    """How many times a marker lexicon fires in the text."""
    return F.size(F.regexp_extract_all(F.lower(col), F.lit(pattern), 0))


def lang_scores(col: Column) -> dict[str, Column]:
    return {lang: marker_hits(col, pat) for lang, pat in LANG_MARKERS.items()}


def lang_id(col: Column) -> Column:
    """Heuristic language ID: argmax of marker hits with a fixed
    tie-break order (en, de, es, fr, zh); 'und' when nothing fires.
    Deterministic → same CASE chain runs in the oracle."""
    scores = lang_scores(col)
    best = F.greatest(*scores.values())
    expr = F.lit("und")
    for lang in reversed(list(LANG_MARKERS)):
        expr = F.when((scores[lang] == best) & (best > 0), F.lit(lang)).otherwise(expr)
    return expr


def punct_ratio(col: Column) -> Column:
    n = F.length(col)
    n_punct = F.size(F.regexp_extract_all(col, F.lit(PUNCT_PATTERN), 0))
    return F.when(n > 0, n_punct.cast("double") / n.cast("double")).otherwise(F.lit(0.0))


def stopword_ratio(col: Column) -> Column:
    n_tok = token_count(col)
    hits = marker_hits(col, STOPWORD_PATTERN)
    return F.when(n_tok > 0, hits.cast("double") / n_tok.cast("double")).otherwise(
        F.lit(0.0)
    )


def quality_score(col: Column) -> Column:
    """Composite quality score in [0,1]-ish: rewards stopword density
    and moderate length, penalizes punctuation soup. Fixed weights so
    the oracle reproduces it bit-for-bit (same double expression
    tree)."""
    length_component = F.least(F.length(col).cast("double") / F.lit(500.0), F.lit(1.0))
    return (
        F.lit(0.4) * stopword_ratio(col)
        + F.lit(0.4) * length_component
        + F.lit(0.2) * (F.lit(1.0) - F.least(punct_ratio(col) * 5.0, F.lit(1.0)))
    )


# PII masking patterns, applied in order (emails before phones so a
# phone pattern can't nibble digits out of an address). Syntax kept to
# the java.util.regex ∩ RE2 subset so the DuckDB oracle (with the 'g'
# flag — DuckDB replaces only the first match by default) is exact.
PII_RULES: list[tuple[str, str]] = [
    (r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}", "<EMAIL>"),
    (r"https?://\S+", "<URL>"),
    (r"\+?[0-9][0-9-]{7,}[0-9]", "<PHONE>"),
]


def scrub_pii(col: Column) -> Column:
    """Mask emails, URLs, and phone-like digit runs — the standard
    pre-training scrub pass. Chained regexp_replace, all JVM-side."""
    out = col
    for pat, repl in PII_RULES:
        out = F.regexp_replace(out, pat, repl)
    return out


def repetition_ratio(col: Column) -> Column:
    """Fraction of tokens that are repeats of an earlier token:
    1 - distinct/total. High values flag boilerplate / spam docs —
    a core quality-filter signal. Pure array expressions."""
    t = tokens(col)
    return F.when(
        F.size(t) > 0,
        F.lit(1.0) - F.size(F.array_distinct(t)).cast("double") / F.size(t).cast("double"),
    ).otherwise(F.lit(0.0))


def fingerprint(col: Column) -> Column:
    """Document fingerprint: md5 of the lower-cased text — identical
    hex in every engine; the exact-dedup key."""
    return F.md5(F.lower(col))


def winnow_fingerprints(
    col: Column, k: int = 8, w: int = 4, hash: str = "xxhash64"
) -> Column:
    """Winnowing fingerprints (the rolling-hash selection scheme of
    MOSS): hash every character k-gram, then keep the minimum of each
    w-length window of consecutive hashes. Guarantees any shared
    substring ≥ k+w-1 chars yields a shared fingerprint — the
    plagiarism/near-dup detection primitive at document granularity.

    ``hash`` picks the gram-hash family; BOTH select identical gram
    positions per the winnowing rule, only the fingerprint domain
    differs:
    - ``"xxhash64"`` (default): 64-bit JVM-native hash — the scale
      path for in-engine near-dup work (cheapest per gram; a corpus
      lane evaluates len(text) of these per row).
    - ``"portable"``: md5 hex strings, lexicographic minima — bitwise
      reproducible by ANY engine (DuckDB restates it in SQL, which is
      how t5's driver oracle pins the whole selection structure).
      Use when fingerprints are an EXCHANGED artifact (cross-engine
      decontamination indexes); ~an order of magnitude more per-gram
      compute than xxhash64, so not the default.

    Entirely array expressions: the lowered text is bound once, the
    k-gram hash array once; O(len·k) substring hashing + O(len·w)
    window minima per row, inside codegen.
    """
    if hash == "xxhash64":
        gram_hash, empty_t = F.xxhash64, "array<bigint>"
    elif hash == "portable":
        gram_hash, empty_t = F.md5, "array<string>"
    else:
        raise ValueError(f"unknown winnow hash family: {hash!r}")

    def windows_of(h):
        return F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.size(h) - w),
                lambda j: F.array_min(F.slice(h, j + 1, w)),
            )
        )

    def grams_of(t):
        return F.transform(
            F.sequence(F.lit(1), F.length(t) - k + 1),
            lambda i: gram_hash(F.substring(t, i, k)),
        )

    t = F.lower(col)
    return F.when(F.length(t) >= k + w - 1, F.element_at(
        F.transform(F.array(F.element_at(F.transform(F.array(t), grams_of), 1)), windows_of),
        1,
    )).otherwise(F.array().cast(empty_t))


def bigrams(col: Column) -> Column:
    """Adjacent-token bigram array ("a b") of lowered text — built by
    zipping the token array against itself shifted by one, so corpus
    n-gram statistics need NO self-join (the classic formulation joins
    the exploded tokens on (doc, pos+1)). The token array is bound
    once per row through the one-element-array wrapper (see
    dedup.word_shingles): referencing the split() directly from both
    slice() arguments would re-run the regex split after projection
    collapse."""
    def bg_of(t):
        return F.when(
            F.size(t) >= 2,
            F.zip_with(
                F.slice(t, F.lit(1), F.size(t) - 1),
                F.slice(t, F.lit(2), F.size(t) - 1),
                lambda a, b: F.concat_ws(" ", a, b),
            ),
        ).otherwise(F.array().cast("array<string>"))

    return F.element_at(F.transform(F.array(tokens(col)), bg_of), 1)


def trigrams(col: Column) -> Column:
    """Adjacent-token trigram array ("a b c") — bigrams' zip-shift
    construction extended one position (two nested zip_withs; the
    token array is bound once through the same one-element-array
    wrapper). Feeds the Gopher-style duplicate-n-gram quality rule:
    corpus-independent, per-row, no join and no explode."""

    def tg_of(t):
        n = F.size(t)
        ab = F.zip_with(
            F.slice(t, F.lit(1), n - 2),
            F.slice(t, F.lit(2), n - 2),
            lambda a, b: F.concat_ws(" ", a, b),
        )
        return F.when(
            n >= 3,
            F.zip_with(
                ab,
                F.slice(t, F.lit(3), n - 2),
                lambda ab_, c: F.concat_ws(" ", ab_, c),
            ),
        ).otherwise(F.array().cast("array<string>"))

    return F.element_at(F.transform(F.array(tokens(col)), tg_of), 1)


def bm25_scores(
    docs: DataFrame, terms: list[str], k1: float = 1.2, b: float = 0.75
) -> DataFrame:
    """(doc_id, score) BM25 scores of every matching document for a
    fixed query vocabulary. Inverted-index shape: tokens filter to
    the query terms BEFORE the tf aggregation, so the shuffle carries
    only query-term postings; df and the (N, avgdl) scalars
    broadcast. ``score`` is unrounded — round at the query edge."""
    from pyspark.sql import DataFrame as _DF  # noqa: F401

    # dl feeds the avgdl scalar AND the scoring join — persist the
    # narrow (doc_id, int) projection so the per-doc tokenization
    # runs once (honest cold-cache A/B, clearCache before each run:
    # sf0.1 1.0 s → 0.37 s, sf1 1.2 s → 0.63 s, together with the
    # one-aggregate scal below)
    dl = lifecycle.persist(
        docs.select("doc_id", token_count(F.col("text")).alias("dl"))
    )
    tf = (
        docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("token"))
        .filter(F.col("token").isin(terms))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dft = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    # N and avgdl from ONE aggregate over the cached narrow dl table
    # (same row set as docs) — a separate docs.agg(count) would scan
    # the corpus a third time
    scal = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    contrib = (
        F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
        * F.col("tf") * (k1 + 1.0)
        / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl")))
    )
    return (
        tf.join(dl, "doc_id")
        .join(F.broadcast(dft), "token")
        .crossJoin(F.broadcast(scal))
        .groupBy("doc_id")
        .agg(F.sum(contrib).alias("score"))
    )
