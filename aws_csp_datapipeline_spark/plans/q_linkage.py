"""Record-linkage and ML-feature-prep queries.

* ``er1_blocked_matches`` — entity resolution with classic attribute
  blocking; kept as the teaching demo of WHY fixed block keys fail at
  scale (in-block pairs grow quadratically — measured 9k → 902k → 90M
  at sf0.01/0.1/1, SCALE.md "er1 blocking lesson").
* ``er2_scale_safe_matches`` — the scale path: positional pigeonhole
  blocking + frequency-aware sub-split (functions/linkage.py) with
  near-linear candidate growth and an exact recall guarantee for
  pairs within 2 substitutions.
* ``ml1_loo_target_encoding`` — leakage-safe leave-one-out target
  encoding, the standard categorical-feature transform for training
  tables.
* ``ml2``–``ml8`` — the feature-prep / scorer-evaluation family:
  leakage-safe standardization (ml2), tie-aware ROC-AUC (ml3),
  reliability/calibration table (ml4), per-threshold confusion sweep
  (ml5), best-F1 operating point (ml6), the AUC audit of the repo's
  own t2 quality scorer (ml7), and PR-AUC / average precision (ml8).
  Core metric implementations live in ``functions/mleval.py``; every
  lane reduces to per-score-group aggregates before any ordered pass
  (the bounded-domain Window policy).

Reference scope: engine extensions (no counterpart in the reference's
Lambda CRUD surface); part of the training-data-pipeline north star.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from aws_csp_datapipeline_spark.catalog import load_table
from aws_csp_datapipeline_spark.plans.registry import register


@register(
    "er1_blocked_matches",
    """
    WITH c AS (
      SELECT c_custkey, c_nationkey, c_mktsegment, c_name FROM customer
    )
    SELECT a.c_custkey AS custkey_a, b.c_custkey AS custkey_b,
           a.c_name AS name_a, b.c_name AS name_b,
           CAST(levenshtein(a.c_name, b.c_name) AS INTEGER) AS dist
    FROM c a JOIN c b
      ON a.c_nationkey = b.c_nationkey
     AND a.c_mktsegment = b.c_mktsegment
     AND a.c_custkey < b.c_custkey
    WHERE levenshtein(a.c_name, b.c_name) <= 2
    ORDER BY custkey_a, custkey_b
    LIMIT 500
    """,
)
def er1_blocked_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution with blocking: candidate duplicate customers
    are only compared INSIDE a (nation, segment) block, then verified
    with edit distance ≤ 2.

    Scale shape: the equi-join on the block key shuffles each side
    once and the quadratic term is O(Σ|block|²), bounded by the
    blocking-key granularity — the same candidate-then-verify
    structure as the MinHash-LSH dedup (`functions/dedup.py`), applied
    to structured records. The FIXED key makes in-block pairs grow
    quadratically with data size (measured 42 s / 90M pairs at sf1) —
    this query is kept as the teaching demo of that failure mode;
    ``er2_scale_safe_matches`` below is the scale path (widened
    pigeonhole keys + frequency-aware split, near-linear growth)."""
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_mktsegment", "c_name"
    )
    a = c.select(*[F.col(x).alias(f"a_{x}") for x in c.columns])
    b = c.select(*[F.col(x).alias(f"b_{x}") for x in c.columns])
    pairs = a.join(
        b,
        (F.col("a_c_nationkey") == F.col("b_c_nationkey"))
        & (F.col("a_c_mktsegment") == F.col("b_c_mktsegment"))
        & (F.col("a_c_custkey") < F.col("b_c_custkey")),
    )
    # 3-arg levenshtein: banded O(threshold·len) with early exit
    # (returns -1 past the band) instead of the full O(len²) matrix —
    # ~9x cheaper per candidate pair, and the verify cost is the whole
    # operator once blocking has bounded the pair count. Exact value
    # is preserved for every pair that passes (≤ threshold).
    dist = F.levenshtein("a_c_name", "b_c_name", 2)
    return (
        pairs.select(
            F.col("a_c_custkey").alias("custkey_a"),
            F.col("b_c_custkey").alias("custkey_b"),
            F.col("a_c_name").alias("name_a"),
            F.col("b_c_name").alias("name_b"),
            dist.alias("dist"),
        )
        .filter(F.col("dist").between(0, 2))
        .orderBy("custkey_a", "custkey_b")
        .limit(500)
    )


_ER2_CAP = 32

# Mirrors functions/linkage.py::pigeonhole_matches exactly — the
# two-phase shape: (1) 9 pigeonhole lane keys per DISTINCT
# (block, name) representative, frequency-aware 4-way sub-split of
# lane-blocks over the cap, distinct name-level candidates,
# levenshtein verification at name level; (2) output-bound expansion
# back to record pairs plus the identical-name self-join (dist 0).
# chr(31) is the key separator on both sides.
_ER2_SQL = f"""
    WITH recs AS (
      SELECT c_custkey, c_name, c_nationkey, c_mktsegment FROM customer
    ),
    c AS (
      SELECT DISTINCT c_name, c_nationkey, c_mktsegment,
             substr(c_name, greatest(1, length(c_name)-8), 9) AS s,
             length(c_name) AS ln
      FROM recs
    ),
    lane AS (SELECT * FROM (VALUES (0,0),(0,1),(0,2),(1,0),(1,1),(1,2),
                                   (2,0),(2,1),(2,2)) AS v(t, j)),
    lanes AS (
      SELECT c_name,
        concat_ws(chr(31), c_nationkey, c_mktsegment, ln, t,
          substr(s, t*3+1, 3), j, substr(comp, j*2+1, 2)) AS k,
        [substr(comp, u1, 1), substr(comp, u2, 1),
         substr(comp, u3, 1), substr(comp, u4, 1)] AS xs
      FROM (
        SELECT c.*, lane.t, lane.j,
          CASE lane.t WHEN 0 THEN substr(s,4,6)
                      WHEN 1 THEN substr(s,1,3) || substr(s,7,3)
                      ELSE substr(s,1,6) END AS comp,
          CASE lane.j WHEN 0 THEN 3 ELSE 1 END AS u1,
          CASE lane.j WHEN 0 THEN 4 ELSE 2 END AS u2,
          CASE lane.j WHEN 2 THEN 3 ELSE 5 END AS u3,
          CASE lane.j WHEN 2 THEN 4 ELSE 6 END AS u4
        FROM c CROSS JOIN lane
      )
    ),
    sizes AS (SELECT k, count(*) AS n FROM lanes GROUP BY k),
    keyed AS (
      SELECT l.c_name, fk
      FROM lanes l JOIN sizes s2 ON l.k = s2.k,
      UNNEST(CASE WHEN s2.n > {_ER2_CAP}
                  THEN [l.k || chr(31) || '0' || l.xs[1],
                        l.k || chr(31) || '1' || l.xs[2],
                        l.k || chr(31) || '2' || l.xs[3],
                        l.k || chr(31) || '3' || l.xs[4]]
                  ELSE [l.k] END) AS ux(fk)
    ),
    npairs AS (
      SELECT DISTINCT a.c_name AS na, b.c_name AS nb, a.fk
      FROM keyed a JOIN keyed b ON a.fk = b.fk AND a.c_name < b.c_name
    ),
    verified AS (
      SELECT DISTINCT na, nb,
             split_part(fk, chr(31), 1) AS bk_nation,
             split_part(fk, chr(31), 2) AS bk_segment,
             CAST(levenshtein(na, nb) AS INTEGER) AS dist
      FROM npairs
      WHERE levenshtein(na, nb) <= 2
    ),
    expanded AS (
      SELECT least(ra.c_custkey, rb.c_custkey) AS custkey_a,
             greatest(ra.c_custkey, rb.c_custkey) AS custkey_b,
             CASE WHEN ra.c_custkey < rb.c_custkey THEN v.na ELSE v.nb END
               AS name_a,
             CASE WHEN ra.c_custkey < rb.c_custkey THEN v.nb ELSE v.na END
               AS name_b,
             v.dist
      FROM verified v
      JOIN recs ra ON ra.c_name = v.na
       AND CAST(ra.c_nationkey AS VARCHAR) = v.bk_nation
       AND ra.c_mktsegment = v.bk_segment
      JOIN recs rb ON rb.c_name = v.nb
       AND CAST(rb.c_nationkey AS VARCHAR) = v.bk_nation
       AND rb.c_mktsegment = v.bk_segment
    ),
    same_name AS (
      SELECT a.c_custkey AS custkey_a, b.c_custkey AS custkey_b,
             a.c_name AS name_a, b.c_name AS name_b, 0 AS dist
      FROM recs a JOIN recs b
        ON a.c_nationkey = b.c_nationkey
       AND a.c_mktsegment = b.c_mktsegment
       AND a.c_name = b.c_name
       AND a.c_custkey < b.c_custkey
    )
    SELECT * FROM expanded UNION ALL SELECT * FROM same_name
    """


@register("er2_scale_safe_matches", _ER2_SQL)
def er2_scale_safe_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-safe entity resolution: er1's duplicate-customer match
    under positional pigeonhole blocking with a frequency-aware
    sub-split instead of er1's fixed (nation, segment) key.

    Why: er1's in-block pairs grow quadratically with data size
    (9k → 902k → 90M candidates at sf0.01/0.1/1); this plan's grow
    near-linearly (6.0/record at sf0.01, 12.7/record at sf0.1) while
    finding EVERY pair within 2 substitutions that er1 finds — the
    missed remainder are insert+delete position-shift pairs (0% at
    sf≤0.01, 2.6% at sf0.1), the documented tradeoff
    (functions/linkage.py docstring has the full recall contract and
    the PassJoin-style extension that would recover them).

    Scale shape (functions/linkage.py module docstring): collapse to
    distinct (block, name) representatives, 9-13 short key rows per
    representative, one hash-agg for lane sizes, one equi-join on the
    lane key, banded levenshtein on DISTINCT-name candidates only,
    then output-bound expansion back to record pairs. On a
    duplicate-heavy corpus (e.g. the replicated .scratch/sf10, every
    name ×100) the expensive phase runs once per distinct name; the
    rest costs what the answer weighs. No ORDER BY: the driver
    compare is row-order-independent, and a global sort of the
    (possibly huge) verified pair set would add a range exchange that
    buys nothing at any scale. tests/test_linkage.py pins the
    candidate budget, the substitution-recall property, er2 ⊆ er1,
    and duplicate-collapse invariance."""
    from aws_csp_datapipeline_spark.catalog import table_row_count
    from aws_csp_datapipeline_spark.functions.linkage import pigeonhole_matches

    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_mktsegment", "c_name"
    )
    return pigeonhole_matches(
        c,
        "c_custkey",
        "c_name",
        ["c_nationkey", "c_mktsegment"],
        cap=_ER2_CAP,
        max_dist=2,
        # footer count keeps the pair-budget pre-flight zero-job when
        # C(n, 2) fits the budget (ADVICE r10: the guard was itself a
        # hidden eager action on corpora that can't blow up)
        n_rows=table_row_count(sf_dir, "customer"),
        pair_ids=("custkey_a", "custkey_b"),
    )


# er3's oracle is er1's quadratic block join WITHOUT the limit: er3
# claims EXACT lev<=2 completeness (indels included), so the correct
# answer is definable without mirroring the algorithm — the oracle
# compare itself is the completeness proof. (er2 cannot be paired
# this way: it intentionally trades indel-shift pairs for shift-free
# lanes.)
_ER3_SQL = """
    WITH c AS (
      SELECT c_custkey, c_nationkey, c_mktsegment, c_name FROM customer
    )
    SELECT a.c_custkey AS custkey_a, b.c_custkey AS custkey_b,
           a.c_name AS name_a, b.c_name AS name_b,
           CAST(levenshtein(a.c_name, b.c_name) AS INTEGER) AS dist
    FROM c a JOIN c b
      ON a.c_nationkey = b.c_nationkey
     AND a.c_mktsegment = b.c_mktsegment
     AND a.c_custkey < b.c_custkey
    WHERE levenshtein(a.c_name, b.c_name) <= 2
    """


@register("er3_indel_complete_matches", _ER3_SQL)
def er3_indel_complete_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Indel-COMPLETE entity resolution: every in-block pair within
    levenshtein 2 — substitutions AND insert/deletes — via
    PassJoin-style shifted probes (functions/linkage.py
    ``_shifted_candidates``). Closes er2's documented
    2.6%-at-sf0.1 indel gap: measured er3 ≡ er1-full exactly (zero
    missed, zero extra) at sf0.001/0.01/0.1.

    Scale shape: same two-phase collapse/expand as er2 — all shifted
    probing runs once per DISTINCT (block, name); the ×5-per-level
    probe multiplier is the price of completeness, which is why er2
    stays the default lane and er3 the completeness lane. The oracle
    here is the DEFINITION (er1's quadratic join, unlimited), not a
    mirror of the algorithm — a recall hole anywhere in the lane
    geometry fails the hash compare."""
    from aws_csp_datapipeline_spark.catalog import table_row_count
    from aws_csp_datapipeline_spark.functions.linkage import (
        edit_complete_matches,
    )

    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_mktsegment", "c_name"
    )
    return edit_complete_matches(
        c,
        "c_custkey",
        "c_name",
        ["c_nationkey", "c_mktsegment"],
        cap=_ER2_CAP,
        max_dist=2,
        n_rows=table_row_count(sf_dir, "customer"),
        pair_ids=("custkey_a", "custkey_b"),
    )


@register(
    "ml1_loo_target_encoding",
    """
    WITH j AS (
      SELECT o.o_orderkey, c.c_mktsegment AS segment, o.o_totalprice
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    )
    SELECT o_orderkey, segment,
           CASE WHEN COUNT(*) OVER (PARTITION BY segment) > 1
                THEN ROUND((SUM(o_totalprice) OVER (PARTITION BY segment)
                            - o_totalprice)
                           / (COUNT(*) OVER (PARTITION BY segment) - 1), 4)
           END AS loo_avg_price
    FROM j
    """,
)
def ml1_loo_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe leave-one-out target encoding: each row's category
    value is replaced by the mean target of all OTHER rows in the
    category — (Σ−x)/(n−1) — so a row never sees its own label
    (the standard high-cardinality categorical transform for GBDT/LM
    feature tables). One unbounded window per category partition:
    a single hash shuffle on the category, no self-join, and the
    aggregate-minus-self algebra means no second pass. Singleton
    categories yield NULL rather than a leaked self-mean."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    j = o.join(c, o.o_custkey == c.c_custkey).select(
        "o_orderkey",
        F.col("c_mktsegment").alias("segment"),
        "o_totalprice",
    )
    w = Window.partitionBy("segment")
    n = F.count(F.lit(1)).over(w)
    s = F.sum("o_totalprice").over(w)
    return j.select(
        "o_orderkey",
        "segment",
        F.when(
            n > 1,
            F.round((s - F.col("o_totalprice")) / (n - 1), 4),
        ).alias("loo_avg_price"),
    )


# er4's oracle, like er3's, is the DEFINITION: the per-block aggregate
# of er1's unlimited quadratic join. A completeness hole anywhere in
# er4's counting (candidate geometry, the cnt_a x cnt_b expansion
# algebra, the C(cnt,2) same-name term) fails the hash compare.
_ER4_SQL = """
    WITH c AS (
      SELECT c_custkey, c_nationkey, c_mktsegment, c_name FROM customer
    ), p AS (
      SELECT a.c_nationkey AS nationkey, a.c_mktsegment AS mktsegment,
             levenshtein(a.c_name, b.c_name) AS dist
      FROM c a JOIN c b
        ON a.c_nationkey = b.c_nationkey
       AND a.c_mktsegment = b.c_mktsegment
       AND a.c_custkey < b.c_custkey
      WHERE levenshtein(a.c_name, b.c_name) <= 2
    )
    SELECT nationkey, mktsegment,
           CAST(SUM(CASE WHEN dist = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS pairs_d0,
           CAST(SUM(CASE WHEN dist = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS pairs_d1,
           CAST(SUM(CASE WHEN dist = 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS pairs_d2,
           CAST(COUNT(*) AS BIGINT) AS pairs_total
    FROM p
    GROUP BY nationkey, mktsegment
    """


@register("er4_match_stats", _ER4_SQL)
def er4_match_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-honest ER: per-block match counts by edit distance,
    WITHOUT materializing id-level pairs (functions/linkage.py
    ``edit_match_stats``). On the replicated sf100 corpus the full
    pair answer is ~39B rows — this is the governance-report form
    (how many duplicates, where, how close) a 100-TB pipeline runs
    instead; output is one constant-size row per matching block.

    Scale shape: everything runs at DISTINCT (block, name)
    granularity — the indel-complete candidate lanes, the banded
    levenshtein verify, and two equi-joins against the distinct-name
    count table; record multiplicity enters only as cnt_a x cnt_b
    arithmetic. The record-pair fan-out phase (the one term quadratic
    in replication) does not exist in this plan."""
    from aws_csp_datapipeline_spark.functions.linkage import edit_match_stats

    # the block columns get their output names on the input: a select
    # over the built plan would re-analyse all of it
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.col("c_nationkey").alias("nationkey"),
        F.col("c_mktsegment").alias("mktsegment"),
        "c_name",
    )
    return edit_match_stats(
        c,
        "c_custkey",
        "c_name",
        ["nationkey", "mktsegment"],
        cap=_ER2_CAP,
        max_dist=2,
    )


@register(
    "ml2_leakage_safe_scaler",
    """
    WITH s AS (
      SELECT l_quantity, l_extendedprice,
             CASE WHEN substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 2) < 'c0'
                  THEN 'train' ELSE 'test' END AS split
      FROM lineitem
    ),
    fit AS (
      SELECT AVG(l_quantity) AS mq, STDDEV(l_quantity) AS sq,
             AVG(l_extendedprice) AS mp, STDDEV(l_extendedprice) AS sp
      FROM s WHERE split = 'train'
    )
    SELECT split, CAST(COUNT(*) AS BIGINT) AS n_rows,
           ROUND(AVG((l_quantity - mq) / sq), 4) + 0 AS mean_z_qty,
           ROUND(STDDEV((l_quantity - mq) / sq), 4) + 0 AS std_z_qty,
           ROUND(AVG((l_extendedprice - mp) / sp), 4) + 0 AS mean_z_price,
           ROUND(STDDEV((l_extendedprice - mp) / sp), 4) + 0 AS std_z_price
    FROM s, fit
    GROUP BY split
    """,
)
def ml2_leakage_safe_scaler(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe feature standardization — the scaler discipline
    every feature pipeline needs and naive implementations break:
    mean/std are FIT ON THE TRAIN SPLIT ONLY and applied to both
    splits (fitting on all rows leaks test-set statistics into
    training features). The split itself is GROUP-AWARE: keyed by
    l_orderkey (the deterministic md5 split, `sampling.hash_split`),
    so all line items of one order land on the same side — splitting
    by row id would leak intra-order structure across the boundary.
    Output: per-split row counts and the mean/std of each scaled
    feature — train reads ≈(0, 1) by construction; test deviating
    from (0, 1) is the PROOF the statistics were not fit on it.

    Scale shape: one pass fits the two moments on the train rows
    (partial-aggregated scalar), broadcast back as a 1-row frame;
    the apply+summarize pass is one grouped aggregate keyed by the
    2-value split label. Nothing shuffles except the split-keyed
    final aggregate."""
    from aws_csp_datapipeline_spark.functions.sampling import hash_split

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice"
    )
    s = hash_split(li, "l_orderkey", 0.75)
    fit = s.filter(F.col("split") == "train").agg(
        F.avg("l_quantity").alias("mq"),
        F.stddev("l_quantity").alias("sq"),
        F.avg("l_extendedprice").alias("mp"),
        F.stddev("l_extendedprice").alias("sp"),
    )
    zq = (F.col("l_quantity") - F.col("mq")) / F.col("sq")
    zp = (F.col("l_extendedprice") - F.col("mp")) / F.col("sp")
    return (
        s.crossJoin(F.broadcast(fit))
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            # + 0.0 folds IEEE -0.0 to +0.0 (the train mean of a
            # z-scored column is ~±1e-17 by construction; ROUND keeps
            # the sign and the two engines' summation orders can land
            # on opposite sides of zero — CORRECTNESS_r11 hash fail).
            # Same fold on the oracle side: `ROUND(..) + 0`.
            (F.round(F.avg(zq), 4) + F.lit(0.0)).alias("mean_z_qty"),
            (F.round(F.stddev(zq), 4) + F.lit(0.0)).alias("std_z_qty"),
            (F.round(F.avg(zp), 4) + F.lit(0.0)).alias("mean_z_price"),
            (F.round(F.stddev(zp), 4) + F.lit(0.0)).alias("std_z_price"),
        )
    )


@register(
    "ml3_roc_auc",
    """
    WITH base AS (
      SELECT CAST(datediff('day', DATE '1992-01-01', l_shipdate) AS BIGINT) AS s,
             CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END AS y
      FROM lineitem
    ),
    per AS (SELECT s, COUNT(*) AS n_s, SUM(y) AS pos_s FROM base GROUP BY s),
    cum AS (
      SELECT n_s, pos_s,
             COALESCE(SUM(n_s) OVER (ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_before
      FROM per
    ),
    agg AS (
      SELECT SUM(CAST(pos_s AS HUGEINT)
                 * CAST(2 * cum_before + n_s + 1 AS HUGEINT)) AS two_rpos,
             CAST(SUM(pos_s) AS BIGINT) AS n_pos,
             CAST(SUM(n_s - pos_s) AS BIGINT) AS n_neg
      FROM cum
    )
    SELECT n_pos, n_neg,
           CASE WHEN n_pos > 0 AND n_neg > 0 THEN
             CAST(two_rpos - CAST(n_pos AS HUGEINT)
                             * CAST(n_pos + 1 AS HUGEINT) AS DOUBLE)
             / CAST(2 * CAST(n_pos AS HUGEINT)
                      * CAST(n_neg AS HUGEINT) AS DOUBLE)
           END AS auc
    FROM agg
    """,
)
def ml3_roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed tie-aware ROC-AUC (functions/mleval.roc_auc): how
    well ship-date recency RANKS non-returned (l_returnflag = 'N') lines — the
    classifier-evaluation primitive a quality-score-gated corpus
    pipeline runs before trusting a scorer as a filter. Exact
    Mann-Whitney with average-rank ties; integer/decimal arithmetic
    until two final casts + one IEEE division, so the oracle hash
    needs no rounding fold (see functions/mleval.py docstring).
    Score domain is the integer day offset (~bounded hundreds), so the
    ordered pass runs over a bounded frame per the unpartitioned-
    Window policy."""
    from aws_csp_datapipeline_spark.functions.mleval import roc_auc

    li = load_table(spark, sf_dir, "lineitem").select(
        F.datediff(F.col("l_shipdate"), F.lit("1992-01-01").cast("date"))
        .cast("long")
        .alias("s"),
        (F.col("l_returnflag") == F.lit("N")).alias("y"),
    )
    return roc_auc(li, "s", "y")


@register(
    "ml4_score_reliability",
    """
    WITH base AS (
      SELECT CAST(CAST(datediff('day', DATE '1992-01-01', l_shipdate) AS BIGINT) AS DOUBLE) AS s,
             CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END AS y
      FROM lineitem
    ),
    ext AS (SELECT MIN(s) AS lo, MAX(s) AS hi FROM base),
    b AS (
      SELECT CASE WHEN hi = lo THEN 0
                  ELSE CAST(LEAST(FLOOR((s - lo) * 10 / (hi - lo)), 9) AS INT)
             END AS bin,
             s, y
      FROM base, ext
    )
    SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_rows,
           ROUND(AVG(s), 4) + 0 AS avg_score,
           ROUND(AVG(CAST(y AS DOUBLE)), 4) + 0 AS frac_pos
    FROM b GROUP BY bin
    """,
)
def ml4_score_reliability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability table for the same scorer
    (functions/mleval.score_reliability): 10 equal-width bins over
    the ship-date offset with per-bin empirical P(returnflag = 'N') — the calibration /
    monotonicity view. Bin edges are one shared rational expression
    on both engines (identical float ops in identical order), and the
    signed per-bin mean is zero-folded after ROUND per the IEEE -0.0
    oracle rule."""
    from aws_csp_datapipeline_spark.functions.mleval import (
        score_reliability,
    )

    li = load_table(spark, sf_dir, "lineitem").select(
        F.datediff(F.col("l_shipdate"), F.lit("1992-01-01").cast("date"))
        .cast("long")
        .cast("double")
        .alias("s"),
        (F.col("l_returnflag") == F.lit("N")).alias("y"),
    )
    return score_reliability(li, "s", "y", n_bins=10)


_ML5_CUM_SQL = """
    WITH base AS (
      SELECT CAST(datediff('day', DATE '1992-01-01', l_shipdate) AS BIGINT) AS s,
             CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END AS y
      FROM lineitem
    ),
    per AS (SELECT s, COUNT(*) AS n_s, SUM(y) AS pos_s FROM base GROUP BY s),
    cum AS (
      SELECT s,
             CAST(SUM(pos_s) OVER (ORDER BY s DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS tp,
             CAST(SUM(n_s - pos_s) OVER (ORDER BY s DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS fp,
             CAST(SUM(pos_s) OVER () AS BIGINT) AS n_pos,
             CAST(SUM(n_s) OVER () AS BIGINT) AS n_total
      FROM per
    ),
    sweep AS (
      SELECT s, tp, fp, n_pos - tp AS fn,
             CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) AS "precision",
             CASE WHEN n_pos > 0
                  THEN CAST(tp AS DOUBLE) / CAST(n_pos AS DOUBLE)
             END AS recall,
             CAST(2 * tp AS DOUBLE) / CAST(tp + fp + n_pos AS DOUBLE) AS f1,
             CAST(tp + fp AS DOUBLE) / CAST(n_total AS DOUBLE) AS keep_rate
      FROM cum
    )
"""


@register("ml5_threshold_sweep", _ML5_CUM_SQL + "SELECT * FROM sweep")
def ml5_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-threshold confusion table for the ml3 scorer
    (functions/mleval.threshold_sweep): for every distinct score s,
    the exact (tp, fp, fn) of the filter "keep score >= s" plus
    precision / recall / f1 / keep_rate — the full operating-curve a
    corpus-filter builder sweeps before picking a gate. Counts are
    exact integers off one map-side-combinable shuffle; every metric
    is a single integer->double division (f1 via 2tp/(2tp+fp+fn)), so
    the hash compare needs no rounding fold. The ordered pass runs
    over the DISTINCT day domain (bounded by the calendar, not the
    corpus — the unpartitioned-Window policy)."""
    from aws_csp_datapipeline_spark.functions.mleval import threshold_sweep

    li = load_table(spark, sf_dir, "lineitem").select(
        F.datediff(F.col("l_shipdate"), F.lit("1992-01-01").cast("date"))
        .cast("long")
        .alias("s"),
        (F.col("l_returnflag") == F.lit("N")).alias("y"),
    )
    return threshold_sweep(li, "s", "y")


@register(
    "ml6_best_operating_point",
    _ML5_CUM_SQL + "SELECT * FROM sweep ORDER BY f1 DESC, s ASC LIMIT 1",
)
def ml6_best_operating_point(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The answer row of ml5: the threshold maximizing F1, lowest
    threshold on exact-double ties (functions/mleval.
    best_operating_point). Spark plan is TakeOrderedAndProject over
    the sweep — k rows per partition, no global sort."""
    from aws_csp_datapipeline_spark.functions.mleval import (
        best_operating_point,
    )

    li = load_table(spark, sf_dir, "lineitem").select(
        F.datediff(F.col("l_shipdate"), F.lit("1992-01-01").cast("date"))
        .cast("long")
        .alias("s"),
        (F.col("l_returnflag") == F.lit("N")).alias("y"),
    )
    return best_operating_point(li, "s", "y")


def _ml7_sql() -> str:
    from aws_csp_datapipeline_spark.plans.q_text import QUALITY_EXPR_SQL

    return f"""
    WITH base AS (
      SELECT CAST(FLOOR(({QUALITY_EXPR_SQL}) * 10000) AS BIGINT) AS s,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
      FROM documents
      WHERE text IS NOT NULL AND lang IS NOT NULL
    ),
    per AS (SELECT s, COUNT(*) AS n_s, SUM(y) AS pos_s FROM base GROUP BY s),
    cum AS (
      SELECT n_s, pos_s,
             COALESCE(SUM(n_s) OVER (ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_before
      FROM per
    ),
    agg AS (
      SELECT SUM(CAST(pos_s AS HUGEINT)
                 * CAST(2 * cum_before + n_s + 1 AS HUGEINT)) AS two_rpos,
             CAST(SUM(pos_s) AS BIGINT) AS n_pos,
             CAST(SUM(n_s - pos_s) AS BIGINT) AS n_neg
      FROM cum
    )
    SELECT n_pos, n_neg,
           CASE WHEN n_pos > 0 AND n_neg > 0 THEN
             CAST(two_rpos - CAST(n_pos AS HUGEINT)
                             * CAST(n_pos + 1 AS HUGEINT) AS DOUBLE)
             / CAST(2 * CAST(n_pos AS HUGEINT)
                      * CAST(n_neg AS HUGEINT) AS DOUBLE)
           END AS auc
    FROM agg
    """


@register("ml7_scorer_auc", _ml7_sql())
def ml7_scorer_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The eval family pointed at one of the REPO'S OWN scorers:
    does t2's composite quality score (stopword density + length +
    punctuation, functions/text.quality_score) rank English
    documents above the rest? This is the corpus-scale sanity check
    a filter builder runs BEFORE gating on a scorer — and on the
    synthetic corpus the answer is "no signal" (AUC ~= 0.495 at
    sf0.01: every language draws from the same quality
    distribution), which is exactly the outcome the check exists to
    surface: gating this corpus on t2 would NOT skew it toward
    English. Scores are quantized to 1e-4 buckets (floor(q * 10000)) so
    the ordered pass runs over a <= ~10k-bucket domain regardless of
    corpus size; quantizing a monotone score only coarsens tie
    handling. The quantized score is bit-identical across engines
    because t2's oracle already restates the same double expression
    tree exactly."""
    from aws_csp_datapipeline_spark.functions.mleval import roc_auc
    from aws_csp_datapipeline_spark.functions.text import quality_score

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        F.floor(quality_score(F.col("text")) * 10000)
        .cast("long")
        .alias("s"),
        (F.col("lang") == F.lit("en")).alias("y"),
    )
    return roc_auc(scored, "s", "y")


@register(
    "ml8_pr_auc",
    """
    WITH RECURSIVE base AS (
      SELECT CAST(datediff('day', DATE '1992-01-01', l_shipdate) AS BIGINT) AS s,
             CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END AS y
      FROM lineitem
    ),
    per AS (SELECT s, COUNT(*) AS n_s, SUM(y) AS pos_s FROM base GROUP BY s),
    ranked AS (
      SELECT s,
             CAST(pos_s AS BIGINT) AS d_tp,
             CAST(SUM(pos_s) OVER (ORDER BY s DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS tp,
             CAST(SUM(n_s) OVER (ORDER BY s DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS kept,
             CAST(ROW_NUMBER() OVER (ORDER BY s DESC) AS BIGINT) AS rn,
             CAST(SUM(pos_s) OVER () AS BIGINT) AS n_pos,
             CAST(SUM(n_s) OVER () AS BIGINT) AS n_total
      FROM per
    ),
    rec AS (
      SELECT rn, n_pos, n_total,
             CASE WHEN n_pos > 0 THEN
               (CAST(d_tp AS DOUBLE) / CAST(n_pos AS DOUBLE))
               * (CAST(tp AS DOUBLE) / CAST(kept AS DOUBLE))
             ELSE 0.0 END AS acc
      FROM ranked WHERE rn = 1
      UNION ALL
      SELECT r2.rn, r2.n_pos, r2.n_total,
             rec.acc + CASE WHEN r2.n_pos > 0 THEN
               (CAST(r2.d_tp AS DOUBLE) / CAST(r2.n_pos AS DOUBLE))
               * (CAST(r2.tp AS DOUBLE) / CAST(r2.kept AS DOUBLE))
             ELSE 0.0 END
      FROM ranked r2 JOIN rec ON r2.rn = rec.rn + 1
    )
    SELECT n_pos, n_total - n_pos AS n_neg,
           CASE WHEN n_pos > 0 THEN acc END AS ap
    FROM rec ORDER BY rn DESC LIMIT 1
    """,
)
def ml8_pr_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average precision (area under the precision-recall curve,
    step rule, ties grouped) of the ml3 scorer — the imbalance-honest
    companion scalar to ml3's ROC-AUC (functions/mleval.pr_auc). The
    float accumulation runs through an ORDERED running frame on the
    Spark side and the SAME sequential add chain as a recursive CTE
    on the oracle side (the w14 EWMA precedent), so the hash needs no
    rounding fold; everything before it is exact-integer."""
    from aws_csp_datapipeline_spark.functions.mleval import pr_auc

    li = load_table(spark, sf_dir, "lineitem").select(
        F.datediff(F.col("l_shipdate"), F.lit("1992-01-01").cast("date"))
        .cast("long")
        .alias("s"),
        (F.col("l_returnflag") == F.lit("N")).alias("y"),
    )
    return pr_auc(li, "s", "y")
