"""er2 scale-safe blocking: candidate-budget and recall-contract
guarantees vs the quadratic-growth er1 demo (SCALE.md "er1 blocking
lesson")."""

from pyspark.sql import functions as F

from aws_csp_datapipeline_spark.catalog import load_table
from aws_csp_datapipeline_spark.functions.linkage import (
    pigeonhole_candidate_pairs,
)
from aws_csp_datapipeline_spark.plans.q_linkage import (
    _ER2_CAP,
    er2_scale_safe_matches,
)

SF_BIG = "/root/testdata/sf0.1"


def _er1_full_pairs(spark, sf_dir):
    """er1's match (fixed-key blocking + lev<=2) WITHOUT its LIMIT —
    the complete ground truth for recall comparison."""
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_mktsegment", "c_name"
    )
    a = c.select(*[F.col(x).alias(f"a_{x}") for x in c.columns])
    b = c.select(*[F.col(x).alias(f"b_{x}") for x in c.columns])
    return (
        a.join(
            b,
            (F.col("a_c_nationkey") == F.col("b_c_nationkey"))
            & (F.col("a_c_mktsegment") == F.col("b_c_mktsegment"))
            & (F.col("a_c_custkey") < F.col("b_c_custkey")),
        )
        .withColumn("dist", F.levenshtein("a_c_name", "b_c_name", 2))
        .filter(F.col("dist").between(0, 2))
        .select(
            F.col("a_c_custkey").alias("ka"),
            F.col("b_c_custkey").alias("kb"),
            F.col("a_c_name").alias("na"),
            F.col("b_c_name").alias("nb"),
        )
    )


def _substitution_dist(a: str, b: str) -> float:
    """Substitution-only distance: er2's recall contract covers pairs
    reachable by substitutions alone, which REQUIRES equal length —
    an unequal-length lev<=2 pair (pure indel) is a contract-
    compliant miss, not a lost substitution pair."""
    if len(a) != len(b):
        return float("inf")
    return sum(x != y for x, y in zip(a, b))


def test_er2_substitution_complete_and_subset(spark, sf_oracle):
    """The recall contract: er2 ⊆ er1, and every er1 pair er2 misses
    needs an insert+delete (substitution distance > 2) — pairs within
    2 substitutions are NEVER lost to the blocking or the
    frequency-aware split. On this corpus at sf0.01 nothing is missed
    at all."""
    er2 = {
        (r["custkey_a"], r["custkey_b"])
        for r in er2_scale_safe_matches(spark, sf_oracle).collect()
    }
    er1 = {
        (r["ka"], r["kb"]): (r["na"], r["nb"])
        for r in _er1_full_pairs(spark, sf_oracle).collect()
    }
    assert er2 <= set(er1)
    missed = set(er1) - er2
    assert missed == set()  # measured: exact parity at sf0.01
    assert er1  # non-vacuous


def test_er2_substitution_complete_at_sf01(spark):
    """Same contract at 10x the data, where er1's quadratic blocks
    force the frequency-aware split to engage: pairs can be missed
    (indel position shifts) but none within 2 substitutions."""
    er2 = {
        (r["custkey_a"], r["custkey_b"])
        for r in er2_scale_safe_matches(spark, SF_BIG).collect()
    }
    er1 = {
        (r["ka"], r["kb"]): (r["na"], r["nb"])
        for r in _er1_full_pairs(spark, SF_BIG).collect()
    }
    assert er2 <= set(er1)
    missed = set(er1) - er2
    for k in missed:
        na, nb = er1[k]
        assert _substitution_dist(na, nb) > 2, f"substitution pair lost: {er1[k]}"
    # measured 2.6% indel-shift misses at sf0.1 — pin a recall floor
    assert len(er2) >= 0.95 * len(er1)


def test_er2_duplicate_collapse_invariance(spark):
    """The two-phase design's contract on duplicate-heavy corpora
    (the .scratch/sf10 shape — every name replicated): doubling every
    record with a shifted key must (a) add exactly one dist-0 pair
    per name, (b) expand every distinct-name match 2x2, and (c) leave
    the NAME-level match set unchanged — duplication never changes
    which names match, only how often."""
    from aws_csp_datapipeline_spark.functions.linkage import pigeonhole_matches

    c = load_table(spark, "/root/testdata/sf0.001", "customer").select(
        "c_custkey", "c_nationkey", "c_mktsegment", "c_name"
    )
    n_rows = c.count()
    doubled = c.unionByName(
        c.withColumn("c_custkey", F.col("c_custkey") + 1_000_000)
    )
    base = pigeonhole_matches(
        c, "c_custkey", "c_name", ["c_nationkey", "c_mktsegment"]
    ).collect()
    dup = pigeonhole_matches(
        doubled, "c_custkey", "c_name", ["c_nationkey", "c_mktsegment"]
    ).collect()
    # name_a carries the LOWER id's name, so a duplicated corpus
    # emits both orientations — normalize to unordered name pairs.
    base_names = {(*sorted((r["name_a"], r["name_b"])), r["dist"]) for r in base}
    dup_names = {(*sorted((r["name_a"], r["name_b"])), r["dist"]) for r in dup}
    # (c) name-level matches: base pairs plus the self-pairs at dist 0
    assert dup_names == base_names | {
        (r["c_name"], r["c_name"], 0) for r in c.collect()
    }
    # (a)+(b): one dist-0 pair per duplicated name, 4x each base match
    assert len(dup) == 4 * len(base) + n_rows
    assert base  # non-vacuous


def test_er3_equals_full_ground_truth(spark, sf_oracle):
    """er3's whole claim: EXACT lev<=2 completeness, indels included —
    equality (not ⊆) with the unlimited quadratic er1 join at sf0.01
    AND at sf0.1, where er2 measurably misses 848 indel-shift pairs
    (32,527 vs 31,679)."""
    from aws_csp_datapipeline_spark.plans.q_linkage import (
        er3_indel_complete_matches,
    )

    for sf_dir in [sf_oracle, SF_BIG]:
        er3 = {
            (r["custkey_a"], r["custkey_b"])
            for r in er3_indel_complete_matches(spark, sf_dir).collect()
        }
        er1 = {
            (r["ka"], r["kb"]) for r in _er1_full_pairs(spark, sf_dir).collect()
        }
        assert er3 == er1, (
            sf_dir,
            f"missed={len(er1 - er3)}",
            f"extra={len(er3 - er1)}",
        )
        assert er1  # non-vacuous


def test_er3_adversarial_edit_pairs_always_found(spark):
    """Generator gate for the lane geometry: seeded random base
    strings (mixed lengths 6-20, small alphabet) each paired with a
    <=2-edit mutation (insert/delete/substitute at random positions,
    biased toward the suffix window the lanes read). Every mutated
    pair lives in its own block, all checked in ONE Spark job:
    edit_complete_matches must find every pair — by construction all
    are within levenshtein 2."""
    import random

    from aws_csp_datapipeline_spark.functions.linkage import (
        edit_complete_matches,
    )

    rng = random.Random(20260814)
    alpha = "ab0"
    rows, want = [], set()
    for case in range(300):
        n = rng.randint(6, 20)
        base = "".join(rng.choice(alpha) for _ in range(n))
        s = list(base)
        for _ in range(rng.randint(1, 2)):
            # bias edit positions toward the tail (the lanes' window)
            pos = rng.randint(max(0, len(s) - 11), max(0, len(s) - 1))
            op = rng.choice("ids")
            if op == "i":
                s.insert(pos, rng.choice(alpha))
            elif op == "d" and s:
                del s[min(pos, len(s) - 1)]
            else:
                s[min(pos, len(s) - 1)] = rng.choice(alpha)
        other = "".join(s)
        rows.append((2 * case, base, case))
        rows.append((2 * case + 1, other, case))
        want.add((2 * case, 2 * case + 1))
    df = spark.createDataFrame(rows, "id long, name string, blk int")
    got = {
        (r["id_a"], r["id_b"])
        for r in edit_complete_matches(df, "id", "name", ["blk"]).collect()
    }
    missed = want - got
    assert missed == set(), f"{len(missed)} edit pairs lost: {sorted(missed)[:5]}"


def test_er3_candidate_budget_sanity(spark):
    """er3's shifted probes pay for indel completeness with a weaker
    candidate bound than er2 (dense digit strings cap shift-tolerant
    key selectivity — functions/linkage.py window comment). Pin the
    honest ceiling: candidates stay strictly UNDER the in-block
    quadratic er1 would verify (i.e. the blocking still does real
    work on the adversarial corpus), measured at the top test scale."""
    from aws_csp_datapipeline_spark.functions.linkage import (
        _shifted_candidate_name_pairs,
    )

    c = load_table(spark, SF_BIG, "customer").select(
        "c_custkey", "c_nationkey", "c_mktsegment", "c_name"
    )
    cand = _shifted_candidate_name_pairs(
        c.selectExpr("c_name as _nm", "c_nationkey", "c_mktsegment"),
        "_nm",
        ["c_nationkey", "c_mktsegment"],
        _ER2_CAP,
    ).count()
    # in-block pairs at sf0.1: 125 blocks x C(120,2) = 892,500
    blocks = c.groupBy("c_nationkey", "c_mktsegment").count().collect()
    quad = sum(r["count"] * (r["count"] - 1) // 2 for r in blocks)
    assert cand < 0.75 * quad, (cand, quad)


def test_er2_plan_pins_scale_fixes(spark, sf_oracle):
    """Pins the two sf10 fixes in the physical plan (SCALE.md "er2 at
    sf10"): (a) the explicit round-robin spread of the tiny verified
    set — without it AQE coalesces the distinct's exchange to ~1
    partition and the broadcast-join expansion fans out serially in
    one task; (b) the merge-hinted lane joins — sort-merge is the
    only spill-safe strategy for the explode-fanned lane relations
    whose size static estimates cannot see."""
    plan = (
        er2_scale_safe_matches(spark, sf_oracle)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "RoundRobinPartitioning" in plan, (
        "er2 lost its explicit expansion spread — the sf10 serial "
        "fan-out regression:\n" + plan
    )
    assert "SortMergeJoin" in plan, (
        "er2's lane joins lost their merge hints — the sf10 broadcast/"
        "SHJ OOM regression:\n" + plan
    )


def test_er2_candidate_budget_stays_linear(spark):
    """The point of er2: the blocking join's fan-out (sum of
    m*(m-1)/2 over final key blocks) stays within a per-row budget as
    sf grows 100x, and no final block exceeds a small multiple of the
    cap — while er1's fixed-key fan-out grows ~10x per 10x data
    (6/row at sf0.01 → 60/row at sf0.1, SCALE.md)."""
    budget_per_row = 30
    per_row = {}
    for sf_dir in ["/root/testdata/sf0.001", "/root/testdata/sf0.01", SF_BIG]:
        c = load_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_nationkey", "c_mktsegment", "c_name"
        )
        n_rows = c.count()
        cand = pigeonhole_candidate_pairs(
            c, "c_custkey", "c_name", ["c_nationkey", "c_mktsegment"],
            cap=_ER2_CAP,
        )
        n_cand = cand.count()
        assert n_cand <= budget_per_row * n_rows, (sf_dir, n_cand, n_rows)
        per_row[sf_dir] = n_cand / n_rows
    # growth check at the top step: candidates per row at sf0.1 must
    # stay under ~2.5x the sf0.01 per-row rate (measured 6.0 -> 12.7),
    # i.e. nowhere near er1's 10x per-row quadratic step.
    assert per_row[SF_BIG] <= 2.5 * per_row["/root/testdata/sf0.01"]


def test_er3_plan_result_carries_cache_handle(spark, sf_oracle):
    """ADVICE r7: er3 used to leak its persisted lane frames once its
    final .select() severed the hand-propagated cache attribute. The
    lane frames now belong to the caller's lifecycle scope: cached
    while it is open, gone after it exits."""
    from aws_csp_datapipeline_spark import lifecycle
    from aws_csp_datapipeline_spark.plans.q_linkage import (
        er3_indel_complete_matches,
    )
    from tests.leaks import cache_is_empty

    spark.catalog.clearCache()
    with lifecycle.scope():
        er3_indel_complete_matches(spark, sf_oracle).count()
        assert not cache_is_empty(spark), "er3 persisted no lane frame"
    assert cache_is_empty(spark), "scope exit left a lane persisted"


def test_er4_stats_equal_full_ground_truth_at_sf01(spark):
    """er4's counts vs the unlimited quadratic join's aggregate at
    sf0.1 (the oracle pairing covers sf0.01; this pins the larger
    corpus where blocks overflow the cap and the split lanes engage)."""
    from aws_csp_datapipeline_spark import lifecycle
    from aws_csp_datapipeline_spark.plans.q_linkage import er4_match_stats

    c = load_table(spark, SF_BIG, "customer").select(
        "c_custkey", "c_nationkey", "c_mktsegment", "c_name"
    )
    a = c.select(*[F.col(x).alias(f"a_{x}") for x in c.columns])
    b = c.select(*[F.col(x).alias(f"b_{x}") for x in c.columns])
    truth = (
        a.join(
            b,
            (F.col("a_c_nationkey") == F.col("b_c_nationkey"))
            & (F.col("a_c_mktsegment") == F.col("b_c_mktsegment"))
            & (F.col("a_c_custkey") < F.col("b_c_custkey")),
        )
        .withColumn("dist", F.levenshtein("a_c_name", "b_c_name", 2))
        .filter(F.col("dist").between(0, 2))
        .groupBy(F.col("a_c_nationkey").alias("nationkey"),
                 F.col("a_c_mktsegment").alias("mktsegment"))
        .agg(
            F.sum(F.when(F.col("dist") == 0, 1).otherwise(0)).alias("pairs_d0"),
            F.sum(F.when(F.col("dist") == 1, 1).otherwise(0)).alias("pairs_d1"),
            F.sum(F.when(F.col("dist") == 2, 1).otherwise(0)).alias("pairs_d2"),
            F.count(F.lit(1)).alias("pairs_total"),
        )
    )
    t = {tuple(r) for r in truth.collect()}
    with lifecycle.scope():
        g = {tuple(r) for r in er4_match_stats(spark, SF_BIG).collect()}
    assert g == t


def test_id_pair_budget_guard(spark):
    """Duplicate-regime guard (the sf100 replica-corpus lesson,
    SCALE.md "er2 at sf10"): a corpus whose duplicate-name groups
    alone imply more id pairs than the budget must fail FAST with
    IdPairBudgetExceeded — before any expansion job — and the error
    must route to edit_match_stats. max_id_pairs=None opts out."""
    import pytest

    from aws_csp_datapipeline_spark.functions.linkage import (
        IdPairBudgetExceeded,
        edit_complete_matches,
        pigeonhole_matches,
    )

    # 1 block, 1 name, 200 replicas -> C(200,2) = 19,900 dist-0 pairs
    df = spark.range(200).select(
        F.col("id"), F.lit("acme corp").alias("name"), F.lit(1).alias("blk")
    )
    with pytest.raises(IdPairBudgetExceeded, match="edit_match_stats"):
        pigeonhole_matches(df, "id", "name", ["blk"], max_id_pairs=10_000)
    with pytest.raises(IdPairBudgetExceeded, match="duplicate-heavy"):
        edit_complete_matches(df, "id", "name", ["blk"], max_id_pairs=10_000)
    # opt-out still expands (and the expansion is exactly C(200,2))
    out = pigeonhole_matches(df, "id", "name", ["blk"], max_id_pairs=None)
    assert out.count() == 199 * 200 // 2
    # under-budget corpora pass the guard untouched
    ok = pigeonhole_matches(df, "id", "name", ["blk"], max_id_pairs=30_000)
    assert ok.count() == 199 * 200 // 2


def test_id_pair_budget_preflight_zero_job_gate():
    """ADVICE r10: when the caller supplies a footer row count and
    even ALL-pairs C(n, 2) fits the budget, the pre-flight must skip
    its aggregate job entirely. Proven zero-job by passing recs=None —
    any Spark work would raise AttributeError, so a clean return IS
    the no-job proof. Past the floor the aggregate must still run
    (recs=None then blows up, which is what we assert)."""
    import pytest

    from aws_csp_datapipeline_spark.functions.linkage import (
        _preflight_id_pair_budget,
    )

    # C(1000, 2) = 499_500 <= 1e9 budget: arithmetically impossible to
    # exceed, so the guard returns without touching the DataFrame.
    _preflight_id_pair_budget(
        None, "_nm", ["blk"], 1_000_000_000, "op", n_rows=1_000
    )
    # past the floor (or with no n_rows), the aggregate job is the
    # contract — recs=None makes that attempt observable
    with pytest.raises(AttributeError):
        _preflight_id_pair_budget(
            None, "_nm", ["blk"], 100, "op", n_rows=1_000
        )
    with pytest.raises(AttributeError):
        _preflight_id_pair_budget(None, "_nm", ["blk"], 100, "op")


def test_er3_warm_build_budget(spark, sf_oracle, monkeypatch):
    """A warm er3 build is a few SQL statements over bound frames: at
    most 400 py4j commands and no Spark job. The DataFrame-chain build
    it replaced issued ~3,400 commands (most of them pyspark's per-call
    query-context capture) and re-analysed its growing plan per call."""
    from py4j.java_gateway import GatewayClient

    from aws_csp_datapipeline_spark import lifecycle
    from aws_csp_datapipeline_spark.plans.q_linkage import (
        er3_indel_complete_matches,
    )

    with lifecycle.scope():
        er3_indel_complete_matches(spark, sf_oracle)  # warm: footers, memos
    sent = []
    send = GatewayClient.send_command

    def counting(self, *args, **kwargs):
        sent.append(1)
        return send(self, *args, **kwargs)

    sc = spark.sparkContext
    group = "er3-build-budget"
    sc.setJobGroup(group, group)
    try:
        with lifecycle.scope():
            monkeypatch.setattr(GatewayClient, "send_command", counting)
            er3_indel_complete_matches(spark, sf_oracle)
            monkeypatch.undo()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sent) <= 400, len(sent)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
