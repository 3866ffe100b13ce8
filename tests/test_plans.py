"""Plan-regression tests: the physical plans that make these
operators scale are asserted, not assumed — pushdown reaching the
scan, top-k avoiding a global sort, dimension joins broadcasting,
bucketed joins eliminating the shuffle."""




from aws_csp_datapipeline_spark.plans.registry import queries


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().toString()


def test_filter_pushdown_reaches_scan(spark, sf_oracle):
    df = queries()["p4_point_lookup"](spark, sf_oracle)
    plan = _optimized(df)
    assert "PushedFilters" in plan and "EqualTo(o_orderkey,42)" in plan


def test_column_pruning(spark, sf_oracle):
    df = queries()["o3_topk"](spark, sf_oracle)
    plan = _optimized(df)
    # the scan must read only the 3 projected columns
    assert "o_orderstatus" not in plan.split("ReadSchema")[1][:300]


def test_topk_is_take_ordered_not_global_sort(spark, sf_oracle):
    plan = _plan(queries()["o3_topk"](spark, sf_oracle))
    assert "TakeOrderedAndProject" in plan


def test_star_join_broadcasts_dims(spark, sf_oracle):
    plan = _plan(queries()["j2_star_agg"](spark, sf_oracle))
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan


def test_exists_is_semi_join(spark, sf_oracle):
    plan = _plan(queries()["p9_exists_semijoin"](spark, sf_oracle))
    assert "LeftSemi" in plan


def test_q1_partial_aggregation(spark, sf_oracle):
    plan = _plan(queries()["q1_pricing_summary"](spark, sf_oracle))
    assert "partial_sum" in plan  # map-side combine before the exchange


def test_bucketed_join_has_no_shuffle(spark, sf_oracle):
    """Write both sides bucketed by the join key → the equi-join
    needs no Exchange at all (the co-located-join contract that makes
    repeated large-scale joins affordable)."""
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        o = spark.read.parquet(f"{sf_oracle}/orders.parquet")
        c = spark.read.parquet(f"{sf_oracle}/customer.parquet")
        (o.write.mode("overwrite").bucketBy(8, "o_custkey")
           .sortBy("o_custkey").saveAsTable("b_orders"))
        (c.write.mode("overwrite").bucketBy(8, "c_custkey")
           .sortBy("c_custkey").saveAsTable("b_customer"))
        bo, bc = spark.table("b_orders"), spark.table("b_customer")
        j = bo.join(bc, bo.o_custkey == bc.c_custkey).select("o_orderkey", "c_name")
        plan = _plan(j)
        assert "Exchange" not in plan, plan
        assert j.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_customer")


def test_partition_pruning(spark, sf_oracle, tmp_path):
    """Writing partitioned-by-day and filtering on the partition
    column must prune at planning time (PartitionFilters on the scan,
    only matching partition directories read)."""
    from pyspark.sql import functions as F

    out = str(tmp_path / "part_events")
    from aws_csp_datapipeline_spark.catalog import load_table

    ev = load_table(spark, sf_oracle, "events").withColumn(
        "dt", F.to_date("ts")
    )
    ev.write.mode("overwrite").partitionBy("dt").parquet(out)
    back = spark.read.parquet(out).filter(F.col("dt") == "2024-01-03")
    plan = _optimized(back)
    assert "PartitionFilters" in plan and "2024-01-03" in plan
    n_days = ev.select("dt").distinct().count()
    assert back.select("dt").distinct().count() == 1 and n_days > 1


def test_sql_api_same_result(spark, sf_oracle):
    from aws_csp_datapipeline_spark.sql_api import sql

    df = sql(
        spark,
        sf_oracle,
        """
        SELECT o_orderpriority, COUNT(*) AS cnt
        FROM orders GROUP BY o_orderpriority
        """,
    )
    dfapi = queries()["a4_group_count"](spark, sf_oracle)
    assert sorted(map(tuple, df.collect())) == sorted(map(tuple, dfapi.collect()))


def test_cdc_and_merge_never_shuffle_snapshot(spark, sf_oracle):
    """apply_cdc / merge_upsert must stay all-broadcast: a full-outer
    or plain anti-join formulation degrades to a both-sides-shuffled
    SortMergeJoin of the (100-TB) snapshot."""
    for name in ("m10_cdc_apply", "m9_merge_upsert"):
        plan = _plan(queries()[name](spark, sf_oracle))
        assert "SortMergeJoin" not in plan, name
        assert "BroadcastHashJoin" in plan, name


def test_hash_split_is_narrow(spark, sf_oracle):
    """The deterministic split is a pure projection — any Exchange
    would mean the assignment depends on partitioning."""
    plan = _plan(queries()["tt1_hash_split"](spark, sf_oracle))
    assert "Exchange" not in plan


def test_q9_star_never_shuffles_fact(spark, sf_oracle):
    """Q9's 4-way star: every dimension broadcasts; the only shuffle
    allowed is the final (nation, year) aggregate."""
    plan = _plan(queries()["q9_profit_by_nation_year"](spark, sf_oracle))
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 3


def test_minhash_signature_has_no_exchange(spark, sf_oracle):
    """The MinHash signature is a narrow per-row projection
    (array_min over the per-doc shingle array) — any Exchange before
    the signature would mean we regressed to the explode + k-way
    min-aggregate shuffle."""
    from aws_csp_datapipeline_spark.functions import dedup as D

    d = spark.read.parquet(f"{sf_oracle}/documents.parquet")
    sig = D.minhash_signatures(d, "text", "doc_id", k=8)
    plan = _plan(sig)
    assert "Exchange hashpartitioning" not in plan, plan


def test_bigrams_partial_aggregation(spark, sf_oracle):
    """t10: the bigram count must map-side combine (shuffle carries
    (bigram, partial count), not raw bigram rows) and plan the top-20
    as TakeOrderedAndProject, not a global sort."""
    plan = _plan(queries()["t10_top_bigrams"](spark, sf_oracle))
    assert "partial_count" in plan
    assert "TakeOrderedAndProject" in plan


def test_bm25_broadcasts_stats(spark, sf_oracle):
    """t12: the df table and the (N, avgdl) scalars must broadcast —
    the postings table is the only shuffled relation."""
    plan = _plan(queries()["t12_bm25_topdocs"](spark, sf_oracle))
    assert plan.count("BroadcastHashJoin") + plan.count(
        "BroadcastNestedLoopJoin"
    ) >= 2
    assert "TakeOrderedAndProject" in plan


def test_curation_pipeline_shuffle_budget(spark, sf_oracle):
    """pipe1: the composed curation plan keeps its two-aggregation
    shuffle budget — fingerprint agg + summary agg (plus AQE reads);
    document bodies never hash-partition by content."""
    plan = _plan(queries()["pipe1_curation_pipeline"](spark, sf_oracle))
    assert plan.count("Exchange hashpartitioning") <= 3, plan


def test_chunk_windows_no_shuffle(spark, sf_oracle):
    """t11: chunking is scan -> project -> posexplode; a shuffle here
    would mean the per-row expression regressed to a join/window."""
    plan = _plan(queries()["t11_chunk_windows"](spark, sf_oracle))
    assert "Exchange hashpartitioning" not in plan, plan


def test_attribution_single_shuffle(spark, sf_oracle):
    """pm4 (one-pass as-of carry) must shuffle exactly once — on
    user_id for the window — with no join in the plan."""
    plan = _plan(queries()["pm4_last_touch_attribution"](spark, sf_oracle))
    assert plan.count("Exchange") == 1, plan
    assert "Join" not in plan


def test_asof_nearest_single_shuffle(spark, sf_oracle):
    """x6: both directional carries must run inside ONE exchange
    (two window sorts, zero joins) — the point of the tagged-union
    nearest as-of over a two-pass join-based form."""
    plan = _plan(queries()["x6_asof_nearest"](spark, sf_oracle))
    assert plan.count("Exchange") == 1, plan
    assert "Join" not in plan


def test_outlier_audit_broadcasts_stats(spark, sf_oracle):
    """dq9: the per-group bounds join back onto the fact rows must
    broadcast (constant-size stats side), never sort-merge."""
    plan = _plan(queries()["dq9_outlier_audit"](spark, sf_oracle))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_map_battery_is_narrow(spark, sf_oracle):
    """f17: pure per-row map expressions — no exchange at all."""
    plan = _plan(queries()["f17_map_battery"](spark, sf_oracle))
    assert "Exchange" not in plan, plan


def test_vocab_build_partial_aggregation(spark, sf_oracle):
    """t14: the token count must partial-aggregate map-side so the
    shuffle carries per-partition vocab, not corpus tokens."""
    plan = _plan(queries()["t14_vocab_build"](spark, sf_oracle))
    assert "partial_count" in plan or "partial" in plan, plan


def test_semdedup_cell_join_not_cartesian(spark, sf_oracle):
    """d10's pair comparison must be an equi-join keyed on the cell
    (bucket) — a CartesianProduct/BroadcastNestedLoop here means the
    within-cell bound is gone and the comparison is O(N^2) again."""
    df = queries()["d10_semdedup"](spark, sf_oracle)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_semdedup_min_id_per_cell_always_kept(spark, sf_oracle):
    """Drop rule is 'lower-id cell-mate above threshold', so the
    smallest vec_id of every cell can never be dropped; and every
    cell that has any member must keep at least one (checked on the
    flags form, which the registry query filters to the kept
    corpus)."""
    from pyspark.sql import functions as F

    from aws_csp_datapipeline_spark.functions.similarity import semdedup_flags

    e = spark.read.parquet(f"{sf_oracle}/embeddings.parquet")
    out = semdedup_flags(e, "embedding", "vec_id", threshold=0.45, sign_bits=6)
    mins = out.groupBy("bucket").agg(F.min("vec_id").alias("vec_id"))
    dropped_mins = out.join(mins, ["bucket", "vec_id"]).filter(~F.col("kept"))
    assert dropped_mins.count() == 0
    orphan_cells = (
        out.groupBy("bucket")
        .agg(F.sum(F.col("kept").cast("int")).alias("n_kept"))
        .filter(F.col("n_kept") == 0)
    )
    assert orphan_cells.count() == 0


def test_incremental_semdedup_consistent_with_full_pass(spark, sf_oracle):
    """Provable containment: a vector inc3 rejects (some KEPT existing
    cell-mate within threshold) must also be dropped by the full-batch
    semdedup over existing+incoming — kept-status of existing ids is
    identical in both passes (it depends only on lower ids, all
    existing), and the kept neighbor that rejected it is in particular
    a lower-id neighbor for the full pass's drop rule."""
    from pyspark.sql import functions as F

    from aws_csp_datapipeline_spark.functions.similarity import (
        semdedup_flags,
        semdedup_incremental,
        semdedup_kept_state,
    )

    e = spark.read.parquet(f"{sf_oracle}/embeddings.parquet")
    state = semdedup_kept_state(
        e.filter(F.col("vec_id") < 250), "embedding", "vec_id", 0.45, 6
    )
    inc3 = semdedup_incremental(
        state,
        e.filter(F.col("vec_id") >= 250),
        "embedding", "vec_id", 0.45, 6,
    )
    rejected = {r["vec_id"] for r in inc3.filter(~F.col("accepted")).collect()}
    full = semdedup_flags(e, "embedding", "vec_id", 0.45, 6)
    full_dropped = {
        r["vec_id"]
        for r in full.filter(~F.col("kept") & (F.col("vec_id") >= 250)).collect()
    }
    assert rejected <= full_dropped
    # and the incremental pass can only be MORE permissive
    assert len(rejected) <= len(full_dropped)


def test_eval_lanes_have_bounded_ordered_pass(spark, sf_oracle):
    """The ml eval lanes' scale contract: exactly ONE keyed exchange
    (the per-score-group aggregate) plus one single-partition
    exchange whose input is the distinct-score domain — never a
    corpus-scale global sort — and all window functions fused into a
    single Window node."""
    for name in ("ml3_roc_auc", "ml5_threshold_sweep", "ml8_pr_auc"):
        plan = _plan(queries()[name](spark, sf_oracle))
        assert plan.count("Exchange") == 2, (name, plan)
        assert plan.count("SinglePartition") == 1, (name, plan)
        # ml3/ml5 fuse all window functions into one Window node; ml8
        # needs a second (its running sum consumes the first node's
        # outputs) but it rides the SAME sort — no third exchange
        assert plan.count("Window") <= 2, (name, plan)


def test_best_operating_point_is_take_ordered(spark, sf_oracle):
    plan = _plan(queries()["ml6_best_operating_point"](spark, sf_oracle))
    assert "TakeOrderedAndProject" in plan, plan


def test_scaling_law_subsets_is_narrow(spark, sf_oracle):
    """tt19 is a pure projection: any Exchange would mean the subset
    assignment stopped being partitioning-independent."""
    plan = _plan(queries()["tt19_scaling_law_subsets"](spark, sf_oracle))
    assert "Exchange" not in plan, plan


def test_epoch_expansion_broadcasts_epoch_table(spark, sf_oracle):
    """tt18's corpus side must never shuffle: the per-source epoch
    table joins back via broadcast, and the only exchanges feed the
    tiny per-source aggregate."""
    plan = _plan(queries()["tt18_epoch_expansion"](spark, sf_oracle))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_weighted_topk_sample_is_take_ordered(spark, sf_oracle):
    """tt20's exact-k selection must plan as TakeOrderedAndProject —
    k rows per partition, never a global sort of the keyed corpus."""
    plan = _plan(queries()["tt20_weighted_topk_sample"](spark, sf_oracle))
    assert "TakeOrderedAndProject" in plan, plan
