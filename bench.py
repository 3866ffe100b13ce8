"""The repo's measurement protocol: cold, forced runs of registry
queries at ``$SPARK_GRAFT_SF_DIR`` (default: the sf0.1 test data),
each with its per-layer breakdown. Prints ONE JSON line, the last
thing on stdout:

{"metric": ..., "value": total_sec, "unit": "sec", "layers": {...},
 "queries": {...}, "queries_median": {...}, "sf": ..., ...}

Run:
    python bench.py                      # the HEADLINE queries
    python bench.py er3_indel_complete_matches d3_minhash_lsh_pairs

Query names given as arguments replace the headline list. The only
settings are ``SPARK_GRAFT_SF_DIR`` and ``SPARK_GRAFT_BENCH_REPS``
(default 3); the session always comes from ``session.get_spark``, so
``SPARK_GRAFT_CPUS`` sets its cores. Compare two records with
``tools/bench_compare.py``.

One sample is the timed region ``clearCache()`` + the registry query
build + ``force()``, which hashes every output column
(``bit_xor(xxhash64(*cols))``) so Catalyst cannot prune work whose
output nobody reads. The session and parquet footers are warmed by
one untimed run first.

Warm/cold contract. Warm across reps (built once per session and
reused by every later build): ``catalog.load_table`` plan handles,
s1's query vector (``similarity.query_vector``) and Spark's generated classes (the
session's codegen cache holds the headline's working set, so a
query's second rep compiles none — ``codegen_compiles`` in its
``layers``), besides the JVM's JIT and the OS page cache. Cold in
every sample: table data (every action scans parquet) and every
persisted intermediate (``clearCache()`` unpersists them, so
CacheManager plan dedup cannot serve a rep, or a same-plan sibling,
from an earlier one). ``tests/test_bench_contract.py`` pins
the cold half and the generated classes.

Single-run timings at this scale are dominated by machine noise
(SCALE.md "Bench variance": ±20 % totals and up to 65 % per query on
unchanged code), so each query runs ``SPARK_GRAFT_BENCH_REPS`` times
and reports its MIN (``queries``, the capability number), its MEDIAN
(``queries_median``, the expected case) and per-rep totals
(``rep_totals``) so the spread stays visible.

Each sample runs in its own Spark job group. After it is timed, the
group is read back through ``perfbench/layers.py``: ``layers[name]``
holds the per-key median over reps of ``build_s`` (plan construction
in Python/py4j), the group's jobs, stages, skipped stages, tasks,
task seconds, shuffle MB and spill MB (``exec_s`` is the time during
which its jobs ran), the Catalyst analysis, optimization and
planning times of the forced plan, ``codegen_compiles``, the
classes Spark generated and compiled during the sample, and the
``plan_ledger`` keys: the exchanges, joins and scans of the plan AQE
ran (``PLAN_AUDIT.md`` and ``tests/test_plan_budget.py`` read the
same ledger). The last rep also prints one line per stage to stderr.

Those reads come from Spark's status store, which evicts stages past
``spark.ui.retainedStages``, SKIPPED ones first and including those of
the group just run. So bench.py sizes the limit from the run:
``STAGES_PER_SAMPLE`` for each sample and the warm-up (the heaviest
headline query, er3, runs 65 stages at sf0.1; a 3-rep headline run
about 2,250), with no ceiling on reps or names. The store holds what
the run actually ran, not the limit. A sample whose stages left the
store anyway keeps its time; its job-group keys are missing from its
``layers`` median and stderr says so.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

from py4j.protocol import Py4JJavaError

from perfbench.layers import catalyst_phases, job_group_stats


HEADLINE = [
    "q1_pricing_summary",
    "a5_group_count_2key",
    "j2_star_agg",
    "o3_topk",
    "p9_exists_semijoin",
    "w1_topk_per_group",
    "w3_sessionize",
    "m7_dedup_by_keys",
    "t1_token_stats",
    "t2_quality_score",
    "d1_exact_dedup",
    "d3_minhash_lsh_pairs",
    "d9_duplicate_passages",
    "d10_semdedup",
    "inc3_incremental_semdedup",
    "s1_cosine_topk",
    "s2_knn_join",
    "st2_windowed_counts",
    "q3_shipping_priority",
    "q5_revenue_by_nation",
    "x1_asof_join",
    "x2_interval_join",
    "g3_time_rollup",
    "q9_profit_by_nation_year",
    "g4_grouping_sets",
    "w5_rank_battery",
    "tt1_hash_split",
    "tt11_deterministic_shuffle",
    "t6_pii_scrub",
    "t10_top_bigrams",
    "t11_chunk_windows",
    "tt6_greedy_pack",
    "tt7_weighted_sample",
    "pipe1_curation_pipeline",
    "pipe4_full_curation",
    "t12_bm25_topdocs",
    "tt8_ngram_decontaminate",
    "pm4_last_touch_attribution",
    "st10_sliding_counts",
    "t14_vocab_build",
    # round-6 late additions (cheap single-plan queries only; the
    # iterative BPE trainer and the LSH-composing tt12 are excluded so
    # the headline stays a per-operator timing, not a pipeline rerun;
    # er1_blocked_matches is excluded because its FIXED block key makes
    # in-block pairs grow quadratically with sf — measured 42 s at sf1 —
    # which is the blocking lesson SCALE.md documents, not a headline op)
    "t17_bpe_pair_counts",
    "s16_random_projection",
    "ml1_loo_target_encoding",
    "d11_cross_source_dups",
    "t21_freq_of_freq",
    "t22_vocab_growth",
    "x9_interval_coalesce",
    "pm7_top_session_paths",
    "dq12_skew_profile",
    "dq13_join_cardinality",
    "tt13_temperature_mixture",
    "x10_time_weighted_avg",
    "a24_mad_outliers",
    "dq15_fd_audit",
    "dq16_chisq_independence",
    "s17_pairwise_cosine_profile",
    "t23_readability",
    # round-7 additions: the train-ready capstone pipeline (quality →
    # dedup → split → decontaminate with quarantined eval set) now
    # carries a longitudinal perf number next to pipe1/pipe4, and the
    # scale-safe ER variant replaces the excluded quadratic er1.
    "pipe6_train_ready",
    "er2_scale_safe_matches",
    # round-8 addition: er3 entered the headline after its ~10 s flat
    # overhead was traced to py4j DataFrame-BUILD chatter (hundreds of
    # literal structs built one Column call at a time) and fixed with
    # generated-SQL twins of the lane arrays — cold at sf0.1 dropped
    # 13.2 s -> 6.4 s, now data-dominated (SCALE.md "er3 build cost").
    "er3_indel_complete_matches",
    # round-9 addition: the passage REMOVAL operator (d14) joins its
    # audit twin (d9) in the headline — 1.22 s vs d9's 1.04 s at
    # sf0.1 on entry, the rebuild costing ~17% over the stats pass.
    "d14_passage_scrubbed_corpus",
    # round-10 additions: the CCNet-style LM-perplexity gate (two
    # grouped counts + one bigram-keyed scoring join) and the
    # shared-scan multi-FD audit (kept on its shared-scan form with
    # the honest local-scale negative recorded — SCALE.md "dq19").
    "t25_lm_perplexity",
    "dq19_fd_multi_audit",
    # round-11 addition: Moore-Lewis selection — the heaviest new
    # lane (two bigram LMs + a double-scored stream + exact NTILE);
    # gr8/dq20 stay out (gr8's cost story is the sf100 record, dq20
    # is a single narrow groupBy).
    "tt16_moore_lewis",
    # er4_match_stats (the count-only governance form) stays out: the
    # headline already times the same lane machinery twice via
    # er2 + er3; er4's scale story is the sf100 spot record
    # (BENCH_sf100_r09.json + SCALE.md "sf100 expensive tail").
]


# Status-store stages allowed per sample (see the module docstring).
STAGES_PER_SAMPLE = 200


def force(df):
    """Force FULL evaluation of every output column and return the
    forced plan and its hash. A bare ``.count()`` lets Catalyst prune
    count-invariant work — final projections (t1/t2/tt1's per-row
    expressions), Window nodes whose output no one reads (tt11's pos),
    and multiplicity-preserving left joins (d10's pair join) — so
    count-timings measured only the scan for those shapes. Hashing
    every column into one bit_xor aggregate defeats pruning while
    adding one cheap hash per output row."""
    from pyspark.sql import functions as F

    fdf = df.agg(F.bit_xor(F.xxhash64(*[F.col(c) for c in df.columns])))
    return fdf, fdf.collect()[0][0]


# The ledger's exchange key for each ShuffleExchange partitioning class.
EXCHANGE_KINDS = {
    "HashPartitioning": "exch_hash",
    "RangePartitioning": "exch_range",
    "RoundRobinPartitioning": "exch_rr",
    "SinglePartition$": "exch_single",
}
JOINS = {
    "BroadcastHashJoin": "bhj",
    "SortMergeJoin": "smj",
    "ShuffledHashJoin": "shj",
    "BroadcastNestedLoopJoin": "bnlj",
    "CartesianProduct": "cartesian",
}
LEDGER_KEYS = (
    *EXCHANGE_KINDS.values(), "exch_other", "reused_exch",
    "bhj", "bhj_left", "smj", "shj", "bnlj", "cartesian",
    "cached_scans", "scans", "pushed", "pandas", "pyrow",
)


def plan_ledger(fdf) -> dict[str, int]:
    """What the forced DataFrame ``fdf`` ran: operator counts over its
    final adaptive plan, so they show what AQE chose at runtime (join
    strategy, build side, reused exchanges), not the initial plan.

    The walk descends ``AdaptiveSparkPlan`` into its executed plan,
    each query stage into its plan and each node into its subqueries.
    A ``ReusedExchange`` is counted and not descended, nor is a
    ``ReusedSubquery`` (their work ran once, elsewhere in the plan).
    An ``InMemoryTableScan`` is counted per consumer, but its
    relation's cached plan is walked once per relation. ``bhj_left`` counts the broadcast joins that built their
    left side; ``pandas`` the Arrow batch operators and ``pyrow`` the
    per-row Python evaluators."""
    jvm = fdf.sparkSession._jvm
    ledger = dict.fromkeys(LEDGER_KEYS, 0)
    seen: set[int] = set()
    todo = [fdf._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            todo.append(node.executedPlan())
            continue
        if name.endswith("QueryStage"):
            todo.append(node.plan())
            continue
        if name == "ReusedExchange":
            ledger["reused_exch"] += 1
            continue
        if name == "ReusedSubquery":
            continue
        if name == "Exchange":
            kind = node.outputPartitioning().getClass().getSimpleName()
            ledger[EXCHANGE_KINDS.get(kind, "exch_other")] += 1
        elif name in JOINS:
            ledger[JOINS[name]] += 1
            if name == "BroadcastHashJoin" and node.buildSide().toString() == "BuildLeft":
                ledger["bhj_left"] += 1
        elif name == "InMemoryTableScan":
            ledger["cached_scans"] += 1
            relation = node.relation()
            key = jvm.System.identityHashCode(relation.cacheBuilder())
            if key not in seen:
                seen.add(key)
                todo.append(relation.cachedPlan())
        elif name.startswith("Scan parquet"):
            ledger["scans"] += 1
            pushed = node.metadata().get("PushedFilters")
            ledger["pushed"] += pushed.isDefined() and pushed.get() != "[]"
        elif name.endswith(("InPandas", "InArrow")):
            ledger["pandas"] += 1
        elif name in ("BatchEvalPython", "ArrowEvalPython"):
            ledger["pyrow"] += 1
        for kids in (node.children(), node.subqueries()):
            todo.extend(kids.apply(i) for i in range(kids.size()))
    return ledger


def codegen_compiles(spark) -> int:
    """Classes Spark has generated and compiled in this JVM so far."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def sample(spark, fn, sf_dir: str, group: str) -> tuple[float, dict]:
    """One cold sample of query ``fn`` in job group ``group``: its
    seconds, then its layer numbers and plan ledger, read after the
    clock stops."""
    spark.sparkContext.setJobGroup(group, group)
    compiled = codegen_compiles(spark)
    t0 = time.perf_counter()
    spark.catalog.clearCache()
    tb = time.perf_counter()
    df = fn(spark, sf_dir)
    build_s = time.perf_counter() - tb
    fdf, _ = force(df)
    dt = time.perf_counter() - t0
    layer = {
        "build_s": build_s,
        "codegen_compiles": codegen_compiles(spark) - compiled,
        **catalyst_phases(fdf),
        **plan_ledger(fdf),
    }
    try:
        stats = job_group_stats(spark, group)
    except Py4JJavaError as e:
        print(f"# {group}: no job-group stats: {e.java_exception}", file=sys.stderr)
    else:
        stats["exec_s"] = stats.pop("s")
        layer.update(stats)
    return dt, layer


def print_stages(spark, name: str, group: str) -> None:
    """One stderr line per stage of job group ``group``, saying where
    the group's ``layers`` totals come from: the stage's wall ms and
    its operator scopes from the status store (kept with the UI off),
    or that it was skipped."""
    tracker = spark.sparkContext.statusTracker()
    store = spark.sparkContext._jsc.sc().statusStore()
    jobs = [tracker.getJobInfo(j) for j in tracker.getJobIdsForGroup(group)]
    for sid in sorted({s for j in jobs if j is not None for s in j.stageIds}):
        try:
            sd = store.lastStageAttempt(sid)
            if str(sd.status()) == "SKIPPED":
                print(f"# {name} stage {sid} skipped", file=sys.stderr)
                continue
            ms = sd.completionTime().get().getTime() - sd.submissionTime().get().getTime()
            scopes: list[str] = []
            todo = [store.operationGraphForStage(sid).rootCluster()]
        except Py4JJavaError:
            print(f"# {name} stage {sid} left the status store", file=sys.stderr)
            continue
        while todo:
            kids = todo.pop().childClusters()
            for i in range(kids.size()):
                scopes.append(kids.apply(i).name().strip())
                todo.append(kids.apply(i))
        print(f"# {name} stage {sid} {ms}ms  {' | '.join(dict.fromkeys(scopes))}", file=sys.stderr)


def record(samples, layers, rep_totals, sf: str, reps: int) -> dict:
    """The bench's JSON record. ``layers`` goes before the per-query
    times so a capture that keeps only the end of the line still ends
    with ``queries_median`` and the meta keys (``tools/bench_compare``
    reads such tails)."""
    timings = {n: round(min(s), 4) for n, s in samples.items()}
    medians = {n: round(statistics.median(s), 4) for n, s in samples.items()}
    return {
        "metric": "headline_queries_total",
        "value": round(sum(timings.values()), 4),
        "unit": "sec",
        "layers": {
            n: {
                k: round(statistics.median(r[k] for r in rs if k in r), 4)
                for k in dict.fromkeys(k for r in rs for k in r)
            }
            for n, rs in layers.items()
        },
        "queries": timings,
        "queries_median": medians,
        "median_total": round(sum(medians.values()), 4),
        "sf": sf,
        "reps": reps,
        "rep_totals": rep_totals,
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))

    from aws_csp_datapipeline_spark.session import get_spark
    from aws_csp_datapipeline_spark.plans import registry

    qs = registry.queries()
    names = sys.argv[1:] or [n for n in HEADLINE if n in qs]
    unknown = [n for n in names if n not in qs]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")
    spark = get_spark(
        app_name="bench", retained_stages=(reps * len(names) + 1) * STAGES_PER_SAMPLE
    )

    # Warm-up: touch the session and parquet footers once, not timed.
    force(qs[names[0]](spark, sf_dir))

    samples: dict[str, list[float]] = {n: [] for n in names}
    layers: dict[str, list[dict]] = {n: [] for n in names}
    rep_totals: list[float] = []
    for rep in range(reps):
        rep_total = 0.0
        for name in names:
            group = f"bench-{name}-{rep}"
            dt, layer = sample(spark, qs[name], sf_dir, group)
            rep_total += dt
            samples[name].append(dt)
            layers[name].append(layer)
            if rep == reps - 1:
                rounded = {k: round(v, 3) for k, v in layer.items()}
                print(f"# {name}: {dt:.3f}s {rounded}", file=sys.stderr)
                print_stages(spark, name, group)
        rep_totals.append(round(rep_total, 4))

    # The JSON line is the bench contract; guarantee it is the LAST
    # thing on stdout and flushed (r13, VERDICT r12 item 8: the r11
    # record was captured truncated/unparsed, erasing a whole
    # round-over-round comparison — Spark logs go to stderr, and an
    # explicit flush means a capture that kills the process right
    # after reading the line still has the complete record).
    print(json.dumps(record(samples, layers, rep_totals, sf, reps)), flush=True)


if __name__ == "__main__":
    sys.exit(main())
