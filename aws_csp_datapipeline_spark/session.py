"""SparkSession factory tuned for the target execution profile.

Local mode here (one JVM, N threads) but every default is chosen for
multi-executor scale: AQE on (runtime re-planning, skew-join splitting,
partition coalescing), shuffle partitions sized to cores rather than
the 200 default, Arrow enabled for any Pandas-UDF path, and UTC session
time so timestamp semantics are deployment-independent.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _env_bool(name: str, default: str) -> str:
    """Normalize shell boolean idioms (1/yes/true, 0/no/false) and
    FAIL FAST on anything else — a silently-misread toggle (e.g.
    'on', a typo) would flip a memory-safety knob without the user
    knowing, which is worse than the loud error."""
    raw = os.environ.get(name)
    if raw is None:
        return default
    v = raw.strip().lower()
    if v in ("1", "true", "yes"):
        return "true"
    if v in ("0", "false", "no"):
        return "false"
    raise ValueError(f"{name} must be a boolean (1/0/true/false/yes/no), got {raw!r}")


def get_spark(
    app_name: str = "aws_csp_datapipeline_spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
    retained_stages: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-aware defaults.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` or all local cores. On a
    real cluster the master/memory settings come from spark-submit and
    these builder calls are inert; the sql.* tuning still applies.
    ``retained_stages`` raises the status store's stage limit (Spark's
    default keeps 1,000) for a caller that reads job groups back over
    a long run, such as ``bench.py``.
    """
    if cpus is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS") or "*"
    n_threads = os.cpu_count() or 8 if cpus == "*" else int(cpus)
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", n_threads)
        )

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Floor for AQE's byte-based partition coalescer (r12). The
        # coalescer is blind to per-row COMPUTE cost: stages whose
        # input is kilobytes but whose work is expensive per row —
        # er3's candidate merge-join + banded-levenshtein verify
        # (coalesced to 4 tasks, 1.5 s), pm7's per-session path fold
        # (1 task, 0.75 s) — get serialized onto 1-4 cores whenever
        # the shuffled bytes fall under the default 1 MB
        # minPartitionSize. 256k keeps such stages parallel while
        # still collapsing genuinely tiny exchanges; the A/B swept
        # 64k too (more parallel, but the extra tasks on cheap-per-
        # row stages gave it back: subset total 1.00× vs 256k's
        # 0.87×). Inert at production partition sizes (AQE only
        # coalesces below the advisory size; ≥ MB-scale partitions
        # never touch this floor), so it is a policy default, not a
        # local[32] tune; env-overridable like every scale knob here.
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            os.environ.get("SPARK_GRAFT_AQE_MIN_PARTITION_SIZE", "256k"),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Prefer shuffled-hash over sort-merge when no side broadcasts:
        # hash build skips sorting both sides, measured 7-26% faster on
        # the sf1 fact joins (q3/q5/q9/d10 — SCALE.md "Join strategy").
        # Safe at scale because per-partition build sides stay bounded:
        # shuffle partitions scale with the cluster, AQE splits skewed
        # partitions, and small dims broadcast anyway. Operational
        # caveat (ADVICE r6): shuffled-hash has no sort-spill fallback
        # for the build side, so on memory-constrained or heavily
        # skewed deployments flip SPARK_GRAFT_PREFER_SMJ=true to
        # revert to sort-merge session-wide (SCALE.md "Join strategy").
        .config(
            "spark.sql.join.preferSortMergeJoin",
            _env_bool("SPARK_GRAFT_PREFER_SMJ", default="false"),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # Iterative lanes (pagerank/kcore/LPA/CC) retire a shuffle +
        # a broadcast per round, but their files are only deleted
        # after the driver GCs the dependency objects — with a large
        # driver heap the default 30min periodic GC lets dead shuffle
        # files accumulate for the whole job (gr3 at sf100 overran
        # the disk this way before the broadcast fix). 5min bounds
        # the garbage window at negligible GC cost.
        .config("spark.cleaner.periodicGC.interval", "5min")
        .config("spark.ui.enabled", "false")
    )
    if retained_stages is not None:
        builder = builder.config("spark.ui.retainedStages", str(retained_stages))
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
