"""curation-sf0.01: registry lanes run under the bench.py protocol.

One sample is ``clearCache()``, the registry query function call, and one
forced action that hashes every output column
(``bit_xor(xxhash64(*cols))``), so Catalyst cannot prune work whose
output nobody reads. The seed sets the query order inside each pass.

Outputs are checked outside the timed region: before timing, every
query runs once, its rows are compared with its DuckDB oracle over the
same parquet files, and the hash of that checked result becomes the
value every timed sample must reproduce.
"""

from __future__ import annotations

import glob
import os
import random
import sys
import time
import traceback

import pyarrow.parquet as pq

from layers import EXEC_KEYS, catalyst_phases, cpu_s, job_group_stats, persisted
from stats import median, pass_count

CURATION = [
    "er3_indel_complete_matches",
    "inc3_incremental_semdedup",
]

# Time of one warm pass on 4 cores, which sets how many passes a run
# of ``--seconds`` measures (stats.pass_count).
NOMINAL_PASS_S = 6.5

# Row counts the inputs must have before anything is timed.
SF001_ROWS = {"lineitem": 60_000, "documents": 500, "customer": 1_500}

def table_rows(sf_dir: str, name: str) -> int:
    path = os.path.join(sf_dir, f"{name}.parquet")
    files = sorted(glob.glob(f"{path}/*.parquet")) if os.path.isdir(path) else [path]
    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


def check_rows(sf_dir: str, expected: dict[str, int]) -> None:
    for name, n in expected.items():
        got = table_rows(sf_dir, name)
        if got != n:
            raise RuntimeError(f"{sf_dir}/{name}: {got} rows, expected {n}")


def force(df) -> tuple:
    """Hash every output column into one value; returns (forced plan,
    hash)."""
    from pyspark.sql import functions as F

    fdf = df.agg(F.bit_xor(F.xxhash64(*[F.col(c) for c in df.columns])))
    return fdf, fdf.collect()[0][0]


def duck_rows(sf_dir: str, sql: str) -> tuple[list[str], list[tuple]]:
    import duckdb

    from aws_csp_datapipeline_spark.catalog import TABLES

    con = duckdb.connect()
    try:
        for t in TABLES:
            path = os.path.join(sf_dir, f"{t}.parquet")
            if os.path.isdir(path):
                path = f"{path}/*.parquet"
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        rel = con.sql(sql)
        return list(rel.columns), rel.fetchall()
    finally:
        con.close()


class QueryWorkload:
    def __init__(self, run) -> None:
        self.names, self.run = CURATION, run
        self.ref: dict[str, int | None] = {}
        self.passes: list[float] = []
        self.pass_cpu: list[float] = []
        self.bad_ref: set[str] = set()
        self.samples: dict[str, list[float]] = {n: [] for n in CURATION}
        self.traced: dict[str, list[dict]] = {n: [] for n in CURATION}
        self.attempted = 0
        self.failed = 0
        from tests.conftest import SF_ORACLE

        self.sf_dir = SF_ORACLE

    # ------------------------------------------------------------ inputs

    def generate(self, spark) -> None:
        check_rows(self.sf_dir, SF001_ROWS)

    def warm_up(self, spark) -> None:
        from aws_csp_datapipeline_spark.plans import registry

        force(registry.queries()["a3_total_count"](spark, self.sf_dir))

    def open_inputs(self, spark) -> None:
        from aws_csp_datapipeline_spark.catalog import TABLES, load_table

        for t in TABLES:
            load_table(spark, self.sf_dir, t)

    # ------------------------------------------------------------ checks

    def check(self, spark) -> None:
        """One untimed execution per query, also its warm-up: the result
        is persisted, hashed as a timed sample hashes it (the reference
        every sample must reproduce), collected from the cache and
        compared with the DuckDB oracle over the same parquet files."""
        from aws_csp_datapipeline_spark.plans import registry
        from tests.oracle import _normalize

        qs, oracles = registry.queries(), registry.oracle_sql()
        for name in self.names:
            spark.catalog.clearCache()
            try:
                df = qs[name](spark, self.sf_dir).persist()
                _, self.ref[name] = force(df)
                got = [tuple(r) for r in df.collect()]
                exp_cols, exp = duck_rows(self.sf_dir, oracles[name])
                if sorted(df.columns) != sorted(exp_cols) or _normalize(
                    got, df.columns
                ) != _normalize(exp, exp_cols):
                    raise AssertionError(f"{name}: result differs from its DuckDB oracle")
            except Exception:
                traceback.print_exc()
                self.bad_ref.add(name)
        spark.catalog.clearCache()

    # ------------------------------------------------------------ timing

    def measure(self, spark, seconds: float) -> None:
        """Whole passes, each in a seed-shuffled query order."""
        from aws_csp_datapipeline_spark.plans import registry

        qs = registry.queries()
        rng = random.Random(self.run.seed)
        for _ in range(pass_count(seconds, NOMINAL_PASS_S)):
            t0, c0 = time.perf_counter(), cpu_s()
            order = list(self.names)
            rng.shuffle(order)
            for name in order:
                self._timed(spark, qs[name], name)
            self.passes.append(time.perf_counter() - t0)
            self.pass_cpu.append(cpu_s() - c0)

    def _timed(self, spark, fn, name: str) -> None:
        self.attempted += 1
        try:
            dt, h, layer = self._sample(spark, fn, name, self.run.tracer.enabled)
        except Exception:
            traceback.print_exc()
            self.failed += 1
            return
        if h != self.ref.get(name) or name in self.bad_ref:
            print(f"{name}: sample hash {h} != checked {self.ref.get(name)}", file=sys.stderr)
            self.failed += 1
        self.samples[name].append(dt)
        if layer is not None:
            self.traced[name].append(layer)

    def _sample(self, spark, fn, name: str, traced: bool):
        tracer = self.run.tracer
        if not traced:
            t0 = time.perf_counter()
            spark.catalog.clearCache()
            _, h = force(fn(spark, self.sf_dir))
            return time.perf_counter() - t0, h, None
        t0 = time.perf_counter()
        with tracer.span("sample", request=f"{name}-{self.attempted}"):
            spark.catalog.clearCache()
            gid_b = tracer.job_group(spark, "build")
            with tracer.span("plans.build") as sb:
                df = fn(spark, self.sf_dir)
            gid_e = tracer.job_group(spark, "exec")
            with tracer.span("spark_exec.action"):
                fdf, h = force(df)
            t1 = time.perf_counter()
            spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
            layer = {"build_s": sb.elapsed}
            layer["build_jobs"] = job_group_stats(spark, gid_b)["jobs"]
            layer.update(job_group_stats(spark, gid_e))
            layer.update(catalyst_phases(fdf))
            layer["persisted_rdds"], layer["cached_mb"] = persisted(spark)
            spark.catalog.clearCache()
            layer["leaked_rdds"] = persisted(spark)[0]
            # what tracing adds to the sample: collecting the counts
            layer["overhead_s"] = time.perf_counter() - t1
        return time.perf_counter() - t0, h, layer

    # ------------------------------------------------------------ results

    def latencies(self) -> dict[str, list[float]]:
        return {"latency": [x for n in self.names for x in self.samples[n]]}

    def layer_metrics(self) -> dict[str, float]:
        def per_pass(key: str) -> float:
            return sum(median([t[key] for t in self.traced[n]]) for n in self.names)

        out = {
            "plans.build_s": per_pass("build_s"),
            "plans.build_jobs": per_pass("build_jobs"),
            "spark_sql.analysis_ms": per_pass("analysis_ms"),
            "spark_sql.optimization_ms": per_pass("optimization_ms"),
            "spark_sql.planning_ms": per_pass("planning_ms"),
            "functions.persisted_rdds": per_pass("persisted_rdds"),
            "functions.cached_mb": per_pass("cached_mb"),
            "functions.leaked_rdds": per_pass("leaked_rdds"),
        }
        for k in EXEC_KEYS:
            out[f"spark_exec.{k}"] = per_pass(k)
        exec_s = out["spark_exec.s"]
        out["spark_exec.core_busy"] = (
            out["spark_exec.task_s"] / (exec_s * self.run.cores) if exec_s else 0.0
        )
        out["trace.overhead_s"] = per_pass("overhead_s")
        return out

    def finish(self, spark) -> None:
        pass
