"""tools-api: the reference's own API surface, one closed-loop client.

The client sends its next request as soon as the previous one returns
(no think time) over a ``csp_tools`` table of about 2,000 rows
(FIXTURES.md F-A). The work is a sequence of 10-op blocks with a fixed
mix, shuffled by the seed:

    5 get_tools_envelope(s_no)   1 get_tools_envelope(login)
    1 dashboard()                1 create   1 update   1 soft delete
    1 upload (a 50-row messy CSV: read_messy_csv -> cleaning ->
      serial-key insert)

Every write goes through ``SnapshotStore.mutate``, and the engine is
re-opened on the committed snapshot after it, as an API server would.
A Python model of the table replays the same sequence; each response
(status code, envelope, dashboard datasets) must match the model, and
after timing the whole committed table must equal the model's rows
with contiguous ``s_no``.
"""

from __future__ import annotations

import csv
import json
import os
import random
import sys
import time
import traceback
from collections import Counter

from layers import EXEC_KEYS, cpu_s, job_group_stats
from stats import median, pass_count

BLOCK = {
    "get_s_no": 5,
    "get_login": 1,
    "dashboard": 1,
    "create": 1,
    "update": 1,
    "delete": 1,
    "upload": 1,
}
# Time of one warm block on 4 cores (stats.pass_count).
NOMINAL_BLOCK_S = 8.0
READS = ("get_s_no", "get_login", "dashboard")
WRITES = ("create", "update", "delete")
TABLE_ROWS = 2000
UPLOAD_ROWS = 50

TEAMS = ("FCS", "GCSS", "CMS", "CCS", "Tex", "CESS")
SCRIPTS = ("Script", "Tool", "Dashboard", "Cradle Job", "AI")
REUSE = ("yes", "no", "Yes", "No")
LOGINS = ("aravran", "sasanjay", "mkpatel", "jdoe")
MONTHS = ("Jan", "Feb", "Mar", "Apr", "May", "Jun",
          "Jul", "Aug", "Sep", "Oct", "Nov", "Dec")
COLUMNS = ("s_no", "team_name", "tool_name", "description", "tool_script",
           "created_date", "active_inactive", "can_be_reused_across_csp_teams",
           "login", "is_display")
# An upload carries the table's data columns plus one the table lacks
# (dropped by conform), as the reference's wider sample CSV does.
UPLOAD_COLUMNS = COLUMNS[1:-1] + ("remarks",)


class Rejected(Exception):
    """A 4xx response: the mutation is not committed."""

    def __init__(self, result) -> None:
        super().__init__(result.status)
        self.result = result


# ------------------------------------------------------------ generation


def messy_date(rng: random.Random) -> str:
    r = rng.random()
    if r < 0.3:
        return f"{rng.randint(1, 28)}-{rng.choice(MONTHS)}"
    if r < 0.6:
        return f"{rng.choice(MONTHS)}-{rng.randint(10, 25)}"
    if r < 0.85:
        return str(rng.randint(2012, 2025))
    return rng.choice(("-", "N/A", "NA"))


def description(rng: random.Random, i: int) -> str:
    parts = [f"Tool {i} automates step {rng.randint(1, 99)}, then reports"]
    if rng.random() < 0.3:
        parts.append('the ""weekly"" summary')  # doubled quotes, F-C
    if rng.random() < 0.3:
        parts.append("line one\nline two, with a comma")  # embedded newline
    return " ".join(parts)


def table_row(rng: random.Random, s_no: int, tag: str) -> dict:
    return {
        "s_no": s_no,
        "team_name": rng.choice(TEAMS),
        "tool_name": f"tool-{tag}-{s_no}",
        "description": description(rng, s_no),
        "tool_script": rng.choice(SCRIPTS),
        "created_date": messy_date(rng),
        "active_inactive": rng.choice(("Active", "Active", "Inactive")),
        "can_be_reused_across_csp_teams": rng.choice(REUSE),
        "login": rng.choice(LOGINS),
        "is_display": rng.random() > 0.05,
    }


def upload_rows(rng: random.Random, tag: str) -> list[dict]:
    rows = []
    for i in range(UPLOAD_ROWS):
        rows.append(
            {
                "team_name": rng.choice(TEAMS),
                "tool_name": f"upload-{tag}-{i}",
                "description": description(rng, i) if rng.random() < 0.8 else "N/A",
                "tool_script": rng.choice(SCRIPTS + ("N/A",)),
                "created_date": messy_date(rng),
                "active_inactive": rng.choice(("Active", "Inactive")),
                # case and trailing-space drift (Sample_Input.csv:57)
                "can_be_reused_across_csp_teams": rng.choice(REUSE + ("Yes ", " no")),
                "login": rng.choice(LOGINS + ("NA",)),
                "remarks": "N/A",
            }
        )
    return rows


def write_csv(path: str, rows: list[dict]) -> None:
    with open(path, "w", newline="") as fh:
        w = csv.DictWriter(fh, fieldnames=UPLOAD_COLUMNS, quoting=csv.QUOTE_MINIMAL)
        w.writeheader()
        w.writerows(rows)


def tree_mb(root: str) -> float:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(root) for f in files
    ) / 2**20


# ------------------------------------------------------------ the model


def clean_date(v: str | None) -> str | None:
    """Python twin of cleaning.parse_messy_date for generated values."""
    if v is None:
        return None
    s = v.strip()
    if s.isdigit() and len(s) == 4:
        return f"{s}-01-01"
    a, _, b = s.partition("-")
    if a.isdigit() and b in MONTHS:
        return f"2000-{MONTHS.index(b) + 1:02d}-{int(a):02d}"
    if a in MONTHS and b.isdigit():
        return f"{2000 + int(b)}-{MONTHS.index(a) + 1:02d}-01"
    return None


def clean_upload_row(raw: dict) -> dict:
    """Python twin of the upload's cleaning steps."""
    from aws_csp_datapipeline_spark.operators.cleaning import NULL_SPELLINGS

    row = {
        k: (None if raw[k].strip() in NULL_SPELLINGS else raw[k])
        for k in COLUMNS[1:-1]
    }
    reuse = row["can_be_reused_across_csp_teams"]
    row["can_be_reused_across_csp_teams"] = reuse.strip().lower() if reuse else None
    row["created_date"] = clean_date(row["created_date"])
    return row


def _spark_order(row: dict) -> tuple:
    # Window.orderBy(all columns) ascending: NULLs first
    return tuple((row[c] is not None, row[c] or "") for c in COLUMNS[1:-1])


class ToolsModel:
    def __init__(self, rows: list[dict]) -> None:
        self.rows = {r["s_no"]: dict(r) for r in rows}

    def visible(self) -> list[dict]:
        return [self.rows[k] for k in sorted(self.rows) if self.rows[k]["is_display"]]

    def next_key(self) -> int:
        return max(self.rows, default=0) + 1

    def create(self, rec: dict) -> tuple[int, int | None]:
        if any(r["tool_name"] == rec["tool_name"] for r in self.rows.values()):
            return 400, None
        k = self.next_key()
        self.rows[k] = {**{c: rec.get(c) for c in COLUMNS}, "s_no": k, "is_display": True}
        return 201, k

    def update(self, k: int, updates: dict) -> int:
        if k not in self.rows:
            return 404
        self.rows[k].update(updates)
        return 200

    def delete(self, k: int) -> int:
        if k not in self.rows:
            return 404
        self.rows[k]["is_display"] = False
        return 200

    def upload(self, cleaned: list[dict]) -> None:
        k = self.next_key()
        for i, r in enumerate(sorted(cleaned, key=_spark_order)):
            self.rows[k + i] = {**r, "s_no": k + i, "is_display": True}

    def envelope(self, s_no: int | None = None, login: str | None = None) -> dict:
        rows = [
            r for r in self.visible()
            if (s_no is None or r["s_no"] == s_no) and (login is None or r["login"] == login)
        ]
        return {
            "total_count": len(rows),
            "records": [{k: v for k, v in r.items() if v is not None} for r in rows[:150]],
        }

    def dashboard(self) -> dict:
        v = self.visible()
        teams = Counter(r["team_name"] for r in v)
        return {
            "by_tool_script": Counter(r["tool_script"] for r in v),
            "by_team": teams,
            "by_reused": Counter(r["can_be_reused_across_csp_teams"] for r in v),
            "team_by_active": {
                t: (
                    sum(1 for r in v if r["team_name"] == t and r["active_inactive"] == "Active"),
                    sum(1 for r in v if r["team_name"] == t and r["active_inactive"] == "Inactive"),
                )
                for t in teams
            },
            "detail": len(v),
        }


# ------------------------------------------------------------ workload


class ToolsApiWorkload:
    def __init__(self, run) -> None:
        self.run = run
        self.rng = random.Random(run.seed)
        self.samples: dict[str, list[float]] = {k: [] for k in BLOCK}
        self.traced: dict[str, list[dict]] = {k: [] for k in BLOCK}
        self.store_calls: dict[str, list[float]] = {"read": [], "commit": []}
        self.mb_written: list[float] = []
        self.retries = 0
        self.overhead_s = 0.0  # time spent on tracing inside the current op
        self.attempted = 0
        self.failed = 0
        self.n_uploads = 0
        self.passes: list[float] = []
        self.pass_cpu: list[float] = []

    # ------------------------------------------------------------ inputs

    def generate(self, spark) -> None:
        """The seeded table, committed as the store's first snapshot. A
        set-up-only run opens the table its parent run generated."""
        from aws_csp_datapipeline_spark.engine import CSP_TOOLS_SCHEMA
        from aws_csp_datapipeline_spark.sources.snapshot_store import SnapshotStore

        if self.run.inputs_from:
            self.store_root = os.path.join(self.run.inputs_from, "csp_tools")
            return
        rows = [table_row(self.rng, i, f"s{self.run.seed}") for i in range(1, TABLE_ROWS + 1)]
        self.model = ToolsModel(rows)
        store = SnapshotStore(os.path.join(self.run.run_dir, "csp_tools"))
        df = spark.createDataFrame([tuple(r[c] for c in COLUMNS) for r in rows], CSP_TOOLS_SCHEMA)
        store.mutate(spark, lambda _: df)
        self.store_root = store.root

    def warm_up(self, spark) -> None:
        """One read over an empty table: it needs no inputs, so set-up
        warms up before they are generated."""
        from aws_csp_datapipeline_spark.engine import CSP_TOOLS_SCHEMA, CspToolsEngine

        empty = spark.createDataFrame([], CSP_TOOLS_SCHEMA)
        CspToolsEngine(spark, empty).get_tools_envelope(s_no=1)

    def open_inputs(self, spark) -> None:
        from aws_csp_datapipeline_spark.engine import CspToolsEngine
        from aws_csp_datapipeline_spark.sources.snapshot_store import SnapshotStore

        self.store = SnapshotStore(self.store_root)
        self.engine = CspToolsEngine(spark, self.store.read(spark))
        if self.run.tracer.enabled:
            self._wrap_store()

    def _wrap_store(self) -> None:
        """Time SnapshotStore.read/commit as mutate calls them."""
        from aws_csp_datapipeline_spark.sources.snapshot_store import ConcurrentWriteError

        store, calls = self.store, self.store_calls
        read, commit = store.read, store.commit

        def timed_read(*a, **kw):
            with self.run.tracer.span("snapshot_store.read") as s:
                out = read(*a, **kw)
            calls["read"].append(s.elapsed)
            return out

        def timed_commit(df, expected_version):
            t0 = time.perf_counter()
            before = tree_mb(store.root)
            self.overhead_s += time.perf_counter() - t0
            try:
                with self.run.tracer.span("snapshot_store.commit") as s:
                    v = commit(df, expected_version)
            except ConcurrentWriteError:
                self.retries += 1
                raise
            t0 = time.perf_counter()
            calls["commit"].append(s.elapsed)
            self.mb_written.append(tree_mb(store.root) - before)
            self.overhead_s += time.perf_counter() - t0
            return v

        store.read, store.commit = timed_read, timed_commit

    def check(self, spark) -> None:
        """Untimed warm-up block: one op of each kind, then one request of
        each kind the API must refuse (duplicate create -> 400, update
        and delete of an unknown s_no -> 404). Each is checked against
        the model like a timed op. Timed blocks send only requests that
        succeed, so each op kind has one cost."""
        for kind in BLOCK:
            self._op(spark, kind, timed=False)
        for kind in ("create", "update", "delete"):
            self._op(spark, kind, timed=False, refused=True)

    # ------------------------------------------------------------ ops

    def measure(self, spark, seconds: float) -> None:
        """Whole blocks, each in a seed-shuffled op order."""
        for _ in range(pass_count(seconds, NOMINAL_BLOCK_S)):
            t0, c0 = time.perf_counter(), cpu_s()
            block = [k for k, n in BLOCK.items() for _ in range(n)]
            self.rng.shuffle(block)
            for kind in block:
                self._op(spark, kind, timed=True)
            self.passes.append(time.perf_counter() - t0)
            self.pass_cpu.append(cpu_s() - c0)

    def _op(self, spark, kind: str, timed: bool, refused: bool = False) -> None:
        """Send one request and check it against the model."""
        traced = timed and self.run.tracer.enabled
        args = self._args(kind, refused)
        self.attempted += 1
        self.overhead_s = 0.0
        gid = self.run.tracer.job_group(spark, kind) if traced else None
        try:
            with self.run.tracer.span(kind, request=f"{kind}-{self.attempted}") as s:
                result, layer = getattr(self, "_" + kind)(spark, *args)
            ok = self._verify(kind, args, result)
        except Exception:
            traceback.print_exc()
            ok = False
        finally:
            if traced:
                spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        if not ok:
            print(f"tools-api: {kind}{args!r} disagrees with the model", file=sys.stderr)
            self.failed += 1
            return
        if not timed:
            return
        self.samples[kind].append(s.elapsed)
        if traced:
            t0 = time.perf_counter()
            layer.update(job_group_stats(spark, gid))
            layer["overhead_s"] = self.overhead_s + time.perf_counter() - t0
            self.traced[kind].append(layer)

    def _args(self, kind: str, refused: bool = False) -> tuple:
        """Request parameters, drawn from the seed and the model (so a
        given seed always sends the same requests). ``refused`` asks
        for a write the API must reject."""
        rng, keys = self.rng, sorted(self.model.rows)
        missing = max(keys) + 1000
        if kind == "get_s_no":
            return (rng.choice(keys) if rng.random() < 0.9 else missing,)
        if kind == "get_login":
            return (rng.choice(LOGINS),)
        if kind == "create":
            if refused:
                return ({"tool_name": self.model.rows[rng.choice(keys)]["tool_name"]},)
            rec = table_row(rng, self.model.next_key(), f"c{self.run.seed}-{rng.random():.9f}")
            return ({c: rec[c] for c in COLUMNS[1:-1]},)
        if kind == "update":
            return (missing if refused else rng.choice(keys),
                    {"active_inactive": rng.choice(("Active", "Inactive")),
                     "tool_script": rng.choice(SCRIPTS)})
        if kind == "delete":
            return (missing if refused else rng.choice(keys),)
        if kind == "upload":
            self.n_uploads += 1
            raw = upload_rows(rng, f"u{self.run.seed}-{self.n_uploads}")
            path = os.path.join(self.run.run_dir, f"upload-{self.n_uploads}.csv")
            write_csv(path, raw)
            return (path, raw)
        return ()  # dashboard

    def _get_s_no(self, spark, k):
        with self.run.tracer.span("engine.read") as s:
            out = json.loads(self.engine.get_tools_envelope(s_no=k))
        return out, {"engine_s": s.elapsed}

    def _get_login(self, spark, login):
        with self.run.tracer.span("engine.read") as s:
            out = json.loads(self.engine.get_tools_envelope(login=login))
        return out, {"engine_s": s.elapsed}

    def _dashboard(self, spark):
        with self.run.tracer.span("engine.dashboard") as s:
            out = {k: v.collect() for k, v in self.engine.dashboard().items()}
        return out, {"engine_s": s.elapsed}

    def _mutate(self, spark, call) -> tuple:
        """One write through SnapshotStore.mutate; a 4xx result
        commits nothing. Re-opens the engine on the new snapshot."""
        from aws_csp_datapipeline_spark.engine import CspToolsEngine

        results, engine_s = [], []

        def fn(snap):
            with self.run.tracer.span("engine.mutate") as s:
                res = call(CspToolsEngine(spark, snap))
            engine_s.append(s.elapsed)
            results.append(res)
            if res.status >= 400:
                raise Rejected(res)
            return res.engine.table

        try:
            self.store.mutate(spark, fn)
        except Rejected:
            pass
        else:
            self.engine = CspToolsEngine(spark, self.store.read(spark))
        res = results[-1]
        return (res.status, res.s_no), {"engine_s": sum(engine_s)}

    def _create(self, spark, rec):
        return self._mutate(spark, lambda engine: engine.create_tool(rec))

    def _update(self, spark, k, updates):
        return self._mutate(spark, lambda engine: engine.update_tool(k, updates))

    def _delete(self, spark, k):
        return self._mutate(spark, lambda engine: engine.delete_tool(k))

    def _upload(self, spark, path, raw):
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        from aws_csp_datapipeline_spark.engine import CSP_TOOLS_SCHEMA, CspToolsEngine
        from aws_csp_datapipeline_spark.operators import cleaning
        from aws_csp_datapipeline_spark.operators import crud as M
        from aws_csp_datapipeline_spark.sources.csv_source import read_messy_csv

        schema = T.StructType([T.StructField(c, T.StringType()) for c in UPLOAD_COLUMNS])
        with self.run.tracer.span("csv_source.read_clean") as s:
            df = cleaning.normalize_nulls(read_messy_csv(spark, path, schema=schema))
            df = df.withColumn(
                "can_be_reused_across_csp_teams",
                cleaning.normalize_enum(F.col("can_be_reused_across_csp_teams")),
            ).withColumn(
                "created_date", cleaning.parse_messy_date(F.col("created_date")).cast("string")
            )
            batch = cleaning.conform(df, CSP_TOOLS_SCHEMA).withColumns(
                {"s_no": F.lit(0).cast("long"), "is_display": F.lit(True)}
            )
            n = batch.count()
        layer = {"read_clean_s": s.elapsed, "rows": n}
        if n != len(raw):
            return (400, n), layer
        self.store.mutate(spark, lambda snap: M.insert_with_serial_keys(snap, batch, "s_no"))
        self.engine = CspToolsEngine(spark, self.store.read(spark))
        return (201, n), layer

    # ------------------------------------------------------------ checks

    def _verify(self, kind: str, args: tuple, result) -> bool:
        m = self.model
        if kind == "get_s_no":
            return result == m.envelope(s_no=args[0])
        if kind == "get_login":
            return result == m.envelope(login=args[0])
        if kind == "dashboard":
            return self._dashboard_matches(result, m.dashboard())
        if kind == "create":
            return result == m.create(args[0])
        if kind == "update":
            return result[0] == m.update(*args)
        if kind == "delete":
            return result[0] == m.delete(*args)
        if kind == "upload":
            m.upload([clean_upload_row(r) for r in args[1]])
            return result == (201, UPLOAD_ROWS)
        raise ValueError(kind)

    @staticmethod
    def _dashboard_matches(got: dict, exp: dict) -> bool:
        def counts(rows, key):
            return Counter({r[key]: r["cnt"] for r in rows})

        return (
            counts(got["by_tool_script"], "tool_script") == exp["by_tool_script"]
            and counts(got["by_team"], "team_name") == exp["by_team"]
            and counts(got["by_reused"], "can_be_reused_across_csp_teams") == exp["by_reused"]
            and {r["team_name"]: (r["Active"], r["Inactive"]) for r in got["team_by_active"]}
            == exp["team_by_active"]
            and len(got["detail"]) == exp["detail"]
        )

    def finish(self, spark) -> None:
        """After timing: the committed table must equal the model, with
        contiguous s_no. A mismatch fails every op of the run."""
        snap = self.store.read(spark)
        got = {r["s_no"]: r.asDict() for r in snap.collect()}
        keys = sorted(got)
        if got != self.model.rows or keys != list(range(1, len(keys) + 1)):
            print("tools-api: committed table differs from the model", file=sys.stderr)
            self.failed = self.attempted

    # ------------------------------------------------------------ results

    def latencies(self) -> dict[str, list[float]]:
        s = self.samples
        return {
            "latency": [x for k in BLOCK for x in s[k]],
            "read": [x for k in READS for x in s[k]],
            "write": [x for k in WRITES for x in s[k]],
            "upload": list(s["upload"]),
        }

    def layer_metrics(self) -> dict[str, float]:
        t = self.traced

        def vals(kinds, key):
            return [x[key] for k in kinds for x in t[k] if key in x]

        def per_pass(key: str) -> float:
            return sum(BLOCK[k] * median([x[key] for x in t[k]]) for k in BLOCK if t[k])

        n_ops = sum(len(v) for v in t.values())
        read_clean = vals(["upload"], "read_clean_s")
        out = {
            "engine.read_s": median(vals(["get_s_no", "get_login"], "engine_s")),
            "engine.dashboard_s": median(vals(["dashboard"], "engine_s")),
            "engine.mutate_s": median(vals(WRITES, "engine_s")),
            "engine.jobs_per_op": sum(vals(BLOCK, "jobs")) / n_ops if n_ops else 0.0,
            "snapshot_store.read_s": median(self.store_calls["read"]),
            "snapshot_store.commit_s": median(self.store_calls["commit"]),
            "snapshot_store.mb_written": median(self.mb_written),
            "snapshot_store.retries": float(self.retries),
            "csv_source.read_clean_s": median(read_clean),
            "csv_source.rows_per_s": median(
                [x["rows"] / x["read_clean_s"] for x in t["upload"]]
            ),
        }
        for k in EXEC_KEYS:
            out[f"spark_exec.{k}"] = per_pass(k)
        exec_s = out["spark_exec.s"]
        out["spark_exec.core_busy"] = (
            out["spark_exec.task_s"] / (exec_s * self.run.cores) if exec_s else 0.0
        )
        out["trace.overhead_s"] = per_pass("overhead_s")
        return out
