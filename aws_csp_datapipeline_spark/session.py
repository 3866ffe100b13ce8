"""SparkSession factory tuned for the target execution profile.

Local mode here (one JVM, N threads) but every default is chosen for
multi-executor scale: AQE on (runtime re-planning, skew-join splitting,
partition coalescing), shuffle partitions sized to cores rather than
the 200 default, Arrow enabled for any Pandas-UDF path, and UTC session
time so timestamp semantics are deployment-independent.

Settings: ``$SPARK_GRAFT_CPUS`` (local cores, default all) and
``$SPARK_GRAFT_DRIVER_MEM`` (default 8g) size the launch; ``get_spark``
takes only ``app_name`` and ``retained_stages``. Every SQL tuning value
here is a constant: shuffle partitions equal the core count, the AQE
coalescing floor is 256k and sort-merge join is not preferred. They
are Spark SQL confs, so a deployment changes them on the live session
with ``spark.conf.set``.

Cold start: the driver JVM maps a dynamic CDS archive (JEP 350) of the
Spark/Catalyst/Arrow classes instead of loading and verifying them
from the jars. The archive is built on this machine by the first JVM
that finds none, kept under ``$XDG_CACHE_HOME/spark-graft/`` (default
``~/.cache/spark-graft/``) and keyed on the JDK, the jar listing and
the driver memory; deleting that directory only costs the next start
a rebuild. See ``ClassArchive``.

Generated classes: Spark compiles one class per whole-stage-codegen
subtree and keeps them in an LRU cache keyed by the generated source
(``spark.sql.codegen.cache.maxEntries``, default 100). One er3 + inc3
curation pass generates 111 distinct classes and the 64-query
``bench.py`` headline 954 per rep at sf0.01, so at the default every
pass evicted its own classes and recompiled ~88 (the headline ~1,170
per rep at sf0.1). ``CODEGEN_CACHE_ENTRIES`` = 2,000 holds that working set
with headroom: a repeated pass compiles none. After a sweep of every
registry query at sf0.01 in one session (296 queries, 3,116 classes
compiled), metaspace held 85 MB and the JVM's peak RSS was 5.1 GB; at
100 entries the same sweep compiled 4,323 classes with 70 MB of
metaspace and a 4.0 GB peak (one run each, side by side on 4 cores,
8 GB driver heap).
"""

from __future__ import annotations

import atexit
import hashlib
import os
import re
import shutil
import sys
import threading
import uuid
from contextlib import contextmanager, suppress

from py4j.protocol import Py4JError
from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

# First word of a HotSpot dynamic archive (CDS_DYNAMIC_ARCHIVE_MAGIC),
# written in the host's byte order.
_ARCHIVE_MAGIC = (0xF00BABA8).to_bytes(4, sys.byteorder)
# Launcher inputs that put a directory on the driver classpath; the JVM
# refuses to dump or map an archive with a non-empty one there.
_CLASSPATH_ENV = (
    "SPARK_DIST_CLASSPATH", "SPARK_PREPEND_CLASSES", "HADOOP_CONF_DIR", "YARN_CONF_DIR",
)
# The JVM prints its CDS warnings on stdout by default, where they would
# follow a caller's own last line; route its log and tty to stderr. A
# dump also warns once per class it cannot archive (hundreds: signed
# jars, generated accessors), so it keeps only CDS errors.
_JVM_LOG = "-Xlog:disable -Xlog:all=warning{}:stderr -XX:+DisplayVMOutputToStderr"
_TMP = re.compile(r"\.(\d+)-[0-9a-f]{8}\.tmp$")
# Upper bound on how long interpreter exit waits for a dumping JVM.
_EXIT_WAIT_S = 120
# Entries in Spark's generated-class cache (module docstring).
CODEGEN_CACHE_ENTRIES = 2000


def _cache_dir() -> str:
    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(os.path.expanduser("~"), ".cache")
    return os.path.join(base, "spark-graft")


def _java_home() -> str | None:
    home = os.environ.get("JAVA_HOME")
    if home:
        return home
    java = shutil.which("java")
    return os.path.dirname(os.path.dirname(os.path.realpath(java))) if java else None


def archive_key(java_home: str, jars_dir: str, driver_memory: str) -> str:
    """Digest of what an archive is only valid for: the JDK (its path
    and ``release`` file), the jars (their dir and listing: names,
    sizes, mtimes — the JVM itself rejects an archive whose jars
    changed size or mtime) and the driver memory. Any change names a
    new archive."""
    h = hashlib.sha256(f"{java_home}\0{jars_dir}\0{driver_memory}\n".encode())
    with open(os.path.join(java_home, "release"), "rb") as fh:
        h.update(fh.read())
    for e in sorted(os.scandir(jars_dir), key=lambda e: e.name):
        st = e.stat()
        h.update(f"{e.name}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()[:16]


def _is_archive(path: str) -> bool:
    try:
        with open(path, "rb") as fh:
            return fh.read(4) == _ARCHIVE_MAGIC
    except OSError:
        return False


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def sweep_temps(cache_dir: str) -> None:
    """Remove the temp archives whose writing process is gone."""
    for name in os.listdir(cache_dir):
        m = _TMP.search(name)
        if m and not _pid_alive(int(m.group(1))):
            with suppress(FileNotFoundError):
                os.unlink(os.path.join(cache_dir, name))


def _conf_is_templates_only(conf_dir: str) -> bool:
    try:
        names = os.listdir(conf_dir)
    except FileNotFoundError:
        return True
    return all(n.endswith(".template") for n in names)


class ClassArchive:
    """The driver JVM's class archive for one launch.

    ``plan`` returns None when the launch must stay plain: a directory
    would sit on the classpath (a conf dir holding a real file, or one
    of ``_CLASSPATH_ENV``), or no JDK/jars to key on. Otherwise the
    launch either maps the published archive (``-XX:SharedArchiveFile``)
    or, when there is none, dumps one at JVM exit into a unique temp
    file (``-XX:ArchiveClassesAtExit``) that ``publish_after`` promotes
    with ``os.replace`` once that JVM has exited 0. Nothing else is
    ever written at the archive path, so the JVM never maps a partial
    file. The conf dir on the classpath is swapped, during the launch
    only, for an empty one: it held templates alone, which Spark never
    reads.
    """

    def __init__(self, path: str, empty_conf: str, dump_to: str | None) -> None:
        self.path, self.empty_conf, self.dump_to = path, empty_conf, dump_to

    @classmethod
    def plan(cls, driver_memory: str) -> "ClassArchive | None":
        if any(os.environ.get(k) for k in _CLASSPATH_ENV):
            return None
        spark_home = _find_spark_home()
        conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
        java_home = _java_home()
        if not (java_home and _conf_is_templates_only(conf_dir)):
            return None
        try:
            key = archive_key(java_home, os.path.join(spark_home, "jars"), driver_memory)
            cache = _cache_dir()
            empty_conf = os.path.join(cache, "empty-conf")
            os.makedirs(empty_conf, exist_ok=True)
            sweep_temps(cache)
        except OSError:
            return None
        path = os.path.join(cache, f"driver-{key}.jsa")
        if _is_archive(path):
            return cls(path, empty_conf, None)
        return cls(path, empty_conf, f"{path}.{os.getpid()}-{uuid.uuid4().hex[:8]}.tmp")

    def java_options(self) -> str:
        if self.dump_to:
            return f"-XX:ArchiveClassesAtExit={self.dump_to} " + _JVM_LOG.format(",cds*=error")
        return f"-XX:SharedArchiveFile={self.path} " + _JVM_LOG.format("")

    @contextmanager
    def launch_env(self):
        old = os.environ.get("SPARK_CONF_DIR")
        os.environ["SPARK_CONF_DIR"] = self.empty_conf
        try:
            yield
        finally:
            if old is None:
                del os.environ["SPARK_CONF_DIR"]
            else:
                os.environ["SPARK_CONF_DIR"] = old

    def promote(self, returncode: int) -> None:
        """Publish the dump if its JVM exited 0 and it is an archive;
        otherwise drop it."""
        if returncode == 0 and _is_archive(self.dump_to):
            with suppress(OSError):
                os.replace(self.dump_to, self.path)
                return
        with suppress(OSError):
            os.unlink(self.dump_to)

    def launch(self, builder: SparkSession.Builder) -> SparkSession:
        """``builder.getOrCreate()`` with the archive's JVM options and
        conf dir; a dumping launch then publishes after its JVM exits."""
        builder = builder.config("spark.driver.extraJavaOptions", self.java_options())
        with self.launch_env():
            spark = builder.getOrCreate()
        if self.dump_to:
            self.publish_after(SparkContext._gateway.proc)
        return spark

    def publish_after(self, proc) -> None:
        """Promote the dump as soon as the gateway JVM ``proc`` exits: a
        daemon thread waits on it. At interpreter exit a JVM still up is
        stopped (the context first, as pyspark's shell does at exit, then
        EOF on the JVM's stdin, as when the interpreter is gone) and
        waited for, so a script that never stops it still publishes."""
        waiter = threading.Thread(
            target=lambda: self.promote(proc.wait()), name="cds-publish", daemon=True
        )
        waiter.start()

        def at_exit() -> None:
            if not waiter.is_alive():
                return
            sc = SparkContext._active_spark_context
            if sc is not None:
                with suppress(Py4JError):
                    sc.stop()
            with suppress(OSError, ValueError):
                proc.stdin.close()
            waiter.join(_EXIT_WAIT_S)

        atexit.register(at_exit)


def get_spark(
    app_name: str = "aws_csp_datapipeline_spark",
    retained_stages: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-aware defaults.

    Cores come from ``$SPARK_GRAFT_CPUS`` (default: all local cores)
    and the driver heap from ``$SPARK_GRAFT_DRIVER_MEM`` (default 8g).
    On a real cluster the master/memory settings come from
    spark-submit and these builder calls are inert; the sql.* tuning
    still applies, and a deployment changes any of it at runtime with
    ``spark.conf.set``. ``retained_stages`` raises the status store's
    stage limit (Spark's default keeps 1,000) for a caller that reads
    job groups back over a long run, such as ``bench.py``.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or "*"
    n_threads = os.cpu_count() or 8 if cpus == "*" else int(cpus)

    driver_memory = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n_threads))
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
        # local[32] tune. Kept on 4 cores too: without it perfbench
        # curation wall_s went 2.16 -> 2.34 s median (6 pairs).
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "256k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Prefer shuffled-hash over sort-merge when no side broadcasts:
        # hash build skips sorting both sides, measured 7-26% faster on
        # the sf1 fact joins (q3/q5/q9/d10 — SCALE.md "Join strategy").
        # Safe at scale because per-partition build sides stay bounded:
        # shuffle partitions scale with the cluster, AQE splits skewed
        # partitions, and small dims broadcast anyway. Operational
        # caveat (ADVICE r6): shuffled-hash has no sort-spill fallback
        # for the build side, so memory-constrained or heavily skewed
        # deployments revert to sort-merge session-wide with
        # spark.conf.set("spark.sql.join.preferSortMergeJoin", "true")
        # (SCALE.md "Join strategy").
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.driver.memory", driver_memory)
        # Iterative lanes (pagerank/kcore/LPA/CC) retire a shuffle +
        # a broadcast per round, but their files are only deleted
        # after the driver GCs the dependency objects — with a large
        # driver heap the default 30min periodic GC lets dead shuffle
        # files accumulate for the whole job (gr3 at sf100 overran
        # the disk this way before the broadcast fix). 5min bounds
        # the garbage window at negligible GC cost.
        .config("spark.cleaner.periodicGC.interval", "5min")
        .config("spark.ui.enabled", "false")
        # Generated-class cache sized to the working set (module
        # docstring): at Spark's default of 100 one er3 + inc3 pass
        # (111 classes) evicts itself and every pass recompiles ~88.
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    if retained_stages is not None:
        builder = builder.config("spark.ui.retainedStages", str(retained_stages))
    archive = None
    if SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        archive = ClassArchive.plan(driver_memory)  # this call launches the JVM
    spark = builder.getOrCreate() if archive is None else archive.launch(builder)
    spark.sparkContext.setLogLevel("WARN")
    return spark
