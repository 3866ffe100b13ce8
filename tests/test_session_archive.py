"""The driver JVM's class archive (``session.ClassArchive``): its key,
its publication and when a launch stays plain. All but the last test
run no JVM."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

from aws_csp_datapipeline_spark import session
from aws_csp_datapipeline_spark.session import ClassArchive, archive_key, sweep_temps

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MAGIC = (0xF00BABA8).to_bytes(4, sys.byteorder)


@pytest.fixture
def install(tmp_path, monkeypatch):
    """A fake JDK and Spark home whose conf dir holds only templates,
    with the archive cache under ``tmp_path``."""
    java_home, spark_home = tmp_path / "jdk", tmp_path / "spark"
    (java_home).mkdir()
    (java_home / "release").write_text('JAVA_VERSION="17.0.20"\n')
    (spark_home / "jars").mkdir(parents=True)
    (spark_home / "jars" / "a.jar").write_bytes(b"x" * 10)
    (spark_home / "conf").mkdir()
    (spark_home / "conf" / "spark-defaults.conf.template").write_text("")
    monkeypatch.setenv("JAVA_HOME", str(java_home))
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    for k in session._CLASSPATH_ENV:
        monkeypatch.delenv(k, raising=False)
    monkeypatch.setattr(session, "_find_spark_home", lambda: str(spark_home))
    return java_home, spark_home


def dead_pid() -> int:
    p = subprocess.Popen([sys.executable, "-c", ""])
    p.wait()
    return p.pid


def test_key_follows_jdk_jars_and_driver_memory(install):
    java_home, spark_home = install
    jars = spark_home / "jars"

    def key(memory="8g"):
        return archive_key(str(java_home), str(jars), memory)

    keys = [key()]
    assert key() == keys[0]
    keys.append(key("4g"))
    (jars / "a.jar").write_bytes(b"x" * 11)  # same name, new size
    keys.append(key())
    os.utime(jars / "a.jar", ns=(0, 10**9))  # same size, new mtime
    keys.append(key())
    (jars / "b.jar").write_bytes(b"")  # a new name
    keys.append(key())
    (java_home / "release").write_text('JAVA_VERSION="17.0.21"\n')
    keys.append(key())
    assert len(set(keys)) == len(keys)


def test_plan_dumps_when_missing_and_maps_when_published(install):
    first = ClassArchive.plan("8g")
    assert first.dump_to and not os.path.exists(first.path)
    assert "-XX:ArchiveClassesAtExit=" + first.dump_to in first.java_options()
    with open(first.dump_to, "wb") as fh:
        fh.write(MAGIC + b"\0" * 64)
    first.promote(0)
    assert not os.path.exists(first.dump_to)
    again = ClassArchive.plan("8g")
    assert again.path == first.path and again.dump_to is None
    assert "-XX:SharedArchiveFile=" + again.path in again.java_options()
    # every launch with CDS logs to stderr, never to stdout
    assert "-Xlog:disable" in again.java_options()


@pytest.mark.parametrize(
    "returncode, content",
    [(0, MAGIC[:2]), (0, b""), (1, MAGIC + b"\0" * 64), (-9, MAGIC + b"\0" * 64)],
    ids=["truncated", "empty", "writer-failed", "writer-killed"],
)
def test_unsafe_dump_is_dropped_not_promoted(install, returncode, content):
    plan = ClassArchive.plan("8g")
    with open(plan.dump_to, "wb") as fh:
        fh.write(content)
    plan.promote(returncode)
    assert not os.path.exists(plan.dump_to)
    assert not os.path.exists(plan.path)
    assert ClassArchive.plan("8g").dump_to  # the next launch dumps again


def test_leftover_temp_is_swept_and_a_live_writers_kept(install, tmp_path):
    plan = ClassArchive.plan("8g")
    cache = os.path.dirname(plan.path)
    leftover = f"{plan.path}.{dead_pid()}-0123abcd.tmp"
    live = f"{plan.path}.{os.getpid()}-0123abcd.tmp"
    for p in (leftover, live):
        with open(p, "wb") as fh:
            fh.write(MAGIC[:3])
    sweep_temps(cache)
    assert not os.path.exists(leftover)
    assert os.path.exists(live)
    assert not os.path.exists(plan.path)


def test_a_foreign_file_at_the_archive_path_is_not_mapped(install):
    path = ClassArchive.plan("8g").path
    with open(path, "wb") as fh:
        fh.write(b"not an archive")
    assert ClassArchive.plan("8g").dump_to


def test_real_conf_file_keeps_the_plain_launch(install, monkeypatch):
    _, spark_home = install
    (spark_home / "conf" / "spark-defaults.conf").write_text("spark.foo 1\n")
    assert ClassArchive.plan("8g") is None
    monkeypatch.setenv("SPARK_CONF_DIR", str(spark_home / "conf"))
    assert ClassArchive.plan("8g") is None
    assert os.environ["SPARK_CONF_DIR"] == str(spark_home / "conf")


def test_templates_only_conf_is_swapped_for_an_empty_dir_during_launch(install, monkeypatch):
    _, spark_home = install
    monkeypatch.setenv("SPARK_CONF_DIR", str(spark_home / "conf"))
    plan = ClassArchive.plan("8g")
    with plan.launch_env():
        assert os.environ["SPARK_CONF_DIR"] == plan.empty_conf
        assert os.listdir(plan.empty_conf) == []
    assert os.environ["SPARK_CONF_DIR"] == str(spark_home / "conf")


def test_classpath_dir_env_keeps_the_plain_launch(install, monkeypatch, tmp_path):
    monkeypatch.setenv("HADOOP_CONF_DIR", str(tmp_path))
    assert ClassArchive.plan("8g") is None


SCRIPT = """
import sys
from aws_csp_datapipeline_spark.session import get_spark
spark = get_spark(app_name="archive-test")
spark.range(10).count()
if sys.argv[1] == "option":
    jvm = spark._jvm
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.com.sun.management.HotSpotDiagnosticMXBean._java_lang_class
    )
    print(bean.getVMOption("SharedArchiveFile").getValue())
print("SENTINEL")
"""


def test_first_interpreter_publishes_and_the_second_maps(tmp_path):
    """Two fresh interpreters on an empty cache, neither stopping its
    JVM: the first dumps and publishes one archive before it exits,
    the second's JVM runs with it. Neither prints a JVM line on
    stdout."""
    env = dict(
        os.environ,
        XDG_CACHE_HOME=str(tmp_path / "cache"),
        SPARK_GRAFT_DRIVER_MEM="1g",
        SPARK_GRAFT_CPUS="1",
        PYTHONPATH=ROOT,
    )

    def interpreter(mode):
        p = subprocess.run(
            [sys.executable, "-c", SCRIPT, mode], env=env, cwd=tmp_path,
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=300,
        )
        assert p.returncode == 0
        return p.stdout.splitlines()

    assert interpreter("dump") == ["SENTINEL"]
    cache = tmp_path / "cache" / "spark-graft"
    archives = sorted(p.name for p in cache.iterdir() if p.is_file())
    assert len(archives) == 1 and archives[0].endswith(".jsa"), archives
    assert interpreter("option") == [str(cache / archives[0]), "SENTINEL"]
