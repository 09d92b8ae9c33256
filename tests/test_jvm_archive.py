"""Class-data-sharing archive of the driver JVM (``jvmarchive``).

Each session runs in its own Python process with ``XDG_CACHE_HOME`` in
``tmp_path``, so the archive these tests write and read is never the
shared one. The first session dumps the archive at exit (10-18 s).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from cs_pipeline_spark import jvmarchive
from cs_pipeline_spark.session import PACKAGE_PARENT

# Starts a session through get_spark, runs a job, asks get_spark again
# while the context is active, and prints one JSON line.
_SESSION = r"""
import json, sys
sys.path.insert(0, sys.argv[1])
from pyspark import SparkContext
from cs_pipeline_spark import jvmarchive
from cs_pipeline_spark.session import get_spark

extra = json.loads(sys.argv[2])
spark = get_spark("jvm_archive_test", master="local[2]", extra_conf=extra)
opts = spark.sparkContext.getConf().get(jvmarchive.DEFAULT_OPTS)
again = get_spark("jvm_archive_test", master="local[2]", extra_conf=extra)
jvm = SparkContext._jvm
print(json.dumps({
    "total": spark.range(100).selectExpr("sum(id) AS s").first()["s"],
    "default_opts": opts,
    "reused": again is spark and jvmarchive.plan({}) is None,
    "property": jvm.System.getProperty("cs.archive.test"),
    "classpath": jvm.System.getProperty("java.class.path"),
}))
"""


def run_session(cache: str, cwd, extra_conf=None, env=None) -> dict:
    e = {
        k: v for k, v in os.environ.items()
        if k not in ("SPARK_CONF_DIR", "PYSPARK_SUBMIT_ARGS")
    }
    e.update(XDG_CACHE_HOME=cache, SPARK_GRAFT_DRIVER_MEM="1g", **(env or {}))
    r = subprocess.run(
        [sys.executable, "-c", _SESSION, PACKAGE_PARENT, json.dumps(extra_conf or {})],
        cwd=cwd, env=e, capture_output=True, text=True, timeout=600,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    out = json.loads(r.stdout.strip().splitlines()[-1])
    assert out["total"] == 4950
    assert out["reused"]
    return out


def _files(cache: str) -> list[str]:
    root = os.path.join(cache, "cs_pipeline_spark", "jvm")
    return sorted(os.listdir(root)) if os.path.isdir(root) else []


def _dead_pid() -> int:
    p = subprocess.Popen(["true"])
    p.wait()
    return p.pid


@pytest.fixture(scope="module")
def first(tmp_path_factory):
    """A cache after one session ran in it: ``(cache, archive, output)``."""
    cache = str(tmp_path_factory.mktemp("xdg"))
    out = run_session(cache, tmp_path_factory.mktemp("cwd"))
    jsas = [f for f in _files(cache) if f.endswith(".jsa")]
    assert len(jsas) == 1, _files(cache)
    root = os.path.join(cache, "cs_pipeline_spark", "jvm")
    return cache, os.path.join(root, jsas[0]), out


@pytest.fixture(scope="module")
def second(first, tmp_path_factory):
    """A second session in the first one's cache, with a class-load log
    and a caller's JVM options. A truncated candidate of a dead writer
    sits in the cache when it starts. Returns ``(output, log, planted)``."""
    cache, jsa, _ = first
    planted = jsa[: -len(".jsa")] + f".{_dead_pid()}.tmp"
    with open(jsa, "rb") as src, open(planted, "wb") as dst:
        dst.write(src.read(os.path.getsize(jsa) // 3))
    cwd = tmp_path_factory.mktemp("cwd")
    log = str(cwd / "class-load.log")
    out = run_session(cache, cwd, {
        "spark.driver.extraJavaOptions": f"-Xlog:class+load:file={log}",
        jvmarchive.DEFAULT_OPTS: "-Dcs.archive.test=caller",
    })
    return out, log, planted


def test_first_session_publishes_archive_at_exit(first):
    cache, jsa, out = first
    assert "-XX:ArchiveClassesAtExit=" in out["default_opts"]
    assert set(_files(cache)) == {"conf", os.path.basename(jsa)}
    assert os.listdir(os.path.join(os.path.dirname(jsa), "conf")) == []


def test_second_session_loads_spark_from_archive(first, second):
    _, jsa, _ = first
    out, log, _ = second
    # ours come after the caller's defaultJavaOptions, which still apply
    assert out["default_opts"].startswith("-Dcs.archive.test=caller ")
    assert f"-XX:SharedArchiveFile={jsa}" in out["default_opts"]
    assert out["property"] == "caller"
    # the log exists only because the caller's extraJavaOptions applied
    with open(log) as f:
        lines = [ln for ln in f if " org.apache.spark.SparkContext " in ln]
    assert lines and "source: shared objects file" in lines[0], lines


def test_truncated_candidate_is_never_published(first, second, tmp_path):
    cache, jsa, _ = first
    out, _, planted = second
    # the session that found it started, ran its job and removed it
    assert not os.path.exists(planted)
    assert set(_files(cache)) == {"conf", os.path.basename(jsa)}

    java = jvmarchive.java_binary()
    whole, cut = str(tmp_path / "whole.tmp"), str(tmp_path / "cut.tmp")
    shutil.copyfile(jsa, whole)
    with open(jsa, "rb") as src, open(cut, "wb") as dst:
        dst.write(src.read(os.path.getsize(jsa) - 4096))
    target = str(tmp_path / "k.jsa")
    assert jvmarchive.probe(java, whole, out["classpath"])
    assert not jvmarchive.publish(cut, target, 0, java, out["classpath"])
    assert os.listdir(tmp_path) == ["whole.tmp"]
    # a whole archive from a JVM that failed is not published either
    assert not jvmarchive.publish(whole, target, 1, java, out["classpath"])
    assert os.listdir(tmp_path) == []


def test_conf_dir_with_a_real_file_launches_plainly(tmp_path):
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.cs.archive.marker true\n")
    (conf / "log4j2.properties.template").write_text("")
    cache = str(tmp_path / "xdg")
    out = run_session(cache, tmp_path, env={"SPARK_CONF_DIR": str(conf)})
    assert out["default_opts"] is None
    assert not [f for f in _files(cache) if f != "conf"]


def test_unwritable_cache_launches_plainly(tmp_path):
    # a regular file where the cache's parent directory should be
    blocker = tmp_path / "blocker"
    blocker.write_text("")
    out = run_session(str(blocker / "xdg"), tmp_path)
    assert out["default_opts"] is None


def test_key_follows_java_and_jars(tmp_path):
    java, jars = tmp_path / "java", tmp_path / "jars"
    java.write_text("")
    jars.mkdir()
    (jars / "a.jar").write_text("a")
    key = jvmarchive.archive_key(str(java), str(jars))
    assert jvmarchive.archive_key(str(java), str(jars)) == key
    os.utime(jars / "a.jar", ns=(0, 10**9))
    touched = jvmarchive.archive_key(str(java), str(jars))
    assert touched != key
    (jars / "b.jar").write_text("b")
    added = jvmarchive.archive_key(str(java), str(jars))
    assert added not in (key, touched)
    java.write_text("x")
    assert jvmarchive.archive_key(str(java), str(jars)) not in (key, touched, added)


def test_launch_flags_and_conf_dir_swap(tmp_path, monkeypatch):
    """In-process: which flags ``launch`` yields, and that it restores
    ``SPARK_CONF_DIR``; no JVM starts."""
    from pyspark import SparkContext

    monkeypatch.setattr(SparkContext, "_gateway", None)
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    monkeypatch.setenv("SPARK_CONF_DIR", str(tmp_path / "missing"))
    root, _, key = jvmarchive.plan({})
    caller = {jvmarchive.DEFAULT_OPTS: "-Dx=1"}

    with jvmarchive.launch(caller) as conf:
        assert conf[jvmarchive.DEFAULT_OPTS].startswith(
            f"-Dx=1 -XX:ArchiveClassesAtExit={root}/{key}.{os.getpid()}.tmp "
        )
        assert os.environ["SPARK_CONF_DIR"] == os.path.join(root, "conf")
    assert os.environ["SPARK_CONF_DIR"] == str(tmp_path / "missing")

    # another live process is writing this key's archive: launch plainly
    live = os.path.join(root, f"{key}.{os.getppid()}.tmp")
    open(live, "w").close()
    with jvmarchive.launch(caller) as conf:
        assert conf == {}
    os.unlink(live)

    open(os.path.join(root, f"{key}.jsa"), "w").close()
    with jvmarchive.launch({}) as conf:
        assert conf[jvmarchive.DEFAULT_OPTS].startswith(
            f"-XX:SharedArchiveFile={root}/{key}.jsa "
        )

    # a caller's extra class path turns the archive off
    assert jvmarchive.plan({"spark.driver.extraClassPath": "/x"}) is None

