"""Python-worker boundary: the stamp-checked zip import caches of the
engine's worker daemon (``cs_pipeline_spark.pyworker``), its pandas /
pyarrow preload, and the session confs that start workers through it
over Unix-domain sockets from any working directory."""

from __future__ import annotations

import importlib
import os
import shutil
import subprocess
import sys
import tempfile
import textwrap
import zipfile
import zipimport

import pytest

from cs_pipeline_spark import pyworker
from cs_pipeline_spark.session import DAEMON_MODULE, PACKAGE_PARENT, worker_conf


def _write_zip(path, modules: dict[str, str]) -> None:
    # write beside and rename: the archive gets a new inode, as a
    # re-shipped addPyFile zip does
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)
    os.replace(tmp, path)


@pytest.fixture
def patched(monkeypatch):
    """Install the patch for one test; monkeypatch restores the original."""
    monkeypatch.setattr(
        zipimport.zipimporter,
        "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    assert pyworker.patch_zipimport()


def _count_reads(monkeypatch, archive: str) -> list[str]:
    reads: list[str] = []
    original = zipimport._read_directory

    def counting(path):
        if path == archive:
            reads.append(path)
        return original(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch, patched):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"pw_mod_a": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    monkeypatch.delitem(sys.modules, "pw_mod_a", raising=False)
    assert importlib.import_module("pw_mod_a").X == 1
    importer = sys.path_importer_cache[archive]
    assert isinstance(importer, zipimport.zipimporter)

    importlib.invalidate_caches()  # first call records the stamp
    reads = _count_reads(monkeypatch, archive)
    importlib.invalidate_caches()
    importer.invalidate_caches()
    assert reads == []


def test_rewritten_archive_is_reread(tmp_path, monkeypatch, patched):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"pw_mod_b": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    monkeypatch.delitem(sys.modules, "pw_mod_b", raising=False)
    monkeypatch.delitem(sys.modules, "pw_mod_c", raising=False)
    importlib.import_module("pw_mod_b")
    importlib.invalidate_caches()

    _write_zip(archive, {"pw_mod_b": "X = 1\n", "pw_mod_c": "Y = 2\n"})
    reads = _count_reads(monkeypatch, archive)
    importlib.invalidate_caches()
    assert len(reads) == 1
    assert importlib.import_module("pw_mod_c").Y == 2


def test_missing_internals_leave_zipimport_unpatched(monkeypatch):
    original = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", original)
    monkeypatch.delattr(zipimport, "_read_directory")
    assert not pyworker.patchable()
    assert not pyworker.patch_zipimport()
    assert zipimport.zipimporter.invalidate_caches is original


def test_worker_conf_merges_caller_pythonpath():
    conf = worker_conf(
        {"spark.executorEnv.PYTHONPATH": os.pathsep.join(["/a", "/b"]), "k": "v"}
    )
    assert conf["spark.executorEnv.PYTHONPATH"] == os.pathsep.join(
        ["/a", "/b", PACKAGE_PARENT]
    )
    assert conf["spark.python.daemon.module"] == DAEMON_MODULE
    assert conf["k"] == "v"
    # already present: not appended twice
    again = worker_conf({"spark.executorEnv.PYTHONPATH": PACKAGE_PARENT})
    assert again["spark.executorEnv.PYTHONPATH"] == PACKAGE_PARENT
    assert worker_conf()["spark.executorEnv.PYTHONPATH"] == PACKAGE_PARENT


UDS_KEY = "spark.python.unix.domain.socket.enabled"


def test_worker_conf_enables_unix_domain_sockets():
    assert worker_conf()[UDS_KEY] == "true"
    # an explicit caller value wins
    assert worker_conf({UDS_KEY: "false"})[UDS_KEY] == "false"


def test_workers_run_over_unix_domain_sockets(spark):
    assert spark.sparkContext.getConf().get(UDS_KEY) == "true"

    def env(it):
        import pandas as pd

        for _ in it:
            yield pd.DataFrame(
                {"v": [os.environ.get("PYTHON_UNIX_DOMAIN_ENABLED", "")]}
            )

    rows = spark.range(0, 1, 1, 1).mapInPandas(env, "v string").collect()
    # the executor spells it "True"; pyspark's daemon compares lower-cased
    assert [r.v.lower() for r in rows] == ["true"]


def test_preload_starts_no_thread():
    """The daemon forks every worker: the preload must leave it with one
    Python thread."""
    code = (
        "import sys, threading\n"
        "from cs_pipeline_spark import pyworker\n"
        "pyworker.preload()\n"
        "assert {'pandas', 'pyarrow'} <= set(sys.modules)\n"
        "print(threading.active_count())\n"
    )
    proc = subprocess.run(
        [sys.executable, "-c", code],
        cwd=PACKAGE_PARENT,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert proc.stdout.split() == ["1"]


def test_get_spark_starts_workers_through_the_daemon(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == DAEMON_MODULE
    paths = conf.get("spark.executorEnv.PYTHONPATH").split(os.pathsep)
    assert PACKAGE_PARENT in paths
    # the workers really run it: a Python task sees the patched importer
    rows = (
        spark.range(1)
        .rdd.map(lambda _: zipimport.zipimporter.invalidate_caches.__name__)
        .collect()
    )
    assert rows == [pyworker._invalidate_caches.__name__]


def test_python_tasks_run_from_any_working_directory(tmp_path, sf_dir):
    """A driver outside the checkout with no PYTHONPATH: workers still
    import the daemon and the operators' pickled functions."""
    script = tmp_path / "drive.py"
    script.write_text(
        textwrap.dedent(
            f"""
            import sys
            sys.path.insert(0, {PACKAGE_PARENT!r})
            from cs_pipeline_spark import registry
            from cs_pipeline_spark.session import get_spark

            spark = get_spark("cwd_probe", shuffle_partitions=2)

            def ident(it):
                yield from it

            # first Python task of the session: a fresh worker forked
            # from the daemon already holds the preloaded modules
            pre = (
                spark.sparkContext.parallelize([0], 1)
                .map(lambda _: {{"pandas", "pyarrow"}} <= set(sys.modules))
                .collect()
            )
            n = spark.range(0, 10, 1, 2).mapInPandas(ident, "id long").count()
            w = registry.all_specs()["mm_decode_wav"].fn(spark, {sf_dir!r}).count()
            print("ROWS", n, w, pre == [True])
            spark.stop()
            """
        )
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    proc = subprocess.run(
        [sys.executable, str(script)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    rows = [ln.split() for ln in proc.stdout.splitlines() if ln.startswith("ROWS")]
    assert len(rows) == 1
    n, w = int(rows[0][1]), int(rows[0][2])
    assert n == 10
    assert w > 0
    assert rows[0][3] == "True"


def test_session_without_stop_leaves_no_socket_file(tmp_path):
    """A driver that runs a Python task and a ``toPandas()`` and exits
    without ``stop()``: its socket files sat in its own socket directory,
    not in ``java.io.tmpdir``, and that directory is gone once the
    process has exited."""
    # short enough for a socket path, as Spark's default /tmp is
    jvm_tmp = tempfile.mkdtemp(prefix="jvm-", dir="/tmp")
    script = tmp_path / "drive.py"
    script.write_text(
        textwrap.dedent(
            f"""
            import os, sys
            sys.path.insert(0, {PACKAGE_PARENT!r})
            from cs_pipeline_spark.session import SOCKET_DIR_KEY, get_spark

            spark = get_spark(
                "socket_probe",
                shuffle_partitions=2,
                extra_conf={{
                    "spark.driver.extraJavaOptions": "-Djava.io.tmpdir={jvm_tmp}"
                }},
            )

            def ident(it):
                yield from it

            pdf = spark.range(0, 10, 1, 2).mapInPandas(ident, "id long").toPandas()
            d = spark.sparkContext.getConf().get(SOCKET_DIR_KEY)
            socks = [f for f in os.listdir(d) if f.endswith(".sock")]
            print("DIR", d)
            print("ROWS", len(pdf), len(socks))
            """
        )
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    # a TMPDIR too long for a socket path falls back to /tmp
    env.update(SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g", TMPDIR=str(tmp_path))
    try:
        proc = subprocess.run(
            [sys.executable, str(script)],
            cwd=tmp_path,
            env=env,
            capture_output=True,
            text=True,
            timeout=600,
        )
        left = [f for f in os.listdir(jvm_tmp) if f.endswith(".sock")]
    finally:
        shutil.rmtree(jvm_tmp, ignore_errors=True)
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert not left, left
    out = dict(
        ln.split(" ", 1) for ln in proc.stdout.splitlines() if ln[:4] in ("DIR ", "ROWS")
    )
    assert len(os.path.join(out["DIR"], f".{'0' * 36}.sock")) <= 107
    rows, socks = map(int, out["ROWS"].split())
    assert rows == 10
    assert socks >= 1  # the daemon's socket lived in the socket directory
    assert not os.path.exists(out["DIR"])
