"""Class-data-sharing (AppCDS) archive for the local driver JVM.

Most of a local driver's cold start is the JVM loading and verifying
classes from ~290 Spark jars. JDK 17 can dump every class a run loaded
into an archive at exit (``-XX:ArchiveClassesAtExit``) and map that
archive at the next start (``-XX:SharedArchiveFile``), which skips the
parsing and verification. ``session.get_spark`` opens ``launch(conf)``
around ``getOrCreate()``:

- the archive lives in ``${XDG_CACHE_HOME:-~/.cache}/cs_pipeline_spark/jvm``
  as ``<key>.jsa``; the key digests the resolved ``java`` binary and its
  stat and the name, size and mtime of every jar in Spark's jars
  directory. It depends only on the JDK and the Spark install, so every
  checkout and every run shares it. Delete the directory to reset it;
- with the archive present, the driver maps it. Without it, the driver
  dumps ``<key>.<pid>.tmp`` at exit; an ``atexit`` hook waits for the
  JVM and publishes the file with ``os.replace`` only if the JVM exited
  with 0 and a ``java -Xshare:on`` probe on the driver's class path
  starts from it. A truncated archive crashes the JVM that maps it, so
  nothing else ever becomes ``<key>.jsa``. Candidates whose writer is
  dead are removed;
- the flags go in ``spark.driver.defaultJavaOptions``, after any the
  caller set there, so a caller's ``spark.driver.extraJavaOptions``
  still applies;
- JDK 17 refuses to dump with a non-empty directory on the class path,
  and Spark puts its conf dir first on it. The driver is launched with
  ``SPARK_CONF_DIR`` set to the empty ``conf`` directory in the cache,
  and ``os.environ`` is restored after. Never put files there.

The driver launches exactly as without this module unless no JVM
gateway exists yet, Spark's effective conf dir is missing or holds only
``*.template`` files, nothing else is added to the driver's class path,
and the cache directory is writable with an empty ``conf``. Executors
on a cluster are out of scope: their JVMs never see these flags.
"""

from __future__ import annotations

import atexit
import contextlib
import hashlib
import os
import shutil
import subprocess
import tempfile

DEFAULT_OPTS = "spark.driver.defaultJavaOptions"
QUIET = "-Xlog:cds=off -Xlog:cds+dynamic=off"
# The dump at exit took 10-18 s with the full Spark class set.
EXIT_WAIT_S = 120.0
PROBE_TIMEOUT_S = 60.0
# Environment that adds entries to the driver's class path.
_CLASSPATH_ENV = (
    "HADOOP_CONF_DIR",
    "YARN_CONF_DIR",
    "SPARK_DIST_CLASSPATH",
    "SPARK_CLASSPATH",
)


def cache_root() -> str:
    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(
        os.path.expanduser("~"), ".cache"
    )
    return os.path.join(base, "cs_pipeline_spark", "jvm")


def java_binary() -> str | None:
    """The ``java`` that ``spark-class`` runs, with links resolved."""
    home = os.environ.get("JAVA_HOME")
    java = os.path.join(home, "bin", "java") if home else shutil.which("java")
    return os.path.realpath(java) if java and os.path.isfile(java) else None


def archive_key(java: str, jars_dir: str) -> str:
    h = hashlib.sha256()
    st = os.stat(java)
    h.update(f"{java}\0{st.st_ino}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    for e in sorted(os.scandir(jars_dir), key=lambda e: e.name):
        st = e.stat()
        h.update(f"{e.name}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()[:24]


def _only_templates(conf_dir: str) -> bool:
    try:
        names = os.listdir(conf_dir)
    except FileNotFoundError:
        return True
    except OSError:
        return False
    return all(n.endswith(".template") for n in names)


def _writable(root: str) -> bool:
    try:
        os.makedirs(os.path.join(root, "conf"), exist_ok=True)
        fd, path = tempfile.mkstemp(dir=root, prefix=".probe")
        os.close(fd)
        os.unlink(path)
    except OSError:
        return False
    return True


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def _candidates(root: str, key: str) -> list[str]:
    """Remove ``.tmp`` candidates whose writer is dead; return the live
    writers' candidates for ``key``."""
    live = []
    for name in os.listdir(root):
        parts = name.split(".")
        if len(parts) != 3 or parts[2] != "tmp" or not parts[1].isdigit():
            continue
        path = os.path.join(root, name)
        if _alive(int(parts[1])):
            if parts[0] == key:
                live.append(path)
        else:
            with contextlib.suppress(OSError):
                os.unlink(path)
    return live


def plan(conf: dict[str, str]) -> tuple[str, str, str] | None:
    """``(root, java, key)`` when the driver about to launch may use or
    write an archive, else None."""
    from pyspark import SparkContext
    from pyspark.find_spark_home import _find_spark_home

    # an active SparkContext, or a stopped one, keeps its gateway JVM
    if SparkContext._gateway is not None:
        return None
    # spark-submit arguments such as --driver-class-path reach the class path
    if os.environ.get("PYSPARK_SUBMIT_ARGS", "pyspark-shell") != "pyspark-shell":
        return None
    if any(os.environ.get(k) for k in _CLASSPATH_ENV) or conf.get(
        "spark.driver.extraClassPath"
    ):
        return None
    spark_home = _find_spark_home()
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    jars_dir = os.path.join(spark_home, "jars")
    java = java_binary()
    if java is None or not os.path.isdir(jars_dir) or not _only_templates(conf_dir):
        return None
    root = cache_root()
    if not _writable(root) or os.listdir(os.path.join(root, "conf")):
        return None
    return root, java, archive_key(java, jars_dir)


def probe(java: str, archive: str, classpath: str) -> bool:
    """Whether a JVM with ``classpath`` starts from ``archive``. With
    ``-Xshare:on`` an archive it cannot map ends the JVM with an error,
    and ``VerifySharedSpaces`` checks every region's checksum; a crash
    leaves no error file or core dump behind."""
    cmd = [
        java, "-Xshare:on", "-XX:+VerifySharedSpaces",
        "-XX:-CreateCoredumpOnCrash", "-XX:ErrorFile=/dev/null",
        f"-XX:SharedArchiveFile={archive}", "-cp", classpath, "-version",
    ]
    try:
        r = subprocess.run(
            cmd,
            stdin=subprocess.DEVNULL,
            stdout=subprocess.DEVNULL,
            stderr=subprocess.DEVNULL,
            timeout=PROBE_TIMEOUT_S,
        )
    except (OSError, subprocess.TimeoutExpired):
        return False
    return r.returncode == 0


def publish(tmp: str, jsa: str, returncode: int | None, java: str, classpath: str) -> bool:
    """Move ``tmp`` to ``jsa`` if the dumping JVM exited with 0 and the
    probe passes; otherwise delete it."""
    ok = returncode == 0 and os.path.isfile(tmp) and probe(java, tmp, classpath)
    with contextlib.suppress(OSError):
        if ok:
            os.replace(tmp, jsa)
        else:
            os.unlink(tmp)
    return ok and os.path.isfile(jsa)


def _publish_at_exit(proc, tmp: str, jsa: str, java: str, classpath: str) -> None:
    # the gateway exits (and dumps) when its stdin closes
    with contextlib.suppress(OSError, ValueError):
        if proc.stdin is not None:
            proc.stdin.close()
    try:
        rc = proc.wait(timeout=EXIT_WAIT_S)
    except subprocess.TimeoutExpired:
        # still dumping: the candidate is removed once this process is gone
        return
    publish(tmp, jsa, rc, java, classpath)


@contextlib.contextmanager
def launch(conf: dict[str, str]):
    """Yield the confs to add to ``conf`` for the driver launched inside
    the block (``{}`` when ``plan`` says no); on success, a driver that
    dumps gets its publish hook."""
    p = plan(conf)
    if p is None:
        yield {}
        return
    root, java, key = p
    jsa = os.path.join(root, f"{key}.jsa")
    writers = _candidates(root, key)
    tmp = None
    if os.path.isfile(jsa):
        flags = f"-XX:SharedArchiveFile={jsa} {QUIET}"
    elif writers:
        # another live session is writing this archive
        yield {}
        return
    else:
        tmp = os.path.join(root, f"{key}.{os.getpid()}.tmp")
        flags = f"-XX:ArchiveClassesAtExit={tmp} {QUIET}"
    opts = " ".join(o for o in (conf.get(DEFAULT_OPTS, "").strip(), flags) if o)
    saved = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = os.path.join(root, "conf")
    try:
        yield {DEFAULT_OPTS: opts}
    finally:
        if saved is None:
            os.environ.pop("SPARK_CONF_DIR", None)
        else:
            os.environ["SPARK_CONF_DIR"] = saved
    if tmp is not None:
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is not None:
            classpath = SparkContext._jvm.System.getProperty("java.class.path")
            atexit.register(_publish_at_exit, proc, tmp, jsa, java, classpath)
