"""SparkSession factory tuned for this engine.

Defaults target the driver's local[32] harness but every knob is the
one you would set on a 1000-executor cluster too:

- AQE on (runtime shuffle-partition coalescing, skew-join splitting) —
  at 100 TB the static ``shuffle.partitions`` is only an upper bound;
  AQE right-sizes post-shuffle partitions from actual map output stats.
- Arrow on — every Pandas-UDF boundary is Arrow-batched.
- Session timezone pinned to UTC — the reference's time axes are UTC
  (ERA5 valid_time); pinning makes timestamp semantics deterministic
  and oracle-comparable.
- ``parquet.aggregatePushdown`` — MIN/MAX/COUNT served from footer
  statistics when possible (free at any scale).
- Python worker daemon ``cs_pipeline_spark.pyworker`` — pyspark's own
  daemon with stamp-checked zip import caches, so a Python task no
  longer re-reads ``pyspark.zip``/py4j/spark-core on every
  ``importlib.invalidate_caches()`` (~0.1 s fixed cost per task). The
  package's parent directory is merged into
  ``spark.executorEnv.PYTHONPATH`` so workers import the daemon and the
  operators' pickled functions from any driver working directory.
  Workers connect over Unix-domain sockets, which have no Nagle /
  delayed-ACK stall (~40 ms per reused-worker task over TCP; see
  ``worker_conf``). The socket files live in one directory per driver
  process, removed when the process exits.
- Driver JVM class-data-sharing archive (``jvmarchive``) — a local
  driver starts from a memory-mapped AppCDS archive of the classes an
  earlier session loaded, instead of parsing and verifying them again
  from Spark's jars. It lives in
  ``${XDG_CACHE_HOME:-~/.cache}/cs_pipeline_spark/jvm/<key>.jsa``, keyed
  by the ``java`` binary and Spark's jar listing, and the first session
  without it writes it at exit (10-18 s, once). Delete that directory
  to reset it.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import SparkSession

from cs_pipeline_spark import jvmarchive

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))

DAEMON_MODULE = "cs_pipeline_spark.pyworker"
# directory that holds the ``cs_pipeline_spark`` package
PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SOCKET_DIR_KEY = "spark.python.unix.domain.socket.dir"
# Spark names a socket <dir>/.<uuid>.sock; sun_path holds 107 bytes
_SOCKET_NAME = len("/.") + 36 + len(".sock")
_SUN_PATH_MAX = 107
_socket_dir: str | None = None


def _remove_socket_dir(path: str, owner: int) -> None:
    if os.getpid() == owner:  # not in a forked child that exits
        shutil.rmtree(path, ignore_errors=True)


def socket_dir() -> str:
    """This driver process's directory for Unix-domain socket files,
    created on first use and removed at interpreter exit.

    Spark's default, ``java.io.tmpdir``, keeps every socket file whose
    owner did not close it cleanly: a session that exits without
    ``stop()`` left one or two ``/tmp/.<uuid>.sock`` files per run.
    """
    global _socket_dir
    if _socket_dir is None:
        parent = tempfile.gettempdir()
        if len(parent) + len("/csps-") + 8 + _SOCKET_NAME > _SUN_PATH_MAX:
            parent = "/tmp"
        _socket_dir = tempfile.mkdtemp(prefix="csps-", dir=parent)
        atexit.register(_remove_socket_dir, _socket_dir, os.getpid())
    return _socket_dir


def worker_conf(extra_conf: dict[str, str] | None = None) -> dict[str, str]:
    """Python-worker confs, merged with the caller's ``extra_conf``.

    The caller's ``spark.executorEnv.PYTHONPATH`` entries come first and
    ``PACKAGE_PARENT`` is appended once; every other caller key wins.

    Workers talk to the executor over Unix-domain sockets
    (``spark.python.unix.domain.socket.enabled``). Over loopback TCP the
    JVM writer has no ``TCP_NODELAY``, so Nagle holds the last small
    Arrow segment of a task's input until the worker ACKs, and the
    worker's delayed-ACK timer waits ~40 ms first: a 10-row
    ``mapInPandas`` task spent 40-44 ms reading its input on every
    reused worker connection, and 0.6-1.7 ms over a Unix socket (4
    cores). The same conf moves the driver's ``collect()``/``toPandas()``
    result servers to Unix sockets too. Sessions built without
    ``get_spark`` still pay the stall: the driver's own vanilla session
    and ``tools/check.py --vanilla``. The socket files go to
    ``socket_dir()``, which is removed when the driver process exits.
    """
    conf = dict(extra_conf or {})
    key = "spark.executorEnv.PYTHONPATH"
    paths = [p for p in conf.get(key, "").split(os.pathsep) if p]
    if PACKAGE_PARENT not in paths:
        paths.append(PACKAGE_PARENT)
    conf[key] = os.pathsep.join(paths)
    conf.setdefault("spark.python.daemon.module", DAEMON_MODULE)
    conf.setdefault("spark.python.unix.domain.socket.enabled", "true")
    if SOCKET_DIR_KEY not in conf:
        conf[SOCKET_DIR_KEY] = socket_dir()
    return conf


def get_spark(
    app_name: str = "cs_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int = DEFAULT_SHUFFLE_PARTITIONS,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, else ``*``)
    when no cluster master is supplied; on a real cluster pass None and
    rely on spark-submit.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # The generated-code cache defaults to 100 entries; a session
        # running the full query inventory compiles far more distinct
        # WholeStageCodegen stages than that, and eviction forces a
        # re-JIT of every stage on every re-run (measured: steady-state
        # 0.35 s resample reported ~1.5 s inside a 20-query bench
        # session). Same knob you'd set on a long-lived cluster driver
        # serving many query shapes.
        .config("spark.sql.codegen.cache.maxEntries", "5000")
    )
    conf = worker_conf(extra_conf)
    with jvmarchive.launch(conf) as jvm_conf:
        for k, v in {**conf, **jvm_conf}.items():
            b = b.config(k, v)
        return b.getOrCreate()
