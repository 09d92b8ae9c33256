"""Layered benchmark for cs_pipeline_spark.

Usage (from the root of a checkout)::

    python3 perfbench/run.py --workload build_loop --seed 1 --seconds 20 --trace 0

One driver process on ``local[<usable cpus>]`` runs one workload as a
closed loop with a single client: the workload's ops (``workloads.json``)
run one after another in an order permuted by ``--seed``, each timed
from outside through the package's public calls with bench.py's cold
protocol (``registry.evict(blocking=True)`` -> ``fn(spark, sf_dir)`` ->
``count()``), followed by a warm re-run of the memoized plan. A run makes
``--seconds`` divided by the workload's nominal pass time passes (at
least three), so every run on every machine makes the same number.

Phases of one run:

1. prep, untimed and excluded from ``setup_s``: derive sf1 with
   ``tools/make_sf1.build`` into ``perfbench/.work/sf1`` if the workload
   needs it, and sweep the scratch fixtures (``ensure_fixtures``) into
   ``perfbench/.work/fixtures``. The run fails if the sweep's
   ``_fixtures_done`` marker is missing afterwards;
2. set-up (``setup_s``): session start, registry load, fixture check and
   one untimed warm-up run of every op;
3. the timed loop;
4. an untimed verification pass: every op's ``toPandas()`` result is
   compared with its DuckDB oracle using ``tools/check.py``'s canonical
   compare, and the jobs that collection launches are counted.

``--trace 0`` prints every end-to-end metric by name and unit:
``setup_s``, ``cold_total_s`` (bench.py's Σ-cold), ``cold_cpu_s``,
``cold_op_p50_s``, ``cold_op_tail_s``, ``warm_total_s``, the failed and
wrong shares, peak RSS, and ``cold_total_net_s`` and ``warm_total_net_s``:
the two totals with each run's wall time scaled by (1 - the share of CPU
time the host withheld from the VM during it, from ``/proc/stat``'s steal
column). On a shared host that share drifts between runs and moves the
raw totals by more than a program change would. The result object
carries the metrics ``BENCHMARK.json`` lists as ``end_to_end``. ``--trace 1`` is a separate
run with Spark's event log, a py4j call counter and spans switched on; it
prints the per-layer metrics and writes its spans and per-op records to
``perfbench/.work/traces/``. Every run appends one JSON line to
``perfbench/history.jsonl``. The last stdout line is the result object
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import time

# set-up is timed from here, before any heavy import
_T_START = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import importlib.util  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from collections import defaultdict  # noqa: E402
from contextlib import nullcontext  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
HISTORY = os.path.join(HERE, "history.jsonl")

# A cold run slower than this counts as timed out (it cannot be
# interrupted, so it still finishes).
OP_TIMEOUT_S = 60.0
# No new pass starts after this much wall time (prep not counted), so a
# run ends well inside three minutes even when the program slows down.
PASS_DEADLINE_S = 120.0
# The fresh JVM keeps getting faster over the first passes (JIT), so the
# per-op minimum over passes depends on how many passes ran. The pass
# count therefore follows from --seconds and the workload's nominal pass
# time, never from how fast this run happens to be.
MIN_PASSES = 3


def _load_tool(name: str):
    """Import ``tools/<name>.py`` by path (``tools`` is not a package)."""
    path = os.path.join(ROOT, "tools", f"{name}.py")
    spec = importlib.util.spec_from_file_location(f"perfbench_tools_{name}", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _configure_env(cpus: int) -> dict[str, str]:
    """Keep every file Spark, its Python workers and DuckDB write inside
    ``perfbench/.work``; return the Spark conf to start the session with."""
    dirs = {d: os.path.join(WORK, d) for d in ("spark-local", "tmp", "warehouse")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = dirs["spark-local"]
    os.environ["TMPDIR"] = dirs["tmp"]
    # Python workers import the package by name
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": dirs["warehouse"],
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={dirs['tmp']} -Dderby.system.home={dirs['tmp']} "
            "-XX:-UsePerfData"
        ),
    }


def _event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def _prepare_sf(sf: str) -> str:
    """Return the data directory for ``sf``; derive sf1 on first use."""
    make_sf1 = _load_tool("make_sf1")
    if not os.path.isdir(make_sf1.SRC):
        sys.exit(f"perfbench: source tables {make_sf1.SRC} not found")
    if sf == "sf0.1":
        return make_sf1.SRC
    if sf != "sf1":
        sys.exit(f"perfbench: unknown sf {sf!r}")
    out = os.path.join(WORK, "sf1")
    if not os.path.exists(os.path.join(out, "_complete")):
        partial = out + ".partial"
        shutil.rmtree(partial, ignore_errors=True)
        shutil.rmtree(out, ignore_errors=True)
        make_sf1.build(partial)
        open(os.path.join(partial, "_complete"), "w").close()
        os.replace(partial, out)
    return out


def _code_identity() -> dict:
    """Git SHA and dirty flag when the checkout is a git repository, and
    always a digest of the package and benchmark sources."""
    h = hashlib.blake2b(digest_size=8)
    for top in ("cs_pipeline_spark", "perfbench", "tools"):
        for dirpath, dirnames, filenames in os.walk(os.path.join(ROOT, top)):
            dirnames[:] = sorted(d for d in dirnames if not d.startswith("."))
            for fn in sorted(filenames):
                if fn.endswith((".py", ".json")):
                    p = os.path.join(dirpath, fn)
                    h.update(os.path.relpath(p, ROOT).encode())
                    with open(p, "rb") as f:
                        h.update(f.read())
    sha = dirty = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            sha = subprocess.run(
                ["git", "-C", ROOT, "rev-parse", "HEAD"],
                capture_output=True, text=True, timeout=30, check=True,
            ).stdout.strip()
            dirty = bool(
                subprocess.run(
                    ["git", "-C", ROOT, "status", "--porcelain",
                     "--untracked-files=no"],
                    capture_output=True, text=True, timeout=30, check=True,
                ).stdout.strip()
            )
        except (OSError, subprocess.SubprocessError):
            sha = dirty = None
    return {"git_sha": sha, "dirty": dirty, "tree_hash": h.hexdigest()}


def _stat_fields(path: str) -> tuple[str, list[str]] | None:
    """The command name and the fields after it of a ``stat`` file."""
    try:
        with open(path) as f:
            text = f.read()
    except OSError:  # the process or thread exited meanwhile
        return None
    head, rest = text.rsplit(")", 1)
    return head.split("(", 1)[1], rest.split()


def _is_jit_thread(comm: str) -> bool:
    # "C1 CompilerThread0" and "C2 CompilerThread0", cut to 15 letters
    return "CompilerThre" in comm


class CpuSnapshot:
    """CPU ticks (user + system) used so far by ``root`` and every process
    below it, reaped children included, with the JVM ``jvm`` counted per
    thread. Time a shared host steals from the VM is not counted. The
    JVM's JIT compiler threads are counted apart: how much compiling
    lands in an op's run depends on how far the fresh JVM has warmed up,
    not on the op."""

    def __init__(self, root: int, jvm: int | None) -> None:
        parent, ticks = {}, {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            st = _stat_fields(f"/proc/{d}/stat")
            if st is None:
                continue
            parent[int(d)] = int(st[1][1])
            # utime, stime, cutime, cstime
            ticks[int(d)] = sum(int(x) for x in st[1][11:15])
        children = defaultdict(list)
        for pid, ppid in parent.items():
            children[ppid].append(pid)
        self.procs, stack = 0, [root]
        while stack:
            pid = stack.pop()
            if pid != jvm:
                self.procs += ticks.get(pid, 0)
            stack.extend(children[pid])
        # Threads come and go (idle compiler and pool threads exit), so
        # they are compared thread by thread; the part of the interval a
        # thread used before it exited is lost.
        self.threads: dict[int, tuple[int, bool]] = {}
        task_dir = f"/proc/{jvm}/task"
        for tid in os.listdir(task_dir) if jvm is not None else ():
            st = _stat_fields(f"{task_dir}/{tid}/stat")
            if st is not None:
                self.threads[int(tid)] = (
                    int(st[1][11]) + int(st[1][12]),
                    _is_jit_thread(st[0]),
                )

    def since(self, before: "CpuSnapshot") -> tuple[float, float]:
        """CPU seconds since ``before`` without the JIT compiler threads,
        and those threads' CPU seconds."""
        work, jit = self.procs - before.procs, 0
        for tid, (n, is_jit) in self.threads.items():
            d = n - before.threads.get(tid, (0, is_jit))[0]
            if is_jit:
                jit += d
            else:
                work += d
        hz = os.sysconf("SC_CLK_TCK")
        return work / hz, jit / hz


def _host_ticks() -> tuple[int, int]:
    """Busy and stolen CPU ticks of the whole VM so far (``/proc/stat``)."""
    with open("/proc/stat") as f:
        t = [int(x) for x in f.readline().split()[1:9]]
    # user nice system idle iowait irq softirq steal
    return t[0] + t[1] + t[2] + t[5] + t[6], t[7]


def _steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of the VM's runnable CPU time the host withheld between two
    ``_host_ticks`` readings. A thread that could have run throughout
    ran for only (1 - share) of the interval, so wall times swell by
    about 1 / (1 - share)."""
    busy, steal = (b - a for a, b in zip(before, after))
    return steal / max(1, busy + steal)


def _vm_hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _shutdown(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(samples: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ten samples beyond it, and
    which percentile that is. With fewer than 21 samples that percentile
    would not lie above the median; the maximum is returned, labelled 100."""
    s = sorted(samples)
    i = len(s) - 11
    if i < len(s) // 2:
        return s[-1], 100.0
    return s[i], 100.0 * (i + 1) / len(s)


class Run:
    """One benchmark run: a session, a workload's ops and their records."""

    def __init__(self, args, workload: dict) -> None:
        self.args = args
        self.name = args.workload
        self.sf = workload["sf"]
        self.ops = list(workload["ops"])
        self.planned_passes = max(
            MIN_PASSES, round(args.seconds / workload["pass_s"])
        )
        self.rng = random.Random(args.seed)
        self.cpus = len(os.sched_getaffinity(0))
        self.tracer = None
        self.records: dict[str, list[dict]] = defaultdict(list)
        self.verify: dict[str, dict] = {}
        self.warmup_s: dict[str, float] = {}
        self.info: dict = {}
        self.layer: dict[str, float] = {}
        self.spark = None

    # -- set-up ----------------------------------------------------------

    def setup(self) -> None:
        conf = _configure_env(self.cpus)
        t = time.perf_counter()
        self.sf_dir = _prepare_sf(self.sf)
        excluded = time.perf_counter() - t
        self.info["sf_dir"] = self.sf_dir

        if self.args.trace:
            from tracing import Tracer

            self.tracer = Tracer()
            self.log_dir = os.path.join(WORK, "eventlog")
            conf.update(_event_log_conf(self.log_dir))
        span = self._span

        t = time.perf_counter()
        with span("session.get_spark"):
            from cs_pipeline_spark.session import get_spark

            if self.tracer:
                self.tracer.install_py4j_counter()
            self.spark = get_spark(app_name=f"perfbench_{self.name}", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.layer["session.start_s"] = time.perf_counter() - t
        self.dag = self.spark.sparkContext._jsc.sc().dagScheduler()
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        self.jvm_pid = proc.pid if proc is not None else None
        self.app_id = self.spark.sparkContext.applicationId

        from cs_pipeline_spark import registry
        from cs_pipeline_spark.sources import scans

        # Fixtures go under the benchmark's own work directory, so the run
        # writes only inside its checkout and never shares fixtures with
        # another checkout.
        scans._SCRATCH = os.path.join(WORK, "fixtures")
        if self.tracer:
            from cs_pipeline_spark.plans import agg_compiler

            self.tracer.wrap_functions(agg_compiler, "compile_agg_schema")
        self.registry = registry

        t = time.perf_counter()
        with span("registry.all_specs"):
            self.specs = registry.all_specs()
        self.layer["registry.load_s"] = time.perf_counter() - t
        unknown = [op for op in self.ops if op not in self.specs]
        if unknown:
            sys.exit(f"perfbench: unknown ops {unknown}")

        tag = os.path.basename(os.path.normpath(self.sf_dir))
        root = os.path.join(
            scans._SCRATCH, f"{tag}-{scans._sf_fingerprint(self.sf_dir)}"
        )
        marker = os.path.join(root, "_fixtures_done")
        self.info["fixture_root"] = root
        self.info["fixtures"] = "reused" if os.path.exists(marker) else "built"
        if self.info["fixtures"] == "built":
            t = time.perf_counter()
            scans.ensure_fixtures(self.spark, self.sf_dir)
            build_s = time.perf_counter() - t
            excluded += build_s
            self.info["fixture_build_s"] = round(build_s, 3)
        self.prep_s = excluded
        t = time.perf_counter()
        with span("sources.ensure_fixtures"):
            scans.ensure_fixtures(self.spark, self.sf_dir)
        if not os.path.exists(marker):
            # ensure_fixtures swallows per-fixture errors; a missing marker
            # means some fixture failed and ops reading it would time a
            # fixture write or fail
            sys.exit(f"perfbench: fixture sweep incomplete, no {marker}")
        self.layer["sources.fixture_check_s"] = time.perf_counter() - t

        # one untimed run of every op pays the one-time costs: codegen,
        # Python worker start and module imports in the workers
        for op in self._order():
            t = time.perf_counter()
            with self._window(op, -1, "warmup"), span("op.warmup", op):
                try:
                    self.specs[op].fn(self.spark, self.sf_dir).count()
                except Exception as e:  # noqa: BLE001 - the timed loop records it
                    print(f"# warm-up {op} failed: {e!r}"[:300], file=sys.stderr)
            self.warmup_s[op] = time.perf_counter() - t
        self.setup_s = time.perf_counter() - _T_START - self.prep_s

    # -- timed loop ------------------------------------------------------

    def _order(self) -> list[str]:
        order = list(self.ops)
        self.rng.shuffle(order)
        return order

    def _span(self, name: str, op: str = ""):
        return self.tracer.span(name, op) if self.tracer else nullcontext()

    def _window(self, op: str, pass_no: int, phase: str):
        if not self.tracer:
            return nullcontext()
        return self.tracer.window(op, pass_no, phase)

    def _cold_run(self, op: str, pass_no: int) -> dict:
        spec, spark, sf_dir = self.specs[op], self.spark, self.sf_dir
        span, window = self._span, self._window
        rec: dict = {"pass": pass_no}
        if self.tracer:
            spark.sparkContext.setJobGroup(op, f"perfbench {op}")
        try:
            cpu0 = CpuSnapshot(os.getpid(), self.jvm_pid)
            with window(op, pass_no, "evict"), span("registry.evict", op):
                t0 = time.perf_counter()
                self.registry.evict(op, spark, sf_dir, blocking=True)
                rec["evict_s"] = time.perf_counter() - t0
            j0 = self.dag.nextJobId()
            with window(op, pass_no, "build"), span("operators.build", op):
                host0 = _host_ticks()
                t0 = time.perf_counter()
                df = spec.fn(spark, sf_dir)
                t1 = time.perf_counter()
            with window(op, pass_no, "action"), span("spark.count", op):
                rows = df.count()
                t2 = time.perf_counter()
                host1 = _host_ticks()
            rec["cpu_s"], rec["jit_cpu_s"] = CpuSnapshot(
                os.getpid(), self.jvm_pid
            ).since(cpu0)
            rec["jobs"] = self.dag.nextJobId() - j0
            # intermediates the op persisted through registry.pin()
            rec["pinned_rdds"] = len(
                self.registry._PINNED.get((op, spark, sf_dir), [])
            )
            with window(op, pass_no, "warm"), span("op.warm", op):
                t3 = time.perf_counter()
                spec.fn(spark, sf_dir).count()
                t4 = time.perf_counter()
                host2 = _host_ticks()
        except Exception as e:  # noqa: BLE001 - one failing op must not end the run
            rec.update(ok=False, error=repr(e)[:300])
            print(f"# {op} pass {pass_no} failed: {rec['error']}", file=sys.stderr)
            return rec
        cold_steal, warm_steal = _steal_share(host0, host1), _steal_share(host1, host2)
        rec.update(
            ok=t2 - t0 <= OP_TIMEOUT_S,
            error=None if t2 - t0 <= OP_TIMEOUT_S else "timeout",
            cold_s=t2 - t0, build_s=t1 - t0, action_s=t2 - t1, warm_s=t4 - t3,
            cold_steal_share=cold_steal, warm_steal_share=warm_steal,
            # net of host steal: what the run would take had the host not
            # withheld CPU from the VM
            cold_net_s=(t2 - t0) * (1.0 - cold_steal),
            warm_net_s=(t4 - t3) * (1.0 - warm_steal),
            rows=rows,
        )
        return rec

    def measure(self) -> None:
        """Run the planned number of passes over the ops, each op's cold
        run followed by its warm re-run. Fewer than MIN_PASSES passes
        measure too little to report: the run then fails."""
        t_start = time.perf_counter()
        host0 = _host_ticks()
        self.passes = 0
        while self.passes < self.planned_passes:
            # prep (sf1 derivation, a first fixture sweep) happens only on
            # a checkout's first run and is not held against the deadline
            if time.perf_counter() - _T_START - self.prep_s > PASS_DEADLINE_S:
                print("# pass deadline reached", file=sys.stderr)
                break
            for op in self._order():
                self.records[op].append(self._cold_run(op, self.passes))
            self.passes += 1
        self.info["measured_s"] = time.perf_counter() - t_start
        self.info["host_steal_share"] = _steal_share(host0, _host_ticks())
        if self.passes < MIN_PASSES:
            sys.exit(
                f"perfbench: {self.passes} of {self.planned_passes} passes "
                f"before the deadline, fewer than {MIN_PASSES}"
            )

    # -- verification ----------------------------------------------------

    def check(self) -> None:
        import duckdb

        from cs_pipeline_spark.tables import TABLE_NAMES

        canon = _load_tool("check")._canon_df
        con = duckdb.connect(config={"temp_directory": os.path.join(WORK, "tmp")})
        for t in TABLE_NAMES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'"
            )
        for op in self.ops:
            spec = self.specs[op]
            res: dict = {}
            if self.tracer:
                self.spark.sparkContext.setJobGroup(op, f"perfbench {op}")
            try:
                with self._window(op, -1, "verify"), self._span("op.verify", op):
                    j0 = self.dag.nextJobId()
                    pdf = spec.fn(self.spark, self.sf_dir).toPandas()
                    res["collect_jobs"] = self.dag.nextJobId() - j0
                res["rows"] = len(pdf)
                if spec.oracle is None:
                    counts = {r["rows"] for r in self.records[op] if "rows" in r}
                    res["ok"] = counts == {len(pdf)}
                    res["check"] = "rows"
                else:
                    odf = con.cursor().execute(spec.oracle).fetchdf()
                    res["ok"] = canon(pdf) == canon(odf)
                    res["check"] = "oracle"
            except Exception as e:  # noqa: BLE001 - recorded as a wrong result
                res.update(ok=False, check="error", error=repr(e)[:300])
            if not res["ok"]:
                print(f"# {op}: result does not match ({res})", file=sys.stderr)
            self.verify[op] = res
        con.close()

    # -- results ---------------------------------------------------------

    def close(self) -> None:
        """Record peak RSS of this process and its JVM, then stop both
        the session and the JVM."""
        if self.spark is None:
            return
        # jobs the scheduler handed out ids to, for the traced run's check
        # against the event log
        self.jobs_submitted = self.dag.nextJobId()
        jvm_kb = _vm_hwm_kb(self.jvm_pid) if self.jvm_pid is not None else 0
        self.rss_mb = (_vm_hwm_kb("self") + jvm_kb) / 1024.0
        _shutdown(self.spark)
        self.spark = None

    def _per_op(self, field: str, source=None, agg=_median) -> dict[str, float]:
        """One field of each op's successful cold runs, reduced over the
        passes. An op without a successful run has no entry; the run
        then reports ``correct: false``."""
        source = source or self.records
        out = {}
        for op, recs in source.items():
            xs = [r[field] for r in recs if r.get("ok") and field in r]
            if xs:
                out[op] = agg(xs)
        return out

    def end_to_end(self) -> dict:
        runs = [r for recs in self.records.values() for r in recs]
        cold = [r["cold_s"] for r in runs if r.get("ok")]
        failed = sum(1 for r in runs if not r.get("ok"))
        wrong = sum(1 for v in self.verify.values() if not v["ok"])
        tail_s, tail_pct = tail(cold) if cold else (0.0, 0.0)
        self.counts = {
            "attempted": len(runs),
            "failed": failed,
            # ops the sums below miss: no cold run of theirs succeeded
            "unmeasured_ops": sorted(
                op for op in self.ops if not any(r.get("ok") for r in self.records[op])
            ),
            "checked": len(self.verify),
            "wrong": wrong,
            "cold_samples": len(cold),
            "tail_percentile": round(tail_pct, 1),
        }
        # All are printed and kept in the history; BENCHMARK.json's
        # end_to_end list names the ones the result object reports.
        return {
            "setup_s": self.setup_s,
            # CPU seconds of the cold runs (driver, JVM without its JIT
            # compiler and Python workers), per op the smallest: steal by
            # the host does not inflate them
            "cold_cpu_s": sum(self._per_op("cpu_s", agg=min).values()),
            # bench.py's Σ-cold: per op the fastest cold run
            "cold_total_s": sum(self._per_op("cold_s", agg=min).values()),
            # the same net of host steal, which moves the raw sum by more
            # than a change to the program would
            "cold_total_net_s": sum(self._per_op("cold_net_s", agg=min).values()),
            "cold_op_p50_s": _median(cold),
            "cold_op_tail_s": tail_s,
            "warm_total_s": sum(self._per_op("warm_s", agg=min).values()),
            "warm_total_net_s": sum(self._per_op("warm_net_s", agg=min).values()),
            "ops_failed_share": failed / max(1, len(runs)),
            "ops_wrong_share": wrong / max(1, len(self.verify)),
            "driver_peak_rss_mb": self.rss_mb,
        }

    def layers(self) -> None:
        from tracing import EventLog

        tr = self.tracer
        log = EventLog(self._event_log_path())
        by_window = log.attribute(tr.windows)
        compile_s = tr.span_seconds(("plans.compile_agg_schema",))

        def jobs(op, p, *phases):
            return [j for ph in phases for j in by_window.get((op, p, ph), [])]

        for op, recs in self.records.items():
            for r in recs:
                p = r["pass"]
                cold_jobs = jobs(op, p, "build", "action")
                r["trace"] = t = {
                    "build_jobs": len(jobs(op, p, "build")),
                    "spark_jobs": len(cold_jobs),
                    "jobs_unattributed": sum(
                        1
                        for j in jobs(op, p, "evict", "build", "action", "warm")
                        if j["group"] != op
                    ),
                    "py4j_calls": tr.py4j[(op, p, "build")][0],
                    "py4j_wait_s": tr.py4j[(op, p, "build")][1],
                    "compile_s": compile_s.get((op, p, "build"), 0.0),
                    "action_executor_run_s": sum(
                        j["executor_run_s"] for j in jobs(op, p, "action")
                    ),
                }
                for field in ("stages", "tasks", "executor_run_s",
                              "executor_cpu_s", "gc_s", "shuffle_read_bytes",
                              "shuffle_write_bytes", "spill_bytes",
                              "arrow_to_python_bytes",
                              "arrow_from_python_bytes"):
                    t[field] = sum(j[field] for j in cold_jobs)
        for op, v in self.verify.items():
            v["trace_collect_jobs"] = len(jobs(op, -1, "verify"))

        traced = {
            op: [dict(r["trace"], ok=r.get("ok")) for r in recs if "trace" in r]
            for op, recs in self.records.items()
        }

        def total(field):
            return sum(self._per_op(field, traced).values())

        self._check_jobs(log, by_window)
        exec_s = sum(self._per_op("action_s").values())
        self.layer.update({
            "operators.build_s": sum(self._per_op("build_s").values()),
            "operators.build_jobs": total("build_jobs"),
            "py4j.calls": total("py4j_calls"),
            "py4j.wait_s": total("py4j_wait_s"),
            "plans.compile_s": total("compile_s"),
            "jvm.jit_cpu_s": sum(self._per_op("jit_cpu_s").values()),
            "registry.evict_s": sum(self._per_op("evict_s").values()),
            "registry.pinned_rdds": sum(self._per_op("pinned_rdds").values()),
            "spark.exec_s": exec_s,
            "spark.jobs": total("spark_jobs"),
            "spark.stages": total("stages"),
            "spark.tasks": total("tasks"),
            "spark.shuffle_read_bytes": total("shuffle_read_bytes"),
            "spark.shuffle_write_bytes": total("shuffle_write_bytes"),
            "spark.spill_bytes": total("spill_bytes"),
            "spark.executor_run_s": total("executor_run_s"),
            "spark.executor_cpu_s": total("executor_cpu_s"),
            "spark.gc_s": total("gc_s"),
            "spark.idle_share": 1.0
            - total("action_executor_run_s") / max(1e-9, exec_s * self.cpus),
            "spark.jobs_unattributed": total("jobs_unattributed"),
            "spark.collect_jobs": sum(
                v.get("collect_jobs", 0) for v in self.verify.values()
            ),
            "arrow.bytes_to_python": total("arrow_to_python_bytes"),
            "arrow.bytes_from_python": total("arrow_from_python_bytes"),
            "trace.cold_total_s": sum(self._per_op("cold_s", agg=min).values()),
            "driver.peak_rss_mb": self.rss_mb,
        })

    def _check_jobs(self, log, by_window) -> None:
        """The job counts read from the scheduler's job ids during the run
        must equal those the event log gives: in total (a dropped listener
        event shows here) and per op run, where the event log's jobs are
        attributed by time window (a window that misses jobs shows here)."""
        from tracing import OUTSIDE

        self.info["event_log_jobs"] = len(log.jobs)
        self.info["jobs_submitted"] = self.jobs_submitted
        self.info["jobs_in_op_windows"] = sum(
            len(v) for k, v in by_window.items() if k != OUTSIDE
        )
        self.info["jobs_outside_windows"] = len(by_window.get(OUTSIDE, []))
        bad = []
        if len(log.jobs) != self.jobs_submitted:
            bad.append(
                f"{len(log.jobs)} jobs in the event log, "
                f"{self.jobs_submitted} submitted"
            )
        for op, recs in self.records.items():
            for r in recs:
                if "jobs" in r and r["jobs"] != r["trace"]["spark_jobs"]:
                    bad.append(
                        f"{op} pass {r['pass']}: {r['jobs']} jobs by id, "
                        f"{r['trace']['spark_jobs']} in its window"
                    )
        for op, v in self.verify.items():
            if "collect_jobs" in v and v["collect_jobs"] != v["trace_collect_jobs"]:
                bad.append(
                    f"{op} verify: {v['collect_jobs']} jobs by id, "
                    f"{v['trace_collect_jobs']} in its window"
                )
        if bad:
            sys.exit("perfbench: job attribution does not add up: " + "; ".join(bad))

    def _event_log_path(self) -> str:
        path = os.path.join(self.log_dir, self.app_id)
        if not os.path.exists(path):
            sys.exit(f"perfbench: event log {path} not found")
        return path


# Units of the end-to-end metrics BENCHMARK.json does not list; the
# units of those it lists come from it.
EXTRA_UNITS = {
    "cold_total_s": "s",
    "warm_total_s": "s",
    "warm_total_net_s": "s",
    "cold_cpu_s": "s",
    "cold_op_p50_s": "s",
    "cold_op_tail_s": "s",
    "ops_failed_share": "share",
    "ops_wrong_share": "share",
    "driver_peak_rss_mb": "MB",
}


def _benchmark_metrics() -> tuple[dict[str, str], list[str], list[str]]:
    """Units of every metric, and the names BENCHMARK.json lists as
    end-to-end and as per-layer metrics."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    units = dict(EXTRA_UNITS)
    units.update((m["name"], m["unit"]) for m in bench["end_to_end"])
    units.update((m["name"], m["unit"]) for m in bench["per_layer"])
    return (
        units,
        [m["name"] for m in bench["end_to_end"]],
        [m["name"] for m in bench["per_layer"]],
    )


def untraced_cold_total(key: dict) -> float | None:
    """Median cold_total_s of the untraced runs in the history with the
    same code, cpus, sf and workload as ``key``; the base of the tracing
    overhead."""
    if not os.path.exists(HISTORY):
        return None
    found = []
    with open(HISTORY) as f:
        for line in f:
            h = json.loads(line)
            if not h["trace"] and all(
                h[k] == key[k] for k in ("tree_hash", "cpus", "sf", "workload")
            ):
                found.append(h["metrics"]["cold_total_s"])
    return _median(found) if found else None


def _overhead_line(info: dict, traced: float) -> str:
    return (
        f"tracing overhead on cold_total_s: {traced:.3f} s traced vs "
        f"{info['untraced_cold_total_s']:.3f} s untraced "
        f"({info['trace_overhead_share']:+.1%})"
    )


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "cs_pipeline_spark")):
        sys.exit("perfbench: run from a checkout that holds cs_pipeline_spark/")
    with open(os.path.join(HERE, "workloads.json")) as f:
        workloads = json.load(f)["workloads"]
    if args.workload not in workloads:
        sys.exit(f"perfbench: unknown workload {args.workload!r}")
    units, gated, per_layer = _benchmark_metrics()
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)

    run = Run(args, workloads[args.workload])
    try:
        run.setup()
        run.measure()
        run.check()
    finally:
        run.close()
    e2e = run.end_to_end()
    if run.tracer:
        run.layers()
    ident = _code_identity()

    for name, value in e2e.items():
        print(f"{name} {value:.4f} {units[name]}")
    c = run.counts
    print(
        f"# {run.name} sf={run.sf} cpus={run.cpus} seed={args.seed} "
        f"passes={run.passes} cold samples={c['cold_samples']} "
        f"tail=p{c['tail_percentile']} "
        f"host steal={run.info['host_steal_share']:.0%} "
        f"fixtures={run.info['fixtures']} "
        f"at {run.info['fixture_root']}"
    )
    if run.tracer:
        untraced = untraced_cold_total(
            {**ident, "cpus": run.cpus, "sf": run.sf, "workload": run.name}
        )
        traced = run.layer["trace.cold_total_s"]
        if untraced:
            run.info["untraced_cold_total_s"] = untraced
            run.info["trace_overhead_share"] = traced / untraced - 1.0
            print(f"# {_overhead_line(run.info, traced)}")
        for name, value in run.layer.items():
            print(f"{name} {value:.6g} {units[name]}")

    record = {
        **ident,
        "time": time.time(),
        "cpus": run.cpus,
        "sf": run.sf,
        "workload": run.name,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "passes": run.passes,
        "metrics": e2e,
        "layers": run.layer,
        "counts": c,
        "info": run.info,
        "ops": {
            op: {
                "warmup_s": run.warmup_s.get(op),
                "runs": run.records[op],
                "verify": run.verify.get(op),
            }
            for op in run.ops
        },
    }
    with open(HISTORY, "a") as f:
        f.write(json.dumps(record) + "\n")
    if run.tracer:
        trace_dir = os.path.join(WORK, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        with open(
            os.path.join(trace_dir, f"{run.name}-{int(record['time'])}.json"), "w"
        ) as f:
            json.dump({**record, "spans": run.tracer.spans_json()}, f)

    if args.trace:
        metrics = {k: {"value": run.layer[k], "unit": units[k]} for k in per_layer}
    else:
        metrics = {k: {"value": e2e[k], "unit": units[k]} for k in gated}
    print(
        json.dumps({
            "correct": c["wrong"] == 0 and c["failed"] == 0
            and not c["unmeasured_ops"],
            "attempted": c["attempted"],
            "failed": c["failed"],
            "metrics": metrics,
        })
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
