"""Shared machinery of the benchmark.

- one Spark session configuration for every workload, sized to the host;
- per-call wall samples and the statistics reported from them;
- peak memory: RSS of the driver Python process and of each Python
  worker, and the JVM's peak heap use;
- host-contention annotations (steal, CPU pressure, sibling CPU);
- the tracer used by ``--trace 1``: named spans around calls into the
  program's layers, plus Spark's own counters read around those calls
  (job group -> jobs/stages/tasks, QueryExecution planning phases and
  SQL metrics, streaming progress, GC MXBeans).

The tracer is a no-op unless enabled, so untraced runs register no
listeners and read no counters.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import threading
import time
import uuid
from contextlib import contextmanager

DRIVER_MEMORY = "2g"


def host_cpus() -> int:
    """Cores this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


# ---------------------------------------------------------------------------
# Work directory: everything the run writes lives under the checkout
# ---------------------------------------------------------------------------


class WorkDir:
    def __init__(self, root: str, tag: str):
        self.path = os.path.join(root, ".perfbench_work", f"{tag}-{os.getpid()}")
        self.tmp = os.path.join(self.path, "tmp")
        self.local = os.path.join(self.path, "spark-local")
        self.warehouse = os.path.join(self.path, "warehouse")
        for d in (self.tmp, self.local):
            os.makedirs(d, exist_ok=True)
        # Spark, pyarrow, the package's deploy zip and Python's tempfile
        # all honour TMPDIR; the JVM gets it through java.io.tmpdir
        os.environ["TMPDIR"] = self.tmp
        os.environ["SPARK_LOCAL_DIRS"] = self.local
        import tempfile

        tempfile.tempdir = self.tmp

    def sub(self, name: str) -> str:
        p = os.path.join(self.path, name)
        os.makedirs(p, exist_ok=True)
        return p

    def remove(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        parent = os.path.dirname(self.path)
        try:
            os.rmdir(parent)
        except OSError:
            pass


# ---------------------------------------------------------------------------
# Session
# ---------------------------------------------------------------------------


def start_session(cpus: int, work: WorkDir):
    """The one session configuration used by every workload: the
    engine's tuned planning policy at ``local[cpus]``, plus deployment
    settings that keep memory small and every file inside the checkout.
    The heap has a fixed size (``-Xms`` = ``-Xmx``) so that the garbage
    collector sizes its generations the same way in every run."""
    from gpq_spark.session import tuned_builder

    spark = (
        tuned_builder(master=f"local[{cpus}]", app_name="perfbench")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config(
            "spark.driver.extraJavaOptions",
            f"-Xms{DRIVER_MEMORY} -XX:-UsePerfData -Djava.io.tmpdir={work.tmp}",
        )
        .config("spark.local.dir", work.local)
        .config("spark.sql.warehouse.dir", work.warehouse)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the session, then the JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 - the JVM may already be gone
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:  # noqa: BLE001
            pass
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


# ---------------------------------------------------------------------------
# Statistics over samples
# ---------------------------------------------------------------------------


def median(xs: list[float]) -> float:
    return float(statistics.median(xs))


def geomean(xs: list[float]) -> float:
    return math.exp(sum(math.log(max(x, 1e-9)) for x in xs) / len(xs))


def tail(xs: list[float]) -> tuple[float, float, int]:
    """(value, percentile, samples beyond it): the highest percentile
    with at least ten samples above it. With fewer than eleven samples
    no such percentile exists and the maximum is reported (percentile
    100, zero beyond)."""
    s = sorted(xs)
    n = len(s)
    if n < 11:
        return s[-1], 100.0, 0
    k = n - 11  # index with exactly ten samples above it
    return s[k], round(100.0 * (k + 1) / n, 1), n - 1 - k


def summary(xs: list[float]) -> dict:
    if not xs:
        return {"n": 0}
    q = statistics.quantiles(xs, n=4) if len(xs) > 1 else [xs[0]] * 3
    return {"n": len(xs), "median": median(xs), "q1": q[0], "q3": q[2]}


# ---------------------------------------------------------------------------
# Peak memory
# ---------------------------------------------------------------------------


def _process_table() -> dict[int, tuple[int, int, str]]:
    """pid -> (ppid, cpu ticks, comm) for every live process."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        comm = raw[raw.index("(") + 1 : raw.rindex(")")]
        parts = raw.rsplit(")", 1)[1].split()
        out[int(d)] = (int(parts[1]), int(parts[11]) + int(parts[12]), comm)
    return out


def _descendants(table: dict[int, tuple[int, int, str]], root: int) -> set[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, _t, _c) in table.items():
        children.setdefault(ppid, []).append(pid)
    seen, stack = {root}, [root]
    while stack:
        for c in children.get(stack.pop(), []):
            if c not in seen:
                seen.add(c)
                stack.append(c)
    return seen


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


class RssSampler:
    """Samples the RSS of this process and its descendants: the peak of
    the tree's sum, the peaks of the driver, the JVM and all Python
    workers taken apart, and the peak of the largest single worker.

    Other descendants are not counted: they are short-lived helpers the
    JVM starts with ``posix_spawn``, which share the JVM's address space
    until they exec, so their RSS reads as a second copy of the JVM's."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peaks = {"tree": 0, "driver": 0, "jvm": 0, "workers": 0, "worker_max": 0}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        table = _process_table()
        me = os.getpid()
        parts = {"driver": 0, "jvm": 0, "workers": 0, "worker_max": 0}
        for pid in _descendants(table, me):
            rss = _rss_bytes(pid)
            if pid == me:
                parts["driver"] += rss
            elif table[pid][2] == "java":
                parts["jvm"] += rss
            elif table[pid][2].startswith("python"):
                parts["workers"] += rss
                parts["worker_max"] = max(parts["worker_max"], rss)
        parts["tree"] = parts["driver"] + parts["jvm"] + parts["workers"]
        for k, v in parts.items():
            self.peaks[k] = max(self.peaks[k], v)

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> dict[str, float]:
        """Peaks in MiB."""
        self._stop.set()
        self._thread.join()
        self._sample()
        return {k: v / (1 << 20) for k, v in self.peaks.items()}


def jvm_memory_mb(spark) -> dict[str, float]:
    """The JVM's retained heap and its non-heap pools, in MiB. The heap
    figure is the heap in use right after a full collection, taken once
    the workload is done: what the program keeps. Neither the heap's
    peak use nor the JVM's RSS is used; both follow how far the
    collector lets the young generation grow, and heap use right after
    the collections that happened to run moved between 74 and 276 MB
    across runs of the same code. Non-heap (metaspace, code cache) is
    the sum of the pools' peaks: it grows with the classes Spark
    generates."""
    mgmt = spark._jvm.java.lang.management
    memory = mgmt.ManagementFactory.getMemoryMXBean()
    memory.gc()
    non_heap = sum(
        p.getPeakUsage().getUsed()
        for p in mgmt.ManagementFactory.getMemoryPoolMXBeans()
        if p.getType() != mgmt.MemoryType.HEAP
    )
    mib = 1 << 20
    return {
        "jvm_retained_heap": memory.getHeapMemoryUsage().getUsed() / mib,
        "jvm_non_heap": non_heap / mib,
    }


# ---------------------------------------------------------------------------
# Host-contention annotations (recorded, never used to drop samples)
# ---------------------------------------------------------------------------


def _cpu_stat() -> tuple[int, int, int]:
    """(steal ticks, busy ticks, total ticks) from the aggregate cpu line."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    steal = vals[7] if len(vals) > 7 else 0
    return steal, sum(vals) - vals[3] - vals[4], sum(vals)


def _cpu_pressure_us() -> int:
    try:
        with open("/proc/pressure/cpu") as f:
            fields = dict(p.split("=") for p in f.readline().split()[1:])
        return int(fields.get("total", 0))
    except (OSError, ValueError):
        return 0


class HostProbe:
    """Steal share, CPU-pressure stall share and CPU used by processes
    outside this process tree, over one window."""

    def start(self) -> "HostProbe":
        self.t0 = time.perf_counter()
        self.stat0 = _cpu_stat()
        self.psi0 = _cpu_pressure_us()
        self.table0 = _process_table()
        return self

    def stop(self) -> dict:
        wall = max(time.perf_counter() - self.t0, 1e-6)
        steal1, busy1, total1 = _cpu_stat()
        psi1 = _cpu_pressure_us()
        table1 = _process_table()
        ours = _descendants(table1, os.getpid()) | _descendants(self.table0, os.getpid())
        ours_ticks = sum(
            max(0, table1[p][1] - self.table0.get(p, (0, 0, ""))[1])
            for p in ours
            if p in table1
        )
        steal0, busy0, total0 = self.stat0
        sibling_ticks = max(0, (busy1 - busy0) - ours_ticks)
        return {
            "steal_pct": round(100.0 * (steal1 - steal0) / max(1, total1 - total0), 2),
            "cpu_stall_pct": round(100.0 * (psi1 - self.psi0) / (wall * 1e6), 2),
            "sibling_cores": round(sibling_ticks / 100.0 / wall, 2),
            "loadavg1": os.getloadavg()[0],
        }


# ---------------------------------------------------------------------------
# Tracer
# ---------------------------------------------------------------------------

_SCAN_NODES = ("FileSourceScanExec", "BatchScanExec")
_PYTHON_METRICS = ("pythonDataSent", "pythonDataReceived")


def _metric(metrics, key: str) -> int:
    m = metrics.get(key)
    return m.value() if m is not None else 0


class _QueryExecutionListener:
    """py4j implementation of Spark's QueryExecutionListener: records the
    planning phases and the SQL metrics of every finished action,
    including the actions the program runs internally."""

    def __init__(self, jvm):
        self.jvm = jvm
        self.records: list[dict] = []

    def _as_java(self, obj):
        return self.jvm.scala.jdk.javaapi.CollectionConverters.asJava(obj)

    def _walk(self, plan, rec: dict) -> None:
        """Sum scan and Python-worker SQL metrics over the final plan.
        Metrics are fetched only from those nodes: every py4j call runs
        on the listener thread, between the benchmark's calls."""
        name = plan.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            self._walk(plan.executedPlan(), rec)
            return
        if name.endswith("QueryStageExec"):
            self._walk(plan.plan(), rec)
            return
        if name in _SCAN_NODES:
            m = self._as_java(plan.metrics())
            rec["scan_files"] += _metric(m, "numFiles")
            rec["scan_rows"] += _metric(m, "numOutputRows")
        elif "Python" in name or "InPandas" in name or "InArrow" in name:
            m = self._as_java(plan.metrics())
            rec["udf_rows"] += _metric(m, "pythonNumRowsReceived")
            rec["python_bytes"] += sum(_metric(m, k) for k in _PYTHON_METRICS)
        for child in self._as_java(plan.children()):
            self._walk(child, rec)

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 - Java API
        phases = self._as_java(qe.tracker().phases())
        rec = {
            "analysis_ms": 0, "optimization_ms": 0, "planning_ms": 0,
            "scan_files": 0, "scan_rows": 0,
            "udf_rows": 0, "python_bytes": 0,
        }
        for phase in ("analysis", "optimization", "planning"):
            if phase in phases:
                rec[f"{phase}_ms"] = phases[phase].durationMs()
        self._walk(qe.executedPlan(), rec)
        self.records.append(rec)

    def onFailure(self, func_name, qe, exception):  # noqa: N802 - Java API
        pass

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class ActionPlans:
    """py4j implementation of Spark's QueryExecutionListener that keeps
    the executed plan of every action finishing inside ``capture()``:
    the plan of the action that ran, not the DataFrame's own plan."""

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        self._sc = spark.sparkContext
        ensure_callback_server_started(self._sc._gateway)
        self._armed = False
        self.plans: list[tuple[str, str]] = []
        spark._jsparkSession.listenerManager().register(self)

    @contextmanager
    def capture(self):
        """Yields the list the plans of the block's actions go to, as
        (action name, executed plan). It is complete once the block has
        exited: listeners run on Spark's listener thread."""
        self.plans = []
        self._armed = True
        try:
            yield self.plans
        finally:
            self._sc._jsc.sc().listenerBus().waitUntilEmpty()
            self._armed = False

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 - Java API
        if self._armed:
            self.plans.append((func_name, qe.executedPlan().toString()))

    def onFailure(self, func_name, qe, exception):  # noqa: N802 - Java API
        pass

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def _streaming_listener_class():
    from pyspark.sql.streaming import StreamingQueryListener

    class _ProgressListener(StreamingQueryListener):
        def __init__(self):
            self.batches: list[dict] = []

        def onQueryStarted(self, event):  # noqa: N802 - pyspark API
            pass

        def onQueryProgress(self, event):  # noqa: N802
            p = event.progress
            self.batches.append(
                {
                    "ms": p.durationMs.get("triggerExecution", 0),
                    "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                    "state_bytes": sum(s.memoryUsedBytes for s in p.stateOperators),
                }
            )

        def onQueryIdle(self, event):  # noqa: N802
            pass

        def onQueryTerminated(self, event):  # noqa: N802
            pass

    return _ProgressListener()


SPARK_COUNTERS = (
    "jobs", "stages", "tasks", "shuffle_write_bytes", "spill_bytes",
    "input_bytes", "gc_ms", "analysis_ms", "optimization_ms", "planning_ms",
    "scan_files", "scan_rows", "udf_rows", "python_bytes",
    "stream_batches", "stream_batch_ms", "stream_state_rows",
    "stream_state_bytes",
)


class Tracer:
    """Per-layer samples. ``span`` times a call; ``spark_window`` reads
    Spark's counters around it. Both record nothing when disabled."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.samples: dict[str, list[float]] = {}
        self._spark = None

    def add(self, name: str, value: float) -> None:
        if self.enabled:
            self.samples.setdefault(name, []).append(float(value))

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.add(name, time.perf_counter() - t0)

    def attach(self, spark) -> None:
        """Register the listeners on a (new) session."""
        if not self.enabled:
            return
        from pyspark.java_gateway import ensure_callback_server_started

        ensure_callback_server_started(spark.sparkContext._gateway)
        self._spark = spark
        self._qel = _QueryExecutionListener(spark._jvm)
        spark._jsparkSession.listenerManager().register(self._qel)
        self._sql = _streaming_listener_class()
        spark.streams.addListener(self._sql)

    def _gc_ms(self) -> int:
        beans = self._spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return int(sum(b.getCollectionTime() for b in beans))

    @contextmanager
    def spark_window(self, out: dict):
        """Fill ``out`` with the Spark counters of everything run inside
        the block: one job group for the block, stage data from the
        status store, planning phases and SQL metrics of every finished
        action, streaming progress, and GC time."""
        if not self.enabled:
            yield
            return
        spark = self._spark
        sc = spark.sparkContext
        group = f"perfbench-{uuid.uuid4().hex[:12]}"
        n_qe = len(self._qel.records)
        n_sb = len(self._sql.batches)
        gc0 = self._gc_ms()
        sc.setJobGroup(group, group)
        try:
            yield
        finally:
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            c = dict.fromkeys(SPARK_COUNTERS, 0)
            c["gc_ms"] = self._gc_ms() - gc0
            store = sc._jsc.sc().statusStore()
            jvm = spark._jvm
            no_quantiles = sc._gateway.new_array(jvm.double, 0)
            tracker = sc.statusTracker()
            for job in tracker.getJobIdsForGroup(group):
                c["jobs"] += 1
                info = tracker.getJobInfo(job)
                for sid in info.stageIds if info else []:
                    attempts = store.stageData(
                        sid, False, jvm.java.util.ArrayList(), False, no_quantiles
                    )
                    it = attempts.iterator()
                    while it.hasNext():
                        d = it.next()
                        c["stages"] += 1
                        c["tasks"] += d.numTasks()
                        c["shuffle_write_bytes"] += d.shuffleWriteBytes()
                        c["spill_bytes"] += d.memoryBytesSpilled() + d.diskBytesSpilled()
                        c["input_bytes"] += d.inputBytes()
            for rec in self._qel.records[n_qe:]:
                for k, v in rec.items():
                    c[k] += v
            for b in self._sql.batches[n_sb:]:
                c["stream_batches"] += 1
                c["stream_batch_ms"] += b["ms"]
                c["stream_state_rows"] = max(c["stream_state_rows"], b["state_rows"])
                c["stream_state_bytes"] = max(c["stream_state_bytes"], b["state_bytes"])
            out.update(c)


NO_TRACE = Tracer(False)


def sum_counters(windows: list[dict]) -> dict:
    total = dict.fromkeys(SPARK_COUNTERS, 0)
    for w in windows:
        for k in SPARK_COUNTERS:
            if k.startswith("stream_state"):
                total[k] = max(total[k], w.get(k, 0))
            else:
                total[k] += w.get(k, 0)
    return total


def add_spark_layer(tracer: Tracer, c: dict) -> None:
    """The ``spark.*``, ``scan.*`` counts, ``functions.*`` and
    ``streaming.*`` per-layer samples of one pass."""
    for k in ("analysis_ms", "optimization_ms", "planning_ms", "stages", "tasks",
              "shuffle_write_bytes", "spill_bytes", "gc_ms"):
        tracer.add(f"spark.{k}", c[k])
    tracer.add("scan.files_read", c["scan_files"])
    tracer.add("scan.rows_scanned", c["scan_rows"])
    tracer.add("scan.bytes_read", c["input_bytes"])
    tracer.add("functions.udf_rows", c["udf_rows"])
    tracer.add("functions.python_bytes", c["python_bytes"])
    tracer.add("streaming.batches", c["stream_batches"])
    tracer.add("streaming.batch_ms", c["stream_batch_ms"])
    tracer.add("streaming.state_rows", c["stream_state_rows"])
    tracer.add("streaming.state_bytes", c["stream_state_bytes"])


# ---------------------------------------------------------------------------
# The run: set-up, samples, result
# ---------------------------------------------------------------------------


class Run:
    """State shared by a workload's set-up and timed loop."""

    def __init__(self, args, root: str, t_process: float):
        self.seed = args.seed
        self.seconds = args.seconds
        self.cpus = host_cpus()
        self.work = WorkDir(root, args.workload)
        self.tracer = Tracer(bool(args.trace))
        self.t_process = t_process
        self.spark = None
        self.host: HostProbe | None = None
        self.session_s = 0.0
        self.setup_s = 0.0
        self.calls: dict[str, list[float]] = {}
        self.passes: list[dict] = []
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.notes: dict = {"cpus": self.cpus, "seed": self.seed}

    def start(self) -> None:
        """Start the session: JVM launch, Spark context, package deploy."""
        from gpq_spark.deploy import ensure_deployed

        self.spark = start_session(self.cpus, self.work)
        ensure_deployed(self.spark)
        self.session_s = time.perf_counter() - self.t_process
        self.tracer.add("session.start_s", self.session_s)
        self.tracer.attach(self.spark)

    def begin_timed(self) -> float:
        """End of set-up: ``setup_s`` is the time from process start to
        here, just before the first timed call. Returns the start of the
        timed loop."""
        self.setup_s = time.perf_counter() - self.t_process
        self.host = HostProbe().start()
        return time.perf_counter()

    def record(self, kind: str, wall: float) -> None:
        self.calls.setdefault(kind, []).append(wall)

    def check(self, ok: bool, what: str) -> bool:
        """Count one attempted call; a wrong output counts as failed."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.failures) < 20:
                self.failures.append(what)
        return ok

    def fail(self, what: str, exc: BaseException) -> None:
        self.attempted += 1
        self.failed += 1
        if len(self.failures) < 20:
            self.failures.append(f"{what}: {type(exc).__name__}: {exc}"[:300])

    def done(self, t_start: float, passes: int, min_passes: int) -> bool:
        """Measuring ends once ``--seconds`` have gone by and at least
        ``min_passes`` passes are complete. A fixed minimum keeps the
        number of passes, and so what their median covers, the same
        from run to run."""
        return passes >= min_passes and time.perf_counter() - t_start >= self.seconds
