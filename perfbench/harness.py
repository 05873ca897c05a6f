"""Process set-up shared by the workloads: a work directory inside the
checkout, the engine session, run stamps, host-speed probes, memory
and GC readings, and the traced run's instruments (job groups, Py4J
round-trip counter, Spark UI REST reader, streaming progress
listener)."""

from __future__ import annotations

import json
import os
import platform
import shutil
import statistics
import subprocess
import time
import urllib.request

CPUS = "4"
DRIVER_MEM = "2g"


def prepare_env(root: str) -> str:
    """Point every scratch location of the engine, the JVM and Python
    at ``<root>/.bench_work`` and pin the engine's core count. Must run
    before the JVM starts."""
    work = os.path.join(root, ".bench_work")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = CPUS
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ.pop("SPARK_MASTER", None)
    return work


def boot(work: str, traced: bool):
    """Start the engine session through `session.get_spark`."""
    from binance_etl_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": tmp,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if traced:
        conf.update({
            "spark.ui.enabled": "true",
            "spark.ui.port": "0",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.ui.retainedTasks": "10",
        })
    spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_engine(spark) -> None:
    """Stop the session, then the JVM it runs in: pyspark's gateway JVM
    exits when its stdin closes. Waits until the JVM has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 - the JVM may already be gone
        pass
    if proc.stdin is not None:
        proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def stamps(root: str, seed: int, spark) -> dict:
    """What a result must carry to be compared with another."""
    system = spark._jvm.java.lang.System
    java = f'{system.getProperty("java.vm.name")} {system.getProperty("java.version")}'
    commit = "unknown"
    marker = os.path.join(root, ".git")
    if os.path.isdir(marker):
        r = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=30)
        commit = r.stdout.strip() or "unknown"
    return {
        "host": platform.node(),
        "nproc": os.cpu_count(),
        "cpu_model": _cpu_model(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "spark": spark.version,
        "python": platform.python_version(),
        "java": java,
        "seed": seed,
        "commit": commit,
        "tree": _tree_digest(root),
    }


def _cpu_model() -> str:
    try:
        with open("/proc/cpuinfo") as f:
            for line in f:
                if line.startswith("model name"):
                    return line.split(":", 1)[1].strip()
    except OSError:
        pass
    return platform.processor() or "unknown"


def _tree_digest(root: str) -> str:
    """Digest of the engine sources, standing in for the commit when
    the checkout is not a git repository."""
    import hashlib

    h = hashlib.sha1()
    pkg = os.path.join(root, "binance_etl_spark")
    for dirpath, dirs, files in os.walk(pkg):
        dirs.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                p = os.path.join(dirpath, name)
                h.update(os.path.relpath(p, root).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(spark) -> float:
    """Peak resident set of this driver process plus the engine JVM."""
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    return (_vm_hwm_kb("self") + _vm_hwm_kb(jvm_pid)) / 1024.0


PROBE_REPS = 5


def py_probe_ms() -> float:
    """Median wall of a fixed pure-Python CPU loop: the host's
    single-core speed as this interpreter sees it."""
    walls = []
    for _ in range(PROBE_REPS):
        t = time.perf_counter()
        x = 0
        for i in range(400_000):
            x = (x * 31 + i) & 0xFFFFFFFF
        walls.append((time.perf_counter() - t) * 1000)
    return statistics.median(walls)


def jvm_probe_ms(spark) -> float:
    """Median wall of a fixed all-core job inside the engine JVM: a
    parallel sort of 1M seeded ints on the fork-join common pool,
    independent of the engine code."""
    arrays = spark._jvm.java.util.Arrays
    ints = spark._jvm.java.util.Random(1).ints(1_000_000).toArray()
    walls = []
    for i in range(PROBE_REPS + 3):  # the first three let the JIT compile
        work = arrays.copyOf(ints, 1_000_000)
        t = time.perf_counter()
        arrays.parallelSort(work)
        if i >= 3:
            walls.append((time.perf_counter() - t) * 1000)
    return statistics.median(walls)


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host since boot, from /proc/stat;
    (0, 0) where the file is missing."""
    try:
        with open("/proc/stat") as f:
            vals = [int(v) for v in f.readline().split()[1:]]
    except (OSError, ValueError):
        return 0, 0
    return (vals[7] if len(vals) > 7 else 0), sum(vals[:8])


def steal_share(t0: tuple[int, int], t1: tuple[int, int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between
    two `cpu_ticks` readings."""
    total = t1[1] - t0[1]
    return (t1[0] - t0[0]) / total if total > 0 else 0.0


def gc_seconds(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0


class Py4JCounter:
    """Counts driver->JVM round-trips at
    `py4j.clientserver.ClientServerConnection.send_command`."""

    def __init__(self):
        self.calls = 0
        self._orig = None

    def install(self) -> None:
        from py4j import clientserver

        orig = clientserver.ClientServerConnection.send_command
        counter = self

        def send_command(conn, command, *args, **kwargs):
            counter.calls += 1
            return orig(conn, command, *args, **kwargs)

        self._orig = orig
        clientserver.ClientServerConnection.send_command = send_command

    def uninstall(self) -> None:
        if self._orig is not None:
            from py4j import clientserver

            clientserver.ClientServerConnection.send_command = self._orig
            self._orig = None


class Tracer:
    """Traced-run instruments: one Spark job group per op, Py4J
    round-trips and the jobs/stages the UI REST API attributes to the
    group (the way scripts/job_ledger.py reads them)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.py4j = Py4JCounter()
        self.py4j.install()
        self.ops: list[dict] = []
        self._n = 0

    def close(self) -> None:
        self.py4j.uninstall()

    def op(self, name: str):
        return _TracedOp(self, name)

    def _rest(self, path: str):
        url = f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}/{path}"
        with urllib.request.urlopen(url, timeout=30) as r:
            return json.load(r)

    def resolve(self) -> list[dict]:
        """Attach jobs, tasks, CPU, shuffle bytes and in-job time to
        every recorded op (one REST read for the whole run)."""
        jobs = self._rest("jobs")
        stages = {s["stageId"]: s for s in self._rest("stages?status=complete")}
        by_group: dict[str, list[dict]] = {}
        for j in jobs:
            by_group.setdefault(j.get("jobGroup") or "", []).append(j)
        for op in self.ops:
            js = by_group.get(op["group"], [])
            spans = [(_ts(j.get("submissionTime")), _ts(j.get("completionTime"))) for j in js]
            spans = [(a, b) for a, b in spans if a is not None and b is not None]
            sids = {sid for j in js for sid in j.get("stageIds", [])}
            st = [stages[s] for s in sids if s in stages]
            op.update(
                jobs=len(js),
                tasks=sum(s.get("numCompleteTasks", 0) for s in st),
                task_cpu_s=sum(s.get("executorCpuTime", 0) for s in st) / 1e9,
                task_run_s=sum(s.get("executorRunTime", 0) for s in st) / 1e3,
                shuffle_bytes=sum(s.get("shuffleReadBytes", 0) + s.get("shuffleWriteBytes", 0) for s in st),
                in_jobs_s=_union(spans),
            )
            op["driver_s"] = max(0.0, op["wall_s"] - op["in_jobs_s"])
        return self.ops


class _TracedOp:
    def __init__(self, tracer: Tracer, name: str):
        self.t, self.name = tracer, name

    def __enter__(self):
        self.t._n += 1
        self.group = f"perfbench:{self.t._n}:{self.name}"
        self.t.sc.setJobGroup(self.group, self.name)
        self.calls0 = self.t.py4j.calls
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        wall = time.perf_counter() - self.t0
        self.t.sc.setJobGroup("", "")
        self.t.ops.append({
            "name": self.name, "group": self.group, "wall_s": wall,
            "py4j_calls": self.t.py4j.calls - self.calls0,
        })
        return False


def _ts(s: str | None) -> float | None:
    if not s:
        return None
    from datetime import datetime

    return datetime.strptime(s.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def _union(spans: list[tuple[float, float]]) -> float:
    total, end = 0.0, None
    for a, b in sorted(spans):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


class ProgressRecorder:
    """StreamingQueryListener keeping every progress event: the
    engine's own per-trigger phase split, keyed by query id."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        events: list[dict] = []

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                events.append(json.loads(event.progress.json))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.events = events
        self.listener = _Listener()
