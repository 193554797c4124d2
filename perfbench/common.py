"""Run environment, session set-up, tracing and engine counters shared by
the workloads.

Import order matters: ``pin_environment`` must run before pyspark starts a
JVM, because heap size, core count and scratch directories are fixed at
JVM launch.
"""

from __future__ import annotations

import contextlib
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

#: Driver heap: sized for a 4-core, 15 GB host that other jobs share;
#: every workload's working set fits well inside 2 GB.
DRIVER_MEM = "2g"
#: The JIT's compiler threads live as long as the JVM, so ``CpuClock`` can
#: read their CPU time apart from the rest (by default HotSpot starts and
#: retires them as the compile queue grows and shrinks).
JVM_OPTIONS = "-XX:-UseDynamicNumberOfCompilerThreads"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def pin_environment(work: str) -> dict:
    """Fix every setting the package reads from the environment.

    All ``SPARK_GRAFT_*`` overrides are cleared so the default code paths
    run; the core count follows the host and every scratch directory sits
    under ``work``. Returns the settings for the result record."""
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(nproc()),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
    )
    tempfile.tempdir = tmp
    return {
        "_steal0": steal_seconds(),
        "nproc": nproc(),
        "driver_mem": DRIVER_MEM,
        "jvm_options": JVM_OPTIONS,
        "master": f"local[{nproc()}]",
        "loadavg_start": list(os.getloadavg()),
        "python": platform.python_version(),
    }


def steal_seconds() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def get_session(work: str):
    from etl_capnz_spark.session import get_session as _get

    tmp = os.path.join(work, "tmp")
    spark = _get(
        "perfbench",
        extra_confs={
            "spark.driver.extraJavaOptions": f"{JVM_OPTIONS} -Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.sql.streaming.numRecentProgressUpdates": "2000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()  # the session is ready when a job has run
    return spark


def set_up(work: str, restarts: int = 5):
    """Start the session, then tear it down and start it again
    ``restarts`` times in the same JVM.

    Returns (spark, cold_start_s, [set-up seconds of each restart]). The
    cold start includes the JVM launch; each restart is what the package
    pays per session (context, confs, first job)."""
    t = time.perf_counter()
    spark = get_session(work)
    cold = time.perf_counter() - t
    times = []
    for _ in range(restarts):
        spark.stop()
        t = time.perf_counter()
        spark = get_session(work)
        times.append(time.perf_counter() - t)
    return spark, cold, times


def versions(spark) -> dict:
    import pyspark

    jvm = spark._jvm
    return {
        "pyspark": pyspark.__version__,
        "spark": spark.version,
        "java": jvm.java.lang.System.getProperty("java.version"),
    }


class CpuClock:
    """CPU seconds (user + system) used so far by the driver JVM and this
    Python process, and the part of them the JVM's JIT compiler threads
    used. Time the hypervisor gives other guests (steal) is not charged to
    a process, so a pass's CPU seconds move far less with the host's load
    than its wall time does."""

    def __init__(self, spark):
        pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        self._stat = f"/proc/{pid}/stat"
        self._tck = os.sysconf("SC_CLK_TCK")
        self._jit = []
        for tid in os.listdir(f"/proc/{pid}/task"):
            try:
                with open(f"/proc/{pid}/task/{tid}/comm") as fh:
                    name = fh.read()
            except OSError:  # a thread that ended since the listing
                continue
            if "CompilerThre" in name:
                self._jit.append(f"/proc/{pid}/task/{tid}/stat")
        if not self._jit:
            raise RuntimeError(f"no JIT compiler threads found in JVM {pid}")

    def _cpu(self, stat: str) -> float:
        with open(stat) as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
        return (int(fields[11]) + int(fields[12])) / self._tck

    def read(self) -> tuple[float, float]:
        """(all CPU seconds, JIT compiler threads' CPU seconds)."""
        own = os.times()
        total = self._cpu(self._stat) + own.user + own.system
        return total, sum(self._cpu(t) for t in self._jit)


def _hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


def peak_rss_mb(spark) -> float:
    """Driver JVM peak resident set plus this Python process's."""
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    return (_hwm_kb(jvm_pid) + _hwm_kb("self")) / 1024.0


class EngineCounters:
    """Spark stage counters between two snapshots, read from the status
    store every job reports to (the same store the public status tracker
    reads)."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._tracker = sc.statusTracker()
        self._store = sc._jsc.sc().statusStore()
        gw = sc._gateway
        # stageList(statuses, details, withSummaries, quantiles, taskStatus)
        self._args = (None, False, False, gw.new_array(gw.jvm.double, 0), gw.jvm.java.util.ArrayList())
        self._seen_stages: set[int] = set()
        self._seen_jobs: set[int] = set()
        self.mark()

    def _stages(self):
        seq = self._store.stageList(*self._args)
        return [seq.apply(i) for i in range(seq.size())]

    def _job_ids(self) -> set[int]:
        return set(self._tracker.getJobIdsForGroup())

    def mark(self) -> None:
        self._seen_stages = {s.stageId() for s in self._stages()}
        self._seen_jobs = self._job_ids()

    def since_mark(self) -> dict:
        """Counters of the jobs and stages that ran since ``mark``."""
        out = {
            "spark.jobs": 0,
            "spark.tasks": 0,
            "spark.tasks_failed": 0,
            "spark.shuffle_write_bytes": 0,
            "spark.spill_bytes": 0,
        }
        jobs = self._job_ids()
        out["spark.jobs"] = len(jobs - self._seen_jobs)
        for s in self._stages():
            if s.stageId() in self._seen_stages:
                continue
            out["spark.tasks"] += s.numCompleteTasks() + s.numFailedTasks()
            out["spark.tasks_failed"] += s.numFailedTasks()
            out["spark.shuffle_write_bytes"] += s.shuffleWriteBytes()
            out["spark.spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        self.mark()
        return out


class Tracer:
    """In-memory spans: name, start, end, parent and run id.

    Disabled tracers record nothing, so untraced passes pay one attribute
    check per span site."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_time(self, span: dict) -> float:
        """Span duration minus the part its children cover (children of
        one span never overlap: spans are opened on one thread)."""
        kids = sum(
            s["end"] - s["start"] for s in self.spans if s["parent"] == span["id"]
        )
        return span["end"] - span["start"] - kids

    def _under(self, span: dict, root: str) -> bool:
        while span["parent"] is not None:
            span = self.spans[span["parent"]]
            if span["name"] == root:
                return True
        return False

    def total_self(self, name: str, under: str) -> float:
        """Summed self time of the spans called ``name`` inside a span
        called ``under``."""
        return sum(
            self.self_time(s)
            for s in self.spans
            if s["name"] == name and self._under(s, under)
        )

    def median_ms(self, name: str) -> float:
        d = [(s["end"] - s["start"]) * 1000 for s in self.spans if s["name"] == name]
        return statistics.median(d) if d else 0.0



def closed_loop(one, seconds: float, trace: bool, warm: int, nominal_pass_s: float) -> dict:
    """Drive ``one(traced: bool) -> (wall s, CPU s, JIT CPU s)`` as one
    closed-loop client: a cold pass, ``warm`` unmeasured warm-up passes,
    then ``seconds / nominal_pass_s`` measured passes (at least three).

    The JIT keeps compiling for many passes, and a pass's CPU seconds
    fall as it does; a fixed pass count measures the same passes of that
    curve on a fast host and a slow one, where a fixed time would not.
    ``nominal_pass_s`` is a warm pass's wall time on a quiet 4-core host;
    measuring stops early, after three passes, once three times
    ``seconds`` have gone by. A traced run pairs every measured pass
    with a traced one, alternating the order of each pair so that the
    JIT warming across passes does not bias the overhead estimate."""
    cold = one(False)[0]
    warmups = [one(False)[0] for _ in range(warm)]
    n = max(3, round(seconds / nominal_pass_s))
    measured: list[tuple[float, float, float]] = []
    traced: list[float] = []
    t_end = time.perf_counter() + 3 * seconds
    while len(measured) < n and (len(measured) < 3 or time.perf_counter() < t_end):
        if trace and len(measured) % 2:
            traced.append(one(True)[0])
            measured.append(one(False))
        else:
            measured.append(one(False))
            if trace:
                traced.append(one(True)[0])
    return {
        "cold": cold,
        "warmup": warmups,
        "walls": [w for w, _, _ in measured],
        "cpus": [c for _, c, _ in measured],
        "exec_cpus": [c - j for _, c, j in measured],
        "traced": traced,
    }


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in [0, 100])."""
    s = sorted(values)
    k = max(0, min(len(s) - 1, -(-len(s) * q // 100) - 1))
    return s[int(k)]


def dir_output(path: str) -> tuple[list[str], int, int]:
    """Feature ids, bytes and part-file count of an NDJSON sink directory.

    Each line starts ``{"id":"<feature id>",`` (sinks.geojson)."""
    ids: list[str] = []
    nbytes = files = 0
    for name in sorted(os.listdir(path)):
        if not name.startswith("part-"):
            continue
        files += 1
        full = os.path.join(path, name)
        nbytes += os.path.getsize(full)
        with open(full) as fh:
            for line in fh:
                ids.append(line[7 : line.index('"', 7)])
    return ids, nbytes, files


def release(spark) -> None:
    """Between passes, outside the timed region: collect garbage on both
    sides so that checkpoint and shuffle blocks whose DataFrames are gone
    are released (Spark's context cleaner acts on JVM collection), and
    every pass starts from the same memory state."""
    import gc

    gc.collect()
    spark._jvm.java.lang.System.gc()


def _descendants(pid: int) -> list[int]:
    """Every live process under ``pid``, read from /proc."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [pid]
    while todo:
        kids = children.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def _alive(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_jvm(timeout: float = 30.0) -> None:
    """Stop the driver JVM this process launched, and every process under
    it, and wait until each has ended.

    ``spark.stop()`` leaves the JVM running; it only exits once it sees
    this process's end of its stdin close, which would otherwise happen
    after this process has already exited."""
    from pyspark import SparkContext

    procs = [p for p in _descendants(os.getpid()) if _alive(p)]
    if SparkContext._active_spark_context is not None:
        with contextlib.suppress(Exception):
            SparkContext._active_spark_context.stop()
    # no py4j close: with a foreachBatch callback server it can block
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        with contextlib.suppress(OSError):
            proc.stdin.close()  # the JVM's signal to exit
        try:
            proc.wait(timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    t_end = time.monotonic() + timeout
    for pid in procs:
        while _alive(pid) and time.monotonic() < t_end:
            time.sleep(0.05)
        if _alive(pid):
            with contextlib.suppress(OSError):
                os.kill(pid, signal.SIGKILL)
            t_kill = time.monotonic() + timeout
            while _alive(pid) and time.monotonic() < t_kill:
                time.sleep(0.05)


def rmtree(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
