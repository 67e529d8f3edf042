"""Shared helpers: the Spark session the benchmark drives, timing net of
hypervisor steal, process tree RSS sampling, Spark REST stage metrics
grouped by job-group label, physical-plan node counts and the environment
record."""

from __future__ import annotations

import gc
import json
import os
import re
import shlex
import statistics
import subprocess
import threading
import time
import urllib.request

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")


def cores() -> int:
    """K for ``local[K]``: each task thread drives a paired Python worker,
    so K threads keep about 2K cores busy, and the JVM's JIT compiler and
    GC threads take about one core more.  K is a quarter of ``nproc`` (at
    least 1, at most 4), which leaves that headroom: a K that fills every
    core measures the scheduler, not the program."""
    return max(1, min(4, (os.cpu_count() or 4) // 4))


def start_spark(k: int):
    """Starts the session through ``qualityspark.session.get_spark`` (the
    production tuning) with every scratch path inside the checkout."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    mem = os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    # Python workers import qualityspark from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # a fixed, pre-touched heap: heap growth and first-touch page faults
    # happen in set-up, not in the timed iterations
    java_opts = (f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                 f"-Xms{mem} -XX:+AlwaysPreTouch")
    confs = {"spark.ui.showConsoleProgress": "false",
             "spark.local.dir": tmp,
             "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
             "spark.driver.extraJavaOptions": java_opts}
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k_}={v}')}" for k_, v in confs.items()
    ) + " pyspark-shell"
    from qualityspark.session import get_spark
    spark = get_spark(app="perfbench", master=f"local[{k}]",
                      shuffle_partitions=max(2 * k, 4))
    spark.sparkContext.setLogLevel("ERROR")
    # small corpora: fine scan splits so the Arrow pass uses every core
    # (same settings as the repository's bench.py)
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(1024 * 1024))
    spark.conf.set("spark.sql.files.minPartitionNum", str(2 * k))
    return spark


def timed(fn, *args, **kwargs):
    t0 = time.perf_counter()
    out = fn(*args, **kwargs)
    return time.perf_counter() - t0, out


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], statistics.median(xs), q[2]


def quiesce(spark) -> None:
    """Collects garbage in the driver and the JVM between iterations, so
    that no iteration pays for the previous one's garbage."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()


Clock = tuple[float, float]     # (busy, steal) CPU seconds


def cpu_clock() -> Clock:
    """(busy, steal) CPU seconds of this machine so far, all CPUs, from
    ``/proc/stat``: busy is user + nice + system + irq + softirq; steal is
    time a runnable CPU waited while the hypervisor ran something else."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    tck = os.sysconf("SC_CLK_TCK")
    return (f[0] + f[1] + f[2] + f[5] + f[6]) / tck, f[7] / tck


def unstolen_share(c0: Clock, c1: Clock) -> float:
    """Share of the span between two ``cpu_clock()`` readings that would
    remain had the hypervisor stolen nothing.

    A busy CPU lost ``r = steal_share(c0, c1)`` of its time.  The
    program's critical path needs two CPUs at once: the JVM task thread
    and its paired Python worker hand Arrow batches back and forth, and
    the driver waits on the JVM over py4j.  It advances only while both
    run, a share of ``(1 - r) ** 2``.  A time measured over the span,
    times this share, estimates the time on an unshared host: on a shared
    one, steal comes and goes with the neighbours' load and otherwise
    swamps every change the program makes (on a 4-vCPU host with 2 to 39%
    steal, it cut the quartile spread of per-run median iteration times
    over ten seeds from 41-44% of the median to 5-10%)."""
    return (1 - steal_share(c0, c1)) ** 2


def steal_share(c0: Clock, c1: Clock) -> float:
    """``steal / (busy + steal)`` between two ``cpu_clock()`` readings."""
    busy, steal = c1[0] - c0[0], c1[1] - c0[1]
    return steal / (busy + steal) if busy + steal > 0 else 0.0


def persisted_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def assert_no_caches(spark) -> None:
    """Every iteration starts cache-cold: the pipeline's tracked caches
    were released and Spark holds no persisted RDD."""
    from qualityspark.caching import release_caches
    release_caches()
    n = persisted_rdds(spark)
    if n:
        raise RuntimeError(f"{n} persisted RDDs survive release_caches()")


# ---------------------------------------------------------------------------
# process-tree RSS
# ---------------------------------------------------------------------------
def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_rss_mb() -> float:
    """RSS of this process plus every descendant: the JVM, the PySpark
    daemon and its Python workers."""
    kids = _children()
    todo, total = [os.getpid()], 0
    while todo:
        pid = todo.pop()
        total += _rss_kb(pid)
        todo.extend(kids.get(pid, ()))
    return total / 1024.0


class RssSampler:
    """Samples the process-tree RSS every ``period`` seconds while active."""

    def __init__(self, period: float = 0.25):
        self.period = period
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_mb())
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_mb())


# ---------------------------------------------------------------------------
# Spark job-group labels + REST stage metrics
# ---------------------------------------------------------------------------
class Labels:
    """Sets a job-group label around each traced layer call and reads the
    stage metrics of every job carrying that label from the Spark UI REST
    API (the reader ``tools/profile_rest.py`` uses, grouped by label)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        port = self.sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = (f"http://127.0.0.1:{port}/api/v1/applications/"
                     f"{self.sc.applicationId}")

    def run(self, label: str, fn, *args, **kwargs):
        """Runs ``fn`` with every job it submits tagged ``label``; returns
        (seconds, result)."""
        self.sc.setJobGroup(label, label)
        try:
            return timed(fn, *args, **kwargs)
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def _get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=30) as r:
            return json.load(r)

    def jobs(self, label: str) -> list[dict]:
        """Finished jobs of ``label``; waits for the listener bus to
        deliver every job end the status tracker already knows about."""
        want = set(self.sc.statusTracker().getJobIdsForGroup(label))
        deadline = time.time() + 20
        while True:
            got = [j for j in self._get("jobs")
                   if j.get("jobGroup") == label
                   and j["status"] in ("SUCCEEDED", "FAILED")]
            if {j["jobId"] for j in got} >= want or time.time() > deadline:
                return got
            time.sleep(0.1)

    def stage_metrics(self, labels: list[str]) -> dict[str, float]:
        jobs = [j for lb in labels for j in self.jobs(lb)]
        ids = {s for j in jobs for s in j["stageIds"]}
        stages = [s for s in self._get("stages?status=complete")
                  if s["stageId"] in ids]
        mb = 1e6
        return {
            "spark.jobs": float(len(jobs)),
            "spark.stages": float(len(stages)),
            "spark.tasks": float(sum(s["numCompleteTasks"] for s in stages)),
            "spark.executor_run_s":
                sum(s["executorRunTime"] for s in stages) / 1e3,
            "spark.executor_cpu_s":
                sum(s["executorCpuTime"] for s in stages) / 1e9,
            "spark.gc_s": sum(s["jvmGcTime"] for s in stages) / 1e3,
            "spark.shuffle_write_mb":
                sum(s["shuffleWriteBytes"] for s in stages) / mb,
            "spark.shuffle_read_mb":
                sum(s["shuffleReadBytes"] for s in stages) / mb,
            "spark.input_mb": sum(s["inputBytes"] for s in stages) / mb,
        }


# ---------------------------------------------------------------------------
# physical plan counts
# ---------------------------------------------------------------------------
_ARROW_RE = re.compile(r"\bArrowEvalPython\b")
_EXCHANGE_RE = re.compile(r"\b(?:Exchange|BroadcastExchange)\b")


def plan_counts(df) -> tuple[int, int]:
    """(ArrowEvalPython nodes, Exchange nodes) of ``df``'s physical plan,
    as ``explain()`` prints it; planning executes nothing."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return len(_ARROW_RE.findall(plan)), len(_EXCHANGE_RE.findall(plan))


# ---------------------------------------------------------------------------
# environment record
# ---------------------------------------------------------------------------
def git_sha() -> str:
    try:
        return subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def environment(spark, k: int, seed: int, sizes: dict) -> dict:
    import pyspark
    return {"git_sha": git_sha(), "nproc": os.cpu_count(), "k": k,
            "pyspark": pyspark.__version__,
            "java": spark.sparkContext._jvm.System.getProperty(
                "java.version"),
            "seed": seed, "sizes": sizes,
            "loadavg_before": os.getloadavg()}
