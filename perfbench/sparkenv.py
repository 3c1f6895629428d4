"""Host-sized Spark session, status-store counters and host weather.

The session is built through ``cobweb_spark.session.get_spark`` with every
size derived from this host (cores, RAM) and every scratch path inside the
benchmark's work directory, so the run needs no environment overrides and
writes nothing outside its checkout.

Counters come from Spark's in-process status store (it works with the UI
disabled). ``spark.ui.retainedJobs``/``retainedStages`` are raised well
above what one benchmark process launches; a run whose job or stage ids
have gaps fails instead of reporting wrapped, partial totals.
"""

from __future__ import annotations

import json
import os
import signal
import threading
import time

MB = 1024 * 1024
RETAINED = 200_000


def host_shape() -> dict:
    cores = len(os.sched_getaffinity(0))
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return {"cores": cores, "ram_mb": ram // MB}


def session_conf(shape: dict, work: str) -> tuple[str, int, dict]:
    """(master, shuffle partitions, extra conf) for this host.

    Driver heap is a quarter of RAM (1-8 GiB): the workloads are small and
    the host is shared. ``-Xms`` pins half of it, as ``get_spark`` does, so
    G1 never stalls at the heap-expansion boundary mid-run. One shuffle
    partition per core: at these input sizes every extra partition is
    per-task overhead (measured: 437 tasks and ~15 s per crawl_bfs crawl
    at 4 partitions against 713 tasks and ~16-23 s at 8, on a 4-core
    16 GB host).
    """
    heap = max(1024, min(8192, shape["ram_mb"] // 4))
    tmp = os.path.join(work, "tmp")
    opts = f"-Djava.io.tmpdir={tmp}"
    conf = {
        "spark.driver.memory": f"{heap}m",
        "spark.driver.extraJavaOptions": f"-Xms{heap // 2}m {opts}",
        "spark.executor.memory": f"{heap}m",
        "spark.executor.extraJavaOptions": opts,
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.retainedJobs": str(RETAINED),
        "spark.ui.retainedStages": str(RETAINED),
    }
    return f"local[{shape['cores']}]", shape["cores"], conf


def start_session(work: str, app: str):
    """Start the session; returns (spark, effective conf record)."""
    import sys

    from cobweb_spark.session import get_spark

    shape = host_shape()
    master, parts, conf = session_conf(shape, work)
    for d in ("tmp", "spark-local", "bank"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    # read by the JVM launcher, the Python workers and the seen-filter bank
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = conf["spark.local.dir"]
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "bank")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    spark = get_spark(
        app_name=app, master=master, shuffle_partitions=parts, extra_conf=conf
    )
    sc_conf = spark.sparkContext.getConf()
    effective = {
        k: sc_conf.get(k)
        for k in sorted(conf)
        + ["spark.master", "spark.sql.shuffle.partitions"]
        if sc_conf.get(k) is not None
    }
    effective["spark.sql.shuffle.partitions"] = spark.conf.get(
        "spark.sql.shuffle.partitions"
    )
    return spark, {"host": shape, "conf": effective}


def stop_session(spark, timeout: float = 60.0) -> None:
    """Stop Spark, the gateway JVM and every process they started, and
    wait until all of them have ended."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.terminate()
        try:
            proc.wait(timeout)
        except Exception:
            proc.kill()
            proc.wait(timeout)
    deadline = time.time() + timeout
    while True:
        kids = descendants(os.getpid())
        if not kids:
            return
        if time.time() > deadline:
            for pid in kids:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.time() + timeout
        time.sleep(0.1)


# ----------------------------------------------------------------------
# /proc readers


def _stat_fields(path: str) -> list[str] | None:
    """Fields of a ``/proc/.../stat`` file from the state field on."""
    try:
        with open(path) as f:
            stat = f.read()
    except OSError:
        return None
    # the command name may contain spaces; fields resume after ')'
    return stat[stat.rindex(")") + 2 :].split()


def descendants(root: int, zombies: bool = False) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(f"/proc/{name}/stat")
        if fields is None or (fields[0] == "Z" and not zombies):
            continue
        children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        for kid in children.get(todo.pop(), []):
            out.append(kid)
            todo.append(kid)
    return out


CLK_TCK = os.sysconf("SC_CLK_TCK")


def process_cpu(bench_tids=()) -> dict[str, float]:
    """CPU seconds (user + system, plus reaped children) used so far by
    this driver process, the gateway JVM and the Python workers below it.

    Spark's ``executorCpuTime`` is the JVM task thread's CPU only; while a
    pandas/Arrow UDF runs in a Python worker that thread mostly waits on
    the socket, so the process tree is what the program costs. The
    driver's own share leaves out ``bench_tids``, this process's threads
    that do the benchmark's work (the memory sampler).
    """
    me = os.getpid()
    out = {"driver": 0.0, "jvm": 0.0, "python_workers": 0.0}
    for pid in [me] + descendants(me, zombies=True):
        f = _stat_fields(f"/proc/{pid}/stat")
        if f is None:
            continue
        # utime, stime, cutime, cstime are fields 14-17 of stat(5)
        ticks = sum(int(x) for x in f[11:15])
        if pid == me:
            part = "driver"
        else:
            try:
                with open(f"/proc/{pid}/comm") as fh:
                    comm = fh.read().strip()
            except OSError:
                comm = ""
            part = "jvm" if comm == "java" else "python_workers"
        out[part] += ticks / CLK_TCK
    for tid in bench_tids:
        f = _stat_fields(f"/proc/{me}/task/{tid}/stat")
        if f is not None:
            out["driver"] -= (int(f[11]) + int(f[12])) / CLK_TCK
    return out


def resident_mb(pids: list[int]) -> float:
    """Summed proportional set size: the pages forked Python workers share
    with the daemon they came from count once, not once per worker."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            pass
    return total / 1024


class RssSampler:
    """Peak resident memory of this process's descendants (the driver JVM
    and its Python workers), sampled every ``period`` seconds. ``tids``
    holds the sampler thread's id while it runs."""

    def __init__(self, period: float = 0.1):
        self.period = period
        self.peak = 0.0
        self.tids: tuple[int, ...] = ()
        self._stop = threading.Event()
        self._ready = threading.Event()
        self._thread = threading.Thread(
            target=self._run, name="rss-sampler", daemon=True
        )

    def _run(self) -> None:
        self.tids = (threading.get_native_id(),)
        self._ready.set()
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, resident_mb(descendants(me)))
            self._stop.wait(self.period)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        self._ready.wait()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.tids = ()


def cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor stole between two samples."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d[:8])  # guest time is already counted in user/nice
    return d[7] / total if total else 0.0


# ----------------------------------------------------------------------
# status store


class CountersIncomplete(RuntimeError):
    """The status store lost jobs or stages of the run being measured."""


STAGE_FIELDS = (
    "numCompleteTasks",
    "numFailedTasks",
    "executorCpuTime",
    "jvmGcTime",
    "shuffleWriteBytes",
    "memoryBytesSpilled",
    "diskBytesSpilled",
)


class StatusStore:
    """Reads jobs and stage attempts from ``sc.statusStore()`` as JSON,
    serialized JVM-side in one call per list."""

    def __init__(self, spark):
        sc = spark.sparkContext
        jvm = sc._jvm
        self._gw = sc._gateway
        self._store = sc._jsc.sc().statusStore()
        scala_mod = getattr(
            jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"
        )
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._mapper.registerModule(getattr(scala_mod, "MODULE$"))

    def last_job_id(self) -> int:
        jobs = self._store.jobsList(None)
        return jobs.apply(0).jobId() if jobs.size() else -1

    def jobs_after(self, lo: int) -> list[dict]:
        """Every job with id > lo, oldest first."""
        jobs = json.loads(self._mapper.writeValueAsString(self._store.jobsList(None)))
        return sorted(
            (j for j in jobs if j["jobId"] > lo), key=lambda j: j["jobId"]
        )

    def stages(self) -> list[dict]:
        gw = self._gw
        attempts = self._store.stageList(
            None,
            False,
            False,
            gw.new_array(gw.jvm.double, 0),
            gw.jvm.java.util.ArrayList(),
        )
        return json.loads(self._mapper.writeValueAsString(attempts))

    def window(self, lo: int, hi: int) -> list[dict]:
        """Jobs with lo < id <= hi, each with ``stages``: the attempts of
        the stages that job ran (a stage shared by several jobs runs in
        the first; later ones list it as skipped).

        Raises CountersIncomplete if any job or stage id in the window is
        missing from the store.
        """
        jobs = [j for j in self.jobs_after(lo) if j["jobId"] <= hi]
        ids = [j["jobId"] for j in jobs]
        if ids != list(range(lo + 1, hi + 1)):
            raise CountersIncomplete(
                f"status store holds jobs {ids[:1]}..{ids[-1:]} of ({lo}, {hi}]"
            )
        owner: dict[int, dict] = {}
        for j in jobs:
            j["stages"] = []
            for sid in j["stageIds"]:
                owner.setdefault(sid, j)
        if owner:
            by_id: dict[int, list[dict]] = {}
            for st in self.stages():
                if st["stageId"] in owner:
                    by_id.setdefault(st["stageId"], []).append(st)
            lo_s, hi_s = min(owner), max(owner)
            missing = [s for s in range(lo_s, hi_s + 1) if s not in by_id]
            if missing:
                raise CountersIncomplete(
                    f"stage ids {missing[:5]} missing between {lo_s} and {hi_s}"
                )
            for sid, j in owner.items():
                j["stages"].extend(by_id[sid])
        return jobs


def job_counters(job: dict) -> dict:
    """Work counters of the stage attempts one job ran."""
    c = dict.fromkeys(STAGE_FIELDS, 0)
    for st in job["stages"]:
        if st["status"] == "SKIPPED":
            continue
        for k in STAGE_FIELDS:
            c[k] += st[k]
    return {
        "jobs": 1,
        "tasks": c["numCompleteTasks"] + c["numFailedTasks"],
        "failed_tasks": c["numFailedTasks"],
        "jvm_task_cpu_s": c["executorCpuTime"] / 1e9,
        "gc_s": c["jvmGcTime"] / 1e3,
        "shuffle_mb": c["shuffleWriteBytes"] / MB,
        "spill_mb": (c["memoryBytesSpilled"] + c["diskBytesSpilled"]) / MB,
    }


def add_counters(acc: dict, c: dict) -> dict:
    for k, v in c.items():
        acc[k] = acc.get(k, 0) + v
    return acc
