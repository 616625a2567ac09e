"""Session, process and measurement plumbing shared by the workloads."""

from __future__ import annotations

import math
import os
import shutil
import subprocess
import tempfile
import threading
import time


# ------------------------------------------------------------------ statistics

def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated ``q``-quantile (0..1) of ``values``."""
    v = sorted(values)
    if not v:
        raise ValueError("percentile of no samples")
    pos = q * (len(v) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def recall(found: set, truth: set) -> float:
    """|found ∩ truth| / |truth| (1.0 when there is nothing to find)."""
    return len(found & truth) / len(truth) if truth else 1.0


# ------------------------------------------------------------------ processes

def _proc_table() -> dict[int, tuple[int, str]]:
    """pid -> (ppid, comm) for every process visible in /proc."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                raw = fh.read()
        except OSError:
            continue
        comm = raw[raw.index("(") + 1: raw.rindex(")")]
        ppid = int(raw[raw.rindex(")") + 2:].split()[1])
        out[int(name)] = (ppid, comm)
    return out


def _rss_kb(pid: int) -> int:
    """The process's current resident set size (VmRSS), 0 if it is gone."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def process_tree(root: int, table: dict[int, tuple[int, str]]) -> list[int]:
    """``root`` and every process below it."""
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


_CLK_TCK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int) -> float:
    """CPU seconds, user plus system, used so far by ``root``, every process
    below it, and the children they have reaped. CPU time the host took from
    the VM (steal) is not charged to any process, so it is not in the sum."""
    total = 0
    for pid in process_tree(root, _proc_table()):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                raw = fh.read()
        except OSError:
            continue
        utime, stime, cutime, cstime = raw[raw.rindex(")") + 2:].split()[11:15]
        total += int(utime) + int(stime) + int(cutime) + int(cstime)
    return total / _CLK_TCK


def shm_used_bytes() -> int:
    st = os.statvfs("/dev/shm")
    return (st.f_blocks - st.f_bfree) * st.f_frsize


SAMPLE_PERIOD_S = 0.25


class Sampler:
    """Background sampler, reading /proc every ``SAMPLE_PERIOD_S`` since
    psutil is not available. Each sample adds up the current RSS of the live
    processes in this tree (the driver, its JVM and the JVM's Python workers),
    and of the Python workers alone; the peaks are the largest such sums. It
    also keeps the peak growth of ``/dev/shm`` use since start, and the CPU
    time its own thread has used, so that it can be left out of the
    program's. A spike shorter than the period can be missed."""

    def __init__(self):
        self.peak_rss_kb = 0
        self.peak_worker_kb = 0
        self.peak_shm_bytes = 0
        self.cpu_s = 0.0
        self._shm0 = shm_used_bytes()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        return False

    def sample(self) -> None:
        table = _proc_table()
        me = os.getpid()
        total = workers = 0
        for pid in process_tree(me, table):
            kb = _rss_kb(pid)
            total += kb
            if pid != me and table.get(pid, (0, ""))[1].startswith("python"):
                workers += kb
        self.peak_rss_kb = max(self.peak_rss_kb, total)
        self.peak_worker_kb = max(self.peak_worker_kb, workers)
        self.peak_shm_bytes = max(self.peak_shm_bytes, shm_used_bytes() - self._shm0)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self.cpu_s = time.thread_time()
            self._stop.wait(SAMPLE_PERIOD_S)


# ------------------------------------------------------------------ Spark session

class Session:
    """A Spark session with one task slot and ``PARTITIONS`` shuffle
    partitions, sized for this box, with every scratch path inside ``work``,
    optionally with the event log on. ``close`` stops the session and waits
    for the JVM (and with it the Python workers) to end."""

    def __init__(self, root: str, work: str, event_log: bool):
        self.event_dir = os.path.join(work, "eventlog")
        self.partitions = PARTITIONS
        local = os.path.join(work, "spark-local")
        tmp = os.path.join(work, "tmp")
        for d in (local, tmp, self.event_dir):
            os.makedirs(d, exist_ok=True)
        # the Python workers import the program from the checkout, wherever
        # the benchmark is started from
        os.environ["PYTHONPATH"] = os.pathsep.join(
            [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
        os.environ["SPARK_LOCAL_DIRS"] = local
        os.environ["TMPDIR"] = tempfile.tempdir = tmp
        os.environ["SPARK_GRAFT_CPUS"] = str(TASK_SLOTS)
        os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
        conf = {
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # A run's JVM lives about a minute. With the C2 compiler on, its
            # compile threads compete with the task threads for most of that
            # minute and which methods finish compiling in time varies from
            # run to run: with four task slots, set-up took 60-65 s and ticks
            # 4.6-5.0 s, against 33-39 s and 3.4-3.7 s with C1 only, on the
            # same seed.
            # The heap starts at 2 GB: grown on demand, its size followed GC
            # timing and peak RSS spread 0.11-0.23 (IQR / median) over ten
            # seeds; started at 2 GB it moves only when a workload needs more
            # heap than that, or when the Python side grows.
            "spark.driver.extraJavaOptions":
                f"-XX:TieredStopAtLevel=1 -Xms2g -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        }
        if event_log:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        from etl_german_fhir_core_spark.session import get_spark

        self.spark = get_spark("perfbench", master=f"local[{TASK_SLOTS}]",
                               shuffle_partitions=PARTITIONS, extra_conf=conf)
        self.sc = self.spark.sparkContext
        self._gateway = self.sc._gateway

    def event_log_path(self) -> str | None:
        names = [n for n in os.listdir(self.event_dir) if not n.startswith(".")]
        return os.path.join(self.event_dir, names[0]) if names else None

    def close(self) -> None:
        proc = getattr(self._gateway, "proc", None)
        try:
            self.spark.stop()
        finally:
            self._gateway.shutdown()
            if proc is not None:
                if proc.stdin is not None:
                    proc.stdin.close()  # the JVM exits when its stdin closes
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()


# One task slot and one partition. Both workloads are bound by per-call fixed
# costs (planning, job scheduling, driver-side Python), not by task
# parallelism: on 4 vCPUs, one slot ran tail ticks in 2.8-3.2 s and query
# passes in 14.4-17.2 s, two slots 2.5-3.9 s and 15-23 s, four slots
# 3.6-3.9 s and 18.8-19.1 s. A stage with tasks on several vCPUs waits for
# the slowest, so CPU time the host takes from any one of them stalls it:
# with four slots, 1 % steal over a run gave 3.7 s ticks and 12.6 % gave
# 6.2 s. One slot leaves the other vCPUs to the driver, the Python worker and
# the JVM's GC and compiler threads. A second partition on the one slot runs
# its tasks one after the other and made ticks 3.6-4.0 s.
TASK_SLOTS = 1
# Shuffle partitions, tail table buckets and input files per table.
PARTITIONS = TASK_SLOTS

# Driver heap: the box has 15 GB shared with other tenants and four cores;
# the workloads peak far below this.
DRIVER_MEMORY = "4g"


def make_workdir(root: str, workload: str) -> str:
    work = os.path.join(root, ".perfbench_work", f"{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    return work


def closed_loop(seconds: float, op, min_ops: int) -> None:
    """Call ``op(i)`` back to back, one in flight, until ``seconds`` have
    passed and at least ``min_ops`` ran."""
    start = time.perf_counter()
    i = 0
    while i < min_ops or time.perf_counter() - start < seconds:
        op(i)
        i += 1
