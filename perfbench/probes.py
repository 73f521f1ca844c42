"""Measurements taken from outside the engine: process-tree memory, bytes
on disk, and Spark's own job/stage counters.

Nothing here imports the engine package; every probe reads the operating
system or the SparkContext the benchmark already holds.
"""

from __future__ import annotations

import os
import signal
import threading
import time

def _children(pid: int) -> list[int]:
    kids: list[int] = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return kids
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                kids.extend(int(x) for x in f.read().split())
        except OSError:
            pass
    return kids


def process_tree(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its descendants."""
    todo = [os.getpid() if root is None else root]
    seen: list[int] = []
    while todo:
        pid = todo.pop()
        seen.append(pid)
        todo.extend(_children(pid))
    return seen


def _comm(pid: int) -> str | None:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return None


def _parent(pid: int) -> int | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return int(f.read().rsplit(")", 1)[1].split()[1])
    except (OSError, IndexError, ValueError):
        return None


def _virtual_size(pid: int) -> int | None:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[0])
    except (OSError, IndexError, ValueError):
        return None


def _memory_owners(pids: list[int]) -> list[int]:
    """``pids`` without the JVM's short-lived spawn children. The JVM starts
    a command (Hadoop's shell calls, the Python worker daemon) by vfork,
    and until that child execs it runs in the JVM's own address space and
    reports the JVM's resident size as its own; counting it once more
    lifted two ``migrate_cdc`` peaks by 1.8 GB. Such a child carries the
    name of the JVM thread that started it, so it is recognised by its
    address space: a child of the JVM as large as the JVM itself."""
    out = []
    for p in pids:
        parent = _parent(p)
        if parent is not None and _comm(parent) == "java":
            size, parent_size = _virtual_size(p), _virtual_size(parent)
            if size and parent_size and abs(size - parent_size) <= parent_size // 100:
                continue
        out.append(p)
    return out


def _resident_bytes(pid: int) -> int:
    """Proportional resident memory: pages shared between processes (the
    forked Python workers share most of theirs) are split between them,
    so the sum over a process tree counts each resident page once. The
    JVM shares no pages with the rest of the tree, and reading its page
    map takes about 50 ms, which sampled ten times a second would take
    half a core from the measured work; its plain resident size is read
    instead."""
    try:
        if _comm(pid) == "java":
            with open(f"/proc/{pid}/statm") as f:
                return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass  # the process ended between listing and reading
    return 0


class PeakRss:
    """Samples the summed proportional resident memory of this process
    tree on a background thread; ``peak`` is the largest sum seen."""

    def __init__(self, interval_s: float = 0.1) -> None:
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _sample(self) -> None:
        self.peak = max(self.peak, sum(_resident_bytes(p) for p in _memory_owners(process_tree())))

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def __enter__(self) -> PeakRss:
        self._sample()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join()
        self._sample()


def _old_gen_pools(spark) -> list:
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return [p for p in mf.getMemoryPoolMXBeans()
            if p.getType().name() == "HEAP" and ("Old" in p.getName() or "Tenured" in p.getName())]


def reset_jvm_heap_peak(spark) -> None:
    for pool in _old_gen_pools(spark):
        pool.resetPeakUsage()


def jvm_heap_peak_bytes(spark) -> int:
    """Peak use of the JVM heap's old generation since
    ``reset_jvm_heap_peak``: the data the driver keeps beyond one
    allocation burst. The young generation is left out because it fills
    to its size between collections whatever the program keeps. Unlike
    resident memory this moves even when the heap's size is fixed."""
    return sum(int(p.getPeakUsage().getUsed()) for p in _old_gen_pools(spark))


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat. The
    share stolen over a run is the time the hypervisor gave this machine's
    virtual CPUs to other guests, which slows every timing of the run."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]
    return fields[7], sum(fields[:8])


def process_start_epoch() -> float:
    """Wall-clock time at which this process was started (from /proc)."""
    with open("/proc/self/stat") as f:
        # the command name may hold spaces; fields resume after the last ')'
        fields = f.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def tree_files(root: str) -> dict[str, tuple[int, int]]:
    """path → (size, mtime_ns) for every regular file under ``root``."""
    out: dict[str, tuple[int, int]] = {}
    for d, _, files in os.walk(root):
        for name in files:
            p = os.path.join(d, name)
            try:
                st = os.stat(p)
            except OSError:
                continue
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def bytes_written(before: dict, after: dict) -> int:
    """Bytes of the files that are new or rewritten between two
    ``tree_files`` snapshots."""
    return sum(sz for p, (sz, mt) in after.items() if before.get(p) != (sz, mt))


class SparkCounters:
    """Job, stage and task counters read from Spark's status store.

    Jobs are attributed to an op by job-ID window: the scheduler hands out
    job IDs in submission order and the workload runs one op at a time, so
    every job with an ID in ``[first, end)`` belongs to that op — including
    jobs started by streaming and broadcast threads, which a job group set
    on the calling thread would miss."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()

    def next_job_id(self) -> int:
        return int(self._jsc.dagScheduler().numTotalJobs())

    def tag(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def untag(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def stages(self, first_job: int, end_job: int) -> dict[str, int]:
        """Summed stage counters over the jobs with IDs in the window."""
        self._jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        store = self._jsc.statusStore()
        stage_ids: set[int] = set()
        for job_id in range(first_job, end_job):
            info = tracker.getJobInfo(job_id)
            if info is not None:
                stage_ids.update(info.stageIds)
        tot = {"tasks": 0, "run_ms": 0, "shuffle_bytes": 0, "spill_bytes": 0,
               "failed_tasks": 0}
        for sid in stage_ids:
            try:
                s = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - py4j raises a generic error for an unknown stage
                continue  # a stage the store never saw started (job failed at submit)
            if s.status().toString() == "SKIPPED":
                continue  # reused shuffle output: listed by the job, never run
            tot["tasks"] += s.numTasks()
            tot["run_ms"] += s.executorRunTime()
            tot["shuffle_bytes"] += s.shuffleWriteBytes()
            tot["spill_bytes"] += s.diskBytesSpilled()
            tot["failed_tasks"] += s.numFailedTasks()
        return tot


def stop_spark(spark, timeout_s: float = 60.0) -> None:
    """Stop the session, then end the JVM and the Python workers it
    started and wait until every one of them has exited."""
    from pyspark import SparkContext

    procs = [p for p in process_tree() if p != os.getpid()]
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
            proc.wait(timeout=timeout_s)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + timeout_s
    for pid in procs:
        while _state(pid) not in (None, "Z") and time.monotonic() < deadline:
            time.sleep(0.05)
    for pid in procs:
        if _state(pid) not in (None, "Z"):
            os.kill(pid, signal.SIGKILL)


def _state(pid: int) -> str | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return None
