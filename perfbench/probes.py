"""Read-only probes the benchmark runs beside the program: Spark's own
status tracker and status store, a /proc RSS sampler for the whole
process tree, and the host yardsticks ``bench.py`` already defines."""

from __future__ import annotations

import os
import threading
import time


class SparkWindow:
    """Attributes Spark work to one op: every job that started since
    the previous ``take()``. Job ids come from the app status store
    (streaming queries run their jobs under a job group of their own, so
    ``statusTracker``'s per-group lists would miss them), stage ids from
    ``statusTracker``, stage metrics from the status store. The store is
    kept with the UI disabled."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.seen = set(self._job_ids())
        #: sum of every ``take()`` so far
        self.total: dict = {}

    def _job_ids(self) -> list[int]:
        jobs = self.jsc.statusStore().jobsList(None)
        return [jobs.apply(i).jobId() for i in range(jobs.length())]

    def _drain(self) -> None:
        # status events arrive on the listener bus asynchronously
        self.jsc.listenerBus().waitUntilEmpty()

    def take(self) -> dict:
        self._drain()
        tracker = self.sc.statusTracker()
        new = sorted(set(self._job_ids()) - self.seen)
        self.seen.update(new)
        stages = set()
        for j in new:
            info = tracker.getJobInfo(j)
            if info is not None:
                stages.update(int(s) for s in info.stageIds)
        jvm = self.sc._jvm
        store = self.jsc.statusStore()
        no_q = self.sc._gateway.new_array(jvm.double, 0)
        out = {"jobs": len(new), "stages": len(stages), "jobs_wall_s": 0.0,
               "executor_run_s": 0.0, "executor_cpu_s": 0.0, "gc_s": 0.0,
               "shuffle_mb": 0.0, "spill_mb": 0.0, "tasks": 0}
        for j in new:
            job = store.job(j)
            start, end = job.submissionTime(), job.completionTime()
            if start.isDefined() and end.isDefined():
                out["jobs_wall_s"] += (end.get().getTime()
                                       - start.get().getTime()) / 1e3
        for sid in sorted(stages):
            attempts = store.stageData(sid, False, jvm.java.util.ArrayList(),
                                       False, no_q)
            for i in range(attempts.length()):
                s = attempts.apply(i)
                out["executor_run_s"] += s.executorRunTime() / 1e3
                out["executor_cpu_s"] += s.executorCpuTime() / 1e9
                out["gc_s"] += s.jvmGcTime() / 1e3
                out["shuffle_mb"] += (s.shuffleWriteBytes()
                                      + s.shuffleReadBytes()) / 1e6
                out["spill_mb"] += s.diskBytesSpilled() / 1e6
                out["tasks"] += s.numTasks()
        for k, v in out.items():
            self.total[k] = self.total.get(k, 0) + v
        return out


def _tree_rss_kb(root: int) -> int:
    """Summed VmRSS of ``root`` and all its descendants (JVM, Python
    workers), read from /proc."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rfind(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(name))
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            pass
    return total


class RssSampler:
    """Samples the process tree's RSS every ``interval`` seconds on a
    daemon thread; ``peak_mb`` is the highest sample."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, _tree_rss_kb(pid))
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_kb = max(self.peak_kb, _tree_rss_kb(os.getpid()))

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def cpu_ticks() -> dict:
    """Machine-wide CPU ticks from /proc/stat: busy, idle and steal
    (time the hypervisor gave this VM's CPUs to someone else)."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return {"busy": sum(v[:3]) + sum(v[5:7]), "idle": v[3] + v[4],
            "steal": v[7] if len(v) > 7 else 0}


def host_yardsticks(work_dir: str) -> dict:
    """CPU md5 MB/s and write/read MB/s on the benchmark's own file
    system, from bench.py's probes. Context only, never gated."""
    import bench

    t0 = time.perf_counter()
    out = {"md5_mb_s": bench._host_ref_mb_s(),
           "io_mb_s": bench._host_io_mb_s(work_dir)}
    out["probe_s"] = round(time.perf_counter() - t0, 3)
    return out
