"""Host-side controls: idle check, process-tree RSS sampling, the
pure-JVM calibration job, and clean shutdown of the Spark JVM.

Nothing here touches the engine; it only watches the processes the
benchmark starts (the driver's Spark JVM and its Python workers).
"""

from __future__ import annotations

import os
import statistics
import subprocess
import threading
import time

PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024


def spark_jvm_pids() -> list[int]:
    """PIDs of running Spark JVMs other than this process."""
    probe = subprocess.run(
        ["pgrep", "-f", "org.apache.spark"], capture_output=True, text=True
    )
    me = os.getpid()
    return [int(p) for p in probe.stdout.split() if p.strip() and int(p) != me]


def wait_idle(grace_s: float = 30.0) -> None:
    """Refuse to measure while another Spark JVM runs: an orphaned
    local-mode JVM keeps executing its submitted job and poisons every
    timing on the host.  A JVM that is just shutting down gets
    `grace_s` to exit first."""
    deadline = time.monotonic() + grace_s
    while True:
        pids = spark_jvm_pids()
        if not pids:
            return
        if time.monotonic() > deadline:
            raise SystemExit(
                f"refusing to bench: Spark JVM(s) {pids} already running"
            )
        time.sleep(1.0)


def nproc() -> int:
    """CPUs this process may run on (what `nproc` prints without
    OMP_NUM_THREADS)."""
    return len(os.sched_getaffinity(0))


def host_info() -> dict:
    load1, load5, _ = os.getloadavg()
    return {"nproc": nproc(), "load1": load1, "load5": load5}


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the comm field may hold spaces; ppid is the 2nd field after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * PAGE_KB
    except OSError:
        return 0


def descendants_rss_mb(root_pid: int) -> float:
    """Summed RSS of every descendant of `root_pid` (the Spark JVM and
    the Python workers it forks), excluding `root_pid` itself."""
    kids = _children_map()
    total, stack = 0, list(kids.get(root_pid, []))
    while stack:
        pid = stack.pop()
        total += _rss_kb(pid)
        stack.extend(kids.get(pid, []))
    return total / 1024.0


class RssSampler:
    """Background thread recording the peak descendant RSS while the
    `with` block (the timed phase) runs."""

    def __init__(self, period_s: float = 0.5):
        self.period_s = period_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.wait(self.period_s):
            self.peak_mb = max(self.peak_mb, descendants_rss_mb(me))

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def calibrate(spark, reps: int = 5) -> float:
    """Median wall time of a fixed pure-JVM job (no Python, no I/O):
    a hash-sum over 2^25 generated rows.  Run at the start and end of
    the timed phase; drift between the two explains host noise, it is
    not a property of the engine."""
    df = spark.range(1 << 25, numPartitions=nproc())
    df = df.selectExpr("sum(hash(id, id * 7)) AS h")
    for _ in range(2):  # compile and JIT; not samples
        df.collect()
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        df.collect()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def stop_spark(spark) -> None:
    """Stop the session, close the gateway and wait for the JVM (and
    with it every Python worker) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None) if gateway is not None else None
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
