"""Host pinning, process shutdown and peak-RSS sampling for the benchmark.

Everything here is set from the benchmark's side: the engine reads its
session settings from environment variables (``mhap_spark.session``), so
the benchmark pins them before the first session starts and never edits
engine code.
"""

from __future__ import annotations

import os
import threading

# heap ceiling: the engine's 32g default exceeds small hosts' RAM; 8 GiB
# holds the 20k-row pipeline with room to spare
HEAP_CAP_MB = 8192
HEAP_SHARE_OF_RAM = 0.45


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def pin_host(work_dir: str) -> dict:
    """Pin the session to this host: ``local[<cores>]``, a heap sized to RAM,
    and Spark/JVM/Python scratch space inside ``work_dir``.  Must run before
    the first session starts.  Returns the settings for the result record."""
    cores = host_cores()
    heap_mb = min(HEAP_CAP_MB, int(mem_total_mb() * HEAP_SHARE_OF_RAM))
    local_dir = os.path.join(work_dir, "spark-local")
    tmp_dir = os.path.join(work_dir, "tmp")
    os.makedirs(local_dir, exist_ok=True)
    os.makedirs(tmp_dir, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{heap_mb}m"
    os.environ["SPARK_LOCAL_DIRS"] = local_dir
    os.environ["TMPDIR"] = tmp_dir
    # pyspark's worker daemon inherits this; keep numpy single-threaded per
    # task so task slots, not BLAS threads, set the parallelism
    os.environ.setdefault("OMP_NUM_THREADS", "1")
    return {"cores": cores, "master": f"local[{cores}]", "heap_mb": heap_mb,
            "tmp_dir": tmp_dir}


def shutdown(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for the JVM (and
    with it the Python workers it forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        # the gateway JVM exits when its stdin closes
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - any wait failure: force it down
            proc.kill()
            proc.wait(timeout=30)


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _field_kb(path: str, field: str) -> int:
    try:
        with open(path) as f:
            for line in f:
                if line.startswith(field):
                    return int(line.split()[1])
    except OSError:  # the process exited between listing and reading
        pass
    return 0


class RssSampler:
    """Peak resident memory of the Spark JVM plus its Python workers, in MB.

    The JVM's own high-water mark (``VmHWM``) is exact.  The Python workers
    are forked from one daemon and share its pages, so summing their
    ``VmHWM`` would count those pages once per worker; they are sampled
    instead every ``interval`` seconds as the sum of their proportional set
    sizes (``Pss``), and the largest sum is kept.  Use as a context manager."""

    def __init__(self, root_pid: int, interval: float = 0.25):
        self.root_pid = root_pid
        self.interval = interval
        self.jvm_kb = 0
        self.workers_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> None:
        kids = _children()
        workers, todo = [], list(kids.get(self.root_pid, ()))
        while todo:
            pid = todo.pop()
            workers.append(pid)
            todo.extend(kids.get(pid, ()))
        pss = sum(_field_kb(f"/proc/{p}/smaps_rollup", "Pss:") for p in workers)
        self.workers_kb = max(self.workers_kb, pss)
        self.jvm_kb = max(self.jvm_kb, _field_kb(f"/proc/{self.root_pid}/status", "VmHWM:"))

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self) -> "RssSampler":
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()

    @property
    def peak_mb(self) -> float:
        return (self.jvm_kb + self.workers_kb) / 1024.0
