"""Host plumbing for the benchmark: scratch directories inside the
checkout, a Spark session sized to the host, clean JVM shutdown, and
a sampler of the memory held by the JVM and its Python workers."""

from __future__ import annotations

import os
import shutil
import subprocess
import threading
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK_ROOT = ROOT / ".perfbench_work"
OUT_ROOT = ROOT / ".perfbench_out"


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def host_mem_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_mem_mb() -> int:
    """A quarter of host RAM, capped at 2 GB: the inputs are small and
    the host is shared."""
    return max(256, min(2048, host_mem_bytes() // 4 // 2**20))


def make_workdir(tag: str) -> Path:
    """Fresh scratch dir under the checkout; everything the run
    writes (tables, Spark local dirs, temp files) lands here. Must
    run before the JVM starts: the env vars below are read at launch."""
    work = WORK_ROOT / f"{tag}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "spark-local", "warehouse", "events"):
        (work / sub).mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    # Python workers import the engine by module path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return work


def start_session(work: Path, cores: int, event_log: bool = False):
    """The engine's own session factory, sized to this host."""
    from georaster_spark.session import get_spark

    mem = driver_mem_mb()
    conf = {
        "spark.driver.memory": f"{mem}m",
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        # a fixed-size, pre-touched heap: the JVM's resident size then
        # depends neither on when the collector grows the heap nor on
        # how much of it a run happens to touch
        "spark.driver.extraJavaOptions": (
            f"-Xms{mem}m -XX:+AlwaysPreTouch -Djava.io.tmpdir={work / 'tmp'}"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": str(work / "events"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return get_spark("perfbench", cores=cores, extra_conf=conf)


def shutdown_jvm() -> None:
    """Stop the Py4J gateway JVM and wait for it to exit; its Python
    workers are its children and go with it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    finally:
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=10)


def dir_bytes(path: str | Path) -> int:
    total = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(root, n))
    return total


# ------------------------------------------------------------ memory


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
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _pss_kb(pid: int) -> int:
    """Proportional set size: forked Python workers share pages with
    their daemon, so plain RSS would count those pages once per worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _vm_hwm_kb(pid: int) -> int:
    """The kernel's high-water mark of the process's resident size."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class MemSampler:
    """Peak memory of every process this benchmark started: the JVM
    (its own high-water mark, read at exit, so the large JVM is never
    walked page by page while it works) plus the peak summed ``Pss`` of
    the JVM's Python workers, sampled on a background thread."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._workers_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            kids = _children_map()
            jvms = kids.get(os.getpid(), [])
            stack, total = [w for jvm in jvms for w in kids.get(jvm, [])], 0
            while stack:
                pid = stack.pop()
                total += _pss_kb(pid)
                stack.extend(kids.get(pid, []))
            self._workers_kb = max(self._workers_kb, total)
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "MemSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        jvm_kb = sum(_vm_hwm_kb(pid) for pid in _children_map().get(os.getpid(), []))
        self.peak_mb = (jvm_kb + self._workers_kb) / 1024.0


def now() -> float:
    return time.perf_counter()
