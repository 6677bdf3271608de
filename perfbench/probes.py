"""Outside-in probes read from ``/proc`` and the file system: the
benchmark's process tree, the Python workers' resident memory, the bytes
the tree wrote, directory sizes and signs of a busy machine."""

from __future__ import annotations

import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _read(path: str) -> str | None:
    try:
        with open(path, "rb") as f:
            return f.read().decode(errors="replace")
    except OSError:  # the process ended between listing and reading
        return None


def _parents() -> dict[int, int]:
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        stat = _read(f"/proc/{name}/stat")
        if stat:
            # the command name may hold spaces: fields follow the last ")"
            out[int(name)] = int(stat[stat.rfind(")") + 2:].split()[1])
    return out


def descendants(root: int) -> list[int]:
    """``root`` and every process below it."""
    kids: dict[int, list[int]] = {}
    for pid, ppid in _parents().items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def is_python_worker(pid: int) -> bool:
    cmd = _read(f"/proc/{pid}/cmdline") or ""
    return "pyspark.daemon" in cmd or "pyspark.worker" in cmd


def rss_bytes(pid: int) -> int:
    statm = _read(f"/proc/{pid}/statm")
    return int(statm.split()[1]) * _PAGE if statm else 0


def write_bytes(pids: list[int]) -> int:
    """Storage-layer bytes written by ``pids``; a process's count includes
    the children it has reaped, so sum over a whole tree."""
    total = 0
    for pid in pids:
        io = _read(f"/proc/{pid}/io") or ""
        for line in io.splitlines():
            if line.startswith("write_bytes:"):
                total += int(line.split()[1])
    return total


def tree_write_bytes() -> int:
    return write_bytes(descendants(os.getpid()))


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(dirpath, f)).st_size
            except FileNotFoundError:
                pass
    return total


def data_files(path: str) -> int:
    """Files of a parquet table directory, not counting markers."""
    return sum(1 for _d, _s, files in os.walk(path)
               for f in files if not f.startswith(("_", ".")))


class RssSampler:
    """Samples, on a background thread, the summed RSS of the Python
    workers under this process; ``worker_peak`` is the highest sum since
    ``reset``."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.worker_peak = 0
        self._stop = threading.Event()
        self._lock = threading.Lock()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def reset(self) -> None:
        with self._lock:
            self.worker_peak = 0

    def sample(self) -> None:
        total = sum(rss_bytes(p) for p in descendants(os.getpid())
                    if is_python_worker(p))
        with self._lock:
            self.worker_peak = max(self.worker_peak, total)

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()


def busy_machine_warnings() -> list[str]:
    """Reasons the timings of a run starting now may be disturbed: a Spark
    JVM that is not ours, or more runnable tasks than cores."""
    out = []
    mine = set(descendants(os.getpid()))
    for pid in _parents():
        if pid in mine:
            continue
        cmd = _read(f"/proc/{pid}/cmdline") or ""
        if "java" in cmd and "org.apache.spark" in cmd:
            out.append(f"another Spark JVM is running (pid {pid})")
    load1 = os.getloadavg()[0]
    cpus = len(os.sched_getaffinity(0))
    if load1 > cpus:
        out.append(f"load average {load1:.1f} on {cpus} cores")
    return out
