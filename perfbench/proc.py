"""Process-tree and host counters read from /proc.

The benchmark process, the Spark JVM it launches and the JVM's Python
workers form one tree; CPU and memory are summed over it.  CPU of a
process that exited and was reaped is carried in its parent's
cutime/cstime, so the sum over live processes of
utime+stime+cutime+cstime only grows while the tree runs.
"""

from __future__ import annotations

import os
import threading
import time

TICK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(path: str) -> list[str] | None:
    try:
        with open(path) as f:
            raw = f.read()
    except OSError:
        return None
    # comm (field 2) may hold spaces: split after its closing paren
    close = raw.rfind(")")
    return [raw[:close].split(" (", 1)[1]] + raw[close + 2:].split()


def tree(root: int) -> dict[int, list[str]]:
    """pid -> stat fields (comm first, then field 3 onward) for `root`
    and every descendant."""
    procs: dict[int, list[str]] = {}
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(f"/proc/{name}/stat")
        if fields is None:
            continue
        pid = int(name)
        procs[pid] = fields
        children.setdefault(int(fields[2]), []).append(pid)
    out: dict[int, list[str]] = {}
    todo = [root]
    while todo:
        pid = todo.pop()
        if pid in procs:
            out[pid] = procs[pid]
            todo.extend(children.get(pid, []))
    return out


def _cpu_ticks(fields: list[str]) -> int:
    # fields[0] is comm, fields[1] is stat field 3 (state): stat field
    # n sits at index n - 2; utime..cstime are fields 14..17
    return sum(int(x) for x in fields[12:16])


def cpu_split(root: int, jvm_pid: int | None) -> dict[str, float]:
    """CPU seconds so far, split into the JVM, the Python workers below
    it and the benchmark's own driver process."""
    t = tree(root)
    jvm = set(tree(jvm_pid)) if jvm_pid else set()
    out = {"jvm": 0.0, "python": 0.0, "driver": 0.0}
    for pid, fields in t.items():
        secs = _cpu_ticks(fields) / TICK
        if pid == jvm_pid:
            out["jvm"] += secs
        elif pid in jvm:
            out["python"] += secs
        else:
            out["driver"] += secs
    return out


def jit_threads(jvm_pid: int) -> dict[int, float]:
    """CPU seconds so far of each live JIT compiler thread of the JVM
    (HotSpot names them "C1/C2 CompilerThreadN")."""
    out = {}
    task = f"/proc/{jvm_pid}/task"
    for tid in os.listdir(task):
        fields = _stat_fields(f"{task}/{tid}/stat")
        if fields and fields[0].startswith(("C1 Compiler", "C2 Compiler")):
            out[int(tid)] = (int(fields[12]) + int(fields[13])) / TICK
    return out


def host() -> dict[str, float]:
    """Machine-wide steal and iowait seconds (summed over CPUs) and the
    1-minute load average."""
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    return {"iowait_s": int(cpu[5]) / TICK, "steal_s": int(cpu[8]) / TICK,
            "load1": load1}


def host_delta(start: dict[str, float], end: dict[str, float]) -> dict:
    return {"steal_s": round(end["steal_s"] - start["steal_s"], 3),
            "iowait_s": round(end["iowait_s"] - start["iowait_s"], 3),
            "load1_delta": round(end["load1"] - start["load1"], 2)}


class PeakRss:
    """Samples the tree's summed RSS on a thread; `peak` is the largest
    sample and `cpu_s` the thread's own CPU seconds so far.  A sample
    reads only the stat files of the pids the last walk of the tree
    found; the tree is walked again every `WALK_EVERY` samples, so a
    process that lives shorter than that can be missed.  Used as a
    context manager so the thread always stops."""

    WALK_EVERY = 10

    def __init__(self, root: int, interval_s: float = 0.1):
        self.root = root
        self.interval_s = interval_s
        self.peak = 0
        self.cpu_s = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pids: list[int] = []
        n = 0
        while True:
            if n % self.WALK_EVERY == 0:
                pids = list(tree(self.root))
            n += 1
            rss = 0
            for pid in pids:
                fields = _stat_fields(f"/proc/{pid}/stat")
                if fields is not None:
                    rss += int(fields[22])  # stat field 24: rss in pages
            self.peak = max(self.peak, rss * PAGE)
            self.cpu_s = time.thread_time()
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
