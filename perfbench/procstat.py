"""Process-tree accounting from ``/proc``.

The measured process tree is this Python process, the JVM it launches
and the JVM's Python workers.  CPU time counts every live process's
utime + stime plus the cutime + cstime of children it has reaped, so
short-lived workers are not lost once their parent waits for them.
Memory is the sum of proportional set sizes over the tree, sampled on
a thread; its maximum is the tree's high-water resident memory.

``/proc/stat`` busy and steal fractions around a run tell a noisy box
apart from a slow program.  Steal misses a CPU that runs but runs
slower (a busy hyper-thread sibling, memory contention from other
guests), so a fixed pure-Python loop is also timed at both ends of the
window.  ``/proc/loadavg`` is deliberately not used:
on some virtual machines it reads several points above zero while the
CPUs are idle.
"""

from __future__ import annotations

import os
import threading
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE_SIZE = os.sysconf("SC_PAGE_SIZE")


def parse_pid_stat(text: str) -> dict:
    """Fields of one ``/proc/<pid>/stat`` line.  The command name is in
    parentheses and may hold spaces or ')' itself, so split after the
    last ')'."""
    rest = text[text.rindex(")") + 2 :].split()
    # rest[0] is field 3 (state); field n sits at rest[n - 3]
    return {
        "comm": text[text.index("(") + 1 : text.rindex(")")],
        "ppid": int(rest[1]),
        "utime": int(rest[11]),
        "stime": int(rest[12]),
        "cutime": int(rest[13]),
        "cstime": int(rest[14]),
        "starttime": int(rest[19]),
        "rss_pages": int(rest[21]),
    }


def parse_cpu_line(text: str) -> dict:
    """The aggregate ``cpu`` line of ``/proc/stat`` as named tick counts."""
    for line in text.splitlines():
        if line.startswith("cpu "):
            names = ("user", "nice", "system", "idle", "iowait", "irq",
                     "softirq", "steal")
            vals = [int(v) for v in line.split()[1:9]]
            vals += [0] * (len(names) - len(vals))
            return dict(zip(names, vals))
    raise ValueError("no aggregate cpu line in /proc/stat")


def cpu_fractions(before: dict, after: dict) -> dict:
    """Busy and steal shares of all CPU ticks between two snapshots."""
    delta = {k: after[k] - before[k] for k in before}
    total = sum(delta.values())
    if total <= 0:
        return {"busy": 0.0, "steal": 0.0, "ticks": 0}
    idle = delta["idle"] + delta["iowait"]
    return {
        "busy": (total - idle - delta["steal"]) / total,
        "steal": delta["steal"] / total,
        "ticks": total,
    }


def read_cpu() -> dict:
    with open("/proc/stat") as fh:
        return parse_cpu_line(fh.read())


def boot_time() -> float:
    with open("/proc/stat") as fh:
        for line in fh:
            if line.startswith("btime "):
                return float(line.split()[1])
    raise ValueError("no btime in /proc/stat")


def process_start_time(pid: int | None = None) -> float:
    """Wall-clock start of a process (``CLK_TCK`` resolution)."""
    with open(f"/proc/{pid or os.getpid()}/stat") as fh:
        st = parse_pid_stat(fh.read())
    return boot_time() + st["starttime"] / CLK_TCK


def _all_stats() -> dict[int, dict]:
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                out[int(name)] = parse_pid_stat(fh.read())
        except (OSError, ValueError, IndexError):
            continue  # exited between listdir and open
    return out


def tree_of(stats: dict[int, dict], root: int) -> list[int]:
    """``root`` and all its live descendants, from a ``{pid: stat}`` map."""
    children: dict[int, list[int]] = {}
    for pid, st in stats.items():
        children.setdefault(st["ppid"], []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def parse_pss_kb(text: str) -> int:
    """Proportional set size from ``/proc/<pid>/smaps_rollup``."""
    for line in text.splitlines():
        if line.startswith("Pss:"):
            return int(line.split()[1])
    raise ValueError("no Pss line")


def _pss_kb(pid: int, fallback_pages: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            return parse_pss_kb(fh.read())
    except (OSError, ValueError):
        return fallback_pages * PAGE_SIZE // 1024


def tree_usage(root: int | None = None, memory: bool = False) -> dict:
    """CPU seconds of the process tree right now and, with ``memory``,
    its resident memory in MB.  Memory is the sum of proportional set
    sizes: forked Python workers share their parent's pages, and a
    plain RSS sum would count those pages once per worker."""
    root = root or os.getpid()
    stats = _all_stats()
    pids = tree_of(stats, root)
    ticks = sum(
        stats[p]["utime"] + stats[p]["stime"] + stats[p]["cutime"] + stats[p]["cstime"]
        for p in pids
    )
    out = {"cpu_s": ticks / CLK_TCK, "pids": len(pids)}
    if memory:
        kb = {p: _pss_kb(p, stats[p]["rss_pages"]) for p in pids}
        out["mem_mb"] = sum(kb.values()) / 1024
        out["jvm_mb"] = sum(v for p, v in kb.items() if stats[p]["comm"] == "java") / 1024
    return out


class MemorySampler:
    """Samples the tree's memory every ``period_s`` on a daemon thread
    and keeps the maximum.  ``stop()`` joins the thread."""

    def __init__(self, period_s: float = 0.25):
        self.period_s = period_s
        self.peak_mb = 0.0
        self.peak_jvm_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.period_s)

    def sample(self) -> None:
        now = tree_usage(memory=True)
        self.peak_mb = max(self.peak_mb, now["mem_mb"])
        self.peak_jvm_mb = max(self.peak_jvm_mb, now["jvm_mb"])

    def start(self) -> "MemorySampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        self.sample()
        return self.peak_mb


def speed_probe_ms(reps: int = 5) -> float:
    """Median milliseconds a fixed pure-Python loop takes right now."""
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        x = 0
        for i in range(100_000):
            x += i * i
        times.append((time.perf_counter() - t0) * 1000.0)
    return sorted(times)[reps // 2]


class CpuWindow:
    """Tree CPU seconds and box busy/steal fractions over a window, and
    the speed probe at both ends."""

    def __enter__(self) -> "CpuWindow":
        self.probe0 = speed_probe_ms()
        self.cpu0 = tree_usage()["cpu_s"]
        self.box0 = read_cpu()
        self.t0 = time.monotonic()
        return self

    def __exit__(self, *exc) -> None:
        self.cpu_s = tree_usage()["cpu_s"] - self.cpu0
        self.wall_s = time.monotonic() - self.t0
        self.box = cpu_fractions(self.box0, read_cpu())
        # the share of the box's CPU time spent outside this process tree
        ours = self.cpu_s / (self.wall_s * (os.cpu_count() or 1))
        self.box["others_busy"] = max(0.0, self.box["busy"] - ours)
        self.box["probe_ms"] = [self.probe0, speed_probe_ms()]
