"""Host state read from /proc: CPU counters, load, process-tree memory.

A run is stamped with the 1-minute loadavg at start and end, the steal
time, and the CPU share that processes outside this run used while it ran,
so that a run measured on a busy host can be told apart afterwards.
"""

from __future__ import annotations

import os
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _cpu_totals() -> tuple[int, int, int]:
    """(busy, total, steal) jiffies summed over all CPUs."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal guest guest_nice
    idle = vals[3] + vals[4]
    steal = vals[7] if len(vals) > 7 else 0
    total = sum(vals[:8])
    return total - idle - steal, total, steal


def _children() -> dict[int, list[int]]:
    tree: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        tree.setdefault(ppid, []).append(int(d))
    return tree


def running(pid: int) -> bool:
    """Whether ``pid`` exists and has not exited (a zombie has exited)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def process_tree(root: int | None = None) -> list[int]:
    """This process and all its descendants (the JVM and its workers)."""
    root = root or os.getpid()
    tree, out, todo = _children(), [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(tree.get(pid, []))
    return out


def process_and_children() -> list[int]:
    """This process and its direct children (the JVM), without the Python
    workers the JVM forks: how many of those are alive at the end varies."""
    return [os.getpid(), *_children().get(os.getpid(), [])]


def _tree_cpu_jiffies(pids: list[int]) -> int:
    n = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            n += sum(int(v) for v in fields[11:15])  # utime stime cutime cstime
        except (OSError, IndexError, ValueError):
            continue
    return n


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and its
    descendants. Time the hypervisor steals is not in it."""
    return _tree_cpu_jiffies(process_tree()) / CLK_TCK


def peak_rss_by_command(pids: list[int]) -> dict[str, float]:
    """Peak resident set (VmHWM) in MiB, summed per command name."""
    out: dict[str, float] = {}
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                fields = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue
        if "VmHWM" in fields:
            name = fields["Name"].strip()
            out[name] = out.get(name, 0.0) + int(fields["VmHWM"].split()[0]) / 1024
    return out


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of each process's peak resident set (VmHWM), in MiB."""
    return sum(peak_rss_by_command(pids).values())


def process_start_epoch() -> float:
    """Wall-clock time at which this process started."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - uptime + start_ticks / CLK_TCK


class HostStamp:
    """Snapshot at construction; ``finish()`` returns the run's host record."""

    def __init__(self, cores: int):
        self.cores = cores
        self.load_start = os.getloadavg()[0]
        self.cpu_start = _cpu_totals()
        self.tree_start = _tree_cpu_jiffies(process_tree())

    def finish(self) -> dict:
        busy0, total0, steal0 = self.cpu_start
        busy1, total1, steal1 = _cpu_totals()
        total = max(1, total1 - total0)
        ours = _tree_cpu_jiffies(process_tree()) - self.tree_start
        return {
            "nproc": os.cpu_count(),
            "master": f"local[{self.cores}]",
            "loadavg_1m_start": round(self.load_start, 2),
            "loadavg_1m_end": round(os.getloadavg()[0], 2),
            "steal_share": round((steal1 - steal0) / total, 4),
            "other_cpu_share": round(max(0, (busy1 - busy0) - ours) / total, 4),
        }
