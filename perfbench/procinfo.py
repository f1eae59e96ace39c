"""Process-level facts of a run: CPU steal, peak memory, versions, and
an orderly shutdown of the JVM and Python workers the run started."""

from __future__ import annotations

import os
import platform
import time


def cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat, in clock ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_pct(before: list[int], after: list[int]) -> float:
    """Share of CPU time stolen by the hypervisor between two readings."""
    delta = [b - a for a, b in zip(before[:8], after[:8])]
    total = sum(delta)
    return 100.0 * delta[7] / total if total else 0.0


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                # the command name may hold spaces; ppid follows its ')'
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # exited while we looked
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for child in children.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def _peak_rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return "?"


def tree_peak_rss_mb(pid: int) -> tuple[float, list[tuple[str, float]]]:
    """Sum of the peak resident set of ``pid`` and every live descendant
    (the Python driver, the JVM and the Python workers), and each
    process's share."""
    each = [(_comm(p), _peak_rss_kb(p) / 1024.0) for p in [pid, *descendants(pid)]]
    return sum(mb for _, mb in each), each


def versions(spark, nproc: int) -> dict:
    import pyspark

    return {
        "nproc": nproc,
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": spark._jvm.System.getProperty("java.version") if spark else "?",
    }


def _alive(pid: int) -> bool:
    """Running or sleeping; a zombie has ended and waits to be reaped."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def shutdown(bench, timeout_s: float = 60.0) -> None:
    """Stop the session, close the JVM's stdin (the gateway exits on
    EOF), and wait until the JVM and every worker it forked are gone."""
    from pyspark import SparkContext

    started = descendants(os.getpid())
    bench.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=timeout_s)
    deadline = time.monotonic() + timeout_s
    while any(_alive(p) for p in started):
        if time.monotonic() > deadline:
            raise TimeoutError(f"processes still running after shutdown: {started}")
        time.sleep(0.1)
