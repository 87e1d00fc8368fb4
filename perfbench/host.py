"""Host facts: the fingerprint written into every result, the
host-derived Spark topology and heap, and JVM memory from /proc."""

from __future__ import annotations

import os
import platform
import subprocess


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mib() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_heap() -> str:
    """A sixth of host RAM, clamped to [1, 4] GiB: the one JVM holds the
    driver and every local executor thread, and the host is shared."""
    return f"{min(4096, max(1024, mem_total_mib() // 6))}m"


def git_commit(root: str) -> str:
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.SubprocessError):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def fingerprint(root: str, java: str) -> dict:
    """Numbers from hosts with different fingerprints are not comparable."""
    import pyspark

    return {
        "nproc": nproc(),
        "mem_total_mib": mem_total_mib(),
        "driver_heap": driver_heap(),
        "spark": pyspark.__version__,
        "java": java,
        "python": platform.python_version(),
        "machine": platform.machine(),
        "git_commit": git_commit(root),
    }


def _java_pid(pid: int) -> int:
    """The gateway process is ``spark-submit``, which execs java; follow
    children in case a wrapper shell stayed in between."""
    for _ in range(4):
        try:
            with open(f"/proc/{pid}/comm") as fh:
                if fh.read().strip() == "java":
                    return pid
            with open(f"/proc/{pid}/task/{pid}/children") as fh:
                kids = fh.read().split()
        except OSError:
            break
        if not kids:
            break
        pid = int(kids[0])
    return pid


class JvmMemory:
    """Peak RSS of the driver JVM (VmHWM), resettable so that set-up
    and the measured window are reported apart."""

    def __init__(self, spark) -> None:
        self.pid = _java_pid(spark.sparkContext._gateway.proc.pid)

    def reset_peak(self) -> None:
        try:
            with open(f"/proc/{self.pid}/clear_refs", "w") as fh:
                fh.write("5")
        except OSError:
            pass  # not permitted: the peak then covers set-up too

    def peak_mb(self) -> float:
        with open(f"/proc/{self.pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError(f"VmHWM missing for pid {self.pid}")
