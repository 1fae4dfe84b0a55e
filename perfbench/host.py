"""Host sizing, run context and process-tree memory."""

from __future__ import annotations

import os
import platform
import subprocess


def mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("no MemTotal in /proc/meminfo")


def size_session_env() -> dict:
    """The session sizing ``session.get_spark`` reads: every usable core,
    and a driver heap of a quarter of RAM."""
    env = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_DRIVER_MEM": f"{max(1, mem_total_bytes() // 4 >> 30)}g",
    }
    os.environ.update(env)
    return env


def context(root: str, seed: int, workload: str) -> dict:
    import duckdb
    import pyspark

    try:
        commit = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"], capture_output=True,
            text=True, timeout=10,
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    return {
        "workload": workload,
        "seed": seed,
        "cores": len(os.sched_getaffinity(0)),
        "ram_bytes": mem_total_bytes(),
        "loadavg_pre": [round(x, 2) for x in os.getloadavg()],
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "git_commit": commit,
    }


def spark_confs(spark) -> dict:
    return dict(sorted(spark.sparkContext.getConf().getAll()))


def _children() -> dict:
    kids: dict = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        kids.setdefault(ppid, []).append(int(pid))
    return kids


def tree_pids(root_pid: int) -> list:
    kids = _children()
    out, stack = [], [root_pid]
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(kids.get(p, []))
    return out


def peak_rss_mb(root_pid: int) -> float:
    """Sum of VmHWM over a process and all its descendants."""
    total_kb = 0
    for pid in tree_pids(root_pid):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(d, f))
            except OSError:
                pass
    return total
