"""Host facts and per-process readings from ``/proc`` (Linux)."""

from __future__ import annotations

import hashlib
import os
import platform
import subprocess

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def loadavg() -> list[float]:
    return [round(x, 2) for x in os.getloadavg()]


def steal_seconds() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs
    since boot (the ``steal`` column of /proc/stat); 0.0 where absent."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _CLK_TCK if len(fields) > 8 else 0.0


def _stat_fields(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name, or None if the
    process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    return raw[raw.rindex(")") + 2:].split()


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def python_workers(jvm_pid: int) -> list[int]:
    """The Python daemon and workers the JVM has forked."""
    return [p for p in descendants(jvm_pid)
            if p != jvm_pid and _comm(p).startswith("python")]


def cpu_seconds(pids: list[int]) -> float:
    """User+system CPU of ``pids``, including their reaped children."""
    ticks = 0
    for pid in pids:
        fields = _stat_fields(pid)
        if fields is not None:
            # utime, stime, cutime, cstime (stat fields 14-17)
            ticks += sum(int(x) for x in fields[11:15])
    return ticks / _CLK_TCK


def peak_rss_bytes(pids: list[int]) -> int:
    """Sum of each process's resident high-water mark (VmHWM)."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


def source_digest(root: str) -> str:
    """sha256 over the engine's and jobs' Python sources, so an artifact
    names the program it measured even outside a git checkout."""
    paths = sorted(os.path.relpath(os.path.join(d, fn), root)
                   for sub in ("loc2vec_spark", "jobs")
                   for d, _dirs, files in os.walk(os.path.join(root, sub))
                   for fn in files if fn.endswith(".py"))
    h = hashlib.sha256()
    for rel in paths:
        h.update(rel.encode())
        with open(os.path.join(root, rel), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def git_head(root: str) -> str | None:
    try:
        # the ceiling keeps git from adopting an enclosing repository
        env = dict(os.environ,
                   GIT_CEILING_DIRECTORIES=os.path.dirname(root))
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root,
                             env=env, capture_output=True, text=True,
                             timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def host_facts(root: str) -> dict:
    import numpy
    import pyarrow
    import pyspark
    return {
        "nproc": nproc(),
        "mem_total_bytes": mem_total_bytes(),
        "platform": platform.platform(),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
        "git_head": git_head(root),
        "source_sha256": source_digest(root),
    }
