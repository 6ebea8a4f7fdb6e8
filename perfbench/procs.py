"""The processes a run starts (the JVM and its Python workers): their peak
resident memory, and a shutdown that waits until every one has ended."""

from __future__ import annotations

import os
import signal
import subprocess
import time


def _stat(pid: int) -> tuple[int, str, int] | None:
    """(parent pid, command, start time) of a live process; None once it
    has ended, zombies included."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            text = f.read()
    except OSError:
        return None
    comm = text[text.index("(") + 1 : text.rindex(")")]
    rest = text[text.rindex(")") + 2 :].split()
    if rest[0] == "Z":
        return None
    return int(rest[1]), comm, int(rest[19])


def descendants(root: int | None = None) -> dict[int, tuple[str, int]]:
    """{pid: (command, start time)} of every process below `root`."""
    root = root or os.getpid()
    parent_of, info = {}, {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                parent_of[int(name)] = st[0]
                info[int(name)] = (st[1], st[2])
    out = {}
    for pid in info:
        p = parent_of.get(pid)
        while p is not None and p > 1:
            if p == root:
                out[pid] = info[pid]
                break
            p = parent_of.get(p)
    return out


def _peak_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def peaks_mb() -> dict[str, float]:
    """Peak resident memory so far, in MB: the Python driver plus its
    Python workers, and the JVM."""
    out = {"python": _peak_mb(os.getpid()), "jvm": 0.0}
    for pid, (comm, _) in descendants().items():
        if comm == "java":
            out["jvm"] += _peak_mb(pid)
        elif comm.startswith("python"):
            out["python"] += _peak_mb(pid)
    return out


def stop_spark(spark, timeout_s: float = 60.0) -> None:
    """Stop the session and the JVM gateway, then wait for every process
    the session started; any still alive after `timeout_s` is killed."""
    from pyspark import SparkContext

    started = descendants()
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=timeout_s / 2)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + timeout_s / 2
    killed = False
    while True:
        alive = [p for p, (_, t0) in started.items() if (_stat(p) or (0, "", -1))[2] == t0]
        if not alive or (killed and time.monotonic() > deadline):
            return
        if not killed and time.monotonic() > deadline:
            for pid in alive:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            killed, deadline = True, time.monotonic() + 5
        time.sleep(0.05)
