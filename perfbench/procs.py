"""The benchmark's own processes, read from /proc: the Spark JVM this
process launches and the Python workers the JVM starts."""

from __future__ import annotations

import os
import signal
import time


def _stat(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name, or None."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None


def descendants() -> list[tuple[int, str]]:
    """(pid, start time) of every live descendant of this process: the
    Spark JVM and the Python workers it starts."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        fields = _stat(int(entry)) if entry.isdigit() else None
        if fields:
            children.setdefault(int(fields[1]), []).append(int(entry))
    todo, found = list(children.get(os.getpid(), [])), []
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        fields = _stat(pid)
        if fields:
            found.append((pid, fields[19]))
    return found


def _running(pid: int, start: str) -> bool:
    """Whether the process ``pid`` that started at ``start`` still runs;
    reaps it if it is an exited child of this process."""
    fields = _stat(pid)
    if fields is None or fields[19] != start:
        return False
    if fields[0] in "ZX":
        try:
            os.waitpid(pid, os.WNOHANG)
        except ChildProcessError:
            pass
        return False
    return True


def wait_ended(procs: list[tuple[int, str]], timeout: float = 60.0) -> None:
    """Wait until every process of ``procs`` has ended; kill those still
    running after ``timeout`` seconds and wait for them too."""
    for grace in (timeout, 10.0):
        deadline = time.monotonic() + grace
        while time.monotonic() < deadline:
            procs = [p for p in procs if _running(*p)]
            if not procs:
                return
            time.sleep(0.05)
        for pid, _ in procs:
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass


def peak_rss_mb() -> float:
    """Sum of VmHWM over this process and every live descendant (the
    Spark JVM and any Python workers)."""
    kb = 0
    for pid in [os.getpid()] + [pid for pid, _ in descendants()]:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            continue
    return kb / 1024.0



def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and its
    live descendants, with the children each has reaped."""
    ticks = 0
    for pid in [os.getpid()] + [pid for pid, _ in descendants()]:
        fields = _stat(pid)
        if fields:
            ticks += sum(int(v) for v in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")
