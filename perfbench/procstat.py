"""This process's tree, read from ``/proc``: its resident memory and
waiting for it to end."""

from __future__ import annotations

import os
import signal
import time


def _parents() -> dict[int, int]:
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:  # the process ended while we listed it
            continue
        # the command name may hold spaces and parentheses: fields resume
        # after its closing parenthesis, and the parent pid is the second
        out[int(d)] = int(stat[stat.rindex(")") + 2 :].split()[1])
    return out


def descendants(pid: int | None = None) -> list[int]:
    pid = os.getpid() if pid is None else pid
    parents = _parents()
    found, frontier = [], [pid]
    while frontier:
        kids = [c for c, p in parents.items() if p in frontier]
        found += kids
        frontier = kids
    return found


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:  # the process ended
        pass
    return 0


def tree_pss_mb() -> float:
    """Proportional resident set (Pss) of this process and every live
    descendant, summed: the driver, the JVM and Spark's Python workers. A
    page shared by n processes counts 1/n in each, so pages the forked
    workers share with their daemon are counted once."""
    return sum(_pss_kb(p) for p in [os.getpid(), *descendants()]) / 1024


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def wait_ended(pids: list[int], timeout: float) -> None:
    """Wait until every process in ``pids`` and every descendant of this
    one has ended (a process whose parent died is no longer a descendant,
    hence the list taken beforehand). After ``timeout`` seconds, terminate
    the ones left, then kill them."""
    deadline = time.monotonic() + timeout
    sent = None
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:  # reap our own children
                pass
        except ChildProcessError:
            pass
        left = [p for p in {*pids, *descendants()} if _alive(p)]
        if not left:
            return
        now = time.monotonic()
        if now >= deadline:
            if sent == signal.SIGKILL:
                raise RuntimeError(f"processes {left} did not exit")
            sent = signal.SIGTERM if sent is None else signal.SIGKILL
            deadline = now + 10
            for p in left:
                try:
                    os.kill(p, sent)
                except ProcessLookupError:
                    pass
        time.sleep(0.1)
