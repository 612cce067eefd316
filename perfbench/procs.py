"""Process lifetime: start each benchmark child in its own session and
stop every process of that session, however it was left.

PySpark's worker daemon calls ``os.setpgid(0, 0)``, so a process-group
kill misses it, and the JVM can outlive the Python process that started it
(reparented to init). Neither leaves the session it was started in,
so members are found by session id, plus a walk of descendants for
any process that started a session of its own, before anything is
killed. A process that starts a session of its own and is then
orphaned leaves both: the benchmark is a child subreaper, so such an
orphan becomes its child, and ``Child.stop`` stops it there. Reads
Linux ``/proc`` only.
"""

from __future__ import annotations

import ctypes
import os
import signal
import subprocess
import time

_PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    """Have orphaned descendants reparented to this process rather than
    to init, so they can be waited for here."""
    prctl = ctypes.CDLL(None, use_errno=True).prctl
    prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    prctl.restype = ctypes.c_int
    if prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        err = ctypes.get_errno()
        raise OSError(err, os.strerror(err))


def _fields(pid: int) -> list[str] | None:
    """The fields of ``/proc/<pid>/stat`` from the state on (field 3);
    None once the process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name may hold spaces and parentheses: split after it
    return raw[raw.rindex(")") + 2:].split()


def _stat(pid: int) -> tuple[int, int, str] | None:
    """(ppid, session id, state) of a process, zombies included; None
    once it is gone."""
    fields = _fields(pid)
    if fields is None:
        return None
    return int(fields[1]), int(fields[3]), fields[0]


def _table() -> dict[int, tuple[int, int, str]]:
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                out[int(name)] = st
    return out


def tree(root: int) -> set[int]:
    """Live (non-zombie) processes in ``root``'s session or below it."""
    table = _table()
    found = {p for p, (_, sid, state) in table.items() if sid == root and state != "Z"}
    frontier = [root, *found]
    while frontier:
        parent = frontier.pop()
        for p, (ppid, _, state) in table.items():
            if ppid == parent and p not in found and state != "Z":
                found.add(p)
                frontier.append(p)
    if root in table and table[root][2] != "Z":
        found.add(root)
    return found


def _signal_all(pids: set[int], sig: int) -> None:
    for p in pids:
        try:
            os.kill(p, sig)
        except (ProcessLookupError, PermissionError):
            pass


def _alive(pids: set[int]) -> set[int]:
    return {p for p in pids if (st := _stat(p)) is not None and st[2] != "Z"}


def stop_tree(root: int, grace_s: float = 3.0, wait_s: float = 15.0) -> set[int]:
    """SIGTERM every process of ``root``'s session and below, SIGKILL
    what is left after ``grace_s``, and wait until none is left.
    Returns the pids still alive after ``wait_s`` more (empty on
    success)."""
    pids = tree(root)
    _signal_all(pids, signal.SIGTERM)
    start = time.monotonic()
    while pids and time.monotonic() - start < grace_s + wait_s:
        if time.monotonic() - start >= grace_s:
            _signal_all(pids, signal.SIGKILL)
        time.sleep(0.1)
        pids = tree(root) | _alive(pids)
    return pids


class Child:
    """A child process in a session of its own, logged to a file."""

    def __init__(self, argv: list[str], log_path: str, env: dict, cwd: str):
        self._log = open(log_path, "ab")
        self.proc = subprocess.Popen(
            argv, stdin=subprocess.DEVNULL, stdout=self._log,
            stderr=subprocess.STDOUT, env=env, cwd=cwd, start_new_session=True,
        )
        self.pid = self.proc.pid

    def stop(self) -> set[int]:
        """Stop the child's whole session and wait for the child. Then
        stop and reap every other child of this process: with this
        process a subreaper, those are the orphans of the child's tree,
        also ones that started a session of their own."""
        left = stop_tree(self.pid)
        try:
            self.proc.wait(timeout=5)
        except subprocess.TimeoutExpired:
            left.add(self.pid)
        me = os.getpid()
        for pid, (ppid, _, state) in _table().items():
            if ppid != me or pid == self.pid:
                continue
            if state != "Z":
                left |= stop_tree(pid)
            try:
                os.waitpid(pid, 0)
            except ChildProcessError:  # reaped in the meantime
                pass
        self._log.close()
        return left


def cpu_s(pids: set[int]) -> float:
    """CPU time (user + system) the given processes and the children
    they reaped have used, in seconds. Time the hypervisor gave to other
    guests (steal) is not part of it."""
    ticks = 0
    for p in pids:
        fields = _fields(p)
        if fields is not None:
            ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


def vmhwm_mb(pids: set[int]) -> dict[int, float]:
    """Peak resident set (VmHWM) of each given live process, MiB."""
    out = {}
    for p in pids:
        try:
            with open(f"/proc/{p}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        out[p] = int(line.split()[1]) / 1024.0
                        break
        except OSError:
            pass
    return out
