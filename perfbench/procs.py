"""Process-tree bookkeeping for the benchmark's parent process.

The Spark driver child starts a JVM, and the JVM starts ``pyspark.daemon``,
which moves itself and its forked workers into a process group of their
own. A process-group kill therefore misses the workers, and when the child
exits the JVM lives on for seconds. So the parent marks itself a child
subreaper: every orphaned descendant is re-parented to it, which makes
"all of my descendants" the complete set of processes the benchmark
started. The parent samples their memory, waits for them, and if they
outlive a deadline sends SIGTERM and then SIGKILL.
"""

from __future__ import annotations

import ctypes
import os
import signal
import time

_PR_SET_CHILD_SUBREAPER = 36
_PAGE = os.sysconf("SC_PAGE_SIZE")


def become_subreaper() -> None:
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int, ctypes.c_ulong, ctypes.c_ulong,
                           ctypes.c_ulong, ctypes.c_ulong]
    libc.prctl.restype = ctypes.c_int
    if libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _proc_table() -> dict[int, tuple[int, str, int]]:
    """pid -> (ppid, state, rss_bytes) for every visible process."""
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                raw = f.read()
        except OSError:  # exited between listdir and open
            continue
        # comm may contain spaces and parentheses: split after the last ')'
        fields = raw[raw.rindex(b")") + 2:].split()
        table[int(name)] = (int(fields[1]), fields[0].decode(), int(fields[21]) * _PAGE)
    return table


def descendants(root: int | None = None) -> dict[int, int]:
    """Live (non-zombie) descendants of ``root`` (default: this process),
    as pid -> rss bytes."""
    root = os.getpid() if root is None else root
    table = _proc_table()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, stack = {}, list(children.get(root, ()))
    while stack:
        pid = stack.pop()
        ppid, state, rss = table[pid]
        if state != "Z":
            out[pid] = rss
        stack.extend(children.get(pid, ()))
    return out


def reap() -> None:
    """Collect exit statuses of re-parented orphans (never blocks)."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _signal_all(sig: int) -> None:
    for pid in descendants():
        try:
            os.kill(pid, sig)
        except ProcessLookupError:
            pass


def wait_all_exited(grace_s: float, term_s: float = 5.0) -> list[str]:
    """Wait until no descendant is left. After ``grace_s`` send SIGTERM to
    the survivors, after ``term_s`` more send SIGKILL. Returns the actions
    that were needed (empty when everything exited on its own)."""
    actions = []
    for sig, wait_s in ((None, grace_s), (signal.SIGTERM, term_s), (signal.SIGKILL, 5.0)):
        if sig is not None:
            if not descendants():
                break
            actions.append(f"{signal.Signals(sig).name} {sorted(descendants())}")
            _signal_all(sig)
        deadline = time.monotonic() + wait_s
        while time.monotonic() < deadline:
            reap()
            if not descendants():
                return actions
            time.sleep(0.05)
    reap()
    return actions
