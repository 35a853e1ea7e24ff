"""Self-test of the benchmark's process hygiene and failure behaviour.

    python3 perfbench/selftest.py

Run from the repository root. This process marks itself a child
subreaper, so any process that ``run.py`` leaves behind is re-parented to
it and shows up as a descendant. It checks that:

1. a complete run exits 0, prints the result JSON last, and leaves no
   descendant (no JVM, no ``pyspark.daemon``, no Python worker);
2. SIGTERM during the run, once Python workers run, makes ``run.py`` exit
   non-zero without a result, again leaving no descendant;
3. in a directory holding only ``BENCHMARK.json`` and ``perfbench/``
   (no program), ``run.py`` exits non-zero without a result.

Exits 0 when every check holds.
"""

from __future__ import annotations

import json
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

import procs

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
CMD = [sys.executable, "perfbench/run.py", "--workload", "reject_heavy",
       "--seed", "1", "--seconds", "1", "--trace", "0"]


def _result_line(out: str) -> dict | None:
    lines = out.strip().splitlines()
    try:
        res = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        return None
    return res if isinstance(res, dict) else None


def _left_behind() -> list[str]:
    procs.reap()
    left = []
    for pid in procs.descendants():
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read().replace(b"\0", b" ")[:120].decode(errors="replace")
            left.append(f"{pid}: {cmd}")
        except OSError:
            pass
    return left


def _workers_running() -> bool:
    """True once a ``pyspark.daemon`` (which moves itself into a process
    group of its own) runs under the JVM."""
    for pid in procs.descendants():
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                if b"pyspark.daemon" in f.read():
                    return True
        except OSError:
            pass
    return False


def check_complete_run() -> list[str]:
    p = subprocess.run(CMD, cwd=ROOT, capture_output=True, text=True, timeout=180)
    res = _result_line(p.stdout)
    errors = []
    if p.returncode != 0:
        errors.append(f"exit {p.returncode}: {p.stderr[-2000:]}")
    if not res or set(res) != {"correct", "attempted", "failed", "metrics"}:
        errors.append("last stdout line is not the result object")
    elif not res["correct"]:
        errors.append(f"run reported incorrect output: {res}")
    left = _left_behind()
    if left:
        errors.append(f"processes left behind: {left}")
    return errors


def check_sigterm() -> list[str]:
    p = subprocess.Popen(CMD, cwd=ROOT, stdout=subprocess.PIPE,
                         stderr=subprocess.DEVNULL, text=True)
    deadline = time.monotonic() + 120
    while not _workers_running() and p.poll() is None and time.monotonic() < deadline:
        time.sleep(0.2)
    errors = [] if _workers_running() else ["no Python worker appeared to interrupt"]
    p.send_signal(signal.SIGTERM)
    out, _ = p.communicate(timeout=60)
    if p.returncode == 0:
        errors.append("run.py exited 0 after SIGTERM")
    if _result_line(out) is not None:
        errors.append("run.py printed a result after SIGTERM")
    left = _left_behind()
    if left:
        errors.append(f"processes left behind after SIGTERM: {left}")
    return errors


def check_without_program() -> list[str]:
    bare = ROOT / ".perfbench" / "selftest-bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    shutil.copy2(ROOT / "BENCHMARK.json", bare / "BENCHMARK.json")
    shutil.copytree(HERE, bare / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(CMD, cwd=bare, capture_output=True, text=True, timeout=180)
    errors = []
    if p.returncode == 0:
        errors.append("run.py exited 0 without the program")
    if _result_line(p.stdout) is not None:
        errors.append("run.py printed a result without the program")
    left = _left_behind()
    if left:
        errors.append(f"processes left behind: {left}")
    shutil.rmtree(bare, ignore_errors=True)
    return errors


def main() -> int:
    procs.become_subreaper()
    failed = False
    for check in (check_complete_run, check_sigterm, check_without_program):
        t0 = time.monotonic()
        errors = check()
        failed |= bool(errors)
        status = "ok" if not errors else "FAILED: " + "; ".join(errors)
        print(f"{check.__name__}: {status} ({time.monotonic() - t0:.1f} s)")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
