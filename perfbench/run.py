"""Benchmark of the transcript quality filter: one command, one workload.

    python3 perfbench/run.py --workload mixed_filter --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10

Run from the repository root. Workloads: ``mixed_filter``,
``reject_heavy``, ``commit_resume`` (see perfbench/README.md); ``all``
runs each of them untraced and traced and prints the tracing overhead.

The parent process sizes Spark from the host, caches the seeded inputs and
the oracle digests per (workload, seed) in ``.perfbench/inputs``, runs the
Spark driver in a child process, samples the memory of every process the
child starts, and waits until all of them have exited. It prints a summary
and, as the last line, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones.
Everything it writes stays under ``.perfbench/`` in the repository root.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

import procs
import tracing

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench"
WORKLOADS = ("mixed_filter", "reject_heavy", "commit_resume")
DEADLINE_S = 170.0  # the whole command, prep included
TEARDOWN_GRACE_S = 15.0  # descendants may outlive the Spark driver this long
RSS_PERIOD_S = 0.5


class Interrupted(Exception):
    def __init__(self, signum: int):
        super().__init__(signal.Signals(signum).name)
        self.signum = signum


def _on_signal(signum, frame):  # noqa: ARG001
    raise Interrupted(signum)


def host() -> dict:
    """cpus = the CPUs this process may run on (``nproc``); heap = a sixth
    of MemTotal, since the host's memory is shared."""
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return {"cpus": len(os.sched_getaffinity(0)), "heap": f"{mem_kb // 1024 // 6}m"}


def child_env(h: dict) -> dict:
    tmp = WORK / "tmp"
    (tmp / "spark").mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env.update(
        PYTHONPATH=os.pathsep.join(filter(None, (str(ROOT), env.get("PYTHONPATH")))),
        PYSPARK_PYTHON=sys.executable,
        SPARK_GRAFT_CPUS=str(h["cpus"]),
        SPARK_DRIVER_MEM=h["heap"],
        SPARK_LOCAL_DIRS=str(tmp / "spark"),
        TMPDIR=str(tmp),
        # keep the JVM's scratch files inside the checkout too
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    )
    return env


def _child(args: list[str], env: dict, log: Path, cwd: Path, timeout: float,
           on_tick=None) -> int:
    """Run ``worker.py`` in its own session, calling ``on_tick`` every
    RSS_PERIOD_S while it runs. If it outlives ``timeout`` or this process
    is interrupted, send it SIGTERM and give it TEARDOWN_GRACE_S to stop
    Spark."""
    with log.open("ab") as out:
        p = subprocess.Popen(
            [sys.executable, str(HERE / "worker.py"), *args],
            cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
    try:
        deadline = time.monotonic() + timeout
        while p.poll() is None:
            if on_tick:
                on_tick()
            if time.monotonic() > deadline:
                raise TimeoutError(f"worker {args[0]} exceeded {timeout:.0f} s")
            time.sleep(RSS_PERIOD_S)
    finally:
        if p.poll() is None:
            p.send_signal(signal.SIGTERM)  # worker stops Spark in a finally
            try:
                p.wait(timeout=TEARDOWN_GRACE_S)
            except subprocess.TimeoutExpired:
                pass
    return p.returncode


def _code_tag() -> str:
    h = hashlib.sha256()
    for name in ("gen.py", "worker.py"):
        h.update((HERE / name).read_bytes())
    return h.hexdigest()[:10]


def measure(workload: str, seed: int, seconds: float, traced: bool, h: dict) -> dict:
    t_start = time.monotonic()
    env = child_env(h)
    inputs = WORK / "inputs" / f"{workload}-s{seed}-{_code_tag()}"
    run_dir = WORK / "runs" / f"{workload}-s{seed}-t{int(traced)}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    log = run_dir / "worker.log"

    if not (inputs / "oracle.json").exists():
        rc = _child(["prep", "--workload", workload, "--seed", str(seed),
                     "--dir", str(inputs)], env, log, run_dir, DEADLINE_S)
        procs.wait_all_exited(TEARDOWN_GRACE_S)
        if rc != 0:
            raise RuntimeError(f"input preparation failed (exit {rc}), see {log}")

    peak = [0, 0]  # bytes, samples

    def sample_rss():
        peak[0] = max(peak[0], sum(procs.descendants().values()))
        peak[1] += 1

    left = DEADLINE_S - (time.monotonic() - t_start) - TEARDOWN_GRACE_S
    rc = _child(["run", "--workload", workload, "--seconds", str(seconds),
                 "--trace", str(int(traced)), "--input", str(inputs),
                 "--dir", str(run_dir)], env, log, run_dir, left, sample_rss)
    t_exit = time.monotonic()
    actions = procs.wait_all_exited(TEARDOWN_GRACE_S)
    teardown_s = time.monotonic() - t_exit
    survivors = sorted(procs.descendants())
    if rc != 0:
        raise RuntimeError(f"benchmark worker failed (exit {rc}), see {log}")
    res = json.loads((run_dir / "result.json").read_text())
    res.update(
        host=h, seed=seed, peak_rss_bytes=peak[0], rss_samples=peak[1],
        teardown_s=teardown_s, teardown_signals=actions, survivors=survivors,
    )
    (run_dir / "result.json").write_text(json.dumps(res))
    return res


def _median(samples: list[dict], key: str) -> float:
    vals = [s[key] for s in samples if s["phase"] == "steady" and key in s]
    return statistics.median(vals) if vals else 0.0


def end_to_end(res: dict) -> dict:
    return {
        "setup_s": (res["setup_s"], "s"),
        "cold_pass_s": (res["samples"][0]["seconds"], "s"),
        "turns_per_s": (res["turns"] / _median(res["samples"], "seconds"), "turns/s"),
        "peak_rss_mb": (res["peak_rss_bytes"] / 2**20, "MiB"),
    }


def per_layer(res: dict) -> dict:
    m = {k: (v, "s" if k.endswith("_s") else "us" if k.endswith("_us") else
             "bytes" if k.endswith("_bytes") or k.endswith("bytes_written") else
             "fraction" if k.endswith("_frac") else "count")
         for k, v in res["layers"].items()}
    for k, v in tracing.steady_event_medians(res["spark_events"]).items():
        m[k] = (v, "ms" if k.endswith("_ms") else "bytes")
    m.update({
        "session.launch_s": (res["session"]["launch_s"], "s"),
        "session.rebuild_s": (res["session"]["rebuild_s"], "s"),
        "trace.turns_per_s": (end_to_end(res)["turns_per_s"][0], "turns/s"),
    })
    return m


def summary(res: dict) -> tuple[dict, list[str]]:
    s = res["samples"]
    failed = sum(not x["ok"] for x in s) + (1 if res["survivors"] else 0)
    steady = sum(x["phase"] == "steady" for x in s)
    v, h = res["versions"], res["host"]
    lines = [
        f"{res['workload']} seed={res['seed']} trace={int(res['traced'])} "
        f"turns={res['turns']} cpus={h['cpus']} heap={h['heap']} spark={v['spark']} "
        f"java={v['java']} python={v['python']}",
        f"  setup_s      {res['setup_s']:.3f} s  (n=1 cold build, JVM launch"
        f" {res['session']['launch_s']:.3f} s of it)",
        f"  cold_pass_s  {s[0]['seconds']:.3f} s  (n=1)",
        f"  turns_per_s  {end_to_end(res)['turns_per_s'][0]:.1f} turns/s  (median of"
        f" n={steady} steady operations,"
        f" {sum(x['phase'] == 'warmup' for x in s)} warm-up discarded)",
        f"  peak_rss_mb  {res['peak_rss_bytes'] / 2**20:.1f} MiB  (max of n={res['rss_samples']}"
        " samples of the driver, JVM and Python workers)",
    ]
    if res["workload"] == "commit_resume":
        lines.append(f"  resume_s     {_median(s, 'resume_s'):.3f} s  (median of n={steady})")
    lines += [
        f"  failed_frac  {failed / len(s):.4f}  ({failed}/{len(s)} operations)",
        f"  teardown     {res['teardown_s']:.2f} s after the Spark driver exited; signals:"
        f" {res['teardown_signals'] or 'none'}; survivors: {res['survivors'] or 'none'}",
    ]
    if res["traced"]:
        lines += [f"  {k} = {val} {unit}" for k, (val, unit) in per_layer(res).items()]
    return {"attempted": len(s), "failed": failed}, lines


def report(res: dict) -> dict:
    counts, lines = summary(res)
    for line in lines:
        print("[perfbench] " + line)
    metrics = per_layer(res) if res["traced"] else end_to_end(res)
    return {
        "correct": counts["failed"] == 0,
        **counts,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=(*WORKLOADS, "all"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    signal.signal(signal.SIGTERM, _on_signal)
    signal.signal(signal.SIGINT, _on_signal)
    procs.become_subreaper()
    h = host()
    try:
        if a.workload != "all":
            out = report(measure(a.workload, a.seed, a.seconds, bool(a.trace), h))
        else:
            out = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
            for w in WORKLOADS:
                plain = report(measure(w, a.seed, a.seconds, False, h))
                traced = report(measure(w, a.seed, a.seconds, True, h))
                tps = plain["metrics"]["turns_per_s"]["value"]
                ttps = traced["metrics"]["trace.turns_per_s"]["value"]
                print(f"[perfbench] {w}: tracing overhead {tps / ttps - 1:+.1%}"
                      f" of steady pass time ({tps:.1f} vs {ttps:.1f} turns/s)")
                for r in (plain, traced):
                    out["correct"] &= r["correct"]
                    out["attempted"] += r["attempted"]
                    out["failed"] += r["failed"]
                    out["metrics"].update({f"{w}.{k}": v for k, v in r["metrics"].items()})
    except Interrupted as e:
        print(f"perfbench: interrupted by {e}, stopping the workers", file=sys.stderr)
        procs.wait_all_exited(0.0)
        return 128 + e.signum
    except (RuntimeError, OSError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        procs.wait_all_exited(TEARDOWN_GRACE_S)
        return 1
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
