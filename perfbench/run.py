"""Benchmark runner: one workload per invocation, in a child process.

    python3 perfbench/run.py --workload batch_build --seed 1 --seconds 20 --trace 0

Run from the repository root. The workload runs in its own session
(process group) so that its JVM and Python workers can be stopped
together; the runner samples the group's summed memory (PSS) from outside, stops
the group on success, error, timeout or signal (TERM, then KILL), and
fails if any process of the group survives. Spark's scratch space, the
inputs, the sink tables and the event logs live under
``perfbench/_work/`` and are removed at exit; oracle results are cached
under ``perfbench/_cache/``, and a traced run's spans are written to
``perfbench/_traces/<workload>.json``.

The last stdout line is the result:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
The line before it records the run's context (cpus, loadavg at start and
end, driver heap, pyspark version, seed).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

T_START = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("batch_build", "query_mix")
# a run must end within 180 s: the timeout plus at most four grace periods
# of teardown (TERM, KILL, reaping orphans, waiting for the child)
TIMEOUT_S = 150.0
GRACE_S = 5.0
SAMPLE_S = 0.2


class Interrupted(Exception):
    pass


def _on_signal(signum, frame):
    raise Interrupted(signal.Signals(signum).name)


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces and parentheses; fields resume after the last ')'
    return raw[raw.rindex(")") + 2 :].split()


def session_members(sid: int, zombies: bool = False) -> list[int]:
    """Processes whose session id is ``sid``; zombies only if asked."""
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat(int(name))
        # fields[0] is the state, fields[3] the session id
        if fields and fields[3] == str(sid) and (zombies or fields[0] != "Z"):
            out.append(int(name))
    return out


def pss_bytes(pids: list[int]) -> int:
    """Summed proportional set size: pages shared by forked Python workers
    count once across them, not once per worker."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except (OSError, IndexError, ValueError):
            pass
    return total


def stop_group(sid: int) -> list[int]:
    """TERM the session's group, KILL after the grace period; returns the
    processes still alive afterwards."""
    for sig, wait in ((signal.SIGTERM, GRACE_S), (signal.SIGKILL, GRACE_S)):
        members = session_members(sid)
        if not members:
            break
        for pid in members:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.time() + wait
        while time.time() < deadline and session_members(sid):
            time.sleep(0.1)
    # orphans of the group are reaped by init; give it the grace period so
    # that no entry of the group is left when the runner exits (the leader
    # itself is this process's child, reaped by the caller)
    deadline = time.time() + GRACE_S
    while time.time() < deadline and set(session_members(sid, zombies=True)) - {sid}:
        time.sleep(0.1)
    return session_members(sid)


def driver_mem() -> str:
    """A quarter of physical memory, at most 4g: the 64g default of
    ``session.py`` is larger than small hosts."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(4, total // 4 // 2**30))}g"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "biomedical_knowledge_graph_spark")):
        print("perfbench: the program's sources are not here", file=sys.stderr)
        return 2

    work = os.path.join(HERE, "_work", f"{args.workload}-{os.getpid()}")
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.makedirs(os.path.join(HERE, "_traces"), exist_ok=True)
    result_path = os.path.join(work, "result.json")
    env = dict(os.environ)
    env.update(
        {
            "PYTHONPATH": os.pathsep.join(
                [ROOT] + ([env["PYTHONPATH"]] if env.get("PYTHONPATH") else [])
            ),
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
            "BKG_DRIVER_MEM": driver_mem(),
            # session.py's default of 32 is sized for a 32-core host
            "BKG_SHUFFLE_PARTITIONS": str(os.cpu_count()),
            "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
            "TMPDIR": os.path.join(work, "tmp"),
        }
    )
    context = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "cpus": os.cpu_count(),
        "heap": env["BKG_DRIVER_MEM"],
        "shuffle_partitions": env["BKG_SHUFFLE_PARTITIONS"],
        "loadavg_start": os.getloadavg(),
    }
    cmd = [
        sys.executable,
        os.path.join(HERE, "workload.py"),
        "--workload", args.workload,
        "--seed", str(args.seed),
        "--seconds", str(args.seconds),
        "--trace", str(args.trace),
        "--size", args.size,
        "--work", work,
        "--cache", os.path.join(HERE, "_cache"),
        "--spans", os.path.join(HERE, "_traces", f"{args.workload}.json"),
        "--result", result_path,
        "--t0", repr(T_START),
    ]
    peak, status, leftovers, result = 0, "ok", [], None
    proc = None
    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, _on_signal)
    try:
        proc = subprocess.Popen(
            cmd, cwd=ROOT, env=env, start_new_session=True,
            stdin=subprocess.DEVNULL, stdout=sys.stderr, stderr=sys.stderr,
        )
        deadline = time.time() + TIMEOUT_S
        while proc.poll() is None:
            peak = max(peak, pss_bytes(session_members(proc.pid)))
            if time.time() > deadline:
                status = "timeout"
                break
            time.sleep(SAMPLE_S)
        if status == "ok" and proc.returncode == 0 and os.path.exists(result_path):
            with open(result_path) as f:
                result = json.load(f)
    except Interrupted as e:
        status = f"signal {e}"
    finally:
        for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
            signal.signal(sig, signal.SIG_IGN)
        if proc is not None:
            leftovers = stop_group(proc.pid)
            try:
                proc.wait(timeout=GRACE_S)
            except subprocess.TimeoutExpired:
                leftovers.append(proc.pid)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    if leftovers:
        print(f"perfbench: processes outlived the workload: {leftovers}",
              file=sys.stderr)
        return 3
    if result is None:
        code = proc.returncode if proc is not None else None
        print(f"perfbench: no result ({status}, exit code {code})", file=sys.stderr)
        return 1
    metrics = result["metrics"]
    # too load-dependent to bound (its spread over ten seeds reached 0.24),
    # so it is a per-layer metric, and recorded with every run
    if args.trace:
        metrics["peak_pss_mb"] = {"value": peak / 1e6, "unit": "MB"}
    context.update(result["context"], loadavg_end=os.getloadavg(),
                   peak_pss_mb=peak / 1e6, notes=result["notes"])
    print(json.dumps({"context": context}))
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
