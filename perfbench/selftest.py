"""Tiny-size self-test of the benchmark.

    python3 perfbench/selftest.py

Run from the repository root. It checks that:
- each workload, untraced and traced, prints every metric BENCHMARK.json
  names for that mode, with correct outputs;
- a run interrupted by SIGTERM exits non-zero without a result;
- a copy holding only BENCHMARK.json and the benchmark's files exits
  non-zero without a result;
- after every one of these runs, no process the run started is alive.
"""

from __future__ import annotations

import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MARK = os.path.join(HERE, "_work")


def leftovers() -> list[int]:
    """Processes whose command line or environment names a run's work dir:
    the JVM carries it in its options, Python workers in SPARK_LOCAL_DIRS."""
    out = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        if int(pid) == os.getpid():
            continue
        for part in ("cmdline", "environ"):
            try:
                with open(f"/proc/{pid}/{part}", "rb") as f:
                    if MARK.encode() in f.read():
                        out.append(int(pid))
                        break
            except OSError:
                pass
    return out


def run(args: list[str], cwd: str = ROOT, term_after: float | None = None):
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args]
    proc = subprocess.Popen(cmd, cwd=cwd, stdout=subprocess.PIPE, text=True)
    if term_after is not None:
        time.sleep(term_after)
        proc.send_signal(signal.SIGTERM)
    out, _ = proc.communicate(timeout=300)
    left = leftovers()
    assert not left, f"{args}: processes outlived the run: {left}"
    return proc.returncode, out.strip().splitlines()


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for workload in (w["name"] for w in spec["workloads"]):
        for trace, names in (("0", spec["end_to_end"]), ("1", spec["per_layer"])):
            args = ["--workload", workload, "--seed", "1", "--seconds", "1",
                    "--trace", trace, "--size", "tiny"]
            code, lines = run(args)
            assert code == 0 and lines, f"{args}: exit {code}"
            result = json.loads(lines[-1])
            assert set(result) == {"correct", "attempted", "failed", "metrics"}
            assert result["correct"] and result["failed"] == 0, result
            missing = {m["name"] for m in names} - set(result["metrics"])
            assert not missing, f"{args}: missing metrics {sorted(missing)}"
            print(f"ok: {workload} trace={trace}")

    code, lines = run(["--workload", "batch_build", "--seed", "1", "--seconds",
                       "1", "--trace", "0", "--size", "tiny"], term_after=15)
    assert code != 0 and not any(l.startswith('{"correct"') for l in lines)
    print("ok: SIGTERM mid-run leaves no process")

    bare = os.path.join(HERE, "_selftest_bare")
    shutil.rmtree(bare, ignore_errors=True)
    try:
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("_*", "__pycache__"))
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        code, lines = run(["--workload", "batch_build", "--seed", "1",
                           "--seconds", "1", "--trace", "0"], cwd=bare)
        assert code != 0 and not lines, (code, lines)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    print("ok: without the program's sources the run fails without a result")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
