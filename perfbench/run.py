"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload sql_analytics --seed 1 --seconds 20 --trace 0

Run from the repository root. Each run gets its own temp directory
under `.perfbench_tmp/`, used as the working directory, TMPDIR and
SPARK_LOCAL_DIRS of a fresh workload process and deleted afterwards.
The session runs at `local[nproc]`. With `--trace 0` the last line
printed is the end-to-end result; with `--trace 1` the same workload
runs once untraced and once traced, and the last line carries the
per-layer metrics plus `trace.overhead`, the untraced rate over the
traced one.
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

STARTED = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DEADLINE_S = 175  # the whole run, both workload processes included
WORKLOADS = ("sql_analytics", "curation_ml", "scrape_etl")


def _session_pids(sid: int) -> list[int]:
    out = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                text = f.read()
        except OSError:
            continue
        if int(text[text.rindex(")") + 2:].split()[3]) == sid:
            out.append(int(entry))
    return out


def _reap(sid: int) -> None:
    """Stop whatever the workload process left behind in its session
    (the JVM, Python workers) and wait until it has ended."""
    for sig, wait_s in ((signal.SIGTERM, 15.0), (signal.SIGKILL, 15.0)):
        pids = _session_pids(sid)
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.time() + wait_s
        while pids and time.time() < deadline:
            time.sleep(0.1)
            pids = _session_pids(sid)
        if not pids:
            return


def run_child(args, traced: bool, started: float) -> dict | None:
    tmp = os.path.join(ROOT, ".perfbench_tmp",
                       f"{args.workload}-{args.seed}-{os.getpid()}-{int(traced)}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": ROOT,
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": tmp,
        # the JVMs' own temp files (native libraries they unpack, artifact
        # dirs) stay in the run's directory; -UsePerfData keeps them from
        # writing /tmp/hsperfdata_*
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    cmd = [sys.executable, os.path.join(HERE, "workload.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(int(traced)),
           "--started", repr(started), "--tmp", tmp]
    proc = subprocess.Popen(cmd, cwd=tmp, env=env, stdout=subprocess.PIPE,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=max(1.0, STARTED + DEADLINE_S - time.time()))
    except subprocess.TimeoutExpired:
        proc.kill()
        out, _ = proc.communicate()
        print(f"{args.workload}: workload process timed out", file=sys.stderr)
    finally:
        _reap(proc.pid)
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(tmp))
        except OSError:  # another run still uses it
            pass
    lines = out.strip().splitlines()
    if proc.returncode != 0 or not lines:
        print(f"{args.workload}: workload process exited {proc.returncode}", file=sys.stderr)
        return None
    sys.stderr.write("".join(f"{line}\n" for line in lines[:-1]))
    return json.loads(lines[-1])


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "deep_field_spark")):
        print("run from a checkout of the repository: deep_field_spark/ is missing",
              file=sys.stderr)
        return 2

    result = run_child(args, False, STARTED)
    if result is None:
        return 1
    if args.trace:
        traced = run_child(args, True, time.time())
        if traced is None:
            return 1
        print(f"untraced: {json.dumps(result)}", file=sys.stderr)
        untraced_rate = result["metrics"]["items_per_s"]["value"]
        metrics = traced["metrics"]
        rate = metrics.pop("trace.items_per_s")["value"]
        metrics["trace.overhead"] = {"value": untraced_rate / rate, "unit": "ratio"}
        result = traced
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
