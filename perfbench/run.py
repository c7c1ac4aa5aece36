"""Benchmark entry point.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 5 --trace 0

Run it from the root of a checkout. It prepares a fresh run directory
under ``.perfbench/``, sets the environment the program reads
(``TMPDIR`` and the JVMs' ``java.io.tmpdir``, ``SPARK_LOCAL_DIRS``,
``SPARK_GRAFT_TABLE_CACHE``, ``PYTHONPATH``, ``SPARK_GRAFT_CPUS``,
``SPARK_GRAFT_DRIVER_MEM``), runs
``perfbench.worker`` in its own process group, and stops every process
of that group before it returns. The run directory is removed; the
report, and with ``--trace 1`` the spans and per-operation records, stay
in ``.perfbench/results/<workload>-seed<seed>-trace<t>/``.

Output: one line per metric, the full report as one JSON line, and last
the result line ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1``
the per-layer ones. The exit code is not 0, and no result is printed,
when the checkout has no program to measure or the run fails.
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

# every run must end within 180 s; leave room to stop the processes
DEADLINE_S = 165.0
HEAP_MB = 3072


def _heap_size() -> str:
    host_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{min(HEAP_MB, host_mb // 4)}m"


def _group_alive(pgid: int) -> bool:
    """Whether a process of the group still runs. A killed JVM whose
    parent has exited stays a zombie until init reaps it; it has ended."""
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:  # exited while we looked
            continue
        # the fields after the parenthesised command: state, ppid, pgrp
        state, _, pgrp = stat.rsplit(")", 1)[1].split()[:3]
        if int(pgrp) == pgid and state != "Z":
            return True
    return False


def _stop_group(proc: subprocess.Popen) -> None:
    """Kill what is left of the worker's process group and wait until it
    is gone. The worker stops its Spark session and writes its results
    before it exits, so nothing the JVM still holds is needed; its
    shutdown hooks only delete temp dirs under the run directory, which
    is removed."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        return
    proc.wait()
    deadline = time.monotonic() + 10.0
    while _group_alive(proc.pid):
        if time.monotonic() > deadline:
            raise RuntimeError(f"process group {proc.pid} still alive after SIGKILL")
        time.sleep(0.02)


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    root = os.getcwd()
    for need in ("google_cloud_ecommerce_spark/__init__.py", "tests/oracle_parity.py"):
        if not os.path.isfile(os.path.join(root, need)):
            print(f"perfbench: {need} not found; run from the root of a checkout", file=sys.stderr)
            return 2

    name = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(root, ".perfbench")
    run_dir = os.path.join(work, "runs", f"{name}-{os.getpid()}")
    out_dir = os.path.join(work, "results", name)
    shutil.rmtree(out_dir, ignore_errors=True)
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(run_dir, d))
    os.makedirs(out_dir)
    tmp = os.path.join(run_dir, "tmp")
    env = dict(
        os.environ,
        TMPDIR=tmp,
        # the JVMs' temp dir too (native libraries are unpacked there), and
        # no perf-data file, which the JVM writes under /tmp regardless
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
        SPARK_GRAFT_TABLE_CACHE=os.path.join(run_dir, "table_cache"),
        PYTHONPATH=root,
        PYSPARK_PYTHON=sys.executable,
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_DRIVER_MEM=_heap_size(),
    )
    cmd = [
        sys.executable, "-m", "perfbench.worker",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--run-dir", run_dir, "--out-dir", out_dir,
    ]  # fmt: skip
    log_path = os.path.join(out_dir, "worker.log")
    # a SIGTERM to this process unwinds through the finally below, which
    # stops the worker's group
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    t0 = time.monotonic()
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(
                cmd, cwd=root, env=env, stdout=log, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, start_new_session=True,
            )  # fmt: skip
            try:
                code = proc.wait(timeout=DEADLINE_S)
            except subprocess.TimeoutExpired:
                code = "timeout"
            finally:
                t_exit = time.monotonic()
                _stop_group(proc)
            t_gone = time.monotonic()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    result_path = os.path.join(out_dir, "result.json")
    if code != 0 or not os.path.isfile(result_path):
        with open(log_path) as f:
            tail = f.readlines()[-40:]
        print(f"perfbench: worker failed ({code}); log {log_path}:", file=sys.stderr)
        sys.stderr.writelines(tail)
        return 1
    with open(os.path.join(out_dir, "report.json")) as f:
        report = json.load(f)
    report["run_s"] = {"worker": t_exit - t0, "stop_wait": t_gone - t_exit}
    with open(result_path) as f:
        result = json.load(f)
    print(f"workload {args.workload}  seed {args.seed}  trace {args.trace}")
    print(f"ops_attempted {report['ops_attempted']}  ops_failed {report['ops_failed']}")
    for key in ("end_to_end", "per_layer"):
        for metric, m in report.get(key, {}).items():
            print(f"{metric} {m['value']:.6g} {m['unit']}")
    print(json.dumps(report))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
