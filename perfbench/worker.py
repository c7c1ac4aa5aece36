"""One benchmark run: one workload, one client, one process.

Start it through ``perfbench/run.py``, which prepares the run directory
and the environment (temp dirs, ``PYTHONPATH``, CPU count, JVM
heap) before this process and its JVM start.

The client is a closed loop: it issues one registry operation at a
time and waits for the last row to reach the ``noop`` sink before it
issues the next, against ``local[$SPARK_GRAFT_CPUS]``.

A run has three parts:

1. Set-up: start a session and touch every table the workload reads
   with an empty table cache, so the catalog builds its scan mirrors
   cold. Then one warm pass calls each operation once and collects its
   rows, which the correctness gate compares with the operation's DuckDB
   oracle. ``setup_s`` is all of it but the oracle's own time.
2. The timed region: whole passes over the workload, each in a
   seed-permuted order, until the workload's passes are done and
   ``--seconds`` have passed.
3. With ``--trace 1``, passes alternate untraced, traced, untraced, and
   the per-layer metrics come from the traced ones.
"""

from __future__ import annotations

import argparse
import contextlib
import importlib.util
import json
import os
import platform
import random
import shutil
import statistics
import sys
import time

import pyspark

from google_cloud_ecommerce_spark.catalog import load_table
from google_cloud_ecommerce_spark.queries import all_oracles, all_queries
from google_cloud_ecommerce_spark.session import get_spark
from google_cloud_ecommerce_spark.streaming.replay import write_replay_dir
from perfbench.inputs import build_inputs
from perfbench.tracing import (
    TASK_FIELDS,
    StreamProgress,
    Tracer,
    event_log_conf,
    read_event_log,
)
from perfbench.workloads import WORKLOADS


def _oracle_parity(root: str):
    """``tests/oracle_parity.py`` of the checkout, imported by path."""
    spec = importlib.util.spec_from_file_location(
        "oracle_parity", os.path.join(root, "tests", "oracle_parity.py")
    )
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


class _Collected:
    """Rows already collected, in the shape ``oracle_parity.compare``
    reads, so the oracle's time stays out of the Spark timing."""

    def __init__(self, df):
        self.columns = list(df.columns)
        self._rows = df.collect()

    def collect(self):
        return self._rows


def _materialize(df) -> None:
    # bench.py's sink: every output column is produced, nothing is kept
    df.write.format("noop").mode("overwrite").save()


def _warehouse_snapshot(root: str) -> list[tuple]:
    base = os.path.join(root, "spark-warehouse")
    snap = []
    for dirpath, _, files in os.walk(base):
        for f in files:
            st = os.stat(os.path.join(dirpath, f))
            snap.append((os.path.relpath(os.path.join(dirpath, f), base), st.st_size, st.st_mtime_ns))
    return sorted(snap)


def _peak_rss_mb(spark) -> float:
    pid = spark._jvm.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for JVM pid {pid}")


def _cpu_steal_s() -> float:
    """CPU time the host withheld from this machine, all CPUs summed
    (``steal`` in ``/proc/stat``): co-tenant load shows here."""
    with open("/proc/stat") as f:
        fields = f.readline().split()  # cpu user nice system idle iowait irq softirq steal
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def _plan_phases_ms(df) -> dict[str, float]:
    """Catalyst phase times of the operation's query. The sink's write
    plans its own copy, so the query is planned once more here, outside
    every timed span."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    out = {}
    it = qe.tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = float(kv._2().durationMs())
    return out


class Run:
    """The state of one run: its session, gate results and counts."""

    def __init__(self, args, root: str, run_dir: str):
        self.args = args
        self.root = root
        self.workload = WORKLOADS[args.workload]
        self.in_dir = os.path.join(run_dir, "inputs")
        self.log_dir = os.path.join(run_dir, "eventlog")
        self.rng = random.Random(args.seed)
        self.queries = all_queries()
        self.tracer = Tracer(args.workload) if args.trace else None
        self.listener = None
        self.spark = None
        self.gate: dict[str, list[str]] = {}
        self.errors: list[str] = []
        self.attempted = 0
        self.failed = 0
        self.gate_oracle_s = 0.0
        self.warm_op_s: dict[str, float] = {}

    # -- set-up ------------------------------------------------------------

    def _span(self, name: str, op_id=None, jobs: bool = False):
        """A span when tracing; with ``jobs``, its Spark jobs get a group."""
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name, op_id, self.spark.sparkContext if jobs else None)

    def setup(self) -> dict:
        conf = {"spark.ui.showConsoleProgress": "false"}
        if self.args.trace:
            os.makedirs(self.log_dir, exist_ok=True)
            conf.update(event_log_conf(self.log_dir))
        t0 = time.perf_counter()
        with self._span("session.start"):
            self.spark = get_spark(app_name=f"perfbench-{self.workload.name}", extra_conf=conf)
        t1 = time.perf_counter()
        with self._span("catalog.first_load", jobs=True):
            for table in self.workload.tables:
                load_table(self.spark, self.in_dir, table)
        t2 = time.perf_counter()
        if self.args.trace:
            self.listener = StreamProgress()
            self.spark.streams.addListener(self.listener)
        warm_s = self.warm_pass()
        return {
            "setup_s": t2 - t0 + warm_s,
            "session_start_s": t1 - t0,
            "catalog_first_load_s": t2 - t1,
            "warm_pass_s": warm_s,
            "gate_oracle_s": self.gate_oracle_s,
            "warm_op_s": self.warm_op_s,
        }

    def warm_pass(self) -> float:
        """Call each operation once, collect its rows and gate them
        against the oracle. Returns the Spark-side time."""
        parity = _oracle_parity(self.root)
        con = parity.duckdb_connect(self.in_dir)
        oracles = all_oracles()
        spark_s = 0.0
        t_start = time.perf_counter()
        for name in self.workload.ops:
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                got = _Collected(self.queries[name](self.spark, self.in_dir))
            except Exception as exc:  # an operation's failure is a result
                spark_s += time.perf_counter() - t0
                self.gate[name] = [f"EXCEPTION: {exc!r}"[:500]]
                self.failed += 1
                continue
            spark_s += time.perf_counter() - t0
            self.warm_op_s[name] = time.perf_counter() - t0
            try:
                self.gate[name] = parity.compare(got, con, oracles[name])
            except Exception as exc:
                self.gate[name] = [f"ORACLE EXCEPTION: {exc!r}"[:500]]
            self.failed += bool(self.gate[name])
        con.close()
        self.gate_oracle_s = time.perf_counter() - t_start - spark_s
        return spark_s

    # -- timed passes --------------------------------------------------------

    def _order(self) -> list[str]:
        order = list(self.workload.ops)
        self.rng.shuffle(order)
        return order

    def op(self, name: str) -> tuple[float, bool]:
        """One untraced operation: its latency and whether it counts as
        correct (it completed and its oracle gate passed)."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            _materialize(self.queries[name](self.spark, self.in_dir))
            ok = not self.gate[name]
        except Exception as exc:  # an operation's failure is a result
            self.errors.append(f"{name}: {exc!r}"[:500])
            ok = False
        self.failed += not ok
        return time.perf_counter() - t0, ok

    def traced_op(self, name: str, op_id: int) -> tuple[float, bool, dict]:
        self.attempted += 1
        first_run = len(self.listener.started)
        record = {"op": name, "op_id": op_id}
        t0 = time.perf_counter()
        try:
            with self._span(name, op_id) as op_span:
                with self._span("build", op_id, jobs=True) as build:
                    df = self.queries[name](self.spark, self.in_dir)
                with self._span("exec", op_id, jobs=True) as execute:
                    _materialize(df)
            ok = not self.gate[name]
        except Exception as exc:  # an operation's failure is a result
            record["error"] = repr(exc)[:500]
            self.errors.append(f"{name}: {exc!r}"[:500])
            self.failed += 1
            return time.perf_counter() - t0, False, record
        latency = time.perf_counter() - t0
        self.failed += not ok
        runs = self.listener.started[first_run:]
        self.listener.wait_terminated(runs)
        record.update(
            latency_s=latency,
            span_s=op_span["end"] - op_span["start"],
            build_s=build["end"] - build["start"],
            exec_s=execute["end"] - execute["start"],
            plan_ms=_plan_phases_ms(df),
            stream_runs=runs,
            spans={"op": op_span["span"], "build": build["span"], "exec": execute["span"]},
        )
        return latency, ok, record

    def timed(self) -> dict:
        seconds = self.args.seconds
        # latencies of correct operations by name, untraced and traced
        latencies: dict[str, list[float]] = {}
        traced_lat: dict[str, list[float]] = {}
        records: list[dict] = []
        per_op: dict[str, list[float]] = {}
        ok_ops = passes = traced_passes = 0
        t_start = time.perf_counter()
        while True:
            traced = bool(self.args.trace) and passes % 2 == 1
            for name in self._order():
                if traced:
                    lat, ok, rec = self.traced_op(name, len(records))
                    records.append(rec)
                    if ok:
                        traced_lat.setdefault(name, []).append(lat)
                else:
                    lat, ok = self.op(name)
                    if ok:
                        latencies.setdefault(name, []).append(lat)
                per_op.setdefault(name, []).append(lat)
                ok_ops += ok
            passes += 1
            traced_passes += traced
            done = passes >= self.workload.passes and time.perf_counter() - t_start >= seconds
            # a traced run ends on an untraced pass, so every traced pass
            # sits between two untraced ones for the overhead comparison
            if done and (not self.args.trace or (passes >= 3 and passes % 2 == 1)):
                break
        wall = time.perf_counter() - t_start
        return {
            "wall_s": wall,
            "passes": passes,
            "traced_passes": traced_passes,
            "ok_ops": ok_ops,
            "latencies": latencies,
            "traced_latencies": traced_lat,
            "per_op_s": per_op,
            "records": records,
        }


def _op_p50(by_op: dict[str, list[float]]) -> float:
    """The typical latency of one operation: each operation's median,
    combined over the operations by their geometric mean. Unlike the
    median of the pooled samples, it does not jump with which operation
    happens to lie in the middle."""
    if not by_op:
        return float("nan")
    return statistics.geometric_mean(statistics.median(xs) for xs in by_op.values())


def _quantiles(by_op: dict[str, list[float]]) -> dict:
    xs = [x for v in by_op.values() for x in v]
    out = {"n": len(xs), "n_per_op": {k: len(v) for k, v in by_op.items()}, "p50": _op_p50(by_op)}
    # a percentile of the pooled samples is reported only with at least
    # ten samples beyond it
    if len(xs) >= 100:
        out["p90"] = statistics.quantiles(xs, n=10)[-1]
    return out


# end-to-end metrics (--trace 0) and per-layer metrics (--trace 1), with
# their units; BENCHMARK.json lists the same names
E2E_UNITS = {"setup_s": "s", "ops_per_s": "1/s", "op_s_p50": "s"}
LAYER_UNITS = {
    "session.start_s": "s",
    "catalog.first_load_s": "s",
    "build.s": "s",
    "build.jobs": "count",
    "plan.analysis_ms": "ms",
    "plan.optimization_ms": "ms",
    "plan.planning_ms": "ms",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.executor_run_s": "s",
    "exec.executor_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.input_rows": "count",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "stream.replay_write_s": "s",
    "stream.batches": "count",
    "stream.trigger_ms": "ms",
    "stream.add_batch_ms": "ms",
    "stream.wal_commit_ms": "ms",
    "stream.query_planning_ms": "ms",
    "stream.input_rows": "count",
    "stream.state_rows": "count",
    "trace.overhead_s": "s",
    "trace.unaccounted_s": "s",
}


def _attribute_jobs(run: Run, records: list[dict], app_id: str) -> None:
    """Charge each job of the event log to the build or exec span of one
    traced operation, and sum its counts into that operation's record."""
    spans = {s["span"]: s for s in run.tracer.spans}
    by_group, windows = {}, []
    for r in records:
        r["jobs"] = {"build": [], "exec": []}
        for phase in ("build", "exec"):
            span = spans[r["spans"][phase]]
            by_group[span["group"]] = (r, phase)
            windows.append((span["start"], span["end"], r, phase))
    for job in read_event_log(run.log_dir, app_id):
        hit = by_group.get(job["group"])
        if hit is None:
            # jobs of streaming queries carry the query's run id as their
            # group, and foreachBatch jobs none: charge them to the span
            # that was open when they were submitted
            hit = next(((r, ph) for s, e, r, ph in windows if s <= job["submitted"] <= e), None)
        if hit is not None:
            hit[0]["jobs"][hit[1]].append(job)
    for r in records:
        jobs = r.pop("jobs")
        r["build_jobs"] = len(jobs["build"])
        r["exec_jobs"] = len(jobs["exec"])
        r["exec_stages"] = sum(j["stages"] for j in jobs["exec"])
        r["exec_tasks"] = sum(j["tasks"] for j in jobs["exec"])
        # executor work of every job of the operation, build phase included
        r["executor"] = {k: sum(j[k] for j in jobs["build"] + jobs["exec"]) for k in TASK_FIELDS}


def _stream_counts(batches: dict[str, list[dict]], run_ids: list[str]) -> dict:
    progress = [b for run_id in run_ids for b in batches.get(run_id, [])]

    def duration(key: str) -> int:
        return sum(b["duration_ms"].get(key, 0) for b in progress)

    return {
        "batches": len(progress),
        "trigger_ms": duration("triggerExecution"),
        "add_batch_ms": duration("addBatch"),
        "wal_commit_ms": duration("walCommit"),
        "query_planning_ms": duration("queryPlanning"),
        "input_rows": sum(b["input_rows"] for b in progress),
        # rows held in state after each query's last batch
        "state_rows": sum(batches[i][-1]["state_rows"] for i in run_ids if batches.get(i)),
    }


def _layer_metrics(run: Run, timed: dict, setup: dict, app_id: str) -> tuple[dict, list[dict]]:
    """Per-layer metrics, summed over each traced pass and averaged over
    the traced passes, and the per-operation records they came from."""
    records = [r for r in timed["records"] if "error" not in r]
    _attribute_jobs(run, records, app_id)
    for r in records:
        r["stream"] = _stream_counts(run.listener.batches, r["stream_runs"])
        r["unaccounted_s"] = r["span_s"] - r["build_s"] - r["exec_s"]
    n = max(1, timed["traced_passes"])

    def per_pass(f) -> float:
        return sum(f(r) for r in records) / n

    metrics = {
        "session.start_s": setup["session_start_s"],
        "catalog.first_load_s": setup["catalog_first_load_s"],
        "build.s": per_pass(lambda r: r["build_s"]),
        "build.jobs": per_pass(lambda r: r["build_jobs"]),
        "exec.s": per_pass(lambda r: r["exec_s"]),
        "exec.jobs": per_pass(lambda r: r["exec_jobs"]),
        "exec.stages": per_pass(lambda r: r["exec_stages"]),
        "exec.tasks": per_pass(lambda r: r["exec_tasks"]),
        "exec.executor_run_s": per_pass(lambda r: r["executor"]["executor_run_ms"]) / 1e3,
        "exec.executor_cpu_s": per_pass(lambda r: r["executor"]["executor_cpu_ns"]) / 1e9,
        "exec.gc_s": per_pass(lambda r: r["executor"]["gc_ms"]) / 1e3,
        "trace.unaccounted_s": per_pass(lambda r: r["unaccounted_s"]),
        "trace.overhead_s": _op_p50(timed["traced_latencies"]) - _op_p50(timed["latencies"]),
    }
    for phase in ("analysis", "optimization", "planning"):
        metrics[f"plan.{phase}_ms"] = per_pass(lambda r: r["plan_ms"].get(phase, 0.0))
    for key in ("input_rows", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
        metrics[f"exec.{key}"] = per_pass(lambda r: r["executor"][key])
    for key in ("batches", "trigger_ms", "add_batch_ms", "wal_commit_ms",
                "query_planning_ms", "input_rows", "state_rows"):  # fmt: skip
        metrics[f"stream.{key}"] = per_pass(lambda r: r["stream"][key])
    return metrics, records


def _with_units(values: dict, units: dict) -> dict:
    if values.keys() != units.keys():
        raise RuntimeError(f"metrics {sorted(values)} do not match {sorted(units)}")
    return {k: {"value": values[k], "unit": units[k]} for k in units}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--run-dir", required=True)
    p.add_argument("--out-dir", required=True)
    args = p.parse_args(argv)
    root = os.getcwd()
    t0 = time.perf_counter()
    steal0 = _cpu_steal_s()
    timeline = {}
    epoch = {
        "loadavg_before": list(os.getloadavg()),
        "nproc": len(os.sched_getaffinity(0)),
        "spark_version": pyspark.__version__,
        "python_version": platform.python_version(),
        "seed": args.seed,
        "workload": args.workload,
        "trace": args.trace,
    }
    run = Run(args, root, args.run_dir)
    epoch["inputs"] = build_inputs(run.in_dir, args.seed, run.workload.tables)
    warehouse_before = _warehouse_snapshot(root)
    timeline["inputs"] = time.perf_counter() - t0

    setup = run.setup()
    timeline["setup"] = time.perf_counter() - t0
    timed = run.timed()
    timeline["timed"] = time.perf_counter() - t0
    replay_s = 0.0
    if args.trace and run.workload.name == "stream":
        t_replay = time.perf_counter()
        replay = write_replay_dir(run.spark, run.in_dir, n_files=8)
        replay_s = time.perf_counter() - t_replay
        shutil.rmtree(replay, ignore_errors=True)
    peak_rss = _peak_rss_mb(run.spark)
    app_id = run.spark.sparkContext.applicationId
    run.spark.stop()
    timeline["stopped"] = time.perf_counter() - t0

    warehouse_changed = _warehouse_snapshot(root) != warehouse_before
    lat = _quantiles(timed["latencies"])
    e2e = _with_units(
        {
            "setup_s": setup["setup_s"],
            "ops_per_s": timed["ok_ops"] / timed["wall_s"],
            "op_s_p50": lat["p50"],
        },
        E2E_UNITS,
    )
    report = {
        "epoch": epoch,
        "setup": setup,
        "timed": {k: v for k, v in timed.items() if k not in ("latencies", "records")},
        "op_s": lat,
        # the JVM's heap growth makes this vary by a third between runs,
        # too much for a bounded metric; it is reported, not gated
        "peak_rss_mb": peak_rss,
        "ops_attempted": run.attempted,
        "ops_failed": run.failed,
        "gate": {k: v for k, v in run.gate.items() if v},
        "errors": run.errors[:20],
        "warehouse_changed": warehouse_changed,
        "end_to_end": e2e,
        "timeline_s": timeline,
    }
    if run.workload.name == "stream":
        rows = epoch["inputs"]["rows"]["events"]
        report["events_per_s"] = rows * timed["ok_ops"] / timed["wall_s"]
    metrics = e2e
    if args.trace:
        layers, records = _layer_metrics(run, timed, setup, app_id)
        layers["stream.replay_write_s"] = replay_s
        metrics = report["per_layer"] = _with_units(layers, LAYER_UNITS)
        # the spans of an operation account for its latency
        report["reconciled"] = all(
            abs(r["unaccounted_s"]) <= max(0.02, 0.05 * r["latency_s"]) for r in records
        )
        with open(os.path.join(args.out_dir, "ops.jsonl"), "w") as f:
            for r in records:
                f.write(json.dumps(r) + "\n")
        run.tracer.write_jsonl(os.path.join(args.out_dir, "spans.jsonl"))
    epoch["loadavg_after"] = list(os.getloadavg())
    epoch["cpu_steal_s"] = _cpu_steal_s() - steal0
    result = {
        "correct": run.failed == 0 and not warehouse_changed,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }
    with open(os.path.join(args.out_dir, "report.json"), "w") as f:
        json.dump(report, f)
    with open(os.path.join(args.out_dir, "result.json"), "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
