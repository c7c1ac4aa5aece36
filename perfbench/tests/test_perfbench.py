"""Tests of the benchmark's own parts that need no Spark session.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pyarrow.parquet as pq
import pytest

from google_cloud_ecommerce_spark.catalog import DEFAULT_SF_DIR
from perfbench.inputs import EVENTS_SCHEMA, N_EVENTS, N_USERS, SIZES, build_inputs
from perfbench.tracing import read_event_log
from perfbench.workloads import WORKLOADS

BENCH_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH_DIR)


@pytest.fixture(scope="module")
def inputs(tmp_path_factory):
    out = {}
    for tag, seed in (("a", 7), ("b", 7), ("c", 8)):
        d = tmp_path_factory.mktemp(tag)
        out[tag] = (str(d), build_inputs(str(d), seed, ["events", *SIZES]))
    return out


def _bytes(d: str, table: str) -> bytes:
    with open(os.path.join(d, f"{table}.parquet"), "rb") as f:
        return f.read()


def test_same_seed_gives_identical_bytes(inputs):
    (a, _), (b, _) = inputs["a"], inputs["b"]
    for table in ["events", *SIZES]:
        assert _bytes(a, table) == _bytes(b, table), table


def test_different_seeds_give_different_events(inputs):
    (a, _), (c, _) = inputs["a"], inputs["c"]
    assert _bytes(a, "events") != _bytes(c, "events")
    # only events depends on the seed
    for table in SIZES:
        assert _bytes(a, table) == _bytes(c, table), table


def test_events_schema_and_shape(inputs):
    d, record = inputs["a"]
    f = pq.ParquetFile(os.path.join(d, "events.parquet"))
    assert f.schema_arrow.remove_metadata() == EVENTS_SCHEMA
    assert f.metadata.num_row_groups == 1
    t = f.read()
    assert t.num_rows == N_EVENTS
    assert t.column("event_id").to_pylist() == list(range(N_EVENTS))
    ts = t.column("ts").to_pylist()
    assert ts == sorted(ts)
    assert len(set(t.column("user_id").to_pylist())) == N_USERS
    # the record each result carries: row counts and the type mix
    assert record["rows"]["events"] == N_EVENTS
    assert len(record["event_type_mix"]) == 5
    assert sum(record["event_type_mix"].values()) == N_EVENTS


def _testdata(table: str) -> str:
    path = os.path.join(DEFAULT_SF_DIR, f"{table}.parquet")
    if not os.path.exists(path):
        pytest.skip(f"no testdata {table} table to compare with")
    return path


def test_schemas_match_testdata(inputs):
    d, _ = inputs["a"]
    for table in ["events", *SIZES]:
        ours = pq.read_schema(os.path.join(d, f"{table}.parquet")).remove_metadata()
        assert ours == pq.read_schema(_testdata(table)).remove_metadata(), table


def _basket_sizes(path: str) -> np.ndarray:
    """How many orders have 0, 1, 2, ... lines (0 stays empty: orders
    without lines have no key to count)."""
    keys = pq.read_table(path, columns=["l_orderkey"]).column(0).to_numpy()
    return np.bincount(np.unique(keys, return_counts=True)[1])


def test_lineitem_baskets_match_testdata(inputs):
    d, _ = inputs["a"]
    ours = _basket_sizes(os.path.join(d, "lineitem.parquet"))
    theirs = _basket_sizes(_testdata("lineitem"))
    mean = lambda h: (np.arange(len(h)) * h).sum() / h.sum()
    share_over_7 = lambda h: h[8:].sum() / h.sum()
    # market_basket_rules' pair expansion grows with the square of the
    # basket size, so the distribution, tail included, must agree
    assert abs(mean(ours) - mean(theirs)) < 0.05 * mean(theirs)
    assert abs(share_over_7(ours) - share_over_7(theirs)) < 0.01
    assert len(ours) > 8 and len(theirs) > 8


def _embedding_shape(path: str) -> dict:
    t = pq.read_table(path)
    x = np.stack(t.column("embedding").to_numpy(zero_copy_only=False))
    label = t.column("label").to_numpy()
    centroids = np.stack([x[label == k].mean(axis=0) for k in np.unique(label)])
    return {
        "dim": x.shape[1],
        "labels": sorted(np.unique(label).tolist()),
        "norm": np.linalg.norm(x, axis=1),
        "coord_std": x.std(axis=0).mean(),
        # a label's mean vector, as long as one of random unit vectors:
        # the labels carry no cluster structure
        "centroid_norm_ratio": np.linalg.norm(centroids, axis=1).mean()
        * np.sqrt(len(x) / len(centroids)),
    }


def test_embeddings_match_testdata(inputs):
    d, _ = inputs["a"]
    ours = _embedding_shape(os.path.join(d, "embeddings.parquet"))
    theirs = _embedding_shape(_testdata("embeddings"))
    assert ours["dim"] == theirs["dim"] and ours["labels"] == theirs["labels"]
    for shape in (ours, theirs):
        assert np.allclose(shape["norm"], 1.0, atol=1e-5)
    assert abs(ours["coord_std"] - theirs["coord_std"]) < 0.05 * theirs["coord_std"]
    for shape in (ours, theirs):
        assert 0.7 < shape["centroid_norm_ratio"] < 1.3


def test_build_inputs_writes_exactly_the_tables_asked_for(tmp_path, inputs):
    d, _ = inputs["a"]
    for w in WORKLOADS.values():
        out = tmp_path / w.name
        record = build_inputs(str(out), 7, w.tables)
        assert sorted(os.listdir(out)) == sorted(f"{t}.parquet" for t in w.tables)
        assert record["rows"].keys() == set(w.tables)
        # a subset has the same bytes as the full set
        for table in w.tables:
            assert _bytes(str(out), table) == _bytes(d, table), table


def test_benchmark_json_lists_what_the_worker_reports():
    from perfbench.worker import E2E_UNITS, LAYER_UNITS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == LAYER_UNITS
    assert {w["name"]: w["why"] for w in spec["workloads"]} == {
        w.name: w.why for w in WORKLOADS.values()
    }


def test_event_log_sums_task_metrics_per_job(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "w|build|0"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 2500,
         "Stage IDs": [1, 2], "Properties": {}},
    ]  # fmt: skip
    metrics = {
        "Executor Run Time": 10, "Executor CPU Time": 5_000_000, "JVM GC Time": 1,
        "Input Metrics": {"Records Read": 100},
        "Shuffle Read Metrics": {"Remote Bytes Read": 3, "Local Bytes Read": 4},
        "Shuffle Write Metrics": {"Shuffle Bytes Written": 7},
        "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 2,
    }  # fmt: skip
    for stage in (0, 0, 1, 2):
        events.append({"Event": "SparkListenerTaskEnd", "Stage ID": stage, "Task Metrics": metrics})
    (tmp_path / "local-1").write_text("".join(json.dumps(e) + "\n" for e in events))
    jobs = {j["job_id"]: j for j in read_event_log(str(tmp_path), "local-1")}
    # stage 1 belongs to the first job that lists it
    assert (jobs[0]["stages"], jobs[0]["tasks"]) == (2, 3)
    assert (jobs[1]["stages"], jobs[1]["tasks"]) == (1, 1)
    assert jobs[0]["group"] == "w|build|0" and jobs[1]["group"] is None
    assert jobs[1]["submitted"] == 2.5
    assert jobs[0]["shuffle_read_bytes"] == 21 and jobs[0]["spill_bytes"] == 6
    assert jobs[0]["executor_cpu_ns"] == 15_000_000


def test_run_refuses_a_directory_without_the_program(tmp_path):
    shutil.copytree(BENCH_DIR, tmp_path / "perfbench")
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "analytics",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )  # fmt: skip
    assert p.returncode != 0
    assert p.stdout == ""
