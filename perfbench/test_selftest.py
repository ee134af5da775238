"""Self-test of the benchmark: for each workload, a tiny seeded input ->
one pass of its queries -> every result checked against its DuckDB
oracle. Runs in one SparkSession in well under a minute.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

from gen import generate  # noqa: E402
from host import nproc  # noqa: E402
from run import Runner, stop_spark  # noqa: E402
from tracing import Tracer, read_event_log  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

TINY = {
    "events": 3_000, "users": 30, "days": 30, "event_row_groups": 4,
    "documents": 150, "near_dup_share": 0.3,
    "embeddings": 120, "clusters": 4,
    "orders": 50,
}


def _bytes(d: str) -> dict[str, bytes]:
    return {f: open(os.path.join(d, f), "rb").read() for f in sorted(os.listdir(d))}


def test_generator_is_seeded(tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    props = generate(a, 3, TINY)
    generate(b, 3, TINY)
    generate(c, 4, TINY)
    assert _bytes(a) == _bytes(b)
    assert _bytes(a)["events.parquet"] != _bytes(c)["events.parquet"]
    assert len(_bytes(a)) == 10
    assert props["events"]["row_groups"] == 4
    assert 0.2 < props["documents"]["near_dup_share"] < 0.4


def test_event_log_folds_by_job_group(tmp_path):
    app = tmp_path / "log" / "eventlog_v2_local-1"
    app.mkdir(parents=True)
    group = {"spark.jobGroup.id": "cold|q|sink"}
    events = [
        {"Event": "SparkListenerJobStart", "Stage IDs": [0], "Properties": group},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0},
         "Properties": group},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task End Reason": {"Reason": "Success"},
         "Task Metrics": {"Executor Run Time": 1500, "Executor CPU Time": 10**9,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 2048}}},
    ]
    (app / "events_1_local-1").write_text("\n".join(json.dumps(e) for e in events))
    g = read_event_log(str(tmp_path / "log"))["cold|q|sink"]
    assert (g["jobs"], g["stages"], g["tasks"], g["failed_tasks"]) == (1, 1, 1, 0)
    assert (g["exec_run_s"], g["exec_cpu_s"], g["shuffle_write_b"]) == (1.5, 1.0, 2048)


@pytest.fixture(scope="module")
def spark():
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    from dissertation_iceberg_spark.queries.registry import _ensure_loaded
    from dissertation_iceberg_spark.session import get_spark

    _ensure_loaded()
    s = get_spark("perfbench-selftest")
    yield s
    stop_spark(s)


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_one_pass_matches_oracles(spark, tmp_path, name):
    from dissertation_iceberg_spark.io import validate_contract

    d = str(tmp_path / "in")
    generate(d, 7, TINY)
    assert validate_contract(spark, d) == {}
    wl = WORKLOADS[name]
    runner = Runner(spark, wl, d, Tracer("selftest"))
    _, frames, _ = runner.one_pass("cold")
    results = runner.check(frames)
    assert runner.errors == {}
    assert sorted(results) == sorted(wl.queries)
    assert sum(runner.failed_executions.values()) == 0
