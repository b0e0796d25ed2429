"""The monitoring-API reader over recorded REST payloads (no Spark session).

Run: python3 -m pytest perfbench/tests -q

The fixtures were recorded from Spark 4.1's ``/api/v1`` endpoints at
local[4]: ``*_counts_pipeline`` after one counts-only ``pipeline.run`` with
the canonical rule set (107,357 turns) under job group ``bench:full``;
``*_sinks_route`` after one ``pipeline.run`` with ``out_dir`` (the
batch_dense_sinks job) under job group ``perfbench-record-route``.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import monitor  # noqa: E402

KiB, MiB = 1024, 1024**2


def load(name: str):
    with open(os.path.join(HERE, "fixtures", name)) as f:
        return json.load(f)


@pytest.mark.parametrize(
    "text, value",
    [
        ("107,357", 107357),
        ("0", 0),
        ("1567.9 KiB", 1567.9 * KiB),
        ("8.0 MiB", 8.0 * MiB),
        ("0.0 B", 0.0),
        ("462 ms", 0.462),
        ("1.9 s", 1.9),
        ("2.5 m", 150.0),
        ("total (min, med, max (stageId: taskId))\n1.9 s (462 ms, 466 ms, 475 ms (stage 4.0: task 16))", 1.9),
        ("total (min, med, max (stageId: taskId))\n3.5 MiB (569.9 KiB, 906.6 KiB, 1262.0 KiB (stage 4.0: task 13))", 3.5 * MiB),
        ("total (min, med, max (stageId: taskId))\n25.5 MiB (8.5 MiB, 17.0 MiB, 17.0 MiB (driver))", 25.5 * MiB),
    ],
)
def test_parse_value(text, value):
    assert monitor.parse_value(text) == pytest.approx(value)


def test_parse_value_rejects_unknown_units():
    with pytest.raises(ValueError):
        monitor.parse_value("12 parsecs")
    with pytest.raises(ValueError):
        monitor.parse_value("n/a")


def test_pipeline_layers_from_recorded_execution():
    (execution,) = load("sql_counts_pipeline.json")
    m = monitor.pipeline_layers(execution)
    assert m["io.rows"] == 107357
    assert m["io.bytes_read"] == pytest.approx(1567.9 * KiB)
    # the JVM candidate Filter sits directly under the match MapInPandas
    assert m["match.candidate_rows"] == 46671
    assert m["match.rows_out"] == 52657
    assert m["match.rows_per_candidate"] == pytest.approx(52657 / 46671)
    assert m["match.python_task_s"] == pytest.approx(19.3)
    assert m["match.python_bytes_in"] == pytest.approx(7.3 * MiB)
    assert m["match.python_bytes_out"] == pytest.approx(7.9 * MiB)
    assert m["enrich.rows_out"] == 52657
    # equal to the conv_id Exchange node's "shuffle bytes written"
    exchange = next(n for n in execution["nodes"] if n["nodeName"] == "Exchange")
    written = next(x["value"] for x in exchange["metrics"] if x["name"] == "shuffle bytes written")
    assert m["correlate.exchange_bytes"] == monitor.parse_value(written) == pytest.approx(3.5 * MiB)
    assert m["correlate.spill_bytes"] == 0
    assert m["correlate.python_task_s"] == pytest.approx(1.3)
    assert m["correlate.rows_out"] == 47409
    assert m["session.python_worker_init_s"] == pytest.approx(5.0 + 4.5 + 0.0 + 2.6)


def test_pipeline_layers_rejects_other_plans():
    with pytest.raises(ValueError):
        monitor.pipeline_layers({"nodes": [{"nodeId": 0, "nodeName": "Range", "metrics": []}]})


def test_executions_of_group():
    executions = load("sql_counts_pipeline.json")
    jobs = load("jobs_counts_pipeline.json")
    assert monitor.executions_of_group(executions, jobs, "bench:full") == executions
    assert monitor.executions_of_group(executions, jobs, "another group") == []


def test_write_time_counts_only_file_writers():
    # one pipeline.run with out_dir: two count collects, then four sink writers
    executions = load("sql_sinks_route.json")
    jobs = load("jobs_sinks_route.json")
    assert monitor.executions_of_group(executions, jobs, "perfbench-record-route") == executions
    assert monitor.write_time_s(executions) == pytest.approx((923 + 445 + 433 + 733) / 1000)
    # a noop save writes no files
    assert monitor.write_time_s(load("sql_counts_pipeline.json")) == 0.0


def test_rows_and_bytes_totals_every_node():
    executions = load("sql_counts_pipeline.json")
    t = monitor.rows_and_bytes(executions)
    assert t["executions"] == 1
    assert t["duration_s"] == pytest.approx(8.488)
    assert t["scan_rows"] == 107357
    assert t["shuffle_bytes_written"] == pytest.approx(3.5 * MiB)
    # both MapInPandas nodes: the fused matcher and the replay
    assert t["python_bytes_in"] == pytest.approx(7.3 * MiB + 9.2 * MiB)
    assert t["python_task_s"] == pytest.approx(19.3 + 1.3)
    assert monitor.rows_and_bytes([])["scan_rows"] == 0


def test_gc_seconds():
    assert monitor.gc_seconds(load("executors.json")) == pytest.approx(0.354)
