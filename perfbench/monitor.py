"""Reader for Spark's monitoring REST API (``<sc.uiWebUrl>/api/v1``).

Used only by the traced run. The parsing functions take the decoded JSON
payloads and need no Spark session; ``tests/test_monitor.py`` runs them
over recorded payloads.

SQL-node metric values arrive as display strings: ``"107,357"``,
``"1567.9 KiB"``, ``"462 ms"``, or an aggregate such as
``"total (min, med, max (stageId: taskId))\\n1.9 s (462 ms, 466 ms, ...)"``
whose first figure is the total over tasks.
"""

from __future__ import annotations

import json
import re
import urllib.request

_SIZE = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4, "PiB": 1024**5}
_TIME = {"ns": 1e-9, "us": 1e-6, "µs": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0,
         "h": 3600.0}
_FIGURE = re.compile(r"^\s*(-?[\d,]*\.?\d+)\s*([A-Za-zµ]*)")


def parse_value(text: str) -> float:
    """A SQL metric display string as a number in base units: rows, bytes
    or seconds. For aggregate strings, the total."""
    s = text.strip()
    if s.startswith("total"):
        s = s.split("\n", 1)[1] if "\n" in s else s.split(")", 1)[-1]
    m = _FIGURE.match(s)
    if not m:
        raise ValueError(f"unparseable metric value {text!r}")
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if not unit:
        return num
    if unit in _SIZE:
        return num * _SIZE[unit]
    if unit in _TIME:
        return num * _TIME[unit]
    raise ValueError(f"unknown unit {unit!r} in {text!r}")


def node_metrics(node: dict) -> dict[str, float]:
    out = {}
    for m in node.get("metrics", ()):
        try:
            out[m["name"]] = parse_value(m["value"])
        except ValueError:
            continue
    return out


def _nodes_bottom_up(execution: dict) -> list[dict]:
    """Plan nodes from the scan upward: node ids number the plan from the
    root, so the leaf-most nodes carry the largest ids."""
    return sorted(execution["nodes"], key=lambda n: -n["nodeId"])


def _total(nodes, name: str, metric: str) -> float:
    return sum(node_metrics(n).get(metric, 0.0) for n in nodes if n["nodeName"] == name)


def pipeline_layers(execution: dict) -> dict[str, float]:
    """Per-layer row, byte and Python-time figures of one batch-pipeline SQL
    execution (the fused plan: scan → candidate Filter → match MapInPandas
    → broadcast joins → conv_id Exchange → Sort → replay MapInPandas)."""
    nodes = _nodes_bottom_up(execution)
    scans = [n for n in nodes if n["nodeName"].startswith("Scan ")]
    pandas_nodes = [n for n in nodes if n["nodeName"] == "MapInPandas"]
    if not scans or not pandas_nodes:
        raise ValueError("execution is not a fused pipeline plan")
    matcher = pandas_nodes[0]
    replay = pandas_nodes[1] if len(pandas_nodes) > 1 else None
    mm = node_metrics(matcher)
    below_matcher = [n for n in nodes if n["nodeId"] > matcher["nodeId"]]
    filters = [n for n in below_matcher if n["nodeName"] == "Filter"]
    # the enrich joins sit between the matcher and the exchange; the last
    # one (smallest id above the matcher) emits the enriched rows
    joins = [n for n in nodes if "Join" in n["nodeName"] and n["nodeId"] < matcher["nodeId"]]
    exchanges = [
        n for n in nodes if n["nodeName"] == "Exchange"
        and n["nodeId"] < matcher["nodeId"]
        and (replay is None or n["nodeId"] > replay["nodeId"])
    ]
    scan = node_metrics(scans[0])
    out = {
        "io.rows": scan.get("number of output rows", 0.0),
        "io.bytes_read": sum(node_metrics(s).get("size of files read", 0.0) for s in scans),
        "match.candidate_rows": (
            node_metrics(filters[-1]).get("number of output rows", 0.0) if filters else
            scan.get("number of output rows", 0.0)
        ),
        "match.rows_out": mm.get("number of output rows", 0.0),
        "match.python_task_s": mm.get("time to run Python workers", 0.0),
        "match.python_bytes_in": mm.get("data sent to Python workers", 0.0),
        "match.python_bytes_out": mm.get("data returned from Python workers", 0.0),
        "enrich.rows_out": (
            node_metrics(joins[-1]).get("number of output rows", 0.0) if joins else 0.0
        ),
        "correlate.exchange_bytes": sum(
            node_metrics(e).get("shuffle bytes written", 0.0) for e in exchanges
        ),
        "correlate.spill_bytes": _total(nodes, "Sort", "spill size"),
        "session.python_worker_init_s": (
            _total(nodes, "MapInPandas", "time to start Python workers")
            + _total(nodes, "MapInPandas", "time to initialize Python workers")
        ),
    }
    if replay is not None:
        rm = node_metrics(replay)
        out["correlate.python_task_s"] = rm.get("time to run Python workers", 0.0)
        out["correlate.rows_out"] = rm.get("number of output rows", 0.0)
    c = out["match.candidate_rows"]
    out["match.rows_per_candidate"] = out["match.rows_out"] / c if c else 0.0
    return out


def executions_of_group(executions: list[dict], jobs: list[dict], group: str) -> list[dict]:
    """SQL executions that ran at least one job of job group ``group``."""
    ids = {j["jobId"] for j in jobs if j.get("jobGroup") == group}
    return [
        e for e in executions
        if ids & set(e.get("successJobIds", []) + e.get("failedJobIds", [])
                     + e.get("runningJobIds", []))
    ]


def write_time_s(executions: list[dict]) -> float:
    """Summed duration of the executions that write files (sink writers)."""
    return sum(
        e.get("duration", 0) / 1000.0 for e in executions
        if any(n["nodeName"].startswith(("Execute InsertIntoHadoopFsRelationCommand",
                                         "WriteFiles")) for n in e["nodes"])
    )


def rows_and_bytes(executions: list[dict]) -> dict[str, float]:
    """Totals over every plan node of ``executions``: what a span scanned,
    shuffled and moved across the JVM/Python boundary."""
    nodes = [n for e in executions for n in e["nodes"]]
    scans = [n for n in nodes if n["nodeName"].startswith("Scan ")]
    return {
        "executions": float(len(executions)),
        "duration_s": sum(e.get("duration", 0) for e in executions) / 1000.0,
        "scan_rows": sum(node_metrics(n).get("number of output rows", 0.0) for n in scans),
        "scan_bytes": sum(node_metrics(n).get("size of files read", 0.0) for n in scans),
        "shuffle_bytes_written": _total(nodes, "Exchange", "shuffle bytes written"),
        "python_bytes_in": _total(nodes, "MapInPandas", "data sent to Python workers"),
        "python_bytes_out": _total(nodes, "MapInPandas", "data returned from Python workers"),
        "python_task_s": _total(nodes, "MapInPandas", "time to run Python workers"),
    }


def gc_seconds(executors: list[dict]) -> float:
    return sum(e.get("totalGCTime", 0) for e in executors) / 1000.0


class MonitorClient:
    """Fetches the REST payloads of the running application."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=30) as r:
            return json.load(r)

    def executions(self) -> list[dict]:
        return self.get("sql?details=true&planDescription=false&offset=0&length=100000")

    def jobs(self) -> list[dict]:
        return self.get("jobs")

    def executors(self) -> list[dict]:
        return self.get("allexecutors")
