"""The traced run: per-layer time, rows and bytes for one workload.

Spark plans are lazy, so a layer's time is measured from outside as the
wall time of a noop write over the plan prefix that ends at that layer,
minus the previous prefix's (io → +match → +enrich → +correlate → +route,
where the last prefix is the workload's own job). Each action runs as a
span under its own Spark job group; rows and bytes come from the
monitoring REST API for that group. Spans are kept in memory and written
to ``<work>/traces/`` at the end.

The timed runs stay untraced; the traced run also times the untraced job
so the tracing overhead is reported beside the layer table.
"""

from __future__ import annotations

import json
import os
import statistics
import time
import uuid
from contextlib import contextmanager
from datetime import datetime, timezone

import monitor
from workloads import Checks, sinks_twin, stream_twin

#: (name, unit, better) of every per-layer metric, in table order.
PER_LAYER = [
    ("io.rows", "count", "lower"),
    ("io.bytes_read", "bytes", "lower"),
    ("io.s", "s", "lower"),
    ("match.s", "s", "lower"),
    ("match.candidate_rows", "count", "lower"),
    ("match.rows_out", "count", "lower"),
    ("match.rows_per_candidate", "ratio", "higher"),
    ("match.python_task_s", "s", "lower"),
    ("match.python_bytes_in", "bytes", "lower"),
    ("match.python_bytes_out", "bytes", "lower"),
    ("enrich.s", "s", "lower"),
    ("enrich.rows_out", "count", "lower"),
    ("correlate.s", "s", "lower"),
    ("correlate.exchange_bytes", "bytes", "lower"),
    ("correlate.spill_bytes", "bytes", "lower"),
    ("correlate.python_task_s", "s", "lower"),
    ("correlate.rows_out", "count", "lower"),
    ("route.s", "s", "lower"),
    ("route.write_s", "s", "lower"),
    ("route.bytes_written", "bytes", "lower"),
    ("route.files_written", "count", "lower"),
    ("route.alerts", "count", "lower"),
    ("session.gc_s", "s", "lower"),
    ("session.jobs", "count", "lower"),
    ("session.python_worker_init_s", "s", "lower"),
    ("session.scaling_eff", "ratio", "higher"),
    ("streaming.batches", "count", "lower"),
    ("streaming.add_batch_s", "s", "lower"),
    ("streaming.state_rows_total", "count", "lower"),
    ("streaming.state_rows_updated", "count", "lower"),
    ("streaming.state_memory_bytes", "bytes", "lower"),
    ("streaming.state_commit_s", "s", "lower"),
    ("streaming.wal_commit_s", "s", "lower"),
    ("dedup.minhash_s", "s", "lower"),
    ("dedup.lsh_s", "s", "lower"),
    ("dedup.candidate_pairs", "count", "lower"),
    ("dedup.max_bucket", "count", "lower"),
    ("dedup.pair_precision", "ratio", "higher"),
    ("dedup.sym_edges", "count", "lower"),
    ("dedup.clusters_s", "s", "lower"),
    ("dedup.clusters_broadcast_s", "s", "lower"),
    ("dedup.clusters_shuffle_s", "s", "lower"),
    ("dedup.survivors", "count", "lower"),
    ("trace.overhead_pct", "%", "lower"),
]


class Spans:
    """In-memory span recorder; each span runs under its own job group."""

    def __init__(self, spark, run_id: str) -> None:
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.records: list[dict] = []

    @contextmanager
    def span(self, name: str, parent: str | None = None):
        group = f"perfbench-{self.run_id}-{len(self.records)}"
        rec = {"name": name, "parent": parent, "run_id": self.run_id, "job_group": group}
        self.records.append(rec)
        self.sc.setJobGroup(group, name)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            rec["wall_s"] = rec["end"] - rec["start"]
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def annotate(self, mon: monitor.MonitorClient) -> None:
        """Attach each span's job count, rows and bytes from the REST API of
        the session that ran it (call before that session stops)."""
        executions, jobs = mon.executions(), mon.jobs()
        for rec in self.records:
            if "jobs" in rec:
                continue
            rec["jobs"] = sum(1 for j in jobs if j.get("jobGroup") == rec["job_group"])
            rec.update(monitor.rows_and_bytes(
                monitor.executions_of_group(executions, jobs, rec["job_group"])))

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.records, f, indent=1)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _checked(wl, spark, inp, checks: Checks):
    job = checks.run(wl, spark, inp)
    if job is None:
        raise RuntimeError("traced job failed: " + "; ".join(checks.problems[-5:]))
    return job


def _dir_size(path: str) -> tuple[int, int]:
    files = size = 0
    for d, _sub, names in os.walk(path):
        for name in names:
            if name.startswith((".", "_")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(d, name))
    return files, size


def _submitted(execution: dict) -> float:
    t = datetime.strptime(execution["submissionTime"], "%Y-%m-%dT%H:%M:%S.%fGMT")
    return t.replace(tzinfo=timezone.utc).timestamp()


# --------------------------------------------------------------------------
# batch pipeline
# --------------------------------------------------------------------------


def _prefix_builders(spark, tx: str, rs):
    """The plan prefixes of ``pipeline.build_alerts`` for rule sets with
    conv-keyed state only (no persisted intermediate)."""
    from sagan_spark import io as iomod
    from sagan_spark.datagen import dims
    from sagan_spark.engine import correlate, enrich, match, pipeline

    if any(r.stateful and r.track in ("role", "tool") for r in rs.rules):
        raise ValueError("prefix tracing covers rule sets without role/tool tracks")

    def df_io():
        return iomod.read_table(spark, tx, columns=iomod.TRANSCRIPT_COLUMNS)

    def df_match():
        raw = df_io()
        mode = pipeline.resolve_match_mode(raw, rs, "auto")
        return match.run_match(raw, rs, fold_dims=True, mode=mode)

    def df_enrich():
        return enrich.attach_dims(
            df_match(), dims.role_dim(spark), dims.tool_dim(spark), dims.risk_ranges(spark)
        )

    def df_correlate():
        return correlate.run_correlate(df_enrich(), rs, scope="linear")

    return [("io", df_io), ("match", df_match), ("enrich", df_enrich),
            ("correlate", df_correlate)]


def trace_batch(wl, sessions, inp, n: int, spans: Spans, checks: Checks):
    spark = sessions.spark
    mon = monitor.MonitorClient(spark)
    untraced = [_checked(wl, spark, inp, checks).wall_s]  # and one after the spans
    m: dict[str, float] = {}
    walls: dict[str, float] = {}
    groups: dict[str, str] = {}
    with spans.span("pipeline"):
        for layer, build in _prefix_builders(spark, os.path.join(inp.path, "tx"), wl.ruleset()):
            with spans.span(layer, "pipeline") as s:
                _noop(build())
            walls[layer], groups[layer] = s["wall_s"], s["job_group"]
        gc0 = monitor.gc_seconds(mon.executors())
        with spans.span("route", "pipeline") as s:
            job = wl.run_once(spark, inp)
        checks.verify(wl, job, inp)
        walls["route"], groups["route"] = s["wall_s"], s["job_group"]
        m["session.gc_s"] = monitor.gc_seconds(mon.executors()) - gc0
    untraced.append(_checked(wl, spark, inp, checks).wall_s)
    prev = 0.0
    for layer in ("io", "match", "enrich", "correlate", "route"):
        m[f"{layer}.s"] = walls[layer] - prev
        prev = walls[layer]
    executions, jobs = mon.executions(), mon.jobs()
    corr = monitor.executions_of_group(executions, jobs, groups["correlate"])
    m.update(monitor.pipeline_layers(corr[-1]))
    route_execs = monitor.executions_of_group(executions, jobs, groups["route"])
    m["session.jobs"] = sum(1 for j in jobs if j.get("jobGroup") == groups["route"])
    m["route.alerts"] = sum(job.output["sink_counts"].values())
    untraced_p50 = statistics.median(untraced)
    m["trace.overhead_pct"] = 100.0 * (walls["route"] / untraced_p50 - 1.0)
    inp.props["arrow_crossing_share"] = m["match.candidate_rows"] / max(m["io.rows"], 1.0)
    lines = [
        f"  layer self-times sum to {walls['route']:.3f}s (the route prefix is the full job); "
        f"untraced median {untraced_p50:.3f}s (one job before, one after); "
        f"remainder {untraced_p50 - walls['route']:+.3f}s; "
        f"match is {100 * m['match.s'] / walls['route']:.0f}% of the job",
    ]
    if job.output.get("out_dir"):
        writer, write_job = groups["route"], job
    else:
        # a counts-only workload: the same job once more with its four
        # sinks written (route.write_sinks), checked line by line
        sinks = sinks_twin(wl)
        with spans.span("route_write_sinks") as s:
            write_job = _checked(sinks, spark, inp, checks)
        writer = s["job_group"]
        lines.append(f"  with its sinks written the job takes {s['wall_s']:.3f}s "
                     f"({s['wall_s'] - walls['route']:+.3f}s)")
    m["route.write_s"] = monitor.write_time_s(
        monitor.executions_of_group(mon.executions(), mon.jobs(), writer))
    m["route.files_written"], m["route.bytes_written"] = _dir_size(write_job.output["out_dir"])
    if wl.name == "batch_sparse_wide":
        # the streaming layer, over the same table and rules
        sm, sl = trace_stream(stream_twin(wl), sessions, inp, n, spans, checks, twin=True)
        m.update({k: v for k, v in sm.items() if k.startswith("streaming.")})
        lines += sl
        # single-core baseline: turns_per_s@N / (N × turns_per_s@1)
        spans.annotate(mon)
        sessions.start(1)  # same JVM: its JIT is warm, the session's workers are new
        t1 = _checked(wl, sessions.spark, inp, checks).wall_s
        m["session.scaling_eff"] = t1 / (n * untraced_p50)
        lines.append(f"  local[1] job {t1:.3f}s vs local[{n}] {untraced_p50:.3f}s: "
                     f"scaling efficiency {m['session.scaling_eff']:.3f}")
    return m, lines


# --------------------------------------------------------------------------
# stream
# --------------------------------------------------------------------------


def trace_stream(wl, sessions, inp, n: int, spans: Spans, checks: Checks,
                 twin: bool = False):
    """A traced drain; a batch workload's stream ``twin`` warms up its own
    path first and is not timed untraced."""
    spark = sessions.spark
    mon = monitor.MonitorClient(spark)
    if twin:
        wl.warm_up(spark, inp)
    untraced_s = None if twin else _checked(wl, spark, inp, checks).wall_s
    with spans.span("stream_drain") as s:
        job = wl.run_once(spark, inp)
    checks.verify(wl, job, inp)
    progress = job.output["progress"]
    states = [p["stateOperators"][0] for p in progress if p.get("stateOperators")]
    dur = [p["durationMs"] for p in progress]
    window = [e for e in mon.executions() if s["start"] - 1 <= _submitted(e) <= s["end"]]
    files, size = _dir_size(job.output["out_dir"])
    m = {
        "io.rows": float(sum(p["numInputRows"] for p in progress)),
        "streaming.batches": float(len(progress)),
        "streaming.add_batch_s": sum(d.get("addBatch", 0) for d in dur) / 1000.0,
        "streaming.wal_commit_s": sum(d.get("walCommit", 0) for d in dur) / 1000.0,
        "streaming.state_rows_total": float(states[-1]["numRowsTotal"]) if states else 0.0,
        "streaming.state_rows_updated": float(sum(st["numRowsUpdated"] for st in states)),
        "streaming.state_memory_bytes": float(max((st["memoryUsedBytes"] for st in states),
                                                  default=0)),
        "streaming.state_commit_s": sum(st.get("commitTimeMs", 0) for st in states) / 1000.0,
        "route.write_s": monitor.write_time_s(window),
        "route.files_written": float(files),
        "route.bytes_written": float(size),
        "route.alerts": float(sum(inp.reference["sink_counts"].values())),
    }
    lines = [f"  stream drain {s['wall_s']:.3f}s traced; micro-batches (s): "
             + ", ".join(f"{x:.3f}" for x in job.microbatch_s)]
    if untraced_s is not None:
        m["trace.overhead_pct"] = 100.0 * (s["wall_s"] / untraced_s - 1.0)
        lines.append(f"  untraced drain {untraced_s:.3f}s")
    return m, lines


# --------------------------------------------------------------------------
# dedup
# --------------------------------------------------------------------------


#: module caps of ``ops.dedup.dedup_clusters`` that force each tier past
#: the driver-side collect one: the broadcast-label loop, then the
#: shuffle-hash loop (the at-scale plan)
_FORCED_TIERS = {
    "broadcast": {"_COLLECT_EDGE_CAP": 0},
    "shuffle": {"_COLLECT_EDGE_CAP": 0, "_BROADCAST_EDGE_CAP": 0},
}


@contextmanager
def forced_tier(module, caps: dict):
    saved = {name: getattr(module, name) for name in caps}
    try:
        for name, value in caps.items():
            setattr(module, name, value)
        yield
    finally:
        for name, value in saved.items():
            setattr(module, name, value)


def trace_dedup(wl, sessions, inp, n: int, spans: Spans, checks: Checks):
    from sagan_spark.ops import dedup as D
    from workloads import dedup_chain

    spark = sessions.spark
    untraced = [_checked(wl, spark, inp, checks).wall_s]  # and one after the spans
    walls = {}
    with spans.span("dedup"):
        with spans.span("minhash", "dedup") as s:
            _noop(dedup_chain(spark, inp.path)[1])
        walls["minhash"] = s["wall_s"]
        with spans.span("lsh", "dedup") as s:
            _noop(dedup_chain(spark, inp.path)[2])
        walls["lsh"] = s["wall_s"]
        with spans.span("clusters", "dedup") as s:
            _noop(D.dedup_clusters(dedup_chain(spark, inp.path)[2]))
        walls["clusters"] = s["wall_s"]
        # the distributed tiers a larger pair graph would take, forced on
        # the same pairs and checked against the same survivors
        for tier, caps in _FORCED_TIERS.items():
            with forced_tier(D, caps), spans.span(f"clusters_{tier}", "dedup") as s:
                forced = wl.run_once(spark, inp)
            walls[f"clusters_{tier}"] = s["wall_s"]
            checks.verify(wl, forced, inp)
        with spans.span("survivors", "dedup") as s:
            job = wl.run_once(spark, inp)
        walls["survivors"] = s["wall_s"]
    checks.verify(wl, job, inp)
    untraced.append(_checked(wl, spark, inp, checks).wall_s)
    pairs = inp.props["candidate_pairs"]
    untraced_p50 = statistics.median(untraced)
    not_clusters = walls["survivors"] - (walls["clusters"] - walls["lsh"])
    m = {
        "dedup.minhash_s": walls["minhash"],
        "dedup.lsh_s": walls["lsh"] - walls["minhash"],
        "dedup.clusters_s": walls["clusters"] - walls["lsh"],
        # a forced tier's span is the whole job with that cluster step
        "dedup.clusters_broadcast_s": walls["clusters_broadcast"] - not_clusters,
        "dedup.clusters_shuffle_s": walls["clusters_shuffle"] - not_clusters,
        "dedup.candidate_pairs": float(pairs),
        "dedup.max_bucket": float(inp.props["largest_lsh_bucket"]),
        "dedup.pair_precision": inp.props["pair_precision"],
        # lsh pairs are distinct (a < b), so the symmetrized edge list the
        # cluster step builds holds each twice
        "dedup.sym_edges": float(2 * pairs),
        "dedup.survivors": float(len(job.output["survivors"])),
        "trace.overhead_pct": 100.0 * (walls["survivors"] / untraced_p50 - 1.0),
    }
    lines = [f"  chain prefixes (s): " + ", ".join(f"{k} {v:.3f}" for k, v in walls.items())
             + f"; untraced median {untraced_p50:.3f}s; survivors step "
             f"{walls['survivors'] - walls['clusters']:.3f}s"]
    return m, lines


def run_traced(wl, sessions, inp, n: int, work: str, seed: int):
    run_id = uuid.uuid4().hex[:8]
    spans = Spans(sessions.spark, run_id)
    checks = Checks()
    tracer = {"stream_dense": trace_stream, "dedup_corpus": trace_dedup}.get(wl.name, trace_batch)
    measured, lines = tracer(wl, sessions, inp, n, spans, checks)
    spans.annotate(monitor.MonitorClient(sessions.spark))
    path = os.path.join(work, "traces", f"{wl.name}-s{seed}-{run_id}.json")
    spans.write(path)
    metrics = {name: {"value": float(measured.get(name, 0.0)), "unit": unit}
               for name, unit, _better in PER_LAYER}
    table = [f"  {name:<30} {metrics[name]['value']:>16.4f} {unit}"
             for name, unit, _b in PER_LAYER if name in measured]
    lines = table + lines + [f"  spans: {path}"]
    lines += [f"  mismatch: {p}" for p in checks.problems[:10]]
    result = {"correct": checks.failed == 0, "attempted": checks.attempted,
              "failed": checks.failed, "metrics": metrics}
    return result, lines
