"""End-to-end batch pipeline: parse → match → enrich → correlate → route.

The Spark re-expression of Sagan's per-event loop (SURVEY §3.2 E1). The
default match_mode="auto" resolves to the fused plan below on ordinary
input, and to the zero-exchange hybrid plan when the scan is bucketed by
conv_id and every rule is native (resolve_match_mode). Fused plan shape
(asserted by tests/test_plan_shape.py):

  ONE parquet/Iceberg scan (ReadSchema pruned to the 6 transcript columns)
    → Project: native-rule when-array → `_nsids` [whole-stage codegen]
    → Filter: native hit OR UDF fast-pattern     [JVM-side candidate prune]
    → MapInPandas fused matcher                  ← the JVM↔Py boundary
    → BroadcastHashJoin ×2 + BroadcastNestedLoopJoin (attach dims)
    → Exchange hashpartitioning(conv_id)         [the ONLY data shuffle]
    → Sort within partitions → MapInPandas replay (stateless pass through)
    → literal-map rule meta → sinks / Observation counts

Strictly linear: every stage has one consumer, so nothing recomputes and
nothing needs a persist (counts ride the single action via the Observation
API). Exceptions that DO persist: the out_dir path (four sink writers
reuse alerts) and rule sets with role-tracked counters (two replay
branches).
"""

from __future__ import annotations

import logging
from dataclasses import dataclass, field

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..datagen import dims as dimsmod
from ..rules.canonical import CANONICAL
from ..rules.model import RuleSet
from . import correlate, enrich, match, route
from .. import io as iomod


logger = logging.getLogger("sagan_spark.pipeline")


def _scan_bucketed_by(df: DataFrame, col: str) -> bool:
    """True iff EVERY leaf relation of ``df``'s plan is a file scan bucketed
    by exactly ``[col]`` (Spark native bucketing — the same planner
    distribution Iceberg's bucket transform provides on a real cluster).
    With ``autoBucketedScan`` pinned off (session.py) a bucketed relation
    is always read bucketed, so the scan's HashPartitioning(col) is real.
    Detection failure of any kind returns False (callers fall back to the
    shuffle-inserting plan, which is always correct)."""
    try:
        leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
        n = leaves.size()
        if n == 0:
            return False
        for i in range(n):
            try:
                spec = leaves.apply(i).relation().bucketSpec()
                if not spec.isDefined():
                    return False
                cols = spec.get().bucketColumnNames()
                if cols.size() != 1 or cols.apply(0) != col:
                    return False
            except Exception:
                return False  # non-file leaf (e.g. LocalRelation): no buckets
        return True
    except Exception:
        return False


def resolve_match_mode(
    input_df: DataFrame, ruleset: RuleSet, match_mode: str = "auto"
) -> str:
    """Resolve ``match_mode="auto"`` to a concrete plan.

    auto → "hybrid" iff every rule is native-compilable AND the input scan
    is bucketed by conv_id: the all-native hybrid plan is a SINGLE scan
    with zero Python stages before the replay (native rules explode
    JVM-side), so the scan's bucket partitioning survives to the conv_id
    replay and the Exchange is elided entirely — the measured 100-TB
    headline plan (tests/test_bucketed_layout.py, docs/SCALE.md). The
    fused mode's MapInPandas reports UnknownPartitioning and always
    re-inserts that exchange, so on a bucketed table defaults would
    silently pay a shuffle the engine can provably skip.

    auto → "fused" otherwise (any Python-path rule, or an unbucketed
    scan): one scan, JVM candidate pruning, one Arrow crossing — the
    scan-dominated default measured in BENCH/BASELINE.md.

    An EXPLICIT mode is honored as given; if it leaves the elision on the
    table (fused on a bucketed all-native workload) a log line says
    so rather than second-guessing the caller.
    """
    all_native = all(match.native_compilable(r) for r in ruleset.rules)
    if match_mode != "auto":
        if all_native and match_mode != "hybrid" and _scan_bucketed_by(input_df, "conv_id"):
            logger.info(
                "input is bucketed by conv_id and every rule is native-"
                "compilable: match_mode='hybrid' (or 'auto') would elide "
                "the conv_id exchange entirely; explicit %r keeps it",
                match_mode,
            )
        return match_mode
    if all_native and _scan_bucketed_by(input_df, "conv_id"):
        logger.info(
            "auto match_mode → 'hybrid': bucketed conv_id scan + all-native "
            "rules, replay exchange elided"
        )
        return "hybrid"
    return "fused"


@dataclass
class PipelineResult:
    alerts: DataFrame  # routed alert rows (persisted)
    sink_counts: dict[str, int] = field(default_factory=dict)
    sid_counts: dict[int, int] = field(default_factory=dict)
    input_rows: int | None = None
    metrics: dict = field(default_factory=dict)  # A3 stats ([PUB src/stats-json.c])

    def unpersist(self) -> None:
        self.alerts.unpersist()
        # release the enriched intermediate build_alerts persisted for
        # role/tool-tracked rule sets (long-lived sessions would
        # otherwise accumulate one cached DataFrame per run)
        inner = getattr(self.alerts, "_sagan_persisted", None)
        if inner is not None:
            inner.unpersist()


def build_alerts(
    spark: SparkSession,
    input_df: DataFrame,
    ruleset: RuleSet = CANONICAL,
    fold_dims: bool = True,
    match_mode: str = "auto",
) -> DataFrame:
    """The alert DataFrame (lazy).

    Plan: scan → match (``match_mode``, see resolve_match_mode) →
    broadcast enrich joins → ONE conv_id Exchange → sorted partition
    replay (stateless alerts pass through inside it) → literal-map rule
    meta. Strictly linear: the scan + match subtree has exactly one
    consumer, so nothing recomputes and nothing needs a persist; every
    stage cost is per-task parallel (scales with cores/executors). See
    correlate.run_correlate for why branching alternatives don't scale.
    The one exception: role/tool-tracked rules add a replay branch per
    track column, so the enriched intermediate is persisted.
    """
    from ..packaging import ensure_shipped

    ensure_shipped(spark)
    match_mode = resolve_match_mode(input_df, ruleset, match_mode)
    matched = match.run_match(input_df, ruleset, fold_dims=fold_dims, mode=match_mode)
    enriched = enrich.attach_dims(
        matched,
        dimsmod.role_dim(spark),
        dimsmod.tool_dim(spark),
        dimsmod.risk_ranges(spark),
        dimsmod.bluedot_dim(spark) if not fold_dims else None,
    )
    if not fold_dims:
        enriched = enrich.apply_enrich_filters(enriched, ruleset)
        # bd_* are filter-only attributes of the unfolded path (folded mode
        # never attaches them) — drop after filtering so PipelineResult.alerts
        # has the SAME schema in both modes
        enriched = enriched.drop("bd_category", "bd_score")
    # non-conv tracked rules (by_username → role, by_dst → tool) split the
    # plan into a conv-keyed and one-or-more track-keyed replay branches —
    # dual consumers of the match subtree, so persist it (MapInPandas
    # subtrees are never exchange-reuse-deduped).
    has_track_branch = any(
        r.stateful and r.track in ("role", "tool") for r in ruleset.rules
    )
    persisted = None
    if has_track_branch:
        enriched = persisted = enriched.persist(StorageLevel.MEMORY_AND_DISK)
    correlated = correlate.run_correlate(enriched, ruleset)
    out = route.attach_rule_meta(correlated, ruleset)
    if persisted is not None:
        # hand the cache handle to callers (PipelineResult.unpersist)
        out._sagan_persisted = persisted
    return out


def run(
    spark: SparkSession,
    input_path: str,
    ruleset: RuleSet = CANONICAL,
    out_dir: str | None = None,
    fold_dims: bool = True,
    count_input: bool = False,
    match_mode: str = "auto",
) -> PipelineResult:
    """Execute the pipeline.

    Without ``out_dir`` the whole run is ONE Spark action: per-sink and
    per-sid counts are collected via the Observation API piggybacked on a
    noop write — no persist, no second pass. With ``out_dir`` the alerts
    are persisted once and reused by the four sink writers.
    """
    from pyspark.sql import Observation

    raw = iomod.read_table(spark, input_path, columns=iomod.TRANSCRIPT_COLUMNS)
    df = raw
    # input-side metrics ride the same action (zero extra jobs): rows in,
    # approx distinct conversations, time span — the stats-json analogue
    obs_in = Observation()  # unnamed → unique (plans may be unioned, e.g. run_dynamic)
    df = df.observe(
        obs_in,
        F.count(F.lit(1)).alias("rows_in"),
        F.approx_count_distinct("conv_id").alias("convs_approx"),
        F.min("ts").alias("ts_min"),
        F.max("ts").alias("ts_max"),
    )
    alerts = build_alerts(spark, df, ruleset, fold_dims=fold_dims, match_mode=match_mode)
    res = PipelineResult(alerts=alerts)
    sinks = ruleset.sinks()
    sids = sorted(r.sid for r in ruleset.rules if not r.noalert)

    if out_dir is None:
        obs = Observation()
        metrics = [
            F.sum(F.when(F.col("sink") == s, 1).otherwise(0)).alias(f"sink_{s}") for s in sinks
        ] + [
            F.sum(F.when(F.col("sid") == s, 1).otherwise(0)).alias(f"sid_{s}") for s in sids
        ]
        observed = alerts.observe(obs, F.count(F.lit(1)).alias("alerts"), *metrics)
        observed.write.format("noop").mode("overwrite").save()
        got = obs.get
        res.sink_counts = {s: got[f"sink_{s}"] for s in sinks if got[f"sink_{s}"]}
        res.sid_counts = {s: got[f"sid_{s}"] for s in sids if got[f"sid_{s}"]}
        try:
            res.metrics = dict(obs_in.get)
        except Exception:
            # With an ALL-empty input, AQE's empty-relation propagation can
            # prune the input-side CollectMetrics node out of the executed
            # plan entirely — the observation never fires and its JVM row
            # cannot convert (found by the empty-input verify probe; the
            # root-level alerts observation above is never pruned). Fall
            # back to aggregating the same metrics directly: one extra tiny
            # job, and only on the degenerate inputs that trigger this.
            r = raw.agg(  # raw, not df: an Observation is single-use
                F.count(F.lit(1)).alias("rows_in"),
                F.approx_count_distinct("conv_id").alias("convs_approx"),
                F.min("ts").alias("ts_min"),
                F.max("ts").alias("ts_max"),
            ).first()
            res.metrics = r.asDict()
        res.metrics["alerts"] = got["alerts"] or 0
    else:
        alerts = alerts.persist(StorageLevel.MEMORY_AND_DISK)
        res.alerts = alerts
        res.sink_counts = {r["sink"]: r["n"] for r in route.sink_counts(alerts).collect()}
        res.sid_counts = {r["sid"]: r["n"] for r in route.sid_counts(alerts).collect()}
        route.write_sinks(alerts, out_dir)
    if count_input:
        res.input_rows = df.count()
    return res


def run_dynamic(
    spark: SparkSession,
    input_path: str,
    ruleset: RuleSet = CANONICAL,
    out_dir: str | None = None,
    fold_dims: bool = True,
    match_mode: str = "auto",
) -> PipelineResult:
    """C7 depends_on / dynamic rules ([PUB src/processors/dynamic-rules.c]),
    two-pass batch semantics: pass 1 runs all independent rules; a dependent
    rule is enabled for pass 2 iff its parent sid fired at least once in
    pass 1. Only the tiny fired-sid set crosses to the driver. Dependent
    rules re-scan the input — acceptable because dynamic rules are rare and
    pass 2 can also be narrowed by its own fast patterns."""
    base = RuleSet(tuple(r for r in ruleset.rules if r.depends_on is None))
    dependents = [r for r in ruleset.rules if r.depends_on is not None]
    res = run(spark, input_path, base, out_dir=None, fold_dims=fold_dims, match_mode=match_mode)
    if dependents:
        fired = set(res.sid_counts)
        enabled = tuple(r for r in dependents if r.depends_on in fired)
        if enabled:
            res2 = run(
                spark, input_path, RuleSet(enabled), out_dir=None,
                fold_dims=fold_dims, match_mode=match_mode,
            )
            for k, v in res2.sink_counts.items():
                res.sink_counts[k] = res.sink_counts.get(k, 0) + v
            res.sid_counts.update(res2.sid_counts)
            res.alerts = res.alerts.unionByName(res2.alerts)
    if out_dir is not None:
        alerts = res.alerts.persist(StorageLevel.MEMORY_AND_DISK)
        res.alerts = alerts
        route.write_sinks(alerts, out_dir)
    return res
