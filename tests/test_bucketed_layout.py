"""Bucketed-table shuffle elimination — the measured version of
docs/SCALE.md's 10^12-turn layout claim (bucket(N, conv_id)): with the
input stored bucketed by conv_id, the conv-keyed stateful replay needs NO
Exchange — the scan's HashPartitioning(conv_id) satisfies the replay's
ClusteredDistribution end-to-end. Verified here with Spark native
bucketing (same planner mechanics Iceberg's bucket transform engages on a
real cluster; the iceberg jar itself is absent in this sandbox, io.py).

Scope, honestly: partitioning survives only through PURE-COLUMN stages.
A MapInPandas node reports UnknownPartitioning (probed empirically), so
the fused match mode — one Python crossing for the candidate slice —
always re-inserts the exchange. The exchange-free plan is real for the
all-native-rule regime via the hybrid plan (native rules explode
JVM-side) — and since r6 the DEFAULT match_mode="auto" selects it
whenever the scan is bucketed by conv_id and every rule is native
(pipeline.resolve_match_mode); with Python-path rules the exchange
returns but only ever moves the matched ~1% slice. All asserted below.
"""

from __future__ import annotations

import pytest

from sagan_spark.rules.model import AfterSpec, ContentSpec, Rule, RuleSet

NATIVE_RS = RuleSet(
    (
        Rule(
            sid=4600001,
            msg="retry storm",
            sink="fast",
            contents=(ContentSpec("retry",),),
            after=AfterSpec(track="conv_id", count=2, seconds=100_000),
        ),
        Rule(sid=4600002, msg="plain err", sink="eve", contents=(ContentSpec("error",),)),
    )
)


@pytest.fixture(scope="module")
def bucketed(spark, tmp_path_factory):
    """The same transcripts as a plain parquet dir AND a conv_id-bucketed
    table (8 buckets, sorted by conv_id, turn_idx — the SCALE.md layout)."""
    from sagan_spark.datagen.transcripts import gen_chunk

    plain = str(tmp_path_factory.mktemp("bkt") / "plain")
    pdf = gen_chunk(0, 400, seed=9, hot_cap=500)
    df = spark.createDataFrame(pdf)
    df.write.mode("overwrite").parquet(plain)
    spark.sql("DROP TABLE IF EXISTS tx_bucketed_test")
    (
        df.write.bucketBy(8, "conv_id")
        .sortBy("conv_id", "turn_idx")
        .mode("overwrite")
        .saveAsTable("tx_bucketed_test")
    )
    yield plain, "tx_bucketed_test"
    spark.sql("DROP TABLE IF EXISTS tx_bucketed_test")


def _n_conv_exchanges(df) -> int:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.count("Exchange hashpartitioning(conv_id")


def _alerts(spark, src, match_mode):
    from sagan_spark.engine.pipeline import build_alerts

    return build_alerts(spark, src, NATIVE_RS, match_mode=match_mode)


def test_bucketed_scan_eliminates_replay_exchange(spark, bucketed):
    plain, table = bucketed
    bdf = _alerts(spark, spark.table(table), "hybrid")
    pdf_plan = _alerts(spark, spark.read.parquet(plain), "hybrid")
    assert _n_conv_exchanges(bdf) == 0, "bucketed all-native plan still shuffles"
    assert _n_conv_exchanges(pdf_plan) >= 1, "plain-parquet plan lost its exchange?"
    # The exchange elision is only SOUND if the scan actually reads
    # bucketed. Spark's autoBucketedScan can fall back to plain file
    # splits while the elision stands — splitting conversations across
    # replay partitions (observed; corrupts stateful state). session.py
    # pins autoBucketedScan off; this assertion pins the pin.
    plan = bdf._jdf.queryExecution().executedPlan().toString()
    assert "Bucketed: true" in plan, plan[:2000]


def test_bucketed_and_plain_outputs_equal(spark, bucketed):
    plain, table = bucketed
    rows = lambda df: sorted(  # noqa: E731
        (r.conv_id, int(r.turn_idx), int(r.sid))
        for r in df.select("conv_id", "turn_idx", "sid").collect()
    )
    got_b = rows(_alerts(spark, spark.table(table), "hybrid"))
    got_p = rows(_alerts(spark, spark.read.parquet(plain), "hybrid"))
    assert got_b == got_p and len(got_b) > 0


def test_fused_mode_python_stage_reinserts_exchange(spark, bucketed):
    """Documented limitation: the fused mode's single mapInPandas crossing
    reports UnknownPartitioning, so even a bucketed scan shuffles before
    the replay — the exchange moves only the matched slice, but bucketed
    deployments of all-native rule sets should choose hybrid."""
    _, table = bucketed
    fused = _alerts(spark, spark.table(table), "fused")
    assert _n_conv_exchanges(fused) >= 1
    # equality across modes still holds on the bucketed input
    rows = lambda df: sorted(  # noqa: E731
        (r.conv_id, int(r.turn_idx), int(r.sid))
        for r in df.select("conv_id", "turn_idx", "sid").collect()
    )
    assert rows(fused) == rows(_alerts(spark, spark.table(table), "hybrid"))


def test_auto_mode_defaults_to_exchange_free_plan_on_bucketed(spark, bucketed):
    """r6: the DEFAULT pipeline (match_mode='auto') must pick the measured
    zero-shuffle plan itself when it is sound — bucketed conv_id scan +
    all-native rules — instead of hiding it behind an explicit mode."""
    from sagan_spark.engine.pipeline import build_alerts

    plain, table = bucketed
    auto_b = build_alerts(spark, spark.table(table), NATIVE_RS)  # default mode
    assert _n_conv_exchanges(auto_b) == 0, "auto on bucketed input still shuffles"
    plan = auto_b._jdf.queryExecution().executedPlan().toString()
    assert "Bucketed: true" in plan
    # plain parquet stays on the fused single-scan default (exchange present)
    auto_p = build_alerts(spark, spark.read.parquet(plain), NATIVE_RS)
    assert _n_conv_exchanges(auto_p) >= 1
    # and the auto plan's output is identical to both explicit modes
    rows = lambda df: sorted(  # noqa: E731
        (r.conv_id, int(r.turn_idx), int(r.sid))
        for r in df.select("conv_id", "turn_idx", "sid").collect()
    )
    got = rows(auto_b)
    assert got == rows(auto_p) == rows(_alerts(spark, spark.table(table), "fused"))
    assert len(got) > 0


def test_auto_mode_resolution(spark, bucketed):
    """Resolver unit surface: hybrid ONLY for bucketed + all-native; a
    single Python-path rule (grok) keeps the fused default even on the
    bucketed table; explicit modes are honored."""
    from sagan_spark.engine.pipeline import resolve_match_mode
    from sagan_spark.rules.model import GrokSpec

    plain, table = bucketed
    bdf, pdf = spark.table(table), spark.read.parquet(plain)
    assert resolve_match_mode(bdf, NATIVE_RS, "auto") == "hybrid"
    assert resolve_match_mode(pdf, NATIVE_RS, "auto") == "fused"
    grokked = RuleSet(
        NATIVE_RS.rules
        + (
            Rule(
                sid=4600003,
                msg="py path",
                sink="fast",
                contents=(ContentSpec("error",),),
                groks=(GrokSpec(r"code=(?P<code>\d+)", required=False),),
            ),
        )
    )
    assert resolve_match_mode(bdf, grokked, "auto") == "fused"
    for explicit in ("fused", "hybrid"):
        assert resolve_match_mode(bdf, NATIVE_RS, explicit) == explicit
    # unresolved "auto" must never leak into run_match's hybrid fallthrough
    from sagan_spark.engine import match as matchmod

    with pytest.raises(ValueError, match="unknown match mode"):
        matchmod.run_match(bdf, NATIVE_RS, mode="auto")


class _QueryExecutionRaises:
    """A Dataset handle whose queryExecution() raises (a py4j/Spark-internal
    API change); every other call goes to the real Java Dataset."""

    def __init__(self, jdf):
        self._real = jdf

    def queryExecution(self):
        raise RuntimeError("forced planner-probe failure")

    def __getattr__(self, name):
        return getattr(self._real, name)


def test_bucketed_probe_failure_falls_back_to_fused(spark, bucketed, monkeypatch):
    """_scan_bucketed_by reads Spark internals over py4j; when that probe
    fails, auto must fall back to the always-correct fused plan (conv_id
    exchange kept) even on a bucketed all-native input, with the same
    alerts as the hybrid run."""
    from sagan_spark.engine.pipeline import build_alerts, resolve_match_mode

    _, table = bucketed
    bdf = spark.table(table)
    monkeypatch.setattr(bdf, "_jdf", _QueryExecutionRaises(bdf._jdf))
    assert resolve_match_mode(bdf, NATIVE_RS, "auto") == "fused"
    fallback = build_alerts(spark, bdf, NATIVE_RS)
    assert _n_conv_exchanges(fallback) >= 1
    rows = lambda df: sorted(  # noqa: E731
        (r.conv_id, int(r.turn_idx), int(r.sid))
        for r in df.select("conv_id", "turn_idx", "sid").collect()
    )
    got = rows(fallback)
    assert got == rows(_alerts(spark, spark.table(table), "hybrid"))
    assert len(got) > 0


def test_pipeline_run_on_catalog_identifier_elides_exchange(spark, bucketed):
    """r6 end-to-end: `pipeline.run` pointed at the bucketed CATALOG
    table identifier (io.read_table routes slash-free ids to spark.table)
    with default settings gets the zero-exchange plan and counts equal to
    the plain-parquet path — the whole 100-TB deployment story from one
    config line, no code."""
    from sagan_spark.engine import pipeline

    plain, table = bucketed
    res_b = pipeline.run(spark, table, ruleset=NATIVE_RS)
    res_p = pipeline.run(spark, plain, ruleset=NATIVE_RS)
    assert res_b.sink_counts == res_p.sink_counts
    assert sum(res_b.sink_counts.values()) > 0
    assert _n_conv_exchanges(res_b.alerts) == 0
    assert _n_conv_exchanges(res_p.alerts) >= 1


def test_replay_guard_refuses_non_contiguous_partition():
    """The replay resets per-conversation state on conv change, so a
    partition where a conversation REAPPEARS after others (lost sort —
    exactly what the auto-bucketed-scan fallback produced) must raise the
    engine's loud error, never silently fragment counters."""
    import pandas as pd

    from sagan_spark.engine.correlate import _replay_sorted, _replay_tracked_sorted

    rule = NATIVE_RS.rules[0]
    pdf = pd.DataFrame(
        {
            "conv_id": ["a", "a", "b", "a"],  # 'a' reappears after 'b'
            "turn_idx": pd.array([0, 1, 0, 2], dtype="int32"),
            "sid": pd.array([rule.sid] * 4, dtype="int64"),
            "tool": ["none"] * 4,
            "ts": pd.Series(pd.to_datetime(["2025-01-01"] * 4)).astype("datetime64[us]"),
        }
    )
    with pytest.raises(RuntimeError, match="not conv-contiguous"):
        _replay_sorted({rule.sid: rule}, pdf)
    roles = pdf.assign(role=["r1", "r1", "r2", "r1"])
    with pytest.raises(RuntimeError, match="not key-contiguous"):
        _replay_tracked_sorted({rule.sid: rule}, roles, "role")
