"""Null-column semantics: null text fails text-predicate rules; null
role/tool fail membership tests of either polarity — identical across the
native Column path, the vectorized UDF path and the oracle."""

from __future__ import annotations

import pandas as pd
import pytest

from sagan_spark.engine import pipeline
from sagan_spark.oracle.pandas_engine import run_oracle
from sagan_spark.rules.model import ContentSpec, GrokSpec, PcreSpec, Rule, RuleSet

# a ruleset that exercises both execution paths WITHOUT fast patterns, so
# null text actually reaches the vectorized UDF
RS = RuleSet(
    (
        Rule(sid=1, msg="native content", sink="fast", contents=(ContentSpec("error"),)),
        Rule(
            sid=2,
            msg="udf grok, no fast pattern",
            sink="eve",
            groks=(GrokSpec(r"code=(?P<code>\d+)"),),
        ),
        Rule(sid=3, msg="negated role", sink="fast", roles=("assistant",), roles_negated=True,
             contents=(ContentSpec("x",),)),
        Rule(sid=4, msg="negated-only content", sink="syslog",
             contents=(ContentSpec("clean", negated=True),), roles=("user",)),
        Rule(sid=5, msg="java-unsafe pcre via udf", sink="fast",
             pcres=(PcreSpec(r"(?P<w>retry)\s*\1?", ""),)),  # backreference → UDF path
    )
)


@pytest.fixture(scope="module")
def null_pdf() -> pd.DataFrame:
    rows = [
        ("c1", 0, "assistant", "an error occurred code=7", "none"),
        ("c1", 1, None, "x plus code=9", "bash"),
        ("c1", 2, "user", None, None),
        ("c1", 3, "user", "retry retry", "sql"),
        ("c1", 4, None, None, None),
        ("c1", 5, "tool", "x error clean", "none"),
    ]
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool"])
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    pdf["ts"] = pd.to_datetime("2025-01-01") + pd.to_timedelta(pdf["turn_idx"] * 10, unit="s")
    return pdf


def test_nulls_engine_equals_oracle(spark, null_pdf):
    want = run_oracle(null_pdf, RS)
    df = spark.createDataFrame(null_pdf)
    df = df.withColumn("ts", df.ts.cast("timestamp_ntz"))
    alerts = pipeline.build_alerts(spark, df, RS)
    got = sorted(
        (r.conv_id, r.turn_idx, r.sid)
        for r in alerts.select("conv_id", "turn_idx", "sid").collect()
    )
    expect = sorted((a["conv_id"], a["turn_idx"], a["sid"]) for a in want.alerts)
    assert got == expect
    # sanity on the defined semantics
    sids_by_turn = {}
    for c, t, s in got:
        sids_by_turn.setdefault(t, set()).add(s)
    assert 1 in sids_by_turn.get(0, set())  # plain match works
    assert sids_by_turn.get(2, set()) == set()  # null text fails all text rules
    assert sids_by_turn.get(4, set()) == set()  # all-null row matches nothing
    assert 3 in sids_by_turn.get(5, set())  # tool is "not assistant"
    assert 3 not in sids_by_turn.get(1, set())  # null role fails negated set too
    assert 5 in sids_by_turn.get(3, set())  # backref pcre handled on UDF path


def test_empty_input_runs_clean(spark, tmp_path):
    """ZERO-row input (r6, found by the verify probe): AQE's empty-relation
    propagation can prune the input-side CollectMetrics node, so the
    input-metrics Observation never fires — pipeline.run must fall back to
    a direct aggregate instead of crashing, and report empty counts."""
    from sagan_spark.datagen.transcripts import gen_chunk

    p = str(tmp_path / "empty_tx")
    df = spark.createDataFrame(gen_chunk(0, 3, seed=3, hot_cap=500)).limit(0)
    df.write.mode("overwrite").parquet(p)
    res = pipeline.run(spark, p)
    assert res.sink_counts == {} and res.sid_counts == {}
    assert res.metrics["rows_in"] == 0 and res.metrics["alerts"] == 0
    assert res.metrics["ts_min"] is None
