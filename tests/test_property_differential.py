"""Property-based differential: Spark engine ≡ pandas oracle on random
transcripts (SURVEY §5.2.4) — catches window-boundary and ordering bugs
the planted fixture misses. Examples are kept small; each runs a real
Spark job, so the example budget is deliberately low."""

from __future__ import annotations

import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from sagan_spark.engine import pipeline
from sagan_spark.oracle.pandas_engine import run_oracle
from sagan_spark.rules.canonical import CANONICAL

# token pool: rule-relevant fragments + filler, so random texts exercise
# every predicate family with realistic hit rates
TOKENS = [
    "error", "tool  timeout", "CREDENTIAL", "alpha", "omega", "decoy",
    "ssh", "ftp", "code=503", "code=200", "retry", "Refused", "sudo",
    "login failed", "exec", "d41d8cd98f00b204e9800998ecf8427e",
    "the", "quarterly", "report", "naïve", "日本語",
    # P10/P11 token fragments, including partial combos that must NOT fire
    "connection from 10.1.2.3 port 8443 proto TCP",
    "connection from 10.9.8.7", "port 8080", "proto udp", "10.0.0.1",
]

ROLES = ["user", "assistant", "tool", "system"]
TOOLS = ["none", "search", "bash", "email", "sql"]


@st.composite
def transcripts(draw) -> pd.DataFrame:
    n_convs = draw(st.integers(1, 4))
    rows = []
    for c in range(n_convs):
        n_turns = draw(st.integers(1, 25))
        t = draw(st.integers(0, 10_000))
        for i in range(n_turns):
            words = draw(st.lists(st.sampled_from(TOKENS), min_size=1, max_size=8))
            t += draw(st.integers(1, 1200))
            rows.append(
                {
                    "conv_id": f"pc{c:04d}",
                    "turn_idx": i,
                    "role": draw(st.sampled_from(ROLES)),
                    "text": " ".join(words),
                    "tool": draw(st.sampled_from(TOOLS)),
                    "ts": pd.Timestamp("2025-01-01") + pd.Timedelta(seconds=t),
                }
            )
    pdf = pd.DataFrame(rows)
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    return pdf


def _diff_random(spark, pdf, ruleset):
    want = run_oracle(pdf, ruleset)
    df = spark.createDataFrame(pdf)
    df = df.withColumn("ts", df.ts.cast("timestamp_ntz"))
    alerts = pipeline.build_alerts(spark, df, ruleset)
    got = sorted(
        (r.conv_id, r.turn_idx, r.sid, r.text)
        for r in alerts.select("conv_id", "turn_idx", "sid", "text").collect()
    )
    expect = sorted((a["conv_id"], a["turn_idx"], a["sid"], a["text"]) for a in want.alerts)
    assert got == expect


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)
@given(transcripts())
def test_engine_equals_oracle_on_random_data(spark, pdf):
    _diff_random(spark, pdf, CANONICAL)


# round-2 semantics under random data: role-tracked counters (global,
# ts-ordered across conversations), not_in on an optional grok field
# (missing field must fail), and optional/required token mixes
from sagan_spark.rules.model import (  # noqa: E402
    AfterSpec,
    ContentSpec,
    FieldCond,
    GrokSpec,
    Rule,
    RuleSet,
    TokenSpec,
)

EXTENDED = RuleSet(
    CANONICAL.rules
    + (
        Rule(
            sid=3000001,
            msg="role-wide retry window",
            sink="fast",
            contents=(ContentSpec("retry"),),
            after=AfterSpec(track="role", count=2, seconds=900),
        ),
        Rule(
            sid=3000002,
            msg="non-2xx code",
            sink="eve",
            groks=(GrokSpec(r"code=(?P<code>\d+)", required=False),),
            field_conds=(FieldCond("code", "not_in", ("200", "204")),),
            fast_pattern=("code=", False),
        ),
        Rule(
            sid=3000003,
            msg="ip with optional port",
            sink="syslog",
            tokens=(
                TokenSpec("src_ip", "ip", 1, required=True),
                TokenSpec("port", "port", 1, required=False),
            ),
        ),
    )
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)
@given(transcripts())
def test_engine_equals_oracle_round2_semantics(spark, pdf):
    _diff_random(spark, pdf, EXTENDED)
