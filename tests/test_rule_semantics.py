"""Unit tests for the defined rule semantics (rules/model.py docstrings) —
the hard parts from SURVEY §7.4: content-chain positioning, counter reset
windows, flexbit expiry, turn-boundary set/check ordering. The stateful
cases run through the pandas oracle AND the engine's replay kernel, both
as the batch replay and as the streaming conv state function (one
micro-batch per turn, state carried through its JSON blob). Pure Python +
pandas; no Spark session needed (fast)."""

from __future__ import annotations

import pandas as pd

from sagan_spark.engine.correlate import _replay_sorted
from sagan_spark.oracle.pandas_engine import run_oracle
from sagan_spark.rules.eval import match_contents, match_stateless
from sagan_spark.rules.model import (
    AfterSpec,
    ContentSpec,
    FlexbitSpec,
    Rule,
    RuleSet,
    ThresholdSpec,
)
from sagan_spark.streaming.pipeline import _make_state_fn


def _rule(**kw) -> Rule:
    base = dict(sid=1, msg="t", sink="fast")
    base.update(kw)
    return Rule(**base)


# ---- content chains (P3-P7) ------------------------------------------------


def test_offset_depth_region():
    r = _rule(contents=(ContentSpec("abc", offset=2, depth=4),))
    assert match_contents(r, "xxabcz")  # 'abc' starts at 2, inside [2,6)
    assert not match_contents(r, "abcxxx")  # starts at 0 < offset
    assert not match_contents(r, "xxxxxabc")  # starts at 5, region is [2,6)
    assert match_contents(r, "..abcd")


def test_distance_within_chain():
    r = _rule(
        contents=(
            ContentSpec("ab"),
            ContentSpec("cd", distance=2, within=5),
        )
    )
    #          ab..cd  gap=2 → start at prev_end+2=4, cd at 4 ✓
    assert match_contents(r, "ab..cd")
    #          abcd    gap=0 < distance → first find at 4.. none
    assert not match_contents(r, "abcd")
    #          ab......cd gap=6 > within=5 from prev_end → pos 8 > 2+5
    assert not match_contents(r, "ab......cd")
    # greedy first-match: second occurrence would satisfy, first is taken
    assert match_contents(r, "ab..cd..cd")


def test_negated_content_region():
    r = _rule(contents=(ContentSpec("ok"), ContentSpec("bad", negated=True)))
    assert match_contents(r, "this is ok")
    assert not match_contents(r, "this is ok but bad")


def test_nocase_lower_semantics():
    r = _rule(contents=(ContentSpec("StRaSse", nocase=True),))
    assert match_contents(r, "die STRASSE ist lang")
    assert match_stateless(r, "strasse", "user", "none", 10, 1) is not None


# ---- counters (C1/C2): reset-window, not sliding ---------------------------


def _frame(rows):
    return pd.DataFrame(
        {
            "conv_id": ["c1"] * len(rows),
            "turn_idx": list(range(len(rows))),
            "role": ["user"] * len(rows),
            "text": [r[0] for r in rows],
            "tool": ["none"] * len(rows),
            "ts": [pd.Timestamp("2025-01-01") + pd.Timedelta(seconds=r[1]) for r in rows],
        }
    )


def _match_rows(frame: pd.DataFrame, rs: RuleSet) -> pd.DataFrame:
    """The match stage's output for ``frame`` — one row per (turn, rule)
    whose stateless part matches, sorted (conv_id, turn_idx, sid): the
    input both replay kernels see."""
    rows = [
        (r.conv_id, r.turn_idx, rule.sid, r.tool, r.ts)
        for r in frame.itertuples(index=False)
        for rule in rs.rules
        if match_stateless(rule, r.text, r.role, r.tool, r.ts.hour, r.ts.weekday() + 1)
        is not None
    ]
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "sid", "tool", "ts"])
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    return pdf.sort_values(["conv_id", "turn_idx", "sid"], kind="mergesort")


def _alert_turns(emitted: pd.DataFrame, rs: RuleSet) -> list[int]:
    noalert = [r.sid for r in rs.rules if r.noalert]
    return sorted(int(t) for t in emitted.loc[~emitted["sid"].isin(noalert), "turn_idx"])


def _oracle_turns(frame: pd.DataFrame, rs: RuleSet) -> list[int]:
    return sorted(a["turn_idx"] for a in run_oracle(frame, rs).alerts)


def _batch_turns(frame: pd.DataFrame, rs: RuleSet) -> list[int]:
    rules = {r.sid: r for r in rs.rules if r.stateful}
    return _alert_turns(_replay_sorted(rules, _match_rows(frame, rs)), rs)


class _State:
    """Just enough GroupState to drive a state function across batches."""

    exists, get, hasTimedOut = False, None, False

    def update(self, t):
        self.exists, self.get = True, t


def _stream_turns(frame: pd.DataFrame, rs: RuleSet) -> list[int]:
    rows = _match_rows(frame, rs)
    fn, state = _make_state_fn(rs, list(rows.columns)), _State()
    outs = [
        out
        for _, batch in rows.groupby("turn_idx", sort=True)
        for out in fn(("c1",), iter([batch]), state)
    ]
    return _alert_turns(pd.concat(outs) if outs else rows.iloc[:0], rs)


def _turns(frame: pd.DataFrame, rs: RuleSet) -> list[int]:
    """Alerting turns, asserted equal across the oracle, the batch replay
    and the streaming state function (one test id per case, not one per
    implementation)."""
    got = {f.__name__: f(frame, rs) for f in (_oracle_turns, _batch_turns, _stream_turns)}
    assert len(set(map(tuple, got.values()))) == 1, got
    return got["_oracle_turns"]


def test_after_reset_window():
    rs = RuleSet(
        (
            _rule(
                contents=(ContentSpec("hit"),),
                after=AfterSpec(track="conv_id", count=2, seconds=100),
            ),
        )
    )
    # window anchored at first event; count>2 fires
    rows = [("hit", 0), ("hit", 10), ("hit", 20), ("hit", 30)]  # counts 1,2,3,4
    assert _turns(_frame(rows), rs) == [2, 3]
    # gap beyond window resets the counter (event at 150 > 0+100)
    rows = [("hit", 0), ("hit", 10), ("hit", 150), ("hit", 160), ("hit", 170)]
    # counts: 1,2 then reset→1,2,3 — only the last fires
    assert _turns(_frame(rows), rs) == [4]


def test_threshold_limit_and_every_nth():
    lim = RuleSet(
        (
            _rule(
                contents=(ContentSpec("x"),),
                threshold=ThresholdSpec(type="limit", track="conv_id", count=2, seconds=100),
            ),
        )
    )
    rows = [("x", 0), ("x", 10), ("x", 20), ("x", 130)]  # 1,2,3 then reset→1
    assert _turns(_frame(rows), lim) == [0, 1, 3]

    nth = RuleSet(
        (
            _rule(
                contents=(ContentSpec("x"),),
                threshold=ThresholdSpec(type="threshold", track="conv_id", count=2, seconds=1000),
            ),
        )
    )
    rows = [("x", 0), ("x", 1), ("x", 2), ("x", 3)]
    assert _turns(_frame(rows), nth) == [1, 3]  # every 2nd


# ---- flexbits (C3): expiry + same-turn ordering -----------------------------


FLEX_RS = RuleSet(
    (
        _rule(
            sid=2,
            contents=(ContentSpec("login failed"),),
            flexbits=(FlexbitSpec("set", "b", expire=100),),
            noalert=True,
        ),
        _rule(sid=3, contents=(ContentSpec("sudo"),), flexbits=(FlexbitSpec("isset", "b"),)),
    )
)


def test_flexbit_expiry():
    rows = [("login failed", 0), ("sudo", 50), ("sudo", 150)]
    assert _turns(_frame(rows), FLEX_RS) == [1]  # 150-0 > 100 expired


def test_flexbit_same_turn_does_not_see_own_set():
    rows = [("login failed sudo", 0), ("sudo", 10)]
    # turn 0: checker runs against pre-turn state (unset) → no fire;
    # turn 1: bit set at t=0, 10-0 <= 100 → fires
    assert _turns(_frame(rows), FLEX_RS) == [1]


def test_required_literal_soundness():
    """r7: native rlike predicates are guarded by a derived required
    literal (match._required_literal) — codegen skips the regex on rows
    that can't contain it. SOUNDNESS is the only requirement: whenever a
    string matches the pattern, it must contain the extracted literal
    (a false negative in the guard would silently drop alerts). Checked
    against Python re on handcrafted matching strings per pattern, plus
    the bail-out cases."""
    import re

    from sagan_spark.engine.match import _required_literal

    cases = [
        # (pattern, [strings that match the pattern])
        (r"the\s+\w+ine3\b", ["the  xine3 end", "prefix the\tmachine3"]),
        (r"error\s+\d+", ["error 42", "an error  7 happened"]),
        (r"abc+d", ["abcd", "abccccd tail"]),
        (r"colou?r", ["color", "colour"]),
        (r"x{2,3}yyy", ["xxyyy", "xxxyyyz"]),
        (r"^start.*end$", ["start middle end"]),
        (r"foo\.bar", ["a foo.bar b"]),
        (r"dead\s*beef", ["deadbeef", "dead  beef"]),
    ]
    for pat, matches in cases:
        lit = _required_literal(pat)
        assert lit is not None and len(lit) >= 3, pat
        rx = re.compile(pat)
        for s in matches:
            assert rx.search(s), (pat, s)  # fixture sanity
            assert lit in s, (pat, lit, s)  # the guard must never veto a match
    # constructs that can make any literal optional MUST bail
    for pat in (r"a|bcd", r"(foo)bar", r"[abc]def", r"abc\1", r"tail\Z",
                r"\p{L}xyz", r"ab", r"+bad"):
        assert _required_literal(pat) is None, pat


def test_flexbit_unset():
    rs = RuleSet(
        (
            _rule(sid=2, contents=(ContentSpec("set it"),), flexbits=(FlexbitSpec("set", "b"),), noalert=True),
            _rule(sid=4, contents=(ContentSpec("clear it"),), flexbits=(FlexbitSpec("unset", "b"),), noalert=True),
            _rule(sid=3, contents=(ContentSpec("sudo"),), flexbits=(FlexbitSpec("isset", "b"),)),
        )
    )
    rows = [("set it", 0), ("sudo", 10), ("clear it", 20), ("sudo", 30)]
    assert _turns(_frame(rows), rs) == [1]
