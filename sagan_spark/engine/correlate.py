"""Correlation stage — Sagan's after/threshold/flexbit state, Spark-first.

Reference keeps mmap'ed counter/bit tables shared across threads
([PUB src/after.c, src/threshold.c, src/flexbit-mmap.c]; SURVEY §2.4).
Batch equivalent: state is a pure function of each conversation's
(turn_idx)-ordered matched events, so ONE shuffle reconstructs it exactly.

Physical shape (chosen over groupBy().applyInPandas after profiling —
per-conversation pandas groups average ~10 rows, and per-group Arrow/
pandas overhead made replay 10× slower than the match stage):

    stateful alerts → repartition(conv_id) → sortWithinPartitions
      (conv_id, turn_idx, sid) → mapInPandas over whole partitions

Each task streams its partition once through a single numpy replay loop;
conversation boundaries are detected by conv_id change, so state never
crosses them. Hash-partitioning guarantees a conversation lands in exactly
one partition. Partition memory is bounded by
(stateful-alert rows / shuffle partitions) — tune shuffle partitions at
scale; only rows matching *stateful* sids (typically ≪1% at 100 TB) take
this shuffle, stateless alerts bypass it entirely.

Semantics (defined in rules/model.py, re-implemented independently in the
pandas oracle):
- counters (after/threshold): reset-window anchored at the first event of
  the current window — NOT sliding.
- flexbits: within a turn, checks see the state before that turn's
  set/unset actions; counter updates and set/unset happen only when the
  rule's detection (incl. bit checks) passed; after/threshold gate only
  *emission*, not state actions.
- track="role"/"tool" rules (by_username / by_dst analogues) take a
  separate track-column-keyed replay branch (see run_correlate).
"""

from __future__ import annotations

import os
from collections.abc import Callable, Iterable, Iterator
from functools import partial

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..rules.model import Rule, RuleSet


def counter_emit(rule: Rule, counters: dict, key, t: float) -> bool:
    """Shared reset-window counter update + emission decision for
    after/threshold — the ONE implementation used by every engine replay
    site (batch conv/role, streaming conv/role). The pandas oracle keeps
    its own independent copy on purpose (differential tests stay
    meaningful). Mutates ``counters[key]``."""
    spec = rule.after or rule.threshold
    ws, cnt = counters.get(key, (None, 0))
    if ws is None or t > ws + spec.seconds:
        ws, cnt = t, 1
    else:
        cnt += 1
    counters[key] = (ws, cnt)
    if rule.after is not None:
        return cnt > rule.after.count
    if spec.type in ("limit", "suppress"):
        return cnt <= spec.count
    if spec.type == "threshold":
        return cnt % spec.count == 0
    if spec.type == "both":
        return cnt == spec.count
    raise ValueError(spec.type)


class _ReplayCarry:
    """One conversation-ordered replay's state, carried ACROSS bounded
    replay chunks of one sorted partition (the implementation behind
    SURVEY §4.2's "chunk replay if > 1e6" spill mitigation) and across
    micro-batches by the streaming conv state function, which seeds it
    from its state blob. Chunk boundaries fall on (conv_id, turn_idx)-run
    boundaries, so a conversation's counters/bits flow through unbroken
    and the non-contiguity guard still sees every conv transition."""

    __slots__ = ("counters", "bits", "cur_conv", "seen_convs")

    def __init__(self) -> None:
        # per current conv: str(sid) (or f"{sid}|{tool!r}" for
        # track="conv_tool") -> (window_start, count). String keys are the
        # streaming state blob's JSON form, so a blob round-trips as is.
        self.counters: dict[str, tuple[float, int]] = {}
        self.bits: dict[str, tuple[float, float | None]] = {}  # bit -> (set_ts, expire)
        self.cur_conv: str | None = None
        self.seen_convs: set = set()


def _run_starts(conv: np.ndarray, turn: np.ndarray) -> np.ndarray:
    """Positions (> 0) where a new (conv_id, turn_idx) run starts in
    sorted key arrays."""
    return np.flatnonzero((conv[1:] != conv[:-1]) | (turn[1:] != turn[:-1])) + 1


def _replay_sorted(rules_by_sid: dict[int, Rule], pdf: pd.DataFrame) -> pd.DataFrame:
    """Replay one hash-partition of alerts, pre-sorted by
    (conv_id, turn_idx, sid). Rows of non-stateful sids pass through
    (emitted unconditionally); stateful rows replay in order. Returns the
    rows that *emit*."""
    return _replay_sorted_carry(rules_by_sid, pdf, _ReplayCarry())


def _replay_sorted_carry(
    rules_by_sid: dict[int, Rule], pdf: pd.DataFrame, carry: _ReplayCarry
) -> pd.DataFrame:
    """The engine's ONE per-conversation replay kernel: one chunk of
    `_replay_sorted` (batch) or one conversation's micro-batch (streaming,
    ``streaming.pipeline._make_state_fn``), reading and mutating
    ``carry``. Per (conv_id, turn_idx) run it checks isset/isnotset
    against the pre-turn bits, updates counters through `counter_emit`
    and applies the run's staged set/unset actions after it. The chunk
    must start and end on run boundaries (a half-seen run would evaluate
    bit checks before the run's remaining set actions are known)."""
    conv = pdf["conv_id"].to_numpy()
    turn = pdf["turn_idx"].to_numpy()
    sid = pdf["sid"].to_numpy()
    tool = pdf["tool"].to_numpy()
    ts = pdf["ts"].to_numpy().astype("datetime64[us]").astype("int64") / 1_000_000.0
    stateful = np.isin(sid, np.fromiter(rules_by_sid.keys(), dtype=np.int64))
    fires = ~stateful  # stateless alerts pass through; stateful must earn it
    idxs = np.flatnonzero(stateful)
    c = conv[idxs]
    # (conv, turn)-run starts among the stateful rows
    starts = np.r_[0, _run_starts(c, turn[idxs])] if len(idxs) else idxs

    counters = carry.counters
    bits = carry.bits
    # Correctness guard: state resets on conv CHANGE, so each conv's rows
    # must be one contiguous sorted run. A revisited conv means the
    # partition was NOT (conv_id, turn_idx)-sorted — seen in the wild when
    # Spark's auto-bucketed-scan fallback elided the conv_id exchange but
    # read plain file splits (session.py conf note) — and silently
    # fragmenting per-conv state is the one failure mode worse than
    # crashing. (A conv split ACROSS partitions with each fragment
    # contiguous is not detectable here; the session conf closes the
    # known cause.)
    seen_convs = carry.seen_convs

    for i, j in zip(starts, [*starts[1:], len(idxs)]):
        if c[i] != carry.cur_conv:
            if carry.cur_conv is not None:
                seen_convs.add(carry.cur_conv)
            if c[i] in seen_convs:
                raise RuntimeError(
                    f"replay partition is not conv-contiguous: conversation "
                    f"{c[i]!r} reappears after other conversations. "
                    "The input partition lost its (conv_id, turn_idx) sort — "
                    "if reading a bucketed table, keep "
                    "spark.sql.sources.bucketing.autoBucketedScan.enabled="
                    "false (engine default, see session.py)."
                )
            counters.clear()
            bits.clear()
            carry.cur_conv = c[i]
        # one (conv, turn) run — checks see pre-turn state, sets apply after
        pending_sets: list[tuple[str, str, float, float | None]] = []
        for k in idxs[i:j]:
            rule = rules_by_sid[int(sid[k])]
            t = ts[k]
            detected = True
            for fb in rule.flexbits:
                if fb.action in ("isset", "isnotset"):
                    cur = bits.get(fb.name)
                    is_set = cur is not None and (cur[1] is None or (t - cur[0]) <= cur[1])
                    if (fb.action == "isset") != is_set:
                        detected = False
            if not detected:
                continue
            emit = True
            if (rule.after or rule.threshold) is not None:
                # by_both (track="conv_tool"): the counter key is the
                # (sid, tool) pair WITHIN the conversation — the (src, dst)
                # composite of [PUB src/after.c]'s by_both, transposed;
                # repr() keeps a None tool distinct from the string 'None'
                key = f"{rule.sid}|{tool[k]!r}" if rule.track == "conv_tool" else str(rule.sid)
                emit = counter_emit(rule, counters, key, t)
            for fb in rule.flexbits:
                if fb.action in ("set", "unset"):
                    pending_sets.append(
                        (fb.action, fb.name, t, float(fb.expire) if fb.expire is not None else None)
                    )
            fires[k] = emit
        for action, name, t, exp in pending_sets:
            if action == "set":
                bits[name] = (t, exp)
            else:
                bits.pop(name, None)
    return pdf.loc[fires]


class _TrackCarry:
    """Chunk-carried state for `_replay_tracked_sorted` (see
    ``_ReplayCarry``). Track replay is strictly row-at-a-time (no
    flexbits on non-conv tracks, enforced at RuleSet construction), so
    chunks may split ANYWHERE in the sorted partition."""

    __slots__ = ("counters", "cur_key", "seen_keys")

    def __init__(self) -> None:
        self.counters: dict[int, tuple[float, int]] = {}  # per current key: sid -> (ws, cnt)
        self.cur_key: object = _UNSET
        self.seen_keys: set = set()


def _replay_tracked_sorted(
    rules_by_sid: dict[int, Rule], pdf: pd.DataFrame, key_col: str
) -> pd.DataFrame:
    """Replay one hash(key_col)-partition pre-sorted by (key_col, ts,
    conv_id, turn_idx, sid) — the non-conv track variant of
    ``_replay_sorted`` serving track="role" (Sagan `by_username`) and
    track="tool" (`by_dst` — the destination analogue in this payload
    transposition). Counters are GLOBAL per (track value, sid) across
    conversations, in event-time order ([PUB src/after.c] keys its mmap
    table by username/dst the same way). Non-conv-tracked rules cannot
    carry flexbits (enforced at RuleSet construction), so no per-turn
    set/check staging is needed. Rows of other sids pass through."""
    return _replay_tracked_carry(rules_by_sid, pdf, key_col, _TrackCarry())


def _replay_tracked_carry(
    rules_by_sid: dict[int, Rule], pdf: pd.DataFrame, key_col: str, carry: _TrackCarry
) -> pd.DataFrame:
    sid = pdf["sid"].to_numpy()
    key = pdf[key_col].to_numpy()
    ts = pdf["ts"].to_numpy().astype("datetime64[us]").astype("int64") / 1_000_000.0
    tracked = np.isin(sid, np.fromiter(rules_by_sid.keys(), dtype=np.int64))
    fires = ~tracked
    counters = carry.counters
    seen_keys = carry.seen_keys  # same non-contiguity guard as _replay_sorted
    for k in np.flatnonzero(tracked):
        if key[k] != carry.cur_key:
            if carry.cur_key is not _UNSET:
                seen_keys.add(carry.cur_key)
            if key[k] in seen_keys:
                raise RuntimeError(
                    f"track replay partition is not key-contiguous: "
                    f"{key_col}={key[k]!r} reappears after other keys — "
                    "the partition lost its sort (see _replay_sorted guard)."
                )
            counters.clear()
            carry.cur_key = key[k]
        rule = rules_by_sid[int(sid[k])]
        fires[k] = counter_emit(rule, counters, rule.sid, ts[k])
    return pdf.loc[fires]


_UNSET = object()


def _last_run_boundary(pdf: pd.DataFrame) -> int:
    """Row position of the last (conv_id, turn_idx)-run start in a sorted
    frame; 0 when the whole frame is one run."""
    starts = _run_starts(pdf["conv_id"].to_numpy(), pdf["turn_idx"].to_numpy())
    return int(starts[-1]) if len(starts) else 0


def _chunked_replay(
    chunk_rows: int,
    make_replay: Callable[[], Callable[[pd.DataFrame], pd.DataFrame]],
    last_boundary: Callable[[pd.DataFrame], int],
) -> Callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]]:
    """The mapInPandas function of one replay branch. Spill guard
    (SURVEY §4.2): a partition is normally replayed as one frame (bounded
    by rows-per-shuffle-partition), but a pathological hot conversation
    can make one partition's alert slice arbitrarily large — the measured
    straggler turns stage-dominant around ~3×10⁵ matched turns in one
    conv (BENCH/TUNING.md skew rows). Once ``chunk_rows`` rows are
    buffered, the frame up to ``last_boundary(frame)`` is replayed and the
    rest stays buffered; ``make_replay()`` gives each partition one replay
    callable whose carried state flows across its chunks — memory bounded
    by ~chunk_rows + one unsplittable run, identical output (tests force a
    tiny chunk size)."""

    def replay_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        replay = make_replay()
        buf: list[pd.DataFrame] = []
        nbuf = 0
        for b in batches:
            if not len(b):
                continue
            buf.append(b)
            nbuf += len(b)
            if nbuf < chunk_rows:
                continue
            pdf = buf[0] if len(buf) == 1 else pd.concat(buf, ignore_index=True)
            split = last_boundary(pdf)
            if split == 0:
                buf = [pdf]  # one giant run (sids × one turn) — keep buffering
                continue
            out = replay(pdf.iloc[:split])
            if len(out):
                yield out
            nbuf = len(pdf) - split
            buf = [pdf.iloc[split:]] if nbuf else []
        if nbuf:
            out = replay(buf[0] if len(buf) == 1 else pd.concat(buf, ignore_index=True))
            if len(out):
                yield out

    return replay_partition


def run_correlate(alerts: DataFrame, ruleset: RuleSet, scope: str = "linear") -> DataFrame:
    """Apply stateful correlation.

    Conv-keyed rules: strictly ONE consumer of the match subtree — every
    alert row takes the conv_id shuffle and flows through the sorted
    replay (stateless sids pass through inside `_replay_sorted`). Costs
    an Arrow round-trip for pass-through alerts, but every cost here
    (shuffle write/read, sort, Arrow, replay) is per-task parallel — no
    persist, no double-compute. Branching alternatives don't scale:
    exchange reuse can NEVER deduplicate a dual-consumer plan whose
    subtree contains a Python stage (MapInPandas does not canonicalize
    equal across branches — verified empirically: a pushdown-barriered
    identical exchange still executed twice), and a persist
    materialization contends on the block manager/disk instead of
    scaling with cores. ``scope`` names this plan; "linear" is the only
    value.

    Non-conv tracked rules (Sagan `by_username` → role, `by_dst` → tool)
    take a SEPARATE branch per track column: their rows repartition by the
    track column and replay in (ts, conv_id, turn_idx) order with counters
    global per (track value, sid). ``repartition(col)`` hash-partitions
    keys into spark.sql.shuffle.partitions tasks, so effective parallelism
    is min(cardinality, shuffle partitions): a 4-value role track caps at
    4 busy tasks (inherent to global-per-key semantics, not a plan
    defect); a username-cardinality track fills every partition —
    exercised at 10^4 keys in tests/test_track_cardinality.py. These branches
    make the plan dual-consumer, so callers should persist the upstream
    (pipeline.build_alerts does this automatically).
    """
    if scope != "linear":
        raise ValueError(f"unknown correlate scope {scope!r} (only 'linear')")
    tracked: dict[str, dict[int, Rule]] = {}
    conv_rules: dict[int, Rule] = {}
    for r in ruleset.rules:
        if not r.stateful:
            continue
        if r.track in ("role", "tool"):
            tracked.setdefault(r.track, {})[r.sid] = r
        else:
            conv_rules[r.sid] = r
    if not tracked and not conv_rules:
        return alerts
    schema = alerts.schema
    chunk_rows = int(os.environ.get("SAGAN_REPLAY_CHUNK_ROWS", str(1 << 21)))

    handled = [sid for rules in tracked.values() for sid in rules]
    out = alerts.filter(~alerts.sid.isin(handled)) if handled else alerts
    if conv_rules:
        # conv chunks may split only at (conv_id, turn_idx)-run boundaries
        out = (
            out.repartition("conv_id")
            .sortWithinPartitions("conv_id", "turn_idx", "sid")
            .mapInPandas(
                _chunked_replay(
                    chunk_rows,
                    lambda: partial(_replay_sorted_carry, conv_rules, carry=_ReplayCarry()),
                    _last_run_boundary,
                ),
                schema=schema,
            )
        )
    for col, rules in sorted(tracked.items()):
        # track replay is row-at-a-time: a chunk may split anywhere
        out = out.unionByName(
            alerts.filter(alerts.sid.isin(list(rules)))
            .repartition(col)
            .sortWithinPartitions(col, "ts", "conv_id", "turn_idx", "sid")
            .mapInPandas(
                _chunked_replay(
                    chunk_rows,
                    lambda rules=rules, col=col: partial(
                        _replay_tracked_carry, rules, key_col=col, carry=_TrackCarry()
                    ),
                    len,
                ),
                schema=schema,
            )
        )
    return out


def sliding_after_counts(df: DataFrame, track_cols: Iterable[str], ts_col: str, seconds: int):
    """Sliding-window event count per track key over the trailing ``seconds``
    — the window-function variant for track="role" style rules and for the
    SQL-checkable queries() entries. NOTE: sliding, not Sagan reset-window."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w = (
        Window.partitionBy(*track_cols)
        .orderBy(F.unix_timestamp(ts_col))
        .rangeBetween(-seconds, 0)
    )
    return F.count(F.lit(1)).over(w)
