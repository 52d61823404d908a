"""Conversation-level transcript analytics (transcripts/analytics.py).

Unit values are hand-computed on tiny frames.
"""

from __future__ import annotations

import contextlib
import io
import re

import pytest
from pyspark.sql import functions as F

from nebula_importer_spark.transcripts.analytics import (
    conv_stats,
    response_latency,
    template_dedup,
    tool_chains,
)


@pytest.fixture(scope="module")
def tr(spark):
    rows = [
        # conv a: user(0) → assistant(10) → tool → assistant, 40s span
        ("a", 0, "user", None, "hello world 42", 100),
        ("a", 1, "assistant", None, "hi there", 110),
        ("a", 2, "tool", "search", "q=5", 120),
        ("a", 3, "assistant", None, "answer", 140),
        # conv b: user → user (no adjacent user→assistant pair)
        ("b", 0, "user", None, "one", 200),
        ("b", 1, "user", None, "two", 260),
        # conv c: same template as a modulo digits/spacing
        ("c", 0, "user", None, "HELLO   world 7", 300),
        ("c", 1, "assistant", None, "hi  THERE", 305),
        ("c", 2, "tool", "wiki", "q=9", 310),
        ("c", 3, "assistant", None, "answer", 350),
    ]
    return spark.createDataFrame(
        [(c, i, r, t, x, ts) for c, i, r, t, x, ts in rows],
        "conv_id string, turn_idx int, role string, tool string, text string, _sec long",
    ).select(
        "conv_id", "turn_idx", "role", "tool", "text",
        F.timestamp_seconds("_sec").alias("ts"),
    )


def test_conv_stats_values(tr):
    got = {r["conv_id"]: r.asDict() for r in conv_stats(tr).collect()}
    a = got["a"]
    assert a["n_turns"] == 4 and a["n_user"] == 1 and a["n_assistant"] == 2
    assert a["n_tool_calls"] == 1 and a["n_distinct_tools"] == 1
    assert a["total_chars"] == len("hello world 42") + len("hi there") + len("q=5") + len("answer")
    assert a["first_role"] == "user" and a["last_role"] == "assistant"
    assert a["duration_sec"] == 40
    b = got["b"]
    assert b["n_turns"] == 2 and b["n_tool_calls"] == 0 and b["n_distinct_tools"] == 0
    assert b["duration_sec"] == 60


def test_tool_chains_order_and_count(spark):
    rows = [
        ("a", 2, "t2"), ("a", 0, "t1"),  # out-of-order input → t1>t2
        ("b", 0, "t1"), ("b", 1, "t2"),
        ("c", 5, "t9"),
    ]
    df = spark.createDataFrame(
        [(c, i, "tool", t, "x", 0) for c, i, t in rows],
        "conv_id string, turn_idx int, role string, tool string, text string, _sec long",
    ).select("conv_id", "turn_idx", "role", "tool", "text", F.timestamp_seconds("_sec").alias("ts"))
    got = {r["chain"]: r["n_convs"] for r in tool_chains(df).collect()}
    assert got == {"t1>t2": 2, "t9": 1}


def test_tool_chains_max_chain_truncates(spark):
    rows = [("a", i, f"t{i}") for i in range(5)]
    df = spark.createDataFrame(
        [(c, i, "tool", t, "x", 0) for c, i, t in rows],
        "conv_id string, turn_idx int, role string, tool string, text string, _sec long",
    ).select("conv_id", "turn_idx", "role", "tool", "text", F.timestamp_seconds("_sec").alias("ts"))
    got = [r["chain"] for r in tool_chains(df, max_chain=3).collect()]
    assert got == ["t0>t1>t2"]  # deterministic turn-ordered prefix


def test_response_latency_adjacent_pairs_only(tr):
    got = {r["conv_id"]: r.asDict() for r in response_latency(tr).collect()}
    # conv a: (0→1) is user→assistant (10s); (2→3) is tool→assistant (not counted)
    assert got["a"]["n_responses"] == 1
    assert got["a"]["total_latency_sec"] == 10 and got["a"]["max_latency_sec"] == 10
    # conv c: (0→1) user→assistant (5s)
    assert got["c"]["total_latency_sec"] == 5
    # conv b has no user→assistant adjacency at all
    assert "b" not in got


def test_template_dedup_digit_and_space_insensitive(tr):
    got = {r["conv_id"]: r["canon_conv_id"] for r in template_dedup(tr).collect()}
    # a and c normalize to the same 4-turn template → canon 'a'; b alone
    assert got == {"a": "a", "c": "a", "b": "b"}


def test_template_dedup_order_sensitive(spark):
    rows = [
        ("x", 0, "p"), ("x", 1, "q"),
        ("y", 0, "q"), ("y", 1, "p"),  # same turns, different order → distinct
    ]
    df = spark.createDataFrame(
        [(c, i, "user", None, t, 0) for c, i, t in rows],
        "conv_id string, turn_idx int, role string, tool string, text string, _sec long",
    ).select("conv_id", "turn_idx", "role", "tool", "text", F.timestamp_seconds("_sec").alias("ts"))
    got = {r["conv_id"]: r["canon_conv_id"] for r in template_dedup(df).collect()}
    assert got == {"x": "x", "y": "y"}


def _exchange_blocks(df) -> list[str]:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    blocks, cur, inside = [], [], False
    for line in plan.splitlines():
        if re.match(r"\(\d+\) Exchange", line):
            inside = True
        if inside:
            if line.strip() == "":
                inside = False
                blocks.append("\n".join(cur))
                cur = []
            else:
                cur.append(line)
    if cur:
        blocks.append("\n".join(cur))
    return blocks


def test_template_dedup_text_never_shuffles(tr):
    """The whole point of the per-turn map-side hash: no Exchange in the
    template_dedup plan may carry the text column."""
    blocks = _exchange_blocks(template_dedup(tr))
    assert blocks, "expected at least one Exchange"
    for b in blocks:
        assert "text" not in b


def test_conv_stats_text_never_shuffles(tr):
    blocks = _exchange_blocks(conv_stats(tr))
    assert blocks
    for b in blocks:
        assert "text" not in b


def test_sft_pairs_context_and_pairing(spark):
    from nebula_importer_spark.transcripts.analytics import sft_pairs

    rows = [
        ("a", 0, "user", "q1"),
        ("a", 1, "assistant", "a1"),
        ("a", 2, "user", "q2"),
        ("a", 3, "assistant", "a2"),
        ("b", 0, "assistant", "hi"),  # assistant-first: no pair
    ]
    df = spark.createDataFrame(
        [(c, i, r, t, None, 0) for c, i, r, t in rows],
        "conv_id string, turn_idx int, role string, text string, tool string, _sec long",
    ).select("conv_id", "turn_idx", "role", "tool", "text", F.timestamp_seconds("_sec").alias("ts"))
    got = {r["turn_idx"]: r.asDict() for r in sft_pairs(df, max_context_turns=2).collect()}
    assert set(got) == {0, 2}
    assert got[0]["context"] == "" and got[0]["prompt"] == "q1" and got[0]["response"] == "a1"
    # context for turn 2 = the 2 preceding turns in order
    assert got[2]["context"] == "user: q1\nassistant: a1"
    assert got[2]["prompt"] == "q2" and got[2]["response"] == "a2"


def test_sft_pairs_context_window_bounded(spark):
    from nebula_importer_spark.transcripts.analytics import sft_pairs

    rows = [("a", i, "user" if i % 2 == 0 else "assistant", f"t{i}") for i in range(6)]
    df = spark.createDataFrame(
        [(c, i, r, None, t, 0) for c, i, r, t in rows],
        "conv_id string, turn_idx int, role string, tool string, text string, _sec long",
    ).select("conv_id", "turn_idx", "role", "tool", "text", F.timestamp_seconds("_sec").alias("ts"))
    got = {r["turn_idx"]: r["context"] for r in sft_pairs(df, max_context_turns=1).collect()}
    assert got[4] == "assistant: t3"  # only ONE preceding turn


def test_conv_qa_flags_each_defect(spark):
    from nebula_importer_spark.transcripts.analytics import conv_qa_flags

    rows = [
        # clean: user→assistant, contiguous, increasing ts
        ("ok", 0, "user", "hi", 100),
        ("ok", 1, "assistant", "yo", 110),
        # empty turn text
        ("emp", 0, "user", "hi", 100),
        ("emp", 1, "assistant", "   ", 110),
        # role repeat
        ("rep", 0, "user", "a", 100),
        ("rep", 1, "user", "b", 110),
        # turn gap (no idx 1)
        ("gap", 0, "user", "a", 100),
        ("gap", 2, "assistant", "b", 110),
        # ts regression
        ("reg", 0, "user", "a", 100),
        ("reg", 1, "assistant", "b", 90),
        # assistant-first (not a defect, but starts_with_user = 0)
        ("af", 0, "assistant", "a", 100),
        ("af", 1, "user", "b", 110),
    ]
    df = spark.createDataFrame(
        [(c, i, r, None, t, s) for c, i, r, t, s in rows],
        "conv_id string, turn_idx int, role string, tool string, text string, _sec long",
    ).select("conv_id", "turn_idx", "role", "tool", "text", F.timestamp_seconds("_sec").alias("ts"))
    got = {r["conv_id"]: r.asDict() for r in conv_qa_flags(df).collect()}
    assert got["ok"]["n_defects"] == 0 and got["ok"]["starts_with_user"] == 1
    assert got["emp"]["has_empty_turn"] == 1 and got["emp"]["n_defects"] == 1
    assert got["rep"]["has_role_repeat"] == 1 and got["rep"]["n_defects"] == 1
    assert got["gap"]["has_turn_gap"] == 1 and got["gap"]["n_defects"] == 1
    assert got["reg"]["has_ts_regression"] == 1 and got["reg"]["n_defects"] == 1
    assert got["af"]["starts_with_user"] == 0 and got["af"]["n_defects"] == 0


# ---------------------------------------------------------------------------
# context_suffix (chat-context truncation)
# ---------------------------------------------------------------------------


def _ctx(spark, rows, budget):
    from nebula_importer_spark.transcripts.analytics import context_suffix

    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")
    return {
        r.conv_id: (r.n_turns_kept, r.first_kept_turn, r.last_turn, r.tokens_kept)
        for r in context_suffix(df, budget).collect()
    }


def test_context_suffix_keeps_longest_fitting_suffix(spark):
    rows = [
        ("c", 0, "a b c d"),   # 4 tokens
        ("c", 1, "e f g"),     # 3
        ("c", 2, "h i"),       # 2
    ]
    # budget 5: turns 2 (2) + 1 (3) = 5 fits; adding turn 0 overflows
    assert _ctx(spark, rows, 5) == {"c": (2, 1, 2, 5)}
    # budget 9: everything fits
    assert _ctx(spark, rows, 9) == {"c": (3, 0, 2, 9)}
    # budget 1: even the last turn alone (2 tokens) overflows -> absent
    assert _ctx(spark, rows, 1) == {}


def test_context_suffix_is_suffix_not_knapsack(spark):
    # a small OLD turn must not be kept once a larger recent turn broke
    # the budget: suffix semantics, not best-fit selection
    rows = [("c", 0, "x"), ("c", 1, "a b c d e"), ("c", 2, "y z")]
    # budget 3: turn 2 fits (2), turn 1 overflows (7) -> turn 0 excluded
    # even though 2+1 <= 3
    assert _ctx(spark, rows, 3) == {"c": (1, 2, 2, 2)}


def test_context_suffix_validation_and_nulls(spark):
    import pytest

    from nebula_importer_spark.transcripts.analytics import context_suffix

    df = spark.createDataFrame(
        [("c", 0, None), ("c", 1, "a b")],
        "conv_id string, turn_idx int, text string",
    )
    with pytest.raises(ValueError):
        context_suffix(df, 0)
    # NULL text counts 0 tokens and is kept inside the suffix
    got = {
        r.conv_id: (r.n_turns_kept, r.tokens_kept)
        for r in context_suffix(df, 2).collect()
    }
    assert got == {"c": (2, 2)}


def test_activity_streaks_hand_computed(spark):
    import datetime

    from nebula_importer_spark.operators.behavior import activity_streaks

    def ts(d, h=0):
        return datetime.datetime(2024, 1, d, h)

    rows = [
        # u1: days 1,2,3 (streak 3, two events same day), gap, 5,6
        (1, ts(1)), (1, ts(1, 5)), (1, ts(2)), (1, ts(3)), (1, ts(5)),
        (1, ts(6)),
        # u2: single day
        (2, ts(10)),
        # u3: two equal-length streaks -> tie breaks to the LATER end
        (3, ts(1)), (3, ts(2)), (3, ts(8)), (3, ts(9)),
        # nulls ignored
        (None, ts(1)), (4, None),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    got = {r.user_id: (r.n_active_days, r.n_streaks, r.longest_streak,
                       r.current_streak_end)
           for r in activity_streaks(df).collect()}
    assert got[1] == (5, 2, 3, "2024-01-03")
    assert got[2] == (1, 1, 1, "2024-01-10")
    assert got[3] == (4, 2, 2, "2024-01-09")
    assert set(got) == {1, 2, 3}


def test_activity_streaks_validation(spark):
    import pytest

    from nebula_importer_spark.operators.behavior import activity_streaks

    df = spark.createDataFrame([(1,)], "user_id long")
    with pytest.raises(ValueError, match="not in input"):
        activity_streaks(df)


def test_event_paths_hand_computed(spark):
    import datetime

    from nebula_importer_spark.operators.behavior import event_paths

    t0 = datetime.datetime(2024, 1, 1)

    def ts(m):
        return t0 + datetime.timedelta(minutes=m)

    rows = [
        # u1: view>click>buy, click>buy>view  (same-ts burst: id breaks)
        (1, ts(0), 10, "view"), (1, ts(1), 11, "click"),
        (1, ts(1), 12, "buy"), (1, ts(2), 13, "view"),
        # u2: view>click>buy again
        (2, ts(0), 20, "view"), (2, ts(1), 21, "click"),
        (2, ts(2), 22, "buy"),
        # u3: too short for a trigram
        (3, ts(0), 30, "view"), (3, ts(1), 31, "click"),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, event_type string"
    )
    got = {r.path: (r.n_occurrences, r.n_users)
           for r in event_paths(df, n=3, min_count=1).collect()}
    assert got["view>click>buy"] == (2, 2)
    assert got["click>buy>view"] == (1, 1)
    assert len(got) == 2
    # min_count filter
    got2 = {r.path for r in event_paths(df, n=3, min_count=2).collect()}
    assert got2 == {"view>click>buy"}


def test_event_paths_validation(spark):
    import pytest

    from nebula_importer_spark.operators.behavior import event_paths

    df = spark.createDataFrame(
        [(1, None, 1, "x")],
        "user_id long, ts timestamp, event_id long, event_type string",
    )
    assert event_paths(df, min_count=1).count() == 0  # null ts filtered
    with pytest.raises(ValueError, match="n must"):
        event_paths(df, n=1)
    with pytest.raises(ValueError, match="min_count"):
        event_paths(df, min_count=0)


def test_conv_diversity_closed_cases(spark):
    from nebula_importer_spark.transcripts.analytics import conv_diversity

    rows = [
        # c1: 2 user + 2 assistant -> gini = 1 - 2*(1/2)^2 = 0.5
        ("c1", 0, "user", None),
        ("c1", 1, "assistant", "t1"),
        ("c1", 2, "user", None),
        ("c1", 3, "assistant", "t1"),
        # c2: monologue -> gini 0, dominant share 1e6, no tools
        ("c2", 0, "user", None),
        ("c2", 1, "user", None),
        # c3: tie between roles -> dominant = min role name
        ("c3", 0, "user", "a"),
        ("c3", 1, "assistant", "b"),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, tool string"
    )
    got = {r.conv_id: r.asDict() for r in conv_diversity(df).collect()}
    c1 = got["c1"]
    assert (c1["n_turns"], c1["n_roles"]) == (4, 2)
    assert c1["role_gini_ppm"] == 500000
    assert c1["dominant_share_ppm"] == 500000
    assert c1["n_tool_calls"] == 2 and c1["n_tools"] == 1
    assert c1["tool_gini_ppm"] == 0  # single tool -> no diversity
    c2 = got["c2"]
    assert c2["role_gini_ppm"] == 0
    assert c2["dominant_share_ppm"] == 1_000_000
    assert c2["n_tool_calls"] == 0 and c2["tool_gini_ppm"] is None
    c3 = got["c3"]
    assert c3["dominant_role"] == "assistant"  # tie -> min role
    assert c3["tool_gini_ppm"] == 500000  # two distinct tools


def test_conv_diversity_random_parity(spark):
    import random
    from collections import Counter, defaultdict

    from nebula_importer_spark.transcripts.analytics import conv_diversity

    rng = random.Random(321)
    rows = []
    for _ in range(400):
        c = f"c{rng.randrange(8)}"
        role = rng.choice(["user", "assistant", "tool", "system"])
        tool = (
            f"t{rng.randrange(3)}" if rng.random() < 0.3 else None
        )
        rows.append((c, 0, role, tool))
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, tool string"
    ).repartition(5)
    got = {r.conv_id: r.asDict() for r in conv_diversity(df).collect()}
    by_conv = defaultdict(list)
    for c, _, role, tool in rows:
        by_conv[c].append((role, tool))
    for c, evs in by_conv.items():
        rcnt = Counter(r for r, _ in evs)
        n = len(evs)
        g = got[c]
        assert g["n_turns"] == n and g["n_roles"] == len(rcnt)
        ss = sum(v * v for v in rcnt.values())
        assert g["role_gini_ppm"] == (n * n - ss) * 10**6 // (n * n)
        mx = max(rcnt.values())
        assert g["dominant_role"] == min(
            r for r, v in rcnt.items() if v == mx
        )
        assert g["dominant_share_ppm"] == mx * 10**6 // n
        tcnt = Counter(t for _, t in evs if t is not None)
        tn = sum(tcnt.values())
        assert g["n_tool_calls"] == tn and g["n_tools"] == len(tcnt)
        if tn:
            tss = sum(v * v for v in tcnt.values())
            assert g["tool_gini_ppm"] == (tn * tn - tss) * 10**6 // (
                tn * tn
            )
        else:
            assert g["tool_gini_ppm"] is None


def test_conv_diversity_validation(spark):
    from nebula_importer_spark.transcripts.analytics import conv_diversity

    df = spark.createDataFrame(
        [("c", 0, "user", None)],
        "conv_id string, turn_idx int, role string, tool string",
    )
    with pytest.raises(ValueError, match="not in input"):
        conv_diversity(df, role_col="zzz")
    with pytest.raises(ValueError, match="scale"):
        conv_diversity(df, scale=0)
