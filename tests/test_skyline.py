"""Skyline / Pareto frontier (operators/skyline.py): hand-built frontiers,
window-vs-join strategy equivalence (including randomized), tie and
duplicate semantics, and the no-self-join plan shape of the window
strategy. The two strategies are called directly; the dominance join is
the window strategy's reference."""

from __future__ import annotations

import random

import pytest

from zio_analytics_spark.operators.skyline import (
    _frontier_join,
    _frontier_window,
    pareto_frontier,
)

STRATEGIES = {"window": _frontier_window, "join": _frontier_join}


def _rows(spark, rows):
    return spark.createDataFrame(rows, "id int, blk string, price double, size int")


def _frontier_ids(df):
    return sorted(r["id"] for r in df.collect())


def _naive_frontier(rows):
    out = []
    for a in rows:
        dominated = any(
            b[1] == a[1]
            and b[2] <= a[2]
            and b[3] >= a[3]
            and (b[2] < a[2] or b[3] > a[3])
            for b in rows
        )
        if not dominated:
            out.append(a[0])
    return sorted(out)


def test_hand_built_frontier_both_engines(spark):
    rows = [
        (1, "x", 10.0, 5),  # frontier (cheapest)
        (2, "x", 20.0, 9),  # frontier (bigger than all cheaper)
        (3, "x", 20.0, 7),  # dominated by 2 (same price, smaller)
        (4, "x", 30.0, 9),  # dominated by 2 (same size, dearer)
        (5, "x", 40.0, 12),  # frontier
        (6, "y", 99.0, 1),  # alone in its block → frontier
    ]
    df = _rows(spark, rows)
    for name, frontier in STRATEGIES.items():
        got = _frontier_ids(frontier(df, ["price"], ["size"], ["blk"]))
        assert got == [1, 2, 5, 6], name


def test_exact_duplicates_both_survive(spark):
    rows = [(1, "x", 10.0, 5), (2, "x", 10.0, 5), (3, "x", 9.0, 6)]
    df = _rows(spark, rows)
    for name, frontier in STRATEGIES.items():
        got = _frontier_ids(frontier(df, ["price"], ["size"], ["blk"]))
        # 3 dominates both duplicates; duplicates of a frontier point co-own it
        assert got == [3], name
    rows2 = [(1, "x", 10.0, 5), (2, "x", 10.0, 5)]
    for name, frontier in STRATEGIES.items():
        got = _frontier_ids(frontier(_rows(spark, rows2), ["price"], ["size"], ["blk"]))
        assert got == [1, 2], name


def test_randomized_window_equals_join_equals_naive(spark):
    rng = random.Random(73)
    rows = [
        (
            i,
            rng.choice(["a", "b", "c"]),
            float(rng.randint(1, 15)),
            rng.randint(1, 12),
        )
        for i in range(250)
    ]
    df = _rows(spark, rows)
    expected = _naive_frontier(rows)
    for name, frontier in STRATEGIES.items():
        got = _frontier_ids(frontier(df, ["price"], ["size"], ["blk"]))
        assert got == expected, name


def test_three_criteria_uses_join_and_matches_naive(spark):
    rng = random.Random(5)
    rows = [
        (i, "z", float(rng.randint(1, 8)), rng.randint(1, 8), float(rng.randint(1, 8)))
        for i in range(120)
    ]
    df = spark.createDataFrame(rows, "id int, blk string, p double, s int, w double")
    out = pareto_frontier(
        df, minimize=["p", "w"], maximize=["s"], block_cols=["blk"]
    )
    expected = sorted(
        a[0]
        for a in rows
        if not any(
            b[2] <= a[2] and b[3] >= a[3] and b[4] <= a[4]
            and (b[2] < a[2] or b[3] > a[3] or b[4] < a[4])
            for b in rows
        )
    )
    assert sorted(r["id"] for r in out.collect()) == expected


def test_validation_and_window_plan_has_no_self_join(spark):
    df = _rows(spark, [(1, "x", 1.0, 1)])
    with pytest.raises(ValueError):
        pareto_frontier(df, minimize=["price"], maximize=[])
    with pytest.raises(ValueError):
        pareto_frontier(df, minimize=["price"], maximize=["price"])
    big = _rows(
        spark,
        [(i, "b", float(i % 7), i % 5) for i in range(100)],
    )
    plan = pareto_frontier(
        big, minimize=["price"], maximize=["size"], block_cols=["blk"]
    )._jdf.queryExecution().executedPlan().toString()
    # window strategy: the only join is the final SEMI probe (no forced
    # broadcast — AQE sizes it at runtime) — no dominance INNER self-join
    import re

    assert "Window" in plan
    joins = re.findall(
        r"(?:SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin)[^\n]*", plan
    )
    assert joins and all("LeftSemi" in j for j in joins), joins


def test_null_block_rows_agree_across_engines(spark):
    # NULL block values form a regular group in BOTH strategies
    # (eqNullSafe): the null-block frontier is computed, not silently
    # dropped (window) or trivially kept whole (join).
    rows = [
        (1, None, 10.0, 5),   # null-block frontier (cheapest)
        (2, None, 20.0, 9),   # null-block frontier
        (3, None, 30.0, 7),   # dominated by 2 within the null block
        (4, "x", 50.0, 1),    # alone in x
    ]
    df = _rows(spark, rows)
    got = {
        name: _frontier_ids(frontier(df, ["price"], ["size"], ["blk"]))
        for name, frontier in STRATEGIES.items()
    }
    assert got["window"] == got["join"] == [1, 2, 4]


def test_window_engine_no_forced_broadcast(spark):
    # The frontier tier table is unbounded (anti-correlated criteria), so
    # the semi-join must not carry an explicit broadcast hint.
    rows = [(i, "x", float(i), 100 - i) for i in range(20)]
    df = _rows(spark, rows)
    plan = (
        _frontier_window(df, ["price"], ["size"], ["blk"])
        ._jdf.queryExecution().logical().toString()
    )
    assert "ResolvedHint" not in plan
