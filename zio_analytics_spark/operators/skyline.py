"""[EXT] Skyline / Pareto-frontier query: the rows no other row dominates.

Börzsönyi, Kossmann, Stocker 2001 ("The Skyline Operator", ICDE — public
algorithm): row *a* is dominated iff some row *b* in the same block is at
least as good on EVERY criterion and strictly better on at least one. The
frontier is the set of non-dominated rows — the standard multi-objective
shortlist (cheapest-vs-largest parts, fastest-vs-freshest replicas,
quality-vs-length training documents).

Two physical strategies, chosen from the number of criteria and
equivalence-tested against each other:

- :func:`_frontier_window` (exactly 2 criteria — the common case): after
  pre-aggregating to one row per (block, x) with the best y — max y per
  price, say — a single ordered window over that DEDUPLICATED tier table
  computes the running best-y over all strictly-better x; a row is on the
  frontier iff it beats that running best. Cost: one partial aggregate +
  one window over |distinct x| rows per block + a semi-join back. No
  self-join, no O(n²) anywhere — this is the sort-filter skyline
  restated as relational operators, and the shape that holds at 100 TB
  (the window runs over the collapsed tier table, not raw rows).
- :func:`_frontier_join` (any number of criteria; runs for three or
  more): block-local dominance
  anti-join — quadratic WITHIN a block, so it requires block columns
  that bound block size (same candidate-blocking discipline as
  ``dedup.jaccard_pairs``). The NOT-EXISTS oracle is this strategy
  verbatim, which is exactly why the window path's equivalence to it is
  real verification.

Both paths keep exact duplicates (rows equal on every criterion do not
strictly beat each other — ties co-own their frontier point).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

__all__ = ["pareto_frontier"]


def pareto_frontier(
    df: DataFrame,
    minimize: Sequence[str],
    maximize: Sequence[str],
    block_cols: Sequence[str] = (),
) -> DataFrame:
    """Rows of ``df`` not dominated within their block. ``minimize`` /
    ``maximize`` name the criteria; ``block_cols`` scope dominance (rows in
    different blocks never compare). Two criteria run the window strategy,
    more run the dominance join."""
    mins, maxs = list(minimize), list(maximize)
    crit = mins + maxs
    if len(crit) < 2:
        raise ValueError("need at least two criteria")
    if len(set(crit)) != len(crit):
        raise ValueError("criteria must be distinct columns")
    if len(crit) == 2:
        return _frontier_window(df, mins, maxs, list(block_cols))
    return _frontier_join(df, mins, maxs, list(block_cols))


def _directed(mins: list[str], maxs: list[str]):
    """Normalize to 'larger is better' by negating minimized criteria."""
    return [(c, -F.col(c)) for c in mins] + [(c, F.col(c)) for c in maxs]


def _frontier_window(
    df: DataFrame, mins: list[str], maxs: list[str], blocks: list[str]
) -> DataFrame:
    # Orient both criteria as benefit scores (bigger better): u along the
    # window's sort axis, v the one the running max tracks.
    (xc, u), (yc, v) = _directed(mins, maxs)
    tiers = (
        df.select(*blocks, u.alias("__u"), v.alias("__v"))
        .groupBy(*blocks, "__u")
        .agg(F.max("__v").alias("__best_v"))
    )
    w = (
        W.partitionBy(*[F.col(c) for c in blocks])
        .orderBy(F.col("__u").desc())
        .rowsBetween(W.unboundedPreceding, -1)
    )
    # one row per distinct u: the rows-frame "all preceding" is exactly
    # "all strictly better u" — dominated iff some better-u tier already
    # reached at least this v.
    front_tiers = (
        tiers.withColumn("__prev_best", F.max("__best_v").over(w))
        .where(
            F.col("__prev_best").isNull()
            | (F.col("__best_v") > F.col("__prev_best"))
        )
        .select(*blocks, "__u", F.col("__best_v").alias("__v"))
    )
    # semi-join raw rows back: a row survives iff its (u, v) tier point is
    # a frontier point (equal-on-both duplicates all survive). Block keys
    # compare null-safely — NULL is a regular group, matching the groupBy
    # above and the join strategy. No broadcast hint: the frontier is
    # unbounded in the worst case (anti-correlated criteria put every
    # distinct-u tier on it), so let AQE pick the strategy from measured
    # size instead of forcing a driver-side materialization.
    probe = df.withColumn("__u", u).withColumn("__v", v).alias("p")
    ft = front_tiers.alias("t")
    cond = F.col("p.__u").eqNullSafe(F.col("t.__u")) & F.col("p.__v").eqNullSafe(
        F.col("t.__v")
    )
    for b in blocks:
        cond = cond & F.col(f"p.{b}").eqNullSafe(F.col(f"t.{b}"))
    keep = probe.join(ft, on=cond, how="left_semi")
    return keep.drop("__u", "__v")


def _frontier_join(
    df: DataFrame, mins: list[str], maxs: list[str], blocks: list[str]
) -> DataFrame:
    dirs = _directed(mins, maxs)
    a = df.alias("a")
    b = df.select(*blocks, *[c for c, _ in dirs]).alias("b")
    ge = [
        (F.col(f"b.{c}") <= F.col(f"a.{c}")) if c in mins
        else (F.col(f"b.{c}") >= F.col(f"a.{c}"))
        for c, _ in dirs
    ]
    strict = [
        (F.col(f"b.{c}") < F.col(f"a.{c}")) if c in mins
        else (F.col(f"b.{c}") > F.col(f"a.{c}"))
        for c, _ in dirs
    ]
    # Null-safe: NULL block values form a regular group (same contract as
    # the window strategy's groupBy), instead of silently never matching.
    cond = [F.col(f"a.{c}").eqNullSafe(F.col(f"b.{c}")) for c in blocks]
    dominates = ge[0]
    for g in ge[1:]:
        dominates = dominates & g
    some_strict = strict[0]
    for s in strict[1:]:
        some_strict = some_strict | s
    return a.join(b, cond + [dominates & some_strict], "left_anti")
