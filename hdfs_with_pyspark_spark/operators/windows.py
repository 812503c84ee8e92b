"""Window-function operators (SURVEY.md §2.5 W1-W7).

The reference's window idioms all have a tie problem: ``max().over`` +
equality filter keeps every tied row, then ``first()`` picks one
arbitrarily (reference: src/scripts/project_step_1.py:46-51 W2+A5). This
engine replaces every such site with ``row_number`` over a *total* order —
same result when there are no ties, deterministic when there are. Each
deviation is a superset of the reference's semantics (SURVEY.md §7.4.2).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def top1_per_key(df: DataFrame, keys: Sequence[str], order: Sequence[Column]) -> DataFrame:
    """Deterministic top-1 row per key group (W3; reference
    project_step_2.py:20,29-30 uses row_number over a non-total order —
    callers here must pass a total order, i.e. include a unique tiebreak
    column last).

    At scale this is the canonical "latest record" pattern: one shuffle on
    ``keys``, no join back.
    """
    w = Window.partitionBy(*keys).orderBy(*order)
    return (df.withColumn("__rn", F.row_number().over(w))
              .where(F.col("__rn") == 1)
              .drop("__rn"))


def topk_per_key(df: DataFrame, keys: Sequence[str], order: Sequence[Column],
                 k: int) -> DataFrame:
    """The first ``k`` rows per key group under ``order``, numbered 1..k
    in an int ``rank`` column. Like :func:`top1_per_key`, ``order`` must
    be total (end on a unique tiebreak column), or rows tied at the k-th
    place are picked arbitrarily.

    One shuffle on ``keys``; the ``rank <= k`` filter on the row number
    lets Spark cut each group to k rows before the window runs.
    """
    w = Window.partitionBy(*keys).orderBy(*order)
    return (df.withColumn("rank", F.row_number().over(w))
              .where(F.col("rank") <= k))


def latest_per_key(df: DataFrame, keys: Sequence[str], ts: str,
                   tiebreak: Sequence[str] = ()) -> DataFrame:
    """Latest event per key (W2; reference project_step_1.py:42-47 keeps
    *all* max-timestamp ties then `first()`-picks — here ties break on the
    ``tiebreak`` columns descending, making the pick deterministic)."""
    order = [F.col(ts).desc()] + [F.col(c).desc() for c in tiebreak]
    return top1_per_key(df, keys, order)


def change_points(df: DataFrame, keys: Sequence[str], order: Sequence[str],
                  value: str) -> DataFrame:
    """Rows where ``value`` differs from its predecessor within the key
    group (W6; reference project_step_1.py:93-99 lag-based change
    detection). Keeps the first row of every run of equal values."""
    w = Window.partitionBy(*keys).orderBy(*[F.col(c) for c in order])
    lagged = F.lag(value).over(w)
    return (df.withColumn("__prev", lagged)
              .where((F.col(value) != F.col("__prev")) | F.col("__prev").isNull())
              .drop("__prev"))


def streaks(df: DataFrame, key: str, group: str, date_col: str) -> DataFrame:
    """Gaps-and-islands (W7; reference project_step_1.py:64-85).

    Input: distinct (key, group, date) rows — e.g. (user, city, active day).
    Output: one row per consecutive-run of dates a key spent in a group,
    with ``streak_len`` (number of distinct *active* dates in the run — the
    reference's documented assumption, project_step_1.py:57: active days,
    not calendar days) and ``streak_end`` (max date of the run).

    Algorithm (identical to the reference's): dense_rank over all the key's
    dates descending minus row_number within (key, group) descending is
    constant within a run; group by that island id.
    """
    w_all = Window.partitionBy(key).orderBy(F.col(date_col).desc())
    w_grp = Window.partitionBy(key, group).orderBy(F.col(date_col).desc())
    return (df
            .select(key, group, date_col).distinct()
            .withColumn("__rk", F.dense_rank().over(w_all))
            .withColumn("__rn", F.row_number().over(w_grp))
            .withColumn("__island", F.col("__rk") - F.col("__rn"))
            .groupBy(key, group, "__island")
            .agg(F.max(date_col).alias("streak_end"),
                 F.count("*").alias("streak_len"))
            .drop("__island"))
