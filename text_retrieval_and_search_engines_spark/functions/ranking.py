"""The engine's ranking total order: score DESC, then each tie column ASC,
numbered 1.. by ``row_number`` per group. Every top-k in the package is
this one window, so a rank never depends on the plan's row order."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def rank_desc(df: DataFrame, score: str, *ties: str,
              by: tuple[str, ...] = ("qid",), k: int | None = None,
              name: str = "rank") -> DataFrame:
    """``df`` plus column ``name`` = 1-based rank within each ``by`` group
    by (``score`` DESC, ``ties`` ASC); rows past rank ``k`` dropped when
    ``k`` is given (Catalyst turns the filter into a WindowGroupLimit)."""
    w = Window.partitionBy(*by).orderBy(F.desc(score),
                                        *[F.asc(t) for t in ties])
    out = df.withColumn(name, F.row_number().over(w))
    return out if k is None else out.filter(F.col(name) <= k)
