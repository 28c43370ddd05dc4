"""Column trees built once per driver JVM.

Every ``pyspark.sql.functions`` call and Column operator is a py4j round
trip to the driver JVM, so a plan built from Column objects costs a call
per expression node: a warm ``summarize_matches(ops={"kills"})`` made
6,638 calls, 1.3-1.8 s of a warm kills rep on a 4-core host.  The trees
do not depend on the DataFrame they are applied to: they name columns
(``F.col``) and never bind one DataFrame's attributes (``df["x"]``).  So
the plan-building modules build their trees in functions wrapped with
``per_jvm`` and apply the same Column objects to every later DataFrame;
a warm build then costs a py4j call per column it passes, not per node.

SQL expression text (``F.expr``/``selectExpr``) cuts the warm calls as
well, but Spark parses the text on every Dataset it builds, and in a
fresh JVM the first build of the kills plan from text took 6.7-7.9
CPU-s against 5.3-5.6 CPU-s from Column trees (4-core host).  A one-shot
job builds its plan once, cold, so it would pay that difference on
every run.
"""

from __future__ import annotations

import functools
from typing import Callable, TypeVar

from pyspark.core.context import SparkContext
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

T = TypeVar("T")


def per_jvm(build: Callable[..., T]) -> Callable[..., T]:
    """Memoize ``build`` per argument tuple for the life of the driver JVM.

    ``build`` must return Column trees (or containers of them) that name
    columns and never bind a DataFrame's; callers must not mutate what
    it returns.  A new gateway (the JVM was stopped and another launched
    in this process) empties the memo, because the old Column objects
    live in the old JVM.
    """
    memo: dict = {}
    gateway: list = [None]

    @functools.wraps(build)
    def cached(*args):
        if SparkContext._gateway is not gateway[0]:
            memo.clear()
            gateway[0] = SparkContext._gateway
        if args not in memo:
            memo[args] = build(*args)
        return memo[args]

    return cached


@per_jvm
def named(*names: str) -> list[Column]:
    """``F.col`` of each name: pass these, not the names, to ``select``
    and ``groupBy``, which build a Column per name on every call."""
    return [F.col(n) for n in names]


def with_columns(df: DataFrame, steps: list[dict[str, Column]]) -> DataFrame:
    """Add each step's named columns to ``df``, one projection per step."""
    for cols in steps:
        if len(cols) == 1:  # one py4j call, where withColumns makes about 7
            df = df.withColumn(*next(iter(cols.items())))
        else:
            df = df.withColumns(cols)
    return df
