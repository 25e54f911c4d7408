"""Physical-plan introspection — the scale-assertion toolkit.

Correct results are necessary but not sufficient: at 100 TB the PLAN is
the product.  These helpers expose the formatted/executed plan as a
string so tests can assert the properties every operator was designed
for — filters pushed to parquet, projections pruned, dimension joins
broadcast, top-k compiled to TakeOrderedAndProject, partition pruning
on the IVF layout (tests/test_plans.py).
"""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    """EXPLAIN FORMATTED output (scan details incl. PushedFilters /
    ReadSchema / PartitionFilters)."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def executed_plan(df: DataFrame) -> str:
    """The executed physical plan tree (post-AQE top level)."""
    return df._jdf.queryExecution().executedPlan().toString()
