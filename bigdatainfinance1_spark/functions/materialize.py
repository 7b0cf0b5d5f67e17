"""The engine's one materialization seam: every relation an operator reuses
is kept through `materialize`, and nothing else under
`bigdatainfinance1_spark/` calls `localCheckpoint`, `checkpoint`,
`persist`, `cache` or `unpersist` (tests/test_plans.py enforces this).

Why a local checkpoint and not a cache: a checkpointed RDD is owned by the
returned DataFrame, so Spark's ContextCleaner reclaims its blocks once the
Python/JVM references drop — no cleanup hook is needed at the call site.
A `persist()`/`cache()` entry lives in the session's CacheManager and
outlives the query unless every exit path unpersists it, which in turn
forced queries to checkpoint their own output just to unpersist before
returning. The eager checkpoint also truncates lineage (iterative plans
stay shallow) and computes the relation exactly once, so every consumer
reads identical rows — even when an input is nondeterministic across
executions, such as a RangePartitioner's sampled bounds.

Observability escrow: truncated lineage hides the UPSTREAM plan — where
scan pushdown and join strategy are visible — from the final query's
explain, so the formatted upstream plan is kept in `LAST_UPSTREAM_PLANS`
(bounded, newest last) for the plan tests to assert on.
"""

from __future__ import annotations

from collections import deque

from pyspark.sql import DataFrame

LAST_UPSTREAM_PLANS: deque = deque(maxlen=4)


def materialize(df: DataFrame) -> DataFrame:
    """`df` computed now and kept for reuse, with its lineage truncated."""
    LAST_UPSTREAM_PLANS.append(
        df.sparkSession._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    )
    return df.localCheckpoint(eager=True)
