"""Plan inspection helpers (SURVEY C40 + the test_plans.py contract).

Small, dependency-free accessors over ``queryExecution`` so scale
properties (exchange counts, operator counts) can be
asserted in tests and inspected interactively:

    from etl_cortex_spark import plans
    print(plans.formatted(df))
    assert plans.exchange_count(df) <= 2
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

_NODE_RE = re.compile(r"\(\d+\) (\w+)")


def formatted(df: DataFrame) -> str:
    """The formatted physical plan (pre-execution; AQE not yet run)."""
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def physical_body(df: DataFrame) -> str:
    plan = formatted(df)
    body = plan.split("== Physical Plan ==")[1]
    return body.split("===== Subqueries =====")[0]


def node_counts(df: DataFrame) -> dict[str, int]:
    """Physical operator name → occurrence count (each node once)."""
    out: dict[str, int] = {}
    for name in _NODE_RE.findall(physical_body(df)):
        out[name] = out.get(name, 0) + 1
    return out


def exchange_count(df: DataFrame) -> int:
    return node_counts(df).get("Exchange", 0)

