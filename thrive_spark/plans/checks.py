"""Plan inspection helpers: assert the physical strategy, not just the
result. A correct answer from a CartesianProduct is still a bug at
100 TB."""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    """Formatted physical plan as a string. Once AQE has executed the
    frame, explain prints its Final and its Initial plan; only the
    Initial tree and the details of its nodes are kept, so an executed
    frame shows the same plan as a fresh one."""
    text = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )
    if "+- == Initial Plan ==\n" not in text:
        return text
    head, rest = text.split("+- == Final Plan ==\n", 1)
    tree, details = rest.split("+- == Initial Plan ==\n", 1)[1].split(
        "\n\n\n", 1
    )
    details, sub_marker, subqueries = details.partition(
        "===== Subqueries ====="
    )
    ids = set(re.findall(r"\((\d+)\)", head + tree))
    kept = [
        block for block in details.split("\n\n")
        if (m := re.match(r"\((\d+)\)", block)) and m.group(1) in ids
    ]
    return (
        head + "+- " + tree[3:] + "\n\n\n" + "\n\n".join(kept)
        + "\n" + sub_marker + subqueries
    )


def assert_in_plan(df: DataFrame, *needles: str) -> str:
    plan = physical_plan(df)
    for n in needles:
        assert n in plan, f"expected {n!r} in plan:\n{plan}"
    return plan


def assert_not_in_plan(df: DataFrame, *needles: str) -> str:
    plan = physical_plan(df)
    for n in needles:
        assert n not in plan, f"did NOT expect {n!r} in plan:\n{plan}"
    return plan
