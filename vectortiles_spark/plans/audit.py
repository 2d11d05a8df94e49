"""Physical-plan audits: assert the plans we designed for actually happen.

Scale guarantees live in the PLAN, not just the results — a filter that
doesn't reach the Parquet scan or a dim join that doesn't broadcast is a
100x regression waiting for 100x data. These helpers parse
``explain("formatted")`` output so tests can pin the physical strategy
(SURVEY.md §4 discipline: pushdown, pruning, broadcast, codegen).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def plan_of(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def assert_pushed_filter(df: DataFrame, fragment: str):
    """The filter must reach the Parquet scan (PushedFilters), not run
    post-scan on full rows."""
    plan = formatted_plan(df)
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert pushed and any(fragment in l for l in pushed), (
        f"filter {fragment!r} not pushed to scan:\n" + "\n".join(pushed or [plan[:800]])
    )


def assert_read_schema_only(df: DataFrame, columns: set[str]):
    """Column pruning: the scan must read exactly `columns` (the 'pay only
    for what you touch' property — SURVEY.md §3.3)."""
    plan = formatted_plan(df)
    for line in plan.splitlines():
        if "ReadSchema" in line:
            schema_part = line.split("ReadSchema:")[1]
            body = schema_part.strip().removeprefix("struct<").rstrip(">")
            # depth-aware top-level split: nested struct/array/map/decimal
            # types contain commas that a naive split would misparse
            fields, depth, start = [], 0, 0
            for i, ch in enumerate(body):
                if ch == "<":
                    depth += 1
                elif ch == ">":
                    depth -= 1
                elif ch == "," and depth == 0:
                    fields.append(body[start:i])
                    start = i + 1
            if body[start:].strip():
                fields.append(body[start:])
            read = {c.split(":")[0].strip() for c in fields if c.strip()}
            assert read == columns, f"scan reads {read}, wanted {columns}"
            return
    raise AssertionError("no ReadSchema in plan")


def assert_broadcast_join(df: DataFrame):
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, (
        "expected a broadcast join:\n" + plan[:1200]
    )


def assert_no_cartesian(df: DataFrame):
    plan = plan_of(df)
    assert "CartesianProduct" not in plan, "plan contains a cartesian product"


def count_shuffles(df: DataFrame) -> int:
    """Count SHUFFLE exchanges only — 'Exchange' as a substring also
    matches BroadcastExchange and ReusedExchange nodes, which are not
    shuffles."""
    import re

    return len(
        re.findall(r"\bExchange (hash|range|Single|RoundRobin|rebalance)", plan_of(df))
    )


def _walk(*roots):
    """Every physical node under ``roots``, top down, walking into AQE's
    current plan and its query stages."""
    stack = list(roots)
    while stack:
        node = stack.pop()
        kind = node.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if kind.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        yield node
        stack.extend(_children(node))


def _children(node) -> list:
    kids = node.children()
    return [kids.apply(i) for i in range(kids.size())]


def _is_shuffle(node) -> bool:
    return node.getClass().getSimpleName() == "ShuffleExchangeExec"


def _first_shuffles(df: DataFrame) -> list:
    """The shuffles of ``df``'s executed plan with no shuffle below them:
    the ones that ship its source rows."""
    return [
        node for node in _walk(df._jdf.queryExecution().executedPlan())
        if _is_shuffle(node) and not any(map(_is_shuffle, _walk(*_children(node))))
    ]


def partial_limit_below_first_shuffles(df: DataFrame) -> bool:
    """Every shuffle that ships ``df``'s source rows has a map-side
    ``WindowGroupLimit … Partial`` below it, so each map task sends at
    most the limit's rows per window group (SPARK-37099)."""
    firsts = _first_shuffles(df)
    return bool(firsts) and all(
        any(
            node.getClass().getSimpleName() == "WindowGroupLimitExec"
            and node.mode().toString() == "Partial"
            for node in _walk(*_children(first))
        )
        for first in firsts
    )


def first_shuffle_records(df: DataFrame) -> int:
    """Rows written by the shuffles that ship ``df``'s source rows (the
    "shuffle records written" SQL metric). Read after an action has run
    ``df``."""
    return sum(
        node.metrics().get("shuffleRecordsWritten").get().value()
        for node in _first_shuffles(df)
    )


def has_whole_stage_codegen(df: DataFrame) -> bool:
    # AQE prints an unexpanded AdaptiveSparkPlan in toString(); the codegen
    # explain mode shows the compiled subtrees regardless
    plan = df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "codegen"
    )
    return "WholeStageCodegen subtree" in plan or "WholeStageCodegen" in plan_of(df)

def jobs_run_by(spark, build):
    """(build()'s result, ids of the Spark jobs it ran): ``build`` runs
    under a job group of its own, read back from the status tracker."""
    sc = spark.sparkContext
    group = f"audit-jobs-{id(build)}"
    sc.setJobGroup(group, "audit.jobs_run_by")
    try:
        out = build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def python_bytes_sent(df: DataFrame) -> int:
    """Bytes the executed plan of ``df`` sent to Python workers (the
    "data sent to Python workers" SQL metric, summed over every node).
    Read after an action has run ``df``; AQE stages are walked into."""
    total = 0
    for node in _walk(df._jdf.queryExecution().executedPlan()):
        sent = node.metrics().get("pythonDataSent")
        if sent.isDefined():
            total += sent.get().value()
    return total
