"""Physical-plan linter: mechanical detection of the patterns that kill
plans at 100 TB.

``lint_plan(df)`` inspects the executed plan and returns findings:

  ERROR-level (a scale bug, not a tuning choice):
    - CARTESIAN       CartesianProduct / BroadcastNestedLoopJoin with no
                      equi-condition: O(n·m) row explosion.
    - PY_ROW_UDF      BatchEvalPython: row-at-a-time Python in the hot
                      path (Arrow-batched pandas UDFs are PY_ARROW, INFO).
    - GLOBAL_WINDOW   a Window operator with an empty partition spec — or
                      a constant-only one (partitionBy(lit(0))): either
                      way the whole input flows through ONE task.

  WARN-level (usually wrong, occasionally intended):
    - SINGLE_PARTITION_EXCHANGE  Exchange SinglePartition not feeding a
                      final limit/aggregate — a serialization point.

  INFO-level (facts the reviewer should see):
    - SMJ             SortMergeJoin present (fine big-big; a missed
                      broadcast if one side is small).
    - PY_ARROW        Arrow-batched Python stage (FlatMapGroupsInPandas /
                      ArrowEvalPython / MapInPandas).
    - UNPUSHED_SCAN   a parquet scan with PushedFilters: [] directly under
                      a Filter — predicate may be push-downable.

The plan-quality pytest suite pins specific plans; this linter is the
generic sweep — tests/test_lint.py runs it over EVERY entry query and
fails on any ERROR finding, so a refactor can't silently introduce a
cartesian product or a global window anywhere in the query surface.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

ERROR = "error"
WARN = "warn"
INFO = "info"


def _plan_str(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def lint_plan(df: DataFrame) -> list[dict]:
    """Returns findings as dicts: {level, code, detail}."""
    plan = _plan_str(df)
    lines = plan.splitlines()
    findings: list[dict] = []

    def add(level: str, code: str, detail: str) -> None:
        findings.append({"level": level, "code": code, "detail": detail.strip()[:200]})

    for i, ln in enumerate(lines):
        if "CartesianProduct" in ln:
            add(ERROR, "CARTESIAN", ln)
        if "BroadcastNestedLoopJoin" in ln:
            # one side is broadcast (bounded); still quadratic in the
            # stream side — legitimate ONLY against scalar/tiny builds
            # (e.g. a 1-row aggregate crossJoined as a threshold)
            add(WARN, "NESTED_LOOP", ln)
        if "BatchEvalPython" in ln:
            add(ERROR, "PY_ROW_UDF", ln)
        if re.search(r"ArrowEvalPython|FlatMapGroupsInPandas|MapInPandas|FlatMapCoGroupsInPandas", ln):
            add(INFO, "PY_ARROW", ln)
        if "SortMergeJoin" in ln:
            add(INFO, "SMJ", ln)
        if "windowspecdefinition" in ln:
            # executedPlan prints: Window [fns], [partition cols], [order]
            # — a global window omits the partition list.  With all three
            # specs present that's 3 top-level lists; with only 2 the
            # second is EITHER the partition list (partitioned window
            # without ORDER BY — a partition-wide agg frame, fine) or the
            # order list (global ordered window — the scale bug).  Order
            # lists are distinguishable by their ASC/DESC direction
            # markers on every entry.
            m = re.match(r"\s*[:+\-*( ]*Window (\[.*)", ln)
            if m:
                depth, lists, spans, start = 0, 0, [], -1
                for pos, ch in enumerate(m.group(1)):
                    if ch == "[":
                        if depth == 0:
                            lists += 1
                            start = pos
                        depth += 1
                    elif ch == "]":
                        depth -= 1
                        if depth == 0:
                            spans.append(m.group(1)[start : pos + 1])
                if lists < 2 or (
                    lists == 2
                    and re.search(r"\b(ASC|DESC)\b", spans[1])
                ):
                    add(ERROR, "GLOBAL_WINDOW", ln)
                elif lists >= 3 and "#" not in spans[1]:
                    # partition spec present but holds no column reference
                    # (attribute ids print as name#id) — a constant like
                    # partitionBy(lit(0)) routes every row to ONE task
                    # exactly like an empty spec.  The optimizer usually
                    # folds such specs to empty (caught above); this arm
                    # covers any constant expression that survives.
                    add(ERROR, "GLOBAL_WINDOW", ln)
        if "Exchange SinglePartition" in ln:
            # acceptable only as the final gather of a limit/global agg —
            # i.e. when some ancestor (previous lines) is a Take/Limit/
            # single-output HashAggregate
            head = "\n".join(lines[max(0, i - 6) : i])
            if not re.search(r"TakeOrderedAndProject|CollectLimit|GlobalLimit|HashAggregate", head):
                add(WARN, "SINGLE_PARTITION_EXCHANGE", ln)
        if "PushedFilters: []" in ln and i > 0 and "Filter" in lines[i - 1]:
            add(INFO, "UNPUSHED_SCAN", ln)

    return findings


def errors(findings: list[dict]) -> list[dict]:
    return [f for f in findings if f["level"] == ERROR]

