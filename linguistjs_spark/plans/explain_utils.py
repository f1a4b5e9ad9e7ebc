"""Plan inspection helpers: assert the physical plan has the shape we
designed for (filter pushdown, column pruning, codegen) — SURVEY.md §4's
'explain() assertions that url filters stay below UDFs'."""

from __future__ import annotations

import io
from contextlib import redirect_stdout

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def scan_read_schemas(plan: str) -> list[str]:
    """ReadSchema lines of every parquet scan in a formatted plan."""
    return [
        line.split("ReadSchema:", 1)[1].strip()
        for line in plan.splitlines()
        if "ReadSchema:" in line
    ]


def pushed_filters(plan: str) -> list[str]:
    return [
        line.split("PushedFilters:", 1)[1].strip()
        for line in plan.splitlines()
        if "PushedFilters:" in line
    ]


def filter_conditions(plan: str) -> list[str]:
    """Condition of every Filter node in a formatted plan."""
    return [
        line.split("Condition :", 1)[1].strip()
        for line in plan.splitlines()
        if line.startswith("Condition :")
    ]


def python_nodes(plan: str) -> list[str]:
    """Detail section of every ArrowEvalPython node in a formatted plan; its
    Arguments name the UDFs the node evaluates."""
    import re

    return re.findall(
        r"^\(\d+\) ArrowEvalPython\n.*?(?=\n\n|\Z)", plan, re.M | re.S)


def count_nodes(plan: str, name: str) -> int:
    """Number of physical operators named `name` in a formatted plan.

    Formatted mode prints each node twice (once in the tree, once in the
    detail section); count only the detail headers '(N) <name>'."""
    import re

    return len(re.findall(r"^\(\d+\) %s\b" % re.escape(name), plan, re.M))


def has_wholestage_codegen(plan: str) -> bool:
    """Formatted mode marks codegen operators with a '*' prefix (simple mode
    prints WholeStageCodegen nodes instead)."""
    if "WholeStageCodegen" in plan:
        return True
    return any(
        seg.lstrip(":+- ").startswith("* ") or seg.startswith("* ")
        for seg in plan.splitlines()
    )
