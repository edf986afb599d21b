"""Physical-plan inspection helpers.

The scale contract of this engine is enforceable, not aspirational:
these helpers read ``.explain`` output so tests (tests/test_plans.py)
can assert the properties that decide 100 TB viability —

- filters reach the parquet scan (``PushedFilters``),
- projections prune the read schema (``ReadSchema``),
- dimension joins broadcast (``BroadcastHashJoin``), never cartesian,
- sort+limit compiles to ``TakeOrderedAndProject`` (no global sort),
- expressions stay inside ``WholeStageCodegen`` spans.

The reference has no planner (SURVEY §4); Catalyst is ours — these
checks pin that we actually let it do its job.
"""

from __future__ import annotations

import io
from contextlib import redirect_stdout

from pyspark.sql import DataFrame


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    """Capture ``df.explain(mode)`` output as a string (public API only)."""
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def has_pushed_filters(df: DataFrame) -> bool:
    """True if any scan carries a non-empty PushedFilters list."""
    plan = explain_str(df)
    for line in plan.splitlines():
        if "PushedFilters:" in line:
            payload = line.split("PushedFilters:", 1)[1].strip()
            if payload not in ("[]", ""):
                return True
    return False


def pruned_read_schema(df: DataFrame, table_hint: str | None = None) -> list[str]:
    """Column names in the (first matching) scan's ReadSchema."""
    plan = explain_str(df)
    for line in plan.splitlines():
        if "ReadSchema:" in line and (table_hint is None or table_hint in plan):
            payload = line.split("ReadSchema:", 1)[1].strip()
            inner = payload.split("struct<", 1)[-1].rsplit(">", 1)[0]
            return [c.split(":")[0].strip() for c in inner.split(",") if c]
    return []


def has_broadcast_hash_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in explain_str(df)


def has_cartesian_product(df: DataFrame) -> bool:
    plan = explain_str(df)
    return "CartesianProduct" in plan or "BroadcastNestedLoopJoin" in plan


def has_take_ordered(df: DataFrame) -> bool:
    return "TakeOrderedAndProject" in explain_str(df)


def codegen_stage_count(df: DataFrame) -> int:
    """Number of whole-stage-codegen subtrees ('codegen' explain mode —
    the formatted plan hides them before AQE finalizes). Like every
    helper here it serves the plan-contract tests: it pins that the
    scan-filter-project shape compiles to fused codegen stages
    (tests/test_plans.py::test_whole_stage_codegen_active)."""
    out = explain_str(df, mode="codegen")
    for line in out.splitlines():
        if "WholeStageCodegen subtrees" in line:  # "Found N WholeStageCodegen subtrees."
            for tok in line.split():
                if tok.isdigit():
                    return int(tok)
    return out.count("WholeStageCodegen")
