"""Physical-plan assertions (SURVEY §4): the engine's scale contract is
that Catalyst picks the plans we designed for — broadcast hash joins
for dimensions, pushed filters, pruned scans, whole-stage codegen in
the hot paths.  These helpers make that contract testable so a plan
regression (e.g. a broadcast falling back to sort-merge after a schema
change) fails CI instead of surfacing as a 100x slowdown at scale.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    qe = df._jdf.queryExecution()
    jvm = df.sparkSession._jvm
    return qe.explainString(jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))


# ---------------------------------------------------------------------------
# Stage capture for checkpointed operators (round-8 VERDICT #5): an
# eager localCheckpoint EXECUTES its upstream at plan-construction time,
# so the final dumped plan shows an opaque ExistingRDD at every stage
# boundary.  Operators route their checkpoints through checkpoint_stage;
# under capture_stages() the PRE-checkpoint formatted plan of each stage
# is recorded, giving PLANS.md (and tests) the full lineage.
# ---------------------------------------------------------------------------

_STAGE_CAPTURE: list[tuple[str, str]] | None = None


@contextmanager
def capture_stages():
    """Collect (stage_name, formatted_plan) pairs from every
    checkpoint_stage call made while the context is active."""
    global _STAGE_CAPTURE
    prev = _STAGE_CAPTURE
    _STAGE_CAPTURE = []
    try:
        yield _STAGE_CAPTURE
    finally:
        _STAGE_CAPTURE = prev


def checkpoint_stage(df: DataFrame, stage: str) -> DataFrame:
    """localCheckpoint(eager=True) that, under capture_stages(), first
    records the stage's pre-checkpoint plan.  Outside a capture this is
    exactly df.localCheckpoint(eager=True) — explainString is never
    called, so the hot path pays nothing."""
    if _STAGE_CAPTURE is not None:
        _STAGE_CAPTURE.append((stage, formatted_plan(df)))
    return df.localCheckpoint(eager=True)


def assert_broadcast_join(df: DataFrame, expect: bool = True) -> str:
    plan = formatted_plan(df)
    has = "BroadcastHashJoin" in plan
    assert has == expect, f"BroadcastHashJoin expected={expect} in plan:\n{plan[:2000]}"
    return plan


def assert_no_cartesian(df: DataFrame) -> str:
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan, f"cartesian product in plan:\n{plan[:2000]}"
    return plan


def pushed_filters(df: DataFrame) -> list[str]:
    plan = formatted_plan(df)
    return [
        line.strip() for line in plan.splitlines() if line.strip().startswith("PushedFilters")
    ]


def read_schemas(df: DataFrame) -> list[str]:
    plan = formatted_plan(df)
    return [line.strip() for line in plan.splitlines() if line.strip().startswith("ReadSchema")]


def count_shuffles(df: DataFrame) -> int:
    """Number of shuffle Exchange nodes (counted once via the detail
    section '(<id>) Exchange' headers, not the plan-tree echo)."""
    import re

    plan = formatted_plan(df)
    return sum(
        1 for line in plan.splitlines() if re.fullmatch(r"\(\d+\) Exchange", line.strip())
    )
