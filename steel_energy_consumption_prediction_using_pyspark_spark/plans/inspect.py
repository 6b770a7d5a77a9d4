"""Physical-plan inspection: make scale properties testable.

"Would this plan survive a 100× scale-up?" is a question about the
physical plan, not the output. These helpers turn `.explain()` prose
into assertions so tests pin the properties that matter at 100 TB:
filters pushed to the parquet scan, projections pruned to the read
schema, dim joins broadcast, hot paths inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame, mode: str = "formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), mode
    )


def assert_pushed_filters(df: DataFrame, *fragments: str) -> None:
    """Assert each fragment (e.g. a column name) appears in the scan's
    PushedFilters — i.e. the predicate reached the parquet reader and
    row groups can be skipped via min/max stats."""
    plan = physical_plan(df)
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    joined = "\n".join(pushed)
    assert pushed, f"no PushedFilters in plan:\n{plan}"
    for frag in fragments:
        assert frag in joined, f"filter on {frag!r} not pushed down:\n{joined}"


def assert_read_schema_pruned(
    df: DataFrame, expect: set[str], table_fragment: str = ""
) -> None:
    """Assert the parquet ReadSchema contains exactly `expect` columns —
    column pruning reached the scan (a 2-column projection must not
    read 16 columns off disk)."""
    plan = physical_plan(df)
    read_lines = [
        ln
        for ln in plan.splitlines()
        if "ReadSchema" in ln and table_fragment in ln
    ]
    assert read_lines, f"no ReadSchema in plan:\n{plan}"
    for ln in read_lines:
        schema_part = ln.split("ReadSchema:", 1)[1]
        cols = {
            frag.split(":")[0].strip()
            for frag in schema_part.strip(" struct<>").split(",")
            if frag.strip()
        }
        if table_fragment == "" and not (cols & expect):
            continue  # a different table's scan
        assert cols <= expect, f"scan reads extra columns {cols - expect}:\n{ln}"


def assert_broadcast_join(df: DataFrame, count: int = 1) -> None:
    """Assert at least `count` BroadcastHashJoin nodes — the dim side
    ships to executors; the fact side never shuffles."""
    plan = physical_plan(df)
    found = plan.count("BroadcastHashJoin")
    assert found >= count, f"expected ≥{count} broadcast joins, got {found}:\n{plan}"


def assert_whole_stage_codegen(df: DataFrame) -> None:
    """Under AQE the codegen annotations only appear once the adaptive
    plan finalizes — execute first, then inspect the final plan."""
    df.collect()
    plan = physical_plan(df)
    assert "codegen id" in plan, f"no WholeStageCodegen spans:\n{plan}"


def global_windows(df: DataFrame) -> list[str]:
    """Node names of every Window operator whose required child
    distribution is AllTuples — i.e. an UNPARTITIONED window that
    forces Spark's "Moving all data to a single partition" plan, the
    canonical scale-killer. Walks the physical-plan tree (unwrapping
    the AdaptiveSparkPlan shell) and inspects
    ``requiredChildDistribution`` directly, so scalar aggregates'
    legitimate ``Exchange SinglePartition`` over partial-agg metadata
    rows do NOT false-positive."""
    out: list[str] = []

    def walk(n):
        nm = n.nodeName()
        if nm == "AdaptiveSparkPlan":
            walk(n.inputPlan())
            return
        if "Window" in nm:
            dists = n.requiredChildDistribution()
            for i in range(dists.length()):
                if "AllTuples" in dists.apply(i).toString():
                    out.append(nm)
        ch = n.children()
        for i in range(ch.length()):
            walk(ch.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return out


def assert_no_global_window(df: DataFrame) -> None:
    """Assert the plan contains no unpartitioned (AllTuples) Window —
    see :func:`global_windows`."""
    found = global_windows(df)
    assert not found, f"unpartitioned global Window in plan: {found}"
