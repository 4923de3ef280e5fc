"""Physical-plan inspection utilities (SURVEY.md §4).

The engine's scale posture is enforced, not hoped for: tests assert that
filters reach the parquet scan (PushedFilters), small dimensions join as
BroadcastHashJoin, narrow chains fuse into WholeStageCodegen, and scans
prune columns (ReadSchema). These helpers expose the formatted plan as a
string for those assertions and for ad-hoc inspection.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    """The `.explain('formatted')` text as a string (public API; the
    JVM-side explainString signature moved across Spark versions)."""
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    return buf.getvalue()


def has_pushed_filter(df: DataFrame, fragment: str) -> bool:
    """True if a data-source filter mentioning ``fragment`` was pushed to
    the scan (shows under PushedFilters: in the formatted plan)."""
    plan = formatted_plan(df)
    for line in plan.splitlines():
        if "PushedFilters" in line and fragment in line and "[]" not in line:
            return True
    return False


def scan_read_columns(df: DataFrame, table_hint: str = "") -> list[str]:
    """Columns actually read by the first scan whose Location/relation
    line matches ``table_hint`` — parsed from that scan's own ReadSchema
    (multi-scan plans: the hint is matched per scan block, never against
    the whole plan text). Used to assert column pruning."""
    import re

    plan = formatted_plan(df)
    block_matches = not table_hint
    for line in plan.splitlines():
        line = line.strip()
        if re.match(r"^\(\d+\) ", line):
            # any new plan-node block resets the match; scan headers
            # rarely name the table, so the Location line decides below
            block_matches = not table_hint or table_hint in line
        elif line.startswith("Location"):
            if table_hint and table_hint in line:
                block_matches = True
            elif table_hint and table_hint not in line:
                block_matches = False
        elif line.startswith("ReadSchema:") and block_matches:
            schema = line.split("struct<", 1)[-1].rstrip(">")
            return [f.split(":")[0] for f in schema.split(",") if f]
    return []


def count_exchanges(df: DataFrame) -> int:
    """Number of shuffle exchanges in the physical plan (the scale
    currency: every one is a full network/disk round of the data).
    Parses the formatted plan's details section — `(N) Exchange` — so
    tree/detail duplication doesn't double-count; broadcast and reused
    exchanges are excluded."""
    import re

    plan = formatted_plan(df)
    out = 0
    for line in plan.splitlines():
        m = re.match(r"^\((\d+)\) (\w+)", line.strip())
        if m and m.group(2) == "Exchange":
            out += 1
    return out


def uses_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in formatted_plan(df)


def codegen_stage_count(df: DataFrame) -> int:
    """Distinct WholeStageCodegen spans — fewer, wider spans = more
    fusion. Formatted mode annotates nodes with `[codegen id : N]`."""
    import re

    plan = formatted_plan(df)
    return len(set(re.findall(r"\[codegen id : (\d+)\]", plan)))
