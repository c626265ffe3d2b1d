"""Physical-plan inspection helpers.

The 100 TB design rules (predicate pushdown reaches the scan, small
dims broadcast, hot paths stay in WholeStageCodegen) are asserted in
tests via these helpers, so a regression that silently flips a
broadcast join to sort-merge or drops a pushed filter fails CI —
plan shape is part of the contract, not a hope.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    """`explain("formatted")` output as a string."""
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def pushed_filters(df: DataFrame) -> list[str]:
    """All PushedFilters entries across the plan's scans."""
    plan = formatted_plan(df)
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", plan):
        entry = m.group(1).strip()
        if entry:
            out.extend(p.strip() for p in entry.split(","))
    return out


def scan_read_schema(df: DataFrame) -> list[str]:
    """ReadSchema column lists (one string per scan) — column-pruning check."""
    plan = formatted_plan(df)
    return [m.group(1) for m in re.finditer(r"ReadSchema: (struct<[^\n]*)", plan)]


def count_nodes(df: DataFrame, node: str) -> int:
    """Count physical-plan nodes by their numbered detail header —
    the formatted dump shows each node twice (tree + details), so a
    raw substring count double-counts."""
    return len(re.findall(rf"\(\d+\) {re.escape(node)}\b", formatted_plan(df)))


def has_broadcast_hash_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in formatted_plan(df)


def executed_plan(df: DataFrame) -> str:
    """Final (post-AQE) physical plan — triggers execution.

    Under AQE the pre-execution dump shows ``isFinalPlan=false`` with
    no codegen spans; only the executed plan reveals the real stage
    shapes.  Use on small/test data only.
    """
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()  # type: ignore[attr-defined]


def wholestage_codegen_ids(df: DataFrame) -> list[int]:
    """Distinct WholeStageCodegen span ids in the executed plan
    (rendered as ``*(id)`` prefixes in the plan tree)."""
    plan = executed_plan(df)
    return sorted({int(m.group(1)) for m in re.finditer(r"\*\((\d+)\)", plan)})


def has_take_ordered(df: DataFrame) -> bool:
    """True when top-k planned as TakeOrderedAndProject (no full sort)."""
    return "TakeOrderedAndProject" in formatted_plan(df)


def window_lines(df: DataFrame) -> list[str]:
    """Physical-plan lines containing a ``Window`` (WindowExec) node.

    Uses the pre-execution sparkPlan — AQE never changes a window's
    partition spec, so the shape check is valid without executing.
    """
    plan = df._jdf.queryExecution().sparkPlan().toString()  # type: ignore[attr-defined]
    return [ln for ln in plan.splitlines() if re.search(r"\bWindow \[", ln)]


def unpartitioned_windows(df: DataFrame) -> list[str]:
    """Window nodes with an EMPTY partition spec — the single-partition
    scale-killer (WindowExec with no PARTITION BY moves every input row
    to ONE task; Spark logs "No Partition Defined" and the stage cannot
    scale past one core or one task's memory).

    A partitioned node prints ``Window [exprs], [partSpec], [orderSpec]``
    (two ``], [`` separators); an unpartitioned one omits the partition
    group.  Any returned line is a plan bug unless the input is provably
    metadata-sized (see operators/layout.py's inventory windows).
    """
    return [ln for ln in window_lines(df) if ln.count("], [") < 2]

# Tables whose row counts scale with SF — a window with no PARTITION BY
# may never consume one of these without an intervening aggregate/limit
# (round-7 verdict ask #5: the WindowExec warnings in the bench log were
# policed by convention only; this makes the discipline a gate).
DATA_SIZED_TABLES = (
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "documents",
    "embeddings",
    "events",
)


def _plan_children(node) -> list:
    ch = node.children()
    return [ch.apply(i) for i in range(ch.size())]


_LITERAL_CMP = re.compile(
    r"\(?(\w+#\d+\w*)\s+(=|>=|<=|>|<|IN)\s+(-?[\d.][\w.]*|'[^']*')"
)


def _is_selective_literal_filter(node) -> bool:
    """True for a Filter whose condition pins a bare column to a
    point or CLOSED range of literals (``k = 5``, ``k IN (...)``,
    ``k >= 1 AND k <= 5``) — the probe-slice pattern whose output is
    bounded by key selectivity, not by plan shape.  One-sided or
    function-wrapped predicates (``length(t) >= 2``) don't count."""
    if node.nodeName() != "Filter":
        return False
    try:
        cond = node.condition().toString()
    except Exception:
        cond = node.simpleString(200)
    lo, hi, eq = set(), set(), set()
    for attr, op, _rhs in _LITERAL_CMP.findall(cond):
        if op in (">=", ">"):
            lo.add(attr)
        elif op in ("<=", "<"):
            hi.add(attr)
        else:
            eq.add(attr)
    return bool(eq or (lo & hi))


def _subtree_reaches_data_scan(node) -> bool:
    """True if this physical subtree can deliver data-table-sized row
    counts: it reaches a file scan of a data-sized table without an
    intervening aggregate / limit / top-k (those bound the output to
    group-count / k rows regardless of what they scan) or point/range
    literal key filter (probe slices are bounded by selectivity)."""
    name = node.nodeName()
    if (
        "Aggregate" in name
        or "Limit" in name
        or name.startswith("TakeOrdered")
        or _is_selective_literal_filter(node)
    ):
        return False
    kids = _plan_children(node)
    if not kids:
        head = node.toString().splitlines()[0]
        return any(f"{t}.parquet" in head for t in DATA_SIZED_TABLES)
    return any(_subtree_reaches_data_scan(k) for k in kids)


def _subtree_explodes_data(node) -> bool:
    """True if this physical subtree contains a Generate (explode)
    whose own input reaches a data-sized table scan with no bounding
    aggregate / limit / top-k in between — i.e. the subtree's row
    count is corpus-sized TIMES a fan-out factor, the shape Catalyst's
    size-in-bytes estimation is blind to (explode output size is not
    modeled, so the subtree can estimate small enough to broadcast)."""
    name = node.nodeName()
    if (
        "Aggregate" in name
        or "Limit" in name
        or name.startswith("TakeOrdered")
        or _is_selective_literal_filter(node)
    ):
        return False
    if name.startswith("Generate"):
        if any(_subtree_reaches_data_scan(k) for k in _plan_children(node)):
            return True
    return any(_subtree_explodes_data(k) for k in _plan_children(node))


def broadcasts_over_exploded_data(df: DataFrame) -> list[str]:
    """Broadcast joins that BUILD over an explode of a data-sized
    table while a BOUNDED side sits opposite — the x253 failure mode
    made a gate (round 12, SCALE.md): Catalyst does not model explode
    output size, so a corpus-sized gram/token/shingle stream can
    estimate below the autoBroadcast threshold and get shipped
    through the driver, while the genuinely bounded side (a
    vocab-sized aggregate, a dimension) streams.  Any hit means the
    join needs an explicit BROADCAST hint on its bounded side.

    Deliberately NOT flagged: (a) corpus x corpus self-joins (both
    sides reach data scans — there is no bounded side to hint, the
    local broadcast is Catalyst's size-based pick and flips to SMJ
    on its own once scan estimates grow past the threshold: x178's
    shingle postings, x227's gram candidates); (b) probe slices
    bounded by point/range literal key filters (x41/x420's 5-vector
    probes — bounded by selectivity, not plan shape).  Uses the
    pre-execution sparkPlan, where the build side is carried on the
    join node itself (EnsureRequirements adds the exchange only in
    the executed plan), so no execution happens.
    """
    plan = df._jdf.queryExecution().sparkPlan()  # type: ignore[attr-defined]
    bad: list[str] = []

    def walk(node) -> None:
        name = node.nodeName()
        if name.startswith("Broadcast") and "Join" in name:
            head = node.toString().splitlines()[0]
            kids = _plan_children(node)
            build = other = None
            if len(kids) == 2:
                if "BuildLeft" in head:
                    build, other = kids[0], kids[1]
                elif "BuildRight" in head:
                    build, other = kids[1], kids[0]
            if (
                build is not None
                and _subtree_explodes_data(build)
                and not _subtree_reaches_data_scan(other)
            ):
                bad.append(node.simpleString(120))
        for k in _plan_children(node):
            walk(k)

    walk(plan)
    return bad


def windows_over_unbounded_input(df: DataFrame) -> list[str]:
    """Single-partition Window nodes (empty PARTITION BY) whose input
    subtree reaches a data-sized table scan with no bounding
    aggregate/limit in between — the one-task scale-killer.  Bounded
    shapes (replicate grids, per-day rollups, d-row matrices, windows
    over aggregate outputs) pass because the aggregate/limit below the
    window terminates the walk.  Uses the pre-execution sparkPlan (AQE
    never changes a window's partition spec), so no execution happens.
    """
    plan = df._jdf.queryExecution().sparkPlan()  # type: ignore[attr-defined]
    bad: list[str] = []

    def walk(node) -> None:
        name = node.nodeName()
        if name.startswith("Window"):
            try:
                nparts = node.partitionSpec().size()
            except Exception:
                nparts = None  # node variant without a spec: skip
            if nparts == 0 and any(
                _subtree_reaches_data_scan(k) for k in _plan_children(node)
            ):
                bad.append(node.simpleString(120))
        for k in _plan_children(node):
            walk(k)

    walk(plan)
    return bad
