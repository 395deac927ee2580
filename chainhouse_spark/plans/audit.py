"""Physical-plan audits: turn `.explain("formatted")` into machine-checkable
facts so scale regressions (lost broadcast, lost pushdown, surprise cartesian,
extra shuffle) fail tests instead of surfacing on a 1000-executor cluster.

The reference delegates all physical planning to ClickHouse; here Catalyst
owns it, and these audits are how the repo pins the plans it wants — every
headline query asserts its join strategy, pushdown, and shuffle budget in
tests/test_plans.py.
"""

from __future__ import annotations

import io
import re
from contextlib import redirect_stdout
from dataclasses import dataclass, field

from pyspark.sql import DataFrame


def explain_formatted(df: DataFrame) -> str:
    """Capture `df.explain('formatted')` output as a string."""
    try:
        return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
            df._jdf.queryExecution(), "formatted"
        )
    except Exception:
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()


@dataclass
class PlanFacts:
    broadcast_joins: int = 0
    sortmerge_joins: int = 0
    shuffled_hash_joins: int = 0
    nested_loop_joins: int = 0
    cartesian_products: int = 0
    shuffle_exchanges: int = 0
    broadcast_exchanges: int = 0
    codegen_spans: int = 0
    scans: int = 0
    pushed_filters: list[str] = field(default_factory=list)
    partition_filters: list[str] = field(default_factory=list)
    read_schemas: list[str] = field(default_factory=list)
    python_evals: int = 0  # mapInPandas / Python UDF nodes
    # Exchange SinglePartition nodes: every row routed to ONE task. The
    # signature of an unpartitioned window or global aggregate-by-sort;
    # legitimate only over provably tiny inputs (constant-size offset
    # tables, ordered-limit-k results, 1-row scalar aggregates).
    single_partition_exchanges: int = 0
    # The subset that is NOT provably tiny from the plan tree itself —
    # see _single_partition_suspects for the benign classification. Each
    # entry is the parent node name ("Sort", "Window", ...); an empty list
    # means every single-partition exchange is a bounded gather.
    single_partition_suspects: list[str] = field(default_factory=list)
    aqe: bool = False


# Node-tree classification of Exchange SinglePartition: benign iff the
# plan itself proves the input bounded at ANY data scale. Everything else
# is a scale suspect — the round-5 audit's "correct today, single-task at
# 100x" class (six unpartitioned windows shipped before this rule existed).
_TREE_NODE = re.compile(r"^([:\s+\-*]*)([A-Za-z][\w.]*(?: [\w.]+)*?)\s*\((\d+)\)\s*$")
_BOUNDED_DESCENDANTS = {"TakeOrderedAndProject", "CollectLimit", "GlobalLimit"}


def _single_partition_suspects(text: str) -> list[str]:
    """Parent node names of SinglePartition exchanges the plan cannot prove
    bounded. Benign (excluded) cases:

    - parent is a final Aggregate AND the exchange's child is a partial
      Aggregate (its Functions carry ``partial_``): the standard two-phase
      gather — input is one row per upstream partition, constant-size. A
      global SortAggregate fed unbounded raw rows does NOT qualify
      (tightened per ADVICE r06).
    - the exchange Input carries ``__gr_pid#N`` or ``__gr_blk#N`` as a
      standalone attribute (exact match, not substring): operators/
      ranking.py's cumulative-offset windows, over <= shuffle-partitions
      rows (pid form) or <= 4 * shuffle-partitions + 1 rows (block form).
    - a descendant is a limit node (TakeOrderedAndProject / *Limit): the
      exchanged input is <= k rows by construction.
    """
    # Tree parse: id -> (depth, name, position); parent = nearest earlier
    # node with smaller depth. Subquery sections restart their own trees,
    # but ids stay globally unique in formatted mode.
    order: list[tuple[int, int, str]] = []  # (pos, depth, name) in tree order
    by_id: dict[int, int] = {}  # node id -> index into `order`
    for line in text.splitlines():
        m = _TREE_NODE.match(line)
        if not m:
            continue
        depth = len(m.group(1))
        by_id[int(m.group(3))] = len(order)
        order.append((len(order), depth, m.group(2)))

    # Detail blocks for every node: "(id) Name" ... until blank line.
    blocks: dict[int, str] = {
        int(m.group(1)): m.group(2)
        for m in re.finditer(
            r"^\((\d+)\) [A-Za-z][\w. ]*\n((?:.+\n)+?)(?=\n|\Z)", text, re.M
        )
    }

    suspects: list[str] = []
    for m in re.finditer(
        r"^\((\d+)\) Exchange\n((?:.+\n)+?)(?=\n|\Z)", text, re.M
    ):
        block = m.group(2)
        if "Arguments: SinglePartition" not in block:
            continue
        input_m = re.search(r"^Input \[\d+\]: \[(.*)\]$", block, re.M)
        if input_m and any(
            re.fullmatch(r"__gr_(pid|blk)#\d+L?", col.strip())
            for col in input_m.group(1).split(",")
        ):
            continue
        idx = by_id.get(int(m.group(1)))
        if idx is None:
            continue
        pos, depth, _name = order[idx]
        parent = next(
            (n for p, d, n in reversed(order[:pos]) if d < depth), ""
        )
        if parent.endswith("Aggregate"):
            # Only the partial->final two-phase gather is bounded: the
            # exchange's immediate child (next node in tree order, iff
            # strictly deeper) must itself be an Aggregate whose Functions
            # are partial_* (or empty — a distinct-style agg). A global
            # Aggregate fed unbounded raw rows falls through as a suspect.
            child_ok = False
            if pos + 1 < len(order) and order[pos + 1][1] > depth:
                cname = order[pos + 1][2]
                cid = next(
                    (nid for nid, oi in by_id.items() if oi == pos + 1),
                    None,
                )
                cblock = blocks.get(cid, "") if cid is not None else ""
                child_ok = cname.endswith("Aggregate") and (
                    "partial_" in cblock
                    or re.search(r"^Functions \[0\]", cblock, re.M)
                    is not None
                )
            if child_ok:
                continue
        bounded = False
        for p, d, n in order[pos + 1:]:
            if d <= depth:
                break
            if n in _BOUNDED_DESCENDANTS:
                bounded = True
                break
        if not bounded:
            suspects.append(parent or "?")
    return suspects


def plan_facts(df: DataFrame) -> PlanFacts:
    """Parse the formatted physical plan into counted facts."""
    text = explain_formatted(df)
    f = PlanFacts()

    def nodes(name: str) -> int:
        # formatted mode lists every node once in the tree and once in the
        # numbered detail section — count only the numbered detail lines.
        return len(re.findall(rf"^\s*\(\d+\)\s+{name}\b", text, re.M))

    f.broadcast_joins = nodes("BroadcastHashJoin")
    f.sortmerge_joins = nodes("SortMergeJoin")
    f.shuffled_hash_joins = nodes("ShuffledHashJoin")
    f.nested_loop_joins = nodes("BroadcastNestedLoopJoin")
    f.cartesian_products = nodes("CartesianProduct")
    # "Exchange" nodes are shuffles; broadcast ones are BroadcastExchange.
    f.shuffle_exchanges = nodes("Exchange")
    f.broadcast_exchanges = nodes("BroadcastExchange")
    f.codegen_spans = len(set(re.findall(r"\[codegen id : (\d+)\]", text)))
    f.scans = nodes("Scan")
    f.pushed_filters = [
        s.strip() for s in re.findall(r"PushedFilters: \[(.*?)\]", text) if s.strip()
    ]
    f.partition_filters = [
        s.strip() for s in re.findall(r"PartitionFilters: \[(.*?)\]", text) if s.strip()
    ]
    f.read_schemas = re.findall(r"ReadSchema: (\S+)", text)
    f.python_evals = sum(
        nodes(n)
        for n in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython",
                  "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas",
                  "TransformWithStateInPandas", "AggregateInPandas")
    )
    f.single_partition_exchanges = len(
        re.findall(r"^\s*Arguments: SinglePartition", text, re.M)
    )
    f.single_partition_suspects = _single_partition_suspects(text)
    f.aqe = "AdaptiveSparkPlan" in text
    return f


def audit(
    df: DataFrame,
    *,
    require_broadcast_joins: int | None = None,
    max_shuffle_exchanges: int | None = None,
    forbid_cartesian: bool = True,
    forbid_sortmerge: bool = False,
    require_pushed_filters: bool = False,
    max_scan_columns: int | None = None,
    forbid_python: bool = False,
) -> list[str]:
    """Check a DataFrame's physical plan against scale expectations; returns
    human-readable violations (empty list == plan is as intended)."""
    f = plan_facts(df)
    issues: list[str] = []
    if require_broadcast_joins is not None and f.broadcast_joins < require_broadcast_joins:
        issues.append(
            f"expected >= {require_broadcast_joins} broadcast joins, found {f.broadcast_joins} "
            f"(sortmerge={f.sortmerge_joins})"
        )
    if max_shuffle_exchanges is not None and f.shuffle_exchanges > max_shuffle_exchanges:
        issues.append(
            f"{f.shuffle_exchanges} shuffle exchanges exceeds budget {max_shuffle_exchanges}"
        )
    if forbid_cartesian and (f.cartesian_products or f.nested_loop_joins):
        issues.append(
            f"cartesian/nested-loop joins present "
            f"(cartesian={f.cartesian_products}, bnlj={f.nested_loop_joins})"
        )
    if forbid_sortmerge and f.sortmerge_joins:
        issues.append(f"{f.sortmerge_joins} sort-merge joins present")
    if require_pushed_filters and not (f.pushed_filters or f.partition_filters):
        issues.append("no filters pushed to any scan")
    if max_scan_columns is not None:
        for rs in f.read_schemas:
            ncols = rs.count(":")
            if ncols > max_scan_columns:
                issues.append(f"scan reads {ncols} columns (> {max_scan_columns}): {rs[:120]}")
    if forbid_python and f.python_evals:
        issues.append(f"{f.python_evals} Python eval nodes in plan")
    return issues
