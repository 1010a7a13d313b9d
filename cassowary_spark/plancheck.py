"""Shared physical-plan inspection helpers.

One definition of "how we read a plan" for the plan-audit tests
(tests/test_plans.py), the shuffle-budget guard
(tests/test_plan_budget.py), and the budget generator
(scripts/gen_plan_budgets.py) — if the counting rule ever changes
(e.g. to recognize an AQE node spelling), every consumer moves
together instead of the generator and the guard drifting apart.

Node counts use the DETAIL section of ``explain("formatted")``:
every physical node appears there exactly once as ``(<n>) <Name>``,
so counting ``") <Name>"`` counts nodes, not tree-indentation
artifacts.
"""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    """The full ``explain("formatted")`` text (pre-AQE plan)."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


#: nodes whose OUTPUT cardinality is bounded regardless of input size
#: — an aggregate collapses to its key count, a limit to N; a window
#: above one of these ranks a collapsed frame, not the corpus.
#: ReusedExchange is NOT here: it is resolved to the exchange it
#: mirrors and that subtree is walked (a Window fed via a reused
#: SinglePartition corpus exchange is just as single-task as the
#: original consumer).
_BOUNDING = frozenset(
    {
        "HashAggregate",
        "SortAggregate",
        "ObjectHashAggregate",
        "TakeOrderedAndProject",
        "CollectLimit",
        "GlobalLimit",
        "LocalLimit",
        "LocalTableScan",
        "Range",
    }
)


def single_partition_corpus_windows(df: DataFrame) -> int:
    """Count Window nodes that rank a CORPUS frame in ONE task (see
    ``_sp_corpus_windows_from_text`` for the rule). A cached subtree
    is walked below its InMemoryRelation, so a live cache does not
    hide the corpus scan it reads."""
    return _sp_corpus_windows_from_text(formatted_plan(df))


def _plan_tree(
    text: str,
) -> tuple[dict[int, str], dict[int, list[int]], dict[int, str], dict[int, int]]:
    """Parse ``explain("formatted")`` text into per-node-id
    ``(names, children, args, reuse)``.

    Names and parentage come from the tree header: a node's parent is
    the nearest preceding node with a shorter prefix (the ``* ``
    whole-stage-codegen marker of non-AQE plans and the 6-column indent
    under an ``InMemoryTableScan`` make the step per level uneven). A
    header may carry a trailing annotation after its ``(N)`` id
    (``InMemoryTableScan (1) (columnarIn=...)``,
    ``ShuffleQueryStage (7), Statistics(...)``). A cached subtree is
    spelled out again under every consumer; only a node's first
    occurrence defines its children, so each edge is recorded once.
    ``args`` holds each node's Arguments line from the detail
    section (which names an exchange's partitioning), and ``reuse`` maps
    a ReusedExchange to the exchange it mirrors (``[Reuses operator id:
    N]``). All four are empty when the text has no physical plan.
    """
    import re

    names: dict[int, str] = {}
    children: dict[int, list[int]] = {}
    args: dict[int, str] = {}
    reuse: dict[int, int] = {}
    lines = text.splitlines()
    try:
        start = (
            next(
                i
                for i, l in enumerate(lines)
                if l.startswith("== Physical Plan ==")
            )
            + 1
        )
    except StopIteration:
        return names, children, args, reuse
    head = re.compile(
        r"^([ :+\-*]*)([A-Za-z][A-Za-z]*)[^(]*\((\d+)\)(?:[ ,].*)?$"
    )
    # (indent, id, first occurrence?) of the open ancestors
    stack: list[tuple[int, int, bool]] = []
    for l in lines[start:]:
        if not l.strip():
            break
        m = head.match(l)
        if not m:
            continue
        indent, name, nid = len(m.group(1)), m.group(2), int(m.group(3))
        while stack and stack[-1][0] >= indent:
            stack.pop()
        first = nid not in names
        if stack and stack[-1][2]:
            children[stack[-1][1]].append(nid)
        names[nid] = name
        children.setdefault(nid, [])
        stack.append((indent, nid, first))
    cur = None
    detail = re.compile(r"^\((\d+)\) ")
    reuse_re = re.compile(
        r"^\((\d+)\) ReusedExchange \[Reuses operator id: (\d+)\]"
    )
    for l in lines:
        m = detail.match(l)
        if m:
            cur = int(m.group(1))
            r = reuse_re.match(l)
            if r:
                reuse[cur] = int(r.group(2))
        elif cur is not None and l.startswith("Arguments:"):
            args[cur] = l
    return names, children, args, reuse


def _sp_corpus_windows_from_text(text: str) -> int:
    """Count Window nodes that rank a CORPUS frame in ONE task.

    The r9-verdict "weak" plan class, made machine-checkable: a
    Window whose required child distribution is SinglePartition (the
    ``Exchange SinglePartition`` on its input chain) AND whose input
    subtree reaches a source scan without passing a
    cardinality-bounding node (aggregate / limit / TakeOrdered).
    Partitioned windows over corpus frames are fine (parallel);
    unpartitioned windows over aggregated frames are fine (bounded);
    only the combination — every corpus row through one task — is the
    scale-killer this counts.

    Walks the ``_plan_tree`` of ``explain("formatted")``.
    ReusedExchange nodes are resolved to the exchange they mirror and
    the mirrored subtree is walked. Subquery trees are not walked —
    their windows run per subquery execution and are audited by the
    budgets' total window/exchange counts instead (empirically vacuous:
    an r10 full-registry scan found ZERO Window nodes in any query's
    subquery section).
    """
    names, children, args, reuse = _plan_tree(text)

    def reaches_corpus(nid: int) -> bool:
        name = names.get(nid, "")
        if name in _BOUNDING:
            return False
        if name == "ReusedExchange":
            # walk the mirrored exchange's subtree; an unresolvable
            # reference is conservatively treated as corpus-reaching
            ref = reuse.get(nid)
            return True if ref is None else reaches_corpus(ref)
        if name.startswith("Scan") or name.startswith("BatchScan"):
            return True
        ch = children.get(nid, [])
        return any(reaches_corpus(c) for c in ch)

    def flagged(nid: int) -> bool:
        """Walk the input chain below a Window: pass-through nodes
        until the Exchange that set its distribution (or a bounding
        node / scan). A ReusedExchange is audited AS the exchange it
        mirrors — same partitioning, same input subtree."""
        for c in children.get(nid, []):
            name = names.get(c, "")
            if name in _BOUNDING:
                continue
            if name == "ReusedExchange":
                ref = reuse.get(c)
                if ref is not None:
                    if "SinglePartition" in args.get(ref, "") and any(
                        reaches_corpus(g) for g in children.get(ref, [])
                    ):
                        return True
                continue
            if name == "Exchange":
                if "SinglePartition" in args.get(c, "") and any(
                    reaches_corpus(g) for g in children.get(c, [])
                ):
                    return True
                continue
            if name.startswith("Scan") or name.startswith("BatchScan"):
                continue  # multi-partition scan feeding the window
                # directly means its distribution was NOT single
            if flagged(c):
                return True
        return False

    return sum(
        1
        for nid, name in names.items()
        if name in ("Window", "WindowInPandas") and flagged(nid)
    )


def _sp_windows_total_from_text(text: str) -> int:
    """Count EVERY Window node whose distribution is SinglePartition —
    corpus-framed or not (the r11 verdict's "WindowExec warning
    budget": each such node is exactly the plan shape for which
    WindowExec logs "No Partition Defined for Window operation!", so
    pinning this count per query makes the bench tail's warning volume
    an asserted artifact instead of log noise).

    Rule: walk the input chain below each Window through pass-through
    nodes (sorts/projects/filters — and other Windows: stacked
    unpartitioned windows share one exchange but each warns) until the
    FIRST Exchange / ReusedExchange / scan; count the window when that
    distribution-setting node is ``Exchange SinglePartition``. Unlike
    ``_sp_corpus_windows_from_text`` the walk does NOT stop at
    cardinality-bounding nodes — a window over an aggregated counts
    frame is scale-FINE but still warns, and this counter exists to
    explain warnings."""
    names, children, args, reuse = _plan_tree(text)

    def dist_is_single(nid: int) -> bool:
        for c in children.get(nid, []):
            name = names.get(c, "")
            if name == "Exchange":
                return "SinglePartition" in args.get(c, "")
            if name == "ReusedExchange":
                ref = reuse.get(c)
                # unresolvable reference: conservatively single
                return (
                    True
                    if ref is None
                    else "SinglePartition" in args.get(ref, "")
                )
            if name.startswith("Scan") or name.startswith("BatchScan"):
                return False  # source scans are multi-partition
            if dist_is_single(c):
                return True
        return False

    return sum(
        1
        for nid, name in names.items()
        if name in ("Window", "WindowInPandas") and dist_is_single(nid)
    )


def node_counts(df: DataFrame) -> dict[str, int]:
    """Shuffle-relevant node counts for budget checks.

    Counted with the query's own caches live: a persisted subtree is
    planned once, as an InMemoryRelation, and every consumer reads it
    through an InMemoryTableScan, so its nodes are counted once however
    many consumers it has. The registry releases every earlier query's
    caches before it builds the next (``caches``), so the count is a
    function of the query, not of session history.
    """
    p = formatted_plan(df)
    return {
        "exchanges": p.count(") Exchange"),
        "broadcasts": p.count(") BroadcastExchange"),
        "scans": p.count(") Scan ") + p.count(") BatchScan"),
        "cartesian": p.count(") CartesianProduct"),
        "sp_corpus_windows": _sp_corpus_windows_from_text(p),
        "sp_windows_total": _sp_windows_total_from_text(p),
    }
