"""Physical-plan audit: extract the facts that matter at 100 TB.

A query that returns correct rows can still be wrong at scale — the
difference lives in the physical plan: did the filter reach the scan,
did the scan prune columns, did the dim join broadcast, how many
exchanges (shuffles) does one run pay, and did anything fall back to
row-at-a-time Python. ``audit(df)`` parses ``explain("formatted")``
into a structured summary so those properties can be asserted in
tests (tests/test_plans.py) or checked interactively while tuning.

``contract_row(df)`` is the checked form: the audit facts plus a
digest of the plan tree. ``python plan_audit.py`` stores one row per
``auditable`` entry in plans/contract.json, and
tests/test_plans.py::test_plan_contract rebuilds and compares them.
"""

from __future__ import annotations

import hashlib
import io
import re
import tempfile
from contextlib import redirect_stdout
from dataclasses import dataclass, field

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@dataclass
class PlanAudit:
    n_exchanges: int = 0
    n_broadcast_joins: int = 0
    n_shuffle_joins: int = 0  # SortMergeJoin / ShuffledHashJoin
    n_sorts: int = 0
    # Sort nodes with the global flag set — a full range-exchange sort
    # of the input relation. Only acceptable on BOUNDED relations
    # (aggregate outputs, lateral top-k); a corpus-sized global sort
    # is a 100 TB red flag (r10 audit: 2/256 plans, both bounded).
    n_global_sorts: int = 0
    # FileScan count per source table (parquet file stem → number of
    # Scan nodes reading it). Each scan of a corpus-scale table is a
    # full corpus pass at 100 TB: >1 is the recompute-over-materialize
    # trade and must be deliberate (r11 audit: ds_quality_ablation's
    # per-ablation-row agg+union paid 14 documents scans in one plan).
    table_scans: dict = field(default_factory=dict)
    # total '(n) Scan parquet' nodes — the cross-check for the
    # Location-line parse above; table_scans includes an '<unparsed>'
    # bucket whenever the Location regex accounts for fewer scans
    n_scan_nodes: int = 0
    has_row_python: bool = False  # BatchEvalPython (the banned node)
    arrow_python_nodes: list[str] = field(default_factory=list)
    pushed_filters: list[str] = field(default_factory=list)
    partition_filters: list[str] = field(default_factory=list)
    read_schemas: list[str] = field(default_factory=list)
    # distinct [codegen id : N] spans; only annotated on final plans
    # (an un-executed AdaptiveSparkPlan prints no codegen ids)
    wholestage_codegen_ids: int = 0

    @property
    def is_join_free(self) -> bool:
        return self.n_broadcast_joins + self.n_shuffle_joins == 0


_ARROW_NODES = (
    "ArrowEvalPython",
    "MapInPandas",
    "FlatMapGroupsInPandas",
    "AggregateInPandas",
    "ArrowAggregatePython",
    "FlatMapGroupsInPandasWithState",
    "BatchEvalPythonUDTF",
)


def auditable(names) -> list[str]:
    """The registry entries that carry a plan contract, sorted.
    Streaming (``st_*``) entries run a stream and REST-source
    (``src_rest*``) entries start a mock HTTP server when constructed;
    their plans are pinned in tests/test_streaming.py and
    tests/test_paginated_rest.py instead."""
    return sorted(n for n in names if not n.startswith(("st_", "src_rest")))


def audit(df: DataFrame) -> PlanAudit:
    return _audit_text(formatted_plan(df))


def _audit_text(plan: str) -> PlanAudit:
    # "(n) NodeName" detail entries are unique per physical node; the
    # tree section repeats names, so count only the numbered entries.
    nodes = re.findall(r"\(\d+\) ([A-Za-z]+)", plan)
    a = PlanAudit()
    a.n_exchanges = nodes.count("Exchange")
    a.n_broadcast_joins = sum(
        1 for n in nodes if n in ("BroadcastHashJoin", "BroadcastNestedLoopJoin")
    )
    a.n_shuffle_joins = sum(
        1 for n in nodes if n in ("SortMergeJoin", "ShuffledHashJoin")
    )
    a.n_sorts = nodes.count("Sort")
    # Sort's detail block is "Arguments: [<ordering>], <global>, <int>".
    # Parse the flag from the RIGHT (rsplit) instead of a bracket
    # regex: an ordering expression containing ']' (struct field
    # access, a lambda) would stop a [^\]]* match early and silently
    # undercount global sorts (r10 advice).
    n_global = 0
    for m in re.finditer(
        r"\(\d+\) Sort(?:\s*\[[^\]]*\])?\s*\nInput[^\n]*\nArguments: (.+)",
        plan,
    ):
        parts = m.group(1).rstrip().rsplit(", ", 2)
        if len(parts) == 3 and parts[1] == "true" and parts[2].isdigit():
            n_global += 1
    a.n_global_sorts = n_global
    scans: dict = {}
    temp_names: dict = {}
    temp_child = re.compile(
        rf"(?:file:)?{re.escape(tempfile.gettempdir())}/([^/]+)/?"
    )
    for loc in re.findall(r"Location: \S+ \[([^\]\n]*)", plan):
        # a direct child of the temp dir is named per process (a
        # tempfile.mkdtemp dir, a pid-tagged fixture file): key it by
        # order of first appearance so the facts match across processes
        m = temp_child.fullmatch(loc)
        if m:
            t = f"<temp{len(temp_names) + 1}>"
            t = temp_names.setdefault(m.group(1), t)
            scans[t] = scans.get(t, 0) + 1
            continue
        # canonical testdata tables render as .../<stem>.parquet;
        # derived inputs (bucketed warehouse tables, compacted dirs)
        # have no .parquet suffix — fall back to the last path
        # segment so a distinct input scanned once is never lumped
        # into a pseudo-rescan bucket
        m = re.search(r"/(\w+)\.parquet", loc) or re.search(
            r"/([\w.-]+)/?$", loc
        )
        if m:
            t = m.group(1)
            scans[t] = scans.get(t, 0) + 1
    # Cross-check against the scan NODE count: the Location regex
    # depends on one rendering of the detail line (Spark truncates
    # long Location lines, formats drift across versions), so if it
    # parses fewer tables than there are Scan nodes the lens would
    # silently undercount and its regression tests pass vacuously
    # (r11 advice item). Surface the shortfall as an explicit
    # '<unparsed>' bucket so audits and PLAN_AUDIT.md show it.
    n_scan_nodes = len(re.findall(r"\(\d+\) Scan parquet\b", plan))
    shortfall = n_scan_nodes - sum(scans.values())
    if shortfall > 0:
        scans["<unparsed>"] = shortfall
    a.table_scans = scans
    a.n_scan_nodes = n_scan_nodes
    a.has_row_python = "BatchEvalPython" in nodes
    a.arrow_python_nodes = [n for n in nodes if n in _ARROW_NODES]
    a.pushed_filters = [
        m for m in re.findall(r"PushedFilters: \[([^\]]*)\]", plan) if m
    ]
    a.partition_filters = [
        m for m in re.findall(r"PartitionFilters: \[([^\]]*)\]", plan) if m
    ]
    a.read_schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    a.wholestage_codegen_ids = len(
        set(re.findall(r"\[codegen id : (\d+)\]", plan))
    )
    return a


def tree_digest(plan: str) -> str:
    """16-hex sha256 of the tree section of a formatted plan (the text
    before the numbered node details). The details carry partition
    counts, split sizes and file paths that follow the host and the
    fixture directory; the tree carries only node names, their order
    and their nesting. Expression ids (``#12L``) and RDD ids
    (``RDD[7]``) change from one process to the next, so they are
    masked wherever a node label prints them."""
    tree = plan.split("\n\n", 1)[0]
    tree = re.sub(r"#\d+L?", "#N", tree)
    tree = re.sub(r"RDD\[\d+\]", "RDD[N]", tree)
    return hashlib.sha256(tree.encode()).hexdigest()[:16]


def contract_row(df: DataFrame) -> dict:
    """One plans/contract.json row: the audit facts that do not depend
    on the host, plus ``tree_digest``."""
    plan = formatted_plan(df)
    a = _audit_text(plan)
    return {
        "n_exchanges": a.n_exchanges,
        "n_broadcast_joins": a.n_broadcast_joins,
        "n_shuffle_joins": a.n_shuffle_joins,
        "n_sorts": a.n_sorts,
        "n_global_sorts": a.n_global_sorts,
        "table_scans": dict(sorted(a.table_scans.items())),
        "arrow_python_nodes": sorted(a.arrow_python_nodes),
        "has_row_python": a.has_row_python,
        "tree": tree_digest(plan),
    }
