"""Generate PLANS.md — physical-plan evidence for the headline queries.

For each selected query: the executed plan's exchange inventory (what
shuffles, on which keys), broadcast usage, parquet pushdown lines
(PushedFilters / ReadSchema), and whole-stage-codegen span count.  This is
the verifiable artifact behind PERF.md's plan-audit claims: re-run any time
with ``python tools/plandump.py [sf_dir]``.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

AUDIT_QUERIES = [
    "pricing_summary",
    "in_degree_count",
    "top_percent_slice",
    # the category-module core (functions/multilayer.py) under its three
    # callers
    "multilayer_entropy",
    "distance_complexity",
    "discipline_distance_complexity",
    "google_distance",
    "subject_entropy_lifecycle",
    "yearly_entropy",
    "code_edge_table",
    "lsh_ann_topk",
    "minhash_lsh",
    "snapshot_year_tags",
    # round-5 registry additions (VERDICT r4 #3): the repetition signals
    # must audit as a zero-exchange projection; decontaminate as the
    # broadcast-gram semi-join + ONE doc-grain aggregation
    "repetition_score",
    "decontaminate",
]


# expression ids, plan ids and stage ids differ between two runs of the
# same subtree; codegen stage markers and the missing-input "!" depend on
# where the subtree sits in its consumer's plan
_IDS = re.compile(r"#\d+|\[plan_id=\d+\]|(?<=QueryStage )\d+")
_MARKS = re.compile(r"\*\(\d+\) |(?<=- )!|^ *!", re.M)


def _walk(plan, visit) -> None:
    """Visit the nodes an executed (AQE-final) plan ran: through query
    stages, but not into cached relations (their own plans) or reused
    exchanges (which ran elsewhere)."""
    name = plan.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        return _walk(plan.executedPlan(), visit)
    if name in ("InMemoryTableScanExec", "ReusedExchangeExec", "TableCacheQueryStageExec"):
        return
    if name.endswith("QueryStageExec"):
        return _walk(plan.plan(), visit)
    visit(plan, name)
    it = plan.children().iterator()
    while it.hasNext():
        _walk(it.next(), visit)


def shuffle_signatures(jplan) -> list[str]:
    """One signature per shuffle exchange an executed plan ran: its
    canonical subtree text with run-specific ids removed, plus the ids of
    the RDDs it scans (two checkpoints print alike)."""
    sigs = []

    def visit(node, name):
        if name != "ShuffleExchangeExec":
            return
        rdds = []
        _walk(node, lambda n, nm: rdds.append(str(n.rdd().id())) if nm == "RDDScanExec" else None)
        text = _MARKS.sub("", _IDS.sub("#", node.canonicalized().toString()))
        sigs.append(f"{text}|rdd:{','.join(rdds)}")

    _walk(jplan, visit)
    return sigs


def duplicated_shuffles(jplan) -> int:
    """Shuffle stages an executed plan ran more than once: exchanges whose
    subtree equals one that already ran in the same query.  AQE normally
    reuses such an exchange, but never one above a cached relation
    (Spark 4.1: the ``TableCacheQueryStage`` id enters its canonical form,
    which is also why this compares id-free text, not canonical plans)."""
    sigs = shuffle_signatures(jplan)
    return len(sigs) - len(set(sigs))


def audit(df) -> dict:
    """executedPlan audit of a frame that has run.  NOTE: the printed plan
    repeats shared subtrees (every unioned branch re-prints its lineage), so
    exchange inventories are reported as DISTINCT signatures, not raw node
    counts; ``duplicated_shuffles`` counts the repeats that actually RAN
    twice (AQE reuses a repeated exchange only when no cached relation is
    below it)."""
    jplan = df._jdf.queryExecution().executedPlan()
    plan = jplan.toString()
    exchanges = re.findall(r"Exchange (\w+)\(([^)]*)\)", plan)
    seen: list[str] = []
    for kind, args in exchanges:
        key = f"{kind}({args.split(',')[0].split('#')[0].strip()}…)"
        if key not in seen:
            seen.append(key)
    return {
        "exchange_kinds": seen,
        "duplicated_shuffles": duplicated_shuffles(jplan),
        "single_partition": "SinglePartition" in plan,
        "broadcasts": "BroadcastExchange" in plan
        or "BroadcastHashJoin" in plan,
        # whole-stage codegen shows as '*(n) Operator' prefixes
        "codegen_spans": len(set(re.findall(r"\*\((\d+)\)", plan))),
        "pushed": _cap(
            sorted(
                {m.strip() for m in re.findall(r"PushedFilters: \[([^\]]*)\]", plan) if m.strip()}
            ),
            4,
        ),
        "read_schema": _cap(
            sorted(set(re.findall(r"ReadSchema: struct<([^>]{0,90})", plan))), 3
        ),
    }


def _cap(items: list, n: int) -> list:
    """First n entries with an explicit truncation marker — the audit must
    never silently present a partial inventory as complete."""
    if len(items) <= n:
        return items
    return items[:n] + [f"(+{len(items) - n} more)"]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    # Lazy-result mode: the entropy family localCheckpoints its group-grain
    # results by default (cache hygiene), which would truncate the audited
    # plan to a checkpoint scan — keep results lazy HERE so the audit sees
    # the full shuffle/broadcast/pushdown structure (session.eager_results).
    os.environ["SPARK_GRAFT_EAGER"] = "0"

    from graph_computing_go_spark import get_spark
    from graph_computing_go_spark.api import QUERIES

    spark = get_spark(
        app_name="plandump",
        master="local[4]",
        shuffle_partitions=8,
        extra_conf={"spark.ui.enabled": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    lines = [
        "# PLANS — physical-plan audit of the headline queries",
        "",
        f"Auto-generated by `python tools/plandump.py {sf_dir}` "
        "(local[4], shuffle_partitions=8, AQE on).  Exchange inventories",
        "are DISTINCT shuffle signatures — the static plan text re-prints",
        "shared subtrees per unioned branch.  `duplicated shuffle stages`",
        "counts the exchanges the executed plan RAN more than once: AQE",
        "reuses a repeated exchange only when no cached relation is below",
        "it (Spark 4.1).  The audit runs lazy (SPARK_GRAFT_EAGER=0), so",
        "`session.compute_once` is off here: a table an operator computes",
        "once at run time may count again when a cached input sits below",
        "it (tests/test_plan_invariants.py `*_run_once` pin the run-time",
        "plans).  `SinglePartition present` is",
        "acceptable ONLY for the |shuffle-partitions|-row offset tables of",
        "global_row_number (operators/graph.py) — never a full-data",
        "collapse.  PushedFilters / ReadSchema prove scan-level predicate",
        "pushdown and column pruning.",
        "",
    ]
    for name in AUDIT_QUERIES:
        df = QUERIES[name](spark, sf_dir)
        df.collect()  # materialize THIS frame: AQE's final plan (with
        # codegen markers) replaces the unexecuted initial plan
        a = audit(df)
        lines += [
            f"## {name}",
            "",
            f"- shuffle keys: {', '.join(a['exchange_kinds']) or '(none)'}",
            f"- duplicated shuffle stages: {a['duplicated_shuffles']}",
            f"- SinglePartition present: {'yes (offset tables only)' if a['single_partition'] else 'no'}",
            f"- broadcast joins: {'yes' if a['broadcasts'] else 'no'}",
            f"- WholeStageCodegen spans: {a['codegen_spans']}",
        ]
        if a["pushed"]:
            lines.append(f"- PushedFilters: {'; '.join(a['pushed'])}")
        if a["read_schema"]:
            lines.append(
                "- ReadSchema (pruned): "
                + "; ".join(f"`{s}…`" for s in a["read_schema"])
            )
        lines.append("")
    out = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"
    )
    with open(out, "w") as f:
        f.write("\n".join(lines))
    print(f"wrote {out}")
    spark.stop()


if __name__ == "__main__":
    main()
