#!/usr/bin/env python
"""Generate PLANS.md: physical-plan audit of the headline queries —
evidence that filters/projections push to the scan, dims broadcast,
top-k avoids global sorts, and rank filters limit window state.
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Audit the ENTIRE catalog except the checkpoint-eager closure
# queries: building their DataFrame RUNS the iterative job (centroid
# collect / connected-components propagation loops checkpoint
# eagerly), so .explain() would both execute the pipeline and show
# only the post-checkpoint TAIL plan — a misleading "0 exchanges"
# row. Their LSH/SNM candidate stages are audited via
# dedup_minhash_neardup / dedup_sorted_neighborhood, and their
# runtime behavior is covered by the 10x probes in SCALE.md.
EXPLAIN_EXCLUDE = {
    "dedup_semantic_clusters",
    "dedup_cluster_survivors",
    "dedup_cluster_survivors_lsh",
    "dedup_cluster_twophase",
    "er_snm_cluster_survivors",
    "curate_full_recipe",
}


def _audited() -> list[str]:
    from cc2dataset_spark.plans.catalog import QUERIES, _load_all

    _load_all()
    return [n for n in sorted(QUERIES) if n not in EXPLAIN_EXCLUDE]


def main() -> None:
    from cc2dataset_spark.plans.catalog import QUERIES, _load_all
    from cc2dataset_spark.session import build_spark_session

    _load_all()
    spark = build_spark_session(
        master="local[8]",
        shuffle_partitions=32,
        extra_conf={"spark.ui.enabled": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    sf = "/root/testdata/sf0.1"

    lines = [
        "# PLANS — physical-plan audit (generated by tools/explain_audit.py)",
        "",
        "Per headline query: the plan properties that matter at 100 TB,",
        "read from `.explain('formatted')` at sf0.1.",
        "",
        "Exchange counts include the `operators/partitioning.spread_small`",
        "repartitions, which fire when the planned scan has fewer",
        "partitions than the cluster (the single-row-group fixture files",
        "at this SF); at production parallelism it returns its input",
        "untouched and those exchanges (and the spread key in ReadSchema)",
        "disappear (tests/test_partitioning.py pins the no-op branch).",
        "",
        "| query | pushed filters | broadcast joins | sort-merge joins |"
        " exchanges | TakeOrdered | WindowGroupLimit |",
        "|---|---|---|---|---|---|---|",
    ]
    details = []
    for name in _audited():
        df = QUERIES[name].fn(spark, sf)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        p = buf.getvalue()
        pushed = bool(
            re.search(r"PushedFilters: \[[^\]]", p)
        )

        # Count DISTINCT plan-node ids, not raw string occurrences:
        # formatted explain re-prints a persisted InMemoryRelation's
        # stored subtree at every reference (same node numbers), so a
        # query with nested caches would otherwise report each cached
        # exchange once per consumer — 46 "Exchanges" where the
        # executed plan has 12 (measured on graph_triangle_counts).
        def n_nodes(op: str) -> int:
            # tree lines look like "BroadcastHashJoin Inner BuildRight
            # (12)" / "Exchange (31)" — id is after optional modifiers
            return len(
                set(re.findall(rf"(?<![A-Za-z]){op}[^\n(]*\((\d+)\)", p))
            )

        row = (
            f"| {name} | {'yes' if pushed else '-'} "
            f"| {n_nodes('BroadcastHashJoin')} | {n_nodes('SortMergeJoin')} "
            f"| {n_nodes('Exchange') + n_nodes('BroadcastExchange')} "
            f"| {'yes' if 'TakeOrderedAndProject' in p else '-'} "
            f"| {'yes' if 'WindowGroupLimit' in p else '-'} |"
        )
        lines.append(row)
        schema = re.search(r"ReadSchema: (.*)", p)
        if schema:
            details.append(f"- **{name}** ReadSchema: `{schema.group(1)[:160]}`")
    lines += ["", "## Scan column pruning (first scan per query)", ""] + details
    lines += [
        "",
        "Notes:",
        "- Counts are DISTINCT plan-node ids (a persisted relation's",
        "  subtree reprints per consumer but executes once); every",
        "  aggregation pays exactly one partial+final exchange pair.",
        "- At sf0.1 all dimension joins broadcast (64 MB threshold); at",
        "  cluster scale AQE re-plans lineitem<->orders to sort-merge,",
        "  which is the intended strategy.",
        "- `dedup_minhash_neardup`'s only wide ops are the (band_idx,",
        "  band_hash) equi-join and the candidate-pair verify join —",
        "  both uniform-hash keyed, no skew.",
        "- Iterative queries (graph_pagerank_*) re-expand each power-",
        "  iteration round in the STATIC plan (fresh node ids per",
        "  round), so their exchange counts scale with iteration count;",
        "  at runtime each round reads the previous round's persisted",
        "  frame exactly once (operators/graph.py per-round persist —",
        "  the 2^iters dual-reference mitigation).",
        "- Checkpoint-eager closure queries (EXPLAIN_EXCLUDE in the",
        "  generator) are deliberately absent: building them runs the",
        "  iterative job and explains only the post-checkpoint tail.",
    ]
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("\n".join(lines) + "\n")
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
