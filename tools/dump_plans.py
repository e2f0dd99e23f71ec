"""Regenerate PLANS.md: the physical-plan evidence file.

For a representative slice of the registry, capture the formatted plan
TREE (operator structure: joins chosen, exchanges, codegen spans) plus
the scan details that matter at 100 TB (PushedFilters / ReadSchema), so
a reviewer can check "is this the plan you'd run on a cluster" without
a Spark session. Run: python tools/dump_plans.py
"""

from __future__ import annotations

import contextlib
import io
import re
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from myserver_datawarehouse_spark import registry
from myserver_datawarehouse_spark.session import get_spark

SHOWCASE = [
    ("pricing_summary", "filter pushdown + column pruning + partial agg"),
    ("local_supplier_volume",
     "6-way join: fixed dim broadcast, growing dims unhinted (AQE), "
     "one fact shuffle"),
    ("share_of_total_broadcast", "global total as broadcast, no global window"),
    ("decayed_user_value", "broadcast weight dim + anchor, bounded top-N"),
    ("minute_anomaly_zscore", "prefix-sum rolling moments, single sort"),
    ("dup_ngram_coverage", "hash-keyed global count, no join"),
    ("embedding_covariance_probe", "one scan, one 1-row reduce, row-local stack"),
    ("customer_fuzzy_match", "FastSS variant equi-join, no block quadratic"),
    ("order_priority_audit",
     "EXISTS as LeftSemi, both scans filter-pruned (Q4 shape)"),
    ("nation_market_share",
     "7-table join: every filter at its scan, dims broadcast, share "
     "CASE rides the row (Q8 shape)"),
    ("brand_size_disjunctive_revenue",
     "OR-of-ANDs keeps the equi-join; part-side residual pushed (Q19 "
     "shape)"),
    ("min_cost_supplier",
     "correlated MIN decorrelated: per-part min re-join on partkey, "
     "dims broadcast, bounded top-k (Q2 shape)"),
    ("promotable_part_suppliers",
     "stacked semi-joins collapsed: part filter broadcast-semi into "
     "lineitem, per-pair aggregate, LEFT SEMI into supplier (Q20 shape)"),
    ("referential_orphan_audit",
     "one broadcast-left scan per FK edge (round-6 single-scan form)"),
    ("event_transition_matrix",
     "one user-keyed sort feeds LEAD; pair counts partial-agg; "
     "normalization is a window SUM over the tiny transition frame"),
    ("token_triangle_count",
     "degree-ordered forward triangles: oriented edge reuse via "
     "lineage cut, wedge join + semi-join closure, all-integer"),
    ("near_dup_prefix_filter",
     "prefix-filter similarity join: df-ranked rarest-token prefixes "
     "as the only join keys, candidate-pair verify by array intersect"),
    ("equi_depth_histogram",
     "distributed global rank: range exchange + broadcast partition "
     "offsets, NO single-partition window; NTILE as integer math"),
    ("supplier_pareto_skyline",
     "distributive skyline: salted local sweep then survivor sweep, "
     "each one window — no pairwise join"),
    ("embedding_ivfpq_search",
     "fixed-budget coarse assignment O(N*K); PQ code scan is "
     "map-side with broadcast per-(probe,cell) LUT, shuffle only "
     "at the bounded top-k"),
    ("embedding_binary_hamming_rerank",
     "1-bit index scan: sign bits packed to two BIGINTs in the row, "
     "bit_count(XOR) Hamming all inside codegen — integer-exact "
     "shortlist, shuffle only at the per-query windows"),
    ("embedding_matryoshka_audit",
     "all prefix widths sliced from ONE broadcast-probe corpus pass; "
     "64-width leg reuses the full cosine; per-(query,width) top-k "
     "windows are the only shuffle"),
]

SF = "/root/testdata/sf0.001"


def main() -> None:
    spark = get_spark("dump-plans")
    spark.sparkContext.setLogLevel("ERROR")
    qs = registry.queries()
    out = [
        "# PLANS — physical-plan evidence (generated by tools/dump_plans.py)",
        "",
        "Formatted plan trees for a representative registry slice, plus the",
        "scan details that decide 100 TB behavior (PushedFilters/ReadSchema).",
        "Regenerate after plan-affecting changes; tests/test_plan_shapes.py",
        "asserts the load-bearing properties so drift fails CI first.",
        "",
    ]
    for name, why in SHOWCASE:
        df = qs[name](spark, SF)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        tree = plan.split("\n\n", 1)[0]
        details = "\n".join(
            line
            for line in plan.splitlines()
            if re.match(r"\s*(PushedFilters|ReadSchema):", line)
        )
        out += [
            f"## {name}",
            "",
            f"_{why}_",
            "",
            "```",
            tree.strip(),
            "",
            details,
            "```",
            "",
        ]
    with open(ROOT / "PLANS.md", "w") as fh:
        fh.write("\n".join(out))
    print("wrote PLANS.md")


if __name__ == "__main__":
    main()
