"""Generate PLANS.md: a physical-plan audit of every headline query.

For each benchmark query (bench.py HEADLINE + the KG pipeline) this
prints the plan-shape facts a scale review checks by hand: number of
distinct exchanges, broadcast vs sort-merge joins, whole-stage-codegen
spans, scan column pruning / pushed filters, and the presence of any
quadratic operator (cartesian / nested-loop). Run after plan-affecting
changes and commit the refreshed PLANS.md so reviews diff plan shapes,
not prose.

Usage: python scripts/plan_report.py [--sf /root/testdata/sf0.01]
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


from theoremkb_spark.plancheck import plan_facts  # noqa: E402 (shared with tests)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--out", default=os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"))
    args = ap.parse_args()

    from bench import HEADLINE

    from theoremkb_spark.queries import QUERIES_CORE
    from theoremkb_spark.queries_docs import QUERIES_DOCS
    from theoremkb_spark.session import get_spark

    spark = get_spark("plan_report", cpus=8)
    spark.sparkContext.setLogLevel("ERROR")
    registry = {**QUERIES_CORE, **QUERIES_DOCS}

    lines = [
        "# PLANS — physical-plan audit of the headline queries",
        "",
        f"Generated by `python scripts/plan_report.py --sf {args.sf}`.",
        "Facts are from the pre-execution physical plan (initial AQE plan);",
        "'exchanges' counts DISTINCT shuffle exchanges of every partitioning",
        "(hash, range, round-robin, single; reused exchanges dedup'd by",
        "plan_id). Zero cartesian/nested-loop joins and pruned",
        "scans are the invariants tests/test_plan_shape.py freezes for the",
        "KG pipeline and fuzzy-link paths. Exception by design:",
        "ann_cosine_topk IS the brute-force baseline — its",
        "BroadcastNestedLoopJoin (10 query vectors x corpus) is the",
        "documented exact-scoring path; the scale paths are ann_bucketed",
        "(LSH) and ann_ivf (trained quantizer), both equi-join only.",
        "",
        "| query | exchanges | broadcast joins | SMJ | cartesian | arrow stages | scan columns (pushed filters) |",
        "|---|---|---|---|---|---|---|",
    ]

    def describe(name: str, df) -> None:
        from theoremkb_spark.plancheck import plan_string
        f = plan_facts(plan_string(df))
        scan_txt = "; ".join(
            ",".join(cols) + (f" ({pf})" if pf else "") for cols, pf in f["scans"]
        ) or "—"
        lines.append(
            f"| {name} | {f['exchanges']} | {f['broadcast_joins']} | "
            f"{f['sort_merge_joins']} | {f['cartesian']} | "
            f"{f['arrow_stages']} | {scan_txt} |"
        )

    for name in HEADLINE:
        describe(name, registry[name][0](spark, args.sf))

    from theoremkb_spark.pipeline.extract import load_pages
    from theoremkb_spark.pipeline.runner import build_kg, load_entity_dict

    pages = load_pages(spark, 24)
    describe("kg_pipeline", build_kg(spark, pages, load_entity_dict(spark, 24)))

    with open(args.out, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    print(f"wrote {args.out} ({len(HEADLINE) + 1} queries)")
    spark.stop()


if __name__ == "__main__":
    main()
