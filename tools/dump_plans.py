"""Dump .explain('formatted') for bench-timed queries into plans/r07/.

Usage: python tools/dump_plans.py <suffix> [query,query,...]
e.g.   python tools/dump_plans.py before
       python tools/dump_plans.py after retention_counts,comp_roundtrip
Named queries may be any queries() entry, not only the bench-timed ones.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

BENCH_QUERIES = [
    "rollup_tiers", "range_counts", "interpolated", "dynamic_threshold",
    "anomaly_events", "tokenize_stats", "dedup_groups", "ann_topk",
    "text_quality", "minhash_candidates", "simhash_pairs", "lsh_topk",
    "comp_roundtrip", "multimodal_features", "dup_components",
    "ar11_residuals", "pq_topk", "ivfpq_topk", "embed_dup_pairs",
    "doc_profile", "business_hours", "lang_stats",
]


def fmt(df) -> str:
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def main():
    suffix = sys.argv[1] if len(sys.argv) > 1 else "before"
    only = sys.argv[2].split(",") if len(sys.argv) > 2 else None
    import __spark_entry__ as entry
    from pyhydroqc_spark.session import get_spark

    spark = get_spark("plan-dump", cores=8, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    outdir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r07"
    )
    os.makedirs(outdir, exist_ok=True)
    qs = entry.queries()
    for name in only or BENCH_QUERIES:
        try:
            plan = fmt(qs[name](spark, SF_DIR))
        except Exception as e:  # iterative queries that need an action
            plan = f"(plan capture failed: {e})"
        with open(os.path.join(outdir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(plan)
        n_ex = plan.count("Exchange")
        n_py = (
            plan.count("ArrowEvalPython")
            + plan.count("BatchEvalPython")
            + plan.count("MapInPandas")
            + plan.count("FlatMapGroupsInPandas")
            + plan.count("MapInArrow")
        )
        print(f"{name}: {len(plan)} chars, {n_ex} Exchange, {n_py} python nodes")
    spark.stop()


if __name__ == "__main__":
    main()
