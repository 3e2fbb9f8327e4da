"""Capture .explain("formatted") for the bench-cell query plans.

Usage: python scripts/capture_plans.py <out_dir> [suffix]

Writes <out_dir>/<name>_<suffix>.txt for every captured plan (suffix
defaults to "after"). Run it from a checkout of an older commit with
suffix "before" to produce a comparison set.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kg.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def plan_of(df) -> str:
    jvm = df.sparkSession._jvm
    return df._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def main() -> None:
    out_dir = sys.argv[1]
    suffix = sys.argv[2] if len(sys.argv) > 2 else "after"
    os.makedirs(out_dir, exist_ok=True)

    spark = get_spark(app="plan-capture", cores=8)
    spark.sparkContext.setLogLevel("ERROR")

    from pyspark.sql import functions as F

    from kg.fused import fused_extract_triples
    from kg.link import link_canonicalize_triples
    from kg.materialize import EDGE_SORT_COLS, _write_plan, with_bucket
    from kg.ops import dedup, relational, simsearch
    from kg.queries import q_top_entities, q_top_entities_fused

    plans = {
        "kg_top_entities": q_top_entities(spark, SF_DIR),
        "kg_top_entities_fused": q_top_entities_fused(spark, SF_DIR),
        "dd_neardup_pairs": dedup.neardup_pairs(spark, SF_DIR),
        "dd_exact_survivors": dedup.exact_survivors(spark, SF_DIR),
        "ss_bruteforce_topk": simsearch.bruteforce_topk(spark, SF_DIR),
        "rel_pricing_summary": relational.pricing_summary(spark, SF_DIR),
        "rel_revenue_by_nation": relational.revenue_by_nation(spark, SF_DIR),
    }

    # the pipeline's staged edges write, built exactly as run_pipeline
    # and kg.materialize.materialize_edges build it for the fused default
    final = link_canonicalize_triples(fused_extract_triples(spark, SF_DIR), spark)
    sel = final.select("subj_id", "pred", "obj_id", "doc_id", "offset")
    plans["kg_pipeline_write_stage"] = _write_plan(
        with_bucket(sel, 64), F.col("bucket"), 4, EDGE_SORT_COLS
    )

    for name, df in plans.items():
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan_of(df))
        print(f"wrote {path}")
    spark.stop()


if __name__ == "__main__":
    main()
