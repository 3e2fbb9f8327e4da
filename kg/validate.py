"""Post-hoc output validation (reference ``data/scripts/validate_data.py:
27-221``): dirs exist, schema columns present, no duplicate PKs, null
warnings, bounds checks, row-count thresholds — re-expressed as ONE
declarative report DataFrame per materialized KG output instead of a
script of sequential asserts.

Every check is a row (table, check, ok, observed, threshold); a pipeline
gate is ``report.filter(~ok)``. Each table is read once: one aggregation
per table (plus the nodes duplicate-PK groupBy) computes every check —
no driver-side iteration over data; the results are collected
driver-side into one JVM-local report frame.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kg.session import local_frame

EDGE_COLS = ["subj_id", "pred", "obj_id", "doc_id", "offset", "bucket"]
NODE_COLS = ["entity_id", "name", "kind", "n_mentions"]


def validate_output(
    spark: SparkSession,
    out_dir: str,
    *,
    min_edges: int = 1,
    min_nodes: int = 1,
    n_buckets: int = 64,
) -> DataFrame:
    """Validation report over a pipeline output dir. Mirrors the
    reference checks: existence (validate_data.py:64-73 schema presence),
    duplicate-PK (:151-156), null warnings (:137-141), size thresholds
    (:108-112, :201-209); plus KG-specific bucket-range and
    mention-count-consistency checks."""
    rows: list[tuple] = []

    def check(table: str, name: str, ok, observed, threshold) -> None:
        rows.append((table, name, bool(ok), str(observed), str(threshold)))

    tables: dict[str, DataFrame] = {}
    for table, cols in (("edges", EDGE_COLS), ("nodes", NODE_COLS)):
        path = os.path.join(out_dir, table)
        exists = os.path.isdir(path)
        check(table, "dir_exists", exists, exists, True)
        if not exists:
            continue
        df = tables[table] = spark.read.parquet(path)
        missing = [c for c in cols if c not in df.columns and c != "bucket"]
        check(table, "schema_columns", not missing, missing or "all", [])

    edges = tables.get("edges")
    if edges is not None:
        has_bucket = "bucket" in edges.columns
        e = edges.agg(
            F.count("*").alias("n"),
            F.sum(
                (
                    F.col("subj_id").isNull()
                    | F.col("pred").isNull()
                    | F.col("obj_id").isNull()
                ).cast("long")
            ).alias("n_null"),
            *(
                [F.min("bucket").alias("lo"), F.max("bucket").alias("hi")]
                if has_bucket
                else []
            ),
        ).collect()[0]
        check("edges", "row_count_min", e.n >= min_edges, e.n, min_edges)
        check("edges", "no_null_keys", e.n_null == 0, e.n_null, 0)
        if has_bucket:
            bucket_ok = (e.lo is None) or (e.lo >= 0 and e.hi < n_buckets)
            check("edges", "bucket_in_range", bucket_ok, (e.lo, e.hi), (0, n_buckets - 1))

    nodes = tables.get("nodes")
    if nodes is not None:
        n = nodes.agg(
            F.count("*").alias("n"),
            F.sum("n_mentions").alias("total"),
            F.count(F.when(F.col("n_mentions") < 0, 1)).alias("neg"),
        ).collect()[0]
        dup_pk = (
            nodes.groupBy("entity_id")
            .agg(F.count("*").alias("c"))
            .filter(F.col("c") > 1)
            .count()
        )
        check("nodes", "row_count_min", n.n >= min_nodes, n.n, min_nodes)
        check("nodes", "no_duplicate_pk", dup_pk == 0, dup_pk, 0)
        check("nodes", "mentions_nonneg", n.neg == 0, n.neg, 0)
        if edges is not None:
            # endpoint-mention consistency: total mentions == 2 * edges
            total = n.total or 0
            check(
                "nodes",
                "mention_total_eq_2x_edges",
                total == 2 * e.n,
                total,
                2 * e.n,
            )

    return local_frame(
        spark,
        rows,
        "table string, check string, ok boolean, observed string, threshold string",
    )


def assert_valid(spark: SparkSession, out_dir: str, **kw) -> None:
    """Raise with the failing rows if any check is red (the reference
    script's exit-nonzero behavior)."""
    bad = validate_output(spark, out_dir, **kw).filter(~F.col("ok")).collect()
    if bad:
        lines = ", ".join(f"{r.table}.{r.check}={r.observed}" for r in bad)
        raise AssertionError(f"output validation failed: {lines}")
