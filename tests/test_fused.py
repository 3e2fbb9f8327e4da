"""Fused Arrow kernel: the flat and spans-table adapters agree, and both
equal the oracle."""

from kg.fused import extract_documents, fused_extract_triples
from kg.oracles import nodes_sql, triples_surface_sql
from kg.synth import load_interleaved
from tests.conftest import SF_DIR, assert_df_equal


def test_fused_equals_stagewise(spark):
    """Flat documents derived inside the kernel == the derived spans table
    re-nested, then exploded and extracted."""
    a = fused_extract_triples(spark, SF_DIR)
    b = extract_documents(load_interleaved(spark, SF_DIR))
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_fused_matches_duckdb(spark, duck):
    assert_df_equal(fused_extract_triples(spark, SF_DIR), duck.sql(triples_surface_sql()))


def test_fused_pipeline_resume_and_nodes(spark, duck, tmp_path):
    """The fused e2e run's nodes table — rebuilt from the written edges —
    equals the DuckDB nodes oracle (its edges are checked per extractor
    by tests/test_pipeline.py::test_precision_recall_vs_oracle)."""
    from kg.pipeline import run_pipeline

    out = str(tmp_path / "fused")
    run_pipeline(spark, SF_DIR, out, extractor="fused")
    assert_df_equal(spark.read.parquet(f"{out}/nodes"), duck.sql(nodes_sql()))


def test_spread_partitions_ignores_bad_core_conf(spark):
    """A spark.kg.cores that is not a positive integer (an external
    spark-submit conf) falls back to defaultParallelism instead of
    repartition(0) or a ValueError at plan build."""
    from kg.session import spread_partitions

    old = spark.conf.get("spark.kg.cores")
    try:
        for bad in ("0", "x"):
            spark.conf.set("spark.kg.cores", bad)
            assert spread_partitions(spark) == spark.sparkContext.defaultParallelism
            assert fused_extract_triples(spark, SF_DIR).count() > 0
    finally:
        spark.conf.set("spark.kg.cores", old)
    assert spread_partitions(spark) == int(old)


def test_kernel_side_tiling_equals_crossjoin_tiling(spark):
    """r06: replicate tiling moved inside the kernel (one text transfer
    instead of `replicate` identical copies across the Python boundary);
    the row multiset must equal the JVM crossJoin tiling it replaced."""
    from pyspark.sql import functions as F

    from kg.synth import REPLICA_STRIDE

    new = fused_extract_triples(spark, SF_DIR, replicate=3)
    base = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id", "text")
        .repartition(4)
    )
    reps = spark.range(3).select(F.col("id").alias("_rep"))
    flat = base.crossJoin(F.broadcast(reps)).select(
        (F.col("doc_id") + F.col("_rep") * REPLICA_STRIDE).alias("doc_id"),
        "text",
    )
    ref = extract_documents(flat)
    assert new.exceptAll(ref).count() == 0
    assert ref.exceptAll(new).count() == 0
