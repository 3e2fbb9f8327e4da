"""Per-stage checkpointing + stateful streaming dedup."""

from pyspark.sql import functions as F

from kg.pipeline import run_pipeline
from tests.conftest import SF_DIR, await_then_stop


def test_stage_checkpoints_equal_and_resume(spark, tmp_path):
    import duckdb

    out_a = str(tmp_path / "ck")
    out_b = str(tmp_path / "plain")
    run_pipeline(spark, SF_DIR, out_a, extractor="fused", checkpoint_stages=True)
    run_pipeline(spark, SF_DIR, out_b, extractor="fused")
    a = spark.read.parquet(f"{out_a}/edges")
    b = spark.read.parquet(f"{out_b}/edges")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    # manifest has committed rows for every stage
    stages = {
        r[0]
        for r in duckdb.sql(
            f"select distinct stage from parquet_scan('{out_a}/_manifest/*.parquet')"
        ).fetchall()
    }
    assert {"stage_extract", "stage_link", "materialize_edges", "materialize_nodes"} <= stages
    # rerun: full resume no-op across all stages
    stats = run_pipeline(
        spark, SF_DIR, out_a, extractor="fused", checkpoint_stages=True
    )
    assert stats["edges_written_this_run"] == 0


def test_resume_rewrites_uncanonicalized_stage_link(spark, duck, tmp_path):
    """Output dirs staged by the two-stage chain hold the UNcanonicalized
    linked table in stage_link, committed under the same run lineage. A
    resume must rewrite that stage, not write its rows out as edges."""
    from kg.fused import fused_extract_triples
    from kg.link import alias_dict, link_triples
    from kg.materialize import materialize_partitioned
    from kg.oracles import edges_sql
    from tests.conftest import assert_df_equal

    out = str(tmp_path / "two_stage_layout")
    lineage = f"sf_dir={SF_DIR};extractor=fused;canon=dict;buckets=64;groups=4;rep=1"
    materialize_partitioned(
        spark,
        link_triples(fused_extract_triples(spark, SF_DIR), alias_dict(spark)),
        out,
        "stage_link",
        run_id="two-stage",
        lineage=lineage,
        group_col=F.pmod(F.xxhash64("doc_id"), F.lit(4)),
        n_groups=4,
        sort_cols=["doc_id", "offset", "subj_id"],
        stage="stage_link",
    )
    stats = run_pipeline(spark, SF_DIR, out, extractor="fused", checkpoint_stages=True)
    assert stats["lineage"] == lineage
    edges = spark.read.parquet(f"{out}/edges")
    assert_df_equal(
        edges.select("subj_id", "pred", "obj_id", "doc_id", "offset"),
        duck.sql(edges_sql()),
    )


def test_stateful_streaming_dedup(spark, tmp_path):
    from kg.streaming import stateful_dedup_stream

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    docs = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "doc_id long, text string"
    )
    docs.write.parquet(in_dir)
    src = spark.readStream.schema("doc_id long, text string").parquet(in_dir)
    q = stateful_dedup_stream(src, out_dir, ckpt)
    await_then_stop(q, 120)
    assert spark.read.parquet(out_dir).count() == 3

    # second batch: two duplicates + one new doc -> only the new one emitted
    spark.createDataFrame(
        [(2, "b-dup"), (3, "c-dup"), (4, "d")], "doc_id long, text string"
    ).write.mode("append").parquet(in_dir)
    src = spark.readStream.schema("doc_id long, text string").parquet(in_dir)
    q = stateful_dedup_stream(src, out_dir, ckpt)
    await_then_stop(q, 120)
    got = spark.read.parquet(out_dir)
    assert got.count() == 4
    assert {r.doc_id for r in got.collect()} == {1, 2, 3, 4}
    assert got.filter(F.col("text").contains("dup")).count() == 0


def test_stateful_streaming_dedup_with_ttl(spark, tmp_path):
    """TTL-bounded state (continuous-mode config): same first-wins result
    within the TTL horizon; exercises the event-time timeout path, whose
    availableNow run must terminate on its own."""
    from kg.streaming import stateful_dedup_stream

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame(
        [(1, "a"), (2, "b"), (2, "b-dup")], "doc_id long, text string"
    ).write.parquet(in_dir)
    src = spark.readStream.schema("doc_id long, text string").parquet(in_dir)
    q = stateful_dedup_stream(src, out_dir, ckpt, state_ttl_minutes=30)
    assert await_then_stop(q, 120)
    got = spark.read.parquet(out_dir)
    assert got.count() == 2
    assert got.filter(F.col("text").contains("dup")).count() == 0
