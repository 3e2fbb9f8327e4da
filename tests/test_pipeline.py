"""End-to-end: P/R gate vs oracle, span-sequence invariant, resume-after-kill."""

import pytest

from kg.materialize import InjectedFailure
from kg.normalize import normalize_spans, reassemble_spans
from kg import queries as Q
from kg.oracles import edges_sql, linked_sql, nodes_sql, top_entities_sql
from kg.pipeline import run_pipeline
from kg.synth import load_interleaved
from tests.conftest import SF_DIR, assert_df_equal


def _edge_multiset(pdf):
    from collections import Counter

    return Counter(map(tuple, pdf.to_numpy().tolist()))


@pytest.mark.parametrize("form", ["flat", "spans"])
def test_precision_recall_vs_oracle(spark, duck, tmp_path, form):
    """The pipeline over the flat documents table and over the
    interleaved (doc_id, spans) table derived from it."""
    sf_dir = SF_DIR
    if form == "spans":
        sf_dir = str(tmp_path)
        load_interleaved(spark, SF_DIR).write.parquet(f"{sf_dir}/documents.parquet")
    out = str(tmp_path / "kg_out")
    run_pipeline(spark, sf_dir, out)
    got = _edge_multiset(
        spark.read.parquet(f"{out}/edges")
        .select("subj_id", "pred", "obj_id", "doc_id", "offset")
        .toPandas()
    )
    want = _edge_multiset(duck.sql(edges_sql()).df())
    tp = sum((got & want).values())
    precision = tp / sum(got.values())
    recall = tp / sum(want.values())
    # north rule: P/R >= 0.95; deterministic semantics give exactly 1.0
    assert precision == 1.0 and recall == 1.0, (precision, recall)


@pytest.mark.parametrize(
    "fn,sql",
    [
        (Q.q_linked, linked_sql()),
        (Q.q_edges, edges_sql()),
        (Q.q_nodes, nodes_sql()),
        (Q.q_top_entities, top_entities_sql()),
    ],
    ids=lambda x: getattr(x, "__name__", "sql"),
)
def test_stage_query_matches_oracle(spark, duck, fn, sql):
    """The stage-2..4 contract queries (q_edges also feeds every graph
    query) and the flagship against their DuckDB oracles."""
    assert_df_equal(fn(spark, SF_DIR), duck.sql(sql))


def test_span_sequence_invariant(spark, duck):
    """(kind, text, media_ref, order) per doc survives explode+normalize:
    the round trip equals the input with text spans CLEANED in place (the
    corpus carries planted dirt, so cleaning is no longer an identity —
    kind/media_ref/order must still be untouched). The expected side is
    the oracle's pristine derivation, nested by offset."""
    from kg.synth import SQL_EXPLODED_SPANS_CLEAN

    expected = {}
    for doc_id, kind, text, media_ref, offset in duck.sql(
        SQL_EXPLODED_SPANS_CLEAN + ' ORDER BY doc_id, "offset"'
    ).fetchall():
        expected.setdefault(doc_id, []).append((kind, text, media_ref, offset))
    docs = load_interleaved(spark, SF_DIR)
    round_trip = {
        r.doc_id: [tuple(s) for s in r.spans]
        for r in reassemble_spans(normalize_spans(docs)).collect()
    }
    assert round_trip == expected
    assert len(round_trip) == docs.count()


def test_resume_after_kill_produces_identical_output(spark, tmp_path):
    out_killed = str(tmp_path / "killed")
    out_fresh = str(tmp_path / "fresh")
    with pytest.raises(InjectedFailure):
        run_pipeline(spark, SF_DIR, out_killed, fail_after_groups=2)
    # partial state: some groups committed, not all
    import duckdb

    n_committed = duckdb.sql(
        f"select count(*) from parquet_scan('{out_killed}/_manifest/*.parquet') "
        "where stage='materialize_edges'"
    ).fetchone()[0]
    assert n_committed == 2
    # resume
    stats = run_pipeline(spark, SF_DIR, out_killed)
    assert stats["edges_written_this_run"] > 0
    run_pipeline(spark, SF_DIR, out_fresh)
    a = (
        spark.read.parquet(f"{out_killed}/edges")
        .select("subj_id", "pred", "obj_id", "doc_id", "offset")
    )
    b = (
        spark.read.parquet(f"{out_fresh}/edges")
        .select("subj_id", "pred", "obj_id", "doc_id", "offset")
    )
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    # second rerun is a no-op
    stats2 = run_pipeline(spark, SF_DIR, out_killed)
    assert stats2["edges_written_this_run"] == 0


def test_resume_with_changed_n_groups_is_safe(spark, tmp_path):
    """ADVICE round 1: group id g means 'group_col % n_groups == g', so a
    resume under a DIFFERENT modulus must not reuse commits (silent data
    loss) nor double-read stale part_group dirs. n_groups is part of the
    lineage and uncommitted-under-this-lineage dirs are swept, so a
    modulus change degrades to a clean full rewrite."""
    out = str(tmp_path / "modchange")
    out_ref = str(tmp_path / "ref")
    with pytest.raises(InjectedFailure):
        run_pipeline(spark, SF_DIR, out, n_groups=8, fail_after_groups=3)
    # resume with a SMALLER modulus: old groups 0-2 (mod 8) must not be
    # trusted as groups 0-2 (mod 4)
    stats = run_pipeline(spark, SF_DIR, out, n_groups=4)
    assert stats["edges_written_this_run"] > 0
    run_pipeline(spark, SF_DIR, out_ref, n_groups=4)
    a = spark.read.parquet(f"{out}/edges").select(
        "subj_id", "pred", "obj_id", "doc_id", "offset"
    )
    b = spark.read.parquet(f"{out_ref}/edges").select(
        "subj_id", "pred", "obj_id", "doc_id", "offset"
    )
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_extractor_and_spans_replicate_rejected(spark, tmp_path):
    """`fused` is the only stage-1 producer, and replica tiling shifts
    integer doc ids, so a spans table cannot be tiled."""
    from kg.fused import fused_extract_triples

    with pytest.raises(ValueError, match="extractor"):
        run_pipeline(spark, SF_DIR, str(tmp_path / "out"), extractor="sql")
    load_interleaved(spark, SF_DIR).write.parquet(f"{tmp_path}/documents.parquet")
    with pytest.raises(ValueError, match="replicate"):
        fused_extract_triples(spark, str(tmp_path), replicate=2)
