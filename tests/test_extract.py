"""Extraction semantics of the Arrow clean+extract kernel
(kg.fused.extract_documents over a spans table): hand cases against their
literal expected rows, and the stage-1 contract query against DuckDB."""

from kg.fused import extract_documents
from kg.oracles import triples_surface_sql
from kg import queries as Q
from kg.schemas import DOCUMENTS
from tests.conftest import SF_DIR, assert_df_equal


def _mk_docs(spark, spans_by_doc):
    rows = [
        (doc, [(k, t, m, o) for (k, t, m, o) in spans])
        for doc, spans in spans_by_doc.items()
    ]
    return spark.createDataFrame(rows, DOCUMENTS)


def _triples(spark, spans_by_doc):
    """TRIPLES_SURFACE rows (doc_id, offset, subj, pred, obj, subj_pos,
    obj_pos) of one hand case."""
    return {tuple(r) for r in extract_documents(_mk_docs(spark, spans_by_doc)).collect()}


def test_adjacent_mentions_with_predicate(spark):
    got = _triples(spark, {"d1": [("text", "table scan row", "", 0)]})
    assert got == {("d1", 0, "table", "scan", "row", 0, 2)}


def test_adjacent_mentions_without_predicate(spark):
    got = _triples(spark, {"d1": [("text", "table big row", "", 0)]})
    assert got == {("d1", 0, "table", "near", "row", 0, 2)}


def test_first_predicate_wins(spark):
    got = _triples(spark, {"d1": [("text", "key sort merge value", "", 0)]})
    assert got == {("d1", 0, "key", "sort", "value", 0, 3)}


def test_consecutive_pairs_chain(spark):
    got = _triples(spark, {"d1": [("text", "key value query", "", 0)]})
    assert got == {
        ("d1", 0, "key", "near", "value", 0, 1),
        ("d1", 0, "value", "near", "query", 1, 2),
    }


def test_no_or_single_mention_yields_nothing(spark):
    got = _triples(
        spark,
        {
            "d1": [("text", "the fast slow big", "", 0)],
            "d2": [("text", "table the fast", "", 1)],
            "d3": [("text", "", "", 0)],
        },
    )
    assert got == set()


def test_media_span_triple(spark):
    got = _triples(spark, {"d9": [("image", "", "media://image/9-0", 3)]})
    assert got == {("d9", 3, "d9", "has_image", "media://image/9-0", -1, -1)}


def test_matches_duckdb_oracle(spark, duck):
    """kg_triples_surface (and kg_triples_pandas_extractor, the same
    function): the kernel over the raw, dirty corpus against the oracle."""
    assert Q.q_triples_pandas is Q.q_triples_surface
    assert_df_equal(Q.q_triples_surface(spark, SF_DIR), duck.sql(triples_surface_sql()))
