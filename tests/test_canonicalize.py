"""Connected components + canonical map (vs independent union-find closure)."""

from kg.canonicalize import canonical_map, connected_components
from kg.ids import py_id64
from kg.oracles import canonical_map_sql
from kg.vocab import canonical_closure
from tests.conftest import assert_df_equal


import pytest


def _cc(spark, pairs, **kw):
    edges = spark.createDataFrame(pairs, "src string, dst string")
    labels = connected_components(edges, **kw)
    return {r.node: r.label for r in labels.collect()}


# fastpath=None forces the distributed iterative loop; the default exercises
# the driver union-find. Both must produce identical labels.
@pytest.mark.parametrize("fastpath", [None, 100_000], ids=["distributed", "driver"])
def test_chain_converges_to_min_id(spark, fastpath):
    # multi-hop chain a-b-c-d plus separate pair x-y
    got = _cc(
        spark,
        [("a", "b"), ("b", "c"), ("c", "d"), ("x", "y")],
        driver_fastpath_edges=fastpath,
    )
    comp1 = min(py_id64(n) for n in "abcd")
    comp2 = min(py_id64(n) for n in "xy")
    assert {got[n] for n in "abcd"} == {comp1}
    assert {got[n] for n in "xy"} == {comp2}


@pytest.mark.parametrize("fastpath", [None, 100_000], ids=["distributed", "driver"])
def test_large_component_capping(spark, fastpath):
    # star of 5 nodes capped at 3 -> all revert to singleton labels
    pairs = [("hub", f"n{i}") for i in range(4)]
    got = _cc(spark, pairs, max_component=3, driver_fastpath_edges=fastpath)
    nodes = ["hub"] + [f"n{i}" for i in range(4)]
    assert all(got[n] == py_id64(n) for n in nodes)


def test_canonical_map_matches_closure(spark, duck):
    cm = canonical_map(spark)
    assert_df_equal(cm, duck.sql(canonical_map_sql()))
    closure = canonical_closure()
    rows = {r.surface: r.canonical_name for r in cm.collect()}
    assert rows == closure


def test_corpus_canonicalization_pipeline(spark, tmp_path):
    """--canonicalize corpus: CC over the corpus similarity graph replaces
    the curated dictionary end-to-end; output is deterministic and passes
    the validation report (incl. mention-count consistency)."""
    from kg.pipeline import run_pipeline
    from kg.synth import load_interleaved
    from kg.validate import assert_valid
    from tests.conftest import SF_DIR

    out_a = str(tmp_path / "a")
    out_b = str(tmp_path / "b")
    spans_dir = str(tmp_path / "spans")
    load_interleaved(spark, SF_DIR).write.parquet(f"{spans_dir}/documents.parquet")
    sa = run_pipeline(spark, SF_DIR, out_a, extractor="fused", canonicalize="corpus")
    sb = run_pipeline(spark, spans_dir, out_b, canonicalize="corpus")
    assert_valid(spark, out_a)
    a = spark.read.parquet(f"{out_a}/edges").select(
        "subj_id", "pred", "obj_id", "doc_id", "offset"
    )
    b = spark.read.parquet(f"{out_b}/edges").select(
        "subj_id", "pred", "obj_id", "doc_id", "offset"
    )
    # flat and spans input agree under corpus canonicalization too
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    assert sa["edges_total"] == sb["edges_total"] > 0


def test_canonical_concepts_equals_distinct_derivation(spark):
    """r06: the driver-side deduped concepts frame must equal the runtime
    distinct over the canonical map (the nodes-build input it replaces)."""
    from pyspark.sql import functions as F

    from kg.canonicalize import canonical_concepts, canonical_map

    derived = (
        canonical_map(spark)
        .select(
            F.col("canonical_id").alias("entity_id"),
            F.col("canonical_name").alias("name"),
            F.lit("concept").alias("kind"),
        )
        .distinct()
    )
    literal = canonical_concepts(spark)
    assert literal.columns == derived.columns
    assert literal.exceptAll(derived).count() == 0
    assert derived.exceptAll(literal).count() == 0


def test_dictionary_state_is_built_once(spark):
    """The dictionary frames and parsed link Columns are memoized per
    session, and the closure rows under them once per process."""
    from kg.canonicalize import canonical_concepts, dictionary_rows
    from kg.link import _dict_link_columns, alias_dict

    for make in (canonical_map, canonical_concepts, alias_dict, _dict_link_columns):
        assert make(spark) is make(spark), make.__name__
    assert dictionary_rows() is dictionary_rows()
    assert dictionary_rows.cache_info().misses == 1
