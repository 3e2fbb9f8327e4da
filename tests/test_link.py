"""Linking: dictionary resolution, the composed stage-2+3 pass against the
two-stage reference chain, salted-join equivalence under skew."""

import pytest
from pyspark.sql import functions as F

from kg.fused import extract_documents
from kg.ids import py_id64
from kg.link import alias_dict, composed_link_expr, link_triples, salted_join
from kg.oracles import linked_sql
from tests.conftest import SF_DIR, assert_df_equal


def _triples(spark):
    """TRIPLES_SURFACE of the test corpus through the clean+extract kernel."""
    return extract_documents(spark.read.parquet(f"{SF_DIR}/documents.parquet"))


def test_linked_matches_duckdb(spark, duck):
    linked = link_triples(_triples(spark), alias_dict(spark))
    assert_df_equal(linked, duck.sql(linked_sql()))


def test_alias_one_hop(spark):
    # 'line' links to one-hop target 'row' (NOT the final canonical 'record')
    aliases = alias_dict(spark)
    row = aliases.filter(F.col("surface") == "line").collect()[0]
    assert row.target == "row" and row.target_id == py_id64("ent:row")


def test_salted_join_equals_plain_join(spark):
    # skewed big side: 10k rows of one hot key + tail
    big = spark.range(10000).select(
        F.when(F.col("id") < 9000, F.lit("hot")).otherwise(
            F.concat(F.lit("k"), F.col("id"))
        ).alias("k"),
        F.col("id").alias("v"),
    )
    small = spark.createDataFrame(
        [("hot", 1), ("k9001", 2), ("k9500", 3)], "k string, grp int"
    )
    plain = big.join(small, "k", "left").select("k", "v", "grp")
    salted = salted_join(big, small, "k", n_salts=8).select("k", "v", "grp")
    assert plain.exceptAll(salted).count() == 0
    assert salted.exceptAll(plain).count() == 0
    # inner join variant too
    plain_i = big.join(small, "k").select("k", "v", "grp")
    salted_i = salted_join(big, small, "k", n_salts=8, how="inner").select("k", "v", "grp")
    assert plain_i.exceptAll(salted_i).count() == 0
    assert salted_i.exceptAll(plain_i).count() == 0


def test_salted_join_defuses_hot_key_skew(spark):
    """The point of salting, proven behaviorally (north rule: 'salted
    hash-join against the entity catalog to defuse head-entity skew'):
    with one head key holding 90% of the big side, a plain shuffle join
    lands the whole hot key in ONE task; the salted join spreads it over
    ~n_salts tasks, so the max per-task row count drops by ~n_salts.
    Broadcast and AQE are disabled so the test observes the raw shuffle
    placement (AQE skew-split is the runtime backstop, not under test)."""
    n, hot = 80_000, "the_head_entity"
    big = spark.range(n).select(
        F.when(F.col("id") % 10 < 9, F.lit(hot))
        .otherwise(F.concat(F.lit("k"), F.col("id")))
        .alias("k"),
        F.col("id").alias("v"),
    )
    small = spark.createDataFrame(
        [(hot, 1)] + [(f"k{i}", 0) for i in range(50)], "k string, grp int"
    )
    old_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    old_sp = spark.conf.get("spark.sql.shuffle.partitions")

    def hot_spread(df):
        """(number of partitions holding hot-key rows, max hot rows in
        any one partition) after the join's exchange."""
        rows = (
            df.filter(F.col("k") == hot)
            .withColumn("pid", F.spark_partition_id())
            .groupBy("pid")
            .count()
            .collect()
        )
        return len(rows), max(r["count"] for r in rows)

    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        # enough reduce slots that distinct (key, salt) buckets mostly
        # get their own partition — the measurement is about key
        # placement, not partition-count contention
        spark.conf.set("spark.sql.shuffle.partitions", "64")
        p_parts, p_max = hot_spread(big.join(small, "k", "left"))
        s_parts, s_max = hot_spread(
            salted_join(big, small, "k", n_salts=8, how="left")
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bc)
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)
        spark.conf.set("spark.sql.shuffle.partitions", old_sp)
    # plain: every hot row in ONE task — the straggler
    assert p_parts == 1 and p_max >= 0.9 * n, (p_parts, p_max)
    # salted: spread over most of the 8 salt buckets (a pair of buckets
    # may share a partition — hash placement, deterministic), max task
    # load down by >= 3x
    assert s_parts >= 4, s_parts
    assert s_max <= p_max / 3, (s_max, p_max)


def test_link_canonicalize_composed_equals_two_stage(spark):
    """Dictionary mode: stages 2+3 composed into one literal-map pass
    (kg.link.link_canonicalize_triples) must be row-identical to the
    two-stage chain link_triples -> canonicalize_triples, including the
    dictionary-miss fallback ids and the media branches."""
    from kg.canonicalize import canonical_map, canonicalize_triples
    from kg.link import link_canonicalize_triples

    triples = _triples(spark)
    two_stage = canonicalize_triples(
        link_triples(triples, alias_dict(spark)), canonical_map(spark)
    )
    composed = link_canonicalize_triples(triples, spark)
    assert composed.columns == two_stage.columns
    assert composed.exceptAll(two_stage).count() == 0
    assert two_stage.exceptAll(composed).count() == 0


def test_corpus_map_link_equals_two_stage(spark):
    """The corpus-canonicalization branch of the single pass (one
    broadcast lookup per mention side, keyed on surface) must be
    row-identical to linking with NO alias dictionary and then
    remapping through the corpus canonical map."""
    from kg.canonicalize import canonical_map_from_corpus, canonicalize_triples
    from kg.link import link_canonicalize_triples

    triples = _triples(spark)
    surfaces = triples.filter(F.col("subj_pos") >= 0).select(
        F.explode(F.array("subj_surface", "obj_surface")).alias("surface")
    )
    # wider than the pipeline's levenshtein<=1 (which merges none of the
    # fixture's mention surfaces), so the lookup really remaps ids
    canon = canonical_map_from_corpus(surfaces, max_distance=3, block_prefix=0)
    assert canon.filter(F.col("surface") != F.col("canonical_name")).count() > 0
    no_aliases = spark.createDataFrame(
        [], "surface string, target string, target_id long"
    )
    two_stage = canonicalize_triples(link_triples(triples, no_aliases), canon)
    single = link_canonicalize_triples(triples, spark, canon=canon)
    assert single.columns == two_stage.columns
    assert single.exceptAll(two_stage).count() == 0
    assert two_stage.exceptAll(single).count() == 0


def test_composed_link_expr_rejects_duplicate_surface(spark):
    """Two rows with one key fail when the map is built, naming the key,
    instead of mid-query in ``map``; quotes and backslashes in a surface
    or a name survive Spark's SQL parser."""
    with pytest.raises(ValueError, match="'data'"):
        composed_link_expr([("data", 1), ("model", 2), ("data", 3)])
    rows = [("it's", 7), ("a\\b", 8)]
    assert spark.range(1).selectExpr(f"{composed_link_expr(rows)} AS m").first().m == dict(rows)
    # bigint keys, string values: the concept name map of q_top_entities
    with pytest.raises(ValueError, match="duplicate key 7"):
        composed_link_expr([(7, "a"), (8, "b"), (7, "c")])
    names = [(7, "it's"), (1 << 59, "a\\b")]
    assert spark.range(1).selectExpr(f"{composed_link_expr(names)} AS m").first().m == dict(names)
