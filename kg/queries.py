"""Named queries over the KG pipeline — the driver-facing query surface.

Each function takes (spark, sf_dir) and returns a DataFrame whose exact
rows are reproduced by the matching SQL in kg.oracles (driver correctness
gate). Aggregate/computed columns are aliased identically on both sides.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kg.canonicalize import canonical_concept_rows, canonical_map
from kg.fused import fused_extract_triples
from kg.link import alias_dict, composed_link_expr, link_canonicalize_edges, link_triples
from kg.materialize import build_nodes_from_edges
from kg.normalize import clean_spans
from kg.schemas import SPANS_NORM
from kg.synth import derive_spans, derived_spans, scan_flat_documents


def q_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    return derived_spans(spark, sf_dir)


def _derive_clean_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        yield clean_spans(derive_spans(pdf))


def q_spans_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derivation and cleaning in one ``MapInPandas``."""
    return scan_flat_documents(spark, sf_dir).mapInPandas(
        _derive_clean_batches, schema=SPANS_NORM
    )


def q_triples_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    return fused_extract_triples(spark, sf_dir)


# kg_triples_pandas_extractor: the contract keeps both names
q_triples_pandas = q_triples_surface


def q_linked(spark: SparkSession, sf_dir: str) -> DataFrame:
    return link_triples(q_triples_surface(spark, sf_dir), alias_dict(spark))


def q_canonical_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    return canonical_map(spark).select("surface", "canonical_id", "canonical_name")


def q_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    return link_canonicalize_edges(q_triples_surface(spark, sf_dir), spark)


def q_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    return build_nodes_from_edges(canonical_map(spark), q_edges(spark, sf_dir))


def q_top_entities(spark: SparkSession, sf_dir: str, limit: int = 20) -> DataFrame:
    """Flagship: most-mentioned canonical concepts over :func:`q_edges`
    (the clean+extract kernel, then stages 2+3 as the composed single
    pass, kg.link.link_canonicalize_edges)."""
    # explode both endpoints in ONE pass — a subj/obj unionByName would
    # duplicate the entire upstream extraction DAG
    cnt = (
        q_edges(spark, sf_dir)
        .select(F.explode(F.array("subj_id", "obj_id")).alias("entity_id"))
        .groupBy("entity_id")
        .agg(F.count("*").alias("n_mentions"))
    )
    # literal name map over the static concept rows (deduped driver-side):
    # the inner join against the concepts frame becomes a constant-folded
    # lookup + null filter — no broadcast exchange, no join stage; equal
    # keys are unique, so lookup-and-filter is exactly the unique-key
    # inner join
    name_map = F.expr(composed_link_expr(canonical_concept_rows()))
    named = cnt.select(
        name_map[F.col("entity_id")].alias("name"), "n_mentions"
    ).filter(F.col("name").isNotNull())
    return named.orderBy(F.desc("n_mentions"), F.asc("name")).limit(limit)


# kg_top_entities_fused: the contract keeps both names
q_top_entities_fused = q_top_entities


# Blocking/component caps ACTIVE in the contract queries (round-2 VERDICT
# item 7): the 100x-safe configuration should be the one that is actually
# oracle-checked. Sized far above anything observed at sandbox SFs (the
# fixed 31-word vocabulary gives (prefix, band) blocks of <=10 surfaces
# and components of <=5 members), so results are unchanged — but the
# capped code path (deterministic per-block window, component reversion)
# is what every driver row now exercises; the caps BITING is covered by
# tests/test_plans.py::test_similarity_blocking_cap_bounds_pairs.
SIM_MAX_BLOCK = 1000
SIM_MAX_COMPONENT = 1000


def q_similarity_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-derived surface-similarity graph over observed mention
    surfaces (blocked self-join + levenshtein; feeds connected
    components when no curated alias dictionary exists)."""
    from kg.canonicalize import surface_similarity_edges

    toks = F.filter(F.split(F.col("text"), " "), lambda w: w != F.lit(""))
    surfaces = (
        q_spans_norm(spark, sf_dir)
        .filter(F.col("kind") == "text")
        .select(F.explode(toks).alias("surface"))
    )
    return surface_similarity_edges(
        surfaces, max_distance=3, block_prefix=1, max_block=SIM_MAX_BLOCK
    )


def q_canonical_map_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star canonicalization mode: connected components over the
    corpus-derived surface-similarity graph (blocked levenshtein<=1), no
    curated dictionary. Covers every observed mention surface."""
    from kg.canonicalize import canonical_map_from_corpus

    toks = F.filter(F.split(F.col("text"), " "), lambda w: w != F.lit(""))
    surfaces = (
        q_spans_norm(spark, sf_dir)
        .filter(F.col("kind") == "text")
        .select(F.explode(toks).alias("surface"))
    )
    return canonical_map_from_corpus(
        surfaces,
        max_distance=1,
        block_prefix=1,
        max_block=SIM_MAX_BLOCK,
        max_component=SIM_MAX_COMPONENT,
    )


def q_degree_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph profiling: out-degree distribution of the edges table —
    (out_degree, n_nodes). Two cheap aggregations; the first groupBy
    reuses the subject-hash bucketing of the materialized table at scale."""
    edges = q_edges(spark, sf_dir)
    deg = edges.groupBy("subj_id").agg(F.count("*").alias("out_degree"))
    return deg.groupBy("out_degree").agg(F.count("*").alias("n_nodes"))


def q_two_hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-hop concept neighborhood: distinct (a, b, c) with a→b→c over
    concept-concept edges (media attachment edges excluded).

    Scale shape: project to DISTINCT (subj_id, obj_id) FIRST — bounded by
    the entity vocabulary squared, not the corpus — then self-join; on
    the bucketed edges table that join is bucket-co-located (see
    tests/test_bucketed.py for the shuffle-free evidence)."""
    edges = q_edges(spark, sf_dir).filter(~F.col("pred").startswith("has_"))
    # vocabulary-bounded: materialize once so the self-join doesn't
    # re-derive the extraction DAG on both sides
    pairs = edges.select("subj_id", "obj_id").distinct().localCheckpoint(eager=False)
    e2 = pairs.select(
        F.col("subj_id").alias("b"), F.col("obj_id").alias("c")
    )
    return (
        pairs.join(e2, pairs.obj_id == e2.b)
        .select(F.col("subj_id").alias("a"), F.col("obj_id").alias("b"), "c")
        .distinct()
    )


PR_SCALE = 1_000_000_000_000  # fixed-point 1e12
PR_DAMP_NUM, PR_DAMP_DEN = 85, 100  # damping 0.85
PR_ITERS = 3


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point PageRank over the concept graph, PR_ITERS unrolled
    iterations — (entity_id, rank) with rank scaled by PR_SCALE.

    ALL arithmetic is int64 (floor divisions): distributed iterative
    float aggregation is nondeterministic across engines AND across
    partitionings (sum order), so ranks are fixed-point integers — the
    same trick production graph engines use for reproducible iterative
    metrics. Each iteration is one shuffle on the destination key over
    the DISTINCT concept-pair projection (vocabulary-bounded, not
    corpus-bounded).
    """
    edges = q_edges(spark, sf_dir).filter(~F.col("pred").startswith("has_"))
    # materialize the vocabulary-bounded projection ONCE: without the
    # checkpoint every unrolled iteration re-executes the full extraction
    # DAG below the join (lineage grows per iteration — the SURVEY §4.3
    # iterative-plan landmine, same reason connected_components checkpoints)
    pairs = edges.select("subj_id", "obj_id").distinct().localCheckpoint()
    nodes = (
        pairs.select(F.col("subj_id").alias("entity_id"))
        .unionByName(pairs.select(F.col("obj_id").alias("entity_id")))
        .distinct()
    )
    n = nodes.count()  # vocabulary-sized; the literal feeds the base term
    base = (PR_SCALE * (PR_DAMP_DEN - PR_DAMP_NUM)) // (PR_DAMP_DEN * n)
    deg = pairs.groupBy("subj_id").agg(F.count("*").alias("out_deg"))

    rank = nodes.withColumn("rank", F.lit(PR_SCALE // n).cast("long"))
    for _ in range(PR_ITERS):
        contrib = (
            pairs.join(rank, pairs.subj_id == rank.entity_id)
            .join(deg, "subj_id")
            .select(
                F.col("obj_id").alias("entity_id"),
                F.expr("rank div out_deg").alias("c"),
            )
            .groupBy("entity_id")
            .agg(F.sum("c").alias("in_sum"))
        )
        rank = (
            nodes.join(contrib, "entity_id", "left")
            .select(
                "entity_id",
                (
                    F.lit(base)
                    + F.expr(
                        f"({PR_DAMP_NUM} * coalesce(in_sum, 0L)) div {PR_DAMP_DEN}"
                    )
                ).cast("long").alias("rank"),
            )
        )
    return rank


def pagerank_sql() -> str:
    from kg.oracles import edges_sql

    it = """
contrib{t} AS (
  SELECT p.obj_id AS entity_id, sum(r{p}.rank // d.out_deg) AS in_sum
  FROM cpairs p
  JOIN r{p} ON r{p}.entity_id = p.subj_id
  JOIN deg d ON d.subj_id = p.subj_id
  GROUP BY p.obj_id
),
r{t} AS (
  SELECT n.entity_id,
         CAST(base.b + ({dn} * coalesce(c.in_sum, 0)) // {dd} AS bigint) AS rank
  FROM pr_nodes n
  LEFT JOIN contrib{t} c USING (entity_id)
  CROSS JOIN base
)"""
    its = ",".join(
        it.format(t=i + 1, p=i, dn=PR_DAMP_NUM, dd=PR_DAMP_DEN)
        for i in range(PR_ITERS)
    )
    return (
        edges_sql().replace("SELECT * FROM edges", "")
        + f""",
cpairs AS (
  SELECT DISTINCT subj_id, obj_id FROM edges WHERE pred NOT LIKE 'has_%'
),
pr_nodes AS (
  SELECT subj_id AS entity_id FROM cpairs
  UNION SELECT obj_id FROM cpairs
),
nn AS (SELECT count(*) AS n FROM pr_nodes),
base AS (
  SELECT ({PR_SCALE} * ({PR_DAMP_DEN} - {PR_DAMP_NUM}))
           // ({PR_DAMP_DEN} * n) AS b,
         {PR_SCALE} // n AS r0
  FROM nn
),
deg AS (SELECT subj_id, count(*) AS out_deg FROM cpairs GROUP BY subj_id),
r0 AS (SELECT entity_id, base.r0 AS rank FROM pr_nodes CROSS JOIN base),
{its}
SELECT entity_id, rank FROM r{PR_ITERS}"""
    )


# association-graph support threshold: keep a concept pair iff it is
# co-mentioned in >= ceil(SUPPORT_NUM/SUPPORT_DEN * n_docs) triples.
# Expressed as an integer ratio because the threshold must be computed
# IDENTICALLY by Spark (python) and DuckDB (SQL): ceil(0.12 * n) disagrees
# between a float 0.12 (python: 0.12*500 = 60.000...01 -> 61) and
# DuckDB's decimal literal (exact 60.00 -> 60); (12*n + 99) // 100 is
# exact everywhere.
SUPPORT_NUM, SUPPORT_DEN = 12, 100

_ASSOC_SQL_FILTER = (
    "pred NOT LIKE 'has_%' AND subj_id IS NOT NULL "
    "AND obj_id IS NOT NULL AND subj_id <> obj_id"
)

_ASSOC_CTE = f""",
upairs AS (
  SELECT least(subj_id, obj_id) AS u, greatest(subj_id, obj_id) AS v
  FROM edges
  WHERE {_ASSOC_SQL_FILTER}
  GROUP BY 1, 2
  HAVING count(*) >=
    (SELECT ({SUPPORT_NUM} * count(*) + {SUPPORT_DEN - 1}) // {SUPPORT_DEN}
     FROM documents)
),
gdeg AS (
  SELECT entity_id, count(*) AS degree FROM (
    SELECT u AS entity_id FROM upairs UNION ALL SELECT v FROM upairs
  ) GROUP BY entity_id
)"""


def _association_graph(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Shared base for the graph-analytics queries: the support-thresholded
    co-mention ("association") graph as canonical (u < v) pairs, plus
    per-node degrees.

    Why thresholded: the raw canonical concept graph saturates into a
    clique on any corpus large enough for every concept pair to co-occur
    at least once (at sf0.001 it is literally K15), which degenerates
    triangle counting (clustering ≡ 1) and empties link prediction (no
    non-adjacent pairs). Keeping only pairs whose co-mention support
    clears a RELATIVE threshold (12% of the document count — the
    market-basket minimum-support idea) yields a scale-invariant,
    non-trivial graph: support grows linearly with the corpus, so the
    same fraction selects the same association structure at every SF.

    Scale shape: support counting is ONE shuffle on the 16-byte pair key
    with map-side partial aggregation; the threshold prunes before any
    downstream join, and everything after is bounded by the entity
    VOCABULARY, never the corpus — same argument as q_two_hop/q_pagerank.
    The pair set is checkpointed once so consumers' self-joins don't
    re-execute the extraction DAG per side."""
    edges = q_edges(spark, sf_dir).filter(~F.col("pred").startswith("has_"))
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    min_sup = (SUPPORT_NUM * n_docs + SUPPORT_DEN - 1) // SUPPORT_DEN
    und = (
        edges.filter(
            F.col("subj_id").isNotNull()
            & F.col("obj_id").isNotNull()
            & (F.col("subj_id") != F.col("obj_id"))
        )
        .select(
            F.least("subj_id", "obj_id").alias("u"),
            F.greatest("subj_id", "obj_id").alias("v"),
        )
        .groupBy("u", "v")
        .agg(F.count("*").alias("support"))
        .filter(F.col("support") >= min_sup)
        .select("u", "v")
        .localCheckpoint(eager=False)
    )
    deg = (
        und.select(F.explode(F.array("u", "v")).alias("entity_id"))
        .groupBy("entity_id")
        .agg(F.count("*").alias("degree"))
    )
    return und, deg


def q_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle participation + local clustering coefficient over
    the support-thresholded concept association graph: (entity_id,
    degree, n_triangles, clustering).

    Distributed shape is degree-ordered triangle enumeration (Cohen's
    MapReduce scheme, IEEE CiSE 2009): orient every undirected edge from
    its lower (degree, id) endpoint to the higher, so each triangle is
    enumerated exactly once — at its lowest-ordered vertex — and the
    wedge fan-out per node is bounded by the oriented out-degree, which
    degree-ordering caps at O(sqrt(m)) even on power-law hubs. That makes
    the wedge self-join skew-safe at 100 TB: a hub of degree d
    contributes d wedge CHECKS spread across its low-degree neighbors,
    never C(d,2) wedges of its own. All joins run over the
    vocabulary-bounded distinct pair projection. Deterministic (pure set
    algebra + one final float division), hence fully oracled."""
    und, deg = _association_graph(spark, sf_dir)
    ed = (
        und.join(deg.select(F.col("entity_id").alias("u"),
                            F.col("degree").alias("du")), "u")
        .join(deg.select(F.col("entity_id").alias("v"),
                         F.col("degree").alias("dv")), "v")
    )
    # orient low→high in the (degree, id) total order; u < v already
    # breaks ties, so du <= dv orients u→v, else v→u. Carry the DEST
    # degree: the wedge join orders the two out-neighbors by the same
    # total order without another degree lookup.
    fwd = ed.filter(F.col("du") <= F.col("dv")).select(
        F.col("u").alias("src"), F.col("v").alias("dst"),
        F.col("dv").alias("ddeg"),
    )
    rev = ed.filter(F.col("du") > F.col("dv")).select(
        F.col("v").alias("src"), F.col("u").alias("dst"),
        F.col("du").alias("ddeg"),
    )
    oriented = fwd.unionByName(rev).localCheckpoint(eager=False)
    e1 = oriented.select(F.col("src").alias("a"), F.col("dst").alias("b"),
                         F.col("ddeg").alias("bdeg"))
    e2 = oriented.select(F.col("src").alias("a"), F.col("dst").alias("c"),
                         F.col("ddeg").alias("cdeg"))
    wedges = e1.join(e2, "a").filter(
        (F.col("bdeg") < F.col("cdeg"))
        | ((F.col("bdeg") == F.col("cdeg")) & (F.col("b") < F.col("c")))
    )
    closer = oriented.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    tri = wedges.join(closer, ["b", "c"]).select("a", "b", "c")
    tcount = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("entity_id"))
        .groupBy("entity_id")
        .agg(F.count("*").alias("n_triangles"))
    )
    return deg.join(tcount, "entity_id", "left").select(
        "entity_id",
        "degree",
        F.coalesce(F.col("n_triangles"), F.lit(0).cast("long")).alias(
            "n_triangles"
        ),
        F.when(
            F.col("degree") >= 2,
            F.round(
                F.lit(2.0) * F.coalesce(F.col("n_triangles"), F.lit(0))
                / (F.col("degree") * (F.col("degree") - 1)),
                6,
            ),
        ).otherwise(F.lit(0.0)).alias("clustering"),
    )


def triangles_sql() -> str:
    from kg.oracles import edges_sql

    return (
        edges_sql().replace("SELECT * FROM edges", "")
        + _ASSOC_CTE
        + """,
ed AS (
  SELECT u, v, d1.degree AS du, d2.degree AS dv
  FROM upairs
  JOIN gdeg d1 ON d1.entity_id = u
  JOIN gdeg d2 ON d2.entity_id = v
),
oriented AS (
  SELECT CASE WHEN du <= dv THEN u ELSE v END AS src,
         CASE WHEN du <= dv THEN v ELSE u END AS dst,
         CASE WHEN du <= dv THEN dv ELSE du END AS ddeg
  FROM ed
),
tri AS (
  SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
  FROM oriented e1
  JOIN oriented e2 ON e1.src = e2.src
   AND (e1.ddeg < e2.ddeg OR (e1.ddeg = e2.ddeg AND e1.dst < e2.dst))
  JOIN oriented e3 ON e3.src = e1.dst AND e3.dst = e2.dst
),
tcount AS (
  SELECT entity_id, count(*) AS n_triangles FROM (
    SELECT a AS entity_id FROM tri
    UNION ALL SELECT b FROM tri
    UNION ALL SELECT c FROM tri
  ) GROUP BY entity_id
)
SELECT d.entity_id, d.degree,
       coalesce(t.n_triangles, 0) AS n_triangles,
       CASE WHEN d.degree >= 2
            THEN round(2.0 * coalesce(t.n_triangles, 0)
                       / (d.degree * (d.degree - 1)), 6)
            ELSE 0.0 END AS clustering
FROM gdeg d LEFT JOIN tcount t USING (entity_id)"""
    )


LP_TOP_N = 20


def q_link_prediction(
    spark: SparkSession,
    sf_dir: str,
    top_n: int = LP_TOP_N,
    max_center_degree: int | None = None,
) -> DataFrame:
    """Neighborhood-Jaccard link prediction (Liben-Nowell & Kleinberg,
    CIKM 2003) over the support-thresholded concept association graph:
    the top_n non-adjacent pairs ranked by Jaccard overlap of their
    neighborhoods — (node_u, node_v, common_neighbors, jaccard). Reads as
    "concepts that don't yet co-occur strongly but share strong
    associates" — the suggestion surface a KG curator reviews.

    Shape: one wedge self-join through the common neighbor (the only
    candidate generator — pairs with zero common neighbors score 0 and
    can never rank, so nothing all-pairs), an anti-join against the
    existing edge set, then a degree join and one global top-n
    (TakeOrderedAndProject — per-partition heads, never a full sort).

    The wedge CENTER is the skew point: a hub of degree d emits C(d,2)
    candidate pairs. ``max_center_degree`` drops hub centers from
    candidate generation (the standard LP approximation at scale — a
    hub's neighborhood is near-uninformative for Jaccard anyway, since
    it inflates the union for every pair it touches); the contract runs
    exact (None) because the concept graph is vocabulary-bounded, the
    same argument as q_two_hop. Ranking is totally ordered (jaccard
    desc, node_u, node_v), so the top-n set is deterministic."""
    und, deg = _association_graph(spark, sf_dir)
    nbrs = und.select(
        F.col("u").alias("b"), F.col("v").alias("x")
    ).unionByName(und.select(F.col("v").alias("b"), F.col("u").alias("x")))
    if max_center_degree is not None:
        nbrs = nbrs.join(
            deg.filter(F.col("degree") <= max_center_degree).select(
                F.col("entity_id").alias("b")
            ),
            "b",
        )
    cand = (
        nbrs.join(nbrs.select("b", F.col("x").alias("y")), "b")
        .filter(F.col("x") < F.col("y"))
        .groupBy("x", "y")
        .agg(F.count("*").alias("common_neighbors"))
        .join(
            und,
            (F.col("x") == F.col("u")) & (F.col("y") == F.col("v")),
            "left_anti",
        )
    )
    scored = (
        cand.join(deg.select(F.col("entity_id").alias("x"),
                             F.col("degree").alias("dx")), "x")
        .join(deg.select(F.col("entity_id").alias("y"),
                         F.col("degree").alias("dy")), "y")
        .select(
            F.col("x").alias("node_u"),
            F.col("y").alias("node_v"),
            "common_neighbors",
            F.round(
                F.col("common_neighbors")
                / (F.col("dx") + F.col("dy") - F.col("common_neighbors")),
                6,
            ).alias("jaccard"),
        )
    )
    return scored.orderBy(
        F.desc("jaccard"), "node_u", "node_v"
    ).limit(top_n)


def link_prediction_sql(top_n: int = LP_TOP_N) -> str:
    from kg.oracles import edges_sql

    return (
        edges_sql().replace("SELECT * FROM edges", "")
        + _ASSOC_CTE
        + f""",
nbrs AS (
  SELECT u AS b, v AS x FROM upairs
  UNION ALL SELECT v, u FROM upairs
),
cand AS (
  SELECT n1.x AS x, n2.x AS y, count(*) AS common_neighbors
  FROM nbrs n1 JOIN nbrs n2 ON n1.b = n2.b AND n1.x < n2.x
  GROUP BY n1.x, n2.x
),
nonadj AS (
  SELECT c.* FROM cand c
  ANTI JOIN upairs p ON c.x = p.u AND c.y = p.v
)
SELECT c.x AS node_u, c.y AS node_v, c.common_neighbors,
       round(c.common_neighbors
             / (d1.degree + d2.degree - c.common_neighbors), 6) AS jaccard
FROM nonadj c
JOIN gdeg d1 ON d1.entity_id = c.x
JOIN gdeg d2 ON d2.entity_id = c.y
ORDER BY jaccard DESC, node_u, node_v
LIMIT {top_n}"""
    )


BFS_MAX_LEVELS = 6


def q_bfs_levels(
    spark: SparkSession, sf_dir: str, max_levels: int = BFS_MAX_LEVELS
) -> DataFrame:
    """Multi-hop reachability: BFS levels over the association graph from
    a deterministic seed (the smallest entity id in the graph) —
    (entity_id, level), level = shortest hop distance, nodes beyond
    ``max_levels`` (or disconnected) absent. The level-synchronous
    frontier loop is the standard distributed BFS (Pregel's traversal
    shape); the reference has no graph traversal at all — its graph IS
    the HNSW index, walked per-query inside Milvus.

    Scale shape: each iteration is one join of the (shrinking) frontier
    against the vocabulary-bounded symmetric pair set, plus an anti-join
    against the visited set — all keyed shuffles on entity ids, no
    global structure on the driver (the driver holds only the loop
    counter). The visited set is checkpointed per level so lineage stays
    flat (the SURVEY §4.3 iterative-plan landmine). At 10^9 nodes the
    visited set would move to a bucketed table; the loop shape is
    unchanged. Oracle: DuckDB ``WITH RECURSIVE`` with the same level cap
    — the composition is checked against a native recursive evaluator.
    """
    und, _ = _association_graph(spark, sf_dir)
    seed = und.agg(F.min("u").alias("entity_id"))
    return bfs_from(und, seed, max_levels)


def bfs_from(und: DataFrame, seed: DataFrame, max_levels: int) -> DataFrame:
    """Level-synchronous BFS over undirected (u, v) pairs from a
    (entity_id) seed frame — see :func:`q_bfs_levels` for semantics and
    the scale argument. Factored out so the loop's min-level/cap/
    disconnected-node semantics are testable on synthetic graphs (the
    fixture's association graph is a near-clique where every level
    collapses to 0/1)."""
    sym = und.select(
        F.col("u").alias("a"), F.col("v").alias("b")
    ).unionByName(und.select(F.col("v").alias("a"), F.col("u").alias("b")))
    levels = seed.withColumn("level", F.lit(0).cast("long"))
    frontier = levels.select("entity_id")
    for i in range(1, max_levels + 1):
        nxt = (
            frontier.join(sym, frontier.entity_id == sym.a)
            .select(F.col("b").alias("entity_id"))
            .distinct()
            .join(levels, "entity_id", "left_anti")
            .withColumn("level", F.lit(i).cast("long"))
            .localCheckpoint(eager=False)
        )
        levels = levels.unionByName(nxt).localCheckpoint(eager=False)
        frontier = nxt.select("entity_id")
    return levels


def bfs_levels_sql(max_levels: int = BFS_MAX_LEVELS) -> str:
    from kg.oracles import edges_sql

    base = edges_sql().replace("SELECT * FROM edges", "") + _ASSOC_CTE
    base = base.replace("\nWITH ", "\nWITH RECURSIVE ", 1)
    return (
        base
        + f""",
sym AS (
  SELECT u AS a, v AS b FROM upairs
  UNION ALL SELECT v, u FROM upairs
),
bfs(entity_id, level) AS (
  SELECT min(u), CAST(0 AS BIGINT) FROM upairs
  UNION
  SELECT s.b, bfs.level + 1
  FROM bfs JOIN sym s ON s.a = bfs.entity_id
  WHERE bfs.level < {max_levels}
)
SELECT entity_id, min(level) AS level FROM bfs GROUP BY entity_id"""
    )


KCORE_ITERS = 6
KCORE_K = 5  # peels ~20% of fixture nodes, and only via a real cascade


def q_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core of the association graph — the densest-cohesion subgraph
    filter (Seidman 1983) a curation pipeline uses to keep only concepts
    embedded in mutually-dense association structure. Output
    (entity_id, core_degree, k): survivors of KCORE_ITERS peeling rounds
    with their within-core degree. On the fixture the k=5 peel removes a
    node whose degree only falls below k AFTER the first round — the
    cascade, not a one-shot degree filter, decides membership.

    Peeling (drop nodes with degree < k, recompute, repeat) is unrolled a
    FIXED number of rounds so DuckDB replays it exactly; convergence on
    the fixture is pytest-asserted (one more round changes nothing), and
    peeling-cascade semantics are pinned on a synthetic triangle+tail
    graph where each round removes exactly one tail node.

    Scale shape: everything after the checkpointed pair set is
    vocabulary-bounded — per round one explode+groupBy for degrees and
    two semi-join-shaped inner joins against the (shrinking) keep set;
    the edge set is checkpointed per round so plan depth stays flat."""
    und, _ = _association_graph(spark, sf_dir)
    return kcore_membership(und, KCORE_K, KCORE_ITERS)


def kcore_membership(und: DataFrame, k: int, iters: int) -> DataFrame:
    """Unrolled k-core peeling over undirected (u, v) pairs — see
    :func:`q_kcore`. Factored out for the synthetic-graph semantics
    tests."""
    edges = und
    for _ in range(iters):
        deg = (
            edges.select(F.explode(F.array("u", "v")).alias("e"))
            .groupBy("e")
            .agg(F.count("*").alias("d"))
        )
        keep = deg.filter(F.col("d") >= k).select("e")
        edges = (
            edges.join(keep.withColumnRenamed("e", "u"), "u")
            .join(keep.withColumnRenamed("e", "v"), "v")
            .select("u", "v")
            .localCheckpoint(eager=False)
        )
    return (
        edges.select(F.explode(F.array("u", "v")).alias("entity_id"))
        .groupBy("entity_id")
        .agg(F.count("*").alias("core_degree"))
        .withColumn("k", F.lit(k).cast("long"))
    )


def kcore_sql(iters: int = KCORE_ITERS) -> str:
    from kg.oracles import edges_sql

    rounds = []
    for t in range(iters):
        rounds.append(f""",
d{t} AS MATERIALIZED (
  SELECT e, count(*) AS d FROM (
    SELECT u AS e FROM e{t} UNION ALL SELECT v FROM e{t}
  ) GROUP BY e
),
e{t + 1} AS MATERIALIZED (
  SELECT e{t}.u, e{t}.v
  FROM e{t} JOIN d{t} a ON a.e = e{t}.u JOIN d{t} b ON b.e = e{t}.v, kval
  WHERE a.d >= kval.k AND b.d >= kval.k
)""")
    return (
        edges_sql().replace("SELECT * FROM edges", "")
        + _ASSOC_CTE
        + f""",
e0 AS MATERIALIZED (SELECT u, v FROM upairs),
kval AS MATERIALIZED (SELECT CAST({KCORE_K} AS BIGINT) AS k){"".join(rounds)}
SELECT entity_id, count(*) AS core_degree, (SELECT k FROM kval) AS k
FROM (
  SELECT u AS entity_id FROM e{iters} UNION ALL SELECT v FROM e{iters}
) GROUP BY entity_id"""
    )


def q_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information of co-mentioned concept pairs — the
    collocation/phrase-mining score an LLM-data pipeline uses to find
    associations stronger than chance (Church & Hanks 1990). Unit of
    observation: one co-mention event (an edge row between two distinct
    concepts); p(u,v) = n_uv/T against independent endpoint draws
    p(u) = cnt_u/2T. Output (node_u, node_v, n_uv, cnt_u, cnt_v, pmi)
    with pmi = ln(4T·n_uv / (cnt_u·cnt_v)) rounded to 6 — the counts are
    exact integers, so the one double expression is fixed-order and
    engine-identical (same contract as the jaccard score).

    Scale shape: ONE shuffle on the 16-byte pair key for n_uv (map-side
    partials); endpoint counts are vocabulary-bounded and broadcast into
    the pair frame; T is a driver scalar literal (one count, like
    q_pagerank's node count). No threshold — PMI itself normalizes for
    frequency; the full pair set is vocabulary²-bounded, never
    corpus-bounded."""
    edges = q_edges(spark, sf_dir).filter(~F.col("pred").startswith("has_"))
    ev = edges.filter(
        F.col("subj_id").isNotNull()
        & F.col("obj_id").isNotNull()
        & (F.col("subj_id") != F.col("obj_id"))
    ).select(
        F.least("subj_id", "obj_id").alias("u"),
        F.greatest("subj_id", "obj_id").alias("v"),
    ).localCheckpoint(eager=False)
    t_total = ev.count()
    n_uv = ev.groupBy("u", "v").agg(F.count("*").alias("n_uv"))
    cnt = (
        ev.select(F.explode(F.array("u", "v")).alias("entity_id"))
        .groupBy("entity_id")
        .agg(F.count("*").alias("cnt"))
    )
    cu = F.broadcast(cnt.select(F.col("entity_id").alias("u"), F.col("cnt").alias("cnt_u")))
    cv = F.broadcast(cnt.select(F.col("entity_id").alias("v"), F.col("cnt").alias("cnt_v")))
    return (
        n_uv.join(cu, "u")
        .join(cv, "v")
        .select(
            F.col("u").alias("node_u"),
            F.col("v").alias("node_v"),
            "n_uv",
            "cnt_u",
            "cnt_v",
            F.round(
                F.log(
                    F.lit(4.0) * F.lit(t_total) * F.col("n_uv")
                    / (F.col("cnt_u") * F.col("cnt_v"))
                ),
                6,
            ).alias("pmi"),
        )
    )


def pmi_sql() -> str:
    from kg.oracles import edges_sql

    return (
        edges_sql().replace("SELECT * FROM edges", "")
        + f""",
ev AS (
  SELECT least(subj_id, obj_id) AS u, greatest(subj_id, obj_id) AS v
  FROM edges
  WHERE {_ASSOC_SQL_FILTER}
),
t AS (SELECT count(*) AS t_total FROM ev),
n_uv AS (SELECT u, v, count(*) AS n_uv FROM ev GROUP BY u, v),
cnt AS (
  SELECT entity_id, count(*) AS cnt FROM (
    SELECT u AS entity_id FROM ev UNION ALL SELECT v FROM ev
  ) GROUP BY entity_id
)
SELECT p.u AS node_u, p.v AS node_v, p.n_uv,
       c1.cnt AS cnt_u, c2.cnt AS cnt_v,
       round(ln(4.0 * t.t_total * p.n_uv / (c1.cnt * c2.cnt)), 6) AS pmi
FROM n_uv p
JOIN cnt c1 ON c1.entity_id = p.u
JOIN cnt c2 ON c2.entity_id = p.v, t"""
    )


def q_pred_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        q_triples_surface(spark, sf_dir)
        .groupBy("pred")
        .agg(F.count("*").alias("n"))
    )


def q_doc_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        q_spans(spark, sf_dir)
        .filter(F.col("kind") != "text")
        .groupBy("doc_id", "kind")
        .agg(F.count("*").alias("n_spans"))
    )
