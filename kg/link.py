"""Stage 2+3 — entity linking composed with canonicalization, + salted join.

:func:`link_canonicalize_triples` is the one stage-2+3 pass (batch
pipeline, staged resume, streaming micro-batches, graph queries): each
mention surface resolves straight to its canonical entity — through the
alias dictionary (one hop of kg.vocab.ALIAS_EDGES) composed with the
dictionary canonical map, or through a corpus canonical map; unresolved
surfaces get a deterministic provisional entity (``ent:<surface>``).
Media triples link subject->document node and object->media node
directly (no dictionary needed). :func:`link_triples` (stage 2 alone)
serves the ``kg_linked`` contract query and the tests' reference chain.

Skew: a head entity ("the" of entities) makes a linking join's build/
probe hot on one key. Defenses:
* no shuffle of the big side at all — the dictionary folds into a literal
  map expression, and a corpus canonical map is broadcast;
* :func:`salted_join` for the case where the right side is too big to
  broadcast — explodes the small side xK salts and sprays the hot keys of
  the big side across K partitions. AQE skew-join stays enabled as the
  backstop (kg.session).

Reference analog: the kNN entity lookup against Milvus
(``api/milvus_adapter.py:80-94``) — the "find the entity for this
surface" operation — re-expressed as joins (SURVEY §2.6 J2).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from kg.ids import id64, spark_sql_id64
from kg.session import local_frame, session_cached
from kg.vocab import ENTITY_KIND, alias_pairs


def alias_dict(spark: SparkSession) -> DataFrame:
    """(surface, target, target_id) — the broadcast linking dictionary.

    A JVM-local relation (:func:`kg.session.local_frame`), memoized per
    session: the dictionary is static vocabulary (kg.vocab), so one frame
    serves every query (guide §4.5 — heavyweight init once).
    """
    return session_cached(
        spark,
        "alias_dict",
        lambda: local_frame(
            spark, list(alias_pairs()), "surface string, target string"
        ).withColumn("target_id", id64(F.concat(F.lit("ent:"), F.col("target")))),
    )


def _composed_link_rows() -> list[tuple[str, int]]:
    """(surface, final_id) — the alias-dictionary hop COMPOSED with the
    canonical-map remap, computed driver-side over the two static tables.

    Equivalence with the two-stage chain (link_triples then
    canonicalize_triples): a mention surface s in the dictionary maps to
    target_id = id64('ent:'+target(s)), which stage 3 remaps through
    ent_map = {id64('ent:'+surface): canonical_id} when present; a
    surface outside the dictionary falls back to id64('ent:'+s), which
    is never an ent_map key (ent_map keys cover exactly the dictionary
    surfaces). So the composition is a pure function of the two static
    dictionaries and collapses stage 2+3 into ONE map — asserted equal
    to the two-stage chain in tests/test_link.py.
    """
    from kg.canonicalize import dictionary_rows
    from kg.ids import py_id64

    ent_map = {py_id64("ent:" + s): cid for s, cid, _ in dictionary_rows()}
    rows = []
    for s, t in alias_pairs():
        tid = py_id64("ent:" + t)
        rows.append((s, ent_map.get(tid, tid)))
    return sorted(rows)


def _sql_str(s: str) -> str:
    """A Spark SQL string literal (the parser reads backslash escapes)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _sql_lit(v: str | int) -> str:
    """A str as a Spark SQL string literal, an int as a bigint one."""
    return _sql_str(v) if isinstance(v, str) else f"{v}L"


def composed_link_expr(rows: Sequence[tuple[str | int, str | int]]) -> str:
    """``(key, value)`` rows as a LITERAL map, in Spark SQL: the composed
    ``(surface, final_id)`` link rows, or the ``(entity_id, name)``
    concept name map of kg.queries.q_top_entities.

    The map is static vocabulary config (~20 entries), so the lookup is a
    constant-folded expression in the same codegen stage as the
    extraction output: no broadcast exchange, no join operator, no
    per-query broadcast-build latency (guide §3 — broadcast the side
    that fits; a side that is literal config folds away entirely).
    Misses read as null, which needs Spark >= 3.4 under ANSI mode (older
    versions raise MAP_KEY_DOES_NOT_EXIST). A key that two rows share
    raises ``ValueError`` here: under the default
    ``spark.sql.mapKeyDedupPolicy=EXCEPTION`` the map would otherwise
    fail mid-query."""
    seen: set[str | int] = set()
    for k, _ in rows:
        if k in seen:
            raise ValueError(f"composed_link_expr: duplicate key {k!r}")
        seen.add(k)
    return "map(" + ", ".join(f"{_sql_lit(k)}, {_sql_lit(v)}" for k, v in rows) + ")"


EDGE_COLS = ("subj_id", "pred", "obj_id", "doc_id", "offset")


def _link_projection(subj_fid: str, obj_fid: str) -> dict[str, str]:
    """Shared output projection of stage 2 (+3), output name -> Spark SQL:
    ``subj_fid``/``obj_fid`` are the lookup expressions (a joined
    ``_*_fid`` column or a literal-map lookup), null when the surface is
    out of dictionary — the fallback/media branches are identical either
    way. Built from strings because the same projection built from
    Column objects costs ~570 py4j calls per plan, and the stream plans
    it at every query start."""

    def ent(col: str) -> str:
        return spark_sql_id64(f"concat('ent:', `{col}`)")

    mention = "`subj_pos` >= 0"
    entity = _sql_str(ENTITY_KIND)
    doc_node = spark_sql_id64("concat('doc:', `doc_id`)")
    media_node = spark_sql_id64("`obj_surface`")
    return {
        "doc_id": "`doc_id`",
        "offset": "`offset`",
        "subj_id": f"CASE WHEN {mention} THEN coalesce({subj_fid}, "
        f"{ent('subj_surface')}) ELSE {doc_node} END",
        "subj_kind": f"CASE WHEN {mention} THEN {entity} ELSE 'document' END",
        "pred": "`pred`",
        "obj_id": f"CASE WHEN {mention} THEN coalesce({obj_fid}, "
        f"{ent('obj_surface')}) ELSE {media_node} END",
        "obj_kind": f"CASE WHEN {mention} THEN {entity} ELSE 'media' END",
    }


def _dict_link_columns(spark: SparkSession) -> dict[str, Column]:
    """Dictionary-mode projection, parsed once and memoized per session
    like :func:`alias_dict`: the vocabulary is static, so every plan
    (batch build, each stream start) selects the same Columns. A
    ``selectExpr`` re-parses the strings on every call, which was half
    the ~17 ms it took to plan the projection on a stream."""

    def build() -> dict[str, Column]:
        m = composed_link_expr(_composed_link_rows())
        proj = _link_projection(f"{m}[`subj_surface`]", f"{m}[`obj_surface`]")
        return {name: F.expr(e).alias(name) for name, e in proj.items()}

    return session_cached(spark, "link_columns", build)


def _link_via(triples_surface: DataFrame, lookup: DataFrame) -> DataFrame:
    """Resolve both mention sides through a ``(surface, id)`` frame: one
    broadcast left join per side, then the shared projection.

    Single scan, branch-free: a mention/media filter-and-union would
    execute the (possibly expensive) upstream extraction twice. Media
    rows (subj_pos < 0) simply never match and take the CASE branch."""
    b = F.broadcast(lookup.toDF("surface", "_fid"))
    joined = triples_surface.join(
        b.select(
            F.col("surface").alias("subj_surface"), F.col("_fid").alias("_subj_fid")
        ),
        "subj_surface",
        "left",
    ).join(
        b.select(
            F.col("surface").alias("obj_surface"), F.col("_fid").alias("_obj_fid")
        ),
        "obj_surface",
        "left",
    )
    proj = _link_projection("`_subj_fid`", "`_obj_fid`")
    return joined.selectExpr(*(f"{e} AS `{name}`" for name, e in proj.items()))


def link_canonicalize_triples(
    triples_surface: DataFrame,
    spark: SparkSession,
    canon: DataFrame | None = None,
) -> DataFrame:
    """Stage 2+3 in ONE pass: TRIPLES_SURFACE -> canonical TRIPLES.

    ``canon=None`` (dictionary mode): the composed surface->canonical_id
    map folded into a literal map expression (:func:`composed_link_expr`)
    — zero joins, zero broadcast exchanges, the whole linking step is a
    projection in the extraction stage. Output-identical to
    ``canonicalize_triples(link_triples(t, alias_dict(spark)), canonical_map(spark))``.

    ``canon`` = a corpus canonical map (``surface, canonical_id, ...``,
    one row per surface — kg.canonicalize.canonical_map_from_corpus):
    there is no alias dictionary, so every mention's provisional id is
    its raw surface's and the canonical map is keyed on that surface —
    one broadcast lookup per mention side. Output-identical to
    ``canonicalize_triples(link_triples(t, <empty alias frame>), canon)``.

    Both equivalences are asserted in tests/test_link.py."""
    if canon is None:
        return triples_surface.select(*_dict_link_columns(spark).values())
    return _link_via(triples_surface, canon.select("surface", "canonical_id"))


def link_canonicalize_edges(triples_surface: DataFrame, spark: SparkSession) -> DataFrame:
    """Dictionary-mode :func:`link_canonicalize_triples` projected straight
    to the five :data:`EDGE_COLS` in ONE select (the edges the stream and
    ``q_edges`` write). Each select on a streaming plan costs an analysis
    pass, ~7 ms at every stream start."""
    cols = _dict_link_columns(spark)
    return triples_surface.select(*(cols[c] for c in EDGE_COLS))


def link_triples(triples_surface: DataFrame, aliases: DataFrame) -> DataFrame:
    """TRIPLES_SURFACE -> TRIPLES_LINKED (stage 2 alone, uncanonicalized)
    via broadcast dictionary joins — the ``kg_linked`` contract query and
    the tests' reference for :func:`link_canonicalize_triples`."""
    return _link_via(triples_surface, aliases.select("surface", "target_id"))


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    n_salts: int = 16,
    how: str = "left",
) -> DataFrame:
    """Skew-defusing equi-join: salt the big side, explode the small side.

    ``big`` gains ``_salt = pmod(xxhash64(key, row-entropy), n_salts)``;
    ``small`` is replicated n_salts times; the join key becomes
    (key, _salt), so a single hot key spreads over ``n_salts`` tasks.
    Columns returned = big's columns + small's non-key columns (matching a
    plain ``big.join(small, key, how)``).
    """
    salt_src = [F.col(c) for c in big.columns]
    salted_big = big.withColumn("_salt", F.pmod(F.xxhash64(*salt_src), F.lit(n_salts)))
    exploded_small = small.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    ).withColumn("_salt", F.col("_salt").cast(salted_big.schema["_salt"].dataType))
    out = salted_big.join(exploded_small, [key, "_salt"], how)
    return out.drop("_salt")
