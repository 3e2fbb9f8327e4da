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

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from kg.ids import id64
from kg.session import local_frame
from kg.vocab import ENTITY_KIND, alias_pairs


def alias_dict(spark: SparkSession) -> DataFrame:
    """(surface, target, target_id) — the broadcast linking dictionary.

    A JVM-local relation (:func:`kg.session.local_frame`), memoized per
    session: the dictionary is static vocabulary (kg.vocab), so one frame
    serves every query (guide §4.5 — heavyweight init once).
    """
    cached = getattr(spark, "_kg_alias_dict_df", None)
    if cached is not None:
        return cached
    df = local_frame(spark, list(alias_pairs()), "surface string, target string")
    df = df.withColumn("target_id", id64(F.concat(F.lit("ent:"), F.col("target"))))
    try:
        spark._kg_alias_dict_df = df
    except AttributeError:  # exotic session proxies: just skip the memo
        pass
    return df


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
    from kg.canonicalize import _canonical_map_rows
    from kg.ids import py_id64

    ent_map = {py_id64("ent:" + s): cid for s, cid, _ in _canonical_map_rows(1000)}
    rows = []
    for s, t in alias_pairs():
        tid = py_id64("ent:" + t)
        rows.append((s, ent_map.get(tid, tid)))
    return sorted(rows)


def composed_link_expr() -> Column:
    """The composed surface->canonical_id map as a LITERAL map Column.

    The map is static vocabulary config (19 entries), so the lookup is a
    constant-folded expression in the same codegen stage as the
    extraction output: no broadcast exchange, no join operator, no
    per-query broadcast-build latency (guide §3 — broadcast the side
    that fits; a side that is literal config folds away entirely).
    Keys are unique (alias_pairs() iterates a set of surfaces). Misses
    read as null, which needs Spark >= 3.4 under ANSI mode (older
    versions raise MAP_KEY_DOES_NOT_EXIST)."""
    rows = _composed_link_rows()
    return F.create_map(*[part for s, fid in rows for part in (F.lit(s), F.lit(fid))])


def _finalize_linked(
    triples_surface: DataFrame, subj_fid: Column, obj_fid: Column
) -> DataFrame:
    """Shared output projection of stage 2 (+3): ``subj_fid``/``obj_fid``
    are the lookup columns (a joined ``_*_fid`` column or a literal-map
    ``GetMapValue``), null when the surface is out of dictionary — the
    fallback/media branches are identical either way."""
    is_mention = F.col("subj_pos") >= 0
    return triples_surface.select(
        "doc_id",
        "offset",
        F.when(
            is_mention,
            F.coalesce(
                subj_fid, id64(F.concat(F.lit("ent:"), F.col("subj_surface")))
            ),
        )
        .otherwise(id64(F.concat(F.lit("doc:"), F.col("doc_id"))))
        .alias("subj_id"),
        F.when(is_mention, F.lit(ENTITY_KIND))
        .otherwise(F.lit("document"))
        .alias("subj_kind"),
        "pred",
        F.when(
            is_mention,
            F.coalesce(
                obj_fid, id64(F.concat(F.lit("ent:"), F.col("obj_surface")))
            ),
        )
        .otherwise(id64(F.col("obj_surface")))
        .alias("obj_id"),
        F.when(is_mention, F.lit(ENTITY_KIND))
        .otherwise(F.lit("media"))
        .alias("obj_kind"),
    )


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
    return _finalize_linked(joined, F.col("_subj_fid"), F.col("_obj_fid"))


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
        m = composed_link_expr()
        return _finalize_linked(
            triples_surface, m[F.col("subj_surface")], m[F.col("obj_surface")]
        )
    return _link_via(triples_surface, canon.select("surface", "canonical_id"))


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
