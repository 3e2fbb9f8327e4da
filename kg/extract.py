"""Stage 1 — triple extraction (mention detection + relation extraction).

Semantics (deterministic dictionary "model" — see kg.vocab):
* tokens  = non-empty whitespace split of a normalized text span;
* mention = token in ENTITY_SURFACES, at 0-based position ``p``;
* for every pair of *consecutive* mentions (p1 < p2) the triple is
  ``(subj=tok[p1], pred, obj=tok[p2])`` where ``pred`` is the first
  PREDICATES token strictly between p1 and p2, else ``near``;
* every media span emits ``(doc_id, has_<kind>, media_ref)``.

:func:`extract_triples` is the native implementation: pure array
higher-order functions (filter/transform/zip_with/slice) and one
``explode`` over a single scan of the spans, zero shuffle, whole-stage
codegen. It serves the stagewise contract queries
(``kg_triples_surface`` and the ``kg_linked``/``kg_edges``/``kg_nodes``
chain) and is the tests' reference. The shipping path runs the same rules
in the Arrow clean+extract kernel, :func:`kg.fused.clean_extract`
(reached through :func:`kg.fused.extract_documents`, batch and stream) — the
slot where a real extraction model would sit (reference analog: the
batched sentence-transformer encode, ``embed/embedding_generator.py:126-166``);
tests assert the two equal on hand cases and on the corpus.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kg.vocab import DEFAULT_PRED, ENTITY_SURFACES, PREDICATES

def _ent_arr() -> Column:
    return F.array(*[F.lit(w) for w in ENTITY_SURFACES])


def _pred_arr() -> Column:
    return F.array(*[F.lit(w) for w in PREDICATES])


def _mention_pairs(toks: Column) -> Column:
    """array<struct<subj,pred,obj,subj_pos,obj_pos>> from a token array."""
    ents = _ent_arr()
    n_tok = F.size(toks)
    positions = F.when(n_tok > 0, F.sequence(F.lit(0), n_tok - 1)).otherwise(
        F.array().cast("array<int>")
    )
    ment = F.filter(
        positions, lambda i: F.array_contains(ents, F.element_at(toks, i + 1))
    )
    n = F.size(ment)
    pair_pos = F.when(
        n >= 2,
        F.zip_with(
            F.slice(ment, 1, n - 1),
            F.slice(ment, 2, n - 1),
            lambda p1, p2: F.struct(p1.alias("p1"), p2.alias("p2")),
        ),
    ).otherwise(F.array().cast("array<struct<p1:int,p2:int>>"))
    return F.transform(pair_pos, lambda pp: _pair_to_triple(toks, pp))


def _pair_to_triple(toks: Column, pp: Column) -> Column:
    p1, p2 = pp["p1"], pp["p2"]
    between = F.when(p2 > p1 + 1, F.sequence(p1 + 1, p2 - 1)).otherwise(
        F.array().cast("array<int>")
    )
    preds = _pred_arr()
    pred_positions = F.filter(
        between, lambda q: F.array_contains(preds, F.element_at(toks, q + 1))
    )
    pred = F.coalesce(
        F.try_element_at(
            F.transform(pred_positions, lambda q: F.element_at(toks, q + 1)), F.lit(1)
        ),
        F.lit(DEFAULT_PRED),
    )
    return F.struct(
        F.element_at(toks, p1 + 1).alias("subj_surface"),
        pred.alias("pred"),
        F.element_at(toks, p2 + 1).alias("obj_surface"),
        p1.cast("int").alias("subj_pos"),
        p2.cast("int").alias("obj_pos"),
    )


def extract_triples(spans_norm: DataFrame) -> DataFrame:
    """Native-HOF extraction over stage-0 output. Returns TRIPLES_SURFACE.

    One pass: each span yields an array of triples (its mention pairs
    for a text span, the one media triple otherwise) and a single
    ``explode`` flattens them, so the spans are scanned once. A text
    branch unioned with a media branch would plan the scan, and its
    spread exchange, twice.

    Tokens are materialized as a column (one split per row) BEFORE the
    higher-order functions: passing the raw split expression into the
    lambdas would inline it at every element_at reference — O(tokens²)
    recomputation of the split (and of the upstream cleaning chain) per
    span.
    """
    toks_expr = F.filter(F.split(F.col("text"), " "), lambda w: w != F.lit(""))
    with_toks = spans_norm.select(
        "doc_id", "offset", "kind", "media_ref", toks_expr.alias("_toks")
    )
    media = F.array(
        F.struct(
            F.col("doc_id").alias("subj_surface"),
            F.concat(F.lit("has_"), F.col("kind")).alias("pred"),
            F.col("media_ref").alias("obj_surface"),
            F.lit(-1).cast("int").alias("subj_pos"),
            F.lit(-1).cast("int").alias("obj_pos"),
        )
    )
    triples = F.when(
        F.col("kind") == "text", _mention_pairs(F.col("_toks"))
    ).otherwise(media)
    return with_toks.select("doc_id", "offset", F.explode(triples).alias("t")).select(
        "doc_id",
        "offset",
        "t.subj_surface",
        "t.pred",
        "t.obj_surface",
        "t.subj_pos",
        "t.obj_pos",
    )
