"""Stage 0 — ingest/normalize: explode spans, clean text spans.

Input: interleaved documents ``(doc_id, spans)``; output: flat
``SPANS_NORM`` rows. The per-row invariant (BASELINE.json input_hint) is
that the ordered span sequence ``(kind, text, media_ref, order)`` per
document is preserved — order is the explicit ``offset`` column, never
implicit row order (SURVEY §7.4.2; reference's positional-alignment
landmine, ``infra/scripts/load_data.py:51-63``).

Cleaning applies only to text spans; media spans pass through untouched.
Reference analog: the per-record cleaning stage
``data/scripts/data_processor.py:159-171``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kg.cleaning import clean_text_col


def explode_spans(docs: DataFrame) -> DataFrame:
    """(doc_id, spans) -> flat span rows. Pure narrow transform."""
    return docs.select(F.col("doc_id"), F.explode("spans").alias("sp")).select(
        "doc_id",
        F.col("sp.kind").alias("kind"),
        F.col("sp.text").alias("text"),
        F.col("sp.media_ref").alias("media_ref"),
        F.col("sp.offset").alias("offset"),
    )


def normalize_spans(docs: DataFrame) -> DataFrame:
    """Stage 0: explode + normalize text spans (native expression chain)."""
    return explode_spans(docs).withColumn(
        "text",
        F.when(F.col("kind") == "text", clean_text_col(F.col("text"))).otherwise(
            F.col("text")
        ),
    )


def reassemble_spans(spans_norm: DataFrame) -> DataFrame:
    """Re-nest stage-0 output back to (doc_id, spans) ordered by offset.

    Used by the span-sequence-invariant test: reassemble(normalize(x))
    must equal x (modulo text cleaning, which is identity on an
    already-clean corpus).
    """
    return (
        spans_norm.groupBy("doc_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("offset", "kind", "text", "media_ref"))
            ).alias("ordered")
        )
        .select(
            "doc_id",
            F.transform(
                "ordered",
                lambda s: F.struct(
                    s["kind"].alias("kind"),
                    s["text"].alias("text"),
                    s["media_ref"].alias("media_ref"),
                    s["offset"].alias("offset"),
                ),
            ).alias("spans"),
        )
    )
