"""Stage 0 — ingest/normalize: explode spans, clean text spans.

Input: interleaved documents ``(doc_id, spans)``; output: flat
``SPANS_NORM`` rows. The per-row invariant (BASELINE.json input_hint) is
that the ordered span sequence ``(kind, text, media_ref, order)`` per
document is preserved — order is the explicit ``offset`` column, never
implicit row order (SURVEY §7.4.2; reference's positional-alignment
landmine, ``infra/scripts/load_data.py:51-63``).

Cleaning applies only to text spans — the clean+extract kernel's own
cleaning (kg.cleaning.clean_text_pandas) — and media spans pass through
untouched.
Reference analog: the per-record cleaning stage
``data/scripts/data_processor.py:159-171``.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kg.cleaning import clean_text_pandas
from kg.schemas import SPANS_NORM


def explode_spans(docs: DataFrame) -> DataFrame:
    """(doc_id, spans) -> flat span rows. Pure narrow transform."""
    return docs.select(F.col("doc_id"), F.explode("spans").alias("sp")).select(
        "doc_id",
        F.col("sp.kind").alias("kind"),
        F.col("sp.text").alias("text"),
        F.col("sp.media_ref").alias("media_ref"),
        F.col("sp.offset").alias("offset"),
    )


def clean_spans(spans: pd.DataFrame) -> pd.DataFrame:
    """Exploded spans frame -> the same frame with its text rows cleaned."""
    text = spans["text"].to_numpy(dtype=object).copy()
    is_text = (spans["kind"] == "text").to_numpy()
    text[is_text] = clean_text_pandas(pd.Series(text[is_text], dtype=object))
    return spans.assign(text=text)


def _clean_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        yield clean_spans(pdf)


def normalize_spans(docs: DataFrame) -> DataFrame:
    """Stage 0: explode + normalize text spans (one ``MapInPandas``)."""
    return explode_spans(docs).mapInPandas(_clean_batches, schema=SPANS_NORM)


def reassemble_spans(spans_norm: DataFrame) -> DataFrame:
    """Re-nest exploded spans back to (doc_id, spans) ordered by offset
    (kg.synth.load_interleaved; the span-sequence-invariant test checks
    that reassemble(normalize(x)) is x with its text spans cleaned)."""
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
