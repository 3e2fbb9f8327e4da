"""Explicit StructTypes for every table the pipeline touches.

The reference declares its schema as a dict (``data/scripts/config.py:77-85``)
and validates post-hoc (``data/scripts/validate_data.py:64-73``); we declare
Spark StructTypes up front and never rely on inference (SURVEY §1.2).
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

SPAN = StructType(
    [
        StructField("kind", StringType(), False),
        StructField("text", StringType(), False),
        StructField("media_ref", StringType(), False),
        StructField("offset", IntegerType(), False),
    ]
)

# Primary input (BASELINE.json input_hint): interleaved text+media documents.
DOCUMENTS = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("spans", ArrayType(SPAN, False), False),
    ]
)

# Stage 0 output: exploded + normalized spans (order preserved via offset).
SPANS_NORM = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("kind", StringType(), False),
        StructField("text", StringType(), False),
        StructField("media_ref", StringType(), False),
        StructField("offset", IntegerType(), False),
    ]
)

# Stage 1 output: surface-form candidate triples.
TRIPLES_SURFACE = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("offset", IntegerType(), False),
        StructField("subj_surface", StringType(), False),
        StructField("pred", StringType(), False),
        StructField("obj_surface", StringType(), False),
        StructField("subj_pos", IntegerType(), False),
        StructField("obj_pos", IntegerType(), False),
    ]
)

# Stage 2 output: entity-linked triples (pre-canonicalization).
TRIPLES_LINKED = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("offset", IntegerType(), False),
        StructField("subj_id", LongType(), False),
        StructField("subj_kind", StringType(), False),
        StructField("pred", StringType(), False),
        StructField("obj_id", LongType(), False),
        StructField("obj_kind", StringType(), False),
    ]
)

# Entity catalog (linking target; FIXTURES.md §2).
ENTITY_CATALOG = StructType(
    [
        StructField("entity_id", LongType(), False),
        StructField("name", StringType(), False),
        StructField("kind", StringType(), False),
        StructField("aliases", ArrayType(StringType(), False), False),
    ]
)

NODES = StructType(
    [
        StructField("entity_id", LongType(), False),
        StructField("name", StringType(), False),
        StructField("kind", StringType(), False),
        StructField("n_mentions", LongType(), False),
    ]
)

EDGES = StructType(
    [
        StructField("subj_id", LongType(), False),
        StructField("pred", StringType(), False),
        StructField("obj_id", LongType(), False),
        StructField("doc_id", StringType(), False),
        StructField("offset", IntegerType(), False),
        StructField("bucket", IntegerType(), False),
    ]
)
