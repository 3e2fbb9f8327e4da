"""Deterministic derivation of the interleaved-documents input table.

The north-rule input contract is
``(doc_id: string, spans: array<struct<kind,text,media_ref,offset>>)``.
No such table ships with the sandbox, so we derive one deterministically
from the driver-provided flat ``documents.parquet``
(``doc_id:int64, text:string, ...``): the text is chunked into 6-word
spans, and every span where ``(doc_id + span_idx) % 4 == 0`` becomes a
media span (image/audio/video round-robin) carrying a synthetic
``media_ref`` instead of text.

Entirely native array expressions (sequence/slice/transform) — zero
shuffle, fully whole-stage-codegen, so the derivation itself is free at
100 TB scale. The identical derivation is expressed in DuckDB SQL in
``__spark_entry__.oracle_sql`` so every downstream stage is
oracle-checkable end to end.

Reference analog: the size-targeted partition cutter
(``data/scripts/data_processor.py:305-365``) also reshapes a flat record
stream into a partitioned layout; here the reshaping is logical (spans)
rather than physical (files).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from kg.session import spread_small_scan

WORDS_PER_SPAN = 6
MEDIA_EVERY = 4  # span is media iff (doc_id + span_idx) % MEDIA_EVERY == 0
MEDIA_KINDS = ["image", "audio", "video"]

# --- planted dirt (round-3 VERDICT item 2) -------------------------------
# The driver corpus is clean lowercase [a-z0-9 ] by construction, which
# made the cleaning chain an identity on every span the driver ever
# checked — kg_spans_normalize shared kg_spans_raw's oracle and the chain
# was pinned only by pytest. A deterministic fraction of TEXT spans now
# carries HTML/LaTeX/URL/email/entity/case/whitespace/accent junk, derived
# from (doc_id, offset) alone so Spark, the fused Arrow kernel, and DuckDB
# produce byte-identical raw spans. Every template is constructed so the
# reference cleaning chain (kg.cleaning; text_cleaner.py:15-127 semantics)
# recovers EXACTLY the pristine chunk — asserted per-template in
# tests/test_cleaning.py — so downstream extraction oracles build from the
# pristine derivation while Spark's pipeline genuinely runs
# dirty-span -> clean -> extract on every driver-checked row.
DIRT_EVERY = 3  # text span is dirty iff (doc_id + span_idx) % 3 == 1
N_DIRT_TEMPLATES = 7  # template = ((doc_id + span_idx) // 3) % 7

# Template 6 (round-4 VERDICT item 3): accented substitutions — swap the
# five ASCII vowels for accent-table chars (a->à e->é i->î o->ö u->ù).
# Every target char is in the cleaning chain's fixed accent-fold table
# (kg.cleaning._ACCENT_SRC/_DST; reference text_cleaner.py:32-40,65-76),
# so the fold restores the pristine chunk exactly — this was the one
# cleaning step (T4 unicode/accent) no driver row ever exercised.
# translate() is code-point based in all three engines, so the dirty
# spans stay byte-identical across Spark / pandas / DuckDB.
_ACCENT_DIRT_SRC = "aeiou"
_ACCENT_DIRT_DST = "àéîöù"
_ACCENT_DIRT_TABLE = str.maketrans(_ACCENT_DIRT_SRC, _ACCENT_DIRT_DST)


def plant_dirt_py(doc_num: int, i: int, chunk: str) -> str:
    """Python mirror of the Spark/DuckDB dirt injection (fused kernel +
    test reference). Identity for spans outside the dirty selector."""
    s = doc_num + i
    if s % DIRT_EVERY != 1:
        return chunk
    t = (s // DIRT_EVERY) % N_DIRT_TEMPLATES
    if t == 0:  # html tags
        return '<p class="x">' + chunk + "</p>"
    if t == 1:  # latex \cmd{..}, line break, bare command
        return "\\textbf{" + chunk + "} \\\\ \\noindent"
    if t == 2:  # url
        return chunk + " http://spam.example.com/x?y=1"
    if t == 3:  # email
        return chunk + " spam.bot@example.com"
    if t == 4:  # html entities + uppercase
        return "&nbsp;&nbsp;" + chunk.upper()
    if t == 5:  # whitespace runs + stray $ math delimiters
        return chunk.replace(" ", "  ") + " $$"
    # t == 6: accented vowels (folds back via the fixed accent table)
    return chunk.translate(_ACCENT_DIRT_TABLE)


def _dirt_col(doc_num: Column, i: Column, clean: Column) -> Column:
    """Spark-native mirror of :func:`plant_dirt_py`. The floor-division is
    exact: (doc_num + i) stays far below 2^53."""
    s = doc_num + i
    t = F.floor(s / F.lit(DIRT_EVERY)).cast("long") % N_DIRT_TEMPLATES
    dirty = (
        F.when(t == 0, F.concat(F.lit('<p class="x">'), clean, F.lit("</p>")))
        .when(t == 1, F.concat(F.lit("\\textbf{"), clean, F.lit("} \\\\ \\noindent")))
        .when(t == 2, F.concat(clean, F.lit(" http://spam.example.com/x?y=1")))
        .when(t == 3, F.concat(clean, F.lit(" spam.bot@example.com")))
        .when(t == 4, F.concat(F.lit("&nbsp;&nbsp;"), F.upper(clean)))
        .when(
            t == 5,
            F.concat(F.replace(clean, F.lit(" "), F.lit("  ")), F.lit(" $$")),
        )
        .otherwise(F.translate(clean, _ACCENT_DIRT_SRC, _ACCENT_DIRT_DST))
    )
    return F.when(s % DIRT_EVERY == 1, dirty).otherwise(clean)


def sql_dirt(chunk: str, key: str) -> str:
    """DuckDB mirror of :func:`plant_dirt_py` — ``chunk``/``key`` are SQL
    expressions for the pristine text and (doc_id + offset). DuckDB
    single-quoted literals are verbatim (no escape sequences), so the
    backslash templates below read exactly as Python's raw strings."""
    t = f"(({key}) // {DIRT_EVERY}) % {N_DIRT_TEMPLATES}"
    return f"""CASE WHEN ({key}) % {DIRT_EVERY} <> 1 THEN {chunk}
      WHEN {t} = 0 THEN '<p class="x">' || {chunk} || '</p>'
      WHEN {t} = 1 THEN '\\textbf{{' || {chunk} || '}} \\\\ \\noindent'
      WHEN {t} = 2 THEN {chunk} || ' http://spam.example.com/x?y=1'
      WHEN {t} = 3 THEN {chunk} || ' spam.bot@example.com'
      WHEN {t} = 4 THEN '&nbsp;&nbsp;' || upper({chunk})
      WHEN {t} = 5 THEN replace({chunk}, ' ', '  ') || ' $$'
      ELSE translate({chunk}, '{_ACCENT_DIRT_SRC}', '{_ACCENT_DIRT_DST}') END"""


def _span_struct(doc_num: Column, words: Column, i: Column) -> Column:
    chunk = F.slice(words, i * WORDS_PER_SPAN + 1, WORDS_PER_SPAN)
    is_media = (doc_num + i) % MEDIA_EVERY == 0
    kind = F.when(
        is_media,
        F.element_at(F.array(*[F.lit(k) for k in MEDIA_KINDS]), ((doc_num + i) % 3 + 1).cast("int")),
    ).otherwise(F.lit("text"))
    media_ref = F.when(
        is_media, F.concat(F.lit("media://"), kind, F.lit("/"), doc_num, F.lit("-"), i)
    ).otherwise(F.lit(""))
    text = F.when(is_media, F.lit("")).otherwise(
        _dirt_col(doc_num, i, F.array_join(chunk, " "))
    )
    return F.struct(
        kind.alias("kind"),
        text.alias("text"),
        media_ref.alias("media_ref"),
        i.cast("int").alias("offset"),
    )


def interleaved_documents(flat_docs: DataFrame) -> DataFrame:
    """Flat (doc_id:int64, text) -> interleaved (doc_id:string, spans).

    Staged through non-colliding intermediate names (_doc_num/_words): the
    output column is also called ``doc_id``, and a same-name alias inside
    one projection can be rewired into the span lambda when Catalyst
    collapses projections.
    """
    staged = flat_docs.select(
        F.col("doc_id").cast("long").alias("_doc_num"),
        F.filter(F.split(F.col("text"), " "), lambda w: w != F.lit("")).alias("_words"),
    )
    doc_num = F.col("_doc_num")
    words = F.col("_words")
    n_spans = F.ceil(F.size(words) / F.lit(WORDS_PER_SPAN)).cast("long")
    spans = F.when(
        n_spans > 0,
        F.transform(
            F.sequence(F.lit(0).cast("long"), n_spans - 1),
            lambda i: _span_struct(doc_num, words, i),
        ),
    ).otherwise(F.array().cast("array<struct<kind:string,text:string,media_ref:string,offset:int>>"))
    return staged.select(
        F.format_string("doc-%07d", doc_num).alias("doc_id"),
        spans.alias("spans"),
    )


REPLICA_STRIDE = 100_000  # doc-%07d supports up to 100 replicas of ids < 1e5


def load_interleaved(
    spark: SparkSession, sf_dir: str, replicate: int = 1
) -> DataFrame:
    """Read the driver's flat documents table and derive the spans table.

    ``replicate > 1`` tiles the corpus deterministically (replica r shifts
    doc ids by ``r * REPLICA_STRIDE``) — used by the scaling bench to make
    the job compute-bound at local[N] so parallel efficiency is measurable;
    semantics per document are unchanged.
    """
    # Spread BEFORE the replicate crossJoin so only the base corpus is
    # shuffled, not the tiled payload (guide §2.3 — shuffle fewer bytes;
    # each base partition fans out to `replicate` equal outputs, so the
    # balance is identical).
    flat = spread_small_scan(spark, spark.read.parquet(f"{sf_dir}/documents.parquet"))
    if replicate > 1:
        reps = spark.range(replicate).select(F.col("id").alias("_rep"))
        flat = flat.crossJoin(F.broadcast(reps)).select(
            (F.col("doc_id") + F.col("_rep") * REPLICA_STRIDE).alias("doc_id"),
            "text",
        )
    return interleaved_documents(flat)


# DuckDB SQL fragments producing the *exploded* spans (doc_id, kind, text,
# media_ref, offset) from the registered `documents` view — the oracle
# mirror of interleaved_documents() followed by posexplode. Kept here so
# all derivation constants live in one module.
#
# Two variants sharing one body:
# * SQL_EXPLODED_SPANS — the RAW spans (WITH planted dirt): oracle for
#   kg_spans_raw and input to the kg_spans_normalize cleaning-chain oracle.
# * SQL_EXPLODED_SPANS_CLEAN — the PRISTINE chunks (no dirt). Downstream
#   extraction oracles (triples/edges/nodes/...) build on this: every dirt
#   template cleans back to exactly the pristine chunk (pinned per
#   template in tests/test_cleaning.py and end-to-end by the
#   kg_spans_normalize driver row), so tokenizing the pristine text is
#   equivalent to tokenizing clean(dirty text) — without nesting the whole
#   regex chain under every downstream CTE.
_SQL_SPANS_BODY = f"""
WITH w AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS words
  FROM documents
), u AS (
  SELECT doc_id, unnest(words) AS word, unnest(range(len(words))) AS wi
  FROM w
), s AS (
  SELECT doc_id, wi // {WORDS_PER_SPAN} AS "offset",
         string_agg(word, ' ' ORDER BY wi) AS chunk
  FROM u GROUP BY doc_id, wi // {WORDS_PER_SPAN}
)
SELECT printf('doc-%07d', doc_id) AS doc_id,
       CASE WHEN (doc_id + "offset") % {MEDIA_EVERY} = 0
            THEN ['image','audio','video'][CAST((doc_id + "offset") % 3 AS int) + 1]
            ELSE 'text' END AS kind,
       CASE WHEN (doc_id + "offset") % {MEDIA_EVERY} = 0 THEN ''
            ELSE {{text_expr}} END AS text,
       CASE WHEN (doc_id + "offset") % {MEDIA_EVERY} = 0
            THEN 'media://' ||
                 (['image','audio','video'][CAST((doc_id + "offset") % 3 AS int) + 1]) ||
                 '/' || doc_id || '-' || "offset"
            ELSE '' END AS media_ref,
       CAST("offset" AS int) AS "offset"
FROM s
"""

SQL_EXPLODED_SPANS = _SQL_SPANS_BODY.format(
    text_expr=sql_dirt("chunk", f'doc_id + "offset"')
)
SQL_EXPLODED_SPANS_CLEAN = _SQL_SPANS_BODY.format(text_expr="chunk")


def write_planted_embeddings(
    out_dir: str,
    n_clusters: int = 32,
    per_cluster: int = 32,
    dim: int = 64,
    noise: float = 0.15,
    seed: int = 42,
) -> str:
    """Deterministic planted-cluster embedding fixture for ANN RECALL
    measurement (the sandbox sf* embeddings are random unit vectors, so
    recall on them is chance-level BY CONSTRUCTION — round-2 VERDICT).

    Writes ``{out_dir}/embeddings.parquet`` with the exact testdata schema
    (vec_id int64, embedding list<float32>, label int32): n_clusters unit
    centers; each point = L2-normalize(center + noise * gaussian); point i
    belongs to cluster i % n_clusters, so vec_ids 1..n_clusters (the IVF
    centroid slots) land in n_clusters DISTINCT clusters — one
    representative per cluster, the planted analog of a kmeans result.
    label = cluster id. Returns the parquet path.

    noise=0.15 is tuned so the IVF probe dial sweeps a meaningful recall
    curve (probe 1->8 of 32 cells: ~0.72 -> ~0.98) instead of saturating
    at 1.0 (tighter clusters) or collapsing (looser): that curve is the
    recall/latency trade the reference's `ef` dial expresses.
    """
    import os

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    centers = rng.standard_normal((n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    n = n_clusters * per_cluster
    labels = np.arange(n, dtype=np.int64) % n_clusters
    pts = centers[labels] + noise * rng.standard_normal((n, dim))
    pts /= np.linalg.norm(pts, axis=1, keepdims=True)
    pts = pts.astype(np.float32)

    table = pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(pts), type=pa.list_(pa.float32())),
            "label": pa.array(labels.astype(np.int32)),
        }
    )
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "embeddings.parquet")
    pq.write_table(table, path)
    return path
