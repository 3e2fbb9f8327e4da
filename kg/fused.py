"""Fused Arrow extraction: stages 0+1 in ONE vectorized clean+extract
kernel over exploded spans, with a flat-documents adapter in front. This
is the engine's one extraction implementation: the batch pipeline, the
stream and every stagewise contract query run it; the DuckDB oracles
(kg.oracles) are the reference.

* :func:`clean_extract` — exploded spans ``(doc_id, kind, text,
  media_ref, offset)`` -> TRIPLES_SURFACE: cleans the text spans
  (kg.cleaning), emits mention pairs and reads media triples straight
  from ``kind``/``media_ref``.
* kg.synth.derive_spans — flat ``(doc_id:int64, text)`` -> the same span
  columns, planted dirt included. It runs inside the kernel's Python
  call, so flat input crosses the Python boundary once, as raw
  documents.

:func:`extract_documents` is the one extraction plan over a documents
DataFrame, batch or streaming: it picks the adapter from the schema (a
``(doc_id, spans)`` table is exploded natively; flat documents go
through derive + clean_extract), and either way the plan is one
``MapInPandas``. :func:`fused_extract_triples` (the batch pipeline and
the stagewise contract queries) and kg.streaming.stream_kg_edges (the
incremental one) both call it.

Why a Python kernel: the JVM array-HOF form of the same steps
(filter/transform/zip_with + explode) is allocation-bound — interpreted
higher-order expressions generate so much garbage that wall time stops
improving with executor threads (measured: local[2] ≈ local[32] on the
explode stage, java at 640%% CPU from GC). Python workers are separate
*processes*, so the kernel scales with cores and is also faster in
absolute terms.
"""

from __future__ import annotations

import os
import zlib
from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession

from kg.cleaning import clean_text_pandas
from kg.normalize import explode_spans
from kg.schemas import TRIPLES_SURFACE
from kg.session import spread_small_scan
from kg.synth import REPLICA_STRIDE, derive_spans, split_nonempty
from kg.vocab import DEFAULT_PRED, ENTITY_SURFACES, PREDICATES

_ENT = pa.array(sorted(ENTITY_SURFACES))
_PRED = pa.array(sorted(PREDICATES))

# Simulated extractor weight (KG_EXTRACTOR_COST=N): N extra crc32 passes
# over each text span before extraction. The dictionary extractor used for
# oracle-exact testing is ~100x lighter than the model the north star puts
# in this slot (the reference's is a sentence-transformer at ~340 texts/s,
# embed/README.md:125-131); the scaling bench can dial realistic per-span
# compute back in WITHOUT changing any output. Default 0 = off.
_EXTRACTOR_COST = int(os.environ.get("KG_EXTRACTOR_COST", "0"))


def _simulated_model_cost(chunk: str) -> None:
    acc = 0
    data = chunk.encode()
    for i in range(_EXTRACTOR_COST):
        acc = zlib.crc32(data, acc)


def _maybe_inject_failure() -> None:
    """Task-failure drill hook (reference Gate C analog: ``project
    idea.pdf`` p.6 — kill one query node mid-query, recover <10 s).
    When env ``KG_FAIL_TASK_ONCE`` is set, the FIRST attempt of partition
    0 raises, so under ``spark.task.maxFailures>1`` (master
    ``local[N,2]``) Spark retries exactly that task and the job still
    succeeds with byte-identical output — Spark's task-retry machinery is
    the engine's recovery story, and this hook lets a test prove it fires
    on the hot path instead of assuming it. The env var must be set
    before the JVM boots (python workers inherit it), hence the
    subprocess drill in ``scripts/failure_drill.py``. No-op (one dict
    lookup) outside the drill."""
    if not os.environ.get("KG_FAIL_TASK_ONCE"):
        return
    from pyspark import TaskContext

    ctx = TaskContext.get()
    if ctx is not None and ctx.partitionId() == 0 and ctx.attemptNumber() == 0:
        raise RuntimeError(
            "KG_FAIL_TASK_ONCE: injected task failure (drill, attempt 0)"
        )


def fused_extract_triples(
    spark: SparkSession, sf_dir: str, replicate: int = 1
) -> DataFrame:
    """``{sf_dir}/documents.parquet`` -> TRIPLES_SURFACE: the file scan
    behind the small-input spread guard (kg.session.spread_small_scan),
    then :func:`extract_documents`. With kernel-side tiling each of the
    ``replicate`` copies of a partition's docs is processed by that
    partition's worker, so the guard also sets the tiled parallelism."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return extract_documents(spread_small_scan(spark, docs), replicate=replicate)


def extract_documents(docs: DataFrame, replicate: int = 1) -> DataFrame:
    """Documents -> TRIPLES_SURFACE through ONE ``MapInPandas``, batch or
    streaming. The adapter comes from ``docs.columns``: a ``spans``
    column is exploded natively and fed to :func:`clean_extract`;
    otherwise the frame is flat ``(doc_id:int64, text)`` and each batch
    is derived into spans inside the kernel (:func:`_run_batches`)."""
    if "spans" in docs.columns:
        if replicate > 1:
            raise ValueError(
                "replicate > 1 shifts integer doc ids; it needs flat "
                "(doc_id:int64, text) documents, not a spans table"
            )
        return explode_spans(docs).mapInPandas(
            _clean_extract_batches, schema=TRIPLES_SURFACE
        )

    def _flat(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        return _run_batches(batches, replicate=replicate)

    return docs.select("doc_id", "text").mapInPandas(_flat, schema=TRIPLES_SURFACE)


def _clean_extract_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    _maybe_inject_failure()
    for pdf in batches:
        yield clean_extract(pdf)


def _run_batches(
    batches: Iterator[pd.DataFrame], replicate: int = 1
) -> Iterator[pd.DataFrame]:
    """The flat-documents kernel: (doc_id:int64, text) batches ->
    TRIPLES_SURFACE batches, ``clean_extract(derive_spans(pdf))`` in one
    Python call.

    ``replicate`` tiles each batch kernel-side (replica r = doc ids
    shifted by r*REPLICA_STRIDE, processed independently and in full):
    the JVM crossJoin it replaced shipped ``replicate`` identical copies
    of every document through the Python boundary. Each replica is still
    derived, dirtied, cleaned and extracted on its own (replica r shifts
    doc ids, which shifts the planted-dirt selector), so only the
    duplicated text transfer is gone."""
    _maybe_inject_failure()
    for pdf in batches:
        if replicate > 1:
            # tile as ONE frame (np.tile copies string POINTERS, not
            # bytes) so the kernel keeps full-batch vectorization —
            # looping `replicate` small kernel calls per batch paid the
            # per-invocation Arrow/numpy fixed cost 64x and measured
            # slower than the crossJoin it replaced
            nums = pdf["doc_id"].to_numpy(dtype="int64")
            shift = np.repeat(
                np.arange(replicate, dtype="int64") * REPLICA_STRIDE,
                len(nums),
            )
            pdf = pd.DataFrame(
                {
                    "doc_id": np.tile(nums, replicate) + shift,
                    "text": np.tile(pdf["text"].to_numpy(dtype=object), replicate),
                }
            )
        yield clean_extract(derive_spans(pdf))


def clean_extract(spans: pd.DataFrame) -> pd.DataFrame:
    """Exploded raw spans ``(doc_id, kind, text, media_ref, offset)`` ->
    one TRIPLES_SURFACE frame, numpy/Arrow-vectorized.

    Extraction rules (a deterministic dictionary "model", kg.vocab):

    * a text span is cleaned (kg.cleaning); its tokens are the non-empty
      pieces of a split on ``' '``;
    * a mention is a token in ENTITY_SURFACES, at 0-based position ``p``;
    * every pair of *consecutive* mentions (p1 < p2) gives
      ``(subj=tok[p1], pred, obj=tok[p2])``, where ``pred`` is the first
      PREDICATES token strictly between p1 and p2, else ``near``;
    * every media span gives ``(doc_id, has_<kind>, media_ref)`` with
      positions -1.

    This is the slot where a real extraction model would sit (reference
    analog: the batched sentence-transformer encode,
    ``embed/embedding_generator.py:126-166``). Semantics are pinned by
    tests/test_extract.py (hand cases) and by the DuckDB oracle."""
    doc_ids = spans["doc_id"].to_numpy(dtype=object)
    kind = spans["kind"].to_numpy(dtype=object)
    offsets = spans["offset"].to_numpy(dtype="int64")
    is_text = kind == "text"
    is_media = ~is_text

    media = {
        "doc_id": doc_ids[is_media],
        "offset": offsets[is_media],
        "subj_surface": doc_ids[is_media],
        "pred": np.array(["has_" + k for k in kind[is_media]], dtype=object),
        "obj_surface": spans["media_ref"].to_numpy(dtype=object)[is_media],
        "subj_pos": np.full(int(is_media.sum()), -1, dtype="int64"),
        "obj_pos": np.full(int(is_media.sum()), -1, dtype="int64"),
    }

    # stage 0: vectorized normalize of the text spans only
    t_row = np.flatnonzero(is_text)
    cleaned = clean_text_pandas(
        pd.Series(spans["text"].to_numpy(dtype=object)[t_row], dtype=object)
    )
    if _EXTRACTOR_COST:
        for ctext in cleaned:
            _simulated_model_cost(ctext)

    # stage 1: vectorized mention-pair extraction
    ctok, ctok_arrow, c_start, c_count = split_nonempty(cleaned)
    c_off = (
        np.concatenate((c_start, [c_start[-1] + c_count[-1]]))
        if len(c_start)
        else np.zeros(1, dtype="int64")
    )
    is_ent = np.asarray(
        pc.is_in(ctok_arrow, value_set=_ENT).to_numpy(zero_copy_only=False),
        dtype=bool,
    )
    is_pred = np.asarray(
        pc.is_in(ctok_arrow, value_set=_PRED).to_numpy(zero_copy_only=False),
        dtype=bool,
    )
    ment = np.flatnonzero(is_ent)
    span_of = np.searchsorted(c_off, ment, side="right") - 1
    valid = span_of[:-1] == span_of[1:] if len(ment) else np.zeros(0, bool)
    g1 = ment[:-1][valid]
    g2 = ment[1:][valid]
    sp = span_of[:-1][valid]
    pidx = np.flatnonzero(is_pred)
    if len(pidx):
        j = np.searchsorted(pidx, g1 + 1, side="left")
        jc = np.minimum(j, len(pidx) - 1)
        has = (j < len(pidx)) & (pidx[jc] < g2)
        preds = np.where(has, ctok[pidx[jc]], DEFAULT_PRED)
    else:
        preds = np.full(len(g1), DEFAULT_PRED, dtype=object)
    row = t_row[sp]
    triples = {
        "doc_id": doc_ids[row],
        "offset": offsets[row],
        "subj_surface": ctok[g1],
        "pred": preds,
        "obj_surface": ctok[g2],
        "subj_pos": g1 - c_off[sp],
        "obj_pos": g2 - c_off[sp],
    }

    res = pd.DataFrame(
        {
            k: np.concatenate((media[k], triples[k]))
            for k in TRIPLES_SURFACE.fieldNames()
        }
    )
    res["offset"] = res["offset"].astype("int32")
    res["subj_pos"] = res["subj_pos"].astype("int32")
    res["obj_pos"] = res["obj_pos"].astype("int32")
    return res
