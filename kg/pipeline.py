"""Driver orchestration: ingest -> extract -> link -> canonicalize -> materialize.

CLI entry for ``spark-submit --py-files kg.zip kg/pipeline.py --sf-dir ...``.
Stages are declarative DataFrame plans; only iteration (connected
components) and the resumable commit loop live on the driver (SURVEY §4).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import uuid

if __package__ in (None, ""):  # `python kg/pipeline.py` (no spark-submit --py-files)
    _root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, _root)
    # the kernel's Python workers unpickle kg functions by reference, and
    # they inherit this environment when the JVM starts
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (_root, os.environ.get("PYTHONPATH")) if p
    )

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kg.canonicalize import canonical_map, canonical_map_from_corpus
from kg.fused import fused_extract_triples
from kg.link import link_canonicalize_triples
from kg.materialize import (
    build_nodes_from_edges,
    materialize_edges,
    materialize_nodes,
    materialize_partitioned,
    parquet_rows,
)
from kg.session import get_spark


def _corpus_canon(triples_surface: DataFrame) -> DataFrame:
    """Dictionary-free stage-3 map: connected components over the
    corpus-derived surface-similarity graph of the mention surfaces."""
    mentions = triples_surface.filter(F.col("subj_pos") >= 0)
    surfaces = mentions.select(
        F.explode(F.array("subj_surface", "obj_surface")).alias("surface")
    )
    return canonical_map_from_corpus(
        surfaces, max_distance=1, block_prefix=1, max_component=1000
    )


def run_pipeline(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    *,
    extractor: str = "fused",
    canonicalize: str = "dict",
    run_id: str | None = None,
    n_buckets: int = 64,
    n_groups: int = 4,
    fail_after_groups: int | None = None,
    replicate: int = 1,
    checkpoint_stages: bool = False,
) -> dict:
    """End-to-end run (resumable: rerun with same out_dir/sf_dir skips
    committed partition groups). Returns a stats dict.

    Stages 0+1 are kg.fused.fused_extract_triples, which reads flat
    documents or a ``(doc_id, spans)`` table, whichever ``sf_dir`` holds.
    ``extractor`` names that producer in the lineage; ``"fused"`` is the
    only value."""
    if extractor != "fused":
        raise ValueError(f"unknown extractor {extractor!r} (only 'fused')")
    run_id = run_id or uuid.uuid4().hex[:12]
    # n_groups is part of the lineage: group id g means "rows with
    # group_col % n_groups == g", so a resume under a different modulus
    # must NOT reuse commits (it would skip groups that only partially
    # cover the new residues) — a changed n_groups yields a fresh lineage
    # and materialize_partitioned sweeps the stale part_group dirs.
    lineage = (
        f"sf_dir={sf_dir};extractor={extractor};canon={canonicalize};"
        f"buckets={n_buckets};groups={n_groups};rep={replicate}"
    )
    t0 = time.time()

    def _stage_ckpt(
        df: DataFrame, name: str, sort_cols: list[str], stage_lineage: str = lineage
    ) -> DataFrame:
        """Optional per-stage checkpoint (north rule: every stage commits
        per-partition progress with lineage + counters): write the stage
        output in resumable partition groups, then read it back so
        downstream stages consume the durable copy."""
        if not checkpoint_stages:
            return df
        materialize_partitioned(
            spark,
            df,
            out_dir,
            name,
            run_id=run_id,
            lineage=stage_lineage,
            group_col=F.pmod(F.xxhash64("doc_id"), F.lit(n_groups)),
            n_groups=n_groups,
            sort_cols=sort_cols,
            stage=name,
        )
        return spark.read.parquet(os.path.join(out_dir, name))

    triples_surface = _stage_ckpt(
        fused_extract_triples(spark, sf_dir, replicate=replicate),
        "stage_extract",
        ["doc_id", "offset", "subj_pos"],
    )
    # 'dict' = alias-dictionary closure (reference parity, the P/R-gate
    # mode; canon=None selects the composed literal map); 'corpus' =
    # connected components over the corpus similarity graph
    canon = _corpus_canon(triples_surface) if canonicalize == "corpus" else None
    # NO .persist(): caching tens of millions of rows turns the JVM into
    # a GC bottleneck that erases multi-core scaling (measured: extract
    # 8s uncached vs 50s cached at local[32]). The written edges table
    # itself is the reuse point for the nodes build.
    final = _stage_ckpt(
        link_canonicalize_triples(triples_surface, spark, canon=canon),
        "stage_link",
        ["doc_id", "offset", "subj_id"],
        # stage_link once held the UNcanonicalized linked table: a
        # distinct lineage keeps such commits from being resumed as
        # canonical rows (they are swept and rewritten instead)
        stage_lineage=lineage + ";link=canonical",
    )
    n_edges_written = materialize_edges(
        spark,
        final.select("subj_id", "pred", "obj_id", "doc_id", "offset"),
        out_dir,
        run_id=run_id,
        lineage=lineage,
        n_buckets=n_buckets,
        n_groups=n_groups,
        fail_after_groups=fail_after_groups,
    )
    # nodes come from the materialized edges table — reusing disk instead
    # of recomputing the extraction DAG or caching it in-heap
    edges_final = spark.read.parquet(f"{out_dir}/edges")
    nodes = build_nodes_from_edges(
        canonical_map(spark) if canon is None else canon, edges_final
    )
    n_nodes = materialize_nodes(spark, nodes, out_dir, run_id=run_id, lineage=lineage)
    # footer metadata count — the table was just written and counted
    # group-by-group; a distributed count job re-reads nothing new
    n_edges_total = parquet_rows(f"{out_dir}/edges")

    wall = time.time() - t0
    return {
        "run_id": run_id,
        "lineage": lineage,
        "edges_written_this_run": n_edges_written,
        "edges_total": n_edges_total,
        "nodes": n_nodes,
        "wall_sec": round(wall, 3),
        "triples_per_sec": round(n_edges_total / wall, 1) if wall > 0 else None,
    }


def main() -> None:
    p = argparse.ArgumentParser(description="kg construction pipeline")
    p.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    p.add_argument("--out", required=True)
    p.add_argument(
        "--canonicalize",
        choices=["dict", "corpus"],
        default="dict",
        help="stage-3 mode: alias-dictionary closure (reference parity) or "
        "connected components over the corpus-derived similarity graph",
    )
    p.add_argument("--cores", type=int, default=None)
    p.add_argument("--n-buckets", type=int, default=64)
    p.add_argument("--n-groups", type=int, default=4)
    p.add_argument("--run-id", default=None)
    p.add_argument("--replicate", type=int, default=1)
    p.add_argument("--shuffle-partitions", type=int, default=None)
    p.add_argument("--master", default=None, help="e.g. spark://127.0.0.1:7077")
    p.add_argument(
        "--checkpoint-stages",
        action="store_true",
        help="commit every stage's output in resumable partition groups",
    )
    p.add_argument(
        "--validate",
        action="store_true",
        help="run the output-validation report after the write "
        "(reference validate_data.py analog); nonzero exit on red checks",
    )
    args = p.parse_args()

    spark = get_spark(
        app="kg-pipeline",
        cores=args.cores,
        shuffle_partitions=args.shuffle_partitions,
        master=args.master,
    )
    try:
        stats = run_pipeline(
            spark,
            args.sf_dir,
            args.out,
            canonicalize=args.canonicalize,
            run_id=args.run_id,
            n_buckets=args.n_buckets,
            n_groups=args.n_groups,
            replicate=args.replicate,
            checkpoint_stages=args.checkpoint_stages,
        )
        if args.validate:
            from kg.validate import assert_valid

            assert_valid(spark, args.out, n_buckets=args.n_buckets)
            stats["validated"] = True
        print(json.dumps(stats))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
