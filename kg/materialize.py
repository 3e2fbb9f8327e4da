"""Stage 4 — graph materialization: bucketed nodes/edges + resumable commit.

Edges are bucketed by subject hash (``bucket = pmod(subj_id, n_buckets)``)
so downstream per-subject traversals and joins co-locate without a
shuffle; buckets are written in ``n_groups`` partition groups, each group
committed to the manifest *after* its data is durable. A killed run
re-executes only the uncommitted groups (anti-join against the manifest),
and the final table holds the same rows as a single-run write.

Each table is written by the stage that computes it, with no shuffle in
front of the write: every edges task (the extraction kernel's, or a
checkpoint scan's) sorts its own rows by group and sort key and writes
one file per group it holds, and the nodes table is written straight
from its one aggregation, which is already hash-partitioned on
``entity_id``.

Every final table directory (each edges ``part_group=g``, the flat
``nodes/`` table, the optional stage checkpoints) is filled the same way:
Spark writes under ``<out>/_staging/``, then :func:`_publish` renames the
finished directory into place, counts its rows from the parquet footers
and commits it — the only manifest commit in the package. Readers never
see a partly written table, whenever the run is killed.

Reference analog: the partition-identity thread part-NNNN.parquet ->
part-NNNN_embeddings.npy -> per-partition Milvus insert loop
(``infra/scripts/load_data.py:51-92``), minus the positional-alignment
fragility: identity here is an explicit bucket column.
"""

from __future__ import annotations

import datetime as _dt
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kg import manifest as mf


class InjectedFailure(RuntimeError):
    """Raised by tests to simulate a mid-run kill between partition groups."""


def parquet_rows(path: str) -> int:
    """Exact row count from parquet footers, read driver-side (no Spark
    job). The staged-write commit loop and the pipeline's final counts
    used to pay a full Spark job each (~0.2-0.4 s of scheduling per
    count, 6+ jobs per pipeline run) for what is a metadata read; at
    cluster scale this is the same footer metadata, fetched through the
    filesystem client instead of a distributed job."""
    import pyarrow.parquet as pq

    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                total += pq.ParquetFile(os.path.join(root, f)).metadata.num_rows
    return total


def with_bucket(edges: DataFrame, n_buckets: int) -> DataFrame:
    return edges.withColumn(
        "bucket", F.pmod(F.col("subj_id"), F.lit(n_buckets)).cast("int")
    )


def nodes_path(out_dir: str) -> str:
    return os.path.join(out_dir, "nodes")


def _staging_path(out_dir: str, table_name: str) -> str:
    """Cleared staging directory for one table's Spark write."""
    staging = os.path.join(out_dir, "_staging", table_name)
    shutil.rmtree(staging, ignore_errors=True)
    return staging


def _publish(
    out_dir: str,
    staged: str,
    final: str,
    *,
    run_id: str,
    stage: str,
    partition_id: int,
    lineage: str,
    started: _dt.datetime,
) -> int:
    """Rename the finished ``staged`` directory onto ``final``, count its
    rows from the footers and commit ``(stage, partition_id)``; returns the
    rows. An old ``final`` is renamed aside first and deleted only after
    the swap, so a reader sees the old complete table, no table for the
    moment between the two renames, or the new complete table — never a
    partly written or partly deleted one. The commit comes last: a kill
    before it leaves the partition uncommitted, and a rerun redoes it. A
    missing ``staged`` (an empty group writes no directory) commits 0."""
    rows = 0
    if os.path.exists(staged):
        replaced = staged + ".replaced"
        shutil.rmtree(replaced, ignore_errors=True)
        if os.path.exists(final):
            os.rename(final, replaced)
        os.makedirs(os.path.dirname(final), exist_ok=True)
        os.rename(staged, final)
        shutil.rmtree(replaced, ignore_errors=True)
        rows = parquet_rows(final)  # driver-side footer count, no job
    mf.commit_partition(
        out_dir,
        run_id=run_id,
        stage=stage,
        partition_id=partition_id,
        rows_in=None,
        rows_out=rows,
        skip_reasons=None,
        started_at=started,
        lineage=lineage,
    )
    return rows


def _write_plan(
    df: DataFrame,
    group_col,
    n_groups: int,
    sort_cols: list[str],
    groups: list[int] | None = None,
) -> DataFrame:
    """The staged write's plan: tag every row with its partition group
    ``part_group = pmod(group_col, n_groups)``, keep only ``groups`` (all
    when None) and sort each partition of ``df`` by ``(part_group,
    *sort_cols)`` — no exchange. Each task of the stage that computes
    ``df`` then writes one sorted file per group it holds, with
    ``partitionBy("part_group")``. A shuffle in front of the write would
    give fewer files (one per group) but costs a whole extra stage; a hot
    bucket is spread over the computing tasks instead of landing in one
    write task."""
    part_group = F.pmod(group_col, F.lit(n_groups)).cast("int")
    out = df.withColumn("part_group", part_group)
    if groups is not None and len(groups) < n_groups:
        out = out.filter(F.col("part_group").isin(groups))
    return out.sortWithinPartitions("part_group", *sort_cols)


def materialize_partitioned(
    spark: SparkSession,
    df: DataFrame,
    out_dir: str,
    table_name: str,
    *,
    run_id: str,
    lineage: str,
    group_col,
    n_groups: int,
    sort_cols: list[str],
    stage: str | None = None,
    fail_after_groups: int | None = None,
) -> int:
    """Generic resumable partition-group writer (the north rule's
    per-partition checkpoint applied to ANY stage output, not just the
    final tables): group ``g`` = rows with ``group_col % n_groups == g``,
    written to ``<out>/<table>/part_group=g`` then committed to the
    manifest; committed groups are skipped on rerun. Returns rows written
    by THIS call."""
    stage = stage or f"materialize_{table_name}"
    done = mf.committed_partitions(out_dir, stage, lineage)
    table_dir = os.path.join(out_dir, table_name)

    # Stale-dir hygiene: a part_group=N dir NOT committed under THIS
    # lineage is either a partial write (kill mid-move) or debris from a
    # different lineage — e.g. a rerun with a different n_groups modulus,
    # which reinterprets group ids (lineage now includes n_groups, so that
    # rerun sees done=∅ and this sweep clears the whole table). Anything
    # left behind would be silently double-read by the final
    # spark.read.parquet(table_dir).
    if os.path.isdir(table_dir):
        for entry in os.listdir(table_dir):
            keep = False
            if entry.startswith("part_group="):
                try:
                    keep = int(entry.split("=", 1)[1]) in done
                except ValueError:
                    keep = False
            if not keep:
                full = os.path.join(table_dir, entry)
                if os.path.isdir(full):
                    shutil.rmtree(full, ignore_errors=True)
                else:
                    os.remove(full)

    remaining = [g for g in range(n_groups) if g not in done]
    if not remaining:
        return 0

    # ONE job writes every uncommitted group into a staging dir (round-1
    # wrote each group in its own job, which re-ran the whole upstream
    # plan n_groups times); groups are then promoted into the table dir
    # and committed one at a time, so the resume granularity (and the
    # manifest contract) is unchanged.
    staging = _staging_path(out_dir, table_name)
    _write_plan(df, group_col, n_groups, sort_cols, remaining).write.mode(
        "overwrite"
    ).partitionBy("part_group").parquet(staging)

    total = 0
    for g in remaining:
        if fail_after_groups is not None and len(done) >= fail_after_groups:
            raise InjectedFailure(f"injected failure before group {g}")
        started = _dt.datetime.now(_dt.timezone.utc).replace(tzinfo=None)
        total += _publish(
            out_dir,
            os.path.join(staging, f"part_group={g}"),
            os.path.join(table_dir, f"part_group={g}"),
            run_id=run_id,
            stage=stage,
            partition_id=g,
            lineage=lineage,
            started=started,
        )
        done.add(g)
    shutil.rmtree(os.path.join(out_dir, "_staging"), ignore_errors=True)
    return total


EDGE_SORT_COLS = ["bucket", "subj_id", "pred", "obj_id", "doc_id", "offset"]


def materialize_edges(
    spark: SparkSession,
    edges: DataFrame,
    out_dir: str,
    *,
    run_id: str,
    lineage: str,
    n_buckets: int = 64,
    n_groups: int = 4,
    fail_after_groups: int | None = None,
) -> int:
    """Write bucketed edges in resumable partition groups; return rows written
    across groups committed *by this call*."""
    bucketed = with_bucket(edges, n_buckets)
    return materialize_partitioned(
        spark,
        bucketed,
        out_dir,
        "edges",
        run_id=run_id,
        lineage=lineage,
        group_col=F.col("bucket"),
        n_groups=n_groups,
        sort_cols=EDGE_SORT_COLS,
        stage="materialize_edges",
        fail_after_groups=fail_after_groups,
    )


def build_nodes_from_edges(
    canon: DataFrame,
    edges_final: DataFrame,
    concepts: DataFrame | None = None,
) -> DataFrame:
    """NODES rebuilt purely from the materialized edges table (plus the
    tiny canonical map) — no re-run of the extraction kernel.

    Works because media edges carry everything needed to reconstruct the
    node names: ``pred = 'has_<kind>'``, ``doc_id = 'doc-%07d' % n`` and
    ``media_ref = 'media://<kind>/<n>-<offset>'`` (kg.synth derivation
    contract). Equality with the DuckDB nodes oracle is asserted in tests.

    ONE aggregation, one shuffle: every edge explodes into both endpoints
    as ``(entity_id, name, kind, w=1)`` — name and kind set only on media
    edges — and the concept rows join the union with ``w=0``; a
    ``groupBy("entity_id")`` then takes ``max(name)``, ``max(kind)`` and
    ``sum(w)`` (the mention count; 0 for a concept no edge names). Rows
    without a kind are provisional ``ent:<surface>`` entities, which are
    not nodes. The concepts come from ``canon`` (one row per surface;
    the aggregate removes their duplicates) unless ``concepts``, an
    (entity_id, name, kind) frame such as
    kg.canonicalize.canonical_concepts, is given.
    """
    if concepts is None:
        concepts = canon.select(
            F.col("canonical_id").alias("entity_id"),
            F.col("canonical_name").alias("name"),
            F.lit("concept").alias("kind"),
        )
    is_media = F.col("pred").startswith("has_")
    doc_num = F.substring(F.col("doc_id"), 5, 20).cast("long")
    media_name = F.concat(
        F.lit("media://"),
        F.substring(F.col("pred"), 5, 100),
        F.lit("/"),
        doc_num,
        F.lit("-"),
        F.col("offset"),
    )
    endpoints = edges_final.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("subj_id").alias("entity_id"),
                    F.when(is_media, F.col("doc_id")).alias("name"),
                    F.when(is_media, F.lit("document")).alias("kind"),
                ),
                F.struct(
                    F.col("obj_id").alias("entity_id"),
                    F.when(is_media, media_name).alias("name"),
                    F.when(is_media, F.lit("media")).alias("kind"),
                ),
            )
        ).alias("n")
    ).select("n.entity_id", "n.name", "n.kind", F.lit(1).alias("w"))
    return (
        endpoints.unionByName(
            concepts.select("entity_id", "name", "kind", F.lit(0).alias("w"))
        )
        .groupBy("entity_id")
        .agg(
            F.max("name").alias("name"),
            F.max("kind").alias("kind"),
            F.sum("w").cast("long").alias("n_mentions"),
        )
        .filter(F.col("kind").isNotNull())
    )


def materialize_nodes(
    spark: SparkSession,
    nodes: DataFrame,
    out_dir: str,
    *,
    run_id: str,
    lineage: str,
) -> int:
    """Write the flat ``nodes/`` table (``entity_id, name, kind,
    n_mentions``) as one committed partition; returns its rows, or 0 when
    it is already committed under ``lineage``."""
    if 0 in mf.committed_partitions(out_dir, "materialize_nodes", lineage):
        return 0
    started = _dt.datetime.now(_dt.timezone.utc).replace(tzinfo=None)
    staging = _staging_path(out_dir, "nodes")
    # no repartition: build_nodes_from_edges' aggregate is already
    # hash-partitioned on entity_id, and AQE sizes its reduce side from
    # the shuffled bytes, so the write adds only a sort inside each task
    nodes.sortWithinPartitions("entity_id").write.mode("overwrite").parquet(staging)
    rows = _publish(
        out_dir,
        staging,
        nodes_path(out_dir),
        run_id=run_id,
        stage="materialize_nodes",
        partition_id=0,
        lineage=lineage,
        started=started,
    )
    shutil.rmtree(os.path.join(out_dir, "_staging"), ignore_errors=True)
    return rows
