"""Per-partition checkpoint / lineage / metrics manifest.

Upgrade of the reference's weak fault model (partition-scoped try/except +
``partitions_processed`` stats list, ``embed/embedding_generator.py:329-337``)
into a committed manifest table: one row per (run lineage, stage,
partition-group) with counters and timestamps. Resume = skip groups whose
``status='committed'`` row exists for the same lineage fingerprint, so a
killed run restarts exactly after the last durable partition.

The manifest is driver-side metadata (a handful of rows per run), so
commits are direct pyarrow parquet writes — write-to-temp + atomic rename,
never a Spark job (a per-commit ``spark.createDataFrame(...).write`` costs
~10 s of session/PythonRDD overhead each). Reads go through pyarrow too,
and the module does not import pyspark. Its one writer,
:func:`commit_partition`, has one caller: ``kg.materialize._publish``,
which commits a partition only after renaming its data into place.
"""

from __future__ import annotations

import datetime as _dt
import glob
import json
import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq

STATUS_COMMITTED = "committed"

_ARROW_SCHEMA = pa.schema(
    [
        ("run_id", pa.string()),
        ("stage", pa.string()),
        ("partition_id", pa.int32()),
        ("status", pa.string()),
        ("rows_in", pa.int64()),
        ("rows_out", pa.int64()),
        ("skip_reasons", pa.string()),
        ("started_at", pa.timestamp("us")),
        ("committed_at", pa.timestamp("us")),
        ("lineage", pa.string()),
    ]
)


def manifest_path(out_dir: str) -> str:
    return os.path.join(out_dir, "_manifest")


def read_manifest_rows(out_dir: str) -> list[dict]:
    """Driver-side manifest read (no Spark job)."""
    files = sorted(glob.glob(os.path.join(manifest_path(out_dir), "*.parquet")))
    return pq.read_table(files).to_pylist() if files else []


def committed_partitions(out_dir: str, stage: str, lineage: str) -> set[int]:
    return {
        r["partition_id"]
        for r in read_manifest_rows(out_dir)
        if r["stage"] == stage
        and r["status"] == STATUS_COMMITTED
        and r["lineage"] == lineage
    }


def commit_partition(
    out_dir: str,
    *,
    run_id: str,
    stage: str,
    partition_id: int,
    rows_in: int | None,
    rows_out: int | None,
    skip_reasons: dict[str, int] | None,
    started_at: _dt.datetime,
    lineage: str,
) -> None:
    """Append one committed row (atomic temp-write + rename). The rename is
    the commit point: the data write for this partition group must already
    be durable when called."""
    path = manifest_path(out_dir)
    os.makedirs(path, exist_ok=True)
    now = _dt.datetime.now(_dt.timezone.utc).replace(tzinfo=None)
    table = pa.table(
        {
            "run_id": [run_id],
            "stage": [stage],
            "partition_id": [partition_id],
            "status": [STATUS_COMMITTED],
            "rows_in": [rows_in],
            "rows_out": [rows_out],
            "skip_reasons": [json.dumps(skip_reasons or {})],
            "started_at": [started_at],
            "committed_at": [now],
            "lineage": [lineage],
        },
        schema=_ARROW_SCHEMA,
    )
    fname = f"commit-{uuid.uuid4().hex}.parquet"
    tmp = os.path.join(path, "." + fname + ".tmp")
    pq.write_table(table, tmp)
    os.rename(tmp, os.path.join(path, fname))
