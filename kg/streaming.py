"""Structured Streaming surface: incremental document ingest + stateful
stream operators.

The reference has no stream processing (SURVEY §2.9) — its closest analogs
are the point/batch insert API (``api/main.py:247-325``) and the rolling
latency window (``api/main.py:66-77``). Spark-first upgrades:

* :func:`stream_kg_edges` — file-source ``readStream`` over document
  parquet dropped into a directory, flat or a ``(doc_id, spans)`` table
  (the schema comes from the files); the batch pipeline's extraction plan
  (kg.fused.extract_documents) and link+canonicalize projection run in
  the streaming plan itself, and Spark's parquet file sink writes the
  edges with a checkpoint. Kill/restart resumes from the last committed
  batch, and the sink's ``_spark_metadata`` log (keyed on batch id) makes
  the output exactly-once for Spark readers, replayed batches included —
  the streaming twin of the batch manifest. Nodes are built in batch
  only.
* :func:`stateful_dedup_stream` and :func:`stream_rate_limit` —
  ``applyInPandasWithState`` operators whose state expires by event-time
  timeouts on an arrival clock, so ``availableNow`` runs terminate.
* windowed event aggregation (tumbling, sliding, session windows) as
  batch queries over the events table; each has a DuckDB oracle.

Batch semantics equality is tested by feeding the corpus through the
stream (Trigger.AvailableNow) in two drops and comparing with the batch
pipeline's edges.
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def stream_kg_edges(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    checkpoint_dir: str,
):
    """Incremental KG construction as ONE streaming plan: the batch
    extraction plan (kg.fused.extract_documents) on the document stream,
    then the batch pipeline's link+canonicalize projection
    (kg.link.link_canonicalize_edges, dictionary mode), written by
    Spark's parquet file sink. No Python runs on the driver per
    micro-batch.

    ``in_dir`` may hold flat documents or a ``(doc_id, spans)`` table:
    the schema comes from its files (:func:`_document_stream`), and an
    empty ``in_dir`` raises ``ValueError`` before any query starts.

    Output: ``out_dir`` is a flat parquet directory of the five edge
    columns, ``kg.link.EDGE_COLS`` (no nodes: nodes are built in batch
    only, by ``run_pipeline``). The sink logs each micro-batch's files under
    ``out_dir/_spark_metadata``, keyed on the batch id, and skips a batch
    the log already holds. So Spark readers (``spark.read.parquet``) see
    every batch exactly once, and so does a batch replayed after a crash
    between the sink's commit and the checkpoint's offset commit. The
    files of a batch killed mid-write stay in ``out_dir``: Spark readers
    skip them, but a raw ``out_dir/*.parquet`` glob (pyarrow, DuckDB)
    sees them. One ``out_dir`` belongs to one ``checkpoint_dir``: a fresh
    checkpoint restarts at batch 0, which the log would skip. An
    ``out_dir`` with parquet files but no ``_spark_metadata`` (an append
    sink's output) raises ``ValueError`` before any query starts: the log
    would hide those files from Spark readers.

    Restarting with the same checkpoint skips committed micro-batches;
    the canonical map is session-stable (dictionary closure), so late
    batches canonicalize identically, and stream output == batch output
    on the same corpus (asserted in tests).
    """
    from kg.fused import extract_documents
    from kg.link import link_canonicalize_edges

    if (
        os.path.isdir(out_dir)
        and not os.path.isdir(os.path.join(out_dir, "_spark_metadata"))
        and any(f.endswith(".parquet") for f in os.listdir(out_dir))
    ):
        raise ValueError(
            f"stream_kg_edges: {out_dir!r} holds parquet files but no "
            "_spark_metadata log; write the stream to a new directory"
        )
    docs = _document_stream(spark, in_dir)
    return (
        link_canonicalize_edges(extract_documents(docs), spark)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def _document_stream(spark: SparkSession, in_dir: str) -> DataFrame:
    """File-source stream over ``in_dir`` with the schema of one of its
    parquet files. pyarrow reads that one footer driver-side with no
    Spark job (``spark.read.parquet(in_dir).schema`` runs a job per call,
    ~100 ms at 4 local cores, and the stream is restarted per drop) and
    without listing a dataset over every file already dropped. Names
    starting with ``_`` or ``.`` are skipped, as pyarrow and Spark skip
    them (``_SUCCESS``, ``.crc`` files)."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    first = min(
        (n for n in os.listdir(in_dir) if not n.startswith(("_", "."))), default=None
    )
    if first is None:
        raise ValueError(f"stream_kg_edges: no parquet files in {in_dir!r}")
    schema = pq.read_schema(os.path.join(in_dir, first))
    return spark.readStream.schema(from_arrow_schema(schema)).parquet(in_dir)


def _with_arrival(stream: DataFrame) -> DataFrame:
    """Arrival clock for the stateful operators' timeouts: ``arrival`` is
    the micro-batch's ingest time under a 0-second watermark. An
    event-time timeout on it expires state by wall time, and an
    availableNow run ends once the watermark stops moving (a
    processing-time timeout asks for another batch on every trigger, so
    such a run never ends)."""
    return stream.withColumn("arrival", F.current_timestamp()).withWatermark(
        "arrival", "0 seconds"
    )


def _arrival_ms(batch: pd.DataFrame) -> int:
    """Latest ``arrival`` in a group's rows, as epoch milliseconds."""
    return batch["arrival"].max().value // 1_000_000


def stateful_dedup_stream(
    docs_stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    state_ttl_minutes: float | None = None,
):
    """Custom stateful operator: first-wins document dedup ACROSS
    micro-batches (the streaming twin of SURVEY §2.4 D2, whose batch form
    is a window over an explicit order column). Implemented with
    ``applyInPandasWithState``: per ``doc_id`` group, a boolean 'seen'
    state; only the first arrival is emitted, duplicates in later batches
    are dropped. State lives in the checkpoint, so a restarted stream
    still remembers what it emitted.

    ``state_ttl_minutes`` bounds state for CONTINUOUS streams: with a TTL,
    each key's 'seen' marker expires ``state_ttl_minutes`` after its last
    arrival (EventTimeTimeout on the :func:`_with_arrival` clock,
    ``setTimeoutTimestamp(max(arrival) + TTL)``; expired keys are removed
    once a later batch moves the watermark past that deadline, and an
    availableNow run still terminates), so state size tracks the
    recent-key working set instead of growing with every doc_id ever
    seen. The dedup guarantee weakens accordingly — exact within the TTL
    horizon — which is the standard at-scale trade (a 10^12-doc stream
    cannot keep 10^12 markers). None (default, right for availableNow
    backfills) keeps exact all-time dedup.
    """
    import pandas as _pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "doc_id BIGINT, text STRING"
    state_schema = "seen BOOLEAN"
    ttl_ms = int(state_ttl_minutes * 60_000) if state_ttl_minutes else None

    def _dedup(key, pdfs, state: GroupState):
        if ttl_ms is not None and state.hasTimedOut:
            state.remove()
            yield _pd.DataFrame(
                {"doc_id": _pd.Series(dtype="int64"), "text": _pd.Series(dtype="object")}
            )
            return
        batch = _pd.concat(list(pdfs), ignore_index=True)
        fresh = not state.exists
        state.update((True,))
        if ttl_ms is not None:  # refresh on every arrival
            state.setTimeoutTimestamp(_arrival_ms(batch) + ttl_ms)
        # intra-batch survivor must be deterministic too: micro-batch row
        # order is not — sort on every column before taking the first
        survivor = batch[["doc_id", "text"]].sort_values(["doc_id", "text"])
        yield survivor.head(1 if fresh else 0)

    deduped = _with_arrival(docs_stream).groupBy("doc_id").applyInPandasWithState(
        _dedup,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.EventTimeTimeout
            if ttl_ms is not None
            else GroupStateTimeout.NoTimeout
        ),
    )
    return (
        deduped.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .outputMode("append")
        .start()
    )


def stream_rate_limit(
    events_stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
):
    """Online form of the R3 rate limiter (kg/ops/ratelimit.py — the
    reference's actual deployment: admit/reject requests AS THEY ARRIVE,
    ``api/middleware.py:53-87``). Per-client state = the admitted-
    timestamp window (<= RATE_LIMIT entries), carried across micro-batches
    by ``applyInPandasWithState``; each batch replays the SAME verbatim
    reference algorithm the batch operator uses
    (``ratelimit.simulate_reference``), continuing from the persisted
    window — so stream output over ordered arrivals equals the batch
    ``stateful_admission`` of the union (tested).

    State is exactly-bounded: an EventTimeTimeout on the
    :func:`_with_arrival` clock drops a client's state a FULL window after
    its last arrival — by then every timestamp in it would have aged out,
    so expiry is semantics-free (unlike the dedup TTL, which trades
    exactness for bounded state), and an availableNow run terminates.
    Admission itself reads ``ts``, never the arrival clock. Input stream
    needs (event_id, user_id, ts); arrivals are processed in (ts, event_id)
    order within each batch — exactness across batches assumes per-client
    arrival order respects event time, which is inherent to ANY online
    limiter (it cannot reject yesterday's request today).
    """
    import pandas as _pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from kg.ops.ratelimit import RATE_WINDOW_S, simulate_reference

    out_schema = "event_id BIGINT, user_id BIGINT, admitted BOOLEAN"
    state_schema = "window ARRAY<BIGINT>"
    window_ms = RATE_WINDOW_S * 1000

    def _limit(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            yield _pd.DataFrame(
                {
                    "event_id": _pd.Series(dtype="int64"),
                    "user_id": _pd.Series(dtype="int64"),
                    "admitted": _pd.Series(dtype="bool"),
                }
            )
            return
        batch = _pd.concat(list(pdfs), ignore_index=True).sort_values(
            ["tus", "event_id"]
        )
        window = list(state.get[0]) if state.exists else []
        admitted = simulate_reference(
            zip(batch["event_id"], batch["tus"]), window=window
        )
        state.update((window,))
        state.setTimeoutTimestamp(_arrival_ms(batch) + window_ms)
        yield _pd.DataFrame(
            {
                "event_id": batch["event_id"],
                "user_id": batch["user_id"],
                "admitted": admitted,
            }
        )

    decided = (
        _with_arrival(events_stream)
        .withColumn(
            "tus", F.unix_micros(F.col("ts").cast("timestamp"))
        )
        .groupBy("user_id")
        .applyInPandasWithState(
            _limit,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
    return (
        decided.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .outputMode("append")
        .start()
    )


def windowed_event_counts_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-minute tumbling event-time windows over the events table:
    (win_start, win_end, event_type, n, total_value)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        ev.groupBy(F.window("ts", "10 minutes").alias("win"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum(F.col("value").cast("decimal(18,4)")).cast("double"), 4).alias(
                "total_value"
            ),
        )
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "event_type",
            "n",
            "total_value",
        )
    )


def windowed_event_counts_sql() -> str:
    return """
SELECT time_bucket(INTERVAL '10 minutes', ts) AS win_start,
       time_bucket(INTERVAL '10 minutes', ts) + INTERVAL '10 minutes' AS win_end,
       event_type,
       count(*) AS n,
       round(CAST(sum(CAST(value AS decimal(18,4))) AS double), 4) AS total_value
FROM events
GROUP BY 1, 2, 3"""


# ---------------------------------------------------------------------------
# Event-time sessionization via Spark's NATIVE session_window (contract
# query ev_sessionize_native) — the merge-on-overlap operator the twin
# kg/ops/relational.py::sessionize hand-builds with a lag window.
# ---------------------------------------------------------------------------


def _session_window_agg(ev: DataFrame) -> DataFrame:
    """Session aggregate: per (user, 30-min-gap session) —
    (user_id, n_events, start_ts, end_ts, total_value). Bounds come from
    min/max(ts), NOT the session_window struct (whose end is last-event +
    gap), so rows are comparable with the batch lag-window operator.

    Boundary fine print: session_window opens a NEW session when the
    inter-event gap is >= the 30-min threshold (merge needs strict
    overlap), the lag-window twin when it is > the threshold. The two
    differ only on exact-equality gaps — measure-zero with microsecond
    event time, and absent from the fixture (asserted by the three-way
    equality test)."""
    return (
        ev.groupBy(
            F.session_window("ts", "30 minutes").alias("win"), "user_id"
        )
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts").alias("start_ts"),
            F.max("ts").alias("end_ts"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,4)")).cast("double"), 4
            ).alias("total_value"),
        )
        .select("user_id", "n_events", "start_ts", "end_ts", "total_value")
    )


def sessionize_window_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin: the same native session_window aggregate over the
    events table (session_window works in batch too)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return _session_window_agg(ev)


def sessionize_native_sql() -> str:
    """DuckDB oracle for the native session_window twin: the lag-window
    sessionize oracle (whose > vs >= boundary difference is moot on the
    fixture — asserted in tests) projected to the shared rollup columns,
    with the twin's round-to-4 on the value sum."""
    from kg.ops.relational import sessionize_sql

    return f"""
SELECT user_id, n_events, start_ts, end_ts,
       round(total_value, 4) AS total_value
FROM ({sessionize_sql()})"""


def sliding_event_counts_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding event-time windows (width 10 min, slide 5 min — every
    event lands in exactly TWO overlapping windows), the windowing shape
    the tumbling query (:func:`windowed_event_counts_batch`) does not
    cover: (win_start, win_end, event_type, n, total_value). Native
    ``F.window(ts, width, slide)`` — in a stream the same aggregate runs
    under a watermark exactly like the tumbling form (Spark expands each
    row to its covering windows before the keyed aggregate; state is one
    row per open (window, type) pair).

    Scale shape: one keyed exchange after a 2x row expansion — identical
    plan family to the tumbling agg. The oracle re-derives window
    membership with exact int64 epoch-microsecond floor division, so
    engine agreement is integer-exact."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        ev.groupBy(
            F.window("ts", "10 minutes", "5 minutes").alias("win"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,4)")).cast("double"), 4
            ).alias("total_value"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "event_type",
            "n",
            "total_value",
        )
    )


def sliding_event_counts_sql() -> str:
    # width 600e6 us, slide 300e6 us; Spark aligns window starts to the
    # epoch, so starts covering ts are (floor(us/slide)-1)*slide and
    # floor(us/slide)*slide, filtered to us < start + width
    width, slide = 600_000_000, 300_000_000
    return f"""
WITH e AS (
  SELECT epoch_us(ts) AS us, event_type, value FROM events
),
cand AS (
  SELECT us, event_type, value,
         unnest([((us // {slide}) - 1) * {slide},
                 (us // {slide}) * {slide}]) AS ws
  FROM e
)
SELECT make_timestamp(ws) AS win_start,
       make_timestamp(ws + {width}) AS win_end,
       event_type,
       count(*) AS n,
       round(CAST(sum(CAST(value AS decimal(18,4))) AS double), 4)
         AS total_value
FROM cand WHERE us >= ws AND us < ws + {width}
GROUP BY 1, 2, 3"""
