"""SparkSession factory.

Single place that configures the session the whole engine assumes:
AQE on (skew-join backstop), Arrow on (vectorized pandas UDFs), explicit
shuffle parallelism scaled to cores. Reference analog: the hand-rolled
multiprocessing pool setup in
``data/scripts/data_processor_optimized.py:169-196`` — Spark replaces it
with executor parallelism, so all tuning lives here.
"""

from __future__ import annotations

import os
from typing import Callable, Sequence, TypeVar

from pyspark.sql import DataFrame, SparkSession

T = TypeVar("T")


def spread_partitions(spark: SparkSession) -> int:
    """Partition count for spreading a SMALL scan before a CPU-dense
    Arrow kernel (the :func:`spread_small_scan` guard).

    1x session cores — not the 2x-cores shuffle-partition default: the
    2x headroom exists so skewed SHUFFLE stages keep every core busy
    around a straggler, but the kernel spread feeds uniform-by-
    construction batches, and every extra task pays serial scheduler
    dispatch plus a Python-worker round-trip (measured at sf0.1 on 32
    cores: fused kernel 0.70 s at 64 tasks vs 0.41 s at 32; x64 tiling
    1.48 vs 1.31). Reads the core count get_spark stores in conf
    (``spark.kg.cores``); sessions not built by that factory fall back
    to ``defaultParallelism``, as do values that are not a positive
    integer (e.g. a mistyped spark-submit conf)."""
    v = spark.conf.get("spark.kg.cores", None) or ""
    if v.isdigit() and int(v) > 0:
        return int(v)
    return spark.sparkContext.defaultParallelism


def spread_small_scan(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Parallelism guard for a file scan feeding a CPU-dense kernel: a
    small input (under 1 GiB — the sandbox corpus is ONE small parquet
    file = one split) is repartitioned to :func:`spread_partitions` so
    the kernel does not run on a single core; at real scale the scan
    already has plenty of splits and no shuffle is added. Decided from
    driver-side file sizes — probing ``df.rdd.getNumPartitions()`` costs
    a ~1.3 s plan->RDD conversion per session (PLANS.md §7). Non-local
    paths fall back to the safe repartition."""
    try:
        total_bytes = sum(
            os.path.getsize(p.removeprefix("file:")) for p in df.inputFiles()
        )
    except OSError:
        total_bytes = 0
    if total_bytes < 1 << 30:
        return df.repartition(spread_partitions(spark))
    return df


def local_frame(spark: SparkSession, rows: Sequence[tuple], schema: str) -> DataFrame:
    """Driver-side constant rows (dictionary maps, a validation report)
    as a JVM-local relation: the rows go through a pandas frame and
    Arrow (on in :func:`get_spark`) and plan as ``LocalTableScan``.
    ``createDataFrame`` over a Python list plans as a Python-backed
    ``Scan ExistingRDD`` instead, and every scan of it runs Python tasks:
    the validation report's eleven one-row frames took 4-5 s to collect
    that way, and 0.02 s as one local relation (sf0.001 output, 4 cores).
    ``schema`` is a flat DDL string (``"a string, b long"``)."""
    import pandas as pd

    names = [field.split()[0] for field in schema.split(",")]
    return spark.createDataFrame(pd.DataFrame.from_records(rows, columns=names), schema)


def session_cached(spark: SparkSession, name: str, build: Callable[[], T]) -> T:
    """``build()`` memoized on ``spark`` under ``name``: static
    dictionary state (a local frame, parsed Columns) is built once per
    session and every query reuses it. A session object that takes no
    attributes (an exotic proxy) rebuilds on each call."""
    attr = "_kg_" + name
    cached = getattr(spark, attr, None)
    if cached is None:
        cached = build()
        try:
            setattr(spark, attr, cached)
        except AttributeError:
            pass
    return cached


def get_spark(
    app: str = "kg",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
    master: str | None = None,
) -> SparkSession:
    """Build (or fetch) the configured SparkSession.

    ``cores=None`` -> ``local[*]``. ``shuffle_partitions`` defaults to
    2x cores so every core has work even with one straggler, without
    creating thousands of tiny tasks at test scale. On a real cluster the
    same knobs come from spark-submit conf; this function only fills
    local-mode defaults.
    """
    env_cores = os.environ.get("SPARK_GRAFT_CPUS")
    if cores is None and env_cores:
        cores = int(env_cores)
    master = (
        master
        or os.environ.get("KG_MASTER")
        or (f"local[{cores}]" if cores else "local[*]")
    )
    is_cluster = not master.startswith("local")
    # a cluster's cores are the executors', not this driver's: one count
    # sizes the core cap, the kernel spreads and the shuffle default
    n_cores = cores or (8 if is_cluster else (os.cpu_count() or 8))
    n_shuffle = shuffle_partitions or max(8, 2 * n_cores)

    b = (
        SparkSession.builder.appName(app)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.default.parallelism", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # default 64m coalesces a ~1GB shuffle to ~16 tasks — too coarse to
        # keep 32 cores busy on CPU-heavy post-shuffle stages (sort/encode).
        # 4m keeps enough reduce tasks on the CPU-dense aggregations and
        # sorts behind a shuffle (the nodes aggregate, dedup, the graph
        # queries) once coalescing is by size (parallelismFirst=false
        # below), while tiny-input stages still collapse to 1 task. The
        # KG table writes no longer shuffle; the value was first sized on
        # a shuffled parquet write (sf0.1 x64: 6.5 s at 16m/20 tasks vs
        # 5.2 s at 4m/~40 tasks). Env-overridable for cluster runs where
        # shuffles are IO-bound and larger partitions win (guide §9
        # suggests 256m there).
        .config(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            os.environ.get("KG_ADVISORY_PARTITION", "4m"),
        )
        # r06: actually COALESCE BY SIZE. Spark's default parallelismFirst
        # =true ignores the advisory size and keeps ~default-parallelism
        # reduce tasks, so every small aggregation paid ~2x cores worth of
        # near-empty task dispatches (~10 ms each in local mode; measured
        # 1.40 s -> 0.35 s on a 184k-row explode+groupBy). Size-based
        # coalescing is the scale-adaptive behavior the guide prescribes
        # (§2.2): tiny inputs collapse to few tasks, 100 TB inputs keep
        # full width, and explicit repartition(n) stages (the kernel
        # spreads) are never coalesced by AQE.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # consumed by spread_partitions() (kernel parallelism guards)
        .config("spark.kg.cores", str(n_cores))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("KG_WAREHOUSE", "/tmp/kg-warehouse"),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # heap scales with cores (a real cluster brings ~1-2 GB/core with
        # every executor): an undersized shared heap turns concurrent task
        # allocation into a GC bottleneck that erases multi-core scaling
        .config(
            "spark.driver.memory",
            os.environ.get(
                "KG_DRIVER_MEM",
                "4g" if is_cluster else f"{max(6, int(1.5 * (cores or 8)))}g",
            ),
        )
    )
    if is_cluster:
        # standalone mode: fixed-shape executors (one JVM per 8-core slice);
        # `cores` becomes the total-core cap = executor count x 8
        b = (
            b.config("spark.executor.cores", os.environ.get("KG_EXECUTOR_CORES", "8"))
            .config("spark.executor.memory", os.environ.get("KG_EXECUTOR_MEM", "12g"))
            .config("spark.cores.max", str(n_cores))
        )
    # Iceberg routing (north rule: Iceberg tables): configured iff the
    # runtime jar is present — a no-op probe otherwise (kg/iceberg.py)
    from kg.iceberg import configure_builder

    b = configure_builder(b, os.environ.get("KG_WAREHOUSE", "/tmp/kg-warehouse"))
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
