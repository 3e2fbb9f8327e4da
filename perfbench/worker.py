"""One benchmark process: builds the SparkSession, runs one workload's
operations through the engine's public entry points, and writes what it
timed to a JSON file. ``run.py`` starts a fresh one of these for every
measurement, so no run inherits JIT, cache or heap state from another.

Usage: python3 perfbench/worker.py <spec.json> <result.json>
"""

import time

T_START = time.perf_counter()

import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

EDGE_COLS = ["subj_id", "pred", "obj_id", "doc_id", "offset"]
QUERIES = ["top_entities", "degree_hist", "two_hop", "pagerank"]
WARM_BUILDS, WARM_DROPS = 2, 3


def setup(spec: dict):
    """get_spark + the first scan of the workload's corpus (``setup_s``)."""
    from kg.session import get_spark

    extra = None
    if spec.get("eventlog_dir"):
        extra = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + spec["eventlog_dir"],
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    t0 = time.perf_counter()
    spark = get_spark(app="perfbench", extra=extra)
    t1 = time.perf_counter()
    spark.read.parquet(spec["corpus"] + "/documents.parquet").count()
    t2 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    return spark, {
        "setup_s": t2 - T_START,
        "jvm_start_s": t1 - t0,
        "first_scan_s": t2 - t1,
    }


def label(spark, group: str) -> None:
    spark.sparkContext.setJobGroup(group, group)


def timed(spark, group: str, fn):
    label(spark, group)
    t = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def jvm_gc_ms(spark) -> int:
    """Collection time of every JVM garbage collector so far (the driver
    JVM is also the executor in local mode)."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())


def closed_loop(spark, seconds: float, min_ops: int, max_ops: int, op) -> dict:
    """Run ``op(i)`` back to back for ``seconds`` (at least ``min_ops``,
    at most ``max_ops`` operations). A raising op counts as failed."""
    ops, errors = [], []
    gc0 = jvm_gc_ms(spark)
    start = time.perf_counter()
    while len(ops) + len(errors) < max_ops and (
        len(ops) + len(errors) < min_ops or time.perf_counter() - start < seconds
    ):
        try:
            ops.append(op(len(ops) + len(errors)))
        except Exception:  # noqa: BLE001 - a failed op is a measured outcome
            errors.append(traceback.format_exc(limit=3)[-600:])
    return {"ops": ops, "failed": len(errors), "errors": errors,
            "gc_ms": jvm_gc_ms(spark) - gc0}


# --------------------------------------------------------------- batch_build


def build_op(spark, corpus: str, out: str, group: str) -> dict:
    from kg.pipeline import run_pipeline

    label(spark, group)
    t = time.perf_counter()
    st = run_pipeline(spark, corpus, out, extractor="fused", canonicalize="dict", n_groups=4)
    return {
        "wall_s": time.perf_counter() - t,
        "edges": st["edges_total"],
        "out": out,
    }


def run_batch(spark, spec: dict, res: dict) -> None:
    work = spec["work"]
    # the first build in a JVM pays JIT, Python worker start-up and
    # first-use planning (about 3x a warm build) and the second is still
    # ~25% slow; neither is timed
    res["warmup_s"] = 0.0
    for i in range(WARM_BUILDS):
        warm = build_op(spark, spec["corpus"], os.path.join(work, f"warm{i}"), "warmup")
        shutil.rmtree(warm["out"])
        res["warmup_s"] += warm["wall_s"]
    res["warmup_ops"] = WARM_BUILDS
    kept = []

    def op(i: int) -> dict:
        if kept:  # only the newest output is kept for the correctness check
            shutil.rmtree(kept.pop())
        rec = build_op(spark, spec["corpus"], os.path.join(work, f"build{i}"), "pipeline")
        kept.append(rec["out"])
        return rec

    res.update(closed_loop(spark, spec["seconds"], 3, 60, op))
    if spec.get("layers"):
        res["layers"] = batch_layers(spark, spec)


def batch_layers(spark, spec: dict) -> dict:
    """Per-layer timings from outside: prefix runs into a ``noop`` sink
    (each adds one layer to the previous prefix) and the staged-resume
    path."""
    from kg.canonicalize import canonical_concepts, canonical_map, canonicalize_triples
    from kg.fused import fused_extract_triples
    from kg.link import alias_dict, link_canonicalize_triples, link_triples
    from kg.manifest import read_manifest_rows
    from kg.materialize import (
        InjectedFailure,
        build_nodes_from_edges,
        materialize_edges,
        materialize_nodes,
    )
    from kg.pipeline import run_pipeline

    corpus, work = spec["corpus"], spec["work"]
    lay = {}

    def triples():
        return fused_extract_triples(spark, corpus)

    def final():
        return link_canonicalize_triples(triples(), spark).select(*EDGE_COLS)

    lay.update(fused_scaling(spark, corpus))
    _, lay["fused_link_s"] = timed(spark, "link", lambda: noop(final()))
    out = os.path.join(work, "layers")
    lineage = "perfbench-layers"
    _, lay["fused_link_edges_s"] = timed(
        spark,
        "materialize_edges",
        lambda: materialize_edges(spark, final(), out, run_id="layers", lineage=lineage),
    )

    def nodes():
        edges = spark.read.parquet(os.path.join(out, "edges"))
        built = build_nodes_from_edges(
            canonical_map(spark), edges, concepts=canonical_concepts(spark)
        )
        return materialize_nodes(spark, built, out, run_id="layers", lineage=lineage)

    _, lay["nodes_s"] = timed(spark, "materialize_nodes", nodes)
    shutil.rmtree(out)

    def joined():
        return link_triples(triples(), alias_dict(spark))

    _, lay["fused_link_join_s"] = timed(spark, "link_join", lambda: noop(joined()))
    _, lay["fused_link_join_canon_s"] = timed(
        spark,
        "canonicalize",
        lambda: noop(canonicalize_triples(joined(), canonical_map(spark))),
    )

    # staged resume on the Zipf-skewed corpus (a hot subject bucket):
    # three staged writes, killed after two edge groups, then rerun
    zdir = spec["resume_corpus"]
    rdir = os.path.join(work, "resume")
    kw = dict(extractor="fused", checkpoint_stages=True, n_groups=4)
    label(spark, "resume_attempt")
    t = time.perf_counter()
    try:
        run_pipeline(spark, zdir, rdir, fail_after_groups=2, **kw)
        lay["resume_injected"] = False
    except InjectedFailure:
        lay["resume_injected"] = True
    lay["attempt_s"] = time.perf_counter() - t
    st, lay["resume_s"] = timed(
        spark, "resume_rerun", lambda: run_pipeline(spark, zdir, rdir, **kw)
    )
    lay["resume_edges_written"] = st["edges_written_this_run"]
    lay["resume_edges_total"] = st["edges_total"]
    rows = read_manifest_rows(rdir)
    lay["manifest_commit_ms"] = [
        (r["committed_at"] - r["started_at"]).total_seconds() * 1000 for r in rows
    ]
    lay["resume_out"] = rdir
    lay["resume_corpus"] = zdir
    return lay


def native_layers(spark, spec: dict) -> dict:
    """The native stagewise path (prefix runs into a ``noop`` sink) and
    the graph queries on a small corpus."""
    import __spark_entry__ as entry
    from kg import queries as Q

    qdir = spec["query_corpus"]
    lay = {}
    # the native path's first use in the JVM is slower; warm it first
    timed(spark, "warmup", lambda: noop(Q.q_triples_surface(spark, qdir)))
    _, lay["spans_s"] = timed(spark, "synth", lambda: noop(Q.q_spans(spark, qdir)))
    _, lay["spans_norm_s"] = timed(spark, "normalize", lambda: noop(Q.q_spans_norm(spark, qdir)))
    _, lay["triples_surface_s"] = timed(
        spark, "extract", lambda: noop(Q.q_triples_surface(spark, qdir))
    )
    qs = entry.queries()
    lay["queries"] = {}
    for name in QUERIES:
        rows, wall = timed(
            spark,
            "q_" + name,
            lambda: [list(r) for r in qs["kg_" + name](spark, qdir).collect()],
        )
        lay["queries"][name] = {"wall_s": wall, "rows": rows}
    return lay


# --------------------------------------------------------- incremental_drops


def run_drops(spark, spec: dict, res: dict) -> None:
    from kg.materialize import parquet_rows
    from kg.streaming import stream_kg_edges

    work = spec["work"]
    staged = spec["drops"]
    in_dir = os.path.join(work, "stream_in")
    out_dir = os.path.join(work, "stream_out")
    ckpt = os.path.join(work, "stream_ckpt")
    os.makedirs(in_dir)

    def drop(i: int) -> dict:
        dst = os.path.join(in_dir, os.path.basename(staged[i]))
        before = parquet_rows(out_dir) if os.path.isdir(out_dir) else 0
        t = time.perf_counter()
        os.rename(staged[i], dst)  # the drop becomes visible atomically
        q = stream_kg_edges(spark, in_dir, out_dir, ckpt)
        q.awaitTermination()
        wall = time.perf_counter() - t
        prog = q.lastProgress or {}
        return {
            "wall_s": wall,
            "edges": parquet_rows(out_dir) - before,
            "durations_ms": prog.get("durationMs", {}),
            "run_id": str(q.runId),
        }

    # the first stream in a JVM pays one-off planning and worker start-up
    # (~4x a warm drop) and the next two are still ~20% slow; none is timed
    res["warmup_s"] = sum(drop(i)["wall_s"] for i in range(WARM_DROPS))
    res["warmup_ops"] = WARM_DROPS
    res.update(
        closed_loop(
            spark, spec["seconds"], 5, len(staged) - WARM_DROPS,
            lambda i: drop(i + WARM_DROPS),
        )
    )
    res["in_files"] = sorted(os.path.join(in_dir, f) for f in os.listdir(in_dir))
    res["out"] = out_dir


# ---------------------------------------------------------------- fused only


def fused_scaling(spark, corpus: str) -> dict:
    """The fused kernel over ``corpus`` spread over every core, then over
    one partition (one Python worker) in the same warm JVM: the
    single-threaded baseline of the kernel."""
    from kg.fused import fused_extract_triples

    def run():
        return noop(fused_extract_triples(spark, corpus))

    timed(spark, "warmup", run)
    _, n_wall = timed(spark, "fused", run)
    cores = spark.conf.get("spark.kg.cores")
    spark.conf.set("spark.kg.cores", "1")  # read by kg.session.spread_partitions
    try:
        _, one_wall = timed(spark, "fused_1", run)
    finally:
        spark.conf.set("spark.kg.cores", cores)
    return {"fused_s": n_wall, "fused_1_s": one_wall}


def main() -> None:
    with open(sys.argv[1]) as f:
        spec = json.load(f)
    spark, res = setup(spec)
    try:
        mode = spec["mode"]
        if mode == "batch_build":
            run_batch(spark, spec, res)
        elif mode == "incremental_drops":
            run_drops(spark, spec, res)
            if spec.get("layers"):
                # the native path and the queries run here rather than in
                # the longer traced batch_build run, to keep both under
                # the time limit of a run
                res["layers"] = {
                    **fused_scaling(spark, spec["corpus"]),
                    **native_layers(spark, spec),
                }
    finally:
        spark.stop()
    tmp = sys.argv[2] + ".tmp"
    with open(tmp, "w") as f:
        json.dump(res, f, default=str)
    os.replace(tmp, sys.argv[2])


if __name__ == "__main__":
    main()
