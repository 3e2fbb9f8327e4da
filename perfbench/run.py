"""KG-construction benchmark: one command, one workload per call.

    python3 perfbench/run.py --workload batch_build --seed 1 --seconds 6 --trace 0

Run from the repository root. Inputs are generated from ``--seed``
outside the timed region; every measurement runs in a fresh worker
process (``worker.py``) with its own JVM; outputs are checked against the
DuckDB oracles; scratch files live under ``.perfbench/`` in the root and
are removed at exit. The last stdout line is the result object; the line
before it holds the detail (the workload-specific metric names, the noise
indicators and the raw samples). See README.md for the metrics.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKER = os.path.join(HERE, "worker.py")
DEADLINE_S = 172.0  # a run must end within 180 s

# workload -> corpus shape (see README.md for why each was chosen)
BATCH_DOCS = 10_000
DROPS, DROP_DOCS = 40, 125
QUERY_DOCS = 500  # native stagewise path + graph queries (traced run)
RESUME_DOCS, RESUME_ZIPF = 8_000, 1.2  # staged-resume corpus (traced run)
WORKLOADS = ("batch_build", "incremental_drops")

# environment knobs of the engine that would change what is measured
ENGINE_ENV = (
    "KG_MASTER", "KG_EXTRACTOR_COST", "KG_FAIL_TASK_ONCE", "KG_TIMING",
    "KG_DRIVER_MEM", "KG_ADVISORY_PARTITION", "KG_EXECUTOR_CORES",
    "KG_EXECUTOR_MEM", "ICEBERG_JAR",
)


def fail(msg: str, code: int = 2) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile of ``values`` (q in [0, 1])."""
    s = sorted(values)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def timing_summary(values: list[float]) -> dict:
    """Median, and the highest of p75/p90/p99 that has at least ten
    samples beyond it, with the sample count."""
    out = {"n": len(values), "p50": statistics.median(values)}
    for q in (0.99, 0.9, 0.75):
        if len(values) * (1 - q) >= 10:
            out[f"p{round(q * 100)}"] = quantile(values, q)
            break
    return out


class Run:
    def __init__(self, args):
        self.args = args
        self.cores = len(os.sched_getaffinity(0))
        self.work = os.path.join(
            ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}"
        )
        self.cache = os.path.join(ROOT, ".perfbench", "cache")
        self.deadline = time.monotonic() + DEADLINE_S
        self.children: list[dict] = []
        env = {k: v for k, v in os.environ.items() if k not in ENGINE_ENV}
        tmp = os.path.join(self.work, "tmp")
        env.update(
            PYTHONPATH=ROOT,
            PYTHONDONTWRITEBYTECODE="1",
            SPARK_GRAFT_CPUS=str(self.cores),
            SPARK_LOCAL_DIRS=os.path.join(self.work, "spark-local"),
            KG_WAREHOUSE=os.path.join(self.work, "warehouse"),
            TMPDIR=tmp,
            JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp}",
        )
        self.env = env

    # -------------------------------------------------------------- inputs

    def make_inputs(self) -> None:
        """Generate (or reuse from the cache) this (workload, seed)'s
        inputs; the worker only ever sees the directories."""
        from corpus import write_corpus

        seed = self.args.seed
        self.query_corpus = self.cached(
            f"query-{QUERY_DOCS}-{seed}",
            lambda p: write_corpus(p, QUERY_DOCS, seed + 1_000_003),
        )
        if self.args.workload == "batch_build":
            self.corpus = self.cached(
                f"batch-{BATCH_DOCS}-{seed}", lambda p: write_corpus(p, BATCH_DOCS, seed)
            )
        else:
            self.corpus = self.cached(f"drops-{DROPS}x{DROP_DOCS}-{seed}", self._write_drops)
            self.drop_src = os.path.join(self.corpus, "drops")

    def resume_corpus(self) -> str:
        from corpus import write_corpus

        return self.cached(
            f"zipf-{RESUME_DOCS}-{self.args.seed}",
            lambda p: write_corpus(p, RESUME_DOCS, self.args.seed, zipf=RESUME_ZIPF),
        )

    def cached(self, key: str, write) -> str:
        path = os.path.join(self.cache, key)
        if not os.path.isdir(path):
            tmp = f"{path}.tmp{os.getpid()}"
            write(tmp)
            os.replace(tmp, path)
        return path

    def _write_drops(self, path: str) -> None:
        """DROPS files of DROP_DOCS consecutive doc ids under ``drops/``,
        and their union as ``documents.parquet`` (first scan and the
        fused-kernel probe)."""
        import pyarrow.parquet as pq

        from corpus import write_corpus

        write_corpus(path, DROPS * DROP_DOCS, self.args.seed)
        table = pq.read_table(os.path.join(path, "documents.parquet"))
        os.makedirs(os.path.join(path, "drops"))
        for d in range(DROPS):
            pq.write_table(
                table.slice(d * DROP_DOCS, DROP_DOCS),
                os.path.join(path, "drops", f"drop-{d:04d}.parquet"),
            )

    def staged_drops(self, name: str) -> list[str]:
        """A private copy of the drop files for one worker to rename."""
        dst = os.path.join(self.work, name, "staged")
        shutil.copytree(self.drop_src, dst)
        return sorted(os.path.join(dst, f) for f in os.listdir(dst))

    def oracle(self, key: str, doc_files: list[str]) -> list:
        from kg import oracles

        from oracle import oracle_fingerprint

        sql_id = hashlib.sha1(oracles.edges_sql().encode()).hexdigest()[:12]
        return oracle_fingerprint(doc_files, os.path.join(self.cache, f"{key}-{sql_id}.json"))

    # ------------------------------------------------------------ children

    def start(self, name: str, spec: dict) -> dict:
        """Start one worker in a fresh session and sample its process
        tree's RSS from this process."""
        from hostmon import RssSampler

        wdir = os.path.join(self.work, name)
        os.makedirs(wdir, exist_ok=True)
        spec = dict(spec, work=wdir, corpus=self.corpus, query_corpus=self.query_corpus,
                    seconds=self.args.seconds)
        c = {"name": name, "spec": os.path.join(wdir, "spec.json"),
             "res": os.path.join(wdir, "result.json"), "log": os.path.join(wdir, "stderr.log")}
        with open(c["spec"], "w") as f:
            json.dump(spec, f)
        with open(c["log"], "w") as log:
            c["p"] = subprocess.Popen(
                [sys.executable, WORKER, c["spec"], c["res"]],
                cwd=ROOT, env=self.env, stdin=subprocess.DEVNULL,
                stdout=log, stderr=log, start_new_session=True,
            )
        c["rss"] = RssSampler(c["p"].pid)
        self.children.append(c)
        return c

    def finish(self, c: dict) -> dict:
        """Wait for a worker and every process of its session to end."""
        p = c["p"]
        try:
            p.wait(timeout=max(1.0, self.deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            pass
        end_session(p)
        c["rss"].stop()
        if p.returncode != 0 or not os.path.exists(c["res"]):
            with open(c["log"], errors="replace") as f:
                tail = f.read()[-3000:]
            raise RuntimeError(f"worker {c['name']} exited with {p.returncode}:\n{tail}")
        with open(c["res"]) as f:
            res = json.load(f)
        res["peak_rss_mb"] = c["rss"].peak_mb
        return res

    def child(self, name: str, spec: dict) -> dict:
        return self.finish(self.start(name, spec))

    def main_with_probe(self, spec: dict) -> tuple[dict, list[float]]:
        """The main worker, then a set-up-only probe after it: two
        fresh-process set-up samples, each with the host to itself (a
        third would add a JVM start to every run)."""
        res = self.child("main", spec)
        return res, [res["setup_s"], self.child("setup", {"mode": "setup"})["setup_s"]]


def end_session(p: subprocess.Popen) -> None:
    """Stop the worker's session (the worker, its JVM and Python
    workers) if still running, and wait until all of it has exited."""
    from hostmon import session_pids

    if p.poll() is None:
        os.killpg(p.pid, signal.SIGKILL)
    p.wait()
    t = time.monotonic()
    while session_pids(p.pid):
        if time.monotonic() - t > 5:
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.05)


# ------------------------------------------------------------------ checks


def files_under(path: str) -> list[str]:
    return sorted(
        os.path.join(r, f) for r, _, fs in os.walk(path) for f in fs if f.endswith(".parquet")
    )


def check_build(out_dir: str, expected: list, doc_files: list[str]) -> dict:
    from oracle import check_edges

    res = check_edges(doc_files, os.path.join(out_dir, "edges", "*", "*.parquet"), expected)
    res["ok"] = res["precision"] == 1.0 and res["recall"] == 1.0
    return res


def measure(run: Run, trace: bool, spec: dict) -> tuple[dict, list[float]]:
    if trace:
        return run.child("main", spec), []
    return run.main_with_probe(spec)


def summarize(main: dict, setups: list[float], chk: dict, detail: dict, trace: bool):
    """Shared tail of both workloads: the detail record and, untraced,
    the end-to-end metrics."""
    if not main["ops"]:
        raise RuntimeError("every operation failed:\n" + "\n".join(main["errors"]))
    walls = [o["wall_s"] for o in main["ops"]]
    rates = [o["edges"] / o["wall_s"] for o in main["ops"]]
    detail.update(
        op_walls_s=walls,
        triples_per_s=statistics.median(rates),
        warmup_s=main["warmup_s"],
        check=chk,
        errors=main["errors"],
        peak_rss_mb=main["peak_rss_mb"],
    )
    if trace:
        return {}
    detail["setup_samples_s"] = setups
    return {
        "setup_s": statistics.median(setups),
        "op_p50_ms": statistics.median(walls) * 1000,
        "edges_per_s": statistics.median(rates),
    }


def run_batch(run: Run, trace: bool):
    docs = [os.path.join(run.corpus, "documents.parquet")]
    expected = run.oracle(f"batch-{run.args.seed}-{BATCH_DOCS}", docs)
    main, setups = measure(run, trace, {"mode": "batch_build"})
    ops = main["ops"]
    chk = check_build(ops[-1]["out"], expected, docs)
    ok = chk["ok"] and all(o["edges"] == expected[0] for o in ops)
    attempted = len(ops) + main["failed"] + main["warmup_ops"]
    detail = {"build_s": timing_summary([o["wall_s"] for o in ops])}
    metrics = summarize(main, setups, chk, detail, trace)
    if trace:
        metrics, tok = batch_layers(run, main, docs, expected, detail)
        ok = ok and tok
    return metrics, detail, ok, attempted, main["failed"]


def run_drops(run: Run, trace: bool):
    from oracle import check_edges

    def check(res: dict) -> dict:
        n = len(res["in_files"])
        expected = run.oracle(f"drops-{run.args.seed}-{DROP_DOCS}x{n}", res["in_files"])
        chk = check_edges(res["in_files"], os.path.join(res["out"], "*.parquet"), expected)
        chk["ok"] = chk["precision"] == 1.0 and chk["recall"] == 1.0
        return chk

    spec = {"mode": "incremental_drops", "drops": run.staged_drops("main")}
    main, setups = measure(run, trace, spec)
    chk = check(main)
    attempted = len(main["ops"]) + main["failed"] + main["warmup_ops"]
    lat_ms = [o["wall_s"] * 1000 for o in main["ops"]]
    detail = {
        "drop_latency_ms": timing_summary(lat_ms),
        "drop_latency_p50_ms": quantile(lat_ms, 0.5),
        "drop_latency_p75_ms": quantile(lat_ms, 0.75),
    }
    metrics = summarize(main, setups, chk, detail, trace)
    ok = chk["ok"]
    if trace:
        metrics, tok = drops_layers(run, main, check, detail)
        ok = ok and tok
    return metrics, detail, ok, attempted, main["failed"]


def declared_metrics(trace: bool) -> dict[str, str]:
    """Name -> unit of the metrics BENCHMARK.json declares for this kind
    of run: ``per_layer`` when traced, else ``end_to_end``."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


# ----------------------------------------------------------- traced runs


def traced_worker(run: Run) -> tuple[dict, dict]:
    """The traced worker (event log on, layer calls labelled) and its
    parsed event log."""
    from eventlog import parse

    log_dir = os.path.join(run.work, "eventlog")
    os.makedirs(log_dir)
    spec = {"mode": run.args.workload, "layers": True, "eventlog_dir": log_dir}
    if run.args.workload == "incremental_drops":
        spec["drops"] = run.staged_drops("traced")
    else:
        spec["resume_corpus"] = run.resume_corpus()
    traced = run.child("traced", spec)
    return traced, parse(log_dir)


def common_layer_metrics(traced, untraced, ev, fused_groups, loop_groups) -> dict:
    """Metrics both workloads report the same way. ``fused_groups`` label
    the jobs that ran the fused kernel, ``loop_groups`` the timed loop."""
    from eventlog import group_totals, skew

    py = [s for s in ev["stages"] if s["group"] in fused_groups and s["py_sent"] > 0]
    busy_ms = group_totals(ev["stages"], loop_groups)["run_ms"]
    fused_s = traced["layers"]["fused_s"]
    walls_t = [o["wall_s"] for o in traced["ops"]]
    walls_u = [o["wall_s"] for o in untraced["ops"]]
    mb = 1 << 20
    return {
        "session.jvm_start_s": traced["jvm_start_s"],
        "session.first_scan_s": traced["first_scan_s"],
        "fused.wall_s": fused_s,
        "fused.busy_s": sum(s["run_ms"] for s in py) / 1000,
        "fused.to_python_mb": sum(s["py_sent"] for s in py) / mb,
        "fused.from_python_mb": sum(s["py_recv"] for s in py) / mb,
        "fused.tasks": sum(len(s["task_ms"]) for s in py),
        "fused.task_skew": skew([t for s in py for t in s["task_ms"]]),
        "fused.speedup_1_to_n": traced["layers"]["fused_1_s"] / fused_s,
        "jvm.gc_s": traced["gc_ms"] / 1000,
        "jvm.gc_frac": traced["gc_ms"] / busy_ms if busy_ms else 0.0,
        "jvm.peak_rss_mb": traced["peak_rss_mb"],
        "trace.overhead_s": statistics.median(walls_t) - statistics.median(walls_u),
    }


def parquet_stats(path: str) -> tuple[int, int]:
    files = files_under(path)
    return len(files), sum(os.path.getsize(f) for f in files)


def bucket_skew(edges_dir: str) -> float:
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    counts: dict[int, int] = {}
    for f in files_under(edges_dir):
        vc = pc.value_counts(pq.read_table(f, columns=["bucket"])["bucket"])
        for item in vc.to_pylist():
            counts[item["values"]] = counts.get(item["values"], 0) + item["counts"]
    return max(counts.values()) / statistics.mean(counts.values()) if counts else 0.0


def batch_layers(run: Run, untraced: dict, docs: list[str], expected: list, detail: dict):
    from eventlog import group_totals, skew
    from kg.manifest import read_manifest_rows

    traced, ev = traced_worker(run)
    lay = traced["layers"]
    out = traced["ops"][-1]["out"]
    mat = group_totals(ev["stages"], {"materialize_edges", "materialize_nodes"})
    writes = [s for s in mat["stages"] if s["out_bytes"] > 0]
    edge_writes = [s for s in writes if s["group"] == "materialize_edges"]
    files, nbytes = parquet_stats(out)
    commits = read_manifest_rows(out)
    commit_ms = [(r["committed_at"] - r["started_at"]).total_seconds() * 1000 for r in commits]
    m = common_layer_metrics(traced, untraced, ev, {"fused"}, {"pipeline"})
    m.update({
        "fused.docs_in": BATCH_DOCS,
        "fused.triples_out": traced["ops"][-1]["edges"],
        "link.wall_s": lay["fused_link_s"] - lay["fused_s"],
        "link.broadcasts": ev["broadcasts"].get("link", 0),
        "link.join_wall_s": lay["fused_link_join_s"] - lay["fused_s"],
        "link.join_broadcasts": ev["broadcasts"].get("link_join", 0),
        "canonicalize.wall_s": lay["fused_link_join_canon_s"] - lay["fused_link_join_s"],
        "materialize.edges_wall_s": lay["fused_link_edges_s"] - lay["fused_link_s"],
        "materialize.nodes_wall_s": lay["nodes_s"],
        "materialize.shuffle_write_mb": mat["shuffle_write"] / (1 << 20),
        "materialize.spill_mb": mat["spill"] / (1 << 20),
        "materialize.write_tasks": sum(len(s["task_ms"]) for s in writes),
        "materialize.files_written": files,
        "materialize.bytes_written": nbytes,
        "materialize.task_skew": skew([t for s in edge_writes for t in s["task_ms"]]),
        "materialize.bucket_skew": bucket_skew(os.path.join(out, "edges")),
        "manifest.commits": len(commits),
        "manifest.commit_ms_p50": statistics.median(commit_ms),
        "resume.attempt_s": lay["attempt_s"],
        "resume.resume_s": lay["resume_s"],
        "resume.redone_rows_frac": lay["resume_edges_written"] / lay["resume_edges_total"],
        "resume.commit_ms_p50": statistics.median(lay["manifest_commit_ms"]),
        "resume.commits": len(lay["manifest_commit_ms"]),
        "resume.bucket_skew": bucket_skew(os.path.join(lay["resume_out"], "edges")),
    })
    # correctness of everything the traced worker produced
    traced_chk = check_build(out, expected, docs)
    zdocs = [os.path.join(lay["resume_corpus"], "documents.parquet")]
    zexpected = run.oracle(f"zipf-{run.args.seed}-{RESUME_DOCS}", zdocs)
    resume_chk = check_build(lay["resume_out"], zexpected, zdocs)
    detail.update(
        traced_check=traced_chk,
        resume_check=resume_chk,
        resume_injected=lay["resume_injected"],
        attempt_s=lay["attempt_s"],
        resume_s=lay["resume_s"],
        traced_build_s=timing_summary([o["wall_s"] for o in traced["ops"]]),
        traced_errors=traced["errors"],
    )
    ok = (
        lay["resume_injected"]
        and not traced["failed"]
        and traced_chk["ok"]
        and resume_chk["ok"]
    )
    return m, ok


def native_layer_metrics(run: Run, lay: dict, detail: dict) -> tuple[dict, bool]:
    """The native stagewise prefixes and the graph queries; each query's
    rows are checked against ``__spark_entry__.oracle_sql()``."""
    import __spark_entry__ as entry

    from oracle import check_query

    q = lay["queries"]
    m = {
        "synth.wall_s": lay["spans_s"],
        "normalize.wall_s": lay["spans_norm_s"] - lay["spans_s"],
        "extract.wall_s": lay["triples_surface_s"] - lay["spans_norm_s"],
        "queries.total_s": sum(v["wall_s"] for v in q.values()),
    }
    m.update({f"queries.{k}_s": v["wall_s"] for k, v in q.items()})
    qdocs = [os.path.join(run.query_corpus, "documents.parquet")]
    oracles = entry.oracle_sql()
    q_ok = {k: check_query(qdocs, oracles["kg_" + k], v["rows"]) for k, v in q.items()}
    detail.update(queries_ok=q_ok, queries_s=m["queries.total_s"])
    return m, all(q_ok.values())


def slope(ys: list[float]) -> float:
    """Least-squares slope of ``ys`` against their index."""
    n = len(ys)
    if n < 2:
        return 0.0
    mx, my = (n - 1) / 2, statistics.mean(ys)
    return sum((i - mx) * (y - my) for i, y in enumerate(ys)) / sum(
        (i - mx) ** 2 for i in range(n)
    )


def drops_layers(run: Run, untraced: dict, check, detail: dict):
    from eventlog import skew

    traced, ev = traced_worker(run)
    ops = traced["ops"]
    groups = {o["run_id"] for o in ops}
    m = common_layer_metrics(traced, untraced, ev, groups, groups)
    dur = [o["durations_ms"] for o in ops]
    lat = [o["wall_s"] * 1000 for o in ops]

    def med(key: str) -> float:
        return statistics.median(d.get(key, 0) for d in dur)

    writes = [s for s in ev["stages"] if s["group"] in groups and s["out_bytes"] > 0]
    stages = [s for s in ev["stages"] if s["group"] in groups]
    m.update({
        "fused.docs_in": len(ops) * DROP_DOCS,
        "fused.triples_out": sum(o["edges"] for o in ops),
        "streaming.start_ms": statistics.median(
            lt - d.get("triggerExecution", 0) for lt, d in zip(lat, dur)
        ),
        "streaming.trigger_ms": med("triggerExecution"),
        "streaming.add_batch_ms": med("addBatch"),
        "streaming.latest_offset_ms": med("latestOffset"),
        "streaming.query_planning_ms": med("queryPlanning"),
        "streaming.wal_commit_ms": med("walCommit"),
        "streaming.latency_slope_ms_per_drop": slope(lat),
        "link.broadcasts": sum(ev["broadcasts"].get(g, 0) for g in groups),
        "materialize.shuffle_write_mb": sum(s["shuffle_write"] for s in stages) / (1 << 20),
        "materialize.spill_mb": sum(s["spill"] for s in stages) / (1 << 20),
        "materialize.write_tasks": sum(len(s["task_ms"]) for s in writes),
        "materialize.files_written": len(files_under(traced["out"])),
        "materialize.bytes_written": sum(s["out_bytes"] for s in writes),
        "materialize.task_skew": skew([t for s in writes for t in s["task_ms"]]),
    })
    native, q_ok = native_layer_metrics(run, traced["layers"], detail)
    m.update(native)
    traced_chk = check(traced)
    detail.update(
        traced_check=traced_chk,
        traced_drop_latency_ms=timing_summary(lat),
        traced_errors=traced["errors"],
    )
    ok = traced_chk["ok"] and not traced["failed"] and q_ok
    return m, ok


# -------------------------------------------------------------------- main


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.seconds <= 0:
        fail("--seconds must be positive")
    for need in ("BENCHMARK.json", "kg/pipeline.py", "kg/oracles.py", "__spark_entry__.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            fail(f"{need} not found under {ROOT}: run from a full checkout")
    sys.path[:0] = [HERE, ROOT]
    from hostmon import calibration_s, stat_snapshot, steal_pct

    declared = declared_metrics(bool(args.trace))
    run = Run(args)
    # a terminated run still stops its workers and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    t0 = time.monotonic()
    stat0 = stat_snapshot()
    calib = calibration_s()
    try:
        run.make_inputs()
        fn = run_batch if args.workload == "batch_build" else run_drops
        metrics, detail, ok, attempted, failed = fn(run, bool(args.trace))
    finally:
        for c in run.children:
            end_session(c["p"])
        shutil.rmtree(run.work, ignore_errors=True)
    detail.update(
        workload=args.workload,
        seed=args.seed,
        trace=args.trace,
        cores=run.cores,
        error_rate=failed / attempted,
        triple_precision=detail["check"].get("precision"),
        triple_recall=detail["check"].get("recall"),
        host={
            "steal_pct": steal_pct(stat0, stat_snapshot()),
            "calib_s": calib,
            "calib_end_s": calibration_s(),
            "wall_s": time.monotonic() - t0,
            "workers": len(run.children),
        },
    )
    if not args.trace:
        detail["metrics"] = metrics
    print(json.dumps({"detail": detail}, default=str))
    print(json.dumps({
        "correct": bool(ok),
        "attempted": attempted,
        "failed": failed,
        # every declared metric; a layer this workload does not run reads 0
        "metrics": {
            k: {"value": float(metrics.get(k, 0.0)), "unit": unit}
            for k, unit in declared.items()
        },
    }))


if __name__ == "__main__":
    main()
