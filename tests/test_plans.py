"""Plan-shape gates (round-2 VERDICT items 2-4): the top-k family must
plan as TakeOrderedAndProject (parallel partial top-k), never a global
un-partitioned Window over the full scored set; IVF cell assignment must
be join- and shuffle-free; blocking caps must bound per-block pair counts.
"""

import pandas as pd
from pyspark.sql import functions as F

from kg.canonicalize import surface_similarity_edges
from kg.ops import dedup, relational, simsearch
from tests.conftest import SF_DIR


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_topk_family_plans_as_take_ordered(spark):
    """Every former global-Window top-k now funnels through
    TakeOrderedAndProject; the only Window left is the rank derivation
    ABOVE the limit (k rows — in toString() the parent prints first, so
    Window must appear before TakeOrderedAndProject)."""
    dfs = {
        "ss_bruteforce": simsearch.bruteforce_topk(spark, SF_DIR),
        "ss_lsh": simsearch.lsh_topk(spark, SF_DIR),
        "ss_ivf": simsearch.ivf_topk(spark, SF_DIR),
        "dd_embedding_neardup": dedup.embedding_neardup(spark, SF_DIR),
        "rel_top_customers": relational.top_customers(spark, SF_DIR),
    }
    for name, df in dfs.items():
        p = _plan(df)
        assert "TakeOrderedAndProject" in p, name
        assert p.index("Window") < p.index("TakeOrderedAndProject"), (
            f"{name}: Window below the limit — global sort regression"
        )


def test_ivf_assignment_is_join_and_shuffle_free(spark):
    """Cell assignment is a per-row argmax over literal centroids — the
    plan has NO join of any kind and no exchange below the top-k."""
    p = _plan(simsearch.ivf_topk(spark, SF_DIR))
    for op in ("Join", "CartesianProduct", "Exchange"):
        assert op not in p, f"unexpected {op} in IVF plan"


def test_neardup_reads_corpus_at_most_thrice(spark):
    """The minhash/LSH/verify chain must not re-derive the corpus-sized
    shingle explode per consumer: the doc-sized signature table is
    materialized once, so the executed plan holds at most 3 corpus scans
    (signature build + the two sides of the intersection self-join) —
    round 1 had 6."""
    df = dedup.neardup_pairs(spark, SF_DIR)
    df.count()  # materialize the lazy signature checkpoint
    p = _plan(df)
    assert p.count("FileScan") <= 3, p.count("FileScan")


def test_similarity_blocking_cap_bounds_pairs(spark):
    """An adversarial block (many surfaces, one prefix, one length) stays
    bounded under max_block: pairs <= C(max_block, 2); uncapped is
    quadratic; capped edges are a subset of uncapped edges."""
    n, cap = 200, 10
    surfaces = spark.createDataFrame(
        [(f"aa{i:04d}",) for i in range(n)], "surface string"
    )
    capped = surface_similarity_edges(
        surfaces, max_distance=3, block_prefix=1, max_block=cap
    ).toPandas()
    uncapped = surface_similarity_edges(
        surfaces, max_distance=3, block_prefix=1
    ).toPandas()
    assert len(capped) <= cap * (cap - 1) // 2
    assert len(uncapped) > len(capped)  # the cap actually bit
    cap_set = set(map(tuple, capped.to_numpy()))
    unc_set = set(map(tuple, uncapped.to_numpy()))
    assert cap_set <= unc_set


def test_banded_blocking_equals_prefix_only_result(spark):
    """(prefix, length-band) blocking returns EXACTLY the prefix-only
    result — the levenshtein filter subsumes the band restriction
    (lev >= |len diff|, band width = max_distance + 1)."""
    words = [
        "line", "lines", "liner", "lining", "linear", "l", "lin",
        "record", "records", "recorder", "rec", "row", "rows",
    ]
    surfaces = spark.createDataFrame([(w,) for w in words], "surface string")
    got = surface_similarity_edges(surfaces, max_distance=3, block_prefix=1)
    got_set = set(map(tuple, got.toPandas().to_numpy()))
    import duckdb

    vals = ", ".join(f"('{w}')" for w in words)
    want = duckdb.sql(
        f"""
        WITH s(surface) AS (VALUES {vals})
        SELECT a.surface, b.surface FROM s a JOIN s b
        ON substr(a.surface,1,1) = substr(b.surface,1,1)
           AND a.surface < b.surface
        WHERE levenshtein(a.surface, b.surface) <= 3"""
    ).fetchall()
    assert got_set == set(want)


def test_embedding_neardup_bucket_cap_invariant(spark):
    """With max_bucket set, every emitted pair's endpoints are cap
    survivors (the max_bucket smallest vec_ids of their sign bucket)."""
    cap = 3
    out = dedup.embedding_neardup(spark, SF_DIR, max_bucket=cap).toPandas()
    assert len(out) <= dedup.NEARDUP_TOP_PAIRS
    emb = (
        spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        .select(
            "vec_id",
            dedup._sign_bucket(
                F.transform("embedding", lambda x: x.cast("double"))
            ).alias("bucket"),
        )
        .toPandas()
    )
    survivors = set(
        emb.sort_values(["bucket", "vec_id"])
        .groupby("bucket")
        .head(cap)["vec_id"]
    )
    assert set(out["vec_a"]) <= survivors and set(out["vec_b"]) <= survivors


def test_knn_graph_bucket_cap_invariant(spark):
    """kNN-graph twin of the neardup cap invariant (round-4 VERDICT item
    2): with max_bucket set, every emitted edge's endpoints are cap
    survivors (the max_bucket smallest vec_ids of their sign bucket) —
    so the per-bucket pair count is bounded at C(max_bucket, 2)."""
    cap = 3
    out = simsearch.knn_graph(spark, SF_DIR, max_bucket=cap).toPandas()
    emb = (
        spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        .select(
            "vec_id",
            dedup._sign_bucket(
                F.transform("embedding", lambda x: x.cast("double")),
                bits=simsearch.SEARCH_SIGN_BITS,
            ).alias("bucket"),
        )
        .toPandas()
    )
    survivors = set(
        emb.sort_values(["bucket", "vec_id"])
        .groupby("bucket")
        .head(cap)["vec_id"]
    )
    assert len(out) > 0
    assert set(out["vec_id"]) <= survivors
    assert set(out["nbr_id"]) <= survivors
    # ... and the capped query stays oracle-exact (the SQL mirrors the cap)
    import duckdb

    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW embeddings AS SELECT * FROM '{SF_DIR}/embeddings.parquet'"
    )
    from tests.conftest import assert_df_equal

    assert_df_equal(
        simsearch.knn_graph(spark, SF_DIR, max_bucket=cap),
        con.sql(simsearch.knn_graph_sql(max_bucket=cap)),
    )


def test_sessionize_plan_has_single_exchange(spark):
    """PLANS.md §6 claim, now CI-gated: ONE hash exchange on user_id
    serves the lag window, the running-sum window AND the per-session
    rollup (HashPartitioning(user_id) satisfies the (user_id, session_seq)
    clustering requirement, so the groupBy reuses the window's shuffle)."""
    p = _plan(relational.sessionize(spark, SF_DIR))
    assert p.count("Exchange") == 1, p
    assert "hashpartitioning(user_id" in p, p


def test_two_hop_self_join_reads_checkpoint_not_files(spark):
    """The vocabulary-bounded DISTINCT pair projection is materialized
    once (localCheckpoint); the self-join must consume THAT — i.e. the
    two-hop plan holds zero parquet scans (re-deriving the corpus-sized
    extraction DAG under both join sides was the round-1 landmine)."""
    from kg.queries import q_two_hop

    df = q_two_hop(spark, SF_DIR)
    df.count()  # materialize the lazy checkpoint
    p = _plan(df)
    assert p.count("FileScan") == 0, p
    assert "Scan ExistingRDD" in p, p


def test_graph_analytics_plans(spark):
    """Round-5 graph ops: link prediction's global top-n must plan as
    TakeOrderedAndProject (per-partition heads, no full sort), and both
    ops' joins must consume the checkpointed association-graph pair set
    instead of re-deriving the corpus-sized extraction DAG per join side
    (the q_two_hop landmine; triangles alone joins the pair set 5 times —
    uncheckpointed that is 5 full corpus scans)."""
    from kg.queries import q_link_prediction, q_triangles

    lp = q_link_prediction(spark, SF_DIR)
    lp.count()  # materialize the lazy checkpoints
    p = _plan(lp)
    assert "TakeOrderedAndProject" in p, p
    # below the pair-set checkpoint the only scan is the doc-count literal
    # already folded driver-side -> zero FileScans in the whole plan
    assert p.count("FileScan") == 0, p

    tri = q_triangles(spark, SF_DIR)
    tri.count()
    p = _plan(tri)
    assert p.count("FileScan") == 0, p
    assert "Scan ExistingRDD" in p, p


def test_range_join_plans_binned_not_nested_loop(spark):
    """The interval join must execute as a binned EQUI-join (shuffle- or
    broadcast-hash on the bin key), never the BroadcastNestedLoopJoin the
    naive theta-join formulation degenerates to — at 100 TB a nested-loop
    over events x incident-windows is O(n*m). The naive control below
    proves Spark really does pick the nested loop for the plain
    inequality predicate, so the gate is meaningful."""
    p = _plan(relational.incident_window_counts(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "CartesianProduct" not in p, p
    assert "Join" in p, p  # it IS still a join — just an equi one

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    err = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("incident_id"),
        F.col("ts").alias("w_start"),
    )
    naive = err.join(
        ev,
        (ev["ts"] >= err["w_start"])
        & (ev["ts"] < err["w_start"] + F.expr("INTERVAL 10 MINUTES")),
        "left",
    )
    assert "BroadcastNestedLoopJoin" in _plan(naive)


def test_asof_join_is_join_free(spark):
    """The as-of composition is union + ONE running window — there must be
    no join operator anywhere in the plan (the naive ASOF formulation is a
    theta-join), and the only exchanges are the error-side dedupe and the
    per-user window partitioning."""
    p = _plan(relational.asof_purchase_error(spark, SF_DIR))
    assert "Join" not in p, p
    assert p.count("Exchange") <= 3, p
    assert "hashpartitioning(user_id" in p, p


def test_pq_encode_and_adc_are_join_and_shuffle_free(spark):
    """PQ encoding + ADC scoring are per-row expressions against literal
    codebook/lookup tables: the plan below the shortlist top-k must hold
    no join and no exchange of any kind (TakeOrderedAndProject's own
    single-partition merge is the only data movement), and the shortlist
    must plan as TakeOrderedAndProject — the 100 TB shape where scoring
    reads only the 8-byte codes."""
    p = _plan(simsearch.pq_topk(spark, SF_DIR))
    assert "Join" not in p, p
    assert "CartesianProduct" not in p, p
    assert "TakeOrderedAndProject" in p, p


def test_ivfpq_stays_join_and_cartesian_free(spark):
    """The IVF-PQ composition must keep both parents' plan shape: cell
    assignment and PQ/ADC scoring are per-row expressions against literal
    tables, so below the shortlist top-k there is no join and no
    cartesian product, and the probed-cell restriction is an ordinary
    pushed filter (at scale: partition pruning over the cell layout)."""
    p = _plan(simsearch.ivfpq_topk(spark, SF_DIR))
    assert "Join" not in p, p
    assert "CartesianProduct" not in p, p
    assert "TakeOrderedAndProject" in p, p


def test_bfs_and_pmi_consume_checkpointed_bases(spark):
    """Same landmine-gate as the other graph ops: once the checkpointed
    base materializes, neither the BFS level union nor PMI's pair/count
    joins may re-derive the corpus-sized extraction DAG — zero FileScans
    in either plan (PMI's endpoint counts must also enter via broadcast,
    vocabulary-bounded)."""
    from kg.queries import q_bfs_levels, q_pmi

    bfs = q_bfs_levels(spark, SF_DIR)
    bfs.count()
    p = _plan(bfs)
    assert p.count("FileScan") == 0, p

    pmi = q_pmi(spark, SF_DIR)
    pmi.count()
    p = _plan(pmi)
    assert p.count("FileScan") == 0, p
    assert "BroadcastHashJoin" in p, p


def test_fused_triples_plan_one_kernel_one_exchange(spark, tmp_path):
    """Both input forms reach the clean+extract kernel through ONE
    MapInPandas behind the one spread exchange: flat docs are derived
    into spans inside the kernel's Python call, and a spans table is
    exploded natively — neither adds a boundary crossing or a shuffle.
    The stagewise contract queries (raw spans, cleaned spans, triples)
    plan the same way over the flat table."""
    from kg import queries as Q
    from kg.fused import fused_extract_triples
    from kg.synth import load_interleaved

    spans_dir = str(tmp_path)
    load_interleaved(spark, SF_DIR).write.parquet(f"{spans_dir}/documents.parquet")
    plans = {
        "flat": fused_extract_triples(spark, SF_DIR),
        "spans": fused_extract_triples(spark, spans_dir),
        "q_spans": Q.q_spans(spark, SF_DIR),
        "q_spans_norm": Q.q_spans_norm(spark, SF_DIR),
        "q_triples_surface": Q.q_triples_surface(spark, SF_DIR),
    }
    for name, df in plans.items():
        p = _plan(df)
        assert p.count("MapInPandas") == 1, (name, p)
        assert p.count("FileScan") == 1, (name, p)
        assert p.count("Exchange") == 1, (name, p)


def test_streaming_triples_plan_one_kernel_no_repartition(spark, tmp_path):
    """The stream runs the batch extraction plan without the scan spread:
    over a flat and over a spans source, one MapInPandas and no
    Repartition. ``executedPlan`` raises on a streaming frame, so the
    analyzed plan is checked."""
    from kg.fused import extract_documents
    from kg.streaming import _document_stream
    from kg.synth import load_interleaved

    flat_dir, spans_dir = str(tmp_path / "flat"), str(tmp_path / "spans")
    flat = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")
    flat.limit(10).write.parquet(flat_dir)
    load_interleaved(spark, SF_DIR).limit(10).write.parquet(spans_dir)
    for in_dir in (flat_dir, spans_dir):
        triples = extract_documents(_document_stream(spark, in_dir))
        assert triples.isStreaming
        p = triples._jdf.queryExecution().analyzed().toString()
        assert p.count("MapInPandas") == 1, p
        assert "Repartition" not in p, p


def test_nodes_plan_one_aggregation_no_python_scan(spark):
    """The nodes table is ONE groupBy over the exploded edge endpoints
    unioned with the concept rows: one hash exchange, no broadcast join,
    and the concepts enter as a JVM-local relation, not a Python-backed
    ``Scan ExistingRDD``. Below the edges the clean+extract kernel reads
    the documents once: one ``FileScan`` behind its one round-robin
    spread."""
    import re

    from kg.queries import q_nodes

    p = _plan(q_nodes(spark, SF_DIR))
    exchanges = re.findall(r"(\w*Exchange) (\w+)", p)
    assert sorted(exchanges) == [
        ("Exchange", "RoundRobinPartitioning"),
        ("Exchange", "hashpartitioning"),
    ], p
    assert p.count("FileScan") == 1, p
    assert "ExistingRDD" not in p, p


def test_dictionary_frames_plan_as_local_relations(spark):
    """The static dictionary frames are JVM-local relations: scanning one
    runs no Python task."""
    from kg.canonicalize import canonical_concepts, canonical_map
    from kg.link import alias_dict

    for make in (canonical_concepts, canonical_map, alias_dict):
        p = _plan(make(spark))
        assert "LocalTableScan" in p, (make.__name__, p)
        assert "ExistingRDD" not in p, (make.__name__, p)


def test_edges_write_adds_no_exchange_above_kernel(spark):
    """The staged edges write sorts and writes inside the kernel stage:
    the only exchange is the spread below MapInPandas, none sits above it
    (in toString() a parent prints before its child)."""
    from kg.fused import fused_extract_triples
    from kg.link import link_canonicalize_triples
    from kg.materialize import EDGE_SORT_COLS, _write_plan, with_bucket

    final = link_canonicalize_triples(fused_extract_triples(spark, SF_DIR), spark)
    edges = final.select("subj_id", "pred", "obj_id", "doc_id", "offset")
    p = _plan(_write_plan(with_bucket(edges, 64), F.col("bucket"), 4, EDGE_SORT_COLS))
    kernel = p.index("MapInPandas")
    assert "Exchange" not in p[:kernel], p
    assert p.count("Exchange") == 1 and "RoundRobinPartitioning" in p[kernel:], p
