"""ANN dial parameterization (round-2 VERDICT items 3-4): the search
variants take (sign_bits, n_cells, n_probe, query_vec_id) instead of
module constants; larger-cell configurations produce the same top-k; the
broadcast-centroid path (for centroid sets past literal inlining) is
result-identical to the literal path and stays exchange-free; recall@k is
measurable on a planted-cluster fixture.
"""

import pytest

from kg.ops import simsearch as S
from kg.synth import write_planted_embeddings
from tests.conftest import SF_DIR, assert_df_equal


def _ids(rows):
    return [r.vec_id for r in rows]


def test_broadcast_centroid_path_equals_literal(spark):
    a = S.ivf_topk(spark, SF_DIR, centroid_path="literal").collect()
    b = S.ivf_topk(spark, SF_DIR, centroid_path="broadcast").collect()
    assert a == b


def test_larger_cell_config_same_topk(spark):
    """VERDICT item-3 'done' criterion: a larger-cell configuration
    produces the same top-k on the fixture. Probing ALL cells makes IVF
    exact, so any n_cells with n_probe=n_cells must equal brute force —
    including a centroid set past LITERAL_CENTROID_MAX (auto-selects the
    broadcast path)."""
    bf = _ids(S.bruteforce_topk(spark, SF_DIR).collect())
    assert _ids(S.ivf_topk(spark, SF_DIR, n_cells=16, n_probe=16).collect()) == bf
    assert S.LITERAL_CENTROID_MAX < 100
    assert _ids(S.ivf_topk(spark, SF_DIR, n_cells=100, n_probe=100).collect()) == bf


def test_broadcast_path_plan_is_shuffle_free(spark):
    """Assignment via the packed 1-row broadcast: the plan below the top-k
    must hold no SHUFFLE exchange and no SortMergeJoin — the only Exchange
    allowed is the BroadcastExchange of the 1-row centroid side (that's
    the point of the path)."""
    df = S.ivf_topk(spark, SF_DIR, centroid_path="broadcast")
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in p.replace("BroadcastExchange", ""), p
    assert "SortMergeJoin" not in p
    assert "BroadcastNestedLoopJoin" in p


def test_lsh_sign_bits_parameter_changes_bucketing(spark):
    """sign_bits is live: coarser buckets (fewer bits) can only widen the
    candidate set, so recall vs brute force is monotone non-decreasing as
    bits shrink; and the result at the contract dial matches the
    registry default."""
    default = S.lsh_topk(spark, SF_DIR).collect()
    explicit = S.lsh_topk(
        spark, SF_DIR, k=S.TOP_K, sign_bits=S.SEARCH_SIGN_BITS
    ).collect()
    assert default == explicit
    bf = set(_ids(S.bruteforce_topk(spark, SF_DIR).collect()))
    r1 = len(set(_ids(S.lsh_topk(spark, SF_DIR, sign_bits=1).collect())) & bf)
    r6 = len(set(_ids(S.lsh_topk(spark, SF_DIR, sign_bits=6).collect())) & bf)
    assert r1 >= r6


def test_sizing_rules():
    """cells ~ sqrt(N); sign_bits keeps EXPECTED bucket size constant —
    both must grow with the corpus (the round-2 scale flaw was constants)."""
    assert S.ivf_dials(10**6) == (1000, 125)
    assert S.ivf_dials(10**12)[0] == 10**6
    assert S.lsh_sign_bits(10**6) == 8
    assert S.lsh_sign_bits(10**12) == 28
    ns = [10**4, 10**6, 10**9, 10**12]
    assert all(
        S.lsh_sign_bits(a) <= S.lsh_sign_bits(b) for a, b in zip(ns, ns[1:])
    )
    assert all(S.ivf_dials(a)[0] <= S.ivf_dials(b)[0] for a, b in zip(ns, ns[1:]))


@pytest.fixture(scope="module")
def planted_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("planted"))
    write_planted_embeddings(d)
    return d


def test_recall_on_planted_clusters(spark, planted_dir):
    """On the planted-cluster fixture (32 clusters, one IVF centroid slot
    per cluster) the probe dial sweeps a real recall curve: probe=4 of 32
    cells recovers >=0.9 of the exact top-10 while scanning 12.5% of the
    corpus, and probe=8 beats probe=1 (monotone in probe). The sandbox's
    random embeddings are chance-level by construction — that contrast is
    the point of the fixture."""
    qids = list(range(33, 41))
    rep4 = S.recall_at_k(spark, planted_dir, qids, sign_bits=4, n_cells=32, n_probe=4)
    assert rep4["ivf"]["recall"] >= 0.9
    assert rep4["ivf"]["corpus_fraction_scanned"] == 0.125
    rep1 = S.recall_at_k(spark, planted_dir, qids, sign_bits=4, n_cells=32, n_probe=1)
    rep8 = S.recall_at_k(spark, planted_dir, qids, sign_bits=4, n_cells=32, n_probe=8)
    assert rep1["ivf"]["recall"] < rep8["ivf"]["recall"]
    # sign-LSH on the same fixture: well above the random floor but far
    # below IVF — hyperplane cuts don't respect cluster geometry (honest
    # weakness the bench table documents)
    assert rep4["lsh"]["recall"] >= 0.15


def test_query_vec_id_parameter(spark):
    """Arbitrary query vectors: results exclude the query id and differ
    across queries (the reference serves arbitrary-query kNN)."""
    a = S.bruteforce_topk(spark, SF_DIR, query_vec_id=7).collect()
    assert 7 not in _ids(a)
    b = S.bruteforce_topk(spark, SF_DIR, query_vec_id=0).collect()
    assert _ids(a) != _ids(b)

def test_probe_buckets_sequence():
    """Driver-side probe-sequence properties: query bucket first, buckets
    unique, capped at 2^bits, and the first flip is the smallest-|margin|
    bit (the coordinate nearest zero is the likeliest to disagree with a
    true neighbor)."""
    qv = [0.9, -0.05, 0.4, -0.6]
    qb = 0b0101  # signs: +,-,+,-
    seq = S._probe_buckets(qv, 4, 16)
    assert seq[0] == qb
    assert len(seq) == len(set(seq)) == 16  # all buckets, no repeats
    assert seq[1] == qb ^ 0b0010  # dim 1 has the smallest |margin|
    assert S._probe_buckets(qv, 4, 1) == [qb]
    assert len(S._probe_buckets(qv, 4, 999)) == 16  # capped at 2^bits


def test_lsh_probe_all_buckets_is_exact(spark):
    """n_probes == 2^sign_bits degenerates to brute force (every bucket
    probed), and the default n_probes=1 is the single-bucket contract
    behavior."""
    bf = _ids(S.bruteforce_topk(spark, SF_DIR).collect())
    assert _ids(S.lsh_topk(spark, SF_DIR, sign_bits=4, n_probes=16).collect()) == bf
    assert (
        S.lsh_topk(spark, SF_DIR).collect()
        == S.lsh_topk(spark, SF_DIR, n_probes=1).collect()
    )


def test_multiprobe_recall_monotone(spark, planted_dir):
    """More probes can only add candidates, so recall is monotone
    non-decreasing in n_probes — and multi-probe must materially beat the
    0.28 single-bucket recall the round-3 bench exposed."""
    qids = list(range(33, 41))
    r = {
        p: S.recall_at_k(
            spark, planted_dir, qids, sign_bits=4, lsh_probes=p
        )["lsh"]["recall"]
        for p in (1, 4, 8)
    }
    assert r[1] <= r[4] <= r[8]
    assert r[8] >= 0.8

def test_trained_centroids_beat_standin(spark, planted_dir):
    """Distributed spherical k-means (Lloyd over DataFrame aggs) recovers
    the planted centers: at the SAME probe budget, trained centroids must
    match or beat the vec-id-slot stand-in, and converge near the recall
    the planted geometry supports at probe=1."""
    trained = S.train_ivf_centroids(spark, planted_dir, n_cells=32, n_iters=5)
    assert len(trained) == 32 and all(len(cv) == 64 for _, cv in trained)
    qids = list(range(33, 41))
    standin = S.recall_at_k(
        spark, planted_dir, qids, n_cells=32, n_probe=1
    )["ivf"]["recall"]
    got = S.recall_at_k(
        spark, planted_dir, qids, n_probe=1, ivf_centroids=trained
    )["ivf"]
    assert got["trained"] and got["n_cells"] == 32
    assert got["recall"] >= standin
    assert got["recall"] >= 0.8


def test_trained_centroids_all_probes_exact(spark):
    """Probing every trained cell is still exact brute force — training
    changes the partition of the corpus, never the candidate math — and
    arbitrary (non-1..n) cell ids survive the literal argmax's
    position->id mapping."""
    trained = S.train_ivf_centroids(spark, SF_DIR, n_cells=6, n_iters=2)
    relabeled = [(cell * 10 + 3, cv) for cell, cv in trained]
    bf = _ids(S.bruteforce_topk(spark, SF_DIR).collect())
    got = S.ivf_topk(spark, SF_DIR, n_probe=6, centroids=relabeled)
    assert _ids(got.collect()) == bf

def test_sharded_centroid_assignment_equals_literal(spark):
    """centroid_shard=3 splits the 8 stand-in centroids into 3 packed
    1-row broadcasts; the chained per-shard maxes must be result-identical
    to the literal path (the cross-shard array_max applies the same
    struct(dot, -cell) ordering), and the plan must stay shuffle-free —
    one BroadcastNestedLoopJoin per shard, no corpus Exchange."""
    a = S.ivf_topk(spark, SF_DIR, centroid_path="literal").collect()
    df = S.ivf_topk(
        spark, SF_DIR, centroid_path="broadcast", centroid_shard=3
    )
    assert df.collect() == a
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in p.replace("BroadcastExchange", ""), p
    # AQE's final-plan string renders each query-stage subtree twice, so
    # count >= shards rather than == (shuffle-freedom is the real claim)
    assert p.count("BroadcastNestedLoopJoin") >= 3, p


def test_query_vec_serving_path(spark):
    """Ad-hoc query vectors (the serving path: embed-on-read then search):
    querying with the VALUE of corpus vector 7 must return vec 7 itself at
    rank 1 with cos ~ 1 in every variant — with query_vec the corpus is
    not self-excluded."""
    v7 = [
        float(x)
        for x in spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        .filter("vec_id = 7")
        .collect()[0]
        .embedding
    ]
    for fn, kw in (
        (S.bruteforce_topk, {}),
        (S.lsh_topk, {}),
        (S.ivf_topk, {}),
    ):
        top = fn(spark, SF_DIR, query_vec=v7, **kw).collect()[0]
        assert top.vec_id == 7 and top.rank == 1 and top.cos >= 0.999, (fn, top)

def test_ivf_index_partition_pruning(spark, tmp_path):
    """The materialized IVF layout: vectors partitioned by cell on disk,
    probe cells pushed as PartitionFilters — the scan lists only
    n_probe/n_cells directories (the property that makes query cost
    independent of corpus size). Results must equal the in-memory
    ivf_topk with the same (stand-in) centroids, and self-query via
    query_vec must rank the vector itself first."""
    idx = str(tmp_path / "ivf")
    S.build_ivf_index(spark, SF_DIR, idx)
    qv = S._small_vecs(spark, SF_DIR, need_max=S.IVF_CELLS)[0]
    df = S.ivf_topk_indexed(spark, idx, qv, n_probe=S.IVF_PROBE)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in p and "cell" in p.split("PartitionFilters")[1][:120], p
    got = df.collect()
    # rank 1 is vec 0 itself (query_vec path does not self-exclude)
    assert got[0].vec_id == 0 and got[0].cos >= 0.999
    # equality with the un-indexed operator modulo the self-row: drop it
    # and compare the next TOP_K-1 ids/scores
    want = S.ivf_topk(spark, SF_DIR, n_probe=S.IVF_PROBE).collect()
    assert [(r.vec_id, r.cos) for r in got[1:]] == [
        (r.vec_id, r.cos) for r in want[: len(got) - 1]
    ]
    # pruning is real, proven behaviorally: CORRUPT every file in a
    # NON-probed cell directory — the pruned query never OPENS them and
    # still returns the same rows, while an unpruned scan of the same
    # index (which must read them) fails on the bad parquet footer
    import glob
    import json

    import pytest as _pytest

    with open(f"{idx}/centroids.json") as f:
        cents = [(int(c), cv) for c, cv in json.load(f)]
    probe = sorted(((-S._py_dot(qv, cv), c) for c, cv in cents))[: S.IVF_PROBE]
    probed_cells = {c for _, c in probe}
    victim = next(c for c, _ in cents if c not in probed_cells)
    for fpath in glob.glob(f"{idx}/vectors/cell={victim}/*.parquet"):
        with open(fpath, "wb") as fh:
            fh.write(b"not a parquet file")
    again = S.ivf_topk_indexed(spark, idx, qv, n_probe=S.IVF_PROBE).collect()
    assert again == got
    with _pytest.raises(Exception):
        spark.read.parquet(f"{idx}/vectors").selectExpr(
            "sum(vec_id)"
        ).collect()


def test_exhaustive_probe_order_matches_heap(spark):
    """The contract multiprobe query uses the exhaustive (SQL-mirrorable)
    probe order; the at-scale path uses the heap enumeration. With
    distinct flip costs the two sequences are identical — assert that on
    the sandbox query vector across bit widths and probe counts."""
    from kg.ops.simsearch import (
        _probe_buckets,
        _probe_buckets_exhaustive,
        _small_vecs,
    )

    qv = _small_vecs(spark, SF_DIR, need_max=0)[0]
    for bits in (2, 3, 4, 5):
        for probes in (1, 2, 4, 8):
            heap = _probe_buckets(qv, bits, probes)
            full = _probe_buckets_exhaustive(qv, bits, probes)
            assert heap == full, (bits, probes, heap, full)


def test_multiprobe_contract_query_matches_oracle(spark, duck):
    from kg.ops.simsearch import lsh_multiprobe_topk, lsh_multiprobe_topk_sql

    assert_df_equal(
        lsh_multiprobe_topk(spark, SF_DIR), duck.sql(lsh_multiprobe_topk_sql())
    )


def test_multiprobe_returns_superset_quality(spark):
    """More probes can only improve the best-cos found (candidate set is
    a superset): top-1 cos at 4 probes >= top-1 cos at 1 probe."""
    from kg.ops.simsearch import lsh_topk

    one = lsh_topk(spark, SF_DIR, n_probes=1).collect()
    four = lsh_topk(spark, SF_DIR, n_probes=4, probe_order="exhaustive").collect()
    assert four[0].cos >= one[0].cos


def test_sampled_training_matches_or_beats_standin(spark, planted_dir):
    """Round-3 VERDICT item 4: the quantizer now trains on a deterministic
    hash-sample. Force real sampling on the 1024-vector fixture
    (sample_per_cell=8 -> ~256 training points) and assert the sampled
    training still reaches at least the vec-id-slot stand-in's recall at
    probe=1 — training on a sample must not cost quality the planted
    geometry supports."""
    trained = S.train_ivf_centroids(
        spark, planted_dir, n_cells=32, n_iters=5, sample_per_cell=8
    )
    qids = list(range(40, 56))
    standin = S.recall_at_k(
        spark, planted_dir, qids, n_cells=32, n_probe=1, variants=("ivf",)
    )["ivf"]["recall"]
    sampled = S.recall_at_k(
        spark, planted_dir, qids, n_probe=1, ivf_centroids=trained,
        variants=("ivf",),
    )["ivf"]["recall"]
    assert sampled >= standin, (sampled, standin)


def test_training_through_broadcast_assignment_path(spark, planted_dir):
    """Training with > LITERAL_CENTROID_MAX cells exercises the packed
    1-row broadcast assignment INSIDE the Lloyd loop (round-3 VERDICT: the
    broadcast path was search-tested but never trained through). Probing
    every trained cell must still equal brute force — training only
    repartitions the corpus, never changes candidate math."""
    n_cells = 96
    assert n_cells > S.LITERAL_CENTROID_MAX
    trained = S.train_ivf_centroids(
        spark, planted_dir, n_cells=n_cells, n_iters=2
    )
    assert len(trained) == n_cells
    for _, cv in trained:
        norm = sum(x * x for x in cv) ** 0.5
        assert abs(norm - 1.0) < 1e-9
    ids = lambda rows: [r.vec_id for r in rows]  # noqa: E731
    bf = ids(S.bruteforce_topk(spark, planted_dir, query_vec_id=40).collect())
    ivf = ids(
        S.ivf_topk(
            spark, planted_dir, query_vec_id=40, centroids=trained,
            n_probe=n_cells,
        ).collect()
    )
    assert ivf == bf


def test_dedrivered_training_bit_identical_to_collect_path(spark, planted_dir):
    """Round-4 VERDICT item 4: past MEANS_COLLECT_MAX_CELLS the trainer
    keeps per-cell means in a DataFrame instead of collect()ing cells x
    dim to the driver each Lloyd iteration. The exact-integer mean sums
    make the routing PROVABLY result-invariant: run the collect path (the
    default at this cell count) and the DataFrame trainer on the same
    >LITERAL_CENTROID_MAX config (so assignment runs the packed broadcast
    in both) with real hash-sampling active, and require the trained
    centroids to be BIT-identical — at the default shard size and
    through a multi-shard packed assignment (shard_size < n_cells)."""
    kw = dict(n_cells=80, n_iters=2, sample_per_cell=4)
    assert S.LITERAL_CENTROID_MAX < kw["n_cells"] <= S.MEANS_COLLECT_MAX_CELLS
    a = S.train_ivf_centroids(spark, planted_dir, **kw)
    assert len(a) == kw["n_cells"]
    for shard in ({}, {"shard_size": 32}):
        cdf = S.train_ivf_centroids_df(spark, planted_dir, **shard, **kw)
        got = sorted(
            (int(r["cell"]), [float(x) for x in r["cv"]]) for r in cdf.collect()
        )
        assert got == a  # exact float equality, every component


def test_indexed_trained_recall_partition_pruned(spark, planted_dir, tmp_path):
    """Round-3 VERDICT item 8: trained centroids + the materialized
    partition-pruned index together at a realistic dial. Build the index
    once with trained 32-cell centroids, then assert recall@10 >= 0.95 at
    probe 2 and 4 THROUGH ivf_topk_indexed (recall was previously only
    measured through the in-memory path), and that the scan actually
    prunes partitions."""
    trained = S.train_ivf_centroids(spark, planted_dir, n_cells=32, n_iters=5)
    idx = S.build_ivf_index(
        spark, planted_dir, str(tmp_path / "ivf_idx"), centroids=trained
    )
    qids = list(range(40, 48))
    vecs = {
        r.vec_id: [float(x) for x in r.v]
        for r in S._emb(spark, planted_dir)
        .filter(S.F.col("vec_id").isin(qids))
        .collect()
    }
    for n_probe in (2, 4):
        hits = 0.0
        for q in qids:
            truth = {
                r.vec_id
                for r in S.bruteforce_topk(
                    spark, planted_dir, query_vec=vecs[q]
                ).collect()
            }
            df = S.ivf_topk_indexed(spark, idx, vecs[q], n_probe=n_probe)
            got = {r.vec_id for r in df.collect()}
            hits += len(got & truth) / max(1, len(truth))
        recall = hits / len(qids)
        assert recall >= 0.95, (n_probe, recall)
    # the probed scan lists a strict subset of cell directories
    plan = (
        S.ivf_topk_indexed(spark, idx, vecs[qids[0]], n_probe=2)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters" in plan and "cell" in plan


def test_trained_ivf_oracle_exact_and_partitioning_invariant(spark, duck):
    """Exact-integer mean sums (floor(v*2^24) summed as decimals) make
    distributed k-means training bit-deterministic, which is what lets
    the trained-quantizer contract query carry a full value oracle:

    * the DuckDB unrolled Lloyd chain (ivf_trained_topk_sql) reproduces
      the Spark trained search EXACTLY — centroids, probe choice, scores,
      ranks;
    * training under a different shuffle-partition count yields
      bit-identical centroids (the old float-avg means were partial-sum-
      order-dependent in the last ulps, so this was previously untrue).
    """
    from kg.ops.registry import _ivf_trained_topk

    assert_df_equal(
        _ivf_trained_topk(spark, SF_DIR), duck.sql(S.ivf_trained_topk_sql())
    )

    a = S.train_ivf_centroids(spark, SF_DIR, n_iters=2)
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "2")
        b = S.train_ivf_centroids(spark, SF_DIR, n_iters=2)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert a == b


def test_knn_graph_links_planted_clusters(spark, planted_dir, duck):
    """The kNN graph (SemDedup/clustering precursor) must be semantically
    useful, not just well-shaped: on the planted-cluster fixture the vast
    majority of edges connect same-cluster members, every vector with
    bucket-mates gets at most k edges, and the DuckDB oracle reproduces
    the graph exactly on the sandbox corpus (same bucket blocking, same
    rounded scores, same tie-breaks)."""
    from tests.conftest import assert_df_equal

    g = S.knn_graph(spark, planted_dir, k=3)
    lab = spark.read.parquet(f"{planted_dir}/embeddings.parquet").select(
        "vec_id", "label"
    )
    edges = (
        g.join(lab.withColumnRenamed("label", "la"), "vec_id")
        .join(
            lab.select(
                S.F.col("vec_id").alias("nbr_id"),
                S.F.col("label").alias("lb"),
            ),
            "nbr_id",
        )
        .select("la", "lb")
        .collect()
    )
    same = sum(1 for r in edges if r.la == r.lb)
    assert len(edges) > 0
    base_frac = same / len(edges)
    # ~0.76 at sign_bits=4: members that flip a sign bit (noise 0.15 vs
    # ~0.125 mean |component|) scatter to buckets without cluster-mates
    # and pick up cross-cluster edges — the documented blocking miss the
    # sign_bits dial trades against bucket size. Chance is 1/32 ≈ 0.03,
    # so >= 0.7 is a >20x lift — the graph is semantically real.
    assert base_frac >= 0.7, base_frac
    ranks = g.groupBy("vec_id").agg(S.F.max("nn_rank").alias("m")).collect()
    assert max(r.m for r in ranks) <= 3
    # oracle parity on the contract corpus
    assert_df_equal(S.knn_graph(spark, SF_DIR), duck.sql(S.knn_graph_sql()))


def test_knn_graph_refined_closes_blocking_miss(spark, planted_dir, duck):
    """One NN-descent iteration (round-4 VERDICT item 5) must measurably
    close the sign-bucket blocking miss the base graph documents: on the
    planted-cluster fixture the refined graph's same-cluster edge
    fraction exceeds the base graph's (neighbor-of-neighbor expansion
    recovers cluster-mates that flipped a sign bit), per-vector edge
    count stays <= k, and the DuckDB oracle reproduces the refined graph
    exactly on the sandbox corpus."""

    def same_frac(df):
        lab = spark.read.parquet(f"{planted_dir}/embeddings.parquet").select(
            "vec_id", "label"
        )
        edges = (
            df.join(lab.withColumnRenamed("label", "la"), "vec_id")
            .join(
                lab.select(
                    S.F.col("vec_id").alias("nbr_id"),
                    S.F.col("label").alias("lb"),
                ),
                "nbr_id",
            )
            .select("la", "lb")
            .collect()
        )
        return sum(1 for r in edges if r.la == r.lb) / len(edges)

    base = same_frac(S.knn_graph(spark, planted_dir, k=3))
    refined_df = S.knn_graph_refined(spark, planted_dir, k=3)
    refined = same_frac(refined_df)
    assert refined > base, (base, refined)
    ranks = refined_df.groupBy("vec_id").agg(
        S.F.max("nn_rank").alias("m")
    ).collect()
    assert max(r.m for r in ranks) <= 3
    # oracle parity on the contract corpus (contract dials)
    assert_df_equal(
        S.knn_graph_refined(spark, SF_DIR),
        duck.sql(S.knn_graph_refined_sql()),
    )


def test_pq_adc_recall_and_compression(spark):
    """PQ-ADC shortlist (4x k) + exact re-rank must recover most of the
    exact top-10 on the planted fixture (the clustered corpus is exactly
    where ADC's 32x compression should NOT cost much recall), and a wider
    shortlist must be recall-monotone-or-equal. Also pins the adc column:
    the re-ranked cos of the top hit equals the brute-force cos."""
    from kg.ops import simsearch

    exact = {r.vec_id for r in simsearch.bruteforce_topk(spark, SF_DIR).collect()}
    pq10 = simsearch.pq_topk(spark, SF_DIR).collect()
    got = {r.vec_id for r in pq10}
    recall = len(got & exact) / len(exact)
    assert recall >= 0.6, recall
    wider = {
        r.vec_id
        for r in simsearch.pq_topk(spark, SF_DIR, shortlist=200).collect()
    }
    assert len(wider & exact) >= len(got & exact)
    # full-shortlist PQ degenerates to exact search: recall 1.0
    full = {
        r.vec_id
        for r in simsearch.pq_topk(spark, SF_DIR, shortlist=1 << 20).collect()
    }
    assert full == exact
    bf_top = simsearch.bruteforce_topk(spark, SF_DIR).collect()[0]
    pq_top_by_rank = sorted(pq10, key=lambda r: r.rank)[0]
    if pq_top_by_rank.vec_id == bf_top.vec_id:
        assert pq_top_by_rank.cos == bf_top.cos


def test_ivfpq_degenerates_to_pq_at_full_probe_and_keeps_recall(spark):
    """Probing every cell makes IVF-PQ exactly plain PQ (the pruning
    stage becomes a no-op — rows must be identical), and at the default
    dials the composed path must keep most of the exact top-10 on the
    planted fixture (both stages lose recall; the composition's loss is
    bounded by the fixture's cluster structure)."""
    from kg.ops import simsearch

    full = [
        tuple(r)
        for r in simsearch.ivfpq_topk(
            spark, SF_DIR, n_probe=simsearch.IVF_CELLS
        ).collect()
    ]
    pq = [tuple(r) for r in simsearch.pq_topk(spark, SF_DIR).collect()]
    assert full == pq

    exact = {r.vec_id for r in simsearch.bruteforce_topk(spark, SF_DIR).collect()}
    got = {r.vec_id for r in simsearch.ivfpq_topk(spark, SF_DIR).collect()}
    assert len(got & exact) / len(exact) >= 0.5, got


def test_trained_pq_codebook_is_deterministic_and_lowers_objective(spark):
    """Two independent trainings must produce a bit-identical codebook
    (same exact-integer-sums argument as the IVF trainer); the trained
    codebook must differ from the vec-id-slot stand-in (training did
    something); and the k-means OBJECTIVE — total PQ reconstruction cost,
    what Lloyd provably never increases from its init, which IS the
    stand-in — must be strictly lower after training. (Top-10 IP recall
    is NOT asserted superior: on the planted fixture the stand-in codes
    are literal corpus vectors, an unusually strong init; recall keeps a
    floor instead.)"""
    from functools import reduce
    from operator import add

    from pyspark.sql import functions as F

    from kg.ops import simsearch

    cb1 = simsearch.train_pq_codebook(spark, SF_DIR, sample_per_code=1 << 30)
    cb2 = simsearch.train_pq_codebook(spark, SF_DIR, sample_per_code=1 << 30)
    assert cb1 == cb2
    m_sub, n_codes = simsearch.PQ_SUBSPACES, simsearch.PQ_CODES
    stand_in = simsearch._pq_codebook(spark, SF_DIR, m_sub, n_codes)
    assert cb1 != stand_in

    def objective(cb):
        # sum over the corpus of the chosen-code cost |c|^2 - 2<v_j, c>
        # (the true squared error minus the codebook-independent |v_j|^2)
        dim = len(cb[0])
        sub = dim // m_sub
        cols = []
        for j in range(m_sub):
            lo = j * sub
            vj = F.slice(F.col("v"), lo + 1, sub)
            costs = [
                F.lit(simsearch._py_dot(cb[c][lo:lo + sub], cb[c][lo:lo + sub]))
                - 2.0 * simsearch._dot_lit(vj, cb[c][lo:lo + sub])
                for c in range(n_codes)
            ]
            cols.append(F.array_min(F.array(*costs)))
        e = simsearch._emb(spark, SF_DIR)
        return e.agg(F.sum(reduce(add, cols))).collect()[0][0]

    assert objective(cb1) < objective(stand_in)

    exact = {r.vec_id for r in simsearch.bruteforce_topk(spark, SF_DIR).collect()}
    trained = {
        r.vec_id for r in simsearch.pq_trained_topk(spark, SF_DIR).collect()
    }
    assert len(trained & exact) / len(exact) >= 0.4
