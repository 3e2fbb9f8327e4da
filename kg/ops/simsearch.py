"""Similarity search over the embeddings table (SURVEY §2.6 J2 / §2.8).

The reference serves kNN through a Milvus HNSW index
(``api/milvus_adapter.py:80-94``); here:

* :func:`bruteforce_topk` — exact cosine top-k (the correctness baseline;
  one narrow scan + a parallel top-k, no index needed);
* :func:`lsh_topk` — sign-bucket LSH variant (the scale path: candidates
  restricted to the query's hyperplane-sign bucket before scoring; at
  100 TB the bucket column is a partition key, so a query touches one
  partition instead of the full table);
* :func:`ivf_topk` — IVF-style coarse quantizer: nearest-centroid cell
  assignment + probe of the query's best cells.

Plan-shape rules (round-2 rewrite of the round-1 global-Window family):

* top-k is ALWAYS ``orderBy().limit(k)`` — planned as
  TakeOrderedAndProject (parallel per-partition partial top-k), never an
  un-partitioned ``Window`` that funnels every scored row through one
  task. ``rank`` is derived after the limit over the k-row result, so
  the residual single-partition window touches a constant k rows at any
  data scale.
* the query vector / centroids are DICTIONARY-sized (one row / IVF_CELLS
  rows) and are collected once and inlined as array literals: scoring
  and cell assignment become per-row expressions on the scan — zero
  joins, zero shuffles before the top-k. Float parity: the literal-array
  dot uses the same left-fold order as the previous broadcast-join dot,
  so results are bit-identical (and the DuckDB oracles are unchanged).

Query vector = the embedding of QUERY_VEC_ID (deterministic; the
reference similarly probes with vectors drawn from the collection,
``bench/coldWarmLatency.py:34-45``). Dots computed in float64; ranks
tie-broken by vec_id so results are stable across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kg.ops.dedup import _sign_bucket

QUERY_VEC_ID = 0
TOP_K = 10

# --- contract-default dials (the values the DuckDB oracle SQL pins) ---
# Both search variants take these as PARAMETERS now (round-2 VERDICT: a
# constant dial devolves to scanning a fixed fraction of the corpus per
# query at 100x data). Sizing rules for real corpora are
# :func:`lsh_sign_bits` and :func:`ivf_dials` below.
SEARCH_SIGN_BITS = 4  # 16 buckets — coarser than dedup blocking so each
# bucket holds enough candidates for a meaningful top-k at this SF

# IVF coarse quantizer: centroids are a fixed, deterministic subset of the
# collection (vec_ids 1..N_CELLS) — a seeded-kmeans stand-in that keeps the
# assignment exactly reproducible in DuckDB. Queries probe the N_PROBE
# nearest cells (classic IVF recall/latency dial).
IVF_CELLS = 8
IVF_PROBE = 2
# k-means mean accumulation quantum: per-component values enter the
# per-cluster sum as floor(v * 2^24) — exact integer addition is order-
# independent, making trained centroids bit-deterministic across runs,
# partitionings, and engines (the spherical renorm cancels the scale, so
# centroids need no un-scaling; quantization error ~2^-24 per component)
MEAN_SCALE = float(1 << 24)

# Past this many centroids, inlining them as literal arrays stops working
# (codegen/expression size grows linearly with cells); the assignment
# switches to a broadcast of the packed centroid table (1 row) — still
# exchange-free, same argmax semantics (see _assign_cells_broadcast).
LITERAL_CENTROID_MAX = 64


LSH_TARGET_BUCKET = 4096  # expected-bucket-size target for lsh_sign_bits


def lsh_sign_bits(n_vectors: int, target_bucket: int = LSH_TARGET_BUCKET) -> int:
    """Size the LSH dial with the corpus: sign_bits such that the EXPECTED
    bucket population ~ target_bucket (buckets = 2^bits, each query scans
    ~n/2^bits candidates). A constant bits value means a constant FRACTION
    of the corpus per query — the round-2 scale flaw this replaces.

    Dim ceiling: sign-LSH uses one coordinate per bit, so usable bits are
    capped at the embedding dimension — at 10^12 vectors this rule asks
    for 28 bits, more than a dim-16 corpus has. :func:`lsh_topk` clamps to
    the query vector's dimension (past it, a real deployment switches to
    random-projection hyperplanes, which this sign stand-in models)."""
    import math

    return max(1, math.ceil(math.log2(max(2.0, n_vectors / target_bucket))))


def ivf_dials(n_vectors: int) -> tuple[int, int]:
    """Classic IVF sizing: cells ~ sqrt(N) (balances cells-scanned-for-
    assignment against vectors-scanned-per-probe), probe ~ cells/8
    (recall/latency dial; raise toward cells for recall 1.0)."""
    import math

    cells = max(1, round(math.sqrt(n_vectors)))
    return cells, max(1, cells // 8)


# per-session cache of (sf_dir -> (bound, {vec_id: [floats]})) for the
# bounded driver-side vectors (query + IVF centroids); dictionary-sized
# like kg.canonicalize.dictionary_rows. `bound` is the highest vec_id
# collected so far — a request past it re-collects with the wider filter.
# Keyed on applicationId, not id(spark): a GC'd session's address can be
# reused by a new session and would silently serve stale vectors
# (round-3 ADVICE item 3).
_VEC_CACHE: dict[tuple[str, str], tuple[int, dict[int, list[float]]]] = {}

# exact-top-k ground truth per (session, sf_dir, query, k) for recall
# sweeps — k result ids per entry, dictionary-sized like _VEC_CACHE
_TRUTH_CACHE: dict[tuple[str, str, int, int], set] = {}


def _session_key(spark: SparkSession) -> str:
    return spark.sparkContext.applicationId


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )


def _small_vecs(
    spark: SparkSession, sf_dir: str, need_max: int | None = None
) -> dict[int, list[float]]:
    """Query vector + IVF centroids, collected once per (session, sf_dir).
    Bounded: need_max+1 rows; the scan is pushed down on vec_id."""
    if need_max is None:
        need_max = max(QUERY_VEC_ID, IVF_CELLS)
    key = (_session_key(spark), sf_dir)
    bound, vecs = _VEC_CACHE.get(key, (-1, {}))
    if need_max > bound:
        rows = _emb(spark, sf_dir).filter(F.col("vec_id") <= need_max).collect()
        vecs = {r.vec_id: [float(x) for x in r.v] for r in rows}
        _VEC_CACHE[key] = (need_max, vecs)
    return vecs


def _lit_vec(vec: list[float]):
    return F.array(*[F.lit(x) for x in vec])


def _dot_lit(col, vec: list[float]):
    """float64 dot of an array column against a literal vector — same
    left-fold accumulation order as a zip_with against a joined column,
    so the result is bit-identical to the round-1 broadcast-join dot."""
    return F.aggregate(
        F.zip_with(col, _lit_vec(vec), lambda x, y: x * y),
        F.lit(0.0),
        lambda a, x: a + x,
    )


def _py_dot(a: list[float], b: list[float]) -> float:
    """Driver-side mirror of :func:`_dot_lit` (same left-fold order; Python
    floats are IEEE doubles, so this is bit-identical to the Spark fold)."""
    acc = 0.0
    for x, y in zip(a, b):
        acc += x * y
    return acc


def _ranked_topk(scored: DataFrame, k: int = TOP_K) -> DataFrame:
    """(vec_id, cos) -> top-k with a rank column.

    ``orderBy().limit(k)`` plans as TakeOrderedAndProject; the rank window
    runs on the k-row result only (constant work at any scale)."""
    topk = scored.orderBy(F.desc("cos"), F.asc("vec_id")).limit(k)
    w = Window.orderBy(F.desc("cos"), F.asc("vec_id"))
    return topk.withColumn("rank", F.row_number().over(w)).select(
        "vec_id", "rank", "cos"
    )


def _query_base(
    spark: SparkSession,
    sf_dir: str,
    query_vec_id: int,
    query_vec: list[float] | None,
) -> tuple[list[float], DataFrame]:
    """(query vector, candidate corpus) for a search call. ``query_vec``
    is the serving path — an AD-HOC embedding (reference: POST /search
    embeds the query text then searches; pair with kg.fused embed-on-read
    for the full flow) — the whole corpus is a candidate. Without it the
    query is corpus row ``query_vec_id``, excluded from its own result."""
    if query_vec is not None:
        return [float(x) for x in query_vec], _emb(spark, sf_dir)
    qv = _small_vecs(spark, sf_dir, need_max=max(query_vec_id, IVF_CELLS))[
        query_vec_id
    ]
    return qv, _emb(spark, sf_dir).filter(F.col("vec_id") != query_vec_id)


def bruteforce_topk(
    spark: SparkSession,
    sf_dir: str,
    k: int = TOP_K,
    query_vec_id: int = QUERY_VEC_ID,
    query_vec: list[float] | None = None,
) -> DataFrame:
    """Exact top-k: (vec_id, rank, cos). One scan, per-row literal dot,
    parallel top-k — no joins, no shuffles before the final k-row merge.
    ``k`` is the sensitivity dial (reference ``bench/topKSensitivity.py``:
    k∈{5..320}); cost is flat in k because TakeOrderedAndProject keeps a
    size-k heap per partition instead of globally sorting."""
    qv, base = _query_base(spark, sf_dir, query_vec_id, query_vec)
    scored = base.withColumn("cos", F.round(_dot_lit(F.col("v"), qv), 4))
    return _ranked_topk(scored, k)


def bruteforce_topk_sql() -> str:
    return f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> x::double) AS v FROM embeddings
),
q AS (SELECT v AS qv FROM e WHERE vec_id = {QUERY_VEC_ID}),
scored AS (
  SELECT e.vec_id, round(list_dot_product(e.v, q.qv), 4) AS cos
  FROM e, q WHERE e.vec_id <> {QUERY_VEC_ID}
)
SELECT vec_id, rank, cos FROM (
  SELECT vec_id, cos,
         row_number() OVER (ORDER BY cos DESC, vec_id ASC) AS rank
  FROM scored
) WHERE rank <= {TOP_K}"""


def _probe_buckets(qv: list[float], sign_bits: int, n_probes: int) -> list[int]:
    """Query-directed multi-probe sequence (Lv et al., VLDB 2007): the
    query's own sign bucket first, then buckets reached by flipping the
    sign bits with the smallest |margin| (a near-zero coordinate is the
    bit most likely to differ between a query and its true neighbors),
    flip-sets enumerated in increasing total-margin order with a heap.
    Driver-side and O(n_probes log n_probes) — the corpus never sees more
    than an IN-list of bucket literals."""
    import heapq

    qbucket = sum((1 << i) for i in range(sign_bits) if qv[i] >= 0)
    n_probes = min(n_probes, 1 << sign_bits)
    if n_probes <= 1:
        return [qbucket]
    margins = sorted((abs(float(qv[i])), i) for i in range(sign_bits))
    out = [qbucket]
    # flip-sets as sorted tuples of indices INTO `margins`; successors of
    # a set ending at j: shift (replace j with j+1) and expand (append
    # j+1) — together these reach every non-empty subset in cost order
    heap = [(margins[0][0], (0,))]
    seen = {(0,)}
    while heap and len(out) < n_probes:
        cost, idxs = heapq.heappop(heap)
        mask = 0
        for j in idxs:
            mask |= 1 << margins[j][1]
        out.append(qbucket ^ mask)
        last = idxs[-1]
        if last + 1 < sign_bits:
            step = margins[last + 1][0]
            shift = idxs[:-1] + (last + 1,)
            if shift not in seen:
                seen.add(shift)
                heapq.heappush(heap, (cost - margins[last][0] + step, shift))
            expand = idxs + (last + 1,)
            if expand not in seen:
                seen.add(expand)
                heapq.heappush(heap, (cost + step, expand))
    return out


def _probe_buckets_exhaustive(
    qv: list[float], sign_bits: int, n_probes: int
) -> list[int]:
    """Probe sequence by FULL bucket enumeration: cost(b) = sum of
    |qv[i]| over differing sign bits, accumulated in ascending-bit order,
    ranked (cost asc, bucket asc). Same sequence as the heap enumeration
    when costs are distinct, but the arithmetic is a fixed left-to-right
    sum — exactly mirrorable in SQL (the heap's incremental
    cost-margin+step updates are not associativity-safe), so this is the
    order the DuckDB oracle pins. Only viable for small sign_bits
    (enumerates 2^bits buckets); the heap path is the at-scale order."""
    qb = sum((1 << i) for i in range(sign_bits) if qv[i] >= 0)

    def cost(b: int) -> float:
        acc = 0.0
        for i in range(sign_bits):
            if ((b >> i) & 1) != ((qb >> i) & 1):
                acc += abs(float(qv[i]))
        return acc

    ranked = sorted(range(1 << sign_bits), key=lambda b: (cost(b), b))
    return ranked[: min(n_probes, 1 << sign_bits)]


def lsh_topk(
    spark: SparkSession,
    sf_dir: str,
    k: int = TOP_K,
    sign_bits: int = SEARCH_SIGN_BITS,
    query_vec_id: int = QUERY_VEC_ID,
    n_probes: int = 1,
    query_vec: list[float] | None = None,
    probe_order: str = "margin",
) -> DataFrame:
    """Approximate top-k within the query's sign bucket(s). The probe
    buckets are literals (computed driver-side from the collected query
    vector), so the bucket filter pushes into the scan at the partition
    level.

    ``sign_bits`` MUST scale with the corpus (``lsh_sign_bits(n)``): each
    query scans ~n_probes·n/2^sign_bits candidates, so a constant value is
    a constant corpus fraction. The module default is the contract/oracle
    dial, sized for the sandbox SFs.

    ``n_probes`` is the recall dial (reference analog: HNSW ``ef``):
    single-table sign-LSH probing only the query's own bucket loses every
    neighbor that differs in ANY probed bit (measured recall@10 0.28 on
    the planted fixture at 4 bits); multi-probe visits the next-likeliest
    buckets in margin order instead of the classic fix of L independent
    tables — same recall lever, no L× index duplication (Lv et al. 2007).
    ``n_probes == 2^sign_bits`` degenerates to exact brute force."""
    qv, base = _query_base(spark, sf_dir, query_vec_id, query_vec)
    # sign-LSH consumes one coordinate per bit: clamp to the embedding
    # dimension so lsh_sign_bits(n) output past dim (possible at extreme
    # N with small dim) degrades to coarser buckets instead of indexing
    # past the vector's end (round-3 ADVICE item 1)
    sign_bits = min(sign_bits, len(qv))
    if probe_order == "exhaustive":
        buckets = _probe_buckets_exhaustive(qv, sign_bits, n_probes)
    else:
        buckets = _probe_buckets(qv, sign_bits, n_probes)
    scored = (
        base.withColumn("bucket", _sign_bucket(F.col("v"), sign_bits))
        .filter(F.col("bucket").isin(buckets))
        .withColumn("cos", F.round(_dot_lit(F.col("v"), qv), 4))
    )
    return _ranked_topk(scored, k)


def _argmax_cell_literal(cents: list[tuple[int, list[float]]]):
    """Nearest-centroid cell id via inlined literal centroid dots.
    ``array_position`` yields the FIRST index of the max; with ``cents``
    sorted by cell id ascending that is the smallest cell id on ties —
    identical to the broadcast path's struct(dot, -cell) max and to the
    oracle's row_number(desc dot, asc cell). The position is mapped back
    through a literal id array so arbitrary (trained) cell ids work, not
    just 1..n."""
    cdots = F.array(*[_dot_lit(F.col("v"), cv) for _, cv in cents])
    pos = F.array_position(cdots, F.array_max(cdots))
    ids = F.array(*[F.lit(int(c)) for c, _ in cents])
    return F.element_at(ids, pos.cast("int")).cast("int")


# One packed 1-row broadcast holds this many centroids at most; larger
# quantizers (cells ~ sqrt(N) reaches 10^6 at 10^12 vectors) are split
# into shards, each its own 1-row broadcast, combined with a per-row max
# — bounding any single broadcast row / codegen expression while staying
# shuffle-free (a multi-ROW centroid table would need a cross join that
# multiplies the corpus by the shard count and a groupBy(vec_id) shuffle
# to undo it; chained 1-row joins never touch the corpus partitioning).
CENTROID_SHARD = 65_536


def _shard_best(col_name: str):
    """Per-shard argmax over a packed array<struct<cell,cv>> column:
    struct(dot, -cell) under array_max orders by dot first, then by
    -cell, so equal dots resolve to the SMALLEST cell — identical to
    array_position-of-max (first occurrence) and to the oracle's
    row_number(desc dot, asc cell). Order-INDEPENDENT (max over structs),
    so the packed array's element order never affects the result."""
    return F.array_max(
        F.transform(
            col_name,
            lambda c: F.struct(
                F.aggregate(
                    F.zip_with(F.col("v"), c["cv"], lambda x, y: x * y),
                    F.lit(0.0),
                    lambda a, x: a + x,
                ).alias("d"),
                (-c["cell"]).alias("negcell"),
            ),
        )
    )


def _combine_shard_bests(e: DataFrame, best_cols: list[str]) -> DataFrame:
    best = (
        F.array_max(F.array(*[F.col(b) for b in best_cols]))
        if len(best_cols) > 1
        else F.col(best_cols[0])
    )
    return e.withColumn("cell", (-best["negcell"]).cast("int")).drop(*best_cols)


def _assign_cells_broadcast(
    spark: SparkSession,
    e: DataFrame,
    cents: list[tuple[int, list[float]]],
    shard_size: int = CENTROID_SHARD,
) -> DataFrame:
    """Nearest-centroid assignment for centroid sets too large to inline
    as literals: pack the centroid table into ONE row per shard (array of
    structs), broadcast each (BroadcastNestedLoopJoin of a 1-row side —
    no shuffle), take the per-shard argmax with array HOFs
    (:func:`_shard_best`), and combine shards with ``array_max`` over the
    per-shard bests — the cross-shard max applies the same ordering, so
    sharding is result-invariant (tested against the literal path)."""
    best_cols = []
    for si in range(0, max(1, len(cents)), shard_size):
        shard = cents[si : si + shard_size]
        name = f"_cents_{si}"
        # one literal row built driver-side (centroids are already
        # collected), so the broadcast side needs no aggregation — and
        # thus no Exchange
        packed = spark.createDataFrame(
            [([(cell, cv) for cell, cv in shard],)],
            f"{name} array<struct<cell: int, cv: array<double>>>",
        )
        bname = f"_best_{si}"
        e = (
            e.join(F.broadcast(packed))
            .withColumn(bname, _shard_best(name))
            .drop(name)
        )
        best_cols.append(bname)
    return _combine_shard_bests(e, best_cols)


def _assign_cells_broadcast_df(
    e: DataFrame,
    cents_df: DataFrame,
    n_cents: int,
    shard_size: int = CENTROID_SHARD,
) -> DataFrame:
    """:func:`_assign_cells_broadcast` with the centroid table as a
    DATAFRAME instead of a driver-side list — the centroids never visit
    the driver. The tiny (cells-row) table is packed into one row per
    shard via ``collect_list`` (order inside the packed array is
    nondeterministic, which is safe: :func:`_shard_best` is a max over
    structs, order-independent), and each 1-row shard is broadcast-joined
    exactly as the list path does — chained 1-row joins, so the corpus is
    never multiplied by the shard count and its partitioning is never
    touched."""
    w = Window.orderBy("cell")
    packed = (
        cents_df.withColumn(
            "_sh", F.floor((F.row_number().over(w) - 1) / shard_size).cast("int")
        )
        .groupBy("_sh")
        .agg(F.collect_list(F.struct(F.col("cell"), F.col("cv"))).alias("_cents"))
        .localCheckpoint(eager=True)
    )
    best_cols = []
    for si in range(max(1, -(-n_cents // shard_size))):
        bname = f"_best_{si}"
        e = (
            e.join(F.broadcast(packed.filter(F.col("_sh") == si).select("_cents")))
            .withColumn(bname, _shard_best("_cents"))
            .drop("_cents")
        )
        best_cols.append(bname)
    return _combine_shard_bests(e, best_cols)


# Past this many cells, train_ivf_centroids keeps the per-iteration
# means in a DataFrame (train_ivf_centroids_df) instead of collect()ing
# cells x dim doubles to the driver every Lloyd iteration — the round-4
# VERDICT's residual ceiling (~3 GB per iteration at 10^6 cells x 384d
# under the module's own cells~sqrt(N) rule at 10^12 vectors).
MEANS_COLLECT_MAX_CELLS = 4096


def _train_sample(
    spark: SparkSession, sf_dir: str, n_cells: int, sample_per_cell: int
) -> tuple[DataFrame, DataFrame]:
    """(full corpus, deterministic training hash-sample) — the sample
    keeps ~sample_per_cell x n_cells vectors via ``xxhash64(vec_id) %
    mod == 0`` (reproducible; the filter pushes down to the scan).
    mod == 1 keeps the full corpus (sandbox SFs are below the target)."""
    full = _emb(spark, sf_dir)
    n = full.count()
    target = sample_per_cell * n_cells
    mod = max(1, n // max(1, target))
    e = full.filter(F.xxhash64("vec_id") % mod == 0) if mod > 1 else full
    return full, e


def train_ivf_centroids(
    spark: SparkSession,
    sf_dir: str,
    n_cells: int = IVF_CELLS,
    n_iters: int = 5,
    init: list[tuple[int, list[float]]] | None = None,
    sample_per_cell: int = 256,
) -> list[tuple[int, list[float]]]:
    """Distributed spherical k-means (Lloyd) for the IVF coarse quantizer
    — replaces the fixed vec-id-slot stand-in with TRAINED centroids
    (what a real IVF build does; reference analog: Milvus's IVF index
    training step, which likewise trains the quantizer on a SAMPLE).

    Scale shape (round-3 VERDICT item 4 — training previously scanned the
    FULL corpus every Lloyd iteration): the quantizer is trained on a
    deterministic hash-sample of ~``sample_per_cell``·n_cells vectors
    (``xxhash64(vec_id) % m == 0`` — reproducible, pushed into the scan),
    and only the one-shot cell ASSIGNMENT (search/index build) ever
    touches the full corpus. Per iteration: ONE sample scan — the same
    shuffle-free nearest-centroid assignment the search path uses
    (literal argmax under ``LITERAL_CENTROID_MAX`` cells, packed 1-row
    broadcast beyond), then a ``groupBy(cell)`` with ``dim`` ``avg()``
    columns: partial aggregation means the shuffle carries n_cells×dim
    doubles, never the sample (no explode to N×dim rows). The per-
    iteration driver ``collect`` is bounded at cells×dim doubles, and —
    round-4 VERDICT item 4 — past ``MEANS_COLLECT_MAX_CELLS`` the
    trainer routes to :func:`train_ivf_centroids_df`, which keeps the
    means IN a DataFrame across iterations (zero per-iteration driver
    transfer; this function then collects only the FINAL centroids,
    once, for its list-returning contract — callers at the 10⁶-cell
    scale should consume the DataFrame variant directly, e.g. via
    ``build_ivf_index``'s centroids argument pipeline). The two are
    bit-identical (pinned in tests/test_simsearch_dials.py).
    Means are L2-renormalized (spherical k-means — assignment and search
    both use dot products on unit vectors); a cell that loses all members
    keeps its previous centroid.

    Deterministic init (``init`` or vec_ids 1..n_cells), deterministic
    sample, and BIT-DETERMINISTIC means: per-cluster per-dimension sums
    accumulate ``floor(v[i] * 2^24)`` as exact decimals (order-independent
    integer addition, unlike float ``avg`` whose partial-sum order varies
    with partitioning), so the trained centroids are bit-identical across
    runs, partitionings, AND engines — a serial replay of the same
    arithmetic (DuckDB ``ivf_trained_topk_sql`` / Python) reproduces them
    exactly, which is what lets the trained-quantizer contract query carry
    a value-hash oracle. The 2^-24 input quantization is ~1e-7 per
    component — far below any recall-relevant signal. decimal(18,0)
    per-row values sum into decimal(38,0): exact past 10^12 rows/cell."""
    import math

    if n_cells > MEANS_COLLECT_MAX_CELLS:
        cdf = train_ivf_centroids_df(
            spark, sf_dir, n_cells=n_cells, n_iters=n_iters, init=init,
            sample_per_cell=sample_per_cell,
        )
        return sorted(
            (int(r["cell"]), [float(x) for x in r["cv"]]) for r in cdf.collect()
        )
    full, e = _train_sample(spark, sf_dir, n_cells, sample_per_cell)
    if init is None:
        vecs = _small_vecs(spark, sf_dir, need_max=n_cells)
        init = [(c, vecs[c]) for c in range(1, n_cells + 1)]
    dim = len(init[0][1])
    cents = sorted(init)
    for _ in range(n_iters):
        if len(cents) <= LITERAL_CENTROID_MAX:
            assigned = e.withColumn("cell", _argmax_cell_literal(cents))
        else:
            assigned = _assign_cells_broadcast(spark, e, cents)
        means = assigned.groupBy("cell").agg(
            F.count(F.lit(1)).alias("n"),
            *[
                F.sum(
                    F.floor(F.col("v")[i] * MEAN_SCALE).cast("decimal(18,0)")
                ).alias(f"s{i}")
                for i in range(dim)
            ],
        ).collect()
        new = {}
        for r in means:
            m = [float(r[f"s{i}"]) / r["n"] for i in range(dim)]
            norm = math.sqrt(sum(x * x for x in m))
            if norm > 0:
                new[r.cell] = [x / norm for x in m]
        cents = [(c, new.get(c, cv)) for c, cv in cents]
    return cents


def train_ivf_centroids_df(
    spark: SparkSession,
    sf_dir: str,
    n_cells: int = IVF_CELLS,
    n_iters: int = 5,
    init: list[tuple[int, list[float]]] | None = None,
    sample_per_cell: int = 256,
    shard_size: int = CENTROID_SHARD,
) -> DataFrame:
    """De-drivered spherical k-means (round-4 VERDICT item 4): the
    centroid table lives in a DataFrame ``(cell int, cv array<double>)``
    for the WHOLE training loop — no per-iteration cells×dim driver
    collect. Per iteration: assignment via :func:`_assign_cells_broadcast_df`
    (packed 1-row shard broadcasts built FROM the centroid DataFrame, so
    centroids go executor->executor, never through the driver), the same
    exact-decimal mean sums as the collect path, and the renormalized
    means computed as native double expressions. ``localCheckpoint``
    truncates the tiny table's lineage each iteration (cells rows — the
    checkpoint is cheap and keeps the plan from nesting n_iters deep).

    BIT-IDENTICAL to the collect path (tests/test_simsearch_dials.py):
    the per-cell integer sums are order-independent; the mean/renorm
    arithmetic (decimal->double cast, division, left-fold sum of squares,
    sqrt, per-component divide) is the same sequence of correctly-rounded
    IEEE ops the driver-side Python loop performs, so routing by cell
    count can never change trained centroids. Default init matches the
    collect path (vec_ids 1..n_cells as seeds) but is read straight from
    the table instead of collected."""
    full, e = _train_sample(spark, sf_dir, n_cells, sample_per_cell)
    if init is not None:
        cents_df = spark.createDataFrame(
            [(int(c), [float(x) for x in cv]) for c, cv in init],
            "cell int, cv array<double>",
        )
        dim = len(init[0][1])
        n_cents = len(init)
    else:
        cents_df = full.filter(
            (F.col("vec_id") >= 1) & (F.col("vec_id") <= n_cells)
        ).select(F.col("vec_id").cast("int").alias("cell"), F.col("v").alias("cv"))
        dim = len(full.select("v").first()[0])
        n_cents = n_cells
    cents_df = cents_df.localCheckpoint(eager=True)
    for _ in range(n_iters):
        assigned = _assign_cells_broadcast_df(
            e, cents_df, n_cents, shard_size=shard_size
        )
        means = assigned.groupBy("cell").agg(
            F.count(F.lit(1)).alias("n"),
            *[
                F.sum(
                    F.floor(F.col("v")[i] * MEAN_SCALE).cast("decimal(18,0)")
                ).alias(f"s{i}")
                for i in range(dim)
            ],
        )
        # mean -> L2 renorm, in the exact op order of the collect path's
        # Python loop: float(decimal)/n per component, left-fold sum of
        # squares from 0.0, sqrt, per-component divide; norm==0 keeps the
        # previous centroid (coalesce below)
        m = F.array(
            *[
                F.col(f"s{i}").cast("double") / F.col("n").cast("double")
                for i in range(dim)
            ]
        )
        norm = F.sqrt(
            F.aggregate(F.col("_m"), F.lit(0.0), lambda a, x: a + x * x)
        )
        new = (
            means.select("cell", m.alias("_m"))
            .select(
                "cell",
                F.when(
                    norm > 0, F.transform("_m", lambda x: x / norm)
                ).alias("_new_cv"),
            )
        )
        cents_df = (
            cents_df.join(new, "cell", "left")
            .select("cell", F.coalesce("_new_cv", "cv").alias("cv"))
            .localCheckpoint(eager=True)
        )
    return cents_df


def ivf_topk(
    spark: SparkSession,
    sf_dir: str,
    k: int = TOP_K,
    n_cells: int = IVF_CELLS,
    n_probe: int = IVF_PROBE,
    query_vec_id: int = QUERY_VEC_ID,
    centroid_path: str | None = None,
    centroids: list[tuple[int, list[float]]] | None = None,
    query_vec: list[float] | None = None,
    centroid_shard: int = CENTROID_SHARD,
) -> DataFrame:
    """IVF-style ANN: assign every vector to its nearest coarse centroid
    (argmax dot over ``n_cells`` fixed centroids), probe the ``n_probe``
    cells nearest to the query, score only vectors in probed cells.

    ``(n_cells, n_probe)`` MUST scale with the corpus — cells ~ sqrt(N)
    (``ivf_dials(n)``); the module defaults are the contract/oracle dials.

    Two assignment paths, selected by centroid count (``centroid_path``
    forces one for testing):

    * ``literal`` (<= LITERAL_CENTROID_MAX cells): centroid dots inlined
      as per-row literal expressions; argmax via
      ``array_position(arr, array_max(arr))`` (first occurrence == smallest
      cell id, matching the desc-dot/asc-cell tie-break) — zero joins,
      zero shuffles (plan-gated in tests/test_plans.py).
    * ``broadcast`` (beyond it): the packed 1-row centroid table is
      broadcast and the same argmax runs via array HOFs — still
      exchange-free; see :func:`_assign_cells_broadcast`.

    At scale the cell id is the partition key: a query touches
    n_probe/n_cells of the data. Output (vec_id, rank, cos).

    ``centroids`` supplies a TRAINED coarse quantizer
    (:func:`train_ivf_centroids`); the default is the deterministic
    vec-id-slot stand-in the DuckDB oracle pins.
    """
    if centroids is not None:
        cents = sorted(centroids)
        n_cells = len(cents)
    else:
        vecs = _small_vecs(spark, sf_dir, need_max=max(query_vec_id, n_cells))
        cents = [(cell, vecs[cell]) for cell in range(1, n_cells + 1)]
    qv, base = _query_base(spark, sf_dir, query_vec_id, query_vec)
    path = centroid_path or (
        "literal" if n_cells <= LITERAL_CENTROID_MAX else "broadcast"
    )

    if path == "literal":
        assigned = base.withColumn("cell", _argmax_cell_literal(cents))
    else:
        assigned = _assign_cells_broadcast(
            spark, base, cents, shard_size=centroid_shard
        )

    probe = sorted(
        ((-_py_dot(qv, cv), c) for c, cv in cents)
    )[:n_probe]
    probe_cells = [c for _, c in probe]

    scored = (
        assigned.filter(F.col("cell").isin(probe_cells))
        .withColumn("cos", F.round(_dot_lit(F.col("v"), qv), 4))
    )
    return _ranked_topk(scored, k)


def build_ivf_index(
    spark: SparkSession,
    sf_dir: str,
    index_dir: str,
    n_cells: int = IVF_CELLS,
    centroids: list[tuple[int, list[float]]] | None = None,
) -> str:
    """Materialize the IVF layout the at-scale search story assumes:
    vectors written ``partitionBy("cell")`` so the cell id IS the storage
    partition key, plus the centroid table as JSON alongside (driver-
    sized: n_cells×dim). A query then reads ONLY its probed cells via
    parquet partition pruning — the scan never touches the other
    n_cells - n_probe directories (plan-gated in tests). Returns
    ``index_dir``. ``centroids`` defaults to the vec-id-slot stand-in;
    pass :func:`train_ivf_centroids` output for the trained quantizer."""
    import json
    import os

    if centroids is None:
        vecs = _small_vecs(spark, sf_dir, need_max=n_cells)
        centroids = [(c, vecs[c]) for c in range(1, n_cells + 1)]
    cents = sorted(centroids)
    if len(cents) <= LITERAL_CENTROID_MAX:
        assigned = _emb(spark, sf_dir).withColumn(
            "cell", _argmax_cell_literal(cents)
        )
    else:
        assigned = _assign_cells_broadcast(spark, _emb(spark, sf_dir), cents)
    assigned.write.mode("overwrite").partitionBy("cell").parquet(
        f"{index_dir}/vectors"
    )
    os.makedirs(index_dir, exist_ok=True)
    with open(f"{index_dir}/centroids.json", "w") as f:
        json.dump(cents, f)
    return index_dir


def ivf_topk_indexed(
    spark: SparkSession,
    index_dir: str,
    query_vec: list[float],
    k: int = TOP_K,
    n_probe: int = IVF_PROBE,
) -> DataFrame:
    """Search a :func:`build_ivf_index` layout: probe cells are computed
    driver-side from the stored centroids and pushed as a partition-key
    IN-filter, so the FileScan holds ``PartitionFilters: [cell IN (...)]``
    and reads n_probe of n_cells directories — at 10^12 vectors the query
    cost is the probed fraction of the corpus, independent of total
    corpus size. Result-identical to :func:`ivf_topk` with the same
    centroids (tested)."""
    import json

    with open(f"{index_dir}/centroids.json") as f:
        cents = [(int(c), [float(x) for x in cv]) for c, cv in json.load(f)]
    qv = [float(x) for x in query_vec]
    probe = sorted(((-_py_dot(qv, cv), c) for c, cv in cents))[:n_probe]
    probe_cells = [c for _, c in probe]
    scored = (
        spark.read.parquet(f"{index_dir}/vectors")
        .filter(F.col("cell").isin(probe_cells))
        .withColumn("cos", F.round(_dot_lit(F.col("v"), qv), 4))
    )
    return _ranked_topk(scored, k)


def ivf_topk_sql() -> str:
    return f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> x::double) AS v FROM embeddings
),
cents AS (
  SELECT vec_id AS cell, v AS cv FROM e
  WHERE vec_id BETWEEN 1 AND {IVF_CELLS}
),
assigned AS (
  SELECT vec_id, v, cell FROM (
    SELECT e.vec_id, e.v, c.cell,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY list_dot_product(e.v, c.cv) DESC, c.cell ASC) AS crank
    FROM e CROSS JOIN cents c
  ) WHERE crank = 1
),
probe AS (
  SELECT cell AS pcell FROM (
    SELECT c.cell,
           row_number() OVER (
             ORDER BY list_dot_product(e.v, c.cv) DESC, c.cell ASC) AS crank
    FROM e CROSS JOIN cents c WHERE e.vec_id = {QUERY_VEC_ID}
  ) WHERE crank <= {IVF_PROBE}
),
q AS (SELECT v AS qv FROM e WHERE vec_id = {QUERY_VEC_ID}),
scored AS (
  SELECT a.vec_id, round(list_dot_product(a.v, q.qv), 4) AS cos
  FROM assigned a JOIN probe p ON a.cell = p.pcell, q
  WHERE a.vec_id <> {QUERY_VEC_ID}
)
SELECT vec_id, rank, cos FROM (
  SELECT vec_id, cos,
         row_number() OVER (ORDER BY cos DESC, vec_id ASC) AS rank
  FROM scored
) WHERE rank <= {TOP_K}"""


def ivf_trained_topk_sql(
    n_cells: int = IVF_CELLS,
    n_iters: int = 3,
    n_probe: int = IVF_PROBE,
    k: int = TOP_K,
    dim: int = 64,
) -> str:
    """DuckDB oracle for :func:`train_ivf_centroids` + :func:`ivf_topk` —
    the Lloyd iterations UNROLLED as a CTE chain replaying the trainer's
    exact arithmetic: nearest-centroid assignment with the same
    dot/tie-break order, per-cluster per-dimension sums of
    ``floor(v[i] * 2^24)`` in exact decimals (order-independent, so the
    distributed and serial sums agree bit-for-bit), means as one double
    division of exact values, spherical renorm as the same fixed-order
    dot+sqrt+divide. Valid whenever the trainer's sample keeps the whole
    corpus (``mod == 1`` — true at every sandbox SF for the default
    ``sample_per_cell``); empty cells keep the previous centroid on both
    paths."""
    mlist = ",\n          ".join(
        f"sum(floor(v[{i + 1}] * {MEAN_SCALE!r})::DECIMAL(18,0))::DOUBLE"
        f" / count(*)"
        for i in range(dim)
    )
    parts = [
        f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> x::double) AS v FROM embeddings
),
c0 AS (
  SELECT vec_id AS cell, v AS cv FROM e
  WHERE vec_id BETWEEN 1 AND {n_cells}
)"""
    ]
    for t in range(1, n_iters + 1):
        parts.append(f""",
a{t} AS (
  SELECT vec_id, v, cell FROM (
    SELECT e.vec_id, e.v, c.cell,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY list_dot_product(e.v, c.cv) DESC, c.cell ASC) AS crank
    FROM e CROSS JOIN c{t - 1} c
  ) WHERE crank = 1
),
m{t} AS (
  SELECT cell,
         [{mlist}] AS m
  FROM a{t} GROUP BY cell
),
c{t} AS (
  SELECT p.cell,
         CASE WHEN mm.nrm IS NULL OR mm.nrm = 0 THEN p.cv
              ELSE list_transform(mm.m, x -> x / mm.nrm) END AS cv
  FROM c{t - 1} p LEFT JOIN (
    SELECT cell, m, sqrt(list_dot_product(m, m)) AS nrm FROM m{t}
  ) mm ON p.cell = mm.cell
)""")
    parts.append(f""",
assigned AS (
  SELECT vec_id, v, cell FROM (
    SELECT e.vec_id, e.v, c.cell,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY list_dot_product(e.v, c.cv) DESC, c.cell ASC) AS crank
    FROM e CROSS JOIN c{n_iters} c
  ) WHERE crank = 1
),
probe AS (
  SELECT cell AS pcell FROM (
    SELECT c.cell,
           row_number() OVER (
             ORDER BY list_dot_product(e.v, c.cv) DESC, c.cell ASC) AS crank
    FROM e CROSS JOIN c{n_iters} c WHERE e.vec_id = {QUERY_VEC_ID}
  ) WHERE crank <= {n_probe}
),
q AS (SELECT v AS qv FROM e WHERE vec_id = {QUERY_VEC_ID}),
scored AS (
  SELECT a.vec_id, round(list_dot_product(a.v, q.qv), 4) AS cos
  FROM assigned a JOIN probe p ON a.cell = p.pcell, q
  WHERE a.vec_id <> {QUERY_VEC_ID}
)
SELECT vec_id, rank, cos FROM (
  SELECT vec_id, cos,
         row_number() OVER (ORDER BY cos DESC, vec_id ASC) AS rank
  FROM scored
) WHERE rank <= {k}""")
    return "".join(parts)


EXPECTED_DIM = 64
NORM_TOL = 0.01


def embedding_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V3 — embedding validation as a reusable operator (reference
    ``embed/embedding_generator.py:168-205`` checks shape / NaN / norm
    bounds before insert; round-1 had these only as test assertions).

    Per vector: dimensionality, NaN count, L2 norm (float64, rounded 4dp)
    and a validity verdict (expected dim, no NaNs, unit norm ± NORM_TOL).
    Pure per-row expressions on one scan — no shuffle at any scale; at
    ingest this runs as a pre-insert gate (filter on is_valid).
    Output (vec_id, dim_n, n_nan, norm, is_valid).
    """
    e = _emb(spark, sf_dir)
    sq = F.aggregate(
        F.zip_with("v", "v", lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
    )
    return e.select(
        "vec_id",
        F.size("v").alias("dim_n"),
        F.size(F.filter("v", lambda x: F.isnan(x))).alias("n_nan"),
        F.round(F.sqrt(sq), 4).alias("norm"),
    ).withColumn(
        "is_valid",
        (F.col("dim_n") == EXPECTED_DIM)
        & (F.col("n_nan") == 0)
        & (F.abs(F.col("norm") - 1.0) <= NORM_TOL),
    )


def embedding_validation_sql() -> str:
    return f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> x::double) AS v FROM embeddings
),
m AS (
  SELECT vec_id,
         len(v) AS dim_n,
         len(list_filter(v, x -> isnan(x))) AS n_nan,
         round(sqrt(list_dot_product(v, v)), 4) AS norm
  FROM e
)
SELECT vec_id, dim_n, n_nan, norm,
       (dim_n = {EXPECTED_DIM} AND n_nan = 0
        AND abs(norm - 1.0) <= {NORM_TOL}) AS is_valid
FROM m"""


def recall_at_k(
    spark: SparkSession,
    sf_dir: str,
    query_ids: list[int],
    k: int = TOP_K,
    sign_bits: int = SEARCH_SIGN_BITS,
    n_cells: int = IVF_CELLS,
    n_probe: int = IVF_PROBE,
    lsh_probes: int = 1,
    ivf_centroids: list[tuple[int, list[float]]] | None = None,
    variants: tuple[str, ...] = ("lsh", "ivf"),
) -> dict:
    """recall@k of the approximate variants vs exact brute force, averaged
    over ``query_ids`` (reference analog: HNSW quality dial ``ef``,
    ``bench/topKSensitivity.py:36-42`` — the reference's acceptance
    criterion for search is quality+latency, not latency alone).

    Bench sweeps call this repeatedly varying one dial at a time, so the
    exact ground truth is cached per (session, sf_dir, query, k) and
    ``variants`` gates which approximate searches run — without both, a
    12-point sweep redoes ~190 identical brute-force jobs and as many
    unread off-variant searches.

    NOTE on fixtures: the sandbox sf* embeddings are RANDOM unit vectors
    (max pairwise cos ~0.48), so ANY bucketing ANN has chance-level recall
    on them BY CONSTRUCTION — measure on a planted-cluster fixture
    (kg.synth.write_planted_embeddings) for a meaningful number; the
    random-corpus number is reported alongside as the floor."""
    sums = {v: 0.0 for v in variants}
    for q in query_ids:
        tkey = (_session_key(spark), sf_dir, q, k)
        if tkey not in _TRUTH_CACHE:
            _TRUTH_CACHE[tkey] = {
                r.vec_id
                for r in bruteforce_topk(
                    spark, sf_dir, k=k, query_vec_id=q
                ).collect()
            }
        truth = _TRUTH_CACHE[tkey]
        denom = max(1, len(truth))
        if "lsh" in variants:
            got = {
                r.vec_id
                for r in lsh_topk(
                    spark, sf_dir, k=k, sign_bits=sign_bits, query_vec_id=q,
                    n_probes=lsh_probes,
                ).collect()
            }
            sums["lsh"] += len(got & truth) / denom
        if "ivf" in variants:
            got = {
                r.vec_id
                for r in ivf_topk(
                    spark, sf_dir, k=k, n_cells=n_cells, n_probe=n_probe,
                    query_vec_id=q, centroids=ivf_centroids,
                ).collect()
            }
            sums["ivf"] += len(got & truth) / denom
    n = max(1, len(query_ids))
    out: dict = {"k": k, "n_queries": len(query_ids)}
    if "lsh" in variants:
        out["lsh"] = {
            "recall": round(sums["lsh"] / n, 3),
            "sign_bits": sign_bits,
            "n_probes": lsh_probes,
            "corpus_fraction_scanned": round(
                min(1.0, lsh_probes * 0.5 ** sign_bits), 4
            ),
        }
    if "ivf" in variants:
        out["ivf"] = {
            "recall": round(sums["ivf"] / n, 3),
            "n_cells": len(ivf_centroids) if ivf_centroids else n_cells,
            "n_probe": n_probe,
            "trained": ivf_centroids is not None,
            "corpus_fraction_scanned": round(
                n_probe / (len(ivf_centroids) if ivf_centroids else n_cells), 4
            ),
        }
    return out


LSH_MULTIPROBE = 4  # contract dial for ss_lsh_multiprobe_topk


def lsh_multiprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract query for the multi-probe path (round-3 VERDICT item 5 —
    the single-probe driver row never exercised the actual recall fix).
    Exhaustive probe order: the fixed left-to-right cost sums are
    IEEE-identical to the oracle SQL's CASE-sum chain, unlike the heap
    enumeration's incremental updates (see _probe_buckets_exhaustive);
    tests/test_simsearch_dials.py asserts the two orders pick the same
    buckets on the sandbox corpora."""
    return lsh_topk(
        spark,
        sf_dir,
        n_probes=LSH_MULTIPROBE,
        probe_order="exhaustive",
    )


def lsh_multiprobe_topk_sql() -> str:
    """DuckDB mirror of :func:`lsh_multiprobe_topk`: enumerate all
    2^sign_bits buckets, cost = left-to-right sum of |qv[i]| over
    differing sign bits (adding +0.0 for agreeing bits is IEEE-exact),
    rank (cost asc, bucket asc), probe the first LSH_MULTIPROBE."""
    bits = SEARCH_SIGN_BITS
    bucket = " + ".join(
        f"(CASE WHEN embedding[{i + 1}] >= 0 THEN {1 << i} ELSE 0 END)"
        for i in range(bits)
    )
    cost = " + ".join(
        f"(CASE WHEN ((c.b // {1 << i}) % 2) <> ((q.qbucket // {1 << i}) % 2)"
        f" THEN abs(q.qv[{i + 1}]) ELSE 0.0 END)"
        for i in range(bits)
    )
    return f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> x::double) AS v,
         CAST({bucket} AS int) AS bucket
  FROM embeddings
),
q AS (SELECT v AS qv, bucket AS qbucket FROM e WHERE vec_id = {QUERY_VEC_ID}),
cand AS (SELECT CAST(unnest(range({1 << bits})) AS int) AS b),
cost AS (SELECT c.b, {cost} AS cost FROM cand c, q),
probe AS (
  SELECT b FROM (
    SELECT b, row_number() OVER (ORDER BY cost ASC, b ASC) AS rn FROM cost
  ) WHERE rn <= {LSH_MULTIPROBE}
),
scored AS (
  SELECT e.vec_id, round(list_dot_product(e.v, q.qv), 4) AS cos
  FROM e JOIN probe p ON e.bucket = p.b, q
  WHERE e.vec_id <> {QUERY_VEC_ID}
)
SELECT vec_id, rank, cos FROM (
  SELECT vec_id, cos,
         row_number() OVER (ORDER BY cos DESC, vec_id ASC) AS rank
  FROM scored
) WHERE rank <= {TOP_K}"""


def lsh_topk_sql() -> str:
    bucket = " + ".join(
        f"(CASE WHEN embedding[{i + 1}] >= 0 THEN {1 << i} ELSE 0 END)"
        for i in range(SEARCH_SIGN_BITS)
    )
    return f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> x::double) AS v,
         CAST({bucket} AS int) AS bucket
  FROM embeddings
),
q AS (SELECT v AS qv, bucket AS qbucket FROM e WHERE vec_id = {QUERY_VEC_ID}),
scored AS (
  SELECT e.vec_id, round(list_dot_product(e.v, q.qv), 4) AS cos
  FROM e, q WHERE e.bucket = q.qbucket AND e.vec_id <> {QUERY_VEC_ID}
)
SELECT vec_id, rank, cos FROM (
  SELECT vec_id, cos,
         row_number() OVER (ORDER BY cos DESC, vec_id ASC) AS rank
  FROM scored
) WHERE rank <= {TOP_K}"""


KNN_GRAPH_K = 3  # neighbors per vector in the kNN graph

# Default per-bucket membership cap for the kNN graph (round-4 VERDICT
# item 2: shipping max_bucket=None left the worst-case per-bucket pair
# count C(bucket, 2)-unbounded unless the caller set the dial). Derived
# from the sign_bits sizing rule: ``lsh_sign_bits`` targets an EXPECTED
# bucket population of LSH_TARGET_BUCKET, so a correctly-dialed corpus
# never hits the cap — it only bites under hash skew, bounding any one
# bucket's pair work at C(factor x target, 2) instead of C(corpus, 2).
# Reference analog: HNSW bounds per-node work with M=16
# (infra/scripts/build_index.py:17-21) — a build-time work cap, same role.
KNN_BUCKET_CAP_FACTOR = 8  # skew slack over the expected population
KNN_MAX_BUCKET = KNN_BUCKET_CAP_FACTOR * LSH_TARGET_BUCKET


def knn_graph(
    spark: SparkSession,
    sf_dir: str,
    k: int = KNN_GRAPH_K,
    sign_bits: int = SEARCH_SIGN_BITS,
    max_bucket: int | None = KNN_MAX_BUCKET,
    dim_offset: int = 0,
) -> DataFrame:
    """Per-vector k nearest neighbors among same-sign-bucket candidates:
    (vec_id, nbr_id, cos, nn_rank) — the kNN GRAPH, precursor of
    SemDedup-style embedding dedup, embedding clustering, and
    NN-descent-style graph ANN builds (reference analog: the per-query
    COSINE top-k Milvus serves, ``api/milvus_adapter.py:52-94``, lifted
    to EVERY corpus row at once — the batch job the reference cannot
    express without one serving call per document).

    Scale shape: the sign bucket is the ONLY shuffle key — candidate
    pairs never cross buckets, so the join is bucket-local and the
    per-vector top-k is a window PARTITIONED by vec_id over the
    candidate-restricted pairs (never a global sort; contrast
    ``embedding_neardup``'s corpus-global top-N). Dials as in
    ``embedding_neardup``: ``sign_bits`` grows with the corpus so bucket
    membership stays bounded (2^30 buckets at 10^12 rows), and
    ``max_bucket`` caps per-bucket membership to the smallest vec_ids,
    bounding worst-case per-bucket pair counts under skew — CAPPED BY
    DEFAULT at :data:`KNN_MAX_BUCKET` (8x the sizing rule's expected
    bucket population; pass ``None`` to explicitly uncap). The cap is a
    same-partitioning window on the bucket key, so it adds no exchange,
    and the oracle SQL mirrors it exactly (the contract stays
    value-hash-exact whether or not the cap binds). Vectors whose
    bucket holds fewer than k+1 members yield fewer than k edges
    (honest sparsity — raise probes/lower bits for coverage).
    ``dim_offset`` hashes ``sign_bits`` components starting at that dim —
    a second, independent hash table over the same vectors
    (:func:`knn_graph_refined` unions two tables for cross-bucket seed
    diversity)."""
    e = _emb(spark, sf_dir).withColumn(
        "bucket", _sign_bucket(F.col("v"), sign_bits, dim_offset)
    )
    if max_bucket is not None:
        wb = Window.partitionBy("bucket").orderBy("vec_id")
        e = (
            e.withColumn("_bn", F.row_number().over(wb))
            .filter(F.col("_bn") <= max_bucket)
            .drop("_bn")
        )
    a = e.select(F.col("vec_id"), F.col("v").alias("va"), "bucket")
    b = e.select(
        F.col("vec_id").alias("nbr_id"), F.col("v").alias("vb"), "bucket"
    )
    pairs = a.join(b, "bucket").filter(F.col("vec_id") != F.col("nbr_id"))
    dot = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cos"), F.asc("nbr_id"))
    return (
        pairs.withColumn("cos", F.round(dot, 4))
        .withColumn("nn_rank", F.row_number().over(w))
        .filter(F.col("nn_rank") <= k)
        .select("vec_id", "nbr_id", "cos", "nn_rank")
    )


def _knn_graph_ctes(
    k: int,
    sign_bits: int,
    max_bucket: int | None,
    offset: int = 0,
    prefix: str = "",
) -> str:
    """Shared CTE chain deriving the base kNN graph ``{prefix}g(vec_id,
    nbr_id, cos, nn_rank)`` — used by both :func:`knn_graph_sql` and
    :func:`knn_graph_refined_sql` so the two oracles can never drift.
    ``offset``/``prefix`` produce the second hash table's chain."""
    p = prefix
    bucket = " + ".join(
        f"(CASE WHEN embedding[{offset + i + 1}] >= 0 THEN {1 << i} ELSE 0 END)"
        for i in range(sign_bits)
    )
    cap = (
        f""",
{p}capped AS (
  SELECT vec_id, v, bucket FROM (
    SELECT vec_id, v, bucket,
           row_number() OVER (PARTITION BY bucket ORDER BY vec_id) AS bn
    FROM {p}e
  ) WHERE bn <= {max_bucket}
)"""
        if max_bucket is not None
        else f",\n{p}capped AS (SELECT vec_id, v, bucket FROM {p}e)"
    )
    return f"""{p}e AS (
  SELECT vec_id, list_transform(embedding, x -> x::double) AS v,
         CAST({bucket} AS int) AS bucket
  FROM embeddings
){cap},
{p}pairs AS (
  SELECT a.vec_id, b.vec_id AS nbr_id,
         round(list_dot_product(a.v, b.v), 4) AS cos
  FROM {p}capped a JOIN {p}capped b
    ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
),
{p}g AS (
  SELECT vec_id, nbr_id, cos, nn_rank FROM (
    SELECT vec_id, nbr_id, cos,
           row_number() OVER (
             PARTITION BY vec_id ORDER BY cos DESC, nbr_id ASC) AS nn_rank
    FROM {p}pairs
  ) WHERE nn_rank <= {k}
)"""


def knn_graph_sql(
    k: int = KNN_GRAPH_K,
    sign_bits: int = SEARCH_SIGN_BITS,
    max_bucket: int | None = KNN_MAX_BUCKET,
) -> str:
    return f"""
WITH {_knn_graph_ctes(k, sign_bits, max_bucket)}
SELECT vec_id, nbr_id, cos, nn_rank FROM g"""


def knn_graph_refined(
    spark: SparkSession,
    sf_dir: str,
    k: int = KNN_GRAPH_K,
    sign_bits: int = SEARCH_SIGN_BITS,
    max_bucket: int | None = KNN_MAX_BUCKET,
) -> DataFrame:
    """One NN-descent refinement iteration over :func:`knn_graph`
    (round-4 VERDICT item 5; reference analog: the HNSW graph build this
    family stands in for, ``infra/scripts/build_index.py:17-24`` —
    NN-descent is the standard way to construct such graphs at scale).

    The base graph's blocking miss (a vector whose noisy components flip
    a sign bit lands in a bucket without its true neighbors) cannot be
    closed by expanding the base graph alone: its edges never cross a
    bucket, so neighbor-of-neighbor candidates stay inside the 2-hop
    closure of the SAME bucket (measured: zero improvements). NN-descent
    gets its power from seed DIVERSITY, so the refinement seeds with a
    SECOND, independent hash table — the same sign-LSH over the next
    ``sign_bits`` components (``dim_offset=sign_bits``; the multi-hash-
    table construction every LSH deployment uses). A vector that flips a
    bit in table 0 almost never flips the independent table-1 bits too,
    so the union seed carries cross-table edges into its true
    neighborhood, and one neighbor-of-neighbor pass propagates them:
    if a→b and b→c, c becomes a candidate for a even when a and c share
    no bucket in either table.

    Deterministic local join: union the two tables' edges (cos is
    symmetric and computed identically, so duplicates collapse exactly),
    symmetrize, cap each vertex's adjacency at 2k by (cos desc, nbr asc)
    — the NN-descent reverse-neighbor sample bound, without which a hub
    vertex's in-degree would make its local join quadratic in corpus
    size — then for every vertex emit all ordered pairs of its adjacency
    plus the adjacency edges themselves, rescore exactly, and keep the
    per-vector top-k.

    Scale shape: adjacency ≤ 2Nk rows; the local join's only shuffle keys
    are vertex ids, per-vertex fan-out is bounded at (2k)² candidates;
    rescoring joins the candidate list back to the vector table on each
    endpoint (id-key shuffle joins); the final top-k is the same
    vec_id-partitioned window as the base graph — never global. Every
    step is deterministic (fixed tie-breaks), so the refinement carries a
    full DuckDB value-hash oracle (:func:`knn_graph_refined_sql`)."""
    g0 = knn_graph(
        spark, sf_dir, k=k, sign_bits=sign_bits, max_bucket=max_bucket
    ).select("vec_id", "nbr_id", "cos")
    g1 = knn_graph(
        spark, sf_dir, k=k, sign_bits=sign_bits, max_bucket=max_bucket,
        dim_offset=sign_bits,
    ).select("vec_id", "nbr_id", "cos")
    g = g0.unionByName(g1)
    sym = g.unionByName(
        g.select(
            F.col("nbr_id").alias("vec_id"),
            F.col("vec_id").alias("nbr_id"),
            "cos",
        )
    ).distinct()
    wadj = Window.partitionBy("vec_id").orderBy(F.desc("cos"), F.asc("nbr_id"))
    adj = (
        sym.withColumn("_ar", F.row_number().over(wadj))
        .filter(F.col("_ar") <= 2 * k)
        .select("vec_id", "nbr_id")
    )
    mid_a = adj.select(F.col("vec_id").alias("mid"), F.col("nbr_id").alias("a"))
    mid_c = adj.select(F.col("vec_id").alias("mid"), F.col("nbr_id").alias("c"))
    non = (
        mid_a.join(mid_c, "mid")
        .filter(F.col("a") != F.col("c"))
        .select("a", "c")
    )
    cand = non.unionByName(
        adj.select(F.col("vec_id").alias("a"), F.col("nbr_id").alias("c"))
    ).distinct()
    e = _emb(spark, sf_dir)
    dot = F.aggregate(
        F.zip_with("va", "vc", lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("a").orderBy(F.desc("cos"), F.asc("c"))
    return (
        cand.join(
            e.select(F.col("vec_id").alias("a"), F.col("v").alias("va")), "a"
        )
        .join(
            e.select(F.col("vec_id").alias("c"), F.col("v").alias("vc")), "c"
        )
        .withColumn("cos", F.round(dot, 4))
        .withColumn("nn_rank", F.row_number().over(w))
        .filter(F.col("nn_rank") <= k)
        .select(
            F.col("a").alias("vec_id"),
            F.col("c").alias("nbr_id"),
            "cos",
            "nn_rank",
        )
    )


def knn_graph_refined_sql(
    k: int = KNN_GRAPH_K,
    sign_bits: int = SEARCH_SIGN_BITS,
    max_bucket: int | None = KNN_MAX_BUCKET,
) -> str:
    """DuckDB mirror of :func:`knn_graph_refined`, built on the SAME base
    CTE chain as :func:`knn_graph_sql` (the two cannot drift); the
    second hash table is the same chain at ``offset=sign_bits`` under a
    ``t1_`` prefix."""
    return f"""
WITH {_knn_graph_ctes(k, sign_bits, max_bucket)},
{_knn_graph_ctes(k, sign_bits, max_bucket, offset=sign_bits, prefix="t1_")},
seed AS (
  SELECT vec_id, nbr_id, cos FROM g
  UNION ALL
  SELECT vec_id, nbr_id, cos FROM t1_g
),
sym AS (
  SELECT DISTINCT vec_id, nbr_id, cos FROM (
    SELECT vec_id, nbr_id, cos FROM seed
    UNION ALL
    SELECT nbr_id AS vec_id, vec_id AS nbr_id, cos FROM seed
  )
),
adj AS (
  SELECT vec_id, nbr_id FROM (
    SELECT vec_id, nbr_id,
           row_number() OVER (
             PARTITION BY vec_id ORDER BY cos DESC, nbr_id ASC) AS ar
    FROM sym
  ) WHERE ar <= {2 * k}
),
cand AS (
  SELECT DISTINCT a, c FROM (
    SELECT x.nbr_id AS a, y.nbr_id AS c
    FROM adj x JOIN adj y
      ON x.vec_id = y.vec_id AND x.nbr_id <> y.nbr_id
    UNION ALL
    SELECT vec_id AS a, nbr_id AS c FROM adj
  )
),
scored AS (
  SELECT cand.a AS vec_id, cand.c AS nbr_id,
         round(list_dot_product(ea.v, ec.v), 4) AS cos
  FROM cand
  JOIN e ea ON ea.vec_id = cand.a
  JOIN e ec ON ec.vec_id = cand.c
)
SELECT vec_id, nbr_id, cos, nn_rank FROM (
  SELECT vec_id, nbr_id, cos,
         row_number() OVER (
           PARTITION BY vec_id ORDER BY cos DESC, nbr_id ASC) AS nn_rank
  FROM scored
) WHERE nn_rank <= {k}"""


# ---------------------------------------------------------------------------
# Product quantization (round-5 session 2): the canonical 100 TB ANN
# memory answer — vectors compress to M one-byte codes (here 8 codes vs
# 64 x 4 B floats, 32x), candidate scoring reads ONLY the codes via an
# M-entry lookup table per subspace, and the exact re-rank touches just
# the shortlist. Reference analog: the HNSW index slot
# (infra/scripts/build_index.py:17-24) — PQ is the complementary
# compression half of a production IVF-PQ index (Jegou et al., TPAMI
# 2011, "Product Quantization for Nearest Neighbor Search").
# ---------------------------------------------------------------------------

PQ_SUBSPACES = 8
PQ_CODES = 16
PQ_SHORTLIST = 4 * TOP_K


def _pq_codebook(
    spark: SparkSession, sf_dir: str, m_sub: int, n_codes: int
) -> list[list[float]]:
    """Deterministic sample-anchored codebook: code c in every subspace is
    the matching slice of corpus vector c (same stand-in rule as the
    untrained IVF quantizer — vec-id slots; swap in the exact-integer
    k-means trainer per subspace for a trained codebook, exactly as
    ``train_ivf_centroids`` upgraded ``ivf_topk``)."""
    vecs = _small_vecs(spark, sf_dir, need_max=n_codes - 1)
    return [vecs[c] for c in range(n_codes)]


def pq_topk(
    spark: SparkSession,
    sf_dir: str,
    k: int = TOP_K,
    m_sub: int = PQ_SUBSPACES,
    n_codes: int = PQ_CODES,
    shortlist: int = PQ_SHORTLIST,
    query_vec_id: int = QUERY_VEC_ID,
) -> DataFrame:
    """PQ-ADC top-k: encode each vector as ``m_sub`` codebook codes
    (argmin squared distance per subspace), score candidates by the
    asymmetric-distance lookup sum, TakeOrderedAndProject a shortlist,
    then re-rank the shortlist by the EXACT dot. Output
    (vec_id, rank, cos, adc).

    Scale shape: encoding and ADC scoring are pure per-row expressions
    against literal codebook/lookup tables (the codebook is m_sub x
    n_codes x (dim/m_sub) doubles — KBs, a broadcast-as-literals), so the
    plan has ZERO joins and zero exchanges below the shortlist top-k; the
    exact re-rank reads full vectors for ``shortlist`` rows only. At
    100 TB the codes live in their own 8-byte-per-vector table and the
    re-rank is a shortlist-sized join back to the vector table.

    Bit-exactness: argmin uses cost = |c_j|^2 - 2<v_j, c_j> (the |v_j|^2
    term is constant per row), every dot is the same left-fold both
    engines use for the exact cos (``_dot_lit`` vs DuckDB
    ``list_dot_product``), ties break to the lowest code id via
    first-occurrence array_position/list_position, and the ADC partials
    are driver-computed literals that DuckDB re-derives bit-identically.
    """
    cb = _pq_codebook(spark, sf_dir, m_sub, n_codes)
    qv, base = _query_base(spark, sf_dir, query_vec_id, None)
    return _pq_shortlist_rerank(
        base, cb, qv, k=k, m_sub=m_sub, n_codes=n_codes, shortlist=shortlist
    )


def _pq_shortlist_rerank(
    base: DataFrame,
    cb: list[list[float]],
    qv: list[float],
    *,
    k: int,
    m_sub: int,
    n_codes: int,
    shortlist: int,
) -> DataFrame:
    """Shared PQ tail: literal-codebook encode -> ADC lookup-sum score ->
    shortlist top -> exact-dot re-rank. ``base`` is any (vec_id, v)
    candidate frame (the whole corpus for :func:`pq_topk`, the probed
    cells for :func:`ivfpq_topk`)."""
    from functools import reduce
    from operator import add

    dim = len(qv)
    assert dim % m_sub == 0, (dim, m_sub)
    sub = dim // m_sub

    code_cols = []
    adc_terms = []
    for j in range(m_sub):
        lo = j * sub
        vj = F.slice(F.col("v"), lo + 1, sub)
        costs = []
        for c in range(n_codes):
            cj = cb[c][lo : lo + sub]
            costs.append(F.lit(_py_dot(cj, cj)) - 2.0 * _dot_lit(vj, cj))
        scores = F.array(*costs)
        code_cols.append(
            F.array_position(scores, F.array_min(scores)).alias(f"code_{j}")
        )
        partials = [_py_dot(qv[lo : lo + sub], cb[c][lo : lo + sub])
                    for c in range(n_codes)]
        adc_terms.append((j, partials))

    enc = base.select("vec_id", "v", *code_cols)
    adc = reduce(
        add,
        [F.element_at(_lit_vec(p), F.col(f"code_{j}").cast("int"))
         for j, p in adc_terms],
    )
    short = (
        enc.withColumn("adc", F.round(adc, 4))
        .orderBy(F.desc("adc"), F.asc("vec_id"))
        .limit(shortlist)
    )
    rer = short.withColumn("cos", F.round(_dot_lit(F.col("v"), qv), 4))
    topk = rer.orderBy(F.desc("cos"), F.asc("vec_id")).limit(k)
    w = Window.orderBy(F.desc("cos"), F.asc("vec_id"))
    return topk.withColumn("rank", F.row_number().over(w)).select(
        "vec_id", "rank", "cos", "adc"
    )


def ivfpq_topk(
    spark: SparkSession,
    sf_dir: str,
    k: int = TOP_K,
    n_cells: int = IVF_CELLS,
    n_probe: int = IVF_PROBE,
    m_sub: int = PQ_SUBSPACES,
    n_codes: int = PQ_CODES,
    shortlist: int = PQ_SHORTLIST,
    query_vec_id: int = QUERY_VEC_ID,
) -> DataFrame:
    """IVF-PQ: the composed FAISS-style serving path for 10^12-vector
    corpora (reference analog: the Milvus collection the API searches,
    ``api/milvus_adapter.py:80-94``, whose production configs pair a
    coarse quantizer with PQ codes). Coarse-quantizer cell assignment
    prunes the corpus to ``n_probe`` cells (at scale: parquet partition
    pruning via :func:`build_ivf_index`'s layout — the scan never touches
    the other cells), PQ-ADC lookup sums score ONLY the probed candidates
    (8 bytes/vector instead of dim floats), and the exact dot re-ranks a
    ``shortlist``-sized remainder. Output (vec_id, rank, cos, adc).

    Scale shape: both stages are pure per-row expressions against literal
    tables (centroids: n_cells x dim; codebook: m_sub x n_codes x
    (dim/m_sub) — KBs each), so the plan is join-free and exchange-free
    below the shortlist top-k, and the candidate set the ADC stage ever
    materializes is n_probe/n_cells of the corpus. Bit-exactness is
    inherited from both parents (first-occurrence argmin/argmax
    tie-breaks, fixed-order double folds); the DuckDB oracle composes the
    two parent oracles' CTEs unchanged.
    """
    vecs = _small_vecs(
        spark, sf_dir, need_max=max(query_vec_id, n_cells, n_codes - 1)
    )
    cents = [(cell, vecs[cell]) for cell in range(1, n_cells + 1)]
    cb = [vecs[c] for c in range(n_codes)]
    qv, base = _query_base(spark, sf_dir, query_vec_id, None)

    assigned = base.withColumn("cell", _argmax_cell_literal(cents))
    probe_cells = [
        c for _, c in sorted(((-_py_dot(qv, cv), c) for c, cv in cents))[
            :n_probe
        ]
    ]
    cand = assigned.filter(F.col("cell").isin(probe_cells))
    return _pq_shortlist_rerank(
        cand, cb, qv, k=k, m_sub=m_sub, n_codes=n_codes, shortlist=shortlist
    )


def _pq_sql_parts(
    m_sub: int,
    n_codes: int,
    dim: int,
    query_vec_id: int,
    code_anchor=None,
) -> tuple[str, str]:
    """(anchor-CTE column list, ADC lookup-sum expression) shared by the
    PQ, IVF-PQ and trained-PQ oracles — the SQL mirror of
    :func:`_pq_shortlist_rerank` (same argmin cost form, same
    first-occurrence tie-break via list_position, same left-fold dot
    order). ``code_anchor(j, c)`` supplies the scalar subquery for
    codebook entry (subspace j, code c); default is the vec-id-slot
    stand-in slice."""
    sub = dim // m_sub
    if code_anchor is None:
        def code_anchor(j, c):
            lo, hi = j * sub + 1, (j + 1) * sub
            return f"(SELECT v[{lo}:{hi}] FROM e WHERE vec_id = {c})"
    anchor_cols = []
    for j in range(m_sub):
        lo, hi = j * sub + 1, (j + 1) * sub
        anchor_cols.append(
            f"(SELECT v[{lo}:{hi}] FROM e WHERE vec_id = {query_vec_id}) AS q_{j}"
        )
        for c in range(n_codes):
            anchor_cols.append(f"{code_anchor(j, c)} AS a_{j}_{c}")
    adc_parts = []
    for j in range(m_sub):
        lo, hi = j * sub + 1, (j + 1) * sub
        costs = ", ".join(
            f"(list_dot_product(a_{j}_{c}, a_{j}_{c})"
            f" - 2.0 * list_dot_product(v[{lo}:{hi}], a_{j}_{c}))"
            for c in range(n_codes)
        )
        partials = ", ".join(
            f"list_dot_product(q_{j}, a_{j}_{c})" for c in range(n_codes)
        )
        adc_parts.append(
            f"([{partials}])[list_position([{costs}],"
            f" list_aggregate([{costs}], 'min'))]"
        )
    return ", ".join(anchor_cols), " + ".join(adc_parts)


def pq_topk_sql(
    k: int = TOP_K,
    m_sub: int = PQ_SUBSPACES,
    n_codes: int = PQ_CODES,
    shortlist: int = PQ_SHORTLIST,
    dim: int = 64,
    query_vec_id: int = QUERY_VEC_ID,
) -> str:
    """DuckDB oracle for :func:`pq_topk`: re-derives the codebook from the
    same vec-id-slot rule, encodes, ADC-scores and re-ranks with the same
    fixed-order double arithmetic (one single-row anchor CTE cross-joined
    in, so every per-row expression references plain columns)."""
    anchor_cols, adc_expr = _pq_sql_parts(m_sub, n_codes, dim, query_vec_id)
    return f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> x::double) AS v FROM embeddings
),
anchors AS (SELECT {anchor_cols}),
scored AS (
  SELECT vec_id, v, round({adc_expr}, 4) AS adc
  FROM e CROSS JOIN anchors WHERE vec_id <> {query_vec_id}
),
short AS (
  SELECT vec_id, v, adc FROM scored ORDER BY adc DESC, vec_id LIMIT {shortlist}
),
rer AS (
  SELECT vec_id, adc,
         round(list_dot_product(v,
           (SELECT v FROM e WHERE vec_id = {query_vec_id})), 4) AS cos
  FROM short
)
SELECT vec_id, rank, cos, adc FROM (
  SELECT vec_id, cos, adc,
         row_number() OVER (ORDER BY cos DESC, vec_id ASC) AS rank
  FROM rer
) WHERE rank <= {k}"""


def ivfpq_topk_sql(
    k: int = TOP_K,
    n_cells: int = IVF_CELLS,
    n_probe: int = IVF_PROBE,
    m_sub: int = PQ_SUBSPACES,
    n_codes: int = PQ_CODES,
    shortlist: int = PQ_SHORTLIST,
    dim: int = 64,
    query_vec_id: int = QUERY_VEC_ID,
) -> str:
    """DuckDB oracle for :func:`ivfpq_topk`: the IVF oracle's
    assignment/probe CTEs (same stand-in centroids, same desc-dot/asc-cell
    tie-break) feeding the PQ oracle's anchor/ADC/shortlist/re-rank tail —
    composed unchanged, so a mismatch localizes to the composition."""
    anchor_cols, adc_expr = _pq_sql_parts(m_sub, n_codes, dim, query_vec_id)
    return f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> x::double) AS v FROM embeddings
),
cents AS (
  SELECT vec_id AS cell, v AS cv FROM e
  WHERE vec_id BETWEEN 1 AND {n_cells}
),
assigned AS (
  SELECT vec_id, v, cell FROM (
    SELECT e.vec_id, e.v, c.cell,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY list_dot_product(e.v, c.cv) DESC, c.cell ASC) AS crank
    FROM e CROSS JOIN cents c
  ) WHERE crank = 1
),
probe AS (
  SELECT cell AS pcell FROM (
    SELECT c.cell,
           row_number() OVER (
             ORDER BY list_dot_product(e.v, c.cv) DESC, c.cell ASC) AS crank
    FROM e CROSS JOIN cents c WHERE e.vec_id = {query_vec_id}
  ) WHERE crank <= {n_probe}
),
anchors AS (SELECT {anchor_cols}),
scored AS (
  SELECT a.vec_id, a.v, round({adc_expr}, 4) AS adc
  FROM (SELECT s.vec_id, s.v FROM assigned s
        JOIN probe p ON s.cell = p.pcell) a
  CROSS JOIN anchors WHERE a.vec_id <> {query_vec_id}
),
short AS (
  SELECT vec_id, v, adc FROM scored ORDER BY adc DESC, vec_id LIMIT {shortlist}
),
rer AS (
  SELECT vec_id, adc,
         round(list_dot_product(v,
           (SELECT v FROM e WHERE vec_id = {query_vec_id})), 4) AS cos
  FROM short
)
SELECT vec_id, rank, cos, adc FROM (
  SELECT vec_id, cos, adc,
         row_number() OVER (ORDER BY cos DESC, vec_id ASC) AS rank
  FROM rer
) WHERE rank <= {k}"""


PQ_TRAIN_ITERS = 2


def train_pq_codebook(
    spark: SparkSession,
    sf_dir: str,
    m_sub: int = PQ_SUBSPACES,
    n_codes: int = PQ_CODES,
    n_iters: int = PQ_TRAIN_ITERS,
    sample_per_code: int = 256,
) -> list[list[float]]:
    """Per-subspace Lloyd k-means for the PQ codebook — the trained
    upgrade :func:`_pq_codebook`'s docstring promises, exactly as
    :func:`train_ivf_centroids` upgraded :func:`ivf_topk` (reference
    analog: Milvus PQ index training). Plain (non-spherical) k-means:
    assignment minimizes |c|^2 - 2<v_j,c> (the PQ encoding cost), means
    are NOT renormalized — subvectors are not unit vectors.

    Returns the same shape as the stand-in (n_codes full-dim rows; row
    c's subspace-j slice is trained code c of subspace j), so
    :func:`_pq_shortlist_rerank` consumes it unchanged.

    Scale shape: trains on the same deterministic hash-sample rule as the
    IVF trainer; per iteration ONE sample scan — each row encodes all
    m_sub subspaces as literal argmins, explodes to m_sub (j, code, vj)
    rows, and a groupBy (j, code) accumulates exact-integer component
    sums (map-side partials; the shuffle carries m_sub*n_codes*(dim/m_sub)
    decimals, never the sample). The per-iteration driver collect is
    m_sub*n_codes rows — KBs at ANY corpus size (unlike the IVF means,
    which scale with cells, the PQ codebook is a fixed 2^codes table).

    Bit-determinism: identical contract to the IVF trainer —
    floor(v*2^24) decimal sums are order-independent, so the codebook is
    bit-identical across runs, partitionings, and engines;
    ``pq_trained_topk_sql`` unrolls the same iterations in DuckDB and
    reproduces it exactly. Empty codes keep their previous entry on both
    paths."""
    _, e = _train_sample(spark, sf_dir, n_codes, sample_per_code)
    vecs = _small_vecs(spark, sf_dir, need_max=n_codes - 1)
    cb = [list(vecs[c]) for c in range(n_codes)]
    dim = len(cb[0])
    assert dim % m_sub == 0, (dim, m_sub)
    sub = dim // m_sub

    for _ in range(n_iters):
        structs = []
        for j in range(m_sub):
            lo = j * sub
            vj = F.slice(F.col("v"), lo + 1, sub)
            costs = [
                F.lit(_py_dot(cb[c][lo : lo + sub], cb[c][lo : lo + sub]))
                - 2.0 * _dot_lit(vj, cb[c][lo : lo + sub])
                for c in range(n_codes)
            ]
            scores = F.array(*costs)
            structs.append(
                F.struct(
                    F.lit(j).alias("j"),
                    F.array_position(scores, F.array_min(scores)).alias(
                        "code"
                    ),
                    vj.alias("vj"),
                )
            )
        ex = e.select(F.explode(F.array(*structs)).alias("s")).select(
            "s.j", "s.code", "s.vj"
        )
        sums = ex.groupBy("j", "code").agg(
            F.count(F.lit(1)).alias("n"),
            *[
                F.sum(
                    F.floor(F.col("vj")[i] * MEAN_SCALE).cast("decimal(18,0)")
                ).alias(f"s{i}")
                for i in range(sub)
            ],
        ).collect()
        # unlike the spherical IVF trainer (whose renorm cancels the 2^24
        # quantization factor), plain-L2 means must descale explicitly;
        # division order (sum / n / scale) is pinned to match the oracle
        upd = {
            (r["j"], r["code"]): [
                float(r[f"s{i}"]) / r["n"] / MEAN_SCALE for i in range(sub)
            ]
            for r in sums
        }
        for j in range(m_sub):
            for c in range(n_codes):
                m = upd.get((j, c + 1))  # codes are 1-based (array_position)
                if m is not None:
                    cb[c][j * sub : (j + 1) * sub] = m
    return cb


def pq_trained_topk(
    spark: SparkSession,
    sf_dir: str,
    k: int = TOP_K,
    m_sub: int = PQ_SUBSPACES,
    n_codes: int = PQ_CODES,
    shortlist: int = PQ_SHORTLIST,
    n_iters: int = PQ_TRAIN_ITERS,
    query_vec_id: int = QUERY_VEC_ID,
    sample_per_code: int = 1 << 30,
) -> DataFrame:
    """:func:`pq_topk` with a TRAINED codebook. ``sample_per_code`` is
    pinned high for the contract so the trainer's hash-sample keeps the
    whole corpus at any contract SF (the oracle trains on the full
    table); the sampled default of :func:`train_pq_codebook` is the
    production path."""
    cb = train_pq_codebook(
        spark, sf_dir, m_sub, n_codes, n_iters, sample_per_code
    )
    qv, base = _query_base(spark, sf_dir, query_vec_id, None)
    return _pq_shortlist_rerank(
        base, cb, qv, k=k, m_sub=m_sub, n_codes=n_codes, shortlist=shortlist
    )


def pq_trained_topk_sql(
    k: int = TOP_K,
    m_sub: int = PQ_SUBSPACES,
    n_codes: int = PQ_CODES,
    shortlist: int = PQ_SHORTLIST,
    dim: int = 64,
    n_iters: int = PQ_TRAIN_ITERS,
    query_vec_id: int = QUERY_VEC_ID,
) -> str:
    """DuckDB oracle for :func:`pq_trained_topk`: the per-subspace Lloyd
    iterations UNROLLED as a CTE chain (same assignment cost and
    lowest-code tie-break, same floor(v*2^24) exact-decimal component
    sums, same one-double-division means, empty codes carried), feeding
    the shared PQ anchor/ADC/shortlist/re-rank tail with the trained
    codebook table as the anchor source. Valid whenever the trainer's
    sample keeps the whole corpus (the contract pins sample_per_code
    high, as with the trained-IVF oracle)."""
    sub = dim // m_sub
    mlist = ", ".join(
        f"sum(floor(vj[{i + 1}] * {MEAN_SCALE!r})::DECIMAL(18,0))::DOUBLE"
        f" / count(*) / {MEAN_SCALE!r}"
        for i in range(sub)
    )
    its = []
    for t in range(n_iters):
        its.append(f"""
assign{t} AS MATERIALIZED (
  SELECT vec_id, j, vj, code FROM (
    SELECT s.vec_id, s.j, s.vj, c.code,
           row_number() OVER (
             PARTITION BY s.vec_id, s.j
             ORDER BY list_dot_product(c.cv, c.cv)
                      - 2.0 * list_dot_product(s.vj, c.cv) ASC,
                      c.code ASC) AS rk
    FROM sliced s JOIN cb{t} c ON c.j = s.j
  ) WHERE rk = 1
),
mean{t} AS (
  SELECT j, code, [{mlist}] AS cv
  FROM assign{t} GROUP BY j, code
),
cb{t + 1} AS MATERIALIZED (
  SELECT p.j, p.code, coalesce(m.cv, p.cv) AS cv
  FROM cb{t} p LEFT JOIN mean{t} m ON m.j = p.j AND m.code = p.code
)""")
    anchor_cols, adc_expr = _pq_sql_parts(
        m_sub,
        n_codes,
        dim,
        query_vec_id,
        code_anchor=lambda j, c: (
            f"(SELECT cv FROM cb{n_iters} WHERE j = {j} AND code = {c + 1})"
        ),
    )
    return f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> x::double) AS v FROM embeddings
),
js AS (SELECT range AS j FROM range({m_sub})),
cb0 AS (
  SELECT js.j, e.vec_id + 1 AS code,
         list_slice(e.v, js.j * {sub} + 1, (js.j + 1) * {sub}) AS cv
  FROM e CROSS JOIN js WHERE e.vec_id < {n_codes}
),
sliced AS MATERIALIZED (
  SELECT e.vec_id, js.j,
         list_slice(e.v, js.j * {sub} + 1, (js.j + 1) * {sub}) AS vj
  FROM e CROSS JOIN js
),{",".join(its)},
anchors AS (SELECT {anchor_cols}),
scored AS (
  SELECT vec_id, v, round({adc_expr}, 4) AS adc
  FROM e CROSS JOIN anchors WHERE vec_id <> {query_vec_id}
),
short AS (
  SELECT vec_id, v, adc FROM scored ORDER BY adc DESC, vec_id LIMIT {shortlist}
),
rer AS (
  SELECT vec_id, adc,
         round(list_dot_product(v,
           (SELECT v FROM e WHERE vec_id = {query_vec_id})), 4) AS cos
  FROM short
)
SELECT vec_id, rank, cos, adc FROM (
  SELECT vec_id, cos, adc,
         row_number() OVER (ORDER BY cos DESC, vec_id ASC) AS rank
  FROM rer
) WHERE rank <= {k}"""
