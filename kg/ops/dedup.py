"""Deduplication operators over the documents table.

Exact (md5 first-wins — the reference's D1/D2 dedup,
``data/scripts/data_processor.py:102-109,189-197``), MinHash+LSH banding,
SimHash, n-gram Jaccard verification, and LSH-blocked embedding-cosine
near-dup. All deterministic and DuckDB-oracle-checkable; hash functions
are md5-based so both engines agree bit-for-bit.

Scale notes: exact dedup is one shuffle on the 16-byte key; MinHash is
explode→groupBy (map-side partial min) → band self-join where the join
fan-out is bounded by band-bucket sizes, never all-pairs; embedding
near-dup blocks on an 8-bit sign bucket before any pair is formed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kg.session import spread_small_scan

SHINGLE_W = 3
NUM_HASHES = 8
BANDS = 4  # rows-per-band = NUM_HASHES // BANDS = 2
JACCARD_THRESHOLD = 0.5


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def dedup_key(col):
    """D1: md5 over lower/trimmed text (reference keys on title+abstract
    prefix; our corpus has a single text field)."""
    return F.md5(F.lower(F.trim(col)))


def exact_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2 first-wins dedup: survivor = smallest doc_id per key (explicit
    order column, not implicit file order — SURVEY §7.4.2)."""
    d = _docs(spark, sf_dir).select("doc_id", dedup_key(F.col("text")).alias("dkey"))
    w = Window.partitionBy("dkey").orderBy("doc_id")
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "dkey")
    )


def exact_survivors_sql() -> str:
    return """
SELECT doc_id, dkey FROM (
  SELECT doc_id, md5(lower(trim(text))) AS dkey,
         row_number() OVER (PARTITION BY md5(lower(trim(text))) ORDER BY doc_id) AS rn
  FROM documents
) WHERE rn = 1"""


def duplicate_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4-style: keys appearing more than once, with survivor + count."""
    d = _docs(spark, sf_dir).select("doc_id", dedup_key(F.col("text")).alias("dkey"))
    return (
        d.groupBy("dkey")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("survivor"))
        .filter(F.col("n_docs") > 1)
    )


def duplicate_groups_sql() -> str:
    return """
SELECT md5(lower(trim(text))) AS dkey, count(*) AS n_docs, min(doc_id) AS survivor
FROM documents GROUP BY 1 HAVING count(*) > 1"""


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def _shingle_batches(batches):
    """Arrow kernel: (doc_id:int64, text) batches -> per-doc DISTINCT
    word-3-grams. Vectorized end to end: one C split, numpy window
    indexing, one C element-wise join, hash-based dedup — no per-token
    Python and no interpreted JVM array HOFs."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyarrow.compute as pc

    for pdf in batches:
        arr = pa.array(pdf["text"].astype(object), type=pa.string(), from_pandas=True)
        split = pc.split_pattern(arr, " ")
        words = pc.list_flatten(split)
        row_len = np.asarray(pc.list_value_length(split).cast(pa.int64()))
        starts_all = np.concatenate(([0], np.cumsum(row_len)))
        keep_arrow = pc.not_equal(words, "")
        keep = np.asarray(keep_arrow.to_numpy(zero_copy_only=False), dtype=bool)
        kcum = np.concatenate(([0], np.cumsum(keep)))
        counts = kcum[starts_all[1:]] - kcum[starts_all[:-1]]
        kept = words.filter(keep_arrow)
        starts = np.concatenate(([0], np.cumsum(counts)))[:-1]

        n_g = np.maximum(counts - (SHINGLE_W - 1), 0)
        doc_idx = np.repeat(np.arange(len(counts)), n_g)
        pos = np.arange(int(n_g.sum())) - np.repeat(np.cumsum(n_g) - n_g, n_g)
        base = starts[doc_idx] + pos
        parts = [kept.take(pa.array(base + j)) for j in range(SHINGLE_W)]
        grams = pc.binary_join_element_wise(*parts, " ")
        out = pd.DataFrame(
            {
                "doc_id": pdf["doc_id"].to_numpy(dtype="int64")[doc_idx],
                "sh": grams.to_numpy(zero_copy_only=False),
            }
        ).drop_duplicates()
        yield out


def _shingles(
    spark: SparkSession, sf_dir: str, spread: bool = True
) -> DataFrame:
    """Distinct word-3-grams per doc (docs shorter than W yield none).

    r06: Arrow kernel instead of the interpreted JVM array-HOF chain
    (transform(sequence)+slice+array_join cost 2.6 s alone at sf0.1 —
    the same allocation-bound HOF pathology kg/fused.py documents for
    extraction; guide §4.2). The kernel emits per-doc-distinct shingles
    directly, so the corpus-sized ``.distinct()`` exchange disappears
    from every consumer — (doc_id, sh)-distinct equals per-doc distinct
    because doc_id is part of the key. Oracle SQL (_SHINGLES_SQL) is
    unchanged; dd_minhash_signatures / dd_lsh_candidates /
    dd_neardup_pairs stay oracle-exact."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    # parallelism guard (kg.session.spread_small_scan): the sandbox
    # corpus is one small file = one scan split, which would serialize
    # the kernel AND the 8-way md5 signature aggregation that consumes
    # its output partitions map-side. ``spread=False`` skips it for
    # consumers that only feed broadcast-side joins (the intersection
    # verify sides), where the added exchange costs more than the
    # kernel's trivial single-split compute.
    if spread:
        d = spread_small_scan(spark, d)
    return d.mapInPandas(_shingle_batches, schema="doc_id long, sh string")


_SHINGLES_SQL = f"""
  SELECT DISTINCT doc_id, sh FROM (
    SELECT doc_id, array_to_string(words[i+1:i+{SHINGLE_W}], ' ') AS sh
    FROM (
      SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS words
      FROM documents
    ), unnest(range(len(words) - {SHINGLE_W} + 1)) AS t(i)
    WHERE len(words) >= {SHINGLE_W}
  )
"""


def _sig_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, h0..h7, n_sh) in ONE aggregation pass: signatures and
    shingle counts share a groupBy so every consumer branch hangs off the
    same subtree (one corpus scan + one exchange instead of two of each —
    round-1 neardup_pairs re-derived the shingle explode 6×)."""
    sh = _shingles(spark, sf_dir)
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{i}|"), F.col("sh")))).alias(f"h{i}")
        for i in range(NUM_HASHES)
    ]
    return sh.groupBy("doc_id").agg(*aggs, F.count("*").alias("n_sh"))


def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, h0..h7): per-doc min of md5('<i>|'||shingle) per hash fn."""
    return _sig_sizes(spark, sf_dir).drop("n_sh")


def _signatures_sql() -> str:
    mins = ", ".join(
        f"min(md5('{i}|' || sh)) AS h{i}" for i in range(NUM_HASHES)
    )
    return f"SELECT doc_id, {mins} FROM ({_SHINGLES_SQL}) GROUP BY doc_id"


def lsh_candidate_pairs(
    spark: SparkSession, sf_dir: str, sig: DataFrame | None = None
) -> DataFrame:
    """Distinct (doc_a < doc_b) sharing at least one LSH band bucket.
    ``sig`` lets callers pass a materialized signature frame so the
    shingle aggregation isn't re-derived per consumer."""
    if sig is None:
        # doc-sized; materialize so the band self-join below doesn't
        # re-derive the corpus-sized shingle aggregation per side
        sig = minhash_signatures(spark, sf_dir).localCheckpoint(eager=False)
    r = NUM_HASHES // BANDS
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(
                    F.concat(*[F.col(f"h{b * r + j}") for j in range(r)])
                ).alias("bkey"),
            )
            for b in range(BANDS)
        ]
    )
    exploded = sig.select("doc_id", F.explode(bands).alias("bb")).select(
        "doc_id", F.col("bb.band").alias("band"), F.col("bb.bkey").alias("bkey")
    )
    a = exploded.alias("a")
    b = exploded.alias("b")
    return (
        a.join(b, ["band", "bkey"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def _candidates_sql() -> str:
    r = NUM_HASHES // BANDS
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, md5("
        + " || ".join(f"h{b * r + j}" for j in range(r))
        + ") AS bkey FROM sig"
        for b in range(BANDS)
    )
    return f"""
sig AS ({_signatures_sql()}),
bands AS ({band_rows}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
  WHERE a.doc_id < b.doc_id
)"""


def neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidates verified by exact shingle Jaccard >= threshold.
    Output: (doc_a, doc_b, jaccard rounded to 4dp)."""
    # materialize the doc-sized signature+size table ONCE (1 row/doc — tiny
    # relative to the corpus-sized shingle explode it summarizes): the
    # candidate branch and the size joins then share it instead of each
    # re-deriving the explode+aggregate (column pruning makes the two
    # aggregate subtrees differ, so ReuseExchange can never kick in)
    sig_sizes = _sig_sizes(spark, sf_dir).localCheckpoint(eager=False)
    cand = lsh_candidate_pairs(spark, sf_dir, sig=sig_sizes.drop("n_sh"))
    sh = _shingles(spark, sf_dir, spread=False)
    sizes = sig_sizes.select("doc_id", "n_sh")
    a_sh = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh"))
    b_sh = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh"))
    inter = (
        cand.join(a_sh, "doc_a").join(b_sh, ["doc_b", "sh"]).groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_inter"))
    )
    na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(na, "doc_a")
        .join(nb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
                4,
            ),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", "jaccard")
    )


def neardup_pairs_sql() -> str:
    return f"""
WITH {_candidates_sql()},
sh AS ({_SHINGLES_SQL}),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS n_inter
  FROM cand c
  JOIN sh a ON a.doc_id = c.doc_a
  JOIN sh b ON b.doc_id = c.doc_b AND b.sh = a.sh
  GROUP BY c.doc_a, c.doc_b
)
SELECT i.doc_a, i.doc_b,
       round(n_inter / (na.n_sh + nb.n_sh - n_inter), 4) AS jaccard
FROM inter i
JOIN sizes na ON na.doc_id = i.doc_a
JOIN sizes nb ON nb.doc_id = i.doc_b
WHERE round(n_inter / (na.n_sh + nb.n_sh - n_inter), 4) >= {JACCARD_THRESHOLD}"""


def neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTERS: connected components over the verified
    near-dup pairs — the training-data dedup endgame (a chain a~b~c must
    collapse to ONE survivor even if a and c never pair directly, which
    pairwise dedup misses). Survivor = min doc_id of the cluster.

    Reuses kg.canonicalize.connected_components (iterative DataFrame
    self-join at scale, driver union-find for small graphs). Output
    (doc_id, survivor, cluster_size) for every doc in some cluster.
    """
    from kg.canonicalize import connected_components

    pairs = neardup_pairs(spark, sf_dir)
    edges = pairs.select(
        F.col("doc_a").cast("string").alias("src"),
        F.col("doc_b").cast("string").alias("dst"),
    )
    labels = connected_components(edges)
    stats = labels.groupBy("label").agg(
        F.min(F.col("node").cast("long")).alias("survivor"),
        F.count("*").alias("cluster_size"),
    )
    return labels.join(F.broadcast(stats), "label").select(
        F.col("node").cast("long").alias("doc_id"),
        "survivor",
        "cluster_size",
    )


def neardup_clusters_sql() -> str:
    return f"""
WITH RECURSIVE {_candidates_sql()},
sh AS ({_SHINGLES_SQL}),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS n_inter
  FROM cand c
  JOIN sh a ON a.doc_id = c.doc_a
  JOIN sh b ON b.doc_id = c.doc_b AND b.sh = a.sh
  GROUP BY c.doc_a, c.doc_b
),
np AS (
  SELECT i.doc_a, i.doc_b
  FROM inter i
  JOIN sizes na ON na.doc_id = i.doc_a
  JOIN sizes nb ON nb.doc_id = i.doc_b
  WHERE round(n_inter / (na.n_sh + nb.n_sh - n_inter), 4) >= {JACCARD_THRESHOLD}
),
sym AS (
  SELECT doc_a AS a, doc_b AS b FROM np UNION SELECT doc_b, doc_a FROM np
),
members AS (SELECT DISTINCT a AS node FROM sym),
reach(node, m) AS (
  SELECT node, node FROM members
  UNION
  SELECT s.b, r.m FROM reach r JOIN sym s ON s.a = r.node
)
SELECT node AS doc_id, min(m) AS survivor, count(DISTINCT m) AS cluster_size
FROM reach GROUP BY node"""


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

SIMHASH_BITS = 16


def simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash: bit k from hex digit k of md5(token), weighted by
    token multiplicity; tie (sum==0) -> bit 0. Output (doc_id, simhash)."""
    d = _docs(spark, sf_dir)
    toks = F.filter(F.split(F.col("text"), " "), lambda w: w != F.lit(""))
    tok = d.select("doc_id", F.explode(toks).alias("tok"))
    tok = tok.withColumn("h", F.md5(F.col("tok")))
    aggs = [
        F.sum(
            (F.conv(F.substring(F.col("h"), k + 1, 1), 16, 10).cast("int") % 2) * 2 - 1
        ).alias(f"s{k}")
        for k in range(SIMHASH_BITS)
    ]
    sums = tok.groupBy("doc_id").agg(*aggs)
    val = None
    for k in range(SIMHASH_BITS):
        term = F.when(F.col(f"s{k}") > 0, F.lit(1 << k)).otherwise(F.lit(0))
        val = term if val is None else val + term
    return sums.select("doc_id", val.cast("long").alias("simhash"))


def simhash_sql() -> str:
    sums = ", ".join(
        f"sum((('0x' || substr(md5(tok), {k + 1}, 1))::int % 2) * 2 - 1) AS s{k}"
        for k in range(SIMHASH_BITS)
    )
    val = " + ".join(
        f"(CASE WHEN s{k} > 0 THEN {1 << k} ELSE 0 END)" for k in range(SIMHASH_BITS)
    )
    return f"""
WITH tok AS (
  SELECT doc_id, unnest(list_filter(string_split(text,' '), x -> x <> '')) AS tok
  FROM documents
),
sums AS (SELECT doc_id, {sums} FROM tok GROUP BY doc_id)
SELECT doc_id, CAST({val} AS bigint) AS simhash FROM sums"""


# ---------------------------------------------------------------------------
# Embedding near-dup (LSH sign-bucket blocking + cosine)
# ---------------------------------------------------------------------------

SIGN_BITS = 8
NEARDUP_TOP_PAIRS = 20


def _sign_bucket(vec_col, bits: int = SIGN_BITS, offset: int = 0):
    """Sign-LSH bucket from ``bits`` consecutive components starting at
    ``offset`` — a nonzero offset gives an INDEPENDENT second hash table
    over the same vectors (used by knn_graph_refined's cross-bucket
    seeding; offset + bits must stay within the embedding dim)."""
    b = None
    for i in range(bits):
        bit = F.when(
            F.element_at(vec_col, offset + i + 1) >= 0, F.lit(1 << i)
        ).otherwise(F.lit(0))
        b = bit if b is None else b + bit
    return b.cast("int")


def embedding_neardup(
    spark: SparkSession,
    sf_dir: str,
    *,
    sign_bits: int = SIGN_BITS,
    max_bucket: int | None = None,
) -> DataFrame:
    """Top-N most-similar same-sign-bucket pairs (vec_a, vec_b, cos, rank).

    The sign bucket blocks the candidate set before any pair is formed
    (at scale: bucket is the shuffle key, pairs never cross buckets). A
    fixed cosine threshold would be trivially empty on this synthetic
    corpus (max pairwise cosine ≈ 0.48), so the query ranks instead —
    same plan, non-degenerate output. Dot in float64, rounded to 4dp,
    ties broken by (vec_a, vec_b).

    Scale dials (round-2): ``sign_bits`` sets the bucket count (2^bits;
    raise it with corpus size so per-bucket membership stays bounded —
    at 10^12 rows, 2^30 buckets keep within-bucket work ~constant), and
    ``max_bucket`` optionally caps per-bucket membership to the
    ``max_bucket`` smallest vec_ids (deterministic survivor set, a
    partitioned — never global — window), bounding worst-case pair
    counts to C(max_bucket, 2) per bucket under skew. The final top-N is
    ``orderBy().limit()`` (TakeOrderedAndProject, parallel partial
    top-k), not a global Window over every scored pair; ``rank`` is
    derived on the N-row result.
    """
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    e = e.withColumn("bucket", _sign_bucket(F.col("v"), sign_bits))
    if max_bucket is not None:
        wb = Window.partitionBy("bucket").orderBy("vec_id")
        e = (
            e.withColumn("_bn", F.row_number().over(wb))
            .filter(F.col("_bn") <= max_bucket)
            .drop("_bn")
        )
    a = e.select(
        F.col("vec_id").alias("vec_a"), F.col("v").alias("va"), "bucket"
    )
    b = e.select(
        F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"), "bucket"
    )
    pairs = a.join(b, "bucket").filter(F.col("vec_a") < F.col("vec_b"))
    dot = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    topn = (
        pairs.withColumn("cos", F.round(dot, 4))
        .orderBy(F.desc("cos"), F.asc("vec_a"), F.asc("vec_b"))
        .limit(NEARDUP_TOP_PAIRS)
    )
    w = Window.orderBy(F.desc("cos"), F.asc("vec_a"), F.asc("vec_b"))
    return topn.withColumn("rank", F.row_number().over(w)).select(
        "vec_a", "vec_b", "cos", "rank"
    )


def embedding_neardup_sql() -> str:
    bucket = " + ".join(
        f"(CASE WHEN embedding[{i + 1}] >= 0 THEN {1 << i} ELSE 0 END)"
        for i in range(SIGN_BITS)
    )
    return f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> x::double) AS v,
         CAST({bucket} AS int) AS bucket
  FROM embeddings
),
pairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         round(list_dot_product(a.v, b.v), 4) AS cos
  FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
)
SELECT vec_a, vec_b, cos, rank FROM (
  SELECT vec_a, vec_b, cos,
         row_number() OVER (ORDER BY cos DESC, vec_a ASC, vec_b ASC) AS rank
  FROM pairs
) WHERE rank <= {NEARDUP_TOP_PAIRS}"""
