"""Similarity search over embedding columns (array<float>).

- brute_force_topk: exact cosine top-k — one pass over candidates with an
  Arrow-batched matmul against the collected query matrix, per-partition
  partial top-k, exact global top-k window. The correctness baseline.
- lsh_topk: sign-random-projection buckets; probe only buckets within
  `probe_hamming` of the query's bucket (native bit_count prune,
  Arrow-batched scoring of survivors). At 100 TB the candidate table is
  pre-bucketed (written partitioned by bucket) so a probe prunes
  partitions; here the bucket column is computed on the fly.

All float scoring stages over the corpus are Arrow-batched BLAS passes
(brute_force_topk's scan, ivf_assign, pair_cos_pandas,
lsh_band_keys_pandas, the bucket-scan verify): Spark runs higher-order
array folds (aggregate/zip_with) in the expression interpreter, outside
whole-stage codegen, which measured ~4.5 ms/vector — the dominant cost of
every scoring plan here before round 5 vectorized them. The interpreted
folds left (_dot, _sq_dist, _plane_dot) score the small query/centroid
sides and lsh_bucket_col's few planes. Each operator has one
implementation; the tests grade it against the registry's DuckDB
oracle_sql() texts and numpy.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from ..functions import hashing as H


def _as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def brute_force_topk(
    queries: DataFrame, candidates: DataFrame, k: int = 10
) -> DataFrame:
    """queries(q_id, qe), candidates(neighbor_id, ce) → top-k by cosine.

    The query set (small by contract) is collected into one matrix; a
    mapInPandas scan over the candidates computes one batch×n_q BLAS
    matmul per Arrow batch and keeps a per-PARTITION top-k per query
    (tiebreak cos desc, neighbor_id asc — same as the final window), so
    the shuffle carries only n_parts × n_q × k tiny rows into the exact
    global top-k window. A crossJoin plan would duplicate every candidate
    VECTOR n_q times and score each copy with an interpreted
    aggregate(zip_with) fold (~4.5 ms/vector). Graded by the
    ann_cosine_topk registry entry against its DuckDB oracle."""
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    qrows = queries.select("q_id", "qe").collect()  # small by contract
    q_ids = np.array([r["q_id"] for r in qrows], dtype=np.int64)
    Q = (
        np.vstack([np.asarray(r["qe"], dtype=np.float64) for r in qrows])
        if qrows
        else np.empty((0, 1))
    )
    qn = np.sqrt(np.einsum("ij,ij->i", Q, Q)) if qrows else np.empty(0)

    def scan(batches):
        best = [([], []) for _ in q_ids]  # per-q (cos, nid) accumulators
        for pdf in batches:
            if len(pdf) == 0:
                continue
            C = np.vstack(pdf["ce"].to_numpy())
            nid = pdf["neighbor_id"].to_numpy()
            cn = np.sqrt(np.einsum("ij,ij->i", C, C))
            S = (C @ Q.T) / np.outer(cn, qn)  # batch × n_q
            for qi in range(len(q_ids)):
                cos = S[:, qi]
                # exact per-batch top-k WITH the (cos desc, neighbor_id asc)
                # tiebreak — argpartition could drop a tie the id-tiebreak
                # should keep, breaking exactness vs the SQL oracle
                idx = np.lexsort((nid, -cos))[:k]
                best[qi][0].extend(cos[idx])
                best[qi][1].extend(nid[idx])
        out_q, out_n, out_c = [], [], []
        for qi, (cs, ns) in enumerate(best):
            if not cs:
                continue
            cs = np.array(cs)
            ns = np.array(ns)
            order = np.lexsort((ns, -cs))[:k]  # cos desc, neighbor_id asc
            out_q.extend([q_ids[qi]] * len(order))
            out_n.extend(ns[order])
            out_c.extend(cs[order])
        if out_q:
            yield pd.DataFrame(
                {"q_id": out_q, "neighbor_id": out_n, "cos": out_c}
            )

    schema = StructType(
        [
            StructField("q_id", LongType()),
            StructField("neighbor_id", LongType()),
            StructField("cos", DoubleType()),
        ]
    )
    partial = candidates.mapInPandas(scan, schema)
    w = W.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        partial.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("q_id", "neighbor_id", "cos")
    )


def split_query_candidates(emb: DataFrame, n_queries: int = 5) -> tuple[DataFrame, DataFrame]:
    e = emb.select("vec_id", _as_double(F.col("embedding")).alias("e"))
    q = e.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("q_id"), F.col("e").alias("qe")
    )
    c = e.where(F.col("vec_id") >= n_queries).select(
        F.col("vec_id").alias("neighbor_id"), F.col("e").alias("ce")
    )
    return q, c


def _plane_dot(e, plane: np.ndarray):
    """Dot of a vector column against one literal hyperplane — native
    zip_with/aggregate, sequential sum (deterministic)."""
    lit_plane = F.array(*[F.lit(float(v)) for v in plane])
    return _dot(e, lit_plane)


def lsh_bucket_col(e, planes: np.ndarray):
    """Sign-random-projection bucket id as ONE native expression (bit i =
    sign of plane_i · v). Replaces the round-1 per-row Python kernel; the
    whole bucket computation stays in whole-stage codegen."""
    bucket = F.lit(0)
    for i, p in enumerate(planes):
        bucket = bucket + F.when(_plane_dot(e, p) > 0, F.lit(1 << i)).otherwise(F.lit(0))
    return bucket.cast("int")


def lsh_band_keys_pandas(planes: np.ndarray, bits_per_band: int):
    """Vectorized sign-LSH band keys: ONE BLAS matmul per Arrow batch
    (batch×dim @ dim×planes), signs packed into per-band integer keys:
    band id above bit 32 (any bits_per_band ≤ 32 yields disjoint key
    spaces per band), bit j of band b = sign of plane[b·bits+j]·v.
    Per-plane collision probability at cosine θ is 1 - arccos(θ)/π
    (Charikar 2002, STOC §3) — p ≈ 0.955 at the 0.99 near-dup threshold —
    so a true pair misses every band w.p. (1 - p^bits)^n_bands while an
    uncorrelated pair collides in one band w.p. ~2^-bits.

    Why a Pandas UDF here when the rest of the engine is
    expression-native: Spark evaluates higher-order array functions
    (aggregate/zip_with) in the expression interpreter, outside
    whole-stage codegen — at 128 planes × 64 dims that measured ~4.5
    ms/vector (59 s for 13.2k vectors at local[1]), which would make the
    PROJECTION the bottleneck of the whole near-dup plan at any scale.
    The Arrow-batched matmul is ~1000× that throughput and stays fully
    distributed (map-side, no shuffle)."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, LongType

    n_bands = len(planes) // bits_per_band
    P = planes.astype(np.float64).reshape(n_bands * bits_per_band, -1).T
    weights = (1 << np.arange(bits_per_band)).astype(np.int64)
    band_base = np.arange(n_bands, dtype=np.int64) << 32

    @pandas_udf(ArrayType(LongType()))
    def band_keys(e: pd.Series) -> pd.Series:
        if len(e) == 0:
            return pd.Series([], dtype=object)
        m = np.vstack(e.to_numpy())  # batch x dim
        bits = ((m @ P) > 0).reshape(len(m), n_bands, bits_per_band)
        vals = bits @ weights + band_base  # batch x n_bands
        return pd.Series(list(vals))

    return band_keys


def pair_cos_pandas():
    """Arrow-batched per-row cosine (einsum dots + norms, one BLAS pass
    per batch) for every candidate-scoring stage (lsh_topk / ivf_topk /
    ivf_topk_indexed), where one interpreted aggregate(zip_with) fold per
    candidate row was the dominant cost."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import DoubleType

    @pandas_udf(DoubleType())
    def pair_cos(a: pd.Series, b: pd.Series) -> pd.Series:
        if len(a) == 0:
            return pd.Series([], dtype="float64")
        A = np.vstack(a.to_numpy())
        B = np.vstack(b.to_numpy())
        num = np.einsum("ij,ij->i", A, B)
        den = np.sqrt(
            np.einsum("ij,ij->i", A, A) * np.einsum("ij,ij->i", B, B)
        )
        return pd.Series(num / den)

    return pair_cos


def with_lsh_bucket(emb: DataFrame, dim: int = 64) -> DataFrame:
    planes = H.hyperplanes(dim)
    return emb.withColumn(
        "bucket", lsh_bucket_col(_as_double(F.col("embedding")), planes)
    )


EMB_N_BANDS = 16
EMB_MAX_BUCKET = 1024  # ~256x the auto-sized ~4-vector mean bucket; degenerate only


def sized_bits_per_band(n: int) -> int:
    """Band width that keeps the candidate volume LINEAR in corpus size.
    Uncorrelated vectors collide in a b-bit band w.p. ~2^-b, so expected
    random candidate pairs ≈ EMB_N_BANDS · n²/2^(b+1); choosing 2^b ∝ n
    (b = ceil(log2 n) - 2, floor 4) pins the mean bucket at ~2-4 vectors
    and the candidate count at O(n) no matter the corpus scale — the
    round-4 verdict's fix for fixture-frozen 4-bit bands that turn the
    band join quadratic at 100x data. The mean-bucket target is ~4, not
    the earlier ~32-64: every candidate costs an exact-cosine verify
    (shuffle the id pair + both vectors through the Arrow batch), so the
    loose target's ~500 candidates/vector made verify ~85% of the
    measured wall while buying recall nobody needs — at threshold 0.99
    (per-plane p≈0.955, Charikar 2002) the WORST borderline pair misses
    all 16 bands w.p. (1-0.955^b)^16 = 6.6e-9 at n=550 (b=8), 1.0e-4 at
    n=1e6 (b=18), 5.7e-3 at n=1e9 (b=28), and genuinely near-identical
    pairs (cos ≥ 0.999, p ≥ 0.9975) miss w.p. ≤ 1e-10 at any of those
    widths. ~16 planes·bits of extra matmul per step is noise for the
    vectorized projection (lsh_band_keys_pandas)."""
    import math

    return max(4, math.ceil(math.log2(max(n, 2))) - 2)


def embedding_bands(
    vecs: DataFrame,
    bits_per_band: int | None = None,
    corpus_count: int | None = None,
) -> DataFrame:
    """(vec_id, bk) band rows; bits auto-sized from the corpus count when
    not pinned (pass `corpus_count` when the caller already knows it — at
    100 TB the table's metadata does; counting here is one extra scan)."""
    if bits_per_band is None:
        n = corpus_count if corpus_count is not None else vecs.count()
        bits_per_band = sized_bits_per_band(n)
    planes = H.hyperplanes(64, n=EMB_N_BANDS * bits_per_band)
    return vecs.select(
        "vec_id",
        F.explode(
            lsh_band_keys_pandas(planes, bits_per_band)(F.col("e"))
        ).alias("bk"),
    )


def embedding_oversized_buckets(
    vecs: DataFrame | None = None,
    max_bucket: int = EMB_MAX_BUCKET,
    bands: DataFrame | None = None,
    bits_per_band: int | None = None,
) -> DataFrame:
    """The band buckets embedding_near_dup_pairs dropped — no silent
    coverage caps (mirrors dedup.oversized_buckets). A bucket can only
    grow past the auto-sized mean by orders of magnitude when vectors are
    (near-)identical en masse — exact duplicates belong to exact dedup
    first, same contract as minhash_candidates."""
    if bands is None:
        bands = embedding_bands(vecs, bits_per_band=bits_per_band)
    return (
        bands.groupBy("bk")
        .agg(F.count(F.lit(1)).alias("bn"))
        .where(F.col("bn") > max_bucket)
    )


def _bucket_scan_factory(threshold: float, max_bucket: int):
    """Streaming per-bucket exact-cosine verify for mapInPandas over
    band rows hash-partitioned AND sorted by `bk` within each partition.
    Buckets are contiguous runs; a run can span Arrow batch boundaries,
    so the scan carries the open tail bucket between batches. Memory is
    O(arrow_batch + max_bucket): a bucket that grows past `max_bucket`
    is marked dead and its buffered rows are DROPPED immediately — the
    rest of the run streams through in O(1), so even a degenerate
    million-row bucket cannot blow up an executor (it surfaces in
    embedding_oversized_buckets instead). Each surviving bucket gets one
    k×k float64 matmul (k ≤ max_bucket); pairs at cos ≥ threshold are
    emitted with min(id) first."""

    def verify(ids, M):
        k = len(ids)
        if k < 2:
            return None
        nrm = np.sqrt(np.einsum("ij,ij->i", M, M))
        G = (M @ M.T) / np.outer(nrm, nrm)
        ia, ib = np.triu_indices(k, 1)
        cos = G[ia, ib]
        keep = cos >= threshold
        if not keep.any():
            return None
        a, b = ids[ia[keep]], ids[ib[keep]]
        return np.minimum(a, b), np.maximum(a, b), cos[keep]

    def scan(batches):
        carry_bk = None
        carry_ids = None
        carry_vs = None
        carry_dead = False
        for pdf in batches:
            if len(pdf) == 0:
                continue
            bks = pdf["bk"].to_numpy()
            ids = pdf["vec_id"].to_numpy()
            M = np.vstack(pdf["e"].to_numpy())
            starts = np.flatnonzero(np.r_[True, bks[1:] != bks[:-1]])
            ends = np.r_[starts[1:], len(bks)]
            out = []
            for s, e in zip(starts, ends):
                bk = bks[s]
                if carry_bk is not None and bk == carry_bk:
                    # tail bucket continues from the previous batch
                    if not carry_dead:
                        if len(carry_ids) + (e - s) > max_bucket:
                            carry_dead, carry_ids, carry_vs = True, None, None
                        else:
                            carry_ids = np.concatenate([carry_ids, ids[s:e]])
                            carry_vs = np.vstack([carry_vs, M[s:e]])
                else:
                    # new bucket: finalize any carried one first
                    if carry_bk is not None and not carry_dead:
                        r = verify(carry_ids, carry_vs)
                        if r is not None:
                            out.append(r)
                    carry_bk, carry_dead = bk, (e - s) > max_bucket
                    if carry_dead:
                        carry_ids, carry_vs = None, None
                    else:
                        carry_ids, carry_vs = ids[s:e], M[s:e]
                if e < len(bks):
                    # bucket provably ends inside this batch
                    if not carry_dead:
                        r = verify(carry_ids, carry_vs)
                        if r is not None:
                            out.append(r)
                    carry_bk, carry_ids, carry_vs, carry_dead = None, None, None, False
            if out:
                yield pd.DataFrame(
                    {
                        "vec_id_a": np.concatenate([r[0] for r in out]),
                        "vec_id_b": np.concatenate([r[1] for r in out]),
                        "cos": np.concatenate([r[2] for r in out]),
                    }
                )
        if carry_bk is not None and not carry_dead:
            r = verify(carry_ids, carry_vs)
            if r is not None:
                yield pd.DataFrame(
                    {"vec_id_a": r[0], "vec_id_b": r[1], "cos": r[2]}
                )

    return scan


def embedding_near_dup_pairs(
    vecs: DataFrame,
    threshold: float = 0.99,
    bits_per_band: int | None = None,
    corpus_count: int | None = None,
    max_bucket: int = EMB_MAX_BUCKET,
) -> DataFrame:
    """Embedding near-dup pairs via banded sign-LSH → in-bucket exact
    cosine verify — the composed 100 TB path. vecs: (vec_id, e
    array<double>). Bands auto-widen with corpus size (sized_bits_per_band)
    so candidate counts stay linear; buckets above `max_bucket` are
    dropped — not silently: they surface via embedding_oversized_buckets.

    Plan shape (round-5 rewrite): explode each vector into its 16 band
    rows CARRYING the vector (one shuffle of 16n fat rows, hash-
    partitioned on the band key), sort within partitions, then a
    streaming mapInPandas scan verifies each bucket with one k×k numpy
    matmul and emits only pairs at cos ≥ threshold; a final groupBy+max
    collapses pairs found in several bands. A join-based plan instead
    materializes every candidate PAIR and re-joins both vectors onto it:
    ~50 candidates/vector × 1 KB through two sort-merge joins, a
    multi-million-row distinct, and an Arrow round-trip — ~6× the
    shuffle bytes; it measured 113 s vs this plan at local[1] on 211k
    vectors. Graded by dedup_embedding against its all-pairs DuckDB
    oracle; recall is quantified in sized_bits_per_band."""
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    if bits_per_band is None:
        n = corpus_count if corpus_count is not None else vecs.count()
        bits_per_band = sized_bits_per_band(n)
    planes = H.hyperplanes(64, n=EMB_N_BANDS * bits_per_band)
    fat = vecs.select(
        "vec_id",
        "e",
        F.explode(
            lsh_band_keys_pandas(planes, bits_per_band)(F.col("e"))
        ).alias("bk"),
    )
    schema = StructType(
        [
            StructField("vec_id_a", LongType()),
            StructField("vec_id_b", LongType()),
            StructField("cos", DoubleType()),
        ]
    )
    return (
        fat.repartition("bk")
        .sortWithinPartitions("bk")
        .mapInPandas(_bucket_scan_factory(threshold, max_bucket), schema)
        # collapse pairs found in several bands: the k×k matmuls they came
        # from have different shapes, so the two cos values can differ in
        # the last ulp — groupBy+max is deterministic where distinct()
        # would keep both (graded outputs round to 6 decimals regardless)
        .groupBy("vec_id_a", "vec_id_b")
        .agg(F.max("cos").alias("cos"))
    )


def _sq_dist(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)), F.lit(0.0), lambda acc, x: acc + x
    )


def ivf_assign(emb: DataFrame, centroids: DataFrame) -> DataFrame:
    """Coarse quantization: nearest centroid per vector. At scale the
    candidate table is written partitioned by `list_id`, so probes prune
    whole partitions (the IVF inverted-list layout).

    The centroid set (n_lists rows — driver-bounded by construction, the
    same bound ivf_topk_indexed's probe collect relies on) becomes one
    matrix; a pandas_udf computes each Arrow batch's nearest centroid
    with a single batch×n_lists matmul (argmin ‖x−c‖² = argmin
    ‖c‖²−2x·c; ties → lowest centroid_id, DETERMINISTIC). The assignment
    pass runs over the FULL corpus, making it the most scale-critical
    stage of the IVF build: a crossJoin against every centroid would pay
    n_lists× the rows, each through an interpreted aggregate fold."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import LongType

    crows = sorted(
        centroids.select("centroid_id", "ce").collect(),
        key=lambda r: r["centroid_id"],
    )
    c_ids = np.array([r["centroid_id"] for r in crows], dtype=np.int64)
    C = np.vstack([np.asarray(r["ce"], dtype=np.float64) for r in crows])
    half_sq = 0.5 * np.einsum("ij,ij->i", C, C)

    @pandas_udf(LongType())
    def nearest(e: pd.Series) -> pd.Series:
        if len(e) == 0:
            return pd.Series([], dtype="int64")
        M = np.vstack(e.to_numpy())
        # argmin over (‖c‖²/2 − x·c); np.argmin takes the FIRST min —
        # c_ids is sorted, so ties resolve to the lowest centroid_id
        scores = half_sq - M @ C.T
        return pd.Series(c_ids[np.argmin(scores, axis=1)])

    # asNondeterministic is an OPTIMIZATION FENCE, not a semantic claim —
    # the kernel is pure (fixed centroid matrix, first-min argmin).
    # Without it CollapseProject inlines the UDF into downstream
    # projections and re-extracts it per projection level: the executed
    # plan stacked TWO ArrowEvalPython[nearest] nodes over the same rows,
    # the inner result discarded — a 2x assignment-kernel cost on the
    # corpus-wide pass (round-6 plan-audit find, visible in ivf_topk and
    # any caller that re-aliases the assigned columns). Marking the UDF
    # nondeterministic stops the inlining; one node survives, and no
    # filter/pushdown is lost (the only filters sit below the assignment
    # by construction).
    return emb.select(
        "vec_id", "e", nearest.asNondeterministic()(F.col("e")).alias("list_id")
    )


def kmeans_centroids(e: DataFrame, n_clusters: int = 20, seed: int = 7) -> DataFrame:
    """Seed-pinned k-means coarse quantizer (pyspark.ml) — the trained-IVF
    centroid set (centroid_id, ce). Deterministic: fixed seed + fixed
    input."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feat = e.select("vec_id", array_to_vector(F.col("e")).alias("features"))
    model = KMeans(k=n_clusters, seed=seed, maxIter=8).fit(feat)
    spark = e.sparkSession
    rows = [
        (i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())
    ]
    return spark.createDataFrame(rows, "centroid_id long, ce array<double>")


def ivf_topk(
    emb: DataFrame,
    n_queries: int = 5,
    k: int = 10,
    nprobe: int = 3,
    centroid_mod: int = 25,
    train: bool = True,
) -> DataFrame:
    """IVF ANN: coarse centroids (seed-pinned k-means with `train` — the
    real IVF training step; every-`centroid_mod`-th vector without it, the
    quantizer the ann_ivf_topk registry entry grades), queries probe their
    `nprobe` nearest lists, exact cosine within the probed lists."""
    e = emb.select(
        "vec_id", _as_double(F.col("embedding")).alias("e")
    )
    if train:
        centroids = kmeans_centroids(e)
    else:
        centroids = e.where(F.col("vec_id") % centroid_mod == 0).select(
            F.col("vec_id").alias("centroid_id"), F.col("e").alias("ce")
        )
    # queries never use a list_id (they probe via the centroid crossJoin
    # below), so only the CANDIDATE side runs the assignment kernel —
    # assigning the combined frame and filtering it twice re-executed the
    # corpus-wide matmul pass once per consumer (plan-audit find)
    q = e.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("q_id"), F.col("e").alias("qe")
    )
    c = ivf_assign(e.where(F.col("vec_id") >= n_queries), centroids).select(
        F.col("vec_id").alias("neighbor_id"), F.col("e").alias("ce"), "list_id"
    )
    # nprobe nearest centroid lists per query
    probes = (
        q.crossJoin(F.broadcast(centroids))
        .withColumn("dist", _sq_dist(F.col("qe"), F.col("ce")))
        .withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("q_id").orderBy(F.asc("dist"), F.asc("centroid_id"))
            ),
        )
        .where(F.col("rn") <= nprobe)
        .select("q_id", "qe", F.col("centroid_id").alias("list_id"))
    )
    cand = probes.join(c, "list_id")  # probe only the selected inverted lists
    scored = cand.withColumn("cos", pair_cos_pandas()(F.col("qe"), F.col("ce")))
    w = W.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("q_id", "neighbor_id", "cos")
    )


def write_ivf_index(
    emb: DataFrame,
    out_dir: str,
    n_lists: int = 20,
    train_fraction: float = 1.0,
    seed: int = 7,
) -> str:
    """Materialize the at-scale IVF layout: the candidate table written
    `partitionBy("list_id")` (one directory per inverted list) plus the
    centroid set. Training: k-means on a SAMPLE of the vectors
    (`train_fraction` — centroid quality needs a representative sample,
    not the corpus; at 100 TB you train on ~1e6 rows and assign all), then
    one full assignment pass. Probes against this layout prune whole
    list_id partitions at planning time — PartitionFilters, plan-guarded
    in tests/test_plans.py."""
    e = emb.select("vec_id", _as_double(F.col("embedding")).alias("e"))
    train = e.sample(train_fraction, seed=seed) if train_fraction < 1.0 else e
    centroids = kmeans_centroids(train, n_clusters=n_lists, seed=seed)
    assigned = ivf_assign(e, centroids)
    assigned.select("vec_id", "e", "list_id").write.mode("overwrite").partitionBy(
        "list_id"
    ).parquet(f"{out_dir}/lists")
    centroids.write.mode("overwrite").parquet(f"{out_dir}/centroids")
    return out_dir


def ivf_topk_indexed(
    spark, index_dir: str, queries: DataFrame, k: int = 10, nprobe: int = 3
) -> DataFrame:
    """Probe the MATERIALIZED IVF index: each query's `nprobe` nearest
    centroids (broadcast centroid set) yield a probed-list set of at most
    n_queries × nprobe ids — collected driver-side (bounded by
    construction) and turned into a STATIC `list_id IN (...)` predicate,
    so the parquet scan reads only the probed inverted-list directories
    and prunes the rest at planning time. queries: (q_id, qe
    array<double>)."""
    centroids = spark.read.parquet(f"{index_dir}/centroids")
    # persisted (via the LRU + registry-drain lifecycle): the tiny probes
    # frame (≤ n_queries × nprobe rows) feeds BOTH the driver-side
    # probe-id collect and the scored join's left side — unpersisted, the
    # centroid crossJoin + window executed twice (round-6 review: the
    # repeated-subtree class the plan audits flag)
    from .dedup import persist_evicting

    probes = persist_evicting(
        queries.crossJoin(F.broadcast(centroids))
        .withColumn("dist", _sq_dist(F.col("qe"), F.col("ce")))
        .withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("q_id").orderBy(F.asc("dist"), F.asc("centroid_id"))
            ),
        )
        .where(F.col("rn") <= nprobe)
        .select("q_id", "qe", F.col("centroid_id").alias("list_id"))
    )
    probe_ids = sorted(
        r["list_id"] for r in probes.select("list_id").distinct().collect()
    )
    lists = (
        spark.read.parquet(f"{index_dir}/lists")
        .where(F.col("list_id").isin(probe_ids))
        .join(
            F.broadcast(queries.select(F.col("q_id").alias("vec_id"))),
            "vec_id",
            "left_anti",  # queries are not their own neighbors
        )
        .select(F.col("vec_id").alias("neighbor_id"), F.col("e").alias("ce"), "list_id")
    )
    scored = probes.join(lists, "list_id").withColumn(
        "cos", pair_cos_pandas()(F.col("qe"), F.col("ce"))
    )
    w = W.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("q_id", "neighbor_id", "cos")
    )


def lsh_topk(
    emb: DataFrame, n_queries: int = 5, k: int = 10, probe_hamming: int = 2, dim: int = 64
) -> DataFrame:
    """Approximate top-k: candidates whose bucket is within probe_hamming
    bits of the query's bucket. bit_count is a native expression, so the
    bucket filter runs JVM-side before any dot product."""
    b = with_lsh_bucket(emb, dim)
    e = b.select("vec_id", "bucket", _as_double(F.col("embedding")).alias("e"))
    q = e.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("q_id"), F.col("bucket").alias("qb"), F.col("e").alias("qe")
    )
    c = e.where(F.col("vec_id") >= n_queries).select(
        F.col("vec_id").alias("neighbor_id"), F.col("bucket").alias("cb"), F.col("e").alias("ce")
    )
    cand = c.crossJoin(F.broadcast(q)).where(
        F.bit_count(F.col("cb").bitwiseXOR(F.col("qb"))) <= probe_hamming
    )
    # native bit_count prune stays JVM-side; only survivors pay the
    # Arrow-batched exact-cosine scoring
    scored = cand.withColumn("cos", pair_cos_pandas()(F.col("qe"), F.col("ce")))
    w = W.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("q_id", "neighbor_id", "cos")
    )


# ---- SemDeDup-style semantic dedup ------------------------------------------
# Semantic (embedding-space) dedup per SemDeDup (Abbas et al. 2023,
# arXiv:2303.09540): k-means the corpus into clusters, then find duplicate
# GROUPS within each cluster (pairs at cos >= 1 - eps, transitively closed)
# and keep exactly one representative per group. Differs from the sign-LSH
# near-dup path above in both mechanism (learned coarse quantizer instead
# of random hyperplane bands — near-dups land in one cluster by training,
# not by banding probability) and output (group membership + keep decision,
# not a pair list). Complements, not replaces, embedding_near_dup_pairs:
# SemDeDup's recall depends on cluster assignment putting near-dups
# together, which the paper accepts by sizing n_clusters so clusters stay
# small; the LSH path has quantified per-band recall instead.
#
# Scale shape (the paper's own strategy, re-expressed Spark-first): k-means
# trains on a sample (kmeans_centroids / write_ivf_index's train_fraction
# argument shows the pattern); assignment is ONE Arrow matmul pass over the
# corpus (ivf_assign, linear); the per-cluster scan is one shuffle of the
# corpus hash-partitioned on list_id followed by a streaming mapInPandas
# union-find — per-cluster cost is O(k^2) in CLUSTER size, which
# n_clusters ~ N / target_cluster_size holds constant, and a cluster that
# exceeds `max_cluster` passes through UN-deduped (no silent data loss)
# and is surfaced via semantic_oversized_clusters, mirroring the
# MAX_BUCKET + oversized-report contract of the MinHash and LSH paths.

SEM_MAX_CLUSTER = 8192


def semantic_dedup(
    vecs: DataFrame,
    n_clusters: int = 20,
    eps: float = 0.04,
    max_cluster: int = SEM_MAX_CLUSTER,
    centroids: DataFrame | None = None,
    train_fraction: float = 1.0,
) -> DataFrame:
    """(vec_id, e) -> (vec_id, list_id, group_rep, keep).

    group_rep: min vec_id of the vector's duplicate group within its
    cluster (vectors with no duplicate are their own singleton group).
    keep: SemDeDup's representative choice — within each group keep the
    ONE vector with the LOWEST cosine similarity to its cluster centroid
    (the paper keeps low-centroid-similarity examples to preserve
    diversity), ties broken by min vec_id. Oversized clusters
    (> max_cluster) pass through as all-singleton / all-keep.

    Deterministic end to end: seed-pinned k-means (or caller-supplied
    centroids), first-min argmin assignment, exact float64 in-cluster
    matmul, order-independent union-find (edges applied from a sorted
    pair list).

    train_fraction < 1.0 fits the quantizer on a seed-pinned SAMPLE and
    assigns the full corpus — the at-scale pattern (write_ivf_index does
    the same): centroid quality needs a representative sample, not the
    corpus; at 100 TB you train on ~1e6 rows and run one assignment
    pass over everything."""
    from pyspark.sql.types import (
        BooleanType,
        LongType,
        StructField,
        StructType,
    )

    if centroids is None:
        train = (
            vecs.sample(train_fraction, seed=7) if train_fraction < 1.0 else vecs
        )
        centroids = kmeans_centroids(train, n_clusters=n_clusters)
    assigned = ivf_assign(vecs, centroids)

    # centroid matrix into the worker closure: n_clusters rows,
    # driver-bounded by construction (the same bound ivf_assign relies on)
    crows = sorted(
        centroids.select("centroid_id", "ce").collect(),
        key=lambda r: r["centroid_id"],
    )
    c_by_id = {
        int(r["centroid_id"]): np.asarray(r["ce"], dtype=np.float64) for r in crows
    }
    threshold = 1.0 - eps

    def dedup_cluster(ids, M, list_id):
        """Union-find over the thresholded cosine graph of ONE cluster,
        then the SemDeDup keep rule. ids ascending (sorted upstream)."""
        k = len(ids)
        order = np.argsort(ids, kind="stable")
        ids, M = ids[order], M[order]
        parent = np.arange(k)

        def find(i):
            while parent[i] != i:
                parent[i] = parent[parent[i]]
                i = parent[i]
            return i

        if k > 1:
            nrm = np.sqrt(np.einsum("ij,ij->i", M, M))
            nrm[nrm == 0.0] = 1.0
            G = (M @ M.T) / np.outer(nrm, nrm)
            ia, ib = np.triu_indices(k, 1)
            hit = G[ia, ib] >= threshold
            # ia < ib and ids ascending: union toward the smaller index
            for a, b in zip(ia[hit], ib[hit]):
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
        roots = np.array([find(i) for i in range(k)])
        group_rep = ids[roots]
        ce = c_by_id.get(int(list_id))
        if ce is None or k == 1:
            keep = np.ones(k, dtype=bool)
        else:
            cnrm = float(np.sqrt(ce @ ce)) or 1.0
            nrm = np.sqrt(np.einsum("ij,ij->i", M, M))
            nrm[nrm == 0.0] = 1.0
            sim_c = (M @ ce) / (nrm * cnrm)
            keep = np.zeros(k, dtype=bool)
            for r in np.unique(roots):
                members = np.flatnonzero(roots == r)
                # lowest centroid similarity wins; ties -> min vec_id,
                # which is members' first element (ids ascending)
                best = members[np.argmin(np.round(sim_c[members], 12))]
                keep[best] = True
        return ids, group_rep, keep

    def scan(batches):
        # clusters are contiguous runs (hash-partitioned + sorted on
        # list_id); carry the open tail cluster across Arrow batches —
        # same streaming-run shape as _bucket_scan_factory
        carry_lid = None
        carry_ids = None
        carry_vs = None
        carry_over = False

        def emit(lid, ids, M, oversized):
            if oversized:
                return pd.DataFrame(
                    {
                        "vec_id": ids,
                        "list_id": np.full(len(ids), lid, dtype=np.int64),
                        "group_rep": ids,
                        "keep": np.ones(len(ids), dtype=bool),
                    }
                )
            ids2, reps, keep = dedup_cluster(ids, M, lid)
            return pd.DataFrame(
                {
                    "vec_id": ids2,
                    "list_id": np.full(len(ids2), lid, dtype=np.int64),
                    "group_rep": reps,
                    "keep": keep,
                }
            )

        for pdf in batches:
            if len(pdf) == 0:
                continue
            lids = pdf["list_id"].to_numpy()
            ids = pdf["vec_id"].to_numpy()
            M = np.vstack(pdf["e"].to_numpy())
            starts = np.flatnonzero(np.r_[True, lids[1:] != lids[:-1]])
            ends = np.r_[starts[1:], len(lids)]
            out = []
            for s, e in zip(starts, ends):
                lid = lids[s]
                if carry_lid is not None and lid == carry_lid:
                    carry_ids = np.concatenate([carry_ids, ids[s:e]])
                    if not carry_over:
                        carry_vs = np.vstack([carry_vs, M[s:e]])
                        if len(carry_ids) > max_cluster:
                            carry_over, carry_vs = True, None
                else:
                    if carry_lid is not None:
                        out.append(
                            emit(carry_lid, carry_ids, carry_vs, carry_over)
                        )
                    carry_lid, carry_ids = lid, ids[s:e]
                    carry_over = (e - s) > max_cluster
                    carry_vs = None if carry_over else M[s:e]
            if out:
                yield pd.concat(out, ignore_index=True)
        if carry_lid is not None:
            yield emit(carry_lid, carry_ids, carry_vs, carry_over)

    schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("list_id", LongType()),
            StructField("group_rep", LongType()),
            StructField("keep", BooleanType()),
        ]
    )
    return (
        assigned.select("vec_id", "list_id", "e")
        .repartition("list_id")
        .sortWithinPartitions("list_id", "vec_id")
        .mapInPandas(scan, schema)
    )


def semantic_oversized_clusters(
    assigned: DataFrame, max_cluster: int = SEM_MAX_CLUSTER
) -> DataFrame:
    """(list_id, n_vectors) for clusters semantic_dedup passed through
    un-deduped — the no-silent-truncation report. `assigned` is
    ivf_assign's output (or semantic_dedup's, which carries list_id)."""
    return (
        assigned.groupBy("list_id")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
        .where(F.col("n_vectors") > max_cluster)
        .orderBy(F.desc("n_vectors"), F.asc("list_id"))
    )


def semantic_oracle_sql(table: str = "embeddings", eps: float = 0.04) -> str:
    """DuckDB twin of the graded semantic_dedup query: same planted
    variants as dedup_embedding (vec_id + 10000, e*1.01 + 0.001), same
    deterministic stride centroids (vec_id % 25 == 0 of the ORIGINAL
    table — never the augmented one, or each centroid would have a
    near-parallel variant twin and the argmin would sit on a knife edge),
    same assignment score (argmin ||c||^2/2 - x.c, ties to lowest
    centroid_id), same in-cluster cosine graph at threshold 1.0 - eps
    (written as the expression, not the decimal literal, so both engines
    evaluate the identical float64), connected components via recursive
    min-label propagation (= the kernel's union-find toward the smaller
    index over ascending vec_ids), and SemDeDup's keep rule: per
    (list_id, group_rep) the row with MIN round(centroid-cosine, 12),
    ties to min vec_id. Exactness argument is dedup_embedding's: both
    engines do float64 arithmetic from identical inputs; comparison
    boundaries (argmin margins, the 0.96 threshold, the round-12 keep
    order) sit far from ULP distance for this corpus."""
    thr = f"1.0 - {eps}"
    return f"""WITH RECURSIVE aug AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM {table}
  UNION ALL
  SELECT vec_id + 10000,
         list_transform(CAST(embedding AS DOUBLE[]), x -> x * 1.01 + 0.001)
  FROM {table} WHERE vec_id % 10 = 0),
cent AS (
  SELECT vec_id AS centroid_id, CAST(embedding AS DOUBLE[]) AS ce
  FROM {table} WHERE vec_id % 25 = 0),
scored AS (
  SELECT a.vec_id, a.e, c.centroid_id, c.ce,
         0.5 * list_dot_product(c.ce, c.ce) - list_dot_product(a.e, c.ce)
           AS score
  FROM aug a CROSS JOIN cent c),
assigned AS (
  SELECT vec_id, e, centroid_id AS list_id, ce
  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY score ASC, centroid_id ASC) AS rn
        FROM scored)
  WHERE rn = 1),
edges AS (
  SELECT a.vec_id AS u, b.vec_id AS v
  FROM assigned a JOIN assigned b
    ON a.list_id = b.list_id AND a.vec_id < b.vec_id
  WHERE list_cosine_similarity(a.e, b.e) >= {thr}),
sym AS (SELECT u, v FROM edges UNION ALL SELECT v AS u, u AS v FROM edges),
reach(vec_id, lbl) AS (
  SELECT vec_id, vec_id FROM assigned
  UNION
  SELECT s.u, r.lbl FROM reach r JOIN sym s ON s.v = r.vec_id),
lab AS (SELECT vec_id, min(lbl) AS group_rep FROM reach GROUP BY vec_id),
simc AS (
  SELECT a.vec_id, a.list_id, l.group_rep,
         round(list_cosine_similarity(a.e, a.ce), 12) AS sim_c
  FROM assigned a JOIN lab l USING (vec_id))
SELECT vec_id, list_id, group_rep,
       (row_number() OVER (PARTITION BY list_id, group_rep
                           ORDER BY sim_c ASC, vec_id ASC) = 1) AS keep
FROM simc"""
