"""Vector-similarity operators over ``array<float>`` embedding columns.

The reference's latent-factor tables (``(id, features: array<float>)``, ALS
rank 10-150 — SURVEY §1.1.3) generalize to the ``embeddings`` test table. Two
paths, per the standard ANN playbook:

- **Brute-force top-k** (:func:`cosine_topk`): broadcast the (small) query set
  against the full corpus; exact. Per-row work is a fused JVM higher-order
  expression (zip_with/aggregate), no Python. At 100 TB this is the *verifier*
  and the small-query-set path — cost |Q|·|corpus|, embarrassingly parallel,
  zero shuffle beyond the final per-query top-k.
- **LSH-bucketed** (:func:`brp_lsh_neighbors`) and **IVF-style coarse
  quantization** (:func:`ivf_topk`): candidate generation via bucket equi-join
  so each query only scores a partition of the corpus.

Dot products run on doubles (exact float32 widening) and fold left-to-right,
making results bit-reproducible across partitionings and engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..session import local_frame


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ in double precision, sequential fold (deterministic)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column, scale: int | None = 6) -> Column:
    c = dot(a, b) / F.nullif(l2_norm(a) * l2_norm(b), F.lit(0.0))
    return F.round(c, scale) if scale is not None else c


def with_norm(df: DataFrame, vec_col: str = "embedding",
              norm_col: str = "_norm") -> DataFrame:
    """Precompute norms once — brute-force scoring then pays one dot per pair."""
    return df.withColumn(norm_col, l2_norm(F.col(vec_col)))


def semantic_neardup_survivors(df: DataFrame, centroids: DataFrame,
                               threshold: float = 0.3,
                               id_col: str = "vec_id",
                               vec_col: str = "embedding") -> DataFrame:
    """SemDeDup (Abbas et al. 2023, public paper): cluster-then-dedup.
    Assign every vector to its nearest centroid (``ml/kmeans.assign`` —
    broadcast argmin, zero corpus shuffle), compute exact cosine pairs ONLY
    within each cluster, and keep the lowest-id representative of every
    near-dup pair. Returns the surviving (id, cid) rows.

    Why this scales where q41's all-pairs tier doesn't: the pair space
    shrinks from n² to Σᵢ|clusterᵢ|² — with k chosen ∝ corpus size the
    per-cluster block stays bounded, so the self-join (one shuffle on cid
    per side) never goes quadratic in the corpus. The greedy min-id keep
    rule is the paper's policy and, unlike connected-component resolution
    (q64), needs no iteration: survivors = ids never appearing as the
    HIGHER id of an above-threshold pair — one anti-join.

    Cosine is compared on the ROUNDED value (scale 6) so the keep-set is
    reproducible cross-engine (the q132 oracle recomputes it in DuckDB).
    The within-cluster pair scoring is one numpy matmul per cluster group
    (``applyInPandas`` — the q41-blocked-tier lesson: Spark higher-order
    functions are interpreted per element, ~100× slower than BLAS for dense
    pair math; the expression form of this operator measured 18 s at sf0.1
    where this one measures ~5 s, most of it assignment + Python-worker
    fixed cost). Memory per task is one cluster's |c|×d matrix — bounded
    when k grows ∝ corpus.

    ``centroids``: (cid, cvec) — deterministic by construction here; a real
    pipeline feeds ``kmeans.lloyd``'s fitted centroids."""
    import numpy as np
    import pandas as pd

    from ..ml import kmeans

    assigned = kmeans.assign(df.select(id_col, vec_col), centroids,
                             id_col=id_col, vec_col=vec_col)

    def drop_in_cluster(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col)
        V = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
        V /= np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-12)
        sim_mask = np.round(V @ V.T, 6) >= threshold
        dropped = np.triu(sim_mask, k=1).any(axis=0)
        return pd.DataFrame({id_col: pdf[id_col].to_numpy()[dropped]})

    dropped = (assigned.select(id_col, vec_col, "cid")
               .groupBy("cid")
               .applyInPandas(drop_in_cluster, schema=f"{id_col} long"))
    return (assigned.join(dropped, id_col, "left_anti")
            .select(id_col, "cid"))


def cosine_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
                id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Exact cosine top-k: broadcast queries ⨯ corpus → per-query top-k window.

    Output: (query_id, neighbor_id, cosine_sim), self-matches excluded,
    ties broken by neighbor_id ascending (total order → deterministic)."""
    c = with_norm(corpus.select(F.col(id_col).alias("n_id"),
                                F.col(vec_col).alias("n_vec")), "n_vec", "n_norm")
    q = with_norm(queries.select(F.col(id_col).alias("query_id"),
                                 F.col(vec_col).alias("q_vec")), "q_vec", "q_norm")
    scored = (
        c.join(F.broadcast(q), F.col("n_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("n_id").alias("neighbor_id"),
            F.round(dot(F.col("q_vec"), F.col("n_vec")) /
                    F.nullif(F.col("q_norm") * F.col("n_norm"), F.lit(0.0)),
                    6).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine_sim").desc(),
                                               F.col("neighbor_id").asc())
    return (scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= k).drop("rn"))


def rrf_fuse(sparse: DataFrame, dense: DataFrame, k0: int = 60,
             k: int = 10, id_col: str = "doc_id",
             scale: int = 6) -> DataFrame:
    """Reciprocal-rank fusion of two retrieval lists — the standard
    score-free hybrid combiner (Cormack/Clarke/Büttcher, SIGIR'09):
    rrf(d) = Σ_lists 1/(k0 + rank_d), summed over the lists that
    retrieved ``d``. Score-free matters operationally: BM25 scores and
    cosines live on incomparable scales, ranks don't.

    Inputs are (query_id, ``id_col``, rank) frames — rank 1 = best.
    Per-query candidate lists are top-k sized (tiny), so the full-outer
    merge on (query_id, id) shuffles only candidate rows, never a
    corpus; at 100 TB the upstream retrievers bound everything.

    Determinism: each 1/(k0+rank) contribution is IEEE division of
    exact integers rounded to ``scale`` decimals, the pairwise sum is
    exact DECIMAL, ties break on ascending id. Returns
    (query_id, rank, id, sparse_rank, dense_rank, rrf_score)."""
    s = sparse.select("query_id", id_col, F.col("rank").alias("sparse_rank"))
    d = dense.select("query_id", id_col, F.col("rank").alias("dense_rank"))
    j = s.join(d, ["query_id", id_col], "full_outer")

    def contrib(rank_col: Column) -> Column:
        val = F.round(F.lit(1.0) / (F.lit(k0) + rank_col), scale)
        return F.coalesce(val.cast(f"decimal(18,{scale})"),
                          F.lit(0).cast(f"decimal(18,{scale})"))

    fused = j.withColumn(
        "rrf_score",
        (contrib(F.col("sparse_rank"))
         + contrib(F.col("dense_rank"))).cast("double"))
    w = Window.partitionBy("query_id").orderBy(F.desc("rrf_score"),
                                               F.asc(id_col))
    return (fused.withColumn("rank", F.row_number().over(w))
                 .filter(F.col("rank") <= k)
                 .select("query_id", "rank", id_col, "sparse_rank",
                         "dense_rank", "rrf_score"))


def cosine_neardup_pairs(df: DataFrame, threshold: float = 0.95,
                         id_col: str = "vec_id",
                         vec_col: str = "embedding") -> DataFrame:
    """Embedding-cosine near-duplicate pairs (a<b) above ``threshold``.

    Brute-force all-pairs — the exactness baseline. The 100 TB path is
    :func:`brp_lsh_neighbors` (bucketed candidates) with this as verifier on
    candidate pairs only."""
    a = with_norm(df.select(F.col(id_col).alias("a"), F.col(vec_col).alias("a_vec")),
                  "a_vec", "a_norm")
    b = with_norm(df.select(F.col(id_col).alias("b"), F.col(vec_col).alias("b_vec")),
                  "b_vec", "b_norm")
    return (
        a.join(b, F.col("a") < F.col("b"))
        .select("a", "b",
                F.round(dot(F.col("a_vec"), F.col("b_vec")) /
                        F.nullif(F.col("a_norm") * F.col("b_norm"), F.lit(0.0)),
                        6).alias("cosine_sim"))
        .filter(F.col("cosine_sim") >= threshold)
    )


def cosine_neardup_pairs_blas(df: DataFrame, threshold: float = 0.95,
                              id_col: str = "vec_id",
                              vec_col: str = "embedding") -> DataFrame:
    """BLAS-accelerated all-pairs cosine near-dup: broadcast the full corpus
    as one dense float64 matrix, stream corpus partitions through a matrix
    multiply, emit only (a < b, sim ≥ threshold) pairs.

    Why not the expression path: Spark higher-order functions (zip_with/
    aggregate) are interpreted per-element, ~100× slower than BLAS for dense
    float math. One Arrow batch crossing per partition + vendored numpy matmul
    is the idiomatic Spark shape for dense linear algebra.

    Scale bound: the broadcast matrix is n×d float64 (8·n·d bytes) — fine to
    ~10⁶×64 (0.5 GB/executor). Past that, candidate-generate with
    :func:`brp_lsh_neighbors`/:func:`ivf_topk` and use this only to verify
    candidate pairs."""
    import numpy as np

    rows = df.select(id_col, vec_col).collect()
    ids = np.fromiter((r[0] for r in rows), dtype=np.int64, count=len(rows))
    M = np.asarray([r[1] for r in rows], dtype=np.float64)
    M /= np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
    bc = df.sparkSession.sparkContext.broadcast((ids, M))

    def part(it):
        import pandas as pd

        b_ids, B = bc.value
        for pdf in it:
            A = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
            A /= np.maximum(np.linalg.norm(A, axis=1, keepdims=True), 1e-12)
            a_ids = pdf[id_col].to_numpy()
            S = A @ B.T
            ai, bj = np.nonzero((S >= threshold) & (a_ids[:, None] < b_ids[None, :]))
            if len(ai):
                yield pd.DataFrame({
                    "a": a_ids[ai],
                    "b": b_ids[bj],
                    "cosine_sim": np.round(S[ai, bj], 6),
                })

    return df.mapInPandas(part, schema="a bigint, b bigint, cosine_sim double")


def cosine_neardup_pairs_blocked(df: DataFrame, threshold: float = 0.95,
                                 id_col: str = "vec_id",
                                 vec_col: str = "embedding",
                                 n_blocks: int = 8) -> DataFrame:
    """Exact all-pairs cosine near-dup, distributed block nested-loop — the
    no-driver-collect form of :func:`cosine_neardup_pairs_blas`.

    Rows are hashed into ``n_blocks`` blocks; every unordered block pair
    (xb ≤ yb) becomes one task that multiplies its two sub-matrices with
    numpy (Arrow-batched, float64) and emits only (a < b, sim ≥ threshold)
    pairs. Nothing is collected to the driver and no full matrix is
    broadcast: the corpus is shuffled ~``n_blocks``× (each block joins
    ``n_blocks`` partners), so cost is O(n·b) network + O(n²·d / b²) compute
    per task — pick b ≈ √cores for local, larger for clusters so each block
    fits executor memory.

    Still quadratic compute overall — at 100 TB this is the VERIFIER tier run
    on LSH/IVF candidate buckets, not the whole corpus; it exists so the
    exactness baseline itself never bottlenecks on the driver."""
    import numpy as np

    base = df.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("vec"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).cast("int").alias("blk"))
    grouped = base.groupBy("blk").agg(
        F.collect_list(F.struct("id", "vec")).alias("rows"))
    x = grouped.select(F.col("blk").alias("xb"), F.col("rows").alias("xr"))
    y = grouped.select(F.col("blk").alias("yb"), F.col("rows").alias("yr"))
    pairs = (x.join(y, F.col("xb") <= F.col("yb"))
             .repartition(max(2, n_blocks * (n_blocks + 1) // 2), "xb", "yb"))

    def part(it):
        import pandas as pd

        def unpack(cell):
            ids = np.fromiter((r["id"] for r in cell), dtype=np.int64,
                              count=len(cell))
            M = np.asarray([r["vec"] for r in cell], dtype=np.float64)
            M /= np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
            return ids, M

        for pdf in it:
            for xb, yb, xr, yr in zip(pdf["xb"], pdf["yb"], pdf["xr"], pdf["yr"]):
                a_ids, A = unpack(xr)
                b_ids, B = unpack(yr)
                S = A @ B.T
                if xb == yb:
                    # diagonal block: dedupe/self-exclude via strict order
                    mask = (S >= threshold) & (a_ids[:, None] < b_ids[None, :])
                else:
                    # off-diagonal: every cross pair appears exactly once
                    # (block pairs are unordered, xb < yb) — canonicalize
                    # each hit to (min_id, max_id) regardless of which side
                    # the smaller id landed on.
                    mask = S >= threshold
                ai, bj = np.nonzero(mask)
                if len(ai):
                    lhs, rhs = a_ids[ai], b_ids[bj]
                    yield pd.DataFrame({
                        "a": np.minimum(lhs, rhs),
                        "b": np.maximum(lhs, rhs),
                        "cosine_sim": np.round(S[ai, bj], 6),
                    })

    return pairs.mapInPandas(part, schema="a bigint, b bigint, cosine_sim double")


def brp_lsh_candidate_pairs(df: DataFrame, id_col: str = "vec_id",
                            vec_col: str = "embedding",
                            bucket_length: float = 2.0, num_tables: int = 4,
                            seed: int = 42,
                            max_bucket_size: int = 1000) -> DataFrame:
    """Candidate (a < b) id pairs from bucketed-random-projection LSH, with a
    HARD per-bucket work bound.

    ``pyspark.ml``'s ``approxSimilarityJoin`` provides no control over bucket
    population: one unlucky projection on clustered data puts most of the
    corpus in one bucket and the candidate join silently goes quadratic
    (VERDICT r3: q59 7× regression from exactly this hypersensitivity). Here
    the ml model supplies ONLY the seeded projections; the candidate join is
    explicit DataFrame ops with a cap:

    1. hash each vector into its ``num_tables`` buckets (model.transform);
    2. count bucket populations, DROP buckets over ``max_bucket_size`` — an
       over-full bucket means that projection does not discriminate on this
       data, so its pairs are the least informative candidates (standard LSH
       practice; close pairs stay recallable through the other tables);
    3. self-join only within surviving buckets, dedup to distinct (a < b).

    Candidate count is therefore ≤ Σ_buckets C(size,2) with every size ≤ cap
    — at most ``num_tables · n/2 · max_bucket_size`` pairs, NEVER quadratic
    in the corpus (asserted in tests/test_similarity_tiers.py)."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector, vector_to_array

    vecs = df.select(F.col(id_col).alias("id"),
                     array_to_vector(F.col(vec_col)).alias("features"))
    lsh = BucketedRandomProjectionLSH(inputCol="features", outputCol="hashes",
                                      bucketLength=bucket_length,
                                      numHashTables=num_tables, seed=seed)
    model = lsh.fit(vecs)
    hashed = (model.transform(vecs)
              .select("id", F.posexplode("hashes").alias("t", "h"))
              .select("id", "t",
                      vector_to_array("h")[0].cast("long").alias("bucket")))
    ok_buckets = (hashed.groupBy("t", "bucket")
                  .agg(F.count(F.lit(1)).alias("n"))
                  .filter(F.col("n") <= max_bucket_size)
                  .select("t", "bucket"))
    member = hashed.join(ok_buckets, ["t", "bucket"])
    a = member.select("t", "bucket", F.col("id").alias("a"))
    b = member.select("t", "bucket", F.col("id").alias("b"))
    return (a.join(b, ["t", "bucket"])
            .filter(F.col("a") < F.col("b"))
            .select("a", "b").distinct())


def brp_lsh_neighbors(df: DataFrame, threshold_l2: float, id_col: str = "vec_id",
                      vec_col: str = "embedding", bucket_length: float = 2.0,
                      num_tables: int = 4, seed: int = 42,
                      max_bucket_size: int = 1000) -> DataFrame:
    """Approximate L2-neighbor pairs via bucketed random projections: docs
    only meet when they share a projection bucket, and bucket work is capped
    (see :func:`brp_lsh_candidate_pairs`). Exact L2 is computed only on the
    bounded candidate set — verify-the-candidates, the same tier layout as
    every dedup operator. Seeded; rows-only harness check (hash-specific)."""
    pairs = brp_lsh_candidate_pairs(df, id_col, vec_col, bucket_length,
                                    num_tables, seed, max_bucket_size)
    slim_a = df.select(F.col(id_col).alias("a"), F.col(vec_col).alias("a_vec"))
    slim_b = df.select(F.col(id_col).alias("b"), F.col(vec_col).alias("b_vec"))
    diff2 = F.zip_with("a_vec", "b_vec",
                       lambda x, y: (x.cast("double") - y.cast("double"))
                       * (x.cast("double") - y.cast("double")))
    dist = F.sqrt(F.aggregate(diff2, F.lit(0.0), lambda acc, x: acc + x))
    return (pairs.join(slim_a, "a").join(slim_b, "b")
            .withColumn("l2_dist", F.round(dist, 6))
            .filter(F.col("l2_dist") <= threshold_l2)
            .select("a", "b", "l2_dist"))


def ivf_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
             n_cells: int = 16, n_probe: int = 4, id_col: str = "vec_id",
             vec_col: str = "embedding", seed: int = 42,
             init_mode: str = "random", max_iter: int = 4) -> DataFrame:
    """IVF-style ANN: KMeans coarse quantizer assigns corpus vectors to cells;
    each query scores only its ``n_probe`` nearest cells' vectors.

    Plan: centroids broadcast (tiny), corpus gets a cell id at scan time (can
    be persisted/bucketed once), query→candidate join is an equi-join on
    cell id — |corpus|/n_cells · n_probe work per query instead of |corpus|."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    corp = corpus.select(F.col(id_col).alias("n_id"), F.col(vec_col).alias("n_vec"),
                         array_to_vector(F.col(vec_col)).alias("features"))
    # Coarse quantizer: cell assignment only needs rough centroids — random
    # init + few Lloyd iterations, the FAISS-IVF convention. The default
    # k-means|| init is itself several full passes over the corpus and
    # dominated this operator's fit time for no recall benefit at the
    # coarse-partitioning level (recall is pinned in
    # tests/test_similarity_tiers.py::test_ivf_recall_vs_brute_force).
    km = KMeans(k=n_cells, seed=seed, maxIter=max_iter, initMode=init_mode,
                featuresCol="features", predictionCol="cell")
    model = km.fit(corp)
    corp_cells = with_norm(model.transform(corp).select("n_id", "n_vec", "cell"),
                           "n_vec", "n_norm")

    # Broadcast centroids to the query side, pick n_probe nearest cells each.
    centroids = [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())]
    spark = corpus.sparkSession
    cent_df = local_frame(spark, centroids, "cell int, c_vec array<double>")
    q = with_norm(queries.select(F.col(id_col).alias("query_id"),
                                 F.col(vec_col).alias("q_vec")), "q_vec", "q_norm")
    qc = (
        q.join(F.broadcast(cent_df))
        .withColumn("c_dist", -dot(F.col("q_vec"), F.col("c_vec")))
    )
    wq = Window.partitionBy("query_id").orderBy(F.col("c_dist").asc(), F.col("cell").asc())
    probes = (qc.withColumn("rn", F.row_number().over(wq))
              .filter(F.col("rn") <= n_probe)
              .select("query_id", "q_vec", "q_norm", "cell"))

    scored = (
        corp_cells.join(F.broadcast(probes), "cell")
        .filter(F.col("n_id") != F.col("query_id"))
        .select("query_id", F.col("n_id").alias("neighbor_id"),
                F.round(dot(F.col("q_vec"), F.col("n_vec")) /
                        F.nullif(F.col("q_norm") * F.col("n_norm"), F.lit(0.0)),
                        6).alias("cosine_sim"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine_sim").desc(),
                                               F.col("neighbor_id").asc())
    return (scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= k).drop("rn"))


def quantize_int8(df: DataFrame, vec_col: str = "embedding",
                  out_col: str = "qvec") -> DataFrame:
    """Symmetric per-vector int8 quantization: scale = max|v|, component
    q_i = floor(v_i·127/scale) ∈ [-127, 127] (zero vectors quantize to
    zeros). 4× smaller than float32 — at 100 TB that is 4× less candidate
    traffic through every ANN shuffle and broadcast, and the integer dot
    products downstream are EXACT, so rankings are deterministic and
    cross-engine reproducible (no float summation-order effects).

    floor (not round) on purpose: round-half cases resolve differently
    across engines; floor of the correctly-rounded double ``v·127/m`` is
    bit-reproducible everywhere."""
    v = F.col(vec_col)
    m = F.array_max(F.transform(v, lambda x: F.abs(x)))
    q = F.when(m == 0, F.transform(v, lambda x: F.lit(0).cast("long"))) \
        .otherwise(F.transform(
            v, lambda x: F.floor(x * F.lit(127.0) / m).cast("long")))
    return df.withColumn(out_col, q)


def quantized_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
                   id_col: str = "vec_id",
                   vec_col: str = "embedding") -> DataFrame:
    """Top-k neighbors by EXACT int8-quantized dot product — the
    quantized-candidate tier of a vector-search stack: corpus and queries
    quantize once (4× lighter), candidates rank by an integer dot product
    (exact, associative, engine-independent), and only the final k per
    query would be re-scored at full precision in production.

    Output: (query_id, neighbor_id, rank, qdot) with (qdot desc, id asc)
    ordering — fully deterministic. Broadcast queries; corpus never
    shuffles (the per-query top-k window partitions by query)."""
    qc = quantize_int8(corpus, vec_col).select(
        F.col(id_col).alias("n_id"), F.col("qvec").alias("n_q"))
    qq = quantize_int8(queries, vec_col).select(
        F.col(id_col).alias("query_id"), F.col("qvec").alias("q_q"))
    qdot = F.aggregate(
        F.zip_with("q_q", "n_q", lambda a, b: a * b),
        F.lit(0).cast("long"), lambda acc, x: acc + x)
    scored = (qc.join(F.broadcast(qq), F.col("n_id") != F.col("query_id"))
              .select("query_id", F.col("n_id").alias("neighbor_id"),
                      qdot.alias("qdot")))
    w = Window.partitionBy("query_id").orderBy(F.col("qdot").desc(),
                                               F.col("neighbor_id").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "rank", "qdot"))


def hard_negatives(emb: DataFrame, docs: DataFrame, probes: DataFrame,
                   k_dense: int = 20, k_out: int = 10,
                   max_jaccard: float = 0.5, n: int = 3,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   doc_id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """Hard-negative mining for contrastive/embedding training: per probe,
    the documents CLOSEST in embedding space that are NOT textual
    near-duplicates of it. Dense top-``k_dense`` cosine candidates, each
    verified with exact ``n``-gram Jaccard against the probe (the q32
    convention: original-case whitespace tokens, distinct shingles);
    candidates at or above ``max_jaccard`` are positives in disguise
    (paraphrases/copies) and are dropped, the survivors re-rank by
    cosine. This is the pair-mining stage of retrieval-model training —
    negatives that are semantically close but lexically distinct are the
    ones with gradient signal.

    Scale shape: the dense stage is the broadcast-probe × corpus scan
    (q40 tier); the Jaccard verification touches ONLY documents that
    appear in some candidate pair (one semi-join-shaped inner join on
    the distinct candidate ids — candidate-sized, never corpus-sized),
    and each pair's intersection is an in-row ``array_intersect`` of two
    distinct-shingle arrays. Nothing all-pairs, nothing corpus-shaped
    past the dense scan.

    Returns (query_id, hn_rank, neighbor_id, cosine_sim, jaccard),
    ``hn_rank`` 1 = best surviving negative, top ``k_out`` per probe."""
    from ..functions.text import word_shingles, ws_tokens

    cand = cosine_topk(emb, probes, k=k_dense, id_col=id_col,
                       vec_col=vec_col)
    ids = (cand.select(F.col("query_id").alias(doc_id_col))
           .unionByName(cand.select(F.col("neighbor_id").alias(doc_id_col)))
           .distinct())
    sh = (docs.join(ids, doc_id_col)
          .select(F.col(doc_id_col),
                  F.array_distinct(
                      word_shingles(ws_tokens(F.col(text_col)), n))
                   .alias("sh")))
    qa = sh.select(F.col(doc_id_col).alias("query_id"),
                   F.col("sh").alias("q_sh"))
    qb = sh.select(F.col(doc_id_col).alias("neighbor_id"),
                   F.col("sh").alias("n_sh"))
    inter = F.size(F.array_intersect("q_sh", "n_sh"))
    union = F.size("q_sh") + F.size("n_sh") - inter
    jac = F.when(union > 0,
                 F.round(inter / union.cast("double"), 6)) \
           .otherwise(F.lit(0.0))
    verified = (cand.join(qa, "query_id").join(qb, "neighbor_id")
                .withColumn("jaccard", jac)
                .filter(F.col("jaccard") < F.lit(max_jaccard)))
    w = Window.partitionBy("query_id").orderBy(F.col("cosine_sim").desc(),
                                               F.col("neighbor_id").asc())
    return (verified.withColumn("hn_rank", F.row_number().over(w))
            .filter(F.col("hn_rank") <= k_out)
            .select("query_id", "hn_rank", "neighbor_id", "cosine_sim",
                    "jaccard"))


def jl_distortion(emb: DataFrame, out_dim: int = 8,
                  id_col: str = "vec_id", vec_col: str = "embedding",
                  salt: int = 42, scale: int = 4) -> DataFrame:
    """Seeded Johnson-Lindenstrauss random projection with a per-vector
    distortion certificate — the dimensionality-reduction step in front
    of ANN indexing, made ORACLE-CHECKABLE: the ±1 Rademacher projection
    matrix is not sampled but DERIVED from integer hash arithmetic
    (``sign(i,j) = 1 − 2·(bit 15 of ((i·k + j + salt) mod 2³¹)·C
    mod 2³¹)``, the sampling module's multiplicative-mix convention), so
    any engine reproduces the identical matrix and the projection
    becomes exact shared arithmetic instead of an engine-specific RNG
    artifact. Bit 15, not bit 0: with C odd, ``(x·C) mod 2`` IS
    ``x mod 2`` — the low bit of a multiplicative mix is the unmixed
    input parity (a checkerboard, not a Rademacher matrix); the middle
    bits are the scrambled ones.

    Entirely in-row (zero shuffle): each vector folds through the k
    sign rows (O(k·d) per row, whole-stage codegen), and the distortion
    ratio ‖Pv‖²/(k·‖v‖²) — whose expectation is 1 under Rademacher
    projections, the JL guarantee being its concentration — is one
    division of identically-derived doubles.

    Returns (id_col, n2_orig, n2_proj, ratio), all rounded once."""
    vec = F.col(vec_col)
    c = 2_654_435_761

    def sign(i, j):
        h = F.pmod(F.pmod(i * out_dim + j + F.lit(salt),
                          F.lit(1 << 31)) * F.lit(c), F.lit(1 << 31))
        return F.lit(1) - F.lit(2) * F.pmod(F.shiftright(h, 15),
                                            F.lit(2))

    proj = F.transform(
        F.sequence(F.lit(0), F.lit(out_dim - 1)),
        lambda j: F.aggregate(
            F.sequence(F.lit(1), F.size(vec)), F.lit(0.0),
            lambda acc, i: acc + F.element_at(vec, i).cast("double")
            * sign(i, j)))
    n2p = F.aggregate(proj, F.lit(0.0), lambda a, x: a + x * x)
    n2o = F.aggregate(
        F.transform(vec, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0), lambda a, x: a + x)
    return emb.select(
        F.col(id_col),
        F.round(n2o, scale).alias("n2_orig"),
        F.round(n2p, scale).alias("n2_proj"),
        F.round(n2p / (F.lit(float(out_dim)) * n2o), scale)
         .alias("ratio"))


def blocked_cross_cosine(a_df: DataFrame, b_df: DataFrame,
                         scale: int = 4, n_blocks: int = 4) -> DataFrame:
    """Every A x B cosine as a distributed block nested-loop: rows hash
    into ``n_blocks`` per side, every (A-block, B-block) pair is one
    task multiplying its two sub-matrices with numpy (Arrow-batched,
    float64), and ALL pairs are emitted — the cross-corpus sibling of
    :func:`cosine_neardup_pairs_blocked` for consumers like margin
    scoring that need the full candidate relation, not a thresholded
    one. Inputs: ``a_df`` as (src, va), ``b_df`` as (dst, vb). Nothing
    is collected to the driver; compute per task is O(|A||B|d / b²).
    The per-pair HOF fold this replaces measured ~7x slower at 6.25M
    pairs (interpreted, no codegen) — matrix work belongs in numpy."""
    import numpy as np

    def _side(df, id_name, vec_name, blk, rows):
        return (df.select(
                    F.col(id_name), F.col(vec_name),
                    F.pmod(F.xxhash64(id_name), F.lit(n_blocks))
                    .cast("int").alias(blk))
                .groupBy(blk)
                .agg(F.collect_list(
                    F.struct(F.col(id_name).alias("id"),
                             F.col(vec_name).alias("vec"))).alias(rows)))

    blocks = (_side(a_df, "src", "va", "xb", "xr")
              .crossJoin(_side(b_df, "dst", "vb", "yb", "yr"))
              .repartition(max(2, n_blocks * n_blocks), "xb", "yb"))

    def part(it):
        import pandas as pd

        def unpack(cell):
            ids = np.fromiter((r["id"] for r in cell), dtype=np.int64,
                              count=len(cell))
            M = np.asarray([r["vec"] for r in cell], dtype=np.float64)
            M /= np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
            return ids, M

        for pdf in it:
            for xr, yr in zip(pdf["xr"], pdf["yr"]):
                a_ids, A = unpack(xr)
                b_ids, B = unpack(yr)
                S = np.round(A @ B.T, scale)
                yield pd.DataFrame({
                    "src": np.repeat(a_ids, len(b_ids)),
                    "dst": np.tile(b_ids, len(a_ids)),
                    "cos4": S.ravel(),
                })

    return blocks.mapInPandas(
        part, schema="src bigint, dst bigint, cos4 double")


def margin_topk(df: DataFrame, k: int = 4, top_n: int = 25,
                id_col: str = "vec_id", vec_col: str = "embedding"):
    """Margin-based pair mining (Artetxe & Schwenk 2019 — the xSIM /
    LASER bitext-mining criterion): score a candidate pair not by its
    raw cosine but by its RATIO MARGIN over each endpoint's neighbor-
    hood density,

        margin(x, y) = cos(x, y) /
            ((avg_k cos(x, NN_k(x, B)) + avg_k cos(y, NN_k(y, A))) / 2),

    which suppresses hub vectors that are near everything. Sides A / B
    are the even / odd ``id_col`` halves (the two-corpus shape without
    a second fixture table); k = ``k`` nearest neighbors per direction;
    output is the global top ``top_n`` pairs by margin. The denominator
    always divides by 2k — with fewer than k candidates on a side the
    neighborhood sum just has fewer terms (a fixed normalizer, not a
    true mean; both engines and the SQL twin share the convention).

    Exact-parity arithmetic: per-pair cosine rounds to 4 dp at
    creation (numpy in the blocked generator — same empirical parity
    class as the q41 blocked tier), the two k-neighbor sums accumulate
    as DECIMAL (exact — summation order can't drift the hash), and the
    margin is one cast plus two IEEE ops on identical operands, so it
    is bit-identical on any engine. Neighbor selection tie-breaks
    (cosine desc, id asc) are total orders.

    Scale: this registered form scores the EXACT all-pairs relation —
    the bounded verification tier (q41's discipline). At corpus scale
    the margin post-pass is unchanged but consumes a candidate pair
    relation from the ANN tiers (q58 IVF / q59 BRP-LSH / the blocked
    exact join): two windowed top-k passes and two K-row joins over
    whatever pair relation is supplied, all keyed by the pair
    endpoints — nothing here is quadratic except the candidate tier
    you choose."""
    # Guard the even/odd split's arithmetic: % on a non-integral id
    # silently casts to null and EMPTIES both sides (the silent-wrong-
    # output class ADVICE r8 flagged on keep-best's unary minus).
    id_type = dict(df.dtypes)[id_col]
    if id_type not in ("tinyint", "smallint", "int", "bigint"):
        raise TypeError(
            f"margin_topk id_col {id_col!r} must be integral for the "
            f"even/odd side split, got {id_type}")
    a = (df.filter(F.col(id_col) % 2 == 0)
         .select(F.col(id_col).alias("src"), F.col(vec_col).alias("va")))
    b = (df.filter(F.col(id_col) % 2 == 1)
         .select(F.col(id_col).alias("dst"), F.col(vec_col).alias("vb")))
    # Three consumers under THREE different partitionings (src window,
    # dst window, endpoint join) — no exchange is shared, so without a
    # persist the Arrow-batched pair generator re-executes three times
    # (the bm25 postings lesson, PLANS.md).
    pairs = blocked_cross_cosine(a, b, scale=4).persist()
    dec = F.col("cos4").cast("decimal(10,4)")
    wf = Window.partitionBy("src").orderBy(F.desc("cos4"), F.asc("dst"))
    wb = Window.partitionBy("dst").orderBy(F.desc("cos4"), F.asc("src"))
    fwd = (pairs.withColumn("rn", F.row_number().over(wf))
           .filter(F.col("rn") <= k)
           .groupBy("src").agg(F.sum(dec).alias("fwd_sum")))
    bwd = (pairs.withColumn("rn", F.row_number().over(wb))
           .filter(F.col("rn") <= k)
           .groupBy("dst").agg(F.sum(dec).alias("bwd_sum")))
    denom = ((F.col("fwd_sum") + F.col("bwd_sum")).cast("double")
             / F.lit(2.0 * k))
    return (pairs.join(fwd, "src").join(bwd, "dst")
            .select("src", "dst", F.col("cos4").alias("cosine_sim"),
                    (F.col("cos4") / denom).alias("margin"))
            .orderBy(F.desc("margin"), F.asc("src"), F.asc("dst"))
            .limit(top_n))


def mmr_select(df: DataFrame, k: int = 10, lam: float = 0.7,
               query_id: int = 0, id_col: str = "vec_id",
               vec_col: str = "embedding") -> DataFrame:
    """Maximal Marginal Relevance selection (Carbonell & Goldstein
    1998) — the greedy diversity-aware top-k that data-selection and
    RAG pipelines use to avoid returning k near-copies:

        pick_t = argmax_x  lam * rel(x) - (1 - lam) * max_{s in S} sim(x, s)

    with rel(x) = cosine to the ``query_id`` vector and ``sim`` the
    candidate-candidate cosine, both rounded to 4 dp at creation.

    Distributed shape: the greedy loop is k passes over the candidate
    relation, and each pass is SHUFFLE-FREE — the argmax is a global
    top-1 (TakeOrderedAndProject), and the diversity penalty updates
    incrementally (``maxsim' = greatest(maxsim, cos(x, picked))``, one
    fused elementwise projection against the one picked vector as a
    literal) instead of re-scanning the selected set. Driver state is
    one row per iteration; candidate state localCheckpoints so lineage
    stays one iteration deep. At 100 TB: k scans, zero shuffles.

    Determinism: 4-dp cosines, the MMR score is two IEEE multiplies
    and a subtract of identical operands on any engine, ties break
    (score desc, id asc). max over the selected set starts at 0.0 (the
    empty-set convention — the first pick is the relevance argmax for
    any vector with nonnegative best-cosine)."""
    qv = (df.filter(F.col(id_col) == query_id)
          .select(vec_col).collect())[0][0]
    lit_q = F.array(*[F.lit(float(x)) for x in qv])
    state = (df.filter(F.col(id_col) != query_id)
             .select(F.col(id_col).alias("vec_id"),
                     F.col(vec_col).alias("v"),
                     cosine(lit_q, F.col(vec_col), 4).alias("rel"))
             .withColumn("maxsim", F.lit(0.0))
             .localCheckpoint())
    mmr = (F.lit(lam) * F.col("rel")
           - F.lit(1.0 - lam) * F.col("maxsim"))
    picks: list[tuple] = []
    for rank in range(1, k + 1):
        top = (state.withColumn("mmr", mmr)
               .orderBy(F.desc("mmr"), F.asc("vec_id"))
               .limit(1).collect())
        if not top:
            break
        row = top[0]
        picks.append((rank, int(row["vec_id"]), float(row["rel"]),
                      float(row["mmr"])))
        lit_p = F.array(*[F.lit(float(x)) for x in row["v"]])
        state = (state.filter(F.col("vec_id") != int(row["vec_id"]))
                 .withColumn("maxsim",
                             F.greatest(F.col("maxsim"),
                                        cosine(F.col("v"), lit_p, 4)))
                 .localCheckpoint())
    spark = df.sparkSession
    return local_frame(
        spark, picks,
        "pick_rank int, vec_id bigint, relevance double, mmr_score double")


def mmr_select_sql(k: int = 10, lam: float = 0.7, query_id: int = 0,
                   table: str = "embeddings") -> str:
    """DuckDB-SQL twin of :func:`mmr_select` — the greedy loop unrolled
    as a static chain of (pick, state) MATERIALIZED CTE pairs, the same
    oracle-upgrade pattern as the BPE/WordPiece merge chains. Identical
    4-dp cosines and IEEE score arithmetic, so every pick matches
    exactly."""
    d = ("list_sum(list_transform(range(1, len({x}) + 1), "
         "i -> {x}[i]::DOUBLE * {y}[i]::DOUBLE))")

    def cos4(x: str, y: str) -> str:
        return (f"round({d.format(x=x, y=y)} / "
                f"nullif(sqrt({d.format(x=x, y=x)}) * "
                f"sqrt({d.format(x=y, y=y)}), 0.0), 4)")

    one_minus = 1.0 - lam
    ctes = [f"""qv AS MATERIALIZED (
      SELECT embedding AS q FROM {table} WHERE vec_id = {query_id}),
    st0 AS MATERIALIZED (
      SELECT vec_id, embedding AS v, {cos4('q', 'embedding')} AS rel,
             CAST(0.0 AS DOUBLE) AS maxsim
      FROM {table}, qv WHERE vec_id <> {query_id})"""]
    picks = []
    for t in range(1, k + 1):
        s_in, s_out, p = f"st{t-1}", f"st{t}", f"pick{t}"
        ctes.append(f"""{p} AS MATERIALIZED (
      SELECT vec_id, v, rel,
             {lam} * rel - {one_minus} * maxsim AS mmr
      FROM {s_in} ORDER BY mmr DESC, vec_id ASC LIMIT 1)""")
        if t < k:
            ctes.append(f"""{s_out} AS MATERIALIZED (
      SELECT s.vec_id, s.v, s.rel,
             greatest(s.maxsim, {cos4('s.v', 'p.v')}) AS maxsim
      FROM {s_in} s, {p} p WHERE s.vec_id <> p.vec_id)""")
        picks.append(f"SELECT {t} AS pick_rank, vec_id, rel AS relevance, "
                     f"mmr AS mmr_score FROM pick{t}")
    return ("WITH " + ",\n".join(ctes) + "\n"
            + " UNION ALL ".join(picks) + " ORDER BY pick_rank")
