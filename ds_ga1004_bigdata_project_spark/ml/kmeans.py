"""Distributed Lloyd k-means over an ``array<float>`` embedding column.

Embedding clustering is a workhorse of training-data curation (semantic
bucketing for mixture control, cluster-balanced sampling, near-dup triage —
the SemDeDup/DSIR family of pipelines). Spark's ``pyspark.ml`` KMeans wants
``Vector`` columns and its init is RNG-dependent; this implementation stays
on the native array column, is fully deterministic (explicit init = the k
lowest-id vectors), and every step is registered JVM expressions:

* **assign** — the centroid table folds to ONE row holding an
  ``array<struct(cid, vec)>`` (k·dim doubles — kilobytes), broadcast to
  every task; each row picks ``array_min`` over per-centroid
  ``struct(round(d2, 6), cid)`` structs, so nearest-centroid choice is a
  map-side codegen'd expression with a deterministic (d2, cid) tie-break
  and NO shuffle of the corpus.
* **update** — new centroids are per-(cid, dim) means: ``posexplode``
  the assigned vectors, partial-agg ``avg`` per (cid, pos), and collect
  the k·dim aggregate rows; the driver reassembles each centroid in
  ``pos`` order. The only shuffle moves k·dim aggregates, map-side
  combined — never the corpus.

The Lloyd loop keeps the centroids where MLlib's KMeans keeps them: on
the driver, as k·dim doubles. Each iteration hands them back to the JVM
as a one-row Arrow local relation (``session.local_frame``), so every
plan stays one iteration deep instead of nesting all earlier iterations
as subplans, and the nearest-centroid expression tree is built once per
fit.

At 100 TB: each iteration is one corpus scan plus one collected
k·dim-sized aggregate, the textbook scalable Lloyd shape; the driver
holds k·dim doubles. The corpus is persisted once by the caller (not per
iteration) since every iteration re-reads it.

Cross-engine note: distances accumulate in DOUBLE in ascending dimension
order on both engines (Spark ``aggregate`` fold / DuckDB ``list_sum`` over
``range``), so the q126 assignment oracle hash-matches exactly; the
iterative path (q127) is certified by value-pinned snapshots instead —
a recursive-CTE SQL twin would be certifying the oracle, not the engine.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import local_frame

#: Driver-held centroids: (cid, vector) pairs in cid order.
Centroids = list[tuple[int, list[float]]]

#: The centroid table folded into one broadcastable row.
_CENTS_DDL = "cents array<struct<cid:int,cvec:array<double>>>"


def _sq_l2(a: Column, b: Column) -> Column:
    """Σ (aᵢ-bᵢ)² in double precision, ascending-index fold order."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x.cast("double") - y.cast("double"))
                   * (x.cast("double") - y.cast("double"))),
        F.lit(0.0),
        lambda acc, v: acc + v)


def _nearest(vec_col: str, scale: int) -> Column:
    """``array_min`` over per-centroid ``struct(round(d2), cid)``: the
    nearest centroid of ``vec_col`` among the ``cents`` row, ties to the
    lowest cid."""
    return F.array_min(F.transform(
        "cents",
        lambda c: F.struct(
            F.round(_sq_l2(F.col(vec_col), c["cvec"]), scale).alias("d2"),
            c["cid"].alias("cid"))))


def _assign_to(df: DataFrame, cents_row: DataFrame,
               nearest: Column) -> DataFrame:
    joined = df.join(F.broadcast(cents_row))
    return (joined.withColumn("_best", nearest)
            .select(*df.columns,
                    F.col("_best.cid").alias("cid"),
                    F.col("_best.d2").alias("d2")))


def centroids_row(centroids: DataFrame, cid_col: str = "cid",
                  vec_col: str = "cvec") -> DataFrame:
    """Fold a (cid, vec) table into one broadcastable array-of-structs row."""
    return centroids.agg(F.sort_array(F.collect_list(
        F.struct(F.col(cid_col).alias("cid"),
                 F.col(vec_col).alias("cvec")))).alias("cents"))


def seed_centroids(df: DataFrame, k: int, id_col: str = "vec_id",
                   vec_col: str = "embedding") -> Centroids:
    """Deterministic init: the k lowest-id vectors, cid = 0..k-1 by id order.

    Explicit and engine-reproducible where kmeans|| is RNG- and
    partitioning-dependent. ``orderBy().limit(k)`` compiles to
    TakeOrderedAndProject — per-task top-k heaps, never a global sort —
    and the k collected rows arrive in id order, so the cid numbering is
    their position."""
    rows = df.select(id_col, vec_col).orderBy(F.col(id_col)).limit(k).collect()
    return [(cid, list(r[vec_col])) for cid, r in enumerate(rows)]


def assign(df: DataFrame, centroids: DataFrame, id_col: str = "vec_id",
           vec_col: str = "embedding", scale: int = 6) -> DataFrame:
    """Nearest-centroid assignment: adds ``cid`` and ``d2`` (rounded).

    One broadcast of a single kilobyte-sized row; zero corpus shuffle."""
    return _assign_to(df, centroids_row(centroids), _nearest(vec_col, scale))


def update_centroids(assigned: DataFrame, vec_col: str = "embedding",
                     cid_col: str = "cid") -> Centroids:
    """Per-cluster element-wise mean → new ``[(cid, [mean…])]`` list.

    posexplode → partial-agg avg per (cid, pos) → one collect of the
    k·dim means, reassembled in pos order; only k·dim aggregate rows
    shuffle. Empty clusters drop out (standard Lloyd); callers keep k
    stable via the deterministic init."""
    rows = (assigned
            .select(cid_col, F.posexplode(vec_col).alias("pos", "v"))
            .groupBy(cid_col, "pos")
            .agg(F.avg(F.col("v").cast("double")).alias("m"))
            .collect())
    cents: dict[int, list[float]] = {}
    for r in sorted(rows, key=lambda r: (r[cid_col], r["pos"])):
        cents.setdefault(r[cid_col], []).append(r["m"])
    return list(cents.items())


def lloyd(df: DataFrame, k: int, n_iter: int, id_col: str = "vec_id",
          vec_col: str = "embedding") -> DataFrame:
    """``n_iter`` Lloyd rounds from the deterministic seed; returns the
    final assignment (id, cid, d2). Caller should persist ``df`` — each
    iteration is one scan over it, and so is the returned plan."""
    spark = df.sparkSession
    nearest = _nearest(vec_col, 6)

    def assigned(cents: Centroids) -> DataFrame:
        return _assign_to(df, local_frame(spark, [(cents,)], _CENTS_DDL),
                          nearest)

    cents = seed_centroids(df, k, id_col, vec_col)
    for _ in range(n_iter):
        cents = update_centroids(assigned(cents), vec_col)
    return assigned(cents)
