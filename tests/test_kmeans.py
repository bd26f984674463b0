"""Deterministic array-native k-means (ml/kmeans.py, q126/q127): hand-checked
assignment and update steps, the q127 value pin, and the zero-corpus-shuffle
plan property of the assignment."""

from __future__ import annotations

import pytest

from ds_ga1004_bigdata_project_spark.ml import kmeans
from ds_ga1004_bigdata_project_spark.queries import REGISTRY

from .conftest import SF_SMOKE


def _toy(spark):
    return spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [0.1, 0.0]), (2, [10.0, 10.0]),
         (3, [10.0, 9.5]), (4, [5.0, 5.1])],
        "vec_id long, embedding array<double>")


def test_assign_picks_true_nearest(spark):
    cents = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [10.0, 10.0])],
        "cid long, cvec array<double>")
    got = {r["vec_id"]: r["cid"]
           for r in kmeans.assign(_toy(spark), cents).collect()}
    # (5.0, 5.1) is nearer to (10,10): d2 = 25+24.01 < 25+26.01
    assert got == {0: 0, 1: 0, 2: 1, 3: 1, 4: 1}


def test_assign_tiebreak_is_lowest_cid(spark):
    cents = spark.createDataFrame(
        [(1, [1.0, 0.0]), (0, [0.0, 1.0]), (2, [0.0, 1.0])],
        "cid long, cvec array<double>")
    df = spark.createDataFrame([(0, [0.0, 0.0])],
                               "vec_id long, embedding array<double>")
    [row] = kmeans.assign(df, cents).collect()
    # all three centroids are at d2=1; min struct(d2, cid) → cid 0
    assert row["cid"] == 0


def test_update_centroids_is_elementwise_mean(spark):
    assigned = spark.createDataFrame(
        [(0, [0.0, 2.0]), (0, [2.0, 0.0]), (1, [4.0, 4.0])],
        "cid long, embedding array<double>")
    assert kmeans.update_centroids(assigned) == \
        [(0, [1.0, 1.0]), (1, [4.0, 4.0])]


def test_seed_centroids_are_lowest_ids(spark):
    assert kmeans.seed_centroids(_toy(spark), k=2) == \
        [(0, [0.0, 0.0]), (1, [0.1, 0.0])]


def test_lloyd_converges_on_separated_toy(spark):
    out = kmeans.lloyd(_toy(spark), k=2, n_iter=3)
    by_cluster = {r["vec_id"]: r["cid"] for r in out.collect()}
    assert by_cluster[0] == by_cluster[1]
    assert by_cluster[2] == by_cluster[3] == by_cluster[4]
    assert by_cluster[0] != by_cluster[2]


#: q127 value pin at sf0.001 under the test-session config (local[8],
#: shuffle=8) — verified identical across three fresh JVM sessions before
#: pinning. Drift triage as in tests/test_snapshot_pins.py's docstring.
_Q127_PIN = [(0, 72, 0.938), (1, 49, 0.917), (2, 64, 0.932),
             (3, 67, 0.935), (4, 66, 0.933), (5, 62, 0.93),
             (6, 62, 0.939), (7, 58, 0.931)]


def test_q127_lloyd_value_pin(spark):
    rows = REGISTRY["q127_kmeans_lloyd"].build(spark, SF_SMOKE).collect()
    assert sorted(tuple(r) for r in rows) == _Q127_PIN


def test_assign_never_shuffles_the_corpus(spark):
    """The assignment plan must contain no hash-partitioned exchange — the
    corpus is consumed map-side against the broadcast centroid row (the
    100 TB property q126 exists to demonstrate)."""
    cents = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [10.0, 10.0])],
        "cid long, cvec array<double>")
    plan = (kmeans.assign(_toy(spark), cents)
            ._jdf.queryExecution().executedPlan().toString())
    assert "hashpartitioning" not in plan


@pytest.mark.parametrize("k", [1, 8])
def test_lloyd_cluster_count(spark, k):
    from ds_ga1004_bigdata_project_spark.sources.catalog import Catalog

    emb = Catalog(spark, SF_SMOKE).embeddings.select("vec_id", "embedding")
    out = kmeans.lloyd(emb, k=k, n_iter=1)
    assert out.select("cid").distinct().count() == k


def test_lloyd_plan_scans_its_input_once(spark):
    """The centroids of every earlier iteration live on the driver and
    enter the final plan as a one-row local relation, so the returned
    assignment reads the corpus once — not once per iteration plus the
    seed, as a plan nesting the whole iteration chain would."""
    from ds_ga1004_bigdata_project_spark.sources.catalog import Catalog

    emb = Catalog(spark, SF_SMOKE).embeddings.select("vec_id", "embedding")
    plan = (kmeans.lloyd(emb, k=8, n_iter=3)
            ._jdf.queryExecution().executedPlan().toString())
    assert plan.count("FileScan parquet") == 1
    assert "LocalTableScan" in plan
