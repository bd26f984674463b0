"""Semantic invariants for the event/customer analytics queries
(q231-q242) — checks the oracle CANNOT express (an oracle twin
replicating the same mistake passes parity; these pin the meaning): growth-accounting conservation laws, EWMA
hand-recomputation, quartile monotonicity, cross-query audit
consistency, and metric range bounds."""

from __future__ import annotations

from pyspark.sql import functions as F

from ds_ga1004_bigdata_project_spark.queries import REGISTRY

from .conftest import SF_ORACLE


def _rows(spark, name):
    return REGISTRY[name].build(spark, SF_ORACLE).collect()


def test_growth_accounting_conservation(spark):
    """new+retained+resurrected = weekly actives (independently
    recomputed); churned(w) = active(w−1) − retained(w); Σnew = total
    users — the conservation laws that make the decomposition a
    decomposition."""
    rows = {r["wk"]: r for r in _rows(spark, "q233_growth_accounting")}
    ev = spark.read.parquet(f"{SF_ORACLE}/events.parquet")
    wk = F.floor(F.datediff(F.col("ts").cast("date"),
                            F.lit("2024-01-01").cast("date")) / 7)
    active = {r["wk"]: r["n"] for r in
              ev.select("user_id", wk.cast("int").alias("wk")).distinct()
              .groupBy("wk").agg(F.count(F.lit(1)).alias("n")).collect()}
    n_users = ev.select("user_id").distinct().count()
    assert sum(r["n_new"] for r in rows.values()) == n_users
    for w, r in rows.items():
        assert (r["n_new"] + r["n_retained"] + r["n_resurrected"]
                == active[w]), f"week {w} states do not sum to actives"
        if w - 1 in active:
            assert r["n_churned"] == active[w - 1] - r["n_retained"], \
                f"week {w} churn is not last week's actives minus retained"
        else:
            assert r["n_churned"] == 0


def test_ewma_daily_matches_hand_recurrence_exactly(spark):
    """Recompute ewma_t = (x_t + ewma_{t-1})/2 in plain Python floats
    from the emitted counts — dyadic exactness means == with NO
    tolerance is the correct assertion."""
    rows = _rows(spark, "q241_ewma_daily")
    series: dict[str, list] = {}
    for r in rows:
        series.setdefault(r["event_type"], []).append(r)
    for typ, rs in series.items():
        assert [r["d"] for r in rs] == sorted(r["d"] for r in rs)
        ew = None
        for r in rs:
            ew = float(r["cnt"]) if ew is None else (r["cnt"] + ew) / 2.0
            assert r["ewma"] == ew, f"{typ} d={r['d']}: {r['ewma']} != {ew}"


def test_rfm_quartiles_partition_and_bound(spark):
    """Quartiles live in 1..4, segment sizes sum to the customer count,
    and quartile 1 exists on every axis (the 'best' bucket is never
    empty under ceil(4·rank/n))."""
    rows = _rows(spark, "q234_rfm_segments")
    n_cust = spark.read.parquet(f"{SF_ORACLE}/orders.parquet") \
        .select("o_custkey").distinct().count()
    assert sum(r["n_customers"] for r in rows) == n_cust
    for axis in ("r_q", "f_q", "m_q"):
        vals = {r[axis] for r in rows}
        assert vals <= {1, 2, 3, 4}
        assert 1 in vals, f"{axis} has an empty best bucket"


def test_referential_audit_consistent_with_q99(spark):
    """The orphan-lineitems check must equal q99's n_orphans — two
    independent builders, one fact."""
    audit = {r["check_name"]: r for r in
             _rows(spark, "q235_referential_audit")}
    q99 = _rows(spark, "q99_data_quality_report")[0]
    assert audit["orphan_lineitems"]["n_violations"] == q99["n_orphans"]
    assert audit["orphan_lineitems"]["n_checked"] == q99["n_rows"]
    for r in audit.values():
        assert 0 <= r["n_violations"] <= r["n_checked"]


def test_burstiness_bounds_and_convert_ordering(spark):
    """B ∈ (−1, 1) by construction (σ, μ > 0); CV > 0; and q242's
    positional quantiles must order p50 ≤ p90 ≤ observed horizon with
    converters bounded by viewers."""
    for r in _rows(spark, "q238_interarrival_burstiness"):
        assert -1.0 < r["burstiness"] < 1.0
        assert r["cv"] > 0 and r["mean_gap_s"] > 0
    for r in _rows(spark, "q242_time_to_convert"):
        assert r["n_converted"] <= r["n_view_users"]
        if r["n_converted"] > 0:
            assert 0 <= r["p50_convert_min"] <= r["p90_convert_min"]


def test_basket_lift_marginal_consistency(spark):
    """Every reported pair's support is bounded by both item marginals,
    and lift equals the one-divide recompute from the reported
    integers (bit-exact, no tolerance)."""
    rows = _rows(spark, "q232_basket_pair_lift")
    assert rows, "support>=2 pairs exist at every fixture SF"
    op = spark.read.parquet(f"{SF_ORACLE}/lineitem.parquet") \
        .select("l_orderkey", "l_partkey").distinct()
    n_orders = op.select("l_orderkey").distinct().count()
    for r in rows:
        assert 2 <= r["support"] <= min(r["n_a"], r["n_b"])
        assert r["lift"] == (n_orders * r["support"]) / (r["n_a"] * r["n_b"])


def test_winsorized_mean_between_cuts(spark):
    """A winsorized mean must land inside [p10_cut, p90_cut] — the
    clamp's whole point."""
    for r in _rows(spark, "q239_winsorized_stats"):
        assert r["p10_cut"] <= r["winsorized_mean"] <= r["p90_cut"]
        assert r["p10_cut"] <= r["p90_cut"]
