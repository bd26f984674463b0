"""Semantic invariants for the robust-statistics and experimentation
queries (q243-q252) — checks the oracle CANNOT express (an oracle twin
replicating the same mistake passes parity; these pin the meaning): Benford share algebra, Theil-Sen / z-test /
lift / confusion hand-recomputation (exact == where the engine emits
fixed IEEE trees over exact operands), conservation laws, and range
bounds."""

from __future__ import annotations

import math
from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import functions as F

from ds_ga1004_bigdata_project_spark.queries import REGISTRY

from .conftest import SF_ORACLE


def _rows(spark, name):
    return REGISTRY[name].build(spark, SF_ORACLE).collect()


def test_benford_shares_and_expected_literals(spark):
    """Digits partition the order count; observed shares are the exact
    count quotients; expected shares ARE log10(1+1/d) (no-tolerance ==
    against a fresh math.log10); excess is the exact difference."""
    rows = _rows(spark, "q243_benford_first_digit")
    n_orders = spark.read.parquet(f"{SF_ORACLE}/orders.parquet").count()
    assert sum(r["n_orders"] for r in rows) == n_orders
    assert {r["first_digit"] for r in rows} <= set(range(1, 10))
    for r in rows:
        assert r["exp_share"] == math.log10(1 + 1 / r["first_digit"])
        assert r["obs_share"] == r["n_orders"] / n_orders
        assert r["excess"] == r["obs_share"] - r["exp_share"]


def test_theil_sen_matches_hand_recomputation_exactly(spark):
    """Recompute the pairwise-slope median and Mann-Kendall S in plain
    Python floats from independently aggregated daily counts — every
    engine op is a single correctly-rounded IEEE op over exact ints,
    so == with NO tolerance is the correct assertion."""
    rows = {r["event_type"]: r for r in _rows(spark, "q244_theil_sen_trend")}
    ev = spark.read.parquet(f"{SF_ORACLE}/events.parquet")
    dc = (ev.select("event_type",
                    F.datediff(F.col("ts").cast("date"),
                               F.lit("1970-01-01").cast("date")).alias("d"))
          .groupBy("event_type", "d").count().collect())
    series: dict[str, list] = {}
    for r in dc:
        series.setdefault(r["event_type"], []).append((r["d"], r["count"]))
    for typ, pts in series.items():
        pts.sort()
        slopes, s = [], 0
        for i in range(len(pts)):
            for j in range(i + 1, len(pts)):
                (d1, c1), (d2, c2) = pts[i], pts[j]
                slopes.append((c2 - c1) / (d2 - d1))
                s += (c2 > c1) - (c2 < c1)
        slopes.sort()
        np_ = len(slopes)
        lo = slopes[(np_ + 1) // 2 - 1]
        hi = slopes[np_ // 2]
        r = rows[typ]
        assert r["n_days"] == len(pts)
        assert r["n_pairs"] == np_ == len(pts) * (len(pts) - 1) // 2
        assert r["mk_s"] == s
        assert r["ts_slope"] == (lo + hi) / 2
        assert abs(r["mk_s"]) <= r["n_pairs"]


def test_activity_streaks_conserve_users_and_bound(spark):
    """Histogram masses sum to the distinct-user count; every streak
    length sits in [1, horizon days]; one user's longest streak is
    hand-recomputed from raw (user, day) pairs."""
    rows = _rows(spark, "q245_activity_streaks")
    ev = spark.read.parquet(f"{SF_ORACLE}/events.parquet")
    n_users = ev.select("user_id").distinct().count()
    n_days = ev.select(F.col("ts").cast("date")).distinct().count()
    assert sum(r["n_users"] for r in rows) == n_users
    assert all(1 <= r["streak_days"] <= n_days for r in rows)
    # full-population recompute: longest streak for EVERY user from the
    # raw (user, day) pairs — the whole histogram must match, not one
    # probe user
    per_user: dict[int, set] = {}
    for r in ev.select("user_id",
                       F.col("ts").cast("date").alias("d")).collect():
        per_user.setdefault(r["user_id"], set()).add(r["d"].toordinal())
    hist: dict[int, int] = {}
    for days_set in per_user.values():
        days = sorted(days_set)
        best = run = 1
        for a, b in zip(days, days[1:]):
            run = run + 1 if b == a + 1 else 1
            best = max(best, run)
        hist[best] = hist.get(best, 0) + 1
    got = {r["streak_days"]: r["n_users"] for r in rows}
    assert got == hist


def test_lead_time_sla_month_hand_recomputed(spark):
    """Line counts conserve; shares bounded; one month's on-time share,
    exact average and value-domain p90 recomputed in Python with
    no-tolerance equality."""
    rows = _rows(spark, "q246_lead_time_sla")
    li = spark.read.parquet(f"{SF_ORACLE}/lineitem.parquet")
    o = spark.read.parquet(f"{SF_ORACLE}/orders.parquet")
    assert sum(r["n_lines"] for r in rows) == li.count()
    for r in rows:
        assert 0.0 <= r["on_time_share"] <= 1.0
        assert r["n_negative"] <= r["n_lines"]
    month = rows[0]["order_month"]
    leads = [r[0] for r in
             li.join(o, li.l_orderkey == o.o_orderkey)
             .filter(F.date_format("o_orderdate", "yyyy-MM")
                     == F.lit(month))
             .select(F.datediff(F.col("l_shipdate").cast("date"),
                                F.col("o_orderdate").cast("date")))
             .collect()]
    leads.sort()
    n = len(leads)
    r = rows[0]
    assert r["n_lines"] == n
    assert r["n_negative"] == sum(1 for v in leads if v < 0)
    assert r["on_time_share"] == (
        sum(1 for v in leads if 0 <= v <= 30) / n)
    assert r["avg_lead_days"] == sum(leads) / n
    cum = 0
    p90 = None
    from itertools import groupby
    for v, grp in groupby(leads):
        cum += sum(1 for _ in grp)
        if 10 * cum >= 9 * n:
            p90 = v
            break
    assert r["p90_lead_days"] == p90


def test_aa_ztest_hand_recomputed_and_null_calibrated(spark):
    """Arms partition the user population; the pooled z recomputes
    exactly in Python floats (identical fixed IEEE tree); and on an
    A/A split of this fixture the null holds (|z| < 4 — a loose bound
    that still catches an arm/label swap)."""
    r = _rows(spark, "q247_aa_proportion_ztest")[0]
    ev = spark.read.parquet(f"{SF_ORACLE}/events.parquet")
    assert r["n_a"] + r["n_b"] == ev.select("user_id").distinct().count()
    assert 0 <= r["conv_a"] <= r["n_a"]
    assert 0 <= r["conv_b"] <= r["n_b"]
    ca, na, cb, nb = (float(r["conv_a"]), float(r["n_a"]),
                      float(r["conv_b"]), float(r["n_b"]))
    assert r["rate_a"] == ca / na and r["rate_b"] == cb / nb
    pool = (r["conv_a"] + r["conv_b"]) / (r["n_a"] + r["n_b"])
    z = ((cb / nb - ca / na)
         / math.sqrt(pool * (1.0 - pool) * (1.0 / na + 1.0 / nb)))
    assert r["z_score"] == z
    assert abs(r["z_score"]) < 4.0


def _rev_units(px, disc):
    """The engine's exact revenue unit: CAST(px*(1-disc) AS
    DECIMAL(18,4)) * 10000 — Spark casts double->decimal through the
    shortest repr with HALF_UP, replicated via Decimal(repr(...))."""
    d = Decimal(repr(px * (1 - disc))).quantize(
        Decimal("0.0001"), rounding=ROUND_HALF_UP)
    return int(d * 10000)


def test_supplier_hhi_hand_recomputed_and_bounded(spark):
    """HHI lives in [1/n, 1]; one nation's HHI and top-1 share
    recompute exactly from per-supplier integer revenue units."""
    rows = _rows(spark, "q248_supplier_hhi")
    for r in rows:
        assert 1.0 / r["n_suppliers"] <= r["hhi"] <= 1.0
        assert r["top1_share"] >= 1.0 / r["n_suppliers"]
    target = rows[0]["n_name"]
    li = spark.read.parquet(f"{SF_ORACLE}/lineitem.parquet")
    sup = spark.read.parquet(f"{SF_ORACLE}/supplier.parquet")
    nat = spark.read.parquet(f"{SF_ORACLE}/nation.parquet")
    nk = nat.filter(F.col("n_name") == target).first()["n_nationkey"]
    raw = (li.join(sup, li.l_suppkey == sup.s_suppkey)
           .filter(F.col("s_nationkey") == nk)
           .select("l_suppkey", "l_extendedprice", "l_discount")
           .collect())
    per: dict[int, int] = {}
    for r2 in raw:
        per[r2["l_suppkey"]] = per.get(r2["l_suppkey"], 0) + _rev_units(
            r2["l_extendedprice"], r2["l_discount"])
    tot = float(sum(per.values()))
    r = rows[0]
    assert r["n_suppliers"] == len(per)
    assert r["hhi"] == float(sum(v * v for v in per.values())) / (tot * tot)
    assert r["top1_share"] == float(max(per.values())) / tot


def test_spearman_rho_identity_and_bounds(spark):
    """rho is within [-1, 1] and EXACTLY satisfies the rank identity
    1 - 6*sum_d2/(n(n^2-1)) against its own emitted components."""
    for r in _rows(spark, "q249_spearman_rank_corr"):
        n = r["n_suppliers"]
        if n >= 2:
            expect = 1.0 - (6 * r["sum_d2"]) / float(n * (n * n - 1))
            assert r["spearman_rho"] == expect
            assert -1.0 <= r["spearman_rho"] <= 1.0
        else:
            assert r["spearman_rho"] is None


def test_skew_audit_conserves_rows_and_orders_statistics(spark):
    """Each lineitem-key audit reproduces the table's row count, the
    events audit the event count; max >= p99 >= 1; the derived ratios
    are the exact quotients of the emitted integers."""
    rows = {r["key_name"]: r for r in
            _rows(spark, "q250_join_key_skew_audit")}
    n_li = spark.read.parquet(f"{SF_ORACLE}/lineitem.parquet").count()
    n_ev = spark.read.parquet(f"{SF_ORACLE}/events.parquet").count()
    assert {k for k in rows} == {
        "lineitem.l_orderkey", "lineitem.l_partkey",
        "lineitem.l_suppkey", "events.user_id"}
    for k, r in rows.items():
        want = n_ev if k == "events.user_id" else n_li
        assert r["n_rows"] == want, k
        assert r["max_mult"] >= r["p99_mult"] >= 1
        assert r["avg_mult"] == r["n_rows"] / r["n_keys"]
        assert r["top1_share"] == r["max_mult"] / r["n_rows"]


def test_decile_lift_gains_table_semantics(spark):
    """Deciles 1..10 partition the customers; the positive base rate is
    >= 20% (top-quintile threshold with ties included); lift times the
    base rate is exactly the decile response rate; cumulative capture
    ends at exactly 1.0 and is monotone."""
    rows = sorted(_rows(spark, "q251_decile_lift"),
                  key=lambda r: r["decile"])
    o = spark.read.parquet(f"{SF_ORACLE}/orders.parquet")
    n_cust = o.select("o_custkey").distinct().count()
    assert [r["decile"] for r in rows] == list(range(1, 11))
    assert sum(r["n_customers"] for r in rows) == n_cust
    tp = sum(r["n_positives"] for r in rows)
    tc = sum(r["n_customers"] for r in rows)
    assert tp / tc >= 0.2
    base = tp / tc
    prev = 0.0
    for r in rows:
        assert r["response_rate"] == r["n_positives"] / r["n_customers"]
        assert r["lift"] == r["response_rate"] / base
        assert r["cum_capture"] >= prev
        prev = r["cum_capture"]
    assert rows[-1]["cum_capture"] == 1.0


def test_centroid_confusion_conserves_and_hand_scores_one_vector(spark):
    """Confusion-cell masses sum to the vector count; labels stay in
    the label domain; one vector's nearest-centroid pick is recomputed
    from scratch in exact Python integers (scaled components, n-scaled
    distance comparison, label tiebreak)."""
    rows = _rows(spark, "q252_centroid_confusion")
    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet").collect()
    labels = {r["label"] for r in emb}
    assert sum(r["n_vectors"] for r in rows) == len(emb)
    for r in rows:
        assert r["true_label"] in labels and r["pred_label"] in labels

    def xi(v):
        return int(Decimal(repr(float(v) * 10000)).quantize(
            Decimal("1"), rounding=ROUND_HALF_UP))

    cent: dict[int, list[int]] = {}
    cnt: dict[int, int] = {}
    dim = len(emb[0]["embedding"])
    for r in emb:
        s = cent.setdefault(r["label"], [0] * dim)
        for i, v in enumerate(r["embedding"]):
            s[i] += xi(v)
        cnt[r["label"]] = cnt.get(r["label"], 0) + 1
    # full-population recompute: predict EVERY vector in exact Python
    # integers and compare the whole confusion matrix cell-for-cell
    want: dict[tuple, int] = {}
    for r in emb:
        px = [xi(v) for v in r["embedding"]]
        best = None
        for lab in sorted(cent):
            n = cnt[lab]
            dn = sum((n * px[i] - cent[lab][i]) ** 2 for i in range(dim))
            d2 = float(dn) / (float(n) * float(n))
            if best is None or d2 < best[0]:
                best = (d2, lab)
        key = (r["label"], best[1])
        want[key] = want.get(key, 0) + 1
    got = {(r["true_label"], r["pred_label"]): r["n_vectors"]
           for r in rows}
    assert got == want
