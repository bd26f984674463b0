"""Semantic invariants for the audit-statistics queries (q253-q261) —
full hand-recomputation in plain Python (the
test_robust_stats_experiments model, strongest evidence form): every
query's result is rebuilt from independently loaded fixture rows with
exact ``==`` assertions. The oracle parity suite can
miss a mistake both engines share (verify-skill lessons 15/18); these
cannot — the recomputation shares no code with the builder OR the
oracle. No-tolerance equality is correct because every engine float is
a single correctly-rounded IEEE op (or a fixed tree of them) over exact
integer operands, replicated operation-for-operation here."""

from __future__ import annotations

import math
import re
from collections import defaultdict
from decimal import ROUND_HALF_UP, Decimal

from ds_ga1004_bigdata_project_spark.queries import REGISTRY

from .conftest import SF_ORACLE


def _rows(spark, name):
    return REGISTRY[name].build(spark, SF_ORACLE).collect()


def _pq(spark, table):
    return spark.read.parquet(f"{SF_ORACLE}/{table}.parquet")


def test_relational_division_hand(spark):
    rows = {r["n_priorities"]: r for r in
            _rows(spark, "q253_relational_division")}
    orders = _pq(spark, "orders").select(
        "o_custkey", "o_orderpriority").collect()
    per: dict[int, set] = defaultdict(set)
    dom: set = set()
    for r in orders:
        per[r["o_custkey"]].add(r["o_orderpriority"])
        dom.add(r["o_orderpriority"])
    hist: dict[int, int] = defaultdict(int)
    for ps in per.values():
        hist[len(ps)] += 1
    assert {k: (r["n_customers"], r["spans_all"]) for k, r in rows.items()} \
        == {k: (v, k == len(dom)) for k, v in hist.items()}
    # conservation: every ordering customer lands in exactly one bucket
    assert sum(r["n_customers"] for r in rows.values()) == len(per)


def test_weighted_quantiles_hand(spark):
    rows = {r["source"]: r for r in _rows(spark, "q256_weighted_quantiles")}
    docs = _pq(spark, "documents").select("source", "text").collect()
    w: dict[str, dict[int, int]] = defaultdict(lambda: defaultdict(int))
    for r in docs:
        n = len(re.split(r"\s+", r["text"]))
        w[r["source"]][n] += n
    assert set(rows) == set(w)
    for src, h in w.items():
        tot = sum(h.values())
        cum, med, p90 = 0, None, None
        for length in sorted(h):
            cum += h[length]
            if med is None and 2 * cum >= tot:
                med = length
            if p90 is None and 10 * cum >= 9 * tot:
                p90 = length
        r = rows[src]
        assert (r["total_tokens"], r["w_median_tokens"],
                r["w_p90_tokens"]) == (tot, med, p90)


def test_t_closeness_hand(spark):
    rows = {(r["c_mktsegment"], r["n_name"]): r
            for r in _rows(spark, "q255_t_closeness")}
    cust = _pq(spark, "customer").select(
        "c_mktsegment", "c_nationkey", "c_acctbal").collect()
    nat = {r["n_nationkey"]: r["n_name"]
           for r in _pq(spark, "nation").collect()}
    cells: dict[tuple, dict[int, int]] = defaultdict(lambda: defaultdict(int))
    glob: dict[int, int] = defaultdict(int)
    for r in cust:
        b = math.floor(r["c_acctbal"] / 1000)
        cells[(r["c_mktsegment"], nat[r["c_nationkey"]])][b] += 1
        glob[b] += 1
    buckets = sorted(glob)
    n = sum(glob.values())
    nb = len(buckets)
    assert set(rows) == set(cells)
    for key, gh in cells.items():
        n_g = sum(gh.values())
        cum_g = cum_b = emd = 0
        for b in buckets:
            cum_g += gh.get(b, 0)
            cum_b += glob[b]
            emd += abs(n * cum_g - n_g * cum_b)
        t = float(emd) / (float(n_g) * float(n) * float(nb - 1))
        r = rows[key]
        assert r["n_rows"] == n_g
        assert r["t_closeness"] == t
        assert 0.0 <= r["t_closeness"] <= 1.0


def _cents(v: float) -> int:
    return int(Decimal(repr(v)).quantize(Decimal("0.01"),
                                         ROUND_HALF_UP) * 100)


def test_gini_hand(spark):
    [r] = _rows(spark, "q254_gini_concentration")
    orders = _pq(spark, "orders").select(
        "o_custkey", "o_totalprice").collect()
    rev: dict[int, int] = defaultdict(int)
    for o in orders:
        rev[o["o_custkey"]] += _cents(o["o_totalprice"])
    vals = sorted((c, k) for k, c in rev.items())
    n = len(vals)
    s = sum(c for c, _ in vals)
    s1 = sum((i + 1) * c for i, (c, _) in enumerate(vals))
    bh = sum(c for i, (c, _) in enumerate(vals) if 2 * (i + 1) <= n)
    assert r["n_customers"] == n
    assert r["gini"] == float(2 * s1 - (n + 1) * s) / (float(n) * float(s))
    assert r["bottom_half_rev_share"] == float(bh) / float(s)
    assert float(Decimal(repr(float(s) / 100)).quantize(
        Decimal("0.01"), ROUND_HALF_UP)) == r["total_revenue"]
    # inequality bounds: 0 <= G < 1, bottom half holds <= half the revenue
    assert 0.0 <= r["gini"] < 1.0
    assert r["bottom_half_rev_share"] <= 0.5


def test_assortativity_hand(spark):
    [r] = _rows(spark, "q257_degree_assortativity")
    li = _pq(spark, "lineitem").select("l_orderkey", "l_partkey").collect()
    od = {o["o_orderkey"]: o["o_custkey"]
          for o in _pq(spark, "orders").collect()}
    edges = {(od[x["l_orderkey"]], x["l_partkey"]) for x in li}
    du: dict[int, int] = defaultdict(int)
    di: dict[int, int] = defaultdict(int)
    for u, i in edges:
        du[u] += 1
        di[i] += 1
    n = len(edges)
    sx = sy = sxx = syy = sxy = 0
    for u, i in edges:
        x, y = du[u], di[i]
        sx += x; sy += y; sxx += x * x; syy += y * y; sxy += x * y
    num = float(n * sxy - sx * sy)
    den = math.sqrt(float(n * sxx - sx * sx) * float(n * syy - sy * sy))
    assert r["n_edges"] == n
    assert r["max_user_degree"] == max(du.values())
    assert r["max_item_degree"] == max(di.values())
    assert r["assortativity"] == num / den
    assert -1.0 <= r["assortativity"] <= 1.0


def test_cusum_hand(spark):
    rows = {r["event_type"]: r for r in
            _rows(spark, "q258_cusum_changepoint")}
    ev = _pq(spark, "events").selectExpr(
        "event_type",
        "date_format(cast(ts as date), 'yyyy-MM-dd') AS day").collect()
    daily: dict[str, dict[str, int]] = defaultdict(lambda: defaultdict(int))
    for r in ev:
        daily[r["event_type"]][r["day"]] += 1
    assert set(rows) == set(daily)
    for typ, h in daily.items():
        days = sorted(h)
        nd, tot = len(days), sum(h.values())
        cum, best = 0, None  # best = (-|cusum|, day) for earliest-max
        for d in days:
            cum += nd * h[d] - tot
            if best is None or abs(cum) > -best[0]:
                best = (-abs(cum), d)
        r = rows[typ]
        assert r["n_days"] == nd
        assert r["change_day"] == best[1]
        assert r["cusum_peak"] == float(-best[0]) / float(nd)


def test_ks_hand(spark):
    [r] = _rows(spark, "q259_ks_aa_test")
    ev = _pq(spark, "events").select("event_type", "value") \
        .where("event_type IN ('purchase', 'view')").collect()
    pc: dict[float, int] = defaultdict(int)
    vc: dict[float, int] = defaultdict(int)
    np_ = nv = 0
    for x in ev:
        if x["event_type"] == "purchase":
            pc[x["value"]] += 1
            np_ += 1
        else:
            vc[x["value"]] += 1
            nv += 1
    cum, dmax, at = 0, -1, None
    for v in sorted(set(pc) | set(vc)):
        cum += nv * pc.get(v, 0) - np_ * vc.get(v, 0)
        if abs(cum) > dmax:
            dmax, at = abs(cum), v
    assert (r["n_purchase"], r["n_view"]) == (np_, nv)
    assert r["ks_at_value"] == at
    assert r["ks_d"] == float(dmax) / (float(np_) * float(nv))
    assert 0.0 <= r["ks_d"] <= 1.0


def test_hubness_hand(spark):
    rows = {r["in_degree"]: r["n_vectors"]
            for r in _rows(spark, "q260_knn_hubness")}
    emb = _pq(spark, "embeddings").select("vec_id", "embedding").collect()
    qv = {}
    for e in emb:
        v = [float(x) for x in e["embedding"]]
        m = max(abs(x) for x in v)
        qv[e["vec_id"]] = [0] * len(v) if m == 0 else \
            [math.floor(x * 127.0 / m) for x in v]
    indeg: dict[int, int] = defaultdict(int)
    for qid in sorted(qv):
        if qid % 16 != 0:
            continue
        scored = sorted(
            ((-sum(a * b for a, b in zip(qv[qid], qv[nid])), nid)
             for nid in qv if nid != qid))
        for _, nid in scored[:5]:
            indeg[nid] += 1
    hist: dict[int, int] = defaultdict(int)
    for d in indeg.values():
        hist[d] += 1
    hist[0] += len(qv) - len(indeg)
    assert rows == dict(hist)
    # conservation: every probe contributes exactly k=5 graph edges
    n_probes = sum(1 for i in qv if i % 16 == 0)
    assert sum(d * c for d, c in hist.items()) == 5 * n_probes


def test_cohort_ltv_hand(spark):
    rows = {(r["cohort_week"], r["age_weeks"]): r
            for r in _rows(spark, "q261_cohort_ltv_curve")}
    ev = _pq(spark, "events").where("event_type = 'purchase'") \
        .selectExpr("user_id",
                    "floor(datediff(cast(ts as date),"
                    " cast('2024-01-01' as date)) / 7) AS wk",
                    "value").collect()
    first: dict[int, int] = {}
    for r in ev:
        first[r["user_id"]] = min(first.get(r["user_id"], 10**9), r["wk"])
    cohort_n: dict[int, int] = defaultdict(int)
    for cw in first.values():
        cohort_n[cw] += 1
    rev: dict[tuple, int] = defaultdict(int)
    for r in ev:
        cw = first[r["user_id"]]
        rev[(cw, r["wk"] - cw)] += _cents(r["value"])
    cum: dict[tuple, int] = {}
    for cw in cohort_n:
        run = 0
        for age in sorted(a for c, a in rev if c == cw):
            run += rev[(cw, age)]
            cum[(cw, age)] = run
    assert set(rows) == set(cum)
    for (cw, age), c in cum.items():
        r = rows[(cw, age)]
        assert r["n_users"] == cohort_n[cw]
        assert r["ltv_per_user"] == float(c) / (100.0 * float(cohort_n[cw]))
        assert float(Decimal(repr(float(c) / 100)).quantize(
            Decimal("0.01"), ROUND_HALF_UP)) == r["cum_revenue"]
    # LTV curves are monotone non-decreasing in age within a cohort
    for cw in cohort_n:
        ages = sorted(a for c, a in rows if c == cw)
        ltv = [rows[(cw, a)]["ltv_per_user"] for a in ages]
        assert ltv == sorted(ltv)
