"""Pin the exhaustive physical-plan audit (``tools/plan_audit.py``) to its
adjudicated whitelist.

Round 14's post-close self-audit of ONE query (q251) found two 100 TB
walls the fixture had hidden — an unpartitioned ntile window over the
customer grain and a global cumulative count over a near-unique value
domain. ``tools/plan_audit.py`` runs that sweep over the WHOLE registry;
this test pins its committed artifact (``PLAN_AUDIT.json``) to the
triaged whitelist below so the class can never ship silently again:

* every flagged query must appear here with its EXACT per-signature
  count and a written reason class — a new wave (or an edit to an
  existing builder) that adds an unadjudicated ``Exchange
  SinglePartition`` / ``CartesianProduct`` / ``BroadcastNestedLoopJoin``
  fails this test until the audit is re-run and the new site is either
  fixed or adjudicated with a reason;
* ``audited`` must equal the live registry size, so registry growth or
  retirement forces an audit re-run (~4.5 min at sf0.001) before close;
* ``py_row_udf`` (``BatchEvalPython`` — row-at-a-time Python) is banned
  outright: the engine's whole Python surface is Arrow-vectorized.

Reason classes (the r14 triage, plan fragments read for every site —
/tmp transcript summarized in SCALE.md "plan audit" section):

SCALAR          global scalar aggregate: map-side partial_* first, the
                SinglePartition exchange moves ~1 row per upstream task.
BOUNDED_COLLECT ``collect_list`` of a bounded relation (k centroids,
                bloom stop-list vocab) into ONE broadcast buffer row —
                the broadcast that follows is the real size bound.
VALUE_DOMAIN    global sort/window over an attribute- or value-domain
                relation (histogram buckets, digit/level/source/day
                domains, distinct multiplicities, B bootstrap
                replicates, region×nation) — cardinality is bounded by
                the DOMAIN, not the row count.
ADAPTIVE        ``operators/ranks.py`` adaptive dispatch: plain window
                (single partition) BELOW the size-probe bound, the
                range-partitioned construction above it — the audit SF
                sits below the probe by design (A/B'd r11/r14).
DIM_CONTRACT    single window over a DIMENSION table whose design
                contract is broadcast-sized (q118's dense item index —
                the broadcast join two lines later is the binding
                constraint, documented in ``ml/protocol.py:252``).
SCALAR_FRAME    BroadcastNestedLoopJoin whose build side is a 1-row /
                constant-frame relation (corpus stats, thresholds, bin
                edges, grid bounds) crossed onto the fact side.
BOUNDED_PROBE   BroadcastNestedLoopJoin whose build side is the bounded
                probe/query set of a retrieval/ANN/verification tier
                (gated by the documented tier caps) — or q88's
                region×nation crossJoin showcase.
MLLIB_BLOCKED   mllib ALS ``recommendForAllUsers``: the users×items
                scoring cross is the OPERATOR'S SEMANTICS; mllib blocks
                both sides and top-k-prunes inside each block pair.
"""

from __future__ import annotations

import json
import os

from ds_ga1004_bigdata_project_spark.queries import REGISTRY

ARTIFACT = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "PLAN_AUDIT.json")

SCALAR = "scalar-agg 1-row exchange"
BOUNDED_COLLECT = "bounded collect_list -> broadcast buffer"
VALUE_DOMAIN = "value/attribute-domain relation"
ADAPTIVE = "ranks.py adaptive small-path below size probe"
DIM_CONTRACT = "broadcast-sized dimension index (documented contract)"
SCALAR_FRAME = "1-row/constant-frame broadcast cross"
BOUNDED_PROBE = "bounded probe/query-set broadcast"
MLLIB_BLOCKED = "mllib blocked recommendForAllUsers cross"

#: query -> (exact flag counts from PLAN_AUDIT.json, reason classes per flag)
WHITELIST: dict[str, tuple[dict[str, int], dict[str, str]]] = {
    "q117_quantized_topk": ({"nested_loop": 1}, {"nested_loop": BOUNDED_PROBE}),
    "q118_negative_sample": ({"single_partition": 1},
                             {"single_partition": DIM_CONTRACT}),
    "q125_bloom_semi_join": ({"nested_loop": 1, "single_partition": 1},
                             {"single_partition": BOUNDED_COLLECT,
                              "nested_loop": BOUNDED_PROBE}),
    "q126_kmeans_assign": ({"nested_loop": 1, "single_partition": 1},
                           {"single_partition": BOUNDED_COLLECT,
                            "nested_loop": BOUNDED_PROBE}),
    "q129_heavy_hitters_cms": ({"nested_loop": 1, "single_partition": 1},
                               {"single_partition": SCALAR,
                                "nested_loop": SCALAR_FRAME}),
    "q12_quantity_histogram": ({"single_partition": 1},
                               {"single_partition": VALUE_DOMAIN}),
    "q132_semantic_neardup": ({"nested_loop": 2, "single_partition": 2},
                              {"single_partition": BOUNDED_COLLECT,
                               "nested_loop": BOUNDED_PROBE}),
    "q134_bloom_decontaminate": ({"nested_loop": 2, "single_partition": 2},
                                 {"single_partition": BOUNDED_COLLECT,
                                  "nested_loop": BOUNDED_PROBE}),
    "q136_funnel": ({"single_partition": 1}, {"single_partition": SCALAR}),
    "q142_k_anonymity": ({"single_partition": 1},
                         {"single_partition": SCALAR}),
    "q148_boilerplate_exposure": ({"nested_loop": 1, "single_partition": 1},
                                  {"single_partition": SCALAR,
                                   "nested_loop": SCALAR_FRAME}),
    "q150_bm25_retrieval": ({"nested_loop": 1, "single_partition": 1},
                            {"single_partition": SCALAR,
                             "nested_loop": SCALAR_FRAME}),
    "q151_hybrid_rrf_retrieval": ({"nested_loop": 2, "single_partition": 1},
                                  {"single_partition": SCALAR,
                                   "nested_loop": SCALAR_FRAME}),
    "q155_quantized_recall": ({"nested_loop": 2},
                              {"nested_loop": BOUNDED_PROBE}),
    "q156_hard_negatives": ({"nested_loop": 5},
                            {"nested_loop": BOUNDED_PROBE}),
    "q158_cluster_cap_sample": ({"nested_loop": 2, "single_partition": 2},
                                {"single_partition": BOUNDED_COLLECT,
                                 "nested_loop": BOUNDED_PROBE}),
    "q165_temperature_mixture": ({"nested_loop": 1, "single_partition": 1},
                                 {"single_partition": SCALAR,
                                  "nested_loop": SCALAR_FRAME}),
    "q175_psi_drift": ({"nested_loop": 4}, {"nested_loop": SCALAR_FRAME}),
    "q179_cohens_kappa": ({"nested_loop": 1, "single_partition": 2},
                          {"single_partition": SCALAR,
                           "nested_loop": SCALAR_FRAME}),
    "q184_poisson_bootstrap_ci": ({"nested_loop": 1, "single_partition": 2},
                                  {"single_partition": SCALAR + " + "
                                   + VALUE_DOMAIN + " (B replicates)",
                                   "nested_loop": SCALAR_FRAME}),
    "q185_vocab_growth": ({"single_partition": 1},
                          {"single_partition": VALUE_DOMAIN}),
    "q186_unimax_budget": ({"nested_loop": 3, "single_partition": 4},
                           {"single_partition": VALUE_DOMAIN
                            + " (source domain) + " + SCALAR,
                            "nested_loop": SCALAR_FRAME}),
    "q190_margin_mining": ({"nested_loop": 3},
                           {"nested_loop": BOUNDED_PROBE}),
    "q193_knn_label_eval": ({"nested_loop": 1},
                            {"nested_loop": BOUNDED_PROBE}),
    "q194_self_retrieval_eval": ({"nested_loop": 1, "single_partition": 1},
                                 {"single_partition": SCALAR,
                                  "nested_loop": SCALAR_FRAME}),
    "q197_streaming_dedup": ({"single_partition": 1},
                             {"single_partition": SCALAR}),
    "q200_filter_agreement": ({"single_partition": 1},
                              {"single_partition": SCALAR}),
    "q205_curriculum_interleave": ({"single_partition": 1},
                                   {"single_partition": VALUE_DOMAIN
                                    + " (k-per-source capped relation)"}),
    "q206_pareto_frontier": ({"single_partition": 1},
                             {"single_partition": VALUE_DOMAIN}),
    "q213_dedup_funnel": ({"single_partition": 3},
                          {"single_partition": SCALAR}),
    "q217_lang_mix_chisq": ({"nested_loop": 2, "single_partition": 1},
                            {"single_partition": SCALAR,
                             "nested_loop": SCALAR_FRAME}),
    "q221_event_funnel": ({"nested_loop": 2, "single_partition": 5},
                          {"single_partition": SCALAR,
                           "nested_loop": SCALAR_FRAME}),
    "q222_survival_curve": ({"nested_loop": 1, "single_partition": 2},
                            {"single_partition": VALUE_DOMAIN
                             + " (day horizon) + " + SCALAR,
                             "nested_loop": SCALAR_FRAME}),
    "q226_gapfill_hourly": ({"nested_loop": 2},
                            {"nested_loop": SCALAR_FRAME}),
    "q230_stream_funnel_stages": ({"single_partition": 1},
                                  {"single_partition": SCALAR}),
    "q231_topk_recommend_twin": ({"nested_loop": 1},
                                 {"nested_loop": BOUNDED_PROBE}),
    "q232_basket_pair_lift": ({"nested_loop": 1, "single_partition": 1},
                              {"single_partition": SCALAR,
                               "nested_loop": SCALAR_FRAME}),
    "q234_rfm_segments": ({"single_partition": 3},
                          {"single_partition": VALUE_DOMAIN
                           + " (day-horizon / count / rounded-monetary"
                           " histograms)"}),
    "q235_referential_audit": ({"nested_loop": 4, "single_partition": 8},
                               {"single_partition": SCALAR,
                                "nested_loop": SCALAR_FRAME}),
    "q243_benford_first_digit": ({"nested_loop": 1, "single_partition": 1},
                                 {"single_partition": SCALAR,
                                  "nested_loop": SCALAR_FRAME}),
    "q247_aa_proportion_ztest": ({"single_partition": 1},
                                 {"single_partition": SCALAR}),
    "q250_join_key_skew_audit": ({"single_partition": 4},
                                 {"single_partition": VALUE_DOMAIN
                                  + " (multiplicity domain)"}),
    "q251_decile_lift": ({"nested_loop": 5, "single_partition": 6},
                         {"single_partition": ADAPTIVE + " + " + SCALAR,
                          "nested_loop": SCALAR_FRAME}),
    "q253_relational_division": ({"nested_loop": 1, "single_partition": 1},
                                 {"single_partition": SCALAR
                                  + " (priority-domain count)",
                                  "nested_loop": SCALAR_FRAME}),
    "q254_gini_concentration": ({"nested_loop": 1, "single_partition": 2},
                                {"single_partition": ADAPTIVE + " + " + SCALAR,
                                 "nested_loop": SCALAR_FRAME}),
    "q255_t_closeness": ({"nested_loop": 2, "single_partition": 2},
                         {"single_partition": VALUE_DOMAIN
                          + " (balance-bucket domain) + " + SCALAR,
                          "nested_loop": SCALAR_FRAME + " + " + VALUE_DOMAIN
                          + " (QI-group x bucket grid)"}),
    "q257_degree_assortativity": ({"single_partition": 1},
                                  {"single_partition": SCALAR}),
    "q259_ks_aa_test": ({"nested_loop": 5, "single_partition": 7},
                        {"single_partition": ADAPTIVE + " + " + SCALAR,
                         "nested_loop": SCALAR_FRAME}),
    "q260_knn_hubness": ({"nested_loop": 3, "single_partition": 2},
                         {"single_partition": SCALAR,
                          "nested_loop": BOUNDED_PROBE
                          + " (vec_id % 16 probe set) + " + SCALAR_FRAME}),
    "q27_rmse_native": ({"single_partition": 1},
                        {"single_partition": SCALAR}),
    "q40_ann_cosine_topk": ({"nested_loop": 1},
                            {"nested_loop": BOUNDED_PROBE}),
    "q41_cosine_neardup_pairs": ({"nested_loop": 1},
                                 {"nested_loop": BOUNDED_PROBE}),
    "q50_string_index_sql": ({"single_partition": 1},
                             {"single_partition": VALUE_DOMAIN
                              + " (label domain)"}),
    "q52_ranking_metrics": ({"single_partition": 1},
                            {"single_partition": SCALAR}),
    "q53_als_recommend": ({"cartesian": 1}, {"cartesian": MLLIB_BLOCKED}),
    "q58_ivf_topk": ({"nested_loop": 1}, {"nested_loop": BOUNDED_PROBE}),
    "q67_distribution_ranks": ({"single_partition": 1},
                               {"single_partition": ADAPTIVE}),
    "q88_cross_join": ({"nested_loop": 1}, {"nested_loop": BOUNDED_PROBE}),
    "q91_vocab_stats": ({"single_partition": 1},
                        {"single_partition": SCALAR}),
    "q97_revenue_share": ({"single_partition": 1},
                          {"single_partition": VALUE_DOMAIN
                           + " (region×nation)"}),
    "q99_data_quality_report": ({"nested_loop": 3, "single_partition": 4},
                                {"single_partition": SCALAR,
                                 "nested_loop": SCALAR_FRAME}),
}


def _artifact() -> dict:
    with open(ARTIFACT) as fh:
        return json.load(fh)


def test_audit_is_current_with_registry():
    """Registry growth/retirement forces an audit re-run before close."""
    d = _artifact()
    assert d["errors"] == [], f"audit errors: {d['errors']}"
    assert d["audited"] == len(REGISTRY), (
        f"PLAN_AUDIT.json audited {d['audited']} queries but the registry "
        f"has {len(REGISTRY)} — re-run `python tools/plan_audit.py` and "
        f"re-triage any new flags into the WHITELIST")


def test_no_row_at_a_time_python_udf():
    d = _artifact()
    offenders = [q for q, f in d["flagged"].items() if f.get("py_row_udf")]
    assert offenders == [], (
        f"BatchEvalPython (row-at-a-time Python UDF) in: {offenders}")


def test_cartesian_only_mllib_recommend():
    d = _artifact()
    offenders = {q for q, f in d["flagged"].items() if f.get("cartesian")}
    assert offenders <= {"q53_als_recommend"}, (
        f"unadjudicated CartesianProduct in: "
        f"{offenders - {'q53_als_recommend'}}")


def test_every_flagged_query_is_adjudicated():
    """Exact-count pin: a builder edit that adds or removes a flagged plan
    node must re-run the audit AND update this whitelist with a reason."""
    d = _artifact()
    flagged = d["flagged"]
    unadjudicated = sorted(set(flagged) - set(WHITELIST))
    assert not unadjudicated, (
        f"flagged but not whitelisted (fix the plan or adjudicate with a "
        f"reason class): {unadjudicated}")
    stale = sorted(set(WHITELIST) - set(flagged))
    assert not stale, f"whitelisted but no longer flagged (prune): {stale}"
    for q, (expected, reasons) in WHITELIST.items():
        assert flagged[q] == expected, (
            f"{q}: flag counts changed {expected} -> {flagged[q]} — "
            f"re-triage (current reasons: {reasons})")
        assert set(reasons) == set(expected), (
            f"{q}: every flag needs a reason class")


def test_whitelisted_queries_still_registered():
    """Retired queries leave the registry; their whitelist rows must go with
    them (the audit only covers REGISTRY)."""
    gone = sorted(q for q in WHITELIST if q not in REGISTRY)
    assert not gone, f"whitelist rows for unregistered queries: {gone}"
