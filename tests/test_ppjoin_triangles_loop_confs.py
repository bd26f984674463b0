"""Equivalence and plan-shape tests for the PPJoin prunes, the triangle
closure and the subword loop's session-conf scoping.

Each optimization that changed an operator's internals gets a test pinning
the property the change relies on: exact-equality of outputs against the
unoptimized form (the PPJoin prunes), plan shape (the q167 single-adjacency
closure), and session-conf hygiene (the subword loop scoping).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ds_ga1004_bigdata_project_spark.operators import dedup
from ds_ga1004_bigdata_project_spark.operators.graph import (
    triangle_participation)
from ds_ga1004_bigdata_project_spark.plans.inspect import physical_plan


def _corpus(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


# Heterogeneous doc lengths on a shared vocabulary: exercises the length
# filter (big/small pairs fail t*max <= min) and the positional filter
# (shared-prefix pairs whose remaining suffixes cannot reach alpha).
_HETERO = [
    (0, "a b c d e f g h"),
    (1, "a b c d e f g h i j"),                      # J(0,1) high
    (2, "a b c " + " ".join(f"z{i}" for i in range(60))),  # long, shares prefix
    (3, "a b c d"),                                  # short
    (4, " ".join(f"q{i}" for i in range(25))),       # disjoint
    (5, " ".join(f"q{i}" for i in range(25)) + " extra tail words here"),
    (6, "a b c d e f g h"),                          # exact dup of 0
]


@pytest.mark.parametrize("threshold", [0.3, 0.5, 0.8])
def test_prefix_filters_complete_on_heterogeneous_sizes(spark, threshold):
    """q173's r14 prunes: the length+positional-filtered candidate join
    must emit EXACTLY the pairs of the brute-force all-pairs jaccard at
    the same threshold — the PPJoin completeness lemma, checked on a
    corpus whose size spread actually exercises both filters."""
    df = _corpus(spark, _HETERO)
    got = sorted(
        (r["a"], r["b"], r["jaccard"])
        for r in dedup.prefix_filtered_jaccard_pairs(
            df, threshold=threshold, n=2).collect())

    from ds_ga1004_bigdata_project_spark.functions.text import (
        word_shingles, ws_tokens)
    sh = {r["doc_id"]: set(r["s"]) for r in df.select(
        "doc_id", F.array_distinct(
            word_shingles(ws_tokens(F.col("text")), 2)).alias("s"))
        .collect()}
    want = []
    ids = sorted(sh)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            inter = len(sh[a] & sh[b])
            if not inter:
                continue
            j = round(inter / (len(sh[a]) + len(sh[b]) - inter), 6)
            if j >= threshold:
                want.append((a, b, j))
    assert got == sorted(want)


def test_ngram_length_prune_matches_unpruned(spark):
    """The min_jaccard-gated length prune in ngram_jaccard_pairs must be
    output-invariant: pairs(df, t) == pairs(df, 0).filter(j >= t)."""
    df = _corpus(spark, _HETERO)
    pruned = sorted(map(tuple, dedup.ngram_jaccard_pairs(
        df, n=2, min_jaccard=0.5).collect()))
    unpruned = sorted(map(tuple, dedup.ngram_jaccard_pairs(
        df, n=2, min_jaccard=0.0)
        .filter(F.col("jaccard") >= 0.5).collect()))
    assert pruned == unpruned and pruned  # non-vacuous


def test_triangle_closure_joins_adjacency_once(spark):
    """q167's r14 closure derives the oriented-edge side by exploding the
    adjacency relation: the plan must carry exactly three equi-joins
    (two degree attachments + ONE adjacency join) — a regression to the
    two-join closure re-adds the duplicated upstream subtree."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (2, 4)], "u long, v long")
    df = triangle_participation(edges, src="u", dst="v")
    plan = physical_plan(df)
    import re
    joins = sum(len(re.findall(rf"\(\d+\) {op}", plan)) for op in
                ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin"))
    # The adjacency relation appears twice (explode side + N+(d) side);
    # unpersisted (caches=None) the pre-execution plan prints its
    # 2-degree-join upstream under BOTH copies (deduped at runtime via
    # ReusedExchange / the caller's persist), so the expected operator
    # count is 2x2 degree joins + ONE closure join = 5. The r13 two-join
    # closure printed 8 (a third upstream copy under the o side + a
    # second closure join) — this pins the regression boundary. An
    # UPPER bound only (ADVICE r14): a Spark version bump or plan-print
    # dedup change can legitimately print FEWER operators; only MORE
    # joins signal the duplicated-subtree regression this guards.
    assert joins <= 5, f"expected <=5 join operators (see comment):\n{plan}"
    # and the triangle counts themselves, on a graph with two triangles
    got = {r["node"]: r["n_triangles"] for r in df.collect()}
    assert got == {1: 1, 2: 2, 3: 2, 4: 1}


def test_subword_loop_restores_session_confs(spark):
    """bpe_learn's _loop_confs scopes AQE/shuffle-width to the merge loop
    and must restore the session exactly (the conftest tripwire would
    catch a leak in-suite; this pins it directly, including on the
    wordpiece path)."""
    from ds_ga1004_bigdata_project_spark.functions.subword import (
        bpe_learn, wordpiece_learn)

    df = _corpus(spark, [(0, "ab ab ba"), (1, "ab ba ba ab")])
    before = {k: spark.conf.get(k) for k in
              ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")}
    bpe_learn(df, n_merges=2).collect()
    wordpiece_learn(df, n_merges=2).collect()
    after = {k: spark.conf.get(k) for k in before}
    assert after == before
