"""Exactness tests for the WordPiece/BPE learners and the PPJoin prunes.

Every change that touches an operator's internals gets a test pinning
the invariant the optimization relies on: byte-identical WordPiece merge
tables under the fused per-iteration aggregation, BPE merge tables under
lazy fold checkpoints, and exact-floor integer arithmetic in the PPJoin
prunes at the new q = 10^6 rationalization.
"""

from __future__ import annotations

from collections import Counter

import pytest
from pyspark.sql import functions as F

from ds_ga1004_bigdata_project_spark.functions.subword import (
    bpe_learn, wordpiece_learn)
from ds_ga1004_bigdata_project_spark.operators import dedup


def _corpus(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


# A corpus whose merge sequence exercises ties, the ## continuation
# prefix, chain-merge suppression (single-pass fold), and the
# min_pair_count early stop.
_WP_ROWS = [
    (0, "low lower lowest low low"),
    (1, "new newer newest new width"),
    (2, "widest wide width low newer"),
    (3, "ab ab ba abba b a"),
]


def _fold(syms, left, right, merged):
    out = []
    for s in syms:
        if out and out[-1] == left and s == right:
            out[-1] = merged
        else:
            out.append(s)
    return out


def _wordpiece_reference(rows, n_merges, min_pair_count):
    """Pure-Python recomputation of wordpiece_learn's contract: exact
    integer counts, score = one IEEE divide of one IEEE product,
    (score desc, l, r) argmax, single-pass non-overlapping fold."""
    words: Counter = Counter()
    for _, text in rows:
        for w in text.lower().split():
            if w:
                words[w] += 1
    vocab = {w: [w[0]] + ["##" + c for c in w[1:]] for w in words}
    merges = []
    for rank in range(1, n_merges + 1):
        pc: Counter = Counter()
        sc: Counter = Counter()
        for w, cnt in words.items():
            syms = vocab[w]
            for s in syms:
                sc[s] += cnt
            for a, b in zip(syms, syms[1:]):
                pc[(a, b)] += cnt
        cands = [(l, r, c) for (l, r), c in pc.items()
                 if c >= min_pair_count]
        if not cands:
            break
        # score desc, then (l, r) lexicographic — float(c) / (float(lc)
        # * float(rc)) mirrors the engine's cast order exactly.
        best = min(cands, key=lambda t: (
            -(float(t[2]) / (float(sc[t[0]]) * float(sc[t[1]]))),
            t[0], t[1]))
        left, right, c = best
        merged = left + (right[2:] if right.startswith("##") else right)
        score = float(c) / (float(sc[left]) * float(sc[right]))
        merges.append((rank, left, right, merged, c,
                       sc[left], sc[right], round(score, 6)))
        for w in vocab:
            vocab[w] = _fold(vocab[w], left, right, merged)
    return merges


@pytest.mark.parametrize("n_merges,min_pair_count", [(6, 2), (3, 1)])
def test_wordpiece_fused_agg_merge_table_identical(spark, n_merges,
                                                   min_pair_count):
    """r15 fusion (one combined pair+symbol aggregation per iteration)
    must leave the merge table byte-identical to the unfused contract —
    pinned against a pure-Python recomputation."""
    df = _corpus(spark, _WP_ROWS)
    got = [tuple(r) for r in wordpiece_learn(
        df, n_merges=n_merges, min_pair_count=min_pair_count).collect()]
    want = _wordpiece_reference(_WP_ROWS, n_merges, min_pair_count)
    assert got == want and got  # non-vacuous


def test_bpe_lazy_checkpoint_merge_table_stable(spark):
    """bpe_learn's r15 lazy fold checkpoints must not change the merge
    table or the returned vocab segmentation (the fold materializes in
    the next iteration's job instead of its own)."""
    df = _corpus(spark, _WP_ROWS)
    merges, vocab = bpe_learn(df, n_merges=5, return_vocab=True)
    rows = [tuple(r) for r in merges.collect()]
    # hand-checked head of the merge sequence on this corpus: pair
    # counts are exact integers, ties lexicographic.
    assert len(rows) == 5 and rows[0][0] == 1
    # every corpus word's segmentation must re-concatenate to the word
    seg = vocab.select(
        "word", F.concat_ws("", F.col("syms")).alias("joined")).collect()
    assert seg and all(r["word"] == r["joined"] for r in seg)
    # determinism across a second run (lazy checkpoints materialize per
    # iteration — a stale/unmaterialized fold would desync the sequence)
    again = [tuple(r) for r in bpe_learn(df, n_merges=5).collect()]
    assert again == rows


def test_bench_mid_controls_are_additive():
    """r15 bench addition (VERDICT r14 #1/#5): the mid-weight controls
    must not change the original box_index definition or pins — a
    payload with only the two r13 controls keeps a readable box_index
    while box_index_mid reports unreadable."""
    import bench
    assert bench.CONTROL_REF == {"q01_top_parts": 0.75,
                                 "q06_join_chain_revenue": 1.52}
    assert set(bench.CONTROL_REF_MID) == {"q151_hybrid_rrf_retrieval",
                                          "q153_span_dedup_rewrite",
                                          "q129_heavy_hitters_cms"}
    out = bench.box_controls({"q01_top_parts": 0.75,
                              "q06_join_chain_revenue": 1.52})
    assert out["box_index"] == 1.0 and out["box_index_mid"] == -1.0
    full = dict(out["control_ref"], **out["control_ref_mid"])
    both = bench.box_controls(full)
    assert both["box_index"] == 1.0 and both["box_index_mid"] == 1.0


@pytest.mark.parametrize("threshold",
                         [0.3, 0.5, 0.8, 0.333333, 0.285714])
def test_prefix_filters_exact_at_q_1e6(spark, threshold):
    """ADVICE r14: the positional-prune division is now rationalized at
    q = 10^6 (numerators provably < 2^53 for all int32 set sizes, so
    both floor-divisions are exact). Output must still equal the
    brute-force all-pairs jaccard — including at thresholds that do NOT
    rationalize exactly (completeness may only weaken the prune)."""
    rows = [
        (0, "a b c d e f g h"),
        (1, "a b c d e f g h i j"),
        (2, "a b c " + " ".join(f"z{i}" for i in range(60))),
        (3, "a b c d"),
        (4, " ".join(f"q{i}" for i in range(25))),
        (5, " ".join(f"q{i}" for i in range(25)) + " extra tail words"),
        (6, "a b c d e f g h"),
    ]
    df = _corpus(spark, rows)
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
