"""The benchmark's workloads: inputs, operations and output checks.

Each workload is a fixed list of operations run closed loop by one client:
an operation starts only after the previous one has finished. An operation
is a ``build`` call into the engine's public entry points (a registry
builder, or an ``ml.*`` / ``sources.*`` / ``functions.*`` function) followed
by an ``execute`` that materializes its result. Outputs are checked after
each pass, outside the timed region.

Sizes are set so that one run (set-up, warm-up passes, timed passes and
checks) takes about a minute on a 4-core box.
"""

from __future__ import annotations

import hashlib
import math
import os
import shutil
from collections.abc import Callable
from dataclasses import dataclass, field
from typing import Any

import numpy as np

import gen

#: Fixed seed of the iterative_driver corpus. The run's ``--seed`` only
#: permutes its row order, so every answer (and the q127 digest) is the same
#: on every seed.
BASE_SEED = 20240101


@dataclass
class Ctx:
    """Per-run state handed to every operation."""
    spark: Any
    data_dir: str
    work_dir: str
    state: dict = field(default_factory=dict)
    cached: list = field(default_factory=list)

    def end_pass(self) -> None:
        """Release what a pass cached or wrote."""
        for df in self.cached:
            df.unpersist()
        self.cached.clear()
        self.state.clear()
        shutil.rmtree(self.work_dir, ignore_errors=True)


@dataclass(frozen=True)
class Op:
    """One closed-loop operation. ``execute=None`` marks a query op: its
    build returns a DataFrame that is planned, then collected."""
    name: str
    build: Callable[[Ctx], Any]
    execute: Callable[[Ctx, Any], Any] | None = None


def collect(df) -> tuple[list[str], list[tuple]]:
    return df.columns, [tuple(r) for r in df.collect()]


# ---------------------------------------------------------------------------
# Output normalisation (the order-insensitive form used by
# tests/test_oracle_parity.py, repeated here so the benchmark stays
# self-contained).

def _norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v + 0.0:.10g}"
    return str(v)


def norm_rows(cols, rows) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm_cell(r[i]) for i in order) for r in rows)


def digest(cols, rows) -> str:
    return hashlib.sha256(repr(norm_rows(cols, rows)).encode()).hexdigest()


def oracle_answers(data_dir: str, oracles: dict[str, str]) -> dict[str, tuple]:
    """DuckDB answers of ``oracles`` over the staged tables, normalised."""
    import duckdb

    con = duckdb.connect()
    try:
        for f in sorted(os.listdir(data_dir)):
            if f.endswith(".parquet"):
                path = os.path.join(data_dir, f)
                con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{path}'")
        out = {}
        for name, sql in oracles.items():
            res = con.execute(sql)
            cols = [d[0] for d in res.description]
            out[name] = (sorted(cols), norm_rows(cols, res.fetchall()))
        return out
    finally:
        con.close()


def in_child(fn: Callable, *args):
    """``fn(*args)`` in a child Python process that is waited for, so its
    memory never counts in this process's peak RSS. ``fn`` is a module-level
    function of this directory; the call and its result are pickled."""
    import pickle
    import subprocess
    import sys
    import tempfile

    with tempfile.TemporaryDirectory() as tmp:
        path = os.path.join(tmp, "call.pkl")
        with open(path, "wb") as f:
            pickle.dump((fn, args), f)
        subprocess.run([sys.executable, os.path.abspath(__file__), path],
                       check=True)
        with open(path, "rb") as f:
            return pickle.load(f)


class OracleGate:
    """Compares query-op outputs with their DuckDB oracle over the same
    staged files, or with a pinned digest where no oracle exists. The
    oracle runs once, in a child process."""

    def __init__(self, data_dir: str, oracles: dict[str, str],
                 digests: dict[str, str]):
        self.expected = in_child(oracle_answers, data_dir, oracles)
        self.digests = digests

    def check(self, ctx: Ctx, outputs: dict) -> dict[str, str]:
        bad = {}
        for name, (cols, rows) in outputs.items():
            if name in self.digests:
                got = digest(cols, rows)
                if got != self.digests[name]:
                    bad[name] = f"digest {got} != {self.digests[name]}"
                continue
            want_cols, want = self.expected[name]
            if sorted(cols) != want_cols:
                bad[name] = f"columns {sorted(cols)} != {want_cols}"
            elif norm_rows(cols, rows) != want:
                bad[name] = (f"values differ ({len(rows)} rows vs "
                             f"{len(want)} oracle rows)")
        return bad


@dataclass(frozen=True)
class Workload:
    """A workload; the reason for each is in ``BENCHMARK.json``."""
    name: str
    stage: Callable[[int, str], tuple[str, dict]]
    ops: tuple[Op, ...]
    #: data_dir -> object whose ``check(ctx, outputs)`` returns
    #: {op name: defect} for one pass.
    gate: Callable[[str], Any]
    #: Untimed passes in the set-up. The JVM's JIT keeps compiling for
    #: several passes after the first (pass CPU falls by half over the first
    #: three or four), so one warm-up pass leaves the timed passes on a
    #: falling curve.
    warmup_passes: int
    #: Timed passes a run makes at least. A fixed count keeps every run at
    #: the same point of the JIT warm-up curve; ``--seconds`` can only add
    #: passes.
    min_passes: int


def _staged(cache_root: str, key: str, make: Callable[[], dict]
            ) -> tuple[str, dict]:
    out_dir = os.path.join(cache_root, key)
    info = gen.cached(out_dir)
    if info is None:
        shutil.rmtree(out_dir, ignore_errors=True)
        info = gen.stage(make(), out_dir)
    return out_dir, info


# ---------------------------------------------------------------------------
# recsys_msd — the paper's pipeline.

MSD_USERS, MSD_TRACKS, MSD_MEAN_HISTORY = 1_000, 2_000, 20
RECSYS_K = 500
#: Fixed, so the validation share is the same on every seed.
SPLIT_SEED = 7


def _stage_msd(seed: int, cache_root: str):
    key = f"recsys_msd-s{seed}-u{MSD_USERS}-t{MSD_TRACKS}-h{MSD_MEAN_HISTORY}"
    return _staged(cache_root, key, lambda: {
        "interactions": gen.msd_interactions(
            MSD_USERS, MSD_TRACKS, MSD_MEAN_HISTORY, seed)})


def _index(ctx: Ctx):
    from pyspark.sql import functions as F

    from ds_ga1004_bigdata_project_spark.ml.indexing import ml_string_indexer

    raw = ctx.spark.read.parquet(
        os.path.join(ctx.data_dir, "interactions.parquet"))
    _, indexed = ml_string_indexer(raw, ["user_id", "track_id"])
    return indexed.select(F.col("user_id_idx").cast("int").alias("user"),
                          F.col("track_id_idx").cast("int").alias("item"),
                          F.col("count").cast("float").alias("count"))


def _write(ctx: Ctx, df):
    from ds_ga1004_bigdata_project_spark.sources.catalog import write_parquet

    write_parquet(df, os.path.join(ctx.work_dir, "indexed"))


def _read(ctx: Ctx):
    return ctx.spark.read.parquet(os.path.join(ctx.work_dir, "indexed"))


def _persist_count(ctx: Ctx, df) -> int:
    ctx.cached.append(df.persist())
    return df.count()


def _split(ctx: Ctx):
    from ds_ga1004_bigdata_project_spark.ml.protocol import holdout_splits

    return holdout_splits(ctx.state["sources.read"], user_col="user",
                          item_col="item", seed=SPLIT_SEED)


def _persist_splits(ctx: Ctx, splits):
    # The test split is only read by the gate's disjointness check.
    return tuple(_persist_count(ctx, df)
                 for df in (splits.train, splits.validation))


def _fit(ctx: Ctx):
    from ds_ga1004_bigdata_project_spark.ml.als import ALSConfig, train_als

    # One ALS block per local core (Spark's default is 10).
    blocks = ctx.spark.sparkContext.defaultParallelism
    return train_als(ctx.state["ml.split"].train,
                     ALSConfig(rank=10, max_iter=10, num_blocks=blocks),
                     user_col="user", item_col="item", rating_col="count")


def _recommend(ctx: Ctx):
    from ds_ga1004_bigdata_project_spark.ml.als import recommend_topk

    users = ctx.state["ml.split"].validation.select("user").distinct()
    return recommend_topk(ctx.state["ml.fit"], users, RECSYS_K)


def _collect_recs(ctx: Ctx, df) -> dict[int, list[int]]:
    ctx.cached.append(df.persist())
    return {r["user"]: list(r["pred_items"]) for r in df.collect()}


def _evaluate(ctx: Ctx):
    from ds_ga1004_bigdata_project_spark.ml.als import ground_truth_lists
    from ds_ga1004_bigdata_project_spark.ml.metrics import (
        ranking_metrics, rmse)

    val = ctx.state["ml.split"].validation
    truth = ground_truth_lists(val, user_col="user", item_col="item")
    ranking = ranking_metrics(ctx.state["ml.recommend"], truth, RECSYS_K)
    err = rmse(ctx.state["ml.fit"].transform(val), "count", "prediction")
    return truth, ranking, err


def _collect_eval(ctx: Ctx, built) -> dict:
    truth, ranking, err = built
    return {"truth": {r["user"]: list(r["truth_items"])
                      for r in truth.collect()},
            "ranking": ranking.collect()[0].asDict(),
            "rmse": err.collect()[0].asDict()}


def ranking_reference(preds: dict, truth: dict, k: int) -> dict:
    """NumPy recomputation of MAP, precision@k and NDCG@k with the
    ``mllib.RankingMetrics`` definitions ``ml.metrics`` documents."""
    ap, pk, ndcg = [], [], []
    for user, items in preds.items():
        if not items:
            continue
        tset = set(truth.get(user, ()))
        hits = np.array([x in tset for x in items], dtype=np.float64)
        ranks = np.arange(1, len(items) + 1, dtype=np.float64)
        cum = np.cumsum(hits)
        ap.append(float((hits * cum / ranks).sum() / len(tset))
                  if tset else 0.0)
        pk.append(float(hits[:k].sum() / k))
        m = min(len(tset), k)
        idcg = float((1.0 / np.log2(np.arange(m) + 2.0)).sum())
        dcg = float((hits[:k] / np.log2(np.arange(min(len(items), k)) + 2.0)
                     ).sum())
        ndcg.append(dcg / idcg if m else 0.0)
    return {"map": float(np.mean(ap)), "precision_at_k": float(np.mean(pk)),
            "ndcg_at_k": float(np.mean(ndcg)), "n_users": len(ap)}


class RecsysGate:
    """Checks one pass of the pipeline: metric values against a NumPy
    recomputation from the collected lists, disjoint validation and test
    users, and min(k, n_items) distinct items per evaluated user."""

    def check(self, ctx: Ctx, outputs: dict) -> dict[str, str]:
        bad = {}
        splits = ctx.state.get("ml.split")
        if "ml.split" in outputs and splits is not None:
            val = {r[0] for r in splits.validation.select("user")
                   .distinct().collect()}
            test = {r[0] for r in splits.test.select("user")
                    .distinct().collect()}
            if val & test:
                bad["ml.split"] = f"{len(val & test)} users in val and test"
        recs = outputs.get("ml.recommend")
        if recs is not None and "ml.fit" in ctx.state:
            n_items = ctx.state["ml.fit"].itemFactors.count()
            want = min(RECSYS_K, n_items)
            short = [u for u, items in recs.items()
                     if len(set(items)) != want or len(items) != want]
            if short:
                bad["ml.recommend"] = (f"{len(short)} users without {want} "
                                       f"distinct items")
        ev = outputs.get("ml.evaluate")
        if ev is not None and recs is not None:
            ref = ranking_reference(recs, ev["truth"], RECSYS_K)
            got = ev["ranking"]
            diffs = [m for m in ("map", "precision_at_k", "ndcg_at_k")
                     if abs(got[m] - ref[m]) > 1e-6]
            if diffs or got["n_users"] != ref["n_users"]:
                bad["ml.evaluate"] = f"metrics {got} != reference {ref}"
            if not math.isfinite(ev["rmse"]["rmse"]):
                bad["ml.evaluate"] = f"rmse {ev['rmse']}"
        return bad


RECSYS_OPS = (
    Op("ml.index", _index, lambda ctx, df: None),
    Op("sources.write", lambda ctx: ctx.state["ml.index"], _write),
    Op("sources.read", _read, _persist_count),
    Op("ml.split", _split, _persist_splits),
    Op("ml.fit", _fit, lambda ctx, model: None),
    Op("ml.recommend", _recommend, _collect_recs),
    Op("ml.evaluate", _evaluate, _collect_eval),
)


# ---------------------------------------------------------------------------
# iterative_driver — driver-loop operators on a fixed corpus, permuted rows.

ITER_SF = 0.01
BPE_MERGES = 4
#: Expected q127 output digest on the fixed base tables (row-order
#: invariant, so identical on every seed).
Q127_DIGEST = (
    "5e1329db57c599562b444e48e7f296e1047f52411e7e0e97f31733eab3b0e7ed")


def _stage_iterative(seed: int, cache_root: str):
    key = f"iterative_driver-s{seed}-sf{ITER_SF}"
    return _staged(cache_root, key, lambda: gen.permute_rows(
        gen.corpus_tables(ITER_SF, BASE_SEED), seed))


def _registry_op(name: str) -> Op:
    def build(ctx: Ctx):
        from ds_ga1004_bigdata_project_spark.queries import REGISTRY

        return REGISTRY[name].build(ctx.spark, ctx.data_dir)
    return Op(name, build)


def _bpe(ctx: Ctx):
    from ds_ga1004_bigdata_project_spark.functions.subword import bpe_learn
    from ds_ga1004_bigdata_project_spark.sources.catalog import Catalog

    docs = Catalog(ctx.spark, ctx.data_dir).documents
    return bpe_learn(docs, n_merges=BPE_MERGES).orderBy("merge_rank")


ITERATIVE_OPS = (
    Op("bpe_learn", _bpe),
    _registry_op("q127_kmeans_lloyd"),
)


def _iterative_gate(data_dir: str) -> OracleGate:
    from ds_ga1004_bigdata_project_spark.functions.subword import bpe_learn_sql

    return OracleGate(data_dir,
                      {"bpe_learn": bpe_learn_sql(n_merges=BPE_MERGES)},
                      {"q127_kmeans_lloyd": Q127_DIGEST})


WORKLOADS = {w.name: w for w in (
    Workload("recsys_msd", _stage_msd, RECSYS_OPS,
             lambda data_dir: RecsysGate(), warmup_passes=3, min_passes=4),
    Workload("iterative_driver", _stage_iterative, ITERATIVE_OPS,
             _iterative_gate, warmup_passes=3, min_passes=4),
)}


if __name__ == "__main__":
    # The child side of ``in_child``.
    import pickle
    import sys

    with open(sys.argv[1], "rb") as _f:
        _fn, _args = pickle.load(_f)
    _result = _fn(*_args)
    with open(sys.argv[1], "wb") as _f:
        pickle.dump(_result, _f)
