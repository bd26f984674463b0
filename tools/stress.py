#!/usr/bin/env python
"""Unified N× corpus stress runner (VERDICT r11 #6 — replaces
wave11_stress.py / q208_stress.py / stress_10x.py with one tool).

Builds a factor-N copy of one table (`--table
documents|events|embeddings`) with the established replica
constructions, stages BOTH corpora as on-disk
sf-dirs (so 1× and N× pay the identical scan path — every other table
is symlinked from the base sf-dir), then times each named registry
query min-of-two in one warm JVM and prints a JSON dossier row per
query. Event replicas shift event AND user ids — N× fresh users with
the original per-user time structure, so session/funnel shapes grow by
population, not by densifying one user's history.

Corpus constructions (`--corpus`):

- ``replica`` (default; the wave11 recipe): ids shifted by i·max_id,
  text and sources unchanged. Every document becomes an N-clique of
  exact near-duplicates — ADVERSARIAL for dedup/overlap operators
  (edge relations grow ~N²), the right stress for histogram/rollup/
  postings shapes whose fan-out must NOT follow the clique structure.
- ``salted`` (the q208/real-shaped recipe): replica i additionally
  rewrites every whitespace token t as ``r{i}·t`` — a per-replica
  bijection on the token alphabet, so each replica preserves the
  original corpus's INTERNAL duplicate-pair structure exactly while no
  fingerprint can collide across replicas. Constant dup density: the
  honest "N× fresh data at the same duplication rate" stress for
  dedup-family operators (expect edges ~N×, wall ≲ N×). The 1× corpus
  is the replica-0 rewrite so both sides pay the salting+scan path.
  For ``--table embeddings``, ``salted`` maps to a per-replica CYCLIC
  DIMENSION ROLL (an orthogonal permutation: intra-replica cosine/kNN
  structure preserved exactly, cross-replica pairs decorrelated — N×
  fresh-looking vectors at the original neighbor density), while
  ``replica`` keeps plain copies (distance-0 cliques — adversarial for
  kNN tiers, right for quantization/rollup shapes).

``--table sales`` (r14) stages lineitem, orders AND customer jointly —
orderkeys and custkeys shifted in lockstep (every join pair intact, N×
fresh customers), part/supplier/nation/region left 1× — TPC-H's own
fact-vs-dimension growth shape for that half of the registry.
``--corpus`` is ignored for sales (fact ids are opaque).

Usage:
  python tools/stress.py --query q211_mad_outliers q218_source_vocab_overlap
  python tools/stress.py --query q149_cdc_overlap_clusters --corpus salted
  python tools/stress.py --query q227 q228 --table events
  python tools/stress.py --query q147 --factor 5   # prefix match ok
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _resolve(names: list[str], registry) -> list[str]:
    out = []
    for n in names:
        hits = [q for q in registry if q == n or q.startswith(n)]
        if len(hits) != 1:
            raise SystemExit(
                f"--query {n!r}: {'ambiguous ' + str(hits) if hits else 'no match'}")
        out.append(hits[0])
    return out


def _stage(spark, sf_dir: str, factor: int, corpus: str,
           table: str) -> tuple[str, str]:
    """Write 1× and N× copies of ``table`` into two staged sf-dirs;
    symlink every other table so any registry query can run against
    them. ``documents`` replicas shift doc ids (and optionally salt
    tokens); ``events`` replicas shift event AND user ids — N× fresh
    users with the original per-user time structure, so session/funnel
    shapes grow by population, not by densifying one user's history."""
    from pyspark.sql import functions as F

    from ds_ga1004_bigdata_project_spark.sources.catalog import Catalog

    cat = Catalog(spark, sf_dir)
    if table == "documents":
        base = cat.documents
        max_id = base.agg(F.max("doc_id")).collect()[0][0] + 1

        def replica(i: int):
            shifted = base.withColumn(
                "doc_id", F.col("doc_id") + F.lit(i * max_id))
            if corpus == "replica":
                return shifted
            tag = F.lit(f"r{i}·")
            return shifted.withColumn(
                "text",
                F.array_join(F.transform(F.split(F.col("text"), r"\s+"),
                                         lambda t: F.concat(tag, t)), " "))
    elif table == "events":
        base = cat.events
        max_e, max_u = base.agg(
            F.max("event_id"), F.max("user_id")).collect()[0]
        max_e, max_u = max_e + 1, max_u + 1

        def replica(i: int):
            return (base
                    .withColumn("event_id",
                                F.col("event_id") + F.lit(i * max_e))
                    .withColumn("user_id",
                                F.col("user_id") + F.lit(i * max_u)))
    elif table == "embeddings":  # VERDICT r12 #7 — three-table coverage
        base = cat.embeddings
        max_id = base.agg(F.max("vec_id")).collect()[0][0] + 1
        dim = len(base.select("embedding").first()[0])

        def replica(i: int):
            shifted = base.withColumn(
                "vec_id", F.col("vec_id") + F.lit(i * max_id))
            # roll amount cycles 1..dim-1 for i>0 (ADVICE r13: a plain
            # i % dim sent every i = dim, 2*dim, ... replica through the
            # k == 0 identity branch, silently reintroducing the
            # distance-0 cliques whenever --factor exceeds dim); only
            # replica 0 is the exact copy.
            k = 0 if i == 0 else 1 + ((i - 1) % (dim - 1))
            if corpus == "replica" or k == 0:
                # plain copies: every vector gains N-1 exact duplicates —
                # ADVERSARIAL for kNN/near-dup tiers (distance-0 cliques),
                # the right stress for quantization/rollup shapes that
                # must not care about duplicate mass (q223/q214).
                return shifted
            # "salted" analog: per-replica CYCLIC DIMENSION ROLL — an
            # orthogonal permutation, so intra-replica distances (and
            # every cosine/kNN structure) are preserved EXACTLY while
            # cross-replica pairs decorrelate: N× fresh-looking vectors
            # at the original neighbor density, the honest ANN stress.
            e = F.col("embedding")
            return shifted.withColumn(
                "embedding",
                F.concat(F.slice(e, k + 1, dim - k), F.slice(e, 1, k)))

    else:  # sales (r14 — the TPC-H fact-shape mode)
        # Joint lineitem+orders+customer fact growth: orderkeys shift
        # in LOCKSTEP across lineitem/orders and custkeys across
        # orders/customer, so EVERY join pair stays intact — N× fresh
        # customers each with the original order structure (TPC-H's own
        # scaling shape: customers/orders/lineitem scale with SF, while
        # part/supplier/nation/region stay 1× here, growing
        # per-dimension-key multiplicities N×). No salted variant:
        # fact ids are opaque.
        li, od, cu = cat.lineitem, cat.orders, cat.customer
        max_ok = od.agg(F.max("o_orderkey")).collect()[0][0] + 1
        max_ck = cu.agg(F.max("c_custkey")).collect()[0][0] + 1

        def replica(i: int):
            return {
                "lineitem.parquet": li.withColumn(
                    "l_orderkey", F.col("l_orderkey") + F.lit(i * max_ok)),
                "orders.parquet": od.withColumn(
                    "o_orderkey", F.col("o_orderkey") + F.lit(i * max_ok))
                .withColumn(
                    "o_custkey", F.col("o_custkey") + F.lit(i * max_ck)),
                "customer.parquet": cu.withColumn(
                    "c_custkey", F.col("c_custkey") + F.lit(i * max_ck)),
            }

    def _as_dict(rep):
        return rep if isinstance(rep, dict) else {f"{table}.parquet": rep}

    root = tempfile.mkdtemp(prefix="stress_")
    dirs = []
    staged_names = set(_as_dict(replica(0)))
    for tag_name, n_reps in (("1x", 1), (f"{factor}x", factor)):
        d = os.path.join(root, tag_name)
        os.makedirs(d)
        for entry in os.listdir(sf_dir):
            if entry not in staged_names:
                os.symlink(os.path.join(sf_dir, entry),
                           os.path.join(d, entry))
        big = _as_dict(replica(0))
        for i in range(1, n_reps):
            for name, df in _as_dict(replica(i)).items():
                big[name] = big[name].unionByName(df)
        for name, df in big.items():
            df.write.mode("overwrite").parquet(os.path.join(d, name))
        dirs.append(d)
    return dirs[0], dirs[1]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--query", nargs="+", required=True,
                    help="registry query names (unique prefix ok)")
    ap.add_argument("--factor", type=int, default=10)
    ap.add_argument("--corpus", choices=("replica", "salted"),
                    default="replica")
    ap.add_argument("--table", choices=("documents", "events",
                                        "embeddings", "sales"),
                    default="documents")
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()

    from ds_ga1004_bigdata_project_spark.queries import REGISTRY
    from ds_ga1004_bigdata_project_spark.session import get_local_session

    names = _resolve(args.query, REGISTRY)
    spark = get_local_session(app_name="stress")
    spark.sparkContext.setLogLevel("ERROR")
    one_dir, big_dir = _stage(spark, args.sf_dir, args.factor,
                              args.corpus, args.table)

    def timed(name: str, d: str) -> float:
        best = float("inf")
        for _ in range(2):
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            REGISTRY[name].build(spark, d).write.format("noop") \
                .mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        return round(best, 2)

    for name in names:
        w1 = timed(name, one_dir)
        wN = timed(name, big_dir)
        print(json.dumps({
            "query": name, "corpus": args.corpus, "table": args.table,
            "factor": args.factor,
            "wall_1x_sec": w1, f"wall_{args.factor}x_sec": wN,
            "ratio": round(wN / w1, 2), "sf_dir": args.sf_dir}),
            flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
