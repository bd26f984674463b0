"""Seeded input generators for the benchmark workloads.

Every table is written as one parquet file per table into a directory laid
out like the engine's ``sf_dir`` (``<dir>/<table>.parquet``), so registry
builders and the DuckDB oracles read it unchanged. Generation runs before any
timed region and is cached by (workload, seed, size) under the checkout's
``.perfbench_cache/``.

Shapes follow the fixture tables the engine is developed against: a
30-word-vocabulary document corpus with 5% near-duplicates and unit-norm
64-d embeddings with ten labels. The MSD table follows FIXTURES.md F1 (40-hex
user ids, ``TR`` track ids).
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Rows per table at scale factor 1.0 (the fixture convention).
ROWS_PER_SF = {"documents": 50_000, "embeddings": 20_000}

_WORDS = ("a agg batch big column customer data fast filter group hash join "
          "key line merge order part query row scan slow small sort spark "
          "stream table the value vector window").split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]


def corpus_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """documents and embeddings at scale ``sf`` from ``seed``."""
    rng = np.random.default_rng(seed)
    nd = max(20, int(round(ROWS_PER_SF["documents"] * sf)))
    lens = rng.integers(10, 101, nd)
    words = np.array(_WORDS)[rng.integers(0, len(_WORDS), int(lens.sum()))]
    ends = np.cumsum(lens)
    texts = [" ".join(words[e - k:e]) for e, k in zip(ends, lens)]
    # 5% near-duplicates: a copy of another document plus one extra token.
    dups = rng.choice(nd, size=nd // 20, replace=False)
    for d in dups:
        texts[d] = texts[(d + 1 + rng.integers(0, nd - 1)) % nd] + " dup"
    docs = pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": np.array(_LANGS)[rng.choice(5, nd, p=_LANG_P)],
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    ne = max(16, int(round(ROWS_PER_SF["embeddings"] * sf)))
    vecs = rng.standard_normal((ne, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pa.table({
        "vec_id": pa.array(np.arange(ne), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, ne), pa.int32())})

    return {"documents": docs, "embeddings": emb}


def permute_rows(tables: dict[str, pa.Table], seed: int
                 ) -> dict[str, pa.Table]:
    """Same rows, row order permuted by ``seed`` (the physical layout is the
    only thing that changes, so every query answer is seed-invariant)."""
    rng = np.random.default_rng(seed)
    return {name: t.take(pa.array(rng.permutation(t.num_rows)))
            for name, t in tables.items()}


def msd_interactions(n_users: int, n_tracks: int, mean_history: float,
                     seed: int) -> pa.Table:
    """MSD-shaped play-count table ``(user_id string, track_id string,
    count int)``: Zipf(1.1) track popularity, geometric history length per
    user (mean ``mean_history``), heavy-tailed counts >= 1 (most tracks
    played once or twice), distinct (user, track) pairs.

    History lengths are the geometric distribution's quantiles dealt to
    users at random, so every seed gives the same number of rows."""
    rng = np.random.default_rng(seed)
    q = (np.arange(n_users) + 0.5) / n_users
    lens = np.ceil(np.log1p(-q) / np.log1p(-1.0 / mean_history)).astype(int)
    lens = rng.permutation(np.clip(lens, 1, n_tracks))
    pop = np.arange(1, n_tracks + 1, dtype=np.float64) ** -1.1
    # Gumbel top-k: each user's tracks drawn without replacement in
    # proportion to popularity.
    keys = np.log(pop) + rng.gumbel(size=(n_users, n_tracks))
    order = np.argsort(-keys, axis=1)
    take = np.arange(n_tracks) < lens[:, None]
    users = np.repeat(np.arange(n_users), lens)
    tracks = order[take]
    ukeys = np.array([rng.bytes(20).hex() for _ in range(n_users)])
    tkeys = np.array(["TR" + rng.bytes(8).hex().upper()
                      for _ in range(n_tracks)])
    counts = np.minimum(rng.geometric(0.45, users.size), 500)
    perm = rng.permutation(users.size)
    return pa.table({
        "user_id": ukeys[users[perm]],
        "track_id": tkeys[tracks[perm]],
        "count": pa.array(counts[perm], pa.int32())})


def stage(tables: dict[str, pa.Table], out_dir: str) -> dict:
    """Write ``tables`` as ``<out_dir>/<name>.parquet``, one row group per
    file like the fixture tables, and return {name: {rows, bytes}}."""
    os.makedirs(out_dir, exist_ok=True)
    info = {}
    for name, t in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(t, path, row_group_size=max(1, t.num_rows))
        info[name] = {"rows": t.num_rows, "bytes": os.path.getsize(path)}
    with open(os.path.join(out_dir, "_tables.json"), "w") as f:
        json.dump(info, f, sort_keys=True)
    return info


def cached(out_dir: str) -> dict | None:
    """Table info of a completed staging in ``out_dir``, else None."""
    try:
        with open(os.path.join(out_dir, "_tables.json")) as f:
            return json.load(f)
    except FileNotFoundError:
        return None
