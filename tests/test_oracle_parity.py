"""Replicates the driver's t2 gate locally: run each registered Spark query and
its DuckDB oracle twin at sf0.01, compare row count, column names, and an
order-insensitive value multiset."""

from __future__ import annotations

import math

import pytest

from ds_ga1004_bigdata_project_spark.queries import REGISTRY

from .conftest import SF_ORACLE

ORACLE_QUERIES = sorted(n for n, q in REGISTRY.items() if q.oracle is not None)
ROWS_ONLY_QUERIES = sorted(n for n, q in REGISTRY.items() if q.oracle is None)

#: Queries whose Spark and DuckDB pandas dtype KINDS are pinned equal by
#: ``test_dtype_kinds``, not just their values.
DTYPE_GATED = (
    "q253_relational_division", "q254_gini_concentration",
    "q255_t_closeness", "q256_weighted_quantiles",
    "q257_degree_assortativity", "q258_cusum_changepoint",
    "q259_ks_aa_test", "q260_knn_hubness", "q261_cohort_ltv_curve",
)


def _norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # kill -0.0 and ulp-level format noise
        return f"{v + 0.0:.10g}"
    return str(v)


def _norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm_cell(r[i]) for i in order) for r in rows)


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_oracle_parity(spark, duck, name):
    q = REGISTRY[name]
    sdf = q.build(spark, SF_ORACLE)
    spark_cols = sdf.columns
    spark_rows = [tuple(r) for r in sdf.collect()]

    res = duck.execute(q.oracle)
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), \
        f"{name}: column mismatch {spark_cols} vs {duck_cols}"
    assert len(spark_rows) == len(duck_rows), \
        f"{name}: rowcount {len(spark_rows)} vs {len(duck_rows)}"
    a = _norm_rows(spark_cols, spark_rows)
    b = _norm_rows(duck_cols, duck_rows)
    if a != b:
        diff = [(x, y) for x, y in zip(a, b) if x != y][:5]
        raise AssertionError(f"{name}: value mismatch, first diffs {diff}")


@pytest.mark.parametrize("name", ROWS_ONLY_QUERIES)
def test_rows_only_runs(spark, name):
    q = REGISTRY[name]
    df = q.build(spark, SF_ORACLE)
    assert df.count() >= 0
    assert len(df.columns) > 0


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    # oracle_sql keys must be a subset of queries keys
    qs, os_ = e.queries(), e.oracle_sql()
    assert set(os_) <= set(qs)


@pytest.mark.parametrize("name", DTYPE_GATED)
def test_dtype_kinds(spark, duck, name):
    """Driver-hash dtype discipline: pandas dtype KINDS must agree after
    column-name canonicalization (the replica's compare)."""
    q = REGISTRY[name]
    sp = q.build(spark, SF_ORACLE).toPandas()
    dk = duck.execute(q.oracle).fetchdf()
    sp = sp[sorted(sp.columns)]
    dk = dk[sorted(dk.columns)]
    pairs = [(c, sp[c].dtype.kind, dk[c].dtype.kind) for c in sp.columns]
    bad = [p for p in pairs if p[1] != p[2]]
    assert not bad, f"{name}: dtype-kind mismatch {bad}"


def test_rows_only_proof_table_is_exact():
    # VERDICT r9 #8: the rows-only tier is a documented CLOSED set — every
    # oracle-less registry query carries a one-line proof that no
    # SQL-expressible invariant exists, and no proof line goes stale
    # (names an oracle-backed or removed query). A new rows-only query
    # cannot ship without either an oracle or its proof entry.
    from ds_ga1004_bigdata_project_spark.queries import _ROWS_ONLY_PROOFS

    oracle_less = {n for n, e in REGISTRY.items() if e.oracle is None}
    assert set(_ROWS_ONLY_PROOFS) == oracle_less, (
        f"missing proofs: {oracle_less - set(_ROWS_ONLY_PROOFS)}; "
        f"stale proofs: {set(_ROWS_ONLY_PROOFS) - oracle_less}")
    for name, proof in _ROWS_ONLY_PROOFS.items():
        assert len(proof) > 40, f"{name}'s proof line is not a proof"
