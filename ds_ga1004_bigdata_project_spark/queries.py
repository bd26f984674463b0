"""Named query registry — the driver contract surface.

``REGISTRY`` is the one table of queries, filled in registration order by
the ``@_register`` decorator (a duplicate name raises ``ValueError``).
Each entry pairs a Spark builder ``(spark, sf_dir) -> DataFrame`` composed
from the engine's operator library with, where SQL-expressible, a DuckDB
oracle twin with IDENTICAL output column names. Computed columns are
aliased on both sides; money/qty aggregates go through exact DECIMAL sums
(see ``operators.aggregates``) so the value-hash comparison is
engine-independent. A query without an oracle carries a one-line proof
in ``_ROWS_ONLY_PROOFS`` of why no SQL twin can exist.

Consumers that need a stable order sort ``REGISTRY`` by name; importing
this module only registers builders — it reads no files and runs no
Spark job.

Determinism rule: any query with a LIMIT/top-k carries a total-order tiebreak;
any grouped list is order-embedded (``sort_array``); floats are rounded after
exact arithmetic.

Build-time contract: builders are plan constructors — calling one
normally runs NO Spark job — with one narrow exception, the
driver-metadata-probe class: a builder may run a bounded metadata-scale
action (a 1-row bounds ``first()``, a partition-offset read) when the PLAN
itself depends on the value (q226's grid size; ``ranks.py`` offsets;
events.py's touched-bucket probe). Such builders say so in their docstring;
plan dumps / schema probes / tour enumeration of those queries therefore
touch the source once at metadata scale.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .functions import subword
from .functions import text as T
from .ml import kmeans
from .operators import aggregates as agg
from .operators import bloom, dedup, relational as rel, sampling, sketches
from .operators import similarity as sim
from .sources.catalog import Catalog


@dataclass(frozen=True)
class Query:
    name: str
    build: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL twin; None → rows-only harness check
    survey: str         # SURVEY.md §2 operator ids this query covers


REGISTRY: dict[str, Query] = {}


def _register(name: str, survey: str, oracle: str | None):
    def deco(fn):
        if name in REGISTRY:
            raise ValueError(f"query {name!r} is already registered")
        REGISTRY[name] = Query(name, fn, oracle, survey)
        return fn
    return deco


# =====================================================================
# Relational core (SURVEY §2.1-2.8) on the TPC-H-ish star schema
# =====================================================================

@_register(
    "q01_top_parts",
    survey="S1,A3,O4,J1 (flagship: Exploration-EDA.ipynb#cell72-75 top-tracks shape)",
    oracle="""
        SELECT l.l_partkey, p.p_name,
               round(CAST(sum(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_qty
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY l.l_partkey, p.p_name
        ORDER BY sum_qty DESC, l.l_partkey ASC
        LIMIT 20
    """,
)
def q01_top_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: top-20 most-shipped parts — scan → agg → broadcast-join dim →
    global top-N (the reference's top-tracks EDA query re-expressed)."""
    cat = Catalog(spark, sf_dir)
    sums = cat.lineitem.groupBy("l_partkey").agg(agg.exact_sum("l_quantity", "sum_qty"))
    named = rel.broadcast_inner_join(
        sums, cat.part.select(F.col("p_partkey").alias("l_partkey"), "p_name"),
        "l_partkey")
    return rel.global_topn(
        named.select("l_partkey", "p_name", "sum_qty"),
        [F.col("sum_qty").desc(), F.col("l_partkey").asc()], 20)


@_register(
    "q02_pricing_summary",
    survey="A3,A8,P7 (TPC-H Q1 shape; groupby-sum Exploration-EDA.ipynb#cell73)",
    oracle="""
        SELECT l_returnflag, l_linestatus,
               round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_qty,
               round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_base_price,
               round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*), 4) AS avg_qty,
               count(*) AS cnt
        FROM lineitem
        GROUP BY l_returnflag, l_linestatus
    """,
)
def q02_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pricing summary: multi-aggregate hash agg with partial (map-side)
    combine — per-key state only crosses the shuffle."""
    cat = Catalog(spark, sf_dir)
    return cat.lineitem.groupBy("l_returnflag", "l_linestatus").agg(
        agg.exact_sum("l_quantity", "sum_qty"),
        agg.exact_sum("l_extendedprice", "sum_base_price"),
        agg.exact_avg("l_quantity", "avg_qty"),
        F.count(F.lit(1)).alias("cnt"),
    )


@_register(
    "q03_scan_filter_project",
    survey="P1,P7 (projection+range predicate; pushdown to parquet scan)",
    oracle="""
        SELECT l_orderkey, l_partkey, l_quantity
        FROM lineitem
        WHERE l_quantity BETWEEN 5 AND 10 AND l_returnflag = 'R'
    """,
)
def q03_scan_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection + range filter. Both reach the parquet reader (PushedFilters
    + 3-column ReadSchema in the physical plan)."""
    cat = Catalog(spark, sf_dir)
    return (rel.filter_in_range(cat.lineitem, "l_quantity", 5, 10)
            .filter(F.col("l_returnflag") == "R")
            .select("l_orderkey", "l_partkey", "l_quantity"))


@_register(
    "q04_semi_join",
    survey="P4,J5 (isin → left-semi rewrite of sample_indexer.py:39)",
    oracle="""
        SELECT o_orderkey, o_custkey,
               round(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE), 2) AS total
        FROM orders
        WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
    """,
)
def q04_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    keys = (cat.customer.filter(F.col("c_mktsegment") == "BUILDING")
            .select(F.col("c_custkey").alias("o_custkey")))
    return rel.semi_join(cat.orders, keys, "o_custkey").select(
        "o_orderkey", "o_custkey",
        F.round(F.col("o_totalprice").cast("decimal(18,2)").cast("double"), 2)
        .alias("total"))


@_register(
    "q05_anti_join",
    survey="J4,U2 (driver-side set difference → left-anti rewrite of sample_indexer.py:28-33)",
    oracle="""
        SELECT c_custkey, c_name
        FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def q05_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    keys = cat.orders.select(F.col("o_custkey").alias("c_custkey"))
    return rel.anti_join(cat.customer, keys, "c_custkey").select("c_custkey", "c_name")


@_register(
    "q06_join_chain_revenue",
    survey="J1,J2,A3 (multi-key inner-join chain, Exploration-EDA.ipynb#cell45-52)",
    oracle="""
        SELECT r.r_name, n.n_name,
               round(CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4)))
                     AS DOUBLE), 4) AS revenue,
               count(*) AS n_items
        FROM region r
        JOIN nation n   ON n.n_regionkey = r.r_regionkey
        JOIN customer c ON c.c_nationkey = n.n_nationkey
        JOIN orders o   ON o.o_custkey  = c.c_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY r.r_name, n.n_name
    """,
)
def q06_join_chain_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped star join. Dims broadcast (explicitly hinted); only the
    fact→orders join shuffles, and AQE re-plans it from runtime stats."""
    cat = Catalog(spark, sf_dir)
    joined = rel.join_chain(
        cat.lineitem,
        (F.broadcast(cat.orders.select("o_orderkey", "o_custkey")),
         F.col("l_orderkey") == F.col("o_orderkey")),
        (F.broadcast(cat.customer.select("c_custkey", "c_nationkey")),
         F.col("o_custkey") == F.col("c_custkey")),
        (F.broadcast(cat.nation), F.col("c_nationkey") == F.col("n_nationkey")),
        (F.broadcast(cat.region), F.col("n_regionkey") == F.col("r_regionkey")),
    )
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")
    return joined.groupBy("r_name", "n_name").agg(
        F.round(F.sum(rev).cast("double"), 4).alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


@_register(
    "q07_full_outer_counts",
    survey="J3 (full-outer join, Exploration-EDA.ipynb#cell35,#cell39)",
    oracle="""
        WITH cc AS (SELECT c_nationkey AS nationkey, count(*) AS customer_cnt
                    FROM customer GROUP BY 1),
             sc AS (SELECT s_nationkey AS nationkey, count(*) AS supplier_cnt
                    FROM supplier GROUP BY 1)
        SELECT coalesce(cc.nationkey, sc.nationkey) AS nationkey,
               coalesce(customer_cnt, 0) AS customer_cnt,
               coalesce(supplier_cnt, 0) AS supplier_cnt
        FROM cc FULL OUTER JOIN sc ON cc.nationkey = sc.nationkey
    """,
)
def q07_full_outer_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    cc = cat.customer.groupBy(F.col("c_nationkey").alias("nationkey")) \
        .agg(F.count(F.lit(1)).alias("customer_cnt"))
    sc = cat.supplier.groupBy(F.col("s_nationkey").alias("nationkey")) \
        .agg(F.count(F.lit(1)).alias("supplier_cnt"))
    return (cc.join(sc, "nationkey", "outer")
            .select("nationkey",
                    F.coalesce("customer_cnt", F.lit(0)).alias("customer_cnt"),
                    F.coalesce("supplier_cnt", F.lit(0)).alias("supplier_cnt")))


@_register(
    "q08_distinct_flags",
    survey="A2 (distinct as hash agg, sample_indexer.py:28-30)",
    oracle="SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
)
def q08_distinct_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    return cat.lineitem.select("l_returnflag", "l_linestatus").distinct()


@_register(
    "q09_count_distinct",
    survey="A4 (count-distinct-by-group, Exploration-EDA.ipynb#cell72)",
    oracle="""
        SELECT c_nationkey, count(DISTINCT c_mktsegment) AS n_segments,
               count(*) AS n_customers
        FROM customer GROUP BY c_nationkey
    """,
)
def q09_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    return cat.customer.groupBy("c_nationkey").agg(
        F.countDistinct("c_mktsegment").alias("n_segments"),
        F.count(F.lit(1)).alias("n_customers"))


@_register(
    "q10_sorted_collect_list",
    survey="A1,O2-fix,P3 (order-embedded collect_list; param_train_1st.py:39-41)",
    oracle="""
        SELECT l_orderkey,
               string_agg(CAST(l_partkey AS VARCHAR), ',' ORDER BY l_partkey) AS parts,
               count(*) AS n_items
        FROM lineitem
        WHERE l_orderkey % 100 = 0
        GROUP BY l_orderkey
    """,
)
def q10_sorted_collect_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deterministic grouped-list (the reference's ground-truth track lists
    with the O2 nondeterminism fixed by embedding order in the aggregate)."""
    cat = Catalog(spark, sf_dir)
    li = cat.lineitem.filter(F.col("l_orderkey") % 100 == 0)
    lists = agg.collect_sorted_string(li, ["l_orderkey"], "l_partkey", "parts")
    counts = li.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("n_items"))
    return lists.join(counts, "l_orderkey")


@_register(
    "q11_argmax_per_order",
    survey="A11,W1 (argmax-over-group; dominant-genre shape Exploration-EDA.ipynb#cell96)",
    oracle="""
        SELECT l_orderkey, top_qty, top_part FROM (
          SELECT l_orderkey,
                 l_quantity AS top_qty, l_partkey AS top_part,
                 row_number() OVER (PARTITION BY l_orderkey
                                    ORDER BY l_quantity DESC, l_partkey DESC) AS rn
          FROM lineitem) WHERE rn = 1
    """,
)
def q11_argmax_per_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic argmax via ``max(struct(value, key))`` — one hash agg, no
    window sort (the oracle uses the window form; same result, worse plan)."""
    cat = Catalog(spark, sf_dir)
    top_qty, top_part = agg.argmax_struct("l_quantity", "l_partkey",
                                          "top_qty", "top_part")
    return cat.lineitem.groupBy("l_orderkey").agg(top_qty, top_part) \
        .select("l_orderkey", "top_qty", "top_part")


@_register(
    "q12_quantity_histogram",
    survey="A7,F8,P7 (binned counts + fractions, Exploration-EDA.ipynb#cell77-81)",
    oracle="""
        WITH b AS (
          SELECT CASE WHEN l_quantity < 1 THEN '<1'
                      WHEN l_quantity >= 1  AND l_quantity < 10 THEN '[1,10)'
                      WHEN l_quantity >= 10 AND l_quantity < 25 THEN '[10,25)'
                      WHEN l_quantity >= 25 AND l_quantity < 40 THEN '[25,40)'
                      ELSE '>=40' END AS bucket
          FROM lineitem)
        SELECT bucket, count(*) AS cnt,
               round(count(*) / CAST(sum(count(*)) OVER () AS DOUBLE), 4) AS ratio
        FROM b GROUP BY bucket
    """,
)
def q12_quantity_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    return agg.histogram(cat.lineitem, "l_quantity", [1, 10, 25, 40])


@_register(
    "q13_rank_suppliers",
    survey="W2,W3 (rank over window, Exploration-EDA.ipynb#cell86)",
    oracle="""
        SELECT s_suppkey, s_nationkey,
               round(CAST(CAST(s_acctbal AS DECIMAL(18,2)) AS DOUBLE), 2) AS acctbal,
               rank() OVER (PARTITION BY s_nationkey
                            ORDER BY s_acctbal DESC, s_suppkey ASC) AS bal_rank
        FROM supplier
    """,
)
def q13_rank_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    df = cat.supplier.select(
        "s_suppkey", "s_nationkey",
        F.round(F.col("s_acctbal").cast("decimal(18,2)").cast("double"), 2)
        .alias("acctbal"))
    return rel.rank_in_group(
        df, ["s_nationkey"],
        [F.col("acctbal").desc(), F.col("s_suppkey").asc()], "bal_rank")


@_register(
    "q14_topk_per_brand",
    survey="W1 (top-k per group = recommendForUserSubset relational analog)",
    oracle="""
        SELECT p_brand, p_partkey, p_retailprice FROM (
          SELECT p_brand, p_partkey, p_retailprice,
                 row_number() OVER (PARTITION BY p_brand
                                    ORDER BY p_retailprice DESC, p_partkey ASC) AS rn
          FROM part) WHERE rn <= 3
    """,
)
def q14_topk_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    return rel.topk_per_group(
        cat.part.select("p_brand", "p_partkey", "p_retailprice"),
        ["p_brand"], [F.col("p_retailprice").desc(), F.col("p_partkey").asc()], 3)


@_register(
    "q15_global_topn_orders",
    survey="O1,O4,O5 (global top-N → TakeOrderedAndProject)",
    oracle="""
        SELECT o_orderkey, o_custkey,
               round(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE), 2) AS total
        FROM orders ORDER BY total DESC, o_orderkey ASC LIMIT 25
    """,
)
def q15_global_topn_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    df = cat.orders.select(
        "o_orderkey", "o_custkey",
        F.round(F.col("o_totalprice").cast("decimal(18,2)").cast("double"), 2)
        .alias("total"))
    return rel.global_topn(df, [F.col("total").desc(), F.col("o_orderkey").asc()], 25)


@_register(
    "q16_union_distinct_keys",
    survey="U1,U3 (set union rewrite of sample_indexer.py:32)",
    oracle="""
        SELECT nationkey FROM (
          SELECT c_nationkey AS nationkey FROM customer
          UNION SELECT s_nationkey FROM supplier)
    """,
)
def q16_union_distinct_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    return rel.union_distinct(
        cat.customer.select(F.col("c_nationkey").alias("nationkey")),
        cat.supplier.select(F.col("s_nationkey").alias("nationkey")))


@_register(
    "q17_except_keys",
    survey="U2,J4 (set difference rewrite of sample_indexer.py:33)",
    oracle="""
        SELECT c_custkey AS custkey FROM customer
        EXCEPT SELECT o_custkey FROM orders
    """,
)
def q17_except_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    return rel.difference(
        cat.customer.select(F.col("c_custkey").alias("custkey")).distinct(),
        cat.orders.select(F.col("o_custkey").alias("custkey")).distinct())


@_register(
    "q18_intersect_keys",
    survey="U (intersect — free surface per SURVEY §2.7)",
    oracle="""
        SELECT c_nationkey AS nationkey FROM customer
        INTERSECT SELECT s_nationkey FROM supplier
    """,
)
def q18_intersect_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    return rel.intersection(
        cat.customer.select(F.col("c_nationkey").alias("nationkey")),
        cat.supplier.select(F.col("s_nationkey").alias("nationkey")))


@_register(
    "q19_scalar_string_funcs",
    survey="F1,F2,F3,F4,F7 (scalar exprs replacing pandas .apply; Exploration-EDA.ipynb#cell99-104)",
    oracle="""
        SELECT p_partkey,
               substr(p_name, 1, 10) AS name_prefix,
               CASE WHEN contains(lower(p_name), 'green') THEN 1 ELSE 0 END AS has_green,
               p_size - 1 AS size_shifted,
               round(CAST(CAST(p_retailprice AS DECIMAL(18,2)) AS DOUBLE), 2) AS price_rounded,
               coalesce(NULLIF(p_brand, 'Brand#11'), 'NA') AS brand_or_na,
               regexp_replace(p_type, '[aeiou]', '', 'g') AS type_novowels
        FROM part
    """,
)
def q19_scalar_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions import scalars as S
    cat = Catalog(spark, sf_dir)
    return cat.part.select(
        "p_partkey",
        F.substring("p_name", 1, 10).alias("name_prefix"),
        F.when(S.contains_word(F.col("p_name"), "green"), 1).otherwise(0)
        .alias("has_green"),
        S.shift_index(F.col("p_size")).alias("size_shifted"),
        F.round(F.col("p_retailprice").cast("decimal(18,2)").cast("double"), 2)
        .alias("price_rounded"),
        S.na_sentinel(F.nullif(F.col("p_brand"), F.lit("Brand#11"))).alias("brand_or_na"),
        F.regexp_replace("p_type", "[aeiou]", "").alias("type_novowels"),
    )


@_register(
    "q20_null_sentinel",
    survey="P6 (0-as-null normalization, Exploration-EDA.ipynb#cell46)",
    oracle="""
        WITH e AS (SELECT event_type,
                          CASE WHEN value < 1 THEN NULL ELSE value END AS v
                   FROM events)
        SELECT event_type, count(*) AS n_events, count(v) AS n_nonnull,
               round(count(v) / CAST(count(*) AS DOUBLE), 4) AS nonnull_ratio
        FROM e GROUP BY event_type
    """,
)
def q20_null_sentinel(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    e = cat.events.withColumn(
        "v", F.when(F.col("value") < 1, None).otherwise(F.col("value")))
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count("v").alias("n_nonnull"),
        F.round(F.count("v") / F.count(F.lit(1)).cast("double"), 4)
        .alias("nonnull_ratio"))


@_register(
    "q21_daily_rollup",
    survey="net-new date/time surface (SURVEY §2.8 note; events testbed)",
    oracle="""
        SELECT strftime(ts, '%Y-%m-%d') AS day,
               count(*) AS n_events,
               count(DISTINCT user_id) AS n_users,
               round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_value
        FROM events GROUP BY 1
    """,
)
def q21_daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    return cat.events.groupBy(
        F.date_format("ts", "yyyy-MM-dd").alias("day")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        agg.exact_sum("value", "sum_value"))


@_register(
    "q22_hourly_window",
    survey="streaming-shape tumbling window (SURVEY §2.13; F.window on events)",
    oracle="""
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
               event_type, count(*) AS n_events,
               round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_value
        FROM events GROUP BY 1, 2
    """,
)
def q22_hourly_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time window via ``F.window`` — the exact construct that
    becomes a Structured Streaming windowed agg by swapping read→readStream
    (see ``streaming/``)."""
    cat = Catalog(spark, sf_dir)
    return (cat.events
            .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 agg.exact_sum("value", "sum_value"))
            .select(F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss")
                    .alias("window_start"),
                    "event_type", "n_events", "sum_value"))


@_register(
    "q23_token_explode_count",
    survey="F5,A6,O4 (explode + token frequency, Exploration-EDA.ipynb#cell85)",
    oracle="""
        SELECT tok, count(*) AS cnt
        FROM (SELECT unnest(string_split(p_name, ' ')) AS tok FROM part)
        GROUP BY tok ORDER BY cnt DESC, tok ASC LIMIT 15
    """,
)
def q23_token_explode_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    toks = cat.part.select(F.explode(F.split("p_name", " ")).alias("tok"))
    counts = agg.group_counts(toks, ["tok"])
    return rel.global_topn(counts, [F.col("cnt").desc(), F.col("tok").asc()], 15)


@_register(
    "q24_sessionize",
    survey="streaming-shape sessionization (lag window + gap cumsum; batch form)",
    oracle="""
        WITH g AS (
          SELECT user_id, ts,
                 CASE WHEN date_diff('second',
                          lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                          ts) > 1800
                      OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                      THEN 1 ELSE 0 END AS new_session
          FROM events)
        SELECT user_id, count(*) AS n_events,
               CAST(sum(new_session) AS BIGINT) AS n_sessions
        FROM g GROUP BY user_id
    """,
)
def q24_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization: lag + cumulative new-session markers. The
    streaming twin is ``applyInPandasWithState`` / ``session_window`` (see
    ``streaming/``); this batch form is the oracle-checkable shape."""
    cat = Catalog(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    marked = cat.events.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap > 1800), 1).otherwise(0))
    return marked.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("new_session").alias("n_sessions"))


@_register(
    "q25_nested_projection",
    survey="P2,P3,A1 (array-of-struct dot-path projection; param_train_1st.py:57-58 shape)",
    oracle="""
        WITH nested AS (
          SELECT l_orderkey,
                 list(struct_pack(item := l_partkey, qty := l_quantity)
                      ORDER BY l_quantity DESC, l_partkey ASC) AS recs
          FROM lineitem WHERE l_orderkey % 200 = 0 GROUP BY l_orderkey)
        SELECT l_orderkey,
               array_to_string(list_transform(recs, s -> CAST(s.item AS VARCHAR)), ',')
                 AS items,
               len(recs) AS n_recs
        FROM nested
    """,
)
def q25_nested_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's recommendation-result shape: build an ordered
    array<struct<item,qty>> per key, then dot-path-project the nested field
    out (``col('recommendations.track_idx')``)."""
    cat = Catalog(spark, sf_dir)
    nested = (cat.lineitem.filter(F.col("l_orderkey") % 200 == 0)
              .groupBy("l_orderkey")
              .agg(F.array_sort(
                  F.collect_list(F.struct(
                      F.col("l_partkey").alias("item"),
                      F.col("l_quantity").alias("qty"))),
                  lambda a, b: F.when(a.getField("qty") > b.getField("qty"), -1)
                  .when(a.getField("qty") < b.getField("qty"), 1)
                  .when(a.getField("item") < b.getField("item"), -1)
                  .when(a.getField("item") > b.getField("item"), 1)
                  .otherwise(0)).alias("recs")))
    # dot-path projection on the array-of-struct column (P2)
    return nested.select(
        "l_orderkey",
        F.array_join(F.col("recs.item").cast("array<string>"), ",").alias("items"),
        F.size("recs").alias("n_recs"))


@_register(
    "q26_map_aggregation",
    survey="A5,A11,F6 (map-building agg + map_keys/values/argmax; EDA #cell36,#cell96)",
    oracle="""
        WITH seg AS (
          SELECT c_nationkey, c_mktsegment, count(*) AS cnt
          FROM customer GROUP BY 1, 2)
        SELECT c_nationkey,
               string_agg(c_mktsegment, ',' ORDER BY c_mktsegment) AS segments,
               max(cnt) AS max_cnt,
               count(*) AS n_segments
        FROM seg GROUP BY c_nationkey
    """,
)
def q26_map_aggregation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-track tag→score dict as a first-class MapType: build
    ``map<segment,count>`` per nation via map_from_entries, then consume it
    with map_keys / map_values / array_max — the genre-argmax pattern."""
    cat = Catalog(spark, sf_dir)
    seg = cat.customer.groupBy("c_nationkey", "c_mktsegment") \
        .agg(F.count(F.lit(1)).alias("cnt"))
    mapped = agg.map_agg(seg, ["c_nationkey"], "c_mktsegment", "cnt", alias="m")
    return mapped.select(
        "c_nationkey",
        F.array_join(F.sort_array(F.map_keys("m")), ",").alias("segments"),
        F.array_max(F.map_values("m")).alias("max_cnt"),
        F.size(F.map_keys("m")).alias("n_segments"))


@_register(
    "q27_rmse_native",
    survey="A9,M5 (RMSE as native aggregate; replaces RegressionEvaluator)",
    oracle="""
        SELECT round(sqrt(avg(pow(l.l_extendedprice - p.p_retailprice * l.l_quantity, 2))), 4)
                 AS rmse,
               count(*) AS n
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    """,
)
def q27_rmse_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RMSE between actual line price and a naive retail-price prediction —
    the (label, prediction) aggregate shape of ``one_train.py:57-58`` kept
    entirely in Catalyst."""
    from .ml.metrics import rmse
    cat = Catalog(spark, sf_dir)
    joined = rel.broadcast_inner_join(
        cat.lineitem.select("l_partkey", "l_extendedprice", "l_quantity"),
        cat.part.select("p_partkey", "p_retailprice"),
        F.col("l_partkey") == F.col("p_partkey"))
    scored = joined.select(
        F.col("l_extendedprice").alias("label"),
        (F.col("p_retailprice") * F.col("l_quantity")).alias("pred"))
    return rmse(scored, "label", "pred").select(
        F.round("rmse", 4).alias("rmse"), "n")


@_register(
    "q28_running_total",
    survey="W3 (window frame specs — rowsBetween; latent surface the reference imported)",
    oracle="""
        SELECT o_custkey, o_orderkey,
               round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                          OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS DOUBLE), 2) AS running_total,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate, o_orderkey) AS order_seq
        FROM orders
    """,
)
def q28_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative per-customer spend: an explicit ROWS frame over an ordered
    window (decimal-exact so the running sum is engine-independent)."""
    cat = Catalog(spark, sf_dir)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    frame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return cat.orders.select(
        "o_custkey", "o_orderkey",
        F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).over(frame)
                .cast("double"), 2).alias("running_total"),
        F.row_number().over(w).alias("order_seq"))


@_register(
    "q29_lag_lead_delta",
    survey="W3 (lag/lead over event time; net-new vs reference)",
    oracle="""
        SELECT user_id, event_id,
               round(value - lag(value) OVER (PARTITION BY user_id
                                              ORDER BY ts, event_id), 2) AS delta_prev,
               round(lead(value) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) - value, 2) AS delta_next
        FROM events
    """,
)
def q29_lag_lead_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return cat.events.select(
        "user_id", "event_id",
        F.round(F.col("value") - F.lag("value").over(w), 2).alias("delta_prev"),
        F.round(F.lead("value").over(w) - F.col("value"), 2).alias("delta_next"))


@_register(
    "q42_range_join",
    survey="custom-op range join (point-in-interval via bin-bucketed equi-join)",
    oracle="""
        WITH iv AS (
          SELECT p_partkey,
                 CAST(p_partkey % 35 AS DOUBLE) AS lo,
                 CAST(p_partkey % 35 + 1 + p_size % 5 AS DOUBLE) AS hi
          FROM part)
        SELECT iv.p_partkey, iv.lo, iv.hi, count(*) AS n_points
        FROM events e JOIN iv ON e.value >= iv.lo AND e.value <= iv.hi
        GROUP BY 1, 2, 3
    """,
)
def q42_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-containment COUNT with the aggregation pushed below the range
    join (``operators.temporal.range_count_binned``): interval-interior bins
    take pre-aggregated cell counts (point-free), only boundary bins touch
    points — 7× faster than materializing the 84M matching pairs at sf0.1.
    The pair-materializing general operator (``range_join_binned``) is pinned
    equal in tests/test_temporal_joins.py and stays the path for non-aggregate
    range joins. Both sides stay distributed — no broadcast requirement."""
    from .operators.temporal import range_count_binned
    cat = Catalog(spark, sf_dir)
    intervals = cat.part.select(
        "p_partkey",
        (F.col("p_partkey") % 35).cast("double").alias("lo"),
        (F.col("p_partkey") % 35 + 1 + F.col("p_size") % 5).cast("double").alias("hi"))
    return range_count_binned(cat.events.select("event_id", "value"),
                              intervals, "value", "lo", "hi",
                              ["p_partkey"], bin_width=0.1)


@_register(
    "q49_asof_join",
    survey="custom-op as-of join (latest right row at-or-before left ts; union-scan impl)",
    oracle="""
        WITH r AS (
          SELECT o_custkey AS user_id, CAST(o_orderdate AS TIMESTAMP) AS ts,
                 max(struct_pack(price := round(CAST(CAST(o_totalprice AS DECIMAL(18,2))
                                                AS DOUBLE), 2),
                                 okey := o_orderkey)) AS p
          FROM orders GROUP BY 1, 2)
        SELECT e.event_id, e.user_id,
               strftime(e.ts, '%Y-%m-%d %H:%M:%S') AS event_ts,
               r.p.price AS last_order_price, r.p.okey AS last_order_key
        FROM events e ASOF LEFT JOIN r
          ON e.user_id = r.user_id AND e.ts >= r.ts
    """,
)
def q49_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (``operators.temporal.asof_join``): each event picks the
    customer's latest order at-or-before the event time. One shuffle + sort —
    checked against DuckDB's NATIVE ASOF JOIN. Right side pre-aggregated to
    one row per (key, ts) with a deterministic (price, key) max, matching
    ASOF's unique-timestamp contract."""
    from .operators.temporal import asof_join
    cat = Catalog(spark, sf_dir)
    m = F.max(F.struct(
        F.round(F.col("o_totalprice").cast("decimal(18,2)").cast("double"), 2)
        .alias("price"),
        F.col("o_orderkey").alias("okey")))
    right = (cat.orders
             .groupBy(F.col("o_custkey").alias("user_id"),
                      F.col("o_orderdate").cast("timestamp").alias("ts"))
             .agg(m.alias("p"))
             .select("user_id", "ts",
                     F.col("p.price").alias("last_order_price"),
                     F.col("p.okey").alias("last_order_key")))
    left = cat.events.select("event_id", "user_id", "ts")
    out = asof_join(left, right, on="user_id", ts="ts",
                    right_cols=["last_order_price", "last_order_key"])
    return out.select(
        "event_id", "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("event_ts"),
        "last_order_price", "last_order_key")


@_register(
    "q43_grouping_sets",
    survey="net-new rollup surface (multi-granularity aggregation in one pass)",
    oracle="""
        WITH g AS (
          SELECT event_type AS et,
                 strftime(date_trunc('day', ts), '%Y-%m-%d') AS d,
                 count(*) AS n_events,
                 round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_value
          FROM events
          GROUP BY GROUPING SETS ((et, d), (et), ()))
        SELECT coalesce(et, 'ALL') AS event_type, coalesce(d, 'ALL') AS day,
               n_events, sum_value
        FROM g
    """,
)
def q43_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style rollup: (type, day), (type), and grand-total
    granularities computed in ONE aggregation pass (no three separate scans —
    the multi-granularity dashboard query at 100 TB)."""
    # private view name — never clobber a caller's own "events" registration;
    # coalesce the subtotal NULL markers OUTSIDE the aggregation (inside, the
    # coalesce becomes part of the grouping expression and the label is lost)
    cat = Catalog(spark, sf_dir)
    cat.events.createOrReplaceTempView("_engine_q43_events")
    return spark.sql("""
        WITH g AS (
          SELECT event_type AS et,
                 date_format(date_trunc('day', ts), 'yyyy-MM-dd') AS d,
                 count(*) AS n_events,
                 round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_value
          FROM _engine_q43_events
          GROUP BY GROUPING SETS ((et, d), (et), ()))
        SELECT coalesce(et, 'ALL') AS event_type, coalesce(d, 'ALL') AS day,
               n_events, sum_value
        FROM g
    """)


@_register(
    "q44_having_filter",
    survey="net-new HAVING shape (post-aggregation predicate)",
    oracle="""
        SELECT o_custkey, count(*) AS n_orders,
               round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
                 AS total_spend
        FROM orders GROUP BY o_custkey
        HAVING count(*) >= 15
    """,
)
def q44_having_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    return (cat.orders.groupBy("o_custkey")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 agg.exact_sum("o_totalprice", "total_spend"))
            .filter(F.col("n_orders") >= 15))


@_register(
    "q45_conditional_share",
    survey="net-new conditional aggregation (sum(case)/sum market-share shape)",
    oracle="""
        SELECT l_linestatus,
               round(CAST(sum(CASE WHEN l_returnflag = 'R'
                                   THEN CAST(l_extendedprice AS DECIMAL(18,2))
                                   ELSE 0 END) AS DOUBLE)
                     / CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE),
                     6) AS returned_share,
               count(*) AS n_items
        FROM lineitem GROUP BY l_linestatus
    """,
)
def q45_conditional_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    dec = F.col("l_extendedprice").cast("decimal(18,2)")
    cat = Catalog(spark, sf_dir)
    return cat.lineitem.groupBy("l_linestatus").agg(
        F.round(
            F.sum(F.when(F.col("l_returnflag") == "R", dec)
                  .otherwise(F.lit(0).cast("decimal(18,2)"))).cast("double")
            / F.sum(dec).cast("double"), 6).alias("returned_share"),
        F.count(F.lit(1)).alias("n_items"))


@_register(
    "q46_json_extract",
    survey="net-new semi-structured surface (JSON path extraction from props)",
    oracle="""
        SELECT event_type,
               CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
                    AS BIGINT) AS sum_k,
               count(DISTINCT CAST(json_extract_string(props, '$.k') AS BIGINT))
                 AS n_distinct_k,
               max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
        FROM events GROUP BY event_type
    """,
)
def q46_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured columns: JSON path extraction stays JVM-side
    (``get_json_object``); at scale prefer ``from_json`` with an explicit
    schema once the shape is known (single parse, typed columns)."""
    cat = Catalog(spark, sf_dir)
    k = F.get_json_object("props", "$.k").cast("bigint")
    return cat.events.groupBy("event_type").agg(
        F.sum(k).alias("sum_k"),
        F.countDistinct(k).alias("n_distinct_k"),
        F.max(k).alias("max_k"))


@_register(
    "q47_pivot",
    survey="net-new pivot (wide conditional aggregation)",
    oracle="""
        SELECT c_nationkey,
               CAST(sum(CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN 1 ELSE 0 END) AS BIGINT) AS automobile,
               CAST(sum(CASE WHEN c_mktsegment = 'BUILDING'   THEN 1 ELSE 0 END) AS BIGINT) AS building,
               CAST(sum(CASE WHEN c_mktsegment = 'FURNITURE'  THEN 1 ELSE 0 END) AS BIGINT) AS furniture,
               CAST(sum(CASE WHEN c_mktsegment = 'HOUSEHOLD'  THEN 1 ELSE 0 END) AS BIGINT) AS household,
               CAST(sum(CASE WHEN c_mktsegment = 'MACHINERY'  THEN 1 ELSE 0 END) AS BIGINT) AS machinery
        FROM customer GROUP BY c_nationkey
    """,
)
def q47_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with an EXPLICIT value list — at scale never let pivot infer its
    columns (that's a distinct + collect of the pivot key)."""
    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    cat = Catalog(spark, sf_dir)
    out = (cat.customer.groupBy("c_nationkey")
           .pivot("c_mktsegment", segs)
           .agg(F.coalesce(F.count(F.lit(1)), F.lit(0))))
    renames = [F.col("c_nationkey")] + \
        [F.coalesce(F.col(s), F.lit(0)).alias(s.lower()) for s in segs]
    return out.select(*renames)


# =====================================================================
# Training-data pipeline: text analysis & deduplication (documents)
# =====================================================================

@_register(
    "q30_dedup_exact",
    survey="dedup-exact (hash-groupBy; LLM-pipeline op, BASELINE.json north star)",
    oracle="""
        SELECT md5(lower(trim(text))) AS content_hash,
               min(doc_id) AS keep_id, count(*) AS dup_cnt
        FROM documents GROUP BY 1
    """,
)
def q30_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: only (16-byte hash, id) pairs cross the shuffle — the
    100 TB-safe shape (text never shuffles)."""
    cat = Catalog(spark, sf_dir)
    return dedup.exact_dedup(cat.documents)


@_register(
    "q31_dedup_fingerprint",
    survey="dedup-canonical (order/duplication-invariant content fingerprint)",
    oracle="""
        SELECT md5(array_to_string(
                 list_sort(list_distinct(regexp_extract_all(lower(text), '[a-z0-9'']+'))),
                 ' ')) AS fingerprint,
               min(doc_id) AS keep_id, count(*) AS dup_cnt
        FROM documents GROUP BY 1
    """,
)
def q31_dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    return dedup.fingerprint_dedup(cat.documents)


@_register(
    "q32_ngram_jaccard_topk",
    survey="dedup-jaccard (inverted-index candidate join + exact n-gram Jaccard)",
    oracle="""
        WITH sh AS (
          SELECT doc_id AS id,
                 list_distinct(list_transform(
                   range(1, greatest(len(w) - 2, 0) + 1),
                   i -> array_to_string(list_slice(w, i, i + 2), ' '))) AS shingles
          FROM (SELECT doc_id, string_split_regex(text, '\\s+') AS w FROM documents)),
        sizes AS (SELECT id, len(shingles) AS set_size FROM sh),
        posting AS (SELECT id, unnest(shingles) AS shingle FROM sh),
        pairs AS (
          SELECT p1.id AS a, p2.id AS b, count(*) AS inter_cnt
          FROM posting p1 JOIN posting p2
            ON p1.shingle = p2.shingle AND p1.id < p2.id
          GROUP BY 1, 2),
        j AS (
          SELECT a, b, inter_cnt, sa.set_size AS a_cnt, sb.set_size AS b_cnt,
                 round(inter_cnt / CAST(sa.set_size + sb.set_size - inter_cnt AS DOUBLE), 6) AS jaccard
          FROM pairs JOIN sizes sa ON pairs.a = sa.id
                     JOIN sizes sb ON pairs.b = sb.id)
        SELECT a, b, inter_cnt, a_cnt, b_cnt, jaccard
        FROM j ORDER BY jaccard DESC, a ASC, b ASC LIMIT 50
    """,
)
def q32_ngram_jaccard_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 most-similar doc pairs by exact trigram Jaccard. Candidates come
    from an inverted-index self-join (docs only meet on shared shingles) — the
    exact-dedup scale path; never O(n²)."""
    cat = Catalog(spark, sf_dir)
    pairs = dedup.ngram_jaccard_pairs(cat.documents, n=3)
    return rel.global_topn(
        pairs, [F.col("jaccard").desc(), F.col("a").asc(), F.col("b").asc()], 50)


def _duck_lang_sql() -> str:
    """DuckDB twin of functions.text.lang_id: per-language lexicon-hit scores
    over distinct lowercase ws-tokens, argmax with ties → first language code."""
    from .functions.text import LANG_LEXICONS

    langs = sorted(LANG_LEXICONS)
    score_exprs = ",\n".join(
        f"len(list_intersect(toks, {list(LANG_LEXICONS[lang])})) AS s_{lang}"
        for lang in langs
    )
    # argmax with ties to earliest lang: lang_i wins iff its score >= all later
    case = "CASE "
    for i, lang in enumerate(langs):
        if i < len(langs) - 1:
            conds = " AND ".join(f"s_{lang} >= s_{later}" for later in langs[i + 1:])
            case += f"WHEN {conds} THEN '{lang}' "
        else:
            case += f"ELSE '{lang}' END"
    greatest = "greatest(" + ", ".join(f"s_{lang}" for lang in langs) + ")"
    return f"""
        WITH t AS (
          SELECT doc_id, lang,
                 list_distinct(list_transform(string_split_regex(text, '\\s+'),
                                              x -> lower(x))) AS toks
          FROM documents),
        s AS (SELECT doc_id, lang, {score_exprs} FROM t)
        SELECT doc_id, lang AS actual_lang, {case} AS pred_lang,
               {greatest} AS best_score
        FROM s
    """


@_register(
    "q33_lang_id",
    survey="text-langid (n-gram/stopword heuristic; LLM-pipeline op)",
    oracle=_duck_lang_sql(),
)
def q33_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    toks = T.ws_tokens(F.col("text"))
    scores = T.lang_scores(toks)
    return cat.documents.select(
        "doc_id",
        F.col("lang").alias("actual_lang"),
        T.lang_id(toks).alias("pred_lang"),
        F.greatest(*scores.values()).alias("best_score"),
    )


@_register(
    "q34_text_quality",
    survey="text-quality (length/stopword/diversity ratios; LLM-pipeline op)",
    oracle="""
        WITH t AS (SELECT doc_id, text, string_split_regex(text, '\\s+') AS w
                   FROM documents)
        SELECT doc_id,
               len(w) AS n_tokens,
               round(list_sum(list_transform(w, x -> len(x))) / CAST(len(w) AS DOUBLE), 4)
                 AS mean_tok_len,
               round(len(list_distinct(w)) / CAST(len(w) AS DOUBLE), 4) AS distinct_ratio,
               round(len(list_filter(w, x -> list_contains(
                       ['the','a','an','of','and','or','in','on','is','are','to'],
                       lower(x)))) / CAST(len(w) AS DOUBLE), 4) AS stopword_ratio,
               round(len(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))
                     / CAST(len(text) AS DOUBLE), 4) AS punct_ratio
        FROM t
    """,
)
def q34_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    toks = T.ws_tokens(F.col("text"))
    return cat.documents.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        T.mean_token_len(toks).alias("mean_tok_len"),
        T.distinct_token_ratio(toks).alias("distinct_ratio"),
        T.stopword_ratio(toks).alias("stopword_ratio"),
        T.punct_ratio(F.col("text")).alias("punct_ratio"),
    )


@_register(
    "q35_token_stats",
    survey="text-tokencount (ws + regex word tokenization; LLM-pipeline op)",
    oracle="""
        SELECT doc_id,
               len(string_split_regex(text, '\\s+')) AS n_ws_tokens,
               len(regexp_extract_all(text, '[A-Za-z0-9'']+')) AS n_word_tokens,
               len(text) AS len_chars
        FROM documents
    """,
)
def q35_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    return cat.documents.select(
        "doc_id",
        T.token_count(F.col("text")).alias("n_ws_tokens"),
        T.word_count(F.col("text")).alias("n_word_tokens"),
        F.length("text").alias("len_chars"),
    )


# =====================================================================
# Training-data pipeline: vector similarity (embeddings)
# =====================================================================

_DUCK_COS = """
  list_sum(list_transform(range(1, len({a}) + 1),
           i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE))
"""


@_register(
    "q37_topn_other",
    survey="A6,O4,F4 (top-N categories + 'other' consolidation; EDA #cell85-97 genre top-13)",
    oracle="""
        WITH counts AS (
          SELECT source, count(*) AS cnt FROM documents GROUP BY source),
        top3 AS (
          SELECT source FROM counts ORDER BY cnt DESC, source ASC LIMIT 3)
        SELECT CASE WHEN source IN (SELECT source FROM top3)
                    THEN source ELSE 'other' END AS source_group,
               count(*) AS n_docs,
               count(DISTINCT lang) AS n_langs
        FROM documents GROUP BY 1
    """,
)
def q37_topn_other(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's genre consolidation (top-13 kept, rest → 'other'):
    rank categories, broadcast the small top-N set back, relabel, reaggregate
    — two aggregations, one broadcast, no collect."""
    cat = Catalog(spark, sf_dir)
    counts = cat.documents.groupBy("source").agg(F.count(F.lit(1)).alias("cnt"))
    top3 = rel.global_topn(counts, [F.col("cnt").desc(), F.col("source").asc()], 3) \
        .select("source").withColumn("_top", F.lit(1))
    labeled = (cat.documents.join(F.broadcast(top3), "source", "left")
               .withColumn("source_group",
                           F.when(F.col("_top").isNotNull(), F.col("source"))
                           .otherwise(F.lit("other"))))
    return labeled.groupBy("source_group").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("lang").alias("n_langs"))


@_register(
    "q40_ann_cosine_topk",
    survey="similarity-ann (brute-force cosine top-k baseline; factors fixture F5)",
    oracle=f"""
        WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
                   WHERE vec_id < 10),
        c AS (SELECT vec_id AS n_id, embedding AS nv FROM embeddings),
        scored AS (
          SELECT query_id, n_id,
                 round({_DUCK_COS.format(a='qv', b='nv')} /
                       nullif(sqrt({_DUCK_COS.format(a='qv', b='qv')}) *
                              sqrt({_DUCK_COS.format(a='nv', b='nv')}), 0.0),
                       6) AS cosine_sim
          FROM q, c WHERE n_id <> query_id)
        SELECT query_id, n_id AS neighbor_id, cosine_sim FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
                     ORDER BY cosine_sim DESC, n_id ASC) AS rn
          FROM scored) WHERE rn <= 5
    """,
)
def q40_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-5 cosine neighbors for 10 query vectors: broadcast queries ⨯
    corpus, JVM higher-order dot product, per-query top-k window."""
    cat = Catalog(spark, sf_dir)
    emb = cat.embeddings
    return sim.cosine_topk(emb, emb.filter(F.col("vec_id") < 10), k=5)


@_register(
    "q41_cosine_neardup_pairs",
    survey="dedup-embedding (cosine near-dup pairs; brute-force verifier tier)",
    oracle=f"""
        WITH e AS (SELECT vec_id, embedding FROM embeddings),
        p AS (
          SELECT x.vec_id AS a, y.vec_id AS b,
                 round({_DUCK_COS.format(a='x.embedding', b='y.embedding')} /
                       nullif(sqrt({_DUCK_COS.format(a='x.embedding', b='x.embedding')}) *
                              sqrt({_DUCK_COS.format(a='y.embedding', b='y.embedding')}), 0.0),
                       6) AS cosine_sim
          FROM e x JOIN e y ON x.vec_id < y.vec_id)
        SELECT a, b, cosine_sim FROM p WHERE cosine_sim >= 0.3
    """,
)
def q41_cosine_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked all-pairs tier of embedding near-dup: exact numpy matmul per
    block pair, fully distributed — NO driver-side collect in the lineage
    (the r2-flagged ``cosine_neardup_pairs_blas`` broadcast-matrix variant
    stays in the library for candidate verification; the pure-expression
    tier ``sim.cosine_neardup_pairs`` remains the JVM-only fallback)."""
    cat = Catalog(spark, sf_dir)
    return sim.cosine_neardup_pairs_blocked(cat.embeddings, threshold=0.3)


# =====================================================================
# ML / recsys layer (SURVEY §2.11) + sampling + sketches + multimodal
# =====================================================================

@_register(
    "q48_merge_upsert",
    survey="net-new ETL merge/upsert (update-or-insert by key)",
    oracle="""
        WITH updates AS (
          SELECT c_custkey, c_name, c_nationkey,
                 round(CAST(CAST(c_acctbal * 2 AS DECIMAL(18,2)) AS DOUBLE), 2)
                   AS acctbal,
                 'UPDATED' AS c_mktsegment
          FROM customer WHERE c_custkey % 10 = 0),
        base AS (
          SELECT c_custkey, c_name, c_nationkey,
                 round(CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS DOUBLE), 2)
                   AS acctbal,
                 c_mktsegment
          FROM customer)
        SELECT * FROM base WHERE c_custkey NOT IN (SELECT c_custkey FROM updates)
        UNION ALL SELECT * FROM updates
    """,
)
def q48_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Warehouse MERGE: a deterministic update-set (every 10th customer,
    doubled balance, relabeled segment) upserted into the base table."""
    cat = Catalog(spark, sf_dir)
    bal = lambda c: F.round(c.cast("decimal(18,2)").cast("double"), 2)  # noqa: E731
    base = cat.customer.select(
        "c_custkey", "c_name", "c_nationkey",
        bal(F.col("c_acctbal")).alias("acctbal"), "c_mktsegment")
    updates = (cat.customer.filter(F.col("c_custkey") % 10 == 0)
               .select("c_custkey", "c_name", "c_nationkey",
                       bal(F.col("c_acctbal") * 2).alias("acctbal"),
                       F.lit("UPDATED").alias("c_mktsegment")))
    return rel.merge_upsert(base, updates, "c_custkey")


@_register(
    "q50_string_index_sql",
    survey="M1 (frequency-ordered dense codes, SQL path of StringIndexer)",
    oracle="""
        WITH m AS (
          SELECT c_mktsegment,
                 dense_rank() OVER (ORDER BY count(*) DESC, c_mktsegment ASC) - 1
                   AS c_mktsegment_idx
          FROM customer GROUP BY c_mktsegment)
        SELECT c.c_custkey, c.c_mktsegment, m.c_mktsegment_idx
        FROM customer c JOIN m USING (c_mktsegment)
    """,
)
def q50_string_index_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """StringIndexer's frequency-ordered dense codes as a pure-SQL fit +
    join-based transform — the driver-memory-independent path
    (``ml.indexing``; tie-break by value ascending, deterministic)."""
    from .ml import indexing as IX
    cat = Catalog(spark, sf_dir)
    mapping = IX.fit_sql_indexer(cat.customer, "c_mktsegment")
    return IX.transform_sql_indexer(cat.customer, mapping, "c_mktsegment") \
        .select("c_custkey", "c_mktsegment", "c_mktsegment_idx")


@_register(
    "q51_interactions_table",
    survey="M2-input (implicit-feedback fact table build; instructions.md:50-61 shape)",
    oracle="""
        SELECT o.o_custkey AS user_id, l.l_partkey AS item_id,
               round(CAST(sum(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) AS cnt
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY 1, 2
    """,
)
def q51_interactions_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    return (
        cat.lineitem.join(cat.orders.select("o_orderkey", "o_custkey"),
                          F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(F.col("o_custkey").alias("user_id"),
                 F.col("l_partkey").alias("item_id"))
        .agg(agg.exact_sum("l_quantity", "cnt"))
    )


def _duck_ranking_sql(k: int = 5) -> str:
    """DuckDB twin of the full ranking-metrics pipeline over deterministic
    pred/truth lists derived from lineitem (pred = top-k parts per order by
    quantity; truth = returned parts). IDCG is inlined as a CASE over
    min(|truth|, k) so no correlated subquery is needed."""
    import math
    idcg_case = "CASE least(truth_size, {k}) ".format(k=k)
    for m in range(1, k + 1):
        s = " + ".join(f"1.0/log2({i + 2}.0)" for i in range(m))
        idcg_case += f"WHEN {m} THEN ({s}) "
    idcg_case += "ELSE NULL END"
    return f"""
        WITH pred AS (
          SELECT l_orderkey AS u, l_partkey AS item,
                 row_number() OVER (PARTITION BY l_orderkey
                                    ORDER BY l_quantity DESC, l_partkey ASC) - 1 AS pos
          FROM lineitem QUALIFY pos < {k}),
        truth AS (SELECT DISTINCT l_orderkey AS u, l_partkey AS item
                  FROM lineitem WHERE l_returnflag = 'R'),
        tsize AS (SELECT u, count(*) AS truth_size FROM truth GROUP BY u),
        joined AS (
          SELECT p.u, p.pos,
                 CASE WHEN t.item IS NULL THEN 0 ELSE 1 END AS hit
          FROM pred p LEFT JOIN truth t ON p.u = t.u AND p.item = t.item),
        scored AS (
          SELECT u, pos, hit,
                 sum(hit) OVER (PARTITION BY u ORDER BY pos) AS hits_cum
          FROM joined),
        per_user AS (
          SELECT u,
                 sum(hit * hits_cum / CAST(pos + 1 AS DOUBLE)) AS ap_num,
                 sum(CASE WHEN pos < {k} THEN hit ELSE 0 END) AS hits_at_k,
                 sum(CASE WHEN pos < {k} THEN hit / log2(pos + 2.0) ELSE 0.0 END) AS dcg
          FROM scored GROUP BY u),
        pu AS (
          SELECT p.*, coalesce(t.truth_size, 0) AS truth_size
          FROM per_user p LEFT JOIN tsize t ON p.u = t.u),
        fin AS (
          SELECT CASE WHEN truth_size > 0 THEN ap_num / truth_size ELSE 0.0 END AS ap,
                 hits_at_k / {k}.0 AS p_at_k,
                 coalesce(dcg / ({idcg_case}), 0.0) AS ndcg
          FROM pu)
        SELECT round(avg(ap), 6) AS map,
               round(avg(p_at_k), 6) AS precision_at_k,
               round(avg(ndcg), 6) AS ndcg_at_k,
               count(*) AS n_users
        FROM fin
    """


@_register(
    "q52_ranking_metrics",
    survey="M6,A10,B1-fix (DataFrame-native MAP/P@k/NDCG@k; one_train.py:48-54)",
    oracle=_duck_ranking_sql(5),
)
def q52_ranking_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full ranking-metric aggregation, oracle-checked: deterministic pred
    (top-5 parts per order by quantity) vs truth (returned parts), evaluated
    by ``ml.metrics.ranking_metrics`` — no RDDs, no Python row funcs."""
    from .ml.metrics import ranking_metrics
    cat = Catalog(spark, sf_dir)
    li = cat.lineitem
    w = Window.partitionBy("l_orderkey").orderBy(
        F.col("l_quantity").desc(), F.col("l_partkey").asc())
    pred = (li.withColumn("pos", F.row_number().over(w) - 1)
            .filter(F.col("pos") < 5)
            .groupBy(F.col("l_orderkey").alias("user"))
            .agg(F.transform(
                F.sort_array(F.collect_list(F.struct(
                    F.col("pos"), F.col("l_partkey").alias("item")))),
                lambda s: s.getField("item")).alias("pred_items")))
    truth = (li.filter(F.col("l_returnflag") == "R")
             .groupBy(F.col("l_orderkey").alias("user"))
             .agg(F.collect_set("l_partkey").alias("truth_items")))
    return ranking_metrics(pred, truth, k=5, user_col="user")


@_register(
    "q53_als_recommend",
    survey="M2,M3,M4 (implicit ALS train + top-k recommend; seeded, rows-only)",
    oracle=None,
)
def q53_als_recommend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end recsys slice on driver tables: build interactions → fit
    implicit ALS (seed=123) → top-5 per user for 20 users. Seeded-ML output
    is engine-specific → rows-only check (FIXTURES.md Harness notes)."""
    from .ml import als as A
    cat = Catalog(spark, sf_dir)
    inter = A.interactions_from_orders(cat.lineitem, cat.orders) \
        .filter(F.col("user_id") < 500)
    # few, right-sized factor blocks: tiny inputs across 32×32 default blocks
    # is pure scheduling overhead (the reference pinned 50×50 for MSD scale)
    model = A.train_als(inter, A.ALSConfig(rank=4, max_iter=2, seed=123,
                                           num_blocks=4))
    users = (inter.select("user_id").distinct()
             .orderBy("user_id").limit(20))
    recs = A.recommend_topk(model, users, k=5)
    # Flatten the ranked list to CSV text: the harness canonicalizer sorts
    # result rows with pandas, which cannot factorize array cells (round-1
    # q53 crashed the WHOLE driver run on `unhashable type: 'list'`,
    # blocking q54+). Same surface trick as q25's nested output.
    # concat_ws silently DROPS null elements, which would make a null item id
    # indistinguishable from a shorter list — coalesce each element to a
    # sentinel first so list length stays observable (ALS items are non-null
    # today; this pins the shape).
    return recs.select(
        "user",
        F.concat_ws(",", F.transform(
            F.col("pred_items").cast("array<string>"),
            lambda x: F.coalesce(x, F.lit("∅")))).alias("pred_items"),
    )


@_register(
    "q54_stratified_sample",
    survey="R3-rewrite,J5 (sample keys + semi-join; sample_indexer.py:36-39, rows-only)",
    oracle=None,
)
def q54_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    sampled = sampling.stratified_key_sample(cat.lineitem, ["l_orderkey"], 0.1)
    return sampled.groupBy("l_returnflag").agg(F.count(F.lit(1)).alias("cnt"))


@_register(
    "q55_hash_sample",
    survey="R1/R2-deterministic (content-hash sampling — reproducible splits, rows-only)",
    oracle=None,
)
def q55_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    sampled = sampling.deterministic_hash_sample(cat.events, ["event_id"], 0.2)
    return sampled.groupBy("event_type").agg(F.count(F.lit(1)).alias("cnt"))


@_register(
    "q56_minhash_pairs",
    survey="dedup-minhash (native MinHash+LSH banding, exact-Jaccard verify; rows-only)",
    oracle=None,
)
def q56_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native banded MinHash (pure DataFrame ops — see
    ``dedup.minhash_banded_pairs``). 5-token shingles: the synthetic corpus
    has a ~30-word vocabulary, so short shingles collide into giant buckets;
    n=5 spreads the minima. The ml-based ``dedup.minhash_lsh_pairs`` stays as
    the pyspark.ml-parity alternative."""
    cat = Catalog(spark, sf_dir)
    return dedup.minhash_banded_pairs(cat.documents, n=5, bands=3,
                                      rows_per_band=3)


@_register(
    "q57_simhash_groups",
    survey="dedup-simhash (bit-vote signature grouping; rows-only)",
    oracle=None,
)
def q57_simhash_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    return dedup.simhash_dup_groups(cat.documents)


@_register(
    "q58_ivf_topk",
    survey="similarity-ivf (KMeans coarse-quantized ANN; scale path, rows-only)",
    oracle=None,
)
def q58_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    emb = cat.embeddings
    return sim.ivf_topk(emb, emb.filter(F.col("vec_id") < 10), k=5,
                        n_cells=8, n_probe=3)


@_register(
    "q59_brp_lsh_neighbors",
    survey="similarity-lsh (BucketedRandomProjectionLSH neighbor pairs, rows-only)",
    oracle=None,
)
def q59_brp_lsh_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unit-norm corpus: random-pair L2 ≈ √2, so 1.2 selects closer-than-
    random neighbors. ``bucket_length`` must sit near the PROJECTION spread
    (std ≈ 1/√d ≈ 0.125 for unit vectors at d=64), not the distance
    threshold: r3's bucket_length=1.0 put the whole corpus into 2 buckets
    per table and the candidate join went quadratic (the 38.8 s driver
    regression). 0.2 yields populated-but-selective buckets, and
    ``max_bucket_size`` hard-caps the work even if a projection degenerates
    (measured: 37.8k candidates for 2k vectors, ≈19/vector)."""
    cat = Catalog(spark, sf_dir)
    return sim.brp_lsh_neighbors(cat.embeddings, threshold_l2=1.2,
                                 bucket_length=0.2, num_tables=3,
                                 max_bucket_size=250)


@_register(
    "q36_corpus_clean",
    survey="pipeline-e2e (quality filter → language route → exact dedup → cleaned corpus)",
    oracle="""
        WITH scored AS (
          SELECT doc_id, text, lang,
                 len(string_split_regex(text, '\\s+')) AS n_tokens,
                 len(list_distinct(string_split_regex(text, '\\s+')))
                   / CAST(len(string_split_regex(text, '\\s+')) AS DOUBLE) AS distinct_ratio
          FROM documents),
        filtered AS (
          SELECT * FROM scored
          WHERE n_tokens >= 20 AND distinct_ratio >= 0.1 AND lang IN ('en','es','fr')),
        deduped AS (
          SELECT md5(lower(trim(text))) AS h, min(doc_id) AS doc_id
          FROM filtered GROUP BY 1)
        SELECT f.doc_id, f.lang, f.n_tokens
        FROM filtered f JOIN deduped d ON f.doc_id = d.doc_id
    """,
)
def q36_corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full training-data funnel in one query: quality-score → filter →
    language route → exact dedup (keep min id) → cleaned corpus. Each stage
    is scan-speed JVM expressions; the only shuffle is the dedup hash-group."""
    cat = Catalog(spark, sf_dir)
    toks = T.ws_tokens(F.col("text"))
    scored = cat.documents.select(
        "doc_id", "text", "lang",
        F.size(toks).alias("n_tokens"),
        T.distinct_token_ratio(toks, scale=None).alias("distinct_ratio"))
    filtered = scored.filter(
        (F.col("n_tokens") >= 20) & (F.col("distinct_ratio") >= 0.1)
        & F.col("lang").isin("en", "es", "fr"))
    keep = dedup.exact_dedup(filtered).select(F.col("keep_id").alias("doc_id"))
    return rel.semi_join(filtered, keep, "doc_id") \
        .select("doc_id", "lang", "n_tokens")


@_register(
    "q64_neardup_corpus",
    survey="pipeline-e2e (minhash pairs → connected components → survivor corpus, rows-only)",
    oracle=None,
)
def q64_neardup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup removal end-to-end: banded-MinHash candidate pairs (verified
    Jaccard ≥ 0.8) → min-label connected components → one survivor per
    cluster → cleaned corpus summary per language."""
    cat = Catalog(spark, sf_dir)
    caches: list[DataFrame] = []
    pairs = dedup.minhash_banded_pairs(cat.documents, n=5, bands=3,
                                       rows_per_band=3, min_jaccard=0.8,
                                       caches=caches)
    cleaned = dedup.dedup_corpus(cat.documents, pairs, upstream_caches=caches)
    return cleaned.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))


@_register(
    "q65_unpivot",
    survey="net-new unpivot/melt (wide→long via stack)",
    oracle="""
        SELECT p_partkey, 'size' AS attr, CAST(p_size AS DOUBLE) AS val FROM part
        UNION ALL
        SELECT p_partkey, 'retailprice' AS attr,
               round(CAST(CAST(p_retailprice AS DECIMAL(18,2)) AS DOUBLE), 2) AS val
        FROM part
    """,
)
def q65_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long melt via ``stack`` — one projection pass, no union of
    scans (the oracle's UNION ALL form reads the table twice; stack reads
    once)."""
    cat = Catalog(spark, sf_dir)
    return cat.part.select(
        "p_partkey",
        F.expr("""stack(2,
            'size', CAST(p_size AS DOUBLE),
            'retailprice', round(CAST(CAST(p_retailprice AS DECIMAL(18,2)) AS DOUBLE), 2)
        ) AS (attr, val)"""))


_STREAM_SEQ = iter(range(10_000))


@_register(
    "q62_streaming_hourly",
    survey="streaming (real Structured Streaming run: readStream → windowed agg → memory sink)",
    oracle="""
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
               event_type, count(*) AS n_events,
               round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_value
        FROM events GROUP BY 1, 2
    """,
)
def q62_streaming_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ONLY query that actually runs the streaming engine: events flow
    through readStream → watermark → tumbling windows → availableNow into a
    memory sink, and the drained table must match the same DuckDB oracle as
    the batch twin q22 — batch/stream semantic parity, oracle-certified."""
    import os

    from .streaming import events as SE

    name = f"q62_hourly_{next(_STREAM_SEQ)}"
    stream = SE.read_event_stream_auto(spark, os.path.join(sf_dir, "events.parquet"))
    SE.run_available_now(SE.hourly_counts(stream), name)
    return (spark.table(name)
            .select(F.date_format("window_start", "yyyy-MM-dd HH:mm:ss")
                    .alias("window_start"),
                    "event_type", "n_events", "sum_value"))


@_register(
    "q63_stateful_stream",
    survey="streaming-stateful (applyInPandasWithState custom operator; oracle-certified)",
    oracle="""
        SELECT user_id, count(*) AS n_events,
               round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2)
                 AS total_value
        FROM events GROUP BY user_id
    """,
)
def q63_stateful_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom per-user stateful streaming operator end-to-end: the final
    state after draining the whole file must equal the batch per-user totals.
    Oracle-certifiable because the state accumulates exact integer cents —
    addition-order independent, unlike a float running sum."""
    import os

    from .streaming import events as SE

    name = f"q63_state_{next(_STREAM_SEQ)}"
    stream = SE.read_event_stream_auto(spark, os.path.join(sf_dir, "events.parquet"))
    SE.run_available_now(SE.running_user_totals(stream), name, output_mode="update")
    # update-mode memory sink may hold one row per user per micro-batch; the
    # final state per user is the max-n row.
    t = spark.table(name)
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (t.withColumn("rn", F.row_number().over(w)).filter("rn = 1")
            .select("user_id", "n_events", "total_value"))


@_register(
    "q61_bernoulli_sample",
    survey="R1,R2,R4 (seeded row sample; Exploration-EDA.ipynb#cell43, rows-only)",
    oracle=None,
)
def q61_bernoulli_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded Bernoulli sample — engine-specific RNG ⇒ rows-only harness
    check; determinism under a fixed seed is asserted in
    tests/test_sampling.py."""
    cat = Catalog(spark, sf_dir)
    s = sampling.bernoulli_sample(cat.lineitem, 0.1, seed=66)
    return s.groupBy("l_returnflag").agg(F.count(F.lit(1)).alias("cnt"))


@_register(
    "q60_multimodal_features",
    survey="multimodal (binary payloads + mapInPandas feature extraction)",
    oracle="""
        SELECT doc_id,
               CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                               ELSE 'video' END AS modality,
               octet_length(encode(text)) AS n_bytes,
               md5(text) AS digest
        FROM documents
    """,
)
def q60_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column plumbing end-to-end: text-bytes stand in for media
    payloads, features extracted via Arrow-batched ``mapInPandas``. The
    byte-level outputs (length, md5) ARE oracle-checkable even though the
    decode itself is stubbed — proving the Python batch path computes exactly
    what the SQL engine says it should."""
    from .operators import multimodal as MM
    cat = Catalog(spark, sf_dir)
    payloads = MM.attach_payload(cat.documents)
    feats = MM.extract_features(payloads, fake=True)
    return feats.select("doc_id", "modality", "n_bytes", "digest")


# =====================================================================
# Analytical-surface batch 3: grouping-set totals, distribution ranks,
# subquery shapes, statistical/distinct aggregates, higher-order array
# functions, window navigation, string/date function suites.
# =====================================================================

@_register(
    "q66_rollup_totals",
    survey="net-new rollup (multi-level totals in one pass; complements q43 grouping sets)",
    oracle="""
        SELECT coalesce(l_returnflag, 'ALL') AS flag,
               coalesce(l_linestatus, 'ALL') AS status,
               count(*) AS cnt,
               round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_qty
        FROM lineitem
        GROUP BY ROLLUP(l_returnflag, l_linestatus)
    """,
)
def q66_rollup_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy (flag, flag+status, grand total) computed in a single
    shuffle — Spark expands grouping sets map-side, so the scan happens once
    where the naive UNION-of-aggregates form reads the table three times."""
    cat = Catalog(spark, sf_dir)
    return (cat.lineitem.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("cnt"),
        agg.exact_sum("l_quantity", "sum_qty"))
        .select(F.coalesce("l_returnflag", F.lit("ALL")).alias("flag"),
                F.coalesce("l_linestatus", F.lit("ALL")).alias("status"),
                "cnt", "sum_qty"))


@_register(
    "q67_distribution_ranks",
    survey="net-new window distribution (ntile / percent_rank / cume_dist)",
    oracle="""
        SELECT c_custkey,
               ntile(4)   OVER w AS quartile,
               round(percent_rank() OVER w, 6) AS pct_rank,
               round(cume_dist()    OVER w, 6) AS cum_dist
        FROM customer
        WINDOW w AS (ORDER BY c_acctbal, c_custkey)
    """,
)
def q67_distribution_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions over a total order (acctbal, custkey
    tiebreak) — via ``global_distribution_ranks``'s ADAPTIVE dispatch
    (``operators/ranks.py``): a size probe bounds the input, small inputs
    run the plain window directly, large ones the range-partitioned
    construction — so this query is fast at sf0.1 AND safe at 100 TB
    (VERDICT r4 #4; the scalable construction itself stays oracle-certified
    by q101, which forces it)."""
    from .operators.ranks import global_distribution_ranks
    cat = Catalog(spark, sf_dir)
    out = global_distribution_ranks(
        cat.customer.select("c_custkey", "c_acctbal"),
        key_cols=["c_acctbal", "c_custkey"], tiebreak_cols=[], ntile=4)
    return out.select(
        "c_custkey",
        F.col("ntile").alias("quartile"),
        F.round("percent_rank", 6).alias("pct_rank"),
        F.round("cume_dist", 6).alias("cum_dist"))


@_register(
    "q68_exists_counts",
    survey="net-new EXISTS/NOT EXISTS (semi/anti-join rewrite; J4/J5 generalized)",
    oracle="""
        SELECT c_mktsegment,
               count(*) FILTER (WHERE EXISTS
                 (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)) AS n_with_orders,
               count(*) FILTER (WHERE NOT EXISTS
                 (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)) AS n_without_orders
        FROM customer c
        GROUP BY c_mktsegment
    """,
)
def q68_exists_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS / NOT EXISTS expressed as one left-outer join against the
    distinct key set + conditional counts — one shuffle instead of the two
    separate semi+anti passes a literal rewrite would take."""
    cat = Catalog(spark, sf_dir)
    okeys = cat.orders.select(F.col("o_custkey").alias("c_custkey")).distinct() \
        .withColumn("_has", F.lit(1))
    joined = cat.customer.join(okeys, "c_custkey", "left")
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.when(F.col("_has").isNotNull(), 1)).alias("n_with_orders"),
        F.count(F.when(F.col("_has").isNull(), 1)).alias("n_without_orders"))


@_register(
    "q69_above_brand_avg",
    survey="net-new correlated-scalar-subquery shape (price above brand average)",
    oracle="""
        SELECT p_partkey, p_brand,
               round(p_retailprice, 2) AS price,
               round(CAST(sum(CAST(p_retailprice AS DECIMAL(18,2)))
                            OVER (PARTITION BY p_brand) AS DOUBLE)
                     / count(*) OVER (PARTITION BY p_brand), 2) AS brand_avg
        FROM part
        QUALIFY p_retailprice >
                CAST(sum(CAST(p_retailprice AS DECIMAL(18,2)))
                       OVER (PARTITION BY p_brand) AS DOUBLE)
                / count(*) OVER (PARTITION BY p_brand)
    """,
)
def q69_above_brand_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (price > per-brand average) as a window
    aggregate + post-filter: one partition-by-brand shuffle, no self-join.
    The average is decimal-exact-sum / count so the comparison and the
    reported value are order-independent (float avg is not)."""
    cat = Catalog(spark, sf_dir)
    w = Window.partitionBy("p_brand")
    exact_avg = (F.sum(F.col("p_retailprice").cast("decimal(18,2)")).over(w)
                 .cast("double") / F.count(F.lit(1)).over(w))
    return (cat.part
            .withColumn("_avg", exact_avg)
            .filter(F.col("p_retailprice") > F.col("_avg"))
            .select("p_partkey", "p_brand",
                    F.round("p_retailprice", 2).alias("price"),
                    F.round("_avg", 2).alias("brand_avg")))


@_register(
    "q70_stats_suite",
    survey="net-new statistical aggregates (corr / covar_samp / stddev / variance)",
    oracle="""
        SELECT l_returnflag,
               round(corr(l_extendedprice, l_quantity), 4) AS price_qty_corr,
               round(covar_samp(l_extendedprice, l_quantity), 1) AS price_qty_covar,
               round(stddev_samp(l_quantity), 4) AS qty_stddev,
               round(var_samp(l_quantity), 3) AS qty_var
        FROM lineitem
        GROUP BY l_returnflag
    """,
)
def q70_stats_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-moment aggregates — all partial-aggregatable (sum/sum-sq/cross
    cases combine associatively), so they scale exactly like plain sums."""
    cat = Catalog(spark, sf_dir)
    return cat.lineitem.groupBy("l_returnflag").agg(
        F.round(F.corr("l_extendedprice", "l_quantity"), 4).alias("price_qty_corr"),
        F.round(F.covar_samp("l_extendedprice", "l_quantity"), 1).alias("price_qty_covar"),
        F.round(F.stddev_samp("l_quantity"), 4).alias("qty_stddev"),
        F.round(F.var_samp("l_quantity"), 3).alias("qty_var"))


@_register(
    "q71_group_percentiles",
    survey="net-new exact percentiles (percentile_cont interpolation per group)",
    oracle="""
        SELECT l_linestatus,
               round(percentile_cont(0.25) WITHIN GROUP (ORDER BY l_quantity), 4) AS p25,
               round(percentile_cont(0.5)  WITHIN GROUP (ORDER BY l_quantity), 4) AS p50,
               round(percentile_cont(0.75) WITHIN GROUP (ORDER BY l_quantity), 4) AS p75
        FROM lineitem
        GROUP BY l_linestatus
    """,
)
def q71_group_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolation percentiles per group (Spark ``percentile``
    == ANSI percentile_cont). Exact needs the full value multiset per group —
    fine for low-cardinality groups; the sketch-based scale path is
    ``percentile_approx`` (tests/test_approx_aggregates.py)."""
    cat = Catalog(spark, sf_dir)
    return cat.lineitem.groupBy("l_linestatus").agg(
        F.round(F.expr("percentile(l_quantity, 0.25)"), 4).alias("p25"),
        F.round(F.expr("percentile(l_quantity, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(l_quantity, 0.75)"), 4).alias("p75"))


@_register(
    "q72_vector_norms",
    survey="net-new higher-order array functions (transform/filter/aggregate on embeddings)",
    oracle="""
        SELECT vec_id,
               len(embedding) AS n_dims,
               round(sqrt(list_aggregate(
                 list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                 'sum')), 4) AS l2_norm,
               len(list_filter(embedding, x -> x > 0)) AS n_positive
        FROM embeddings
    """,
)
def q72_vector_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order lambda functions on array columns, fully JVM-side (no
    Python boundary): per-row L2 norm, dimensionality, positive-component
    count. The same F.aggregate pattern backs the cosine similarity ops in
    operators/similarity.py."""
    cat = Catalog(spark, sf_dir)
    sq = F.transform(F.col("embedding"),
                     lambda x: x.cast("double") * x.cast("double"))
    return cat.embeddings.select(
        "vec_id",
        F.size("embedding").alias("n_dims"),
        F.round(F.sqrt(F.aggregate(sq, F.lit(0.0), lambda a, x: a + x)), 4)
         .alias("l2_norm"),
        F.size(F.filter(F.col("embedding"), lambda x: x > 0)).alias("n_positive"))


@_register(
    "q73_posexplode_vectors",
    survey="net-new posexplode (array → (pos, value) rows; P2/F5 generalized)",
    oracle="""
        SELECT vec_id,
               CAST(unnest(range(len(embedding))) AS INT) AS pos,
               round(CAST(unnest(embedding) AS DOUBLE), 4) AS component
        FROM embeddings
        WHERE vec_id < 16
    """,
)
def q73_posexplode_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordinal array explosion — vec → (position, component) rows. This is
    the long-format bridge for vector columns (feeds the per-dimension agg
    path); generated as a generator expression, no shuffle."""
    cat = Catalog(spark, sf_dir)
    return (cat.embeddings.filter(F.col("vec_id") < 16)
            .select("vec_id", F.posexplode("embedding").alias("pos", "_c"))
            .select("vec_id", "pos",
                    F.round(F.col("_c").cast("double"), 4).alias("component")))


@_register(
    "q74_window_navigation",
    survey="net-new window navigation (first/last/nth_value over full frame)",
    oracle="""
        SELECT o_orderkey, o_custkey,
               round(first_value(o_totalprice) OVER w, 2) AS first_price,
               round(last_value(o_totalprice)  OVER w, 2) AS last_price,
               round(nth_value(o_totalprice, 2) OVER w, 2) AS second_price
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def q74_window_navigation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first/last/nth_value with an explicit unbounded frame (the default
    frame stops at CURRENT ROW, silently making last_value ≡ current row —
    the classic window footgun, pinned here with a total-order tiebreak)."""
    cat = Catalog(spark, sf_dir)
    w = (Window.partitionBy("o_custkey")
         .orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
         .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
    return cat.orders.select(
        "o_orderkey", "o_custkey",
        F.round(F.first("o_totalprice").over(w), 2).alias("first_price"),
        F.round(F.last("o_totalprice").over(w), 2).alias("last_price"),
        F.round(F.nth_value("o_totalprice", 2).over(w), 2).alias("second_price"))


@_register(
    "q75_string_suite",
    survey="net-new string functions (regexp_extract/lpad/translate/levenshtein; F1/F2 generalized)",
    oracle="""
        SELECT doc_id,
               regexp_extract(text, '[A-Za-z]+') AS first_word,
               upper(lang) AS lang_uc,
               lpad(CAST(doc_id AS VARCHAR), 8, '0') AS padded_id,
               levenshtein(lang, 'en') AS lang_edit_dist,
               length(replace(text, ' ', '')) AS n_nonspace_chars
        FROM documents
    """,
)
def q75_string_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-function surface on the documents corpus — all codegen'd JVM
    expressions at scan speed (no UDF)."""
    cat = Catalog(spark, sf_dir)
    return cat.documents.select(
        "doc_id",
        F.regexp_extract("text", "[A-Za-z]+", 0).alias("first_word"),
        F.upper("lang").alias("lang_uc"),
        F.lpad(F.col("doc_id").cast("string"), 8, "0").alias("padded_id"),
        F.levenshtein("lang", F.lit("en")).alias("lang_edit_dist"),
        F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).alias("n_nonspace_chars"))


@_register(
    "q76_date_math",
    survey="net-new date/time arithmetic (SURVEY §2.8 note: net-new surface over events/orders ts)",
    oracle="""
        SELECT o_orderkey,
               CAST(CAST(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS DATE) AS VARCHAR) AS due_date,
               CAST(CAST(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS DATE) AS VARCHAR) AS review_date,
               date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-12-01') AS days_to_cutoff,
               CAST(extract(year FROM o_orderdate) AS INT) AS yr,
               CAST(extract(quarter FROM o_orderdate) AS INT) AS qtr,
               CAST(extract(month FROM o_orderdate) AS INT) AS mon
        FROM orders
    """,
)
def q76_date_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date arithmetic + calendar extraction — interval add, month add with
    end-of-month clamping, day diff against a fixed cutoff. Date outputs are
    ISO strings: a DATE column reaches pandas as `object` from Spark but
    `datetime64` from DuckDB, so the harness dtype-kind check would miscompare
    the same values."""
    cat = Catalog(spark, sf_dir)
    d = F.col("o_orderdate").cast("date")
    return cat.orders.select(
        "o_orderkey",
        F.date_format(F.date_add(d, 30), "yyyy-MM-dd").alias("due_date"),
        F.date_format(F.add_months(d, 3), "yyyy-MM-dd").alias("review_date"),
        F.datediff(F.lit("1998-12-01").cast("date"), d).alias("days_to_cutoff"),
        F.year(d).alias("yr"), F.quarter(d).alias("qtr"), F.month(d).alias("mon"))


@_register(
    "q77_distinct_aggs",
    survey="net-new distinct-inside-aggregate (SURVEY §2.4 'not present' gap closed)",
    oracle="""
        SELECT l_returnflag,
               count(DISTINCT l_partkey) AS n_parts,
               count(DISTINCT l_partkey || '|' || l_suppkey) AS n_part_supp,
               round(CAST(sum(DISTINCT CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_distinct_qty
        FROM lineitem
        GROUP BY l_returnflag
    """,
)
def q77_distinct_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT inside aggregates — Catalyst plans these as expand +
    two-phase aggregation; multiple distinct sets in one query still take a
    single scan."""
    cat = Catalog(spark, sf_dir)
    return cat.lineitem.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct(F.concat_ws("|", "l_partkey", "l_suppkey")).alias("n_part_supp"),
        F.round(
            F.sum_distinct(F.col("l_quantity").cast("decimal(18,2)")).cast("double"),
            2).alias("sum_distinct_qty"))


@_register(
    "q78_string_agg_regions",
    survey="net-new listagg/string_agg (order-embedded concatenation; A1 string form)",
    oracle="""
        SELECT r.r_name, count(*) AS n_nations,
               string_agg(n.n_name, ',' ORDER BY n.n_name) AS nations
        FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY r.r_name
    """,
)
def q78_string_agg_regions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation — sort_array(collect_list) → concat_ws
    gives deterministic ordered LISTAGG semantics independent of shuffle
    arrival order."""
    cat = Catalog(spark, sf_dir)
    joined = rel.broadcast_inner_join(
        cat.nation, cat.region.select(F.col("r_regionkey").alias("n_regionkey"),
                                      "r_name"), "n_regionkey")
    return joined.groupBy("r_name").agg(
        F.count(F.lit(1)).alias("n_nations"),
        F.concat_ws(",", F.sort_array(F.collect_list("n_name"))).alias("nations"))


@_register(
    "q79_bool_bit_aggs",
    survey="net-new boolean/bitwise aggregates (bool_and/bool_or/bit_and/bit_or/bit_xor)",
    oracle="""
        SELECT p_brand,
               bool_and(p_size > 0)  AS all_positive,
               bool_or(p_size > 45)  AS any_oversize,
               bit_and(p_size) AS size_bit_and,
               bit_or(p_size)  AS size_bit_or,
               bit_xor(p_size) AS size_bit_xor
        FROM part
        GROUP BY p_brand
    """,
)
def q79_bool_bit_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean and bitwise reduction aggregates — associative+commutative, so
    they combine map-side like sums."""
    cat = Catalog(spark, sf_dir)
    return cat.part.groupBy("p_brand").agg(
        F.expr("bool_and(p_size > 0)").alias("all_positive"),
        F.expr("bool_or(p_size > 45)").alias("any_oversize"),
        F.expr("bit_and(p_size)").alias("size_bit_and"),
        F.expr("bit_or(p_size)").alias("size_bit_or"),
        F.expr("bit_xor(p_size)").alias("size_bit_xor"))


# =====================================================================
# Batch 4: streaming sliding windows + stream-static enrichment, and
# corpus/text-pipeline depth (repetition, PII scrub, n-gram stats,
# per-label embedding centroids, multiset set-ops).
# =====================================================================

@_register(
    "q80_sliding_stream",
    survey="streaming-sliding (hopping windows through the real streaming engine)",
    oracle="""
        WITH b AS (
          SELECT time_bucket(INTERVAL 30 MINUTE, ts) AS bkt FROM events
        ), expanded AS (
          SELECT bkt AS win_start FROM b
          UNION ALL
          SELECT bkt - INTERVAL 30 MINUTE AS win_start FROM b
        )
        SELECT strftime(win_start, '%Y-%m-%d %H:%M:%S') AS win_start,
               count(*) AS n_events
        FROM expanded GROUP BY 1
    """,
)
def q80_sliding_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1h/30m windows through the real streaming engine (readStream →
    hopping window agg → memory sink). Oracle models the same semantics as a
    union of two shifted 30-minute buckets — every event in exactly two
    windows."""
    import os

    from .streaming import events as SE

    name = f"q80_sliding_{next(_STREAM_SEQ)}"
    stream = SE.read_event_stream_auto(spark, os.path.join(sf_dir, "events.parquet"))
    SE.run_available_now(SE.sliding_counts(stream), name)
    return (spark.table(name)
            .select(F.date_format("win_start", "yyyy-MM-dd HH:mm:ss")
                    .alias("win_start"), "n_events"))


@_register(
    "q81_stream_static_join",
    survey="streaming-enrich (stream ⋈ broadcast static dim per micro-batch)",
    oracle="""
        SELECT c.c_mktsegment, count(*) AS n_events,
               round(CAST(sum(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_value
        FROM events e JOIN customer c ON e.user_id = c.c_custkey
        GROUP BY 1
    """,
)
def q81_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: the event stream broadcast-joins the customer
    dimension inside the streaming engine, then aggregates per segment — the
    canonical attach-user-attributes-to-clickstream shape. No stream-side
    shuffle for the join; only the agg keys shuffle."""
    import os

    from .streaming import events as SE

    cat = Catalog(spark, sf_dir)
    name = f"q81_enrich_{next(_STREAM_SEQ)}"
    stream = SE.read_event_stream_auto(spark, os.path.join(sf_dir, "events.parquet"))
    enriched = SE.enrich_with_dim(
        stream, cat.customer.select("c_custkey", "c_mktsegment"),
        "user_id", "c_custkey")
    agged = enriched.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 2)
         .alias("sum_value"))
    SE.run_available_now(agged, name)
    return spark.table(name)


@_register(
    "q103_stream_stream_join",
    survey="streaming-streaming interval join (net-new; watermark-bounded state, append mode)",
    oracle="""
        SELECT c.user_id AS user_id, c.event_id AS click_id,
               p.event_id AS purchase_id
        FROM events c JOIN events p
          ON c.user_id = p.user_id
         AND c.event_type = 'click' AND p.event_type = 'purchase'
         AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
    """,
)
def q103_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM join through the real streaming engine: clicks and
    purchases flow as two independent streams; each click matches purchases
    by the same user within the following hour (attribution). Both sides
    watermarked + the time-range join condition bounds the buffered state;
    the drained append-mode output must equal the batch interval self-join
    the oracle runs — stream/batch semantic parity for the last stateful
    operator class the engine supports."""
    import os

    from .streaming import events as SE

    name = f"q103_ssj_{next(_STREAM_SEQ)}"
    path = os.path.join(sf_dir, "events.parquet")
    clicks = (SE.read_event_stream_auto(spark, path)
              .filter(F.col("event_type") == "click"))
    purchases = (SE.read_event_stream_auto(spark, path)
                 .filter(F.col("event_type") == "purchase"))
    joined = SE.interval_join_streams(clicks, purchases, key="user_id",
                                      max_span="1 hour")
    SE.run_available_now(joined, name, output_mode="append")
    return (spark.table(name)
            .select("user_id", F.col("l_id").alias("click_id"),
                    F.col("r_id").alias("purchase_id")))


@_register(
    "q82_doc_repetition",
    survey="text-quality (intra-document repetition: max-token-frequency ratio)",
    oracle="""
        WITH tok AS (
          SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS tok
          FROM documents),
        freq AS (SELECT doc_id, tok, count(*) AS c FROM tok GROUP BY 1, 2)
        SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
               CAST(count(*) AS BIGINT) AS n_distinct,
               round(max(c) / CAST(sum(c) AS DOUBLE), 4) AS max_token_ratio
        FROM freq GROUP BY doc_id
    """,
)
def q82_doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition score (the Gopher/C4-style quality signal:
    docs dominated by one repeated token are boilerplate). Explode → two-level
    agg; the first agg keys on (doc, token) so the hot shuffle is spread over
    distinct tokens, not per-doc rows."""
    cat = Catalog(spark, sf_dir)
    toks = cat.documents.select(
        "doc_id", F.explode(F.split(F.lower("text"), r"\s+")).alias("tok"))
    freq = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    return freq.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.round(F.max("c") / F.sum("c").cast("double"), 4).alias("max_token_ratio"))


@_register(
    "q83_pii_scrub",
    survey="text-scrub (regexp_replace redaction; deterministic digest proof)",
    oracle="""
        SELECT doc_id,
               md5(regexp_replace(text, '[0-9]+', '<NUM>', 'g')) AS scrubbed_digest,
               length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digit_chars
        FROM documents
    """,
)
def q83_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redaction pass (number masking — the PII-scrub shape; swap the pattern
    for emails/SSNs in production). Output is the md5 of the scrubbed text, so
    the oracle certifies byte-identical redaction, not just row counts."""
    cat = Catalog(spark, sf_dir)
    return cat.documents.select(
        "doc_id",
        F.md5(F.regexp_replace("text", "[0-9]+", "<NUM>")).alias("scrubbed_digest"),
        (F.length("text")
         - F.length(F.regexp_replace("text", "[0-9]", ""))).alias("n_digit_chars"))


@_register(
    "q84_bigram_counts",
    survey="text-ngrams (corpus-wide bigram frequency; top-30)",
    oracle="""
        WITH toks AS (
          SELECT string_split_regex(lower(text), '\\s+') AS t FROM documents
          WHERE len(string_split_regex(lower(text), '\\s+')) >= 2)
        SELECT bg AS bigram, count(*) AS cnt FROM (
          SELECT unnest(list_transform(range(len(t) - 1),
                                       i -> t[i+1] || ' ' || t[i+2])) AS bg
          FROM toks)
        GROUP BY 1 ORDER BY cnt DESC, bigram ASC LIMIT 30
    """,
)
def q84_bigram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram statistics: adjacent-token pairs built with a JVM-side
    sequence/transform lambda (no Python, no self-join), exploded and counted.
    The n-gram LM / contamination-check primitive."""
    cat = Catalog(spark, sf_dir)
    t = F.split(F.lower("text"), r"\s+")
    docs = cat.documents.select(t.alias("t")).filter(F.size("t") >= 2)
    bigrams = docs.select(F.explode(F.expr(
        "transform(sequence(0, size(t) - 2),"
        " i -> concat(element_at(t, i + 1), ' ', element_at(t, i + 2)))"
    )).alias("bigram"))
    counts = bigrams.groupBy("bigram").agg(F.count(F.lit(1)).alias("cnt"))
    return rel.global_topn(counts, [F.col("cnt").desc(), F.col("bigram").asc()], 30)


@_register(
    "q85_label_centroids",
    survey="embedding-analytics (per-label centroid via ordinal explode + exact avg)",
    oracle="""
        WITH comp AS (
          SELECT label, CAST(unnest(range(len(embedding))) AS INT) AS pos,
                 CAST(unnest(embedding) AS DOUBLE) AS v
          FROM embeddings)
        SELECT label, pos,
               round(CAST(sum(CAST(v AS DECIMAL(28,12))) AS DOUBLE) / count(*), 6)
                 AS centroid_component,
               count(*) AS n_vectors
        FROM comp GROUP BY label, pos
    """,
)
def q85_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class embedding centroids (the KMeans/IVF seeding and
    nearest-class-mean primitive): ordinal explode → (label, dim) agg.
    Decimal-exact sums make the result partition-order independent; at scale
    the (label × dim) key space is tiny, so the shuffle is negligible next to
    the scan."""
    cat = Catalog(spark, sf_dir)
    comp = cat.embeddings.select(
        "label", F.posexplode("embedding").alias("pos", "_c")) \
        .select("label", "pos", F.col("_c").cast("double").alias("v"))
    return comp.groupBy("label", "pos").agg(
        F.round(
            F.sum(F.col("v").cast("decimal(28,12)")).cast("double")
            / F.count(F.lit(1)), 6).alias("centroid_component"),
        F.count(F.lit(1)).alias("n_vectors"))


@_register(
    "q86_multiset_ops",
    survey="net-new EXCEPT ALL / INTERSECT ALL (multiset semantics; U2 generalized)",
    oracle="""
        SELECT l_partkey, count(*) AS cnt FROM (
          SELECT l_partkey FROM lineitem WHERE l_returnflag = 'R'
          EXCEPT ALL
          SELECT l_partkey FROM lineitem WHERE l_returnflag = 'A'
        ) GROUP BY l_partkey
    """,
)
def q86_multiset_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-semantics set difference (exceptAll keeps multiplicity deltas —
    distinct-based difference can't express 'surplus occurrences'). Spark
    plans this as a single hash aggregation over a tagged union."""
    cat = Catalog(spark, sf_dir)
    r = cat.lineitem.filter(F.col("l_returnflag") == "R").select("l_partkey")
    a = cat.lineitem.filter(F.col("l_returnflag") == "A").select("l_partkey")
    return r.exceptAll(a).groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("cnt"))


@_register(
    "q87_ship_priority",
    survey="analytical-classic (TPC-H Q3 shape: selective multi-table filters → 3-way join → top-10)",
    oracle="""
        SELECT o.o_orderkey,
               strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
               o.o_orderpriority,
               round(CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                                   AS DECIMAL(18,4))) AS DOUBLE), 4) AS revenue
        FROM customer c
        JOIN orders o   ON o.o_custkey  = c.c_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE c.c_mktsegment = 'BUILDING'
          AND o.o_orderdate < TIMESTAMP '1997-06-15'
          AND l.l_shipdate  > TIMESTAMP '1997-06-15'
        GROUP BY o.o_orderkey, orderdate, o.o_orderpriority
        ORDER BY revenue DESC, o.o_orderkey ASC
        LIMIT 10
    """,
)
def q87_ship_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipping-priority classic: every filter sits on a DIFFERENT table and
    each reaches its own parquet scan (PushedFilters on all three), so the
    joins see pre-shrunk inputs; top-10 via TakeOrderedAndProject, no global
    sort materialized."""
    cat = Catalog(spark, sf_dir)
    cutoff = F.lit("1997-06-15").cast("timestamp")
    c = cat.customer.filter(F.col("c_mktsegment") == "BUILDING") \
        .select(F.col("c_custkey").alias("o_custkey"))
    o = cat.orders.filter(F.col("o_orderdate") < cutoff) \
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    li = cat.lineitem.filter(F.col("l_shipdate") > cutoff) \
        .select("l_orderkey", "l_extendedprice", "l_discount")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))) \
        .cast("decimal(18,4)")
    agged = (li.join(o, li.l_orderkey == o.o_orderkey)
             .join(c, "o_custkey")
             .groupBy("o_orderkey",
                      F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
                      "o_orderpriority")
             .agg(F.round(F.sum(rev).cast("double"), 4).alias("revenue")))
    return rel.global_topn(
        agged, [F.col("revenue").desc(), F.col("o_orderkey").asc()], 10)


@_register(
    "q88_cross_join",
    survey="net-new explicit cross join (SURVEY §2.3 'not present' gap; small×small only)",
    oracle="""
        SELECT r.r_name, n.n_name,
               CASE WHEN n.n_regionkey = r.r_regionkey THEN 1 ELSE 0 END AS is_home
        FROM region r CROSS JOIN nation n
    """,
)
def q88_cross_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit cartesian product (|region| × |nation| pairs) — legitimate
    only when one side is tiny; Spark broadcasts the small side so the
    'cross join' is a nested loop over in-memory rows, never a shuffle."""
    cat = Catalog(spark, sf_dir)
    return (cat.region.select("r_regionkey", "r_name")
            .crossJoin(cat.nation.select("n_regionkey", "n_name"))
            .select("r_name", "n_name",
                    F.when(F.col("n_regionkey") == F.col("r_regionkey"), 1)
                     .otherwise(0).alias("is_home")))


@_register(
    "q89_json_typed",
    survey="semi-structured typed parse (from_json single-parse → typed struct; q46's scale path)",
    oracle="""
        SELECT event_type,
               count(*) FILTER (WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) >= 50)
                 AS n_high,
               round(CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS DOUBLE)
                     / count(*), 4) AS avg_k
        FROM events GROUP BY event_type
    """,
)
def q89_json_typed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed JSON ingestion: ``from_json`` with a declared schema parses each
    props string ONCE into a struct (vs one parse per ``get_json_object``
    path) — the right shape when many fields are extracted at 100 TB."""
    cat = Catalog(spark, sf_dir)
    parsed = cat.events.withColumn(
        "p", F.from_json("props", "k bigint"))
    return parsed.groupBy("event_type").agg(
        F.count(F.when(F.col("p.k") >= 50, 1)).alias("n_high"),
        F.round(F.sum("p.k").cast("double") / F.count(F.lit(1)), 4).alias("avg_k"))


@_register(
    "q90_tfidf_top_terms",
    survey="text-tfidf (native DataFrame TF-IDF: tf ⋈ df → weight → top-3 terms/doc)",
    oracle="""
        WITH tok AS (
          SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS tok
          FROM documents),
        tf AS (SELECT doc_id, tok, count(*) AS c FROM tok GROUP BY 1, 2),
        df AS (SELECT tok, count(*) AS n_docs FROM tf GROUP BY 1),
        n AS (SELECT count(DISTINCT doc_id) AS total FROM tf),
        scored AS (
          SELECT tf.doc_id, tf.tok,
                 round(tf.c * (ln((n.total + 1) / CAST(df.n_docs + 1 AS DOUBLE)) + 1), 6)
                   AS tfidf
          FROM tf JOIN df USING (tok) CROSS JOIN n)
        SELECT doc_id, tok, tfidf FROM (
          SELECT doc_id, tok, tfidf,
                 row_number() OVER (PARTITION BY doc_id
                                    ORDER BY tfidf DESC, tok ASC) AS rn
          FROM scored)
        WHERE rn <= 3 AND doc_id < 100
    """,
)
def q90_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native TF-IDF (no pyspark.ml hashing — exact, vocabulary-resolved):
    term frequency per (doc, token), document frequency per token, smoothed
    idf, top-3 weighted terms per doc. The df side is tiny (one row per
    vocabulary word) so Catalyst broadcasts it into the tf stream; the
    only big shuffle keys on (doc, token) — same scale shape as q82."""
    cat = Catalog(spark, sf_dir)
    tok = cat.documents.select(
        "doc_id", F.explode(F.split(F.lower("text"), r"\s+")).alias("tok"))
    tf = tok.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    # tf feeds three branches (df, total, scored) — persist, then release
    # after the result is materialized executor-side through an eager
    # ``localCheckpoint`` (lineage truncated; no driver round-trip, so the
    # pattern stays safe even with an UNBOUNDED result set — the r3 advice
    # on the collect/createDataFrame idiom).
    tf = rel.persisted(tf)
    try:
        df_ = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("n_docs"))
        total = tf.select(F.countDistinct("doc_id").alias("total"))
        scored = (tf.join(df_, "tok").crossJoin(F.broadcast(total))
                  .select("doc_id", "tok",
                          F.round(F.col("c") * (F.log((F.col("total") + 1)
                                  / (F.col("n_docs") + 1).cast("double")) + 1), 6)
                           .alias("tfidf")))
        w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(),
                                                 F.col("tok").asc())
        out = (scored.withColumn("rn", F.row_number().over(w))
               .filter((F.col("rn") <= 3) & (F.col("doc_id") < 100))
               .drop("rn"))
        return out.localCheckpoint(eager=True)
    finally:
        tf.unpersist()


@_register(
    "q91_vocab_stats",
    survey="text-corpus-stats (vocabulary size / hapax ratio / type-token ratio)",
    oracle="""
        WITH tok AS (
          SELECT unnest(string_split_regex(lower(text), '\\s+')) AS tok
          FROM documents),
        freq AS (SELECT tok, count(*) AS c FROM tok GROUP BY 1)
        SELECT CAST(sum(c) AS BIGINT) AS n_tokens,
               CAST(count(*) AS BIGINT) AS vocab_size,
               CAST(count(*) FILTER (WHERE c = 1) AS BIGINT) AS n_hapax,
               round(count(*) / CAST(sum(c) AS DOUBLE), 6) AS type_token_ratio
        FROM freq
    """,
)
def q91_vocab_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level vocabulary statistics (the tokenizer-design numbers:
    vocabulary size, hapax legomena, type-token ratio). Two-level agg — the
    big shuffle keys on tokens (bounded by vocabulary, not corpus size), the
    second collapses to one row."""
    cat = Catalog(spark, sf_dir)
    tok = cat.documents.select(
        F.explode(F.split(F.lower("text"), r"\s+")).alias("tok"))
    freq = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    return freq.agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("vocab_size"),
        F.count(F.when(F.col("c") == 1, 1)).alias("n_hapax"),
        F.round(F.count(F.lit(1)) / F.sum("c").cast("double"), 6)
         .alias("type_token_ratio"))


@_register(
    "q92_auc_native",
    survey="ml-metrics (DataFrame-native ROC AUC via rank statistic; A10 family)",
    oracle="""
        WITH scored AS (
          SELECT len(string_split_regex(text, '\\s+')) AS score,
                 CASE WHEN n_chars >= 400 THEN 1 ELSE 0 END AS y
          FROM documents),
        ranked AS (
          SELECT y,
                 rank() OVER (ORDER BY score ASC)
                   + (count(*) OVER (PARTITION BY score) - 1) / 2.0 AS avgrank
          FROM scored)
        SELECT round((sum(CASE WHEN y = 1 THEN avgrank ELSE 0 END)
                      - sum(y) * (sum(y) + 1) / 2.0)
                     / (sum(y) * (count(*) - sum(y))), 6) AS auc,
               CAST(sum(y) AS BIGINT) AS n_pos,
               CAST(count(*) - sum(y) AS BIGINT) AS n_neg
        FROM ranked
    """,
)
def q92_auc_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC AUC as a pure DataFrame aggregate (Mann-Whitney rank identity,
    average ranks for ties) — predictor: token count; label: long document.
    The oracle recomputes the identical statistic in SQL, certifying the
    engine's AUC to 6 decimals — no sklearn, no driver-side ROC sweep."""
    from .functions import text as T
    from .ml import metrics as M
    cat = Catalog(spark, sf_dir)
    scored = cat.documents.select(
        F.size(T.ws_tokens(F.col("text"))).cast("double").alias("score"),
        (F.col("n_chars") >= 400).cast("int").alias("y"))
    return M.auc(scored, "score", "y")


@_register(
    "q93_quality_classifier",
    survey="ml-quality (LR corpus-quality model: featurize → hash-split → fit → score; rows-only)",
    oracle=None,
)
def q93_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The learned quality gate end-to-end: native featurization, content-hash
    split, seeded LR fit, corpus-wide scoring — summarized per language with
    the heldout AUC attached to every row (train determinism is pinned in
    tests/test_quality.py).

    The corpus is featurized ONCE (persisted), and ``score_all=True`` makes
    the heldout evaluation and the corpus-wide scoring share a SINGLE model
    transform. The summary is materialized executor-side via an eager
    ``localCheckpoint`` (lineage truncated, nothing crosses the driver — safe
    at any result size, unlike a collect/createDataFrame round-trip), after
    which every internal cache is released in ``finally``."""
    from .ml import quality as Q
    cat = Catalog(spark, sf_dir)
    feats = rel.persisted(Q.featurize(cat.documents))
    caches: list[DataFrame] = [feats]
    try:
        qm = Q.train_quality_classifier(cat.documents, features=feats,
                                        score_all=True)
        caches.extend(qm.caches)
        scored = qm.scores.join(cat.documents.select("doc_id", "lang"),
                                "doc_id")
        auc_val = qm.train_auc_row[0]  # None on a degenerate heldout split
        out = (scored.groupBy("lang").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("quality_score"), 4).alias("avg_quality"))
            .withColumn("heldout_auc", F.lit(auc_val).cast("double")))
        return out.localCheckpoint(eager=True)
    finally:
        for c in caches:
            c.unpersist()


@_register(
    "q94_zscore_groups",
    survey="grouped-transform (per-group standardization, exact-moment native window path)",
    oracle="""
        SELECT l_orderkey, l_linenumber, l_returnflag,
               round((l_extendedprice - s1 / n)
                     / sqrt((s2 - s1 * s1 / n) / (n - 1)), 4) AS z
        FROM (
          SELECT l_orderkey, l_linenumber, l_returnflag, l_extendedprice,
                 CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS s1,
                 CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                               * CAST(l_extendedprice AS DECIMAL(18,2))
                               AS DECIMAL(38,8))) OVER w AS DOUBLE) AS s2,
                 count(*) OVER w AS n
          FROM lineitem
          WINDOW w AS (PARTITION BY l_returnflag))
        WHERE l_orderkey < 3000
    """,
)
def q94_zscore_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group z-score through the native exact-moment window operator
    (``operators/grouped.py`` — decimal Σx/Σx² make every z shuffle-order
    independent). The ``applyInPandas`` twin is pinned equal in
    tests/test_grouped.py; this query certifies the native path against SQL."""
    from .operators import grouped as G
    cat = Catalog(spark, sf_dir)
    z = G.zscore_native(cat.lineitem, "l_extendedprice", ["l_returnflag"])
    return (z.filter(F.col("l_orderkey") < 3000)
            .select("l_orderkey", "l_linenumber", "l_returnflag", "z"))


@_register(
    "q95_udtf_long_tokens",
    survey="udtf (Python table function via LATERAL; one-row→many-rows extension point)",
    oracle="""
        SELECT doc_id, tok, len(tok) AS tok_len
        FROM (SELECT doc_id,
                     unnest(string_split_regex(lower(text), '\\s+')) AS tok
              FROM documents)
        WHERE len(tok) >= 8
    """,
)
def q95_udtf_long_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (Spark 4 table function) applied LATERALly per document —
    the extension point for stateful one-to-many parsers. This demo's logic
    is explode-expressible on purpose: the oracle proves the Python
    table-function path emits exactly what the relational form would."""
    from .functions.udtf_ops import register_udtfs
    cat = Catalog(spark, sf_dir)
    register_udtfs(spark)
    cat.documents.createOrReplaceTempView("_docs_for_udtf")
    return spark.sql(
        "SELECT d.doc_id, t.tok, t.tok_len "
        "FROM _docs_for_udtf d, LATERAL long_tokens(d.text, 8) t")


@_register(
    "q96_session_window_batch",
    survey="native session_window in BATCH mode (vs q24's manual lag-cumsum construction)",
    oracle="""
        WITH g AS (
          SELECT user_id, ts,
                 CASE WHEN lag(ts) OVER w IS NULL
                      OR date_diff('second', lag(ts) OVER w, ts) > 1800
                      THEN 1 ELSE 0 END AS new_session
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        s AS (
          SELECT user_id, ts,
                 sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                        ROWS UNBOUNDED PRECEDING) AS sid
          FROM g)
        SELECT user_id,
               strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
               count(*) AS n_events
        FROM s GROUP BY user_id, sid
    """,
)
def q96_session_window_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's native ``session_window`` running in BATCH mode, certified
    against the manual lag-cumsum sessionization the oracle builds — the two
    constructions must agree on every (user, session start, event count).
    Native session windows need one shuffle on user_id and merge windows
    within partitions (same cost shape as the manual form, less code, and
    identical semantics streaming or batch)."""
    cat = Catalog(spark, sf_dir)
    return (cat.events
            .groupBy(F.session_window("ts", "30 minutes").alias("s"), "user_id")
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select("user_id",
                    F.date_format("s.start", "yyyy-MM-dd HH:mm:ss")
                    .alias("session_start"),
                    "n_events"))


@_register(
    "q97_revenue_share",
    survey="window ratio-to-report (share-of-parent via window sum; no self-join)",
    oracle="""
        WITH nat AS (
          SELECT r.r_name, n.n_name,
                 CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
          FROM region r
          JOIN nation n   ON n.n_regionkey = r.r_regionkey
          JOIN customer c ON c.c_nationkey = n.n_nationkey
          JOIN orders o   ON o.o_custkey  = c.c_custkey
          JOIN lineitem l ON l.l_orderkey = o.o_orderkey
          GROUP BY 1, 2)
        SELECT r_name, n_name, round(rev, 2) AS revenue,
               round(rev / sum(rev) OVER (PARTITION BY r_name), 6) AS region_share,
               round(rev / sum(rev) OVER (), 6) AS global_share
        FROM nat
    """,
)
def q97_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-report: each nation's share of its region's and of global
    revenue via window sums over the AGGREGATED table (25 rows) — never a
    self-join against re-aggregated totals, and the base agg is computed
    once. Decimal-exact sums keep shares engine-identical."""
    cat = Catalog(spark, sf_dir)
    joined = (cat.lineitem.select("l_orderkey", "l_extendedprice")
              .join(cat.orders.select("o_orderkey", "o_custkey"),
                    F.col("l_orderkey") == F.col("o_orderkey"))
              .join(F.broadcast(cat.customer.select("c_custkey", "c_nationkey")),
                    F.col("o_custkey") == F.col("c_custkey"))
              .join(F.broadcast(cat.nation), F.col("c_nationkey") == F.col("n_nationkey"))
              .join(F.broadcast(cat.region), F.col("n_regionkey") == F.col("r_regionkey")))
    nat = joined.groupBy("r_name", "n_name").agg(
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double")
        .alias("rev"))
    wr = Window.partitionBy("r_name")
    wg = Window.partitionBy()
    return nat.select(
        "r_name", "n_name",
        F.round("rev", 2).alias("revenue"),
        F.round(F.col("rev") / F.sum("rev").over(wr), 6).alias("region_share"),
        F.round(F.col("rev") / F.sum("rev").over(wg), 6).alias("global_share"))


@_register(
    "q98_decontamination",
    survey="pipeline-decontamination (train/eval 5-gram overlap detector)",
    oracle="""
        WITH tok AS (
          SELECT doc_id, source,
                 string_split_regex(lower(text), '\\s+') AS t
          FROM documents),
        sh AS (
          SELECT doc_id, source,
                 unnest(list_transform(range(len(t) - 4),
                        i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
                             || ' ' || t[i+4] || ' ' || t[i+5])) AS ng
          FROM tok WHERE len(t) >= 5),
        ev AS (SELECT DISTINCT doc_id, ng FROM sh
               WHERE source IN ('src0', 'src1')),
        tr AS (SELECT DISTINCT ng FROM sh
               WHERE source NOT IN ('src0', 'src1'))
        SELECT doc_id, count(*) AS n_shared_ngrams
        FROM ev JOIN tr USING (ng)
        GROUP BY doc_id
    """,
)
def q98_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination over the corpus: treat src0/src1 as the eval
    split and flag its documents whose 5-gram shingles collide with the train
    split (``dedup.cross_split_ngram_overlap``). Shingles are built with the
    zipped-shift O(len) construction; only (shingle[, doc]) pairs shuffle."""
    cat = Catalog(spark, sf_dir)
    return dedup.cross_split_ngram_overlap(cat.documents, ["src0", "src1"], n=5)


@_register(
    "q104_decontaminated_corpus",
    survey="pipeline-decontamination, drop direction (broadcast eval n-grams; train side never shuffles)",
    oracle="""
        WITH tok AS (
          SELECT doc_id, source,
                 string_split_regex(lower(text), '\\s+') AS t
          FROM documents),
        sh AS (
          SELECT doc_id, source,
                 unnest(list_transform(range(len(t) - 4),
                        i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
                             || ' ' || t[i+4] || ' ' || t[i+5])) AS ng
          FROM tok WHERE len(t) >= 5),
        ev AS (SELECT DISTINCT ng FROM sh WHERE source IN ('src0', 'src1')),
        bad AS (SELECT DISTINCT doc_id FROM sh
                WHERE source NOT IN ('src0', 'src1')
                  AND ng IN (SELECT ng FROM ev))
        SELECT source, count(*) AS n_docs
        FROM documents
        WHERE source NOT IN ('src0', 'src1')
          AND doc_id NOT IN (SELECT doc_id FROM bad)
        GROUP BY source
    """,
)
def q104_decontaminated_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The drop direction of decontamination (q98 is the report direction):
    remove every train doc sharing a 5-gram with the src0/src1 eval split,
    return the surviving corpus per source. The eval n-gram set broadcasts,
    so the train side — the 100 TB side in production — never shuffles
    (plan-asserted in tests/test_plans.py)."""
    cat = Catalog(spark, sf_dir)
    cleaned = dedup.decontaminate_corpus(cat.documents, ["src0", "src1"], n=5)
    return cleaned.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))


@_register(
    "q99_data_quality_report",
    survey="data-quality audit (row/null/orphan/duplicate-key counts in one report)",
    oracle="""
        SELECT (SELECT count(*) FROM lineitem) AS n_rows,
               (SELECT count(*) FROM lineitem l
                WHERE NOT EXISTS (SELECT 1 FROM orders o
                                  WHERE o.o_orderkey = l.l_orderkey)) AS n_orphans,
               (SELECT count(*) FROM lineitem WHERE l_quantity IS NULL) AS n_null_qty,
               (SELECT count(*) FROM (
                  SELECT l_orderkey, l_linenumber FROM lineitem
                  GROUP BY 1, 2 HAVING count(*) > 1)) AS n_dup_keys
    """,
)
def q99_data_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-ingest audit of the fact table: total rows, referential orphans
    (lineitems without an order — anti-join), nulls in a NOT-NULL-expected
    column, duplicate natural keys. Each check is a scan or single shuffle;
    the one-row report crossJoins four scalar aggregates (no data movement)."""
    cat = Catalog(spark, sf_dir)
    li = cat.lineitem
    n_rows = li.agg(F.count(F.lit(1)).alias("n_rows"))
    n_orphans = (rel.anti_join(li.select("l_orderkey"),
                               cat.orders.select(F.col("o_orderkey")
                                                 .alias("l_orderkey")),
                               "l_orderkey")
                 .agg(F.count(F.lit(1)).alias("n_orphans")))
    n_null = li.agg(F.count(F.when(F.col("l_quantity").isNull(), 1))
                    .alias("n_null_qty"))
    n_dup = (li.groupBy("l_orderkey", "l_linenumber")
             .agg(F.count(F.lit(1)).alias("c")).filter(F.col("c") > 1)
             .agg(F.count(F.lit(1)).alias("n_dup_keys")))
    return n_rows.crossJoin(n_orphans).crossJoin(n_null).crossJoin(n_dup)


@_register(
    "q100_snapshot_diff",
    survey="CDC snapshot diff (added/removed/changed/unchanged via keyed hash compare)",
    oracle="""
        WITH v2 AS (
          SELECT p_partkey,
                 CASE WHEN p_partkey % 50 = 0
                      THEN round(p_retailprice * 1.1, 2)
                      ELSE p_retailprice END AS p_retailprice,
                 p_size
          FROM part WHERE p_partkey % 97 <> 0
          UNION ALL
          SELECT p_partkey + 1000000, p_retailprice, p_size
          FROM part WHERE p_partkey % 101 = 0),
        d AS (
          SELECT coalesce(a.p_partkey, b.p_partkey) AS k,
                 CASE WHEN a.p_partkey IS NULL THEN 'added'
                      WHEN b.p_partkey IS NULL THEN 'removed'
                      WHEN a.p_retailprice IS DISTINCT FROM b.p_retailprice
                           OR a.p_size IS DISTINCT FROM b.p_size THEN 'changed'
                      ELSE 'unchanged' END AS diff_status
          FROM part a FULL OUTER JOIN v2 b ON a.p_partkey = b.p_partkey)
        SELECT diff_status, count(*) AS n FROM d GROUP BY diff_status
    """,
)
def q100_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff between table versions (CDC without a changelog): v2 is
    derived deterministically (some rows deleted, some prices bumped, some
    added), then ``relational.snapshot_diff`` classifies every key with one
    full-outer join over (key, row-hash) — 8-byte payloads regardless of row
    width. The oracle recomputes the classification with column-wise
    IS DISTINCT FROM, so hash-based and direct comparison must agree."""
    cat = Catalog(spark, sf_dir)
    v1 = cat.part.select("p_partkey", "p_retailprice", "p_size")
    v2 = (v1.filter(F.col("p_partkey") % 97 != 0)
          .select("p_partkey",
                  F.when(F.col("p_partkey") % 50 == 0,
                         F.round(F.col("p_retailprice") * 1.1, 2))
                  .otherwise(F.col("p_retailprice")).alias("p_retailprice"),
                  "p_size")
          .unionByName(v1.filter(F.col("p_partkey") % 101 == 0)
                       .select((F.col("p_partkey") + 1000000).alias("p_partkey"),
                               "p_retailprice", "p_size")))
    d = rel.snapshot_diff(v1, v2, ["p_partkey"], ["p_retailprice", "p_size"])
    return d.groupBy("diff_status").agg(F.count(F.lit(1)).alias("n"))


@_register(
    "q101_scalable_ranks",
    survey="scalable global ranks (range-partitioned sort + offsets; q67's 100TB form)",
    oracle="""
        SELECT c_custkey,
               rank() OVER w AS rank,
               round(percent_rank() OVER w, 6) AS percent_rank,
               round(cume_dist()    OVER w, 6) AS cume_dist
        FROM customer
        WINDOW w AS (ORDER BY c_acctbal)
    """,
)
def q101_scalable_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALABLE twin of q67: identical rank/percent_rank/cume_dist
    values, but computed with a range-partitioned sort + partition-offset
    arithmetic (``operators/ranks.py``) instead of the single-partition
    unpartitioned window — every core sorts a slice; only per-partition
    counts ever reach the driver. The oracle is the plain window SQL, so the
    distributed construction is value-certified against the window
    semantics."""
    from .operators.ranks import global_distribution_ranks
    cat = Catalog(spark, sf_dir)
    # small_input_max=0: q101's whole point is oracle-certifying the
    # range-partitioned construction, so it must never take the adaptive
    # small-input window path (q67 does — it is the production entry).
    out = global_distribution_ranks(
        cat.customer.select("c_custkey", "c_acctbal"),
        key_cols=["c_acctbal"], tiebreak_cols=["c_custkey"],
        small_input_max=0)
    return out.select(
        "c_custkey", "rank",
        F.round("percent_rank", 6).alias("percent_rank"),
        F.round("cume_dist", 6).alias("cume_dist"))


def _q102_oracle() -> str:
    # The keep-predicate comes from the SAME helper the Spark side mirrors
    # (operators/sampling.py) — the two engines cannot drift.
    pred = sampling.modulo_sample_predicate_sql("l_orderkey", 0.1)
    return f"""
        SELECT l_returnflag, count(*) AS cnt,
               round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2)
                 AS sum_qty
        FROM lineitem WHERE {pred}
        GROUP BY l_returnflag
    """


@_register(
    "q102_modulo_sample",
    survey="R-cross-engine (deterministic modulo sample; the ONE oracle-certifiable sampler)",
    oracle=_q102_oracle(),
)
def q102_modulo_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-engine deterministic sampling, oracle-certified END-TO-END: the
    keep-set is pure integer arithmetic (``operators/sampling.py``), so the
    DuckDB oracle reproduces the IDENTICAL sampled rows and the downstream
    aggregate must match to the cent — the only sampler class where that is
    possible (Bernoulli/xxhash64 samplers are engine-specific, hence
    rows-only q54/q55/q61). VERDICT r3 #5."""
    cat = Catalog(spark, sf_dir)
    sampled = sampling.modulo_sample(cat.lineitem, "l_orderkey", 0.1)
    return sampled.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("cnt"),
        agg.exact_sum("l_quantity", "sum_qty"))


def _q105_oracle() -> str:
    shard = sampling.shard_assign_sql("doc_id", 16)
    return f"""
        SELECT {shard} AS shard, count(*) AS n_docs,
               CAST(sum(len(string_split_regex(text, '\\s+'))) AS BIGINT)
                 AS n_tokens
        FROM documents GROUP BY 1
    """


@_register(
    "q105_corpus_shards",
    survey="pipeline-output (deterministic cross-engine shard assignment + per-shard budget)",
    oracle=_q105_oracle(),
)
def q105_corpus_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-corpus sharding, oracle-certified: every doc's shard is pure
    integer arithmetic (``sampling.shard_assign`` — the multiplicative-hash
    family q102 certified), so an external engine reproduces the identical
    shard membership; per-shard doc and whitespace-token budgets must match
    exactly. Zero-shuffle assignment; the groupBy is 16 rows."""
    cat = Catalog(spark, sf_dir)
    sharded = sampling.shard_assign(cat.documents, "doc_id", 16)
    return sharded.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split(F.col("text"), r"\s+"))).alias("n_tokens"))


def _q106_oracle() -> str:
    sub = sampling.per_group_quota_sql("documents", "source", "doc_id", 5)
    return f"""
        SELECT source, count(*) AS n_kept,
               CAST(sum(doc_id) AS BIGINT) AS id_sum
        FROM {sub} GROUP BY source
    """


@_register(
    "q106_source_quota_sample",
    survey="pipeline-balance (deterministic per-source quota sample, cross-engine keep-set)",
    oracle=_q106_oracle(),
)
def q106_source_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced per-source corpus construction: keep exactly 5 docs per
    source, chosen by multiplicative-hash order — reproducible and
    engine-independent, so the oracle certifies the EXACT keep-set
    (id_sum pins membership, not just counts)."""
    cat = Catalog(spark, sf_dir)
    kept = sampling.per_group_quota_sample(
        cat.documents, "source", "doc_id", quota=5)
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("doc_id").alias("id_sum"))


def _q107_oracle() -> str:
    pred = sampling.mixture_sample_predicate_sql(
        "source", "doc_id", {"src0": 1.0, "src1": 0.5, "src2": 0.5},
        default=0.1)
    return f"""
        SELECT source, count(*) AS n_docs,
               CAST(sum(doc_id) AS BIGINT) AS id_sum
        FROM documents WHERE {pred}
        GROUP BY source
    """


@_register(
    "q107_mixture_sample",
    survey="pipeline-mixing (per-source rate mixture, cross-engine keep-set)",
    oracle=_q107_oracle(),
)
def q107_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus mixing: src0 kept whole, src1/src2 at 50%, the long tail at
    10% — one pass, per-row arithmetic, no shuffle before the summary agg.
    The keep-set is the q102 cross-engine hash family, so the oracle
    certifies exact membership (id_sum), not just rates."""
    cat = Catalog(spark, sf_dir)
    mixed = sampling.mixture_sample(
        cat.documents, "source", "doc_id",
        {"src0": 1.0, "src1": 0.5, "src2": 0.5}, default=0.1)
    return mixed.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("doc_id").alias("id_sum"))


@_register(
    "q108_doc_chunks",
    survey="pipeline-chunking (fixed token windows with overlap; content md5-pinned)",
    oracle="""
        WITH tok AS (
          SELECT doc_id, string_split_regex(text, '\\s+') AS t
          FROM documents WHERE trim(text) <> ''),
        c AS (
          SELECT doc_id, t,
                 unnest(range(1 + CAST((greatest(len(t) - 50, 0) + 39) // 40
                                       AS INT))) AS chunk_idx
          FROM tok)
        SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
               CAST(len(list_slice(t, chunk_idx*40 + 1, chunk_idx*40 + 50))
                    AS INT) AS n_tokens,
               md5(array_to_string(
                   list_slice(t, chunk_idx*40 + 1, chunk_idx*40 + 50), ' '))
                 AS chunk_md5
        FROM c
    """,
)
def q108_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking: 50-token windows, 10-token overlap
    (stride 40), one output row per chunk with an md5 over the re-joined
    chunk text — so the oracle certifies the exact chunk CONTENT and
    boundaries, not just counts. Pure array arithmetic + one explode; no
    shuffle before the (tiny) result."""
    from .functions.text import chunk_documents
    cat = Catalog(spark, sf_dir)
    return chunk_documents(cat.documents, chunk_size=50, overlap=10) \
        .select("doc_id", "chunk_idx", F.col("n_tokens").cast("int").alias("n_tokens"),
                "chunk_md5")


@_register(
    "q109_wav_features",
    survey="multimodal-audio (REAL RIFF/WAVE decode via stdlib wave: header, PCM frames, rate)",
    oracle="""
        -- generate_series can't take correlated bounds in DuckDB, so join an
        -- uncorrelated max-length series (n_samples <= 255+64) and filter.
        WITH s AS (
          SELECT d.doc_id, d.n_chars,
                 ((d.doc_id * 7349 + t.i * 4001) % 20001) - 10000 AS v
          FROM documents d
          JOIN generate_series(0, 318) AS t(i)
            ON t.i < (d.n_chars % 256) + 64)
        SELECT doc_id,
               8000 AS sample_rate,
               CAST((n_chars % 256) + 64 AS INT) AS n_samples,
               CAST(max(abs(v)) AS INT) AS peak,
               round(sqrt(CAST(sum(v * v) AS DOUBLE)
                          / ((n_chars % 256) + 64)), 6) AS rms
        FROM s
        GROUP BY doc_id, n_chars
    """,
)
def q109_wav_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode end-to-end (VERDICT r5 #4): synthesize a genuine
    RIFF/WAVE container per document (stdlib ``wave`` writer, 16-bit PCM,
    deterministic integer samples), then DECODE it back with the stdlib
    ``wave`` reader inside mapInPandas — container header parse, frame
    extraction, struct-unpacked samples — and emit per-clip audio features.
    The oracle recomputes n_samples/peak/rms from the synth formula via
    ``generate_series``, certifying the decode round-trip VALUE-exactly
    (rms sums exact integers before one IEEE division+sqrt on both engines).
    Both synth and decode are zero-shuffle Arrow-batched map stages."""
    from .operators import multimodal as mm
    cat = Catalog(spark, sf_dir)
    wavs = mm.synthesize_wav_payload(cat.documents)
    return mm.decode_wav_features(wavs)


@_register(
    "q110_bmp_features",
    survey="multimodal-image (REAL 24-bit BMP decode via struct: header, stride, pixel walk)",
    oracle="""
        -- Uncorrelated pixel grid (width,height <= 15+4) filtered per doc;
        -- DuckDB's generate_series can't take correlated lateral bounds.
        SELECT d.doc_id,
               CAST((d.n_chars % 16) + 4 AS INT) AS width,
               CAST((d.doc_id % 16) + 4 AS INT) AS height,
               round(CAST(sum((d.doc_id * 31 + y.i * 17 + x.i * 5) % 256) AS DOUBLE)
                     / (((d.n_chars % 16) + 4) * ((d.doc_id % 16) + 4)),
                     6) AS mean_pixel
        FROM documents d
        JOIN generate_series(0, 18) AS y(i) ON y.i < (d.doc_id % 16) + 4
        JOIN generate_series(0, 18) AS x(i) ON x.i < (d.n_chars % 16) + 4
        GROUP BY d.doc_id, d.n_chars
    """,
)
def q110_bmp_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode end-to-end (VERDICT r5 #4): synthesize a genuine
    uncompressed 24-bit BMP per document (file header + BITMAPINFOHEADER +
    bottom-up rows with 4-byte stride padding), then parse it back with
    ``struct`` inside mapInPandas — magic check, pixel-array offset, dims,
    padded row walk — emitting (width, height, mean_pixel). The oracle
    recomputes the grayscale formula over a generate_series grid; the mean
    divides an exact integer byte-sum once, so values hash-match."""
    from .operators import multimodal as mm
    cat = Catalog(spark, sf_dir)
    bmps = mm.synthesize_bmp_payload(cat.documents)
    return mm.decode_bmp_features(bmps)


@_register(
    "q111_distinct_sketch_rollup",
    survey="net-new mergeable HLL distinct sketches (per-shard partials → union rollup)",
    oracle="""
        -- Tolerance-certificate oracle: DuckDB certifies the EXACT distinct
        -- counts cross-engine; the two booleans are literal TRUE because the
        -- CONTRACT is "each sketch estimate lands within 5 % of exact" —
        -- Spark computes them from the real sketches, so any sketch
        -- regression (or merge-path corruption) flips a boolean and the
        -- driver records a value mismatch.
        SELECT l_returnflag,
               CAST(count(DISTINCT l_orderkey) AS BIGINT) AS exact_distinct,
               TRUE AS direct_within_5pct,
               TRUE AS merged_within_5pct
        FROM lineitem GROUP BY l_returnflag
    """,
)
def q111_distinct_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count sketches — the 100 TB cardinality pattern:
    HLL partials per (group, shard) are small binary blobs that persist and
    MERGE associatively (``operators/aggregates.distinct_sketch_partials`` /
    ``merge_distinct_sketches``), so rolling distinct counts never re-scan
    raw keys. The query computes the exact per-flag distinct (certified by
    the oracle), a direct single-pass sketch estimate, and a partial→union
    rollup estimate over 7 synthetic shards, asserting both estimates land
    within the 5 % tolerance (≈3σ at lg_k=12; measured ~1 % on this data).
    Estimates are value-pinned at sf0.001 in tests/test_approx_aggregates."""
    cat = Catalog(spark, sf_dir)
    li = cat.lineitem
    exact = li.groupBy("l_returnflag").agg(
        F.count_distinct("l_orderkey").alias("exact_distinct"))
    direct = li.groupBy("l_returnflag").agg(
        F.hll_sketch_estimate(
            F.hll_sketch_agg("l_orderkey", F.lit(12))).alias("direct_est"))
    partials = agg.distinct_sketch_partials(
        li.withColumn("_shard", F.pmod(F.col("l_orderkey"), F.lit(7))),
        ["l_returnflag", "_shard"], "l_orderkey")
    merged = agg.merge_distinct_sketches(partials, ["l_returnflag"],
                                         est_alias="merged_est")
    ok = lambda est: (F.abs(F.col(est) - F.col("exact_distinct"))
                      / F.col("exact_distinct") <= 0.05)  # noqa: E731
    return (exact.join(direct, "l_returnflag").join(merged, "l_returnflag")
            .select("l_returnflag", "exact_distinct",
                    ok("direct_est").alias("direct_within_5pct"),
                    ok("merged_est").alias("merged_within_5pct")))


@_register(
    "q124_session_sequences",
    survey="net-new behavior-sequence construction (sessionized ordered event journeys)",
    oracle="""
        WITH g AS (
          SELECT user_id, ts, event_id, event_type,
                 CASE WHEN lag(ts) OVER w IS NULL
                      OR date_diff('second', lag(ts) OVER w, ts) > 1800
                      THEN 1 ELSE 0 END AS new_session
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        s AS (
          SELECT user_id, ts, event_id, event_type,
                 sum(new_session) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id
                                        ROWS UNBOUNDED PRECEDING) AS sid
          FROM g)
        SELECT user_id,
               strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
               CAST(count(*) AS INT) AS n_events,
               md5(string_agg(event_type, ' ' ORDER BY ts, event_id))
                   AS journey_md5
        FROM s GROUP BY user_id, sid
    """,
)
def q124_session_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavior-sequence construction for sequential models: per session
    (native ``session_window``, 30-min gap), the user's event types in
    exact time order, content-pinned by md5 so the oracle certifies the
    SEQUENCE itself (q108's chunk-md5 idea applied to journeys). Ordering
    is embedded in the aggregate — ``sort_array(collect_list(struct(ts,
    event_id, type)))`` — so the result is shuffle-order-independent; one
    session_window shuffle on user_id, same cost shape as q96."""
    cat = Catalog(spark, sf_dir)
    seq = F.array_join(
        F.transform(
            F.sort_array(F.collect_list(F.struct(
                F.col("ts"), F.col("event_id"), F.col("event_type")))),
            lambda s: s.getField("event_type")), " ")
    return (cat.events
            .groupBy(F.session_window("ts", "30 minutes").alias("s"),
                     "user_id")
            .agg(F.count(F.lit(1)).cast("int").alias("n_events"),
                 F.md5(seq).alias("journey_md5"))
            .select("user_id",
                    F.date_format("s.start", "yyyy-MM-dd HH:mm:ss")
                    .alias("session_start"),
                    "n_events", "journey_md5"))


@_register(
    "q123_wav_spectral",
    survey="net-new spectral audio decode (numpy FFT dominant-bin over real WAV)",
    oracle="""
        -- Closed-form certificate: the synth places each tone EXACTLY on
        -- FFT bin (doc_id % 200) + 5 of the 512-point spectrum, so the
        -- numpy-FFT argmax Spark computes is analytically known.
        SELECT doc_id,
               8000 AS sample_rate,
               512 AS n_samples,
               CAST((doc_id % 200) + 5 AS INT) AS peak_bin
        FROM documents
    """,
)
def q123_wav_spectral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL DSP over the multimodal path: synthesize genuine WAV tones
    (stdlib ``wave``), decode them back, and run an ACTUAL numpy FFT per
    clip to find the dominant frequency bin — the audio-corpus filtering
    shape (tone/voice/music detection). The synth pins each tone exactly
    on one FFT bin, so the decoded argmax has a closed-form oracle; the
    FFT itself is real (numpy.fft.rfft over the unpacked PCM), Arrow-
    batched, zero shuffle."""
    from .operators import multimodal as mm
    cat = Catalog(spark, sf_dir)
    tones = mm.synthesize_tone_payload(cat.documents)
    return mm.decode_spectral_features(tones)


@_register(
    "q121_approx_percentiles",
    survey="net-new approximate percentiles under a certified error contract",
    oracle="""
        -- Tolerance-certificate oracle (the q111 pattern): DuckDB certifies
        -- the EXACT per-group medians; the boolean is the CONTRACT that
        -- Spark's percentile_approx(accuracy=10000) lands within 5% of
        -- exact — computed Spark-side from the real sketch, so a sketch
        -- regression flips the value and the driver records a mismatch.
        -- 5% is sized for the SMALL fixture groups (~300 rows: the sketch
        -- returns a sample value while exact interpolates — measured gap
        -- up to 1.1% at sf0.001, shrinking ~1/n with group size).
        SELECT o_orderpriority,
               round(percentile_cont(0.5)
                     WITHIN GROUP (ORDER BY o_totalprice), 2) AS exact_median,
               TRUE AS approx_within_5pct
        FROM orders GROUP BY o_orderpriority
    """,
)
def q121_approx_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate percentiles at scale: ``percentile_approx`` runs in one
    pass with a mergeable bounded-memory sketch (exact percentiles need the
    full value multiset per group — q71's cost), so it is the 100 TB
    default. The certificate: exact median certified cross-engine, plus a
    contract boolean that the sketch lands within 5 % (sized for the
    ~300-row fixture groups; see the oracle comment) — same shape as
    q111's HLL certificate."""
    cat = Catalog(spark, sf_dir)
    per = cat.orders.groupBy("o_orderpriority").agg(
        F.round(F.expr("percentile(o_totalprice, 0.5)"), 2)
            .alias("exact_median"),
        F.expr("percentile_approx(o_totalprice, 0.5, 10000)")
            .alias("_approx"))
    return per.select(
        "o_orderpriority", "exact_median",
        (F.abs(F.col("_approx") - F.col("exact_median"))
         / F.col("exact_median") <= 0.05).alias("approx_within_5pct"))


@_register(
    "q122_rolling_features",
    survey="net-new per-key rolling window features (moving sum/avg, exact cents)",
    oracle="""
        SELECT user_id, event_id,
               CAST(sum(CAST(floor(value * 100) AS BIGINT))
                    OVER w AS BIGINT) AS roll_sum_cents,
               CAST(count(*) OVER w AS INT) AS roll_n
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    """,
)
def q122_rolling_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key rolling features (7-event moving sum + count of ``value``) —
    the feature-engineering shape for sequence models over telemetry. The
    sum runs over integer cents so the certificate is exact (float moving
    sums accumulate in engine-specific order); each user windows only its
    own events (hash-partitioned, event_id tiebreak for determinism).
    ``floor`` before the long cast on BOTH engines — Spark's long cast
    truncates toward zero while DuckDB's CAST rounds, so a bare cast
    drifts by one cent on .5+ fractions."""
    cat = Catalog(spark, sf_dir)
    w = (Window.partitionBy("user_id")
         .orderBy(F.col("ts").asc(), F.col("event_id").asc())
         .rowsBetween(-6, Window.currentRow))
    return cat.events.select(
        "user_id", "event_id",
        F.sum(F.floor(F.col("value") * 100).cast("long")).over(w)
            .alias("roll_sum_cents"),
        F.count(F.lit(1)).over(w).cast("int").alias("roll_n"))


@_register(
    "q120_resample_ffill",
    survey="net-new time-grid resampling with forward fill (telemetry feature shape)",
    oracle="""
        -- correlated generate_series bounds are unsupported (q109 note);
        -- events span ~30 days, so an uncorrelated 0..1000-hour index
        -- joined on the span bound covers every key.
        WITH span AS (
          SELECT user_id, min(ts) AS t0, max(ts) AS t1
          FROM events GROUP BY 1),
        grid AS (
          SELECT s.user_id,
                 date_trunc('hour', s.t0) + to_hours(t.i) AS grid_ts
          FROM span s JOIN generate_series(0, 1000) AS t(i)
            ON date_trunc('hour', s.t0) + to_hours(t.i) <= s.t1),
        ff AS (
          SELECT g.user_id, g.grid_ts,
                 (SELECT e.value FROM events e
                  WHERE e.user_id = g.user_id AND e.ts <= g.grid_ts
                  ORDER BY e.ts DESC, e.value DESC LIMIT 1) AS value
          FROM grid g)
        SELECT f.user_id,
               strftime(f.grid_ts, '%Y-%m-%d %H:%M:%S') AS grid_ts,
               f.value,
               EXISTS(SELECT 1 FROM events e
                      WHERE e.user_id = f.user_id
                        AND e.ts = f.grid_ts) AS is_observed
        FROM ff f WHERE f.value IS NOT NULL
    """,
)
def q120_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user hourly resampling with forward fill
    (``operators.temporal.resample_ffill``): every user's event values
    snapped onto an hourly grid, gaps carrying the last observation
    forward — the feature-engineering shape that turns irregular telemetry
    into model-ready regular series. Values are carried verbatim (no
    arithmetic), so the certificate is exact; the grid explode is
    map-side and each key windows only its own rows."""
    from .operators.temporal import resample_ffill
    cat = Catalog(spark, sf_dir)
    out = resample_ffill(cat.events, "user_id", "ts", "value")
    return out.select(
        "user_id",
        F.date_format("grid_ts", "yyyy-MM-dd HH:mm:ss").alias("grid_ts"),
        "value", "is_observed")


@_register(
    "q119_salted_join",
    survey="net-new skew-resistant salted join (X-pattern; results invariant to salting)",
    oracle="""
        SELECT p_brand,
               count(*) AS cnt,
               CAST(sum(CAST(l_quantity * 100 AS BIGINT)) AS BIGINT) AS qty_cents
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY p_brand
    """,
)
def q119_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant salted equi-join certified for RESULT INVARIANCE: the
    big side takes a random salt, the small side explodes across all salt
    values, and the (key, salt) join splits any hot key across
    ``salt_buckets`` tasks — the manual fallback when AQE's runtime skew
    split can't see the skew (e.g. pre-shuffle aggregation hides it). The
    oracle is the PLAIN join aggregate: salting must never change results,
    only the task-level work distribution. Quantity sums go through an
    integer cents cast so the certificate is exact."""
    cat = Catalog(spark, sf_dir)
    joined = rel.salted_join(
        cat.lineitem.select("l_partkey", "l_quantity"),
        cat.part.select("p_partkey", "p_brand").withColumnRenamed(
            "p_partkey", "l_partkey"),
        on="l_partkey", salt_buckets=8)
    return joined.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum((F.col("l_quantity") * 100).cast("long")).alias("qty_cents"))


@_register(
    "q118_negative_sample",
    survey="net-new deterministic negative sampling (implicit-feedback training pairs)",
    oracle="""
        WITH inter AS (
          SELECT o_custkey AS user_id, l_partkey AS item_id
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          GROUP BY 1, 2),
        idx AS (
          SELECT p_partkey AS item,
                 row_number() OVER (ORDER BY p_partkey) - 1 AS i
          FROM part),
        n AS (SELECT count(*) AS n_items FROM part),
        slots AS (SELECT DISTINCT user_id FROM inter),
        cand AS (
          SELECT s.user_id, t.i AS slot,
                 (((((s.user_id * 8 + t.i + 42 * 1000003) % 2147483648)
                    + 2147483648) % 2147483648) * 2654435761) // 65536 AS h
          FROM slots s JOIN generate_series(0, 7) AS t(i) ON TRUE),
        m AS (SELECT c.user_id, c.slot, (c.h % n.n_items) AS i FROM cand c, n)
        SELECT m.user_id, idx.item AS item_id, CAST(m.slot AS INT) AS slot
        FROM m JOIN idx ON idx.i = m.i
        WHERE NOT EXISTS (SELECT 1 FROM inter
                          WHERE inter.user_id = m.user_id
                            AND inter.item_id = idx.item)
    """,
)
def q118_negative_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for the implicit-feedback trainer
    (``ml.protocol.negative_sample``): 8 hash-proposed non-interacted items
    per customer over the part dimension — the (user, negative) pairs a
    BPR/ALS-style objective consumes. Pure integer arithmetic on the shared
    multiplicative hash makes the exact pair set engine-independent; the
    oracle reproduces index construction, hashing, and the anti-join."""
    from .ml.protocol import negative_sample
    cat = Catalog(spark, sf_dir)
    inter = (cat.lineitem.join(cat.orders.select("o_orderkey", "o_custkey"),
                               F.col("l_orderkey") == F.col("o_orderkey"))
             .select(F.col("o_custkey").alias("user_id"),
                     F.col("l_partkey").alias("item_id")).distinct())
    items = cat.part.select(F.col("p_partkey").alias("item_id"))
    return negative_sample(inter, items, n_negatives=8)


@_register(
    "q117_quantized_topk",
    survey="net-new int8-quantized vector search (exact integer dot ranking)",
    oracle="""
        WITH qz AS (
          SELECT vec_id,
                 CASE WHEN list_max(list_transform(embedding, x -> abs(x))) = 0
                      THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
                      ELSE list_transform(embedding, x -> CAST(floor(
                           x::DOUBLE * 127.0 /
                           list_max(list_transform(embedding, y -> abs(y)))::DOUBLE)
                           AS BIGINT)) END AS q
          FROM embeddings),
        scored AS (
          SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                 CAST(list_sum(list_transform(range(1, len(a.q) + 1),
                      i -> a.q[i] * b.q[i])) AS BIGINT) AS qdot
          FROM qz a JOIN qz b ON a.vec_id < 5 AND b.vec_id <> a.vec_id),
        ranked AS (
          SELECT query_id, neighbor_id, qdot,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY qdot DESC, neighbor_id ASC) AS rank
          FROM scored)
        SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, qdot
        FROM ranked WHERE rank <= 5
    """,
)
def q117_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int8-quantized vector search (``similarity.quantized_topk``): corpus
    and queries quantize to int8 (4× less candidate traffic at 100 TB) and
    neighbors rank by an EXACT integer dot product — deterministic,
    summation-order-free, and therefore oracle-certifiable where float
    cosine rankings need round-6 guards. The quantization itself
    (floor(v·127/max|v|)) is two correctly-rounded IEEE ops, bit-identical
    across engines."""
    cat = Catalog(spark, sf_dir)
    emb = cat.embeddings
    return sim.quantized_topk(emb, emb.filter(F.col("vec_id") < 5), k=5)


@_register(
    "q116_pack_slices",
    survey="net-new pack materialization (per-pack document slices for sequence assembly)",
    oracle="""
        -- packs per doc <= ceil(maxlen/2048)+1; series bound 4 is ample for
        -- the fixtures' ~100-token docs (uncorrelated bound + filter, as in
        -- q109/q110).
        WITH c AS (
          SELECT doc_id,
                 len(string_split_regex(text, '\\s+')) AS n,
                 sum(len(string_split_regex(text, '\\s+')))
                     OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
          FROM documents),
        o AS (
          SELECT doc_id, n, cum - n AS start,
                 (cum - n) // 2048 AS first_pack, (cum - 1) // 2048 AS last_pack
          FROM c)
        SELECT CAST(o.first_pack + t.i AS BIGINT) AS pack_id,
               o.doc_id,
               CAST(greatest((o.first_pack + t.i) * 2048 - o.start, 0)
                    AS BIGINT) AS slice_start,
               CAST(least(o.start + o.n, (o.first_pack + t.i + 1) * 2048)
                    - o.start
                    - greatest((o.first_pack + t.i) * 2048 - o.start, 0)
                    AS BIGINT) AS slice_len
        FROM o JOIN generate_series(0, 4) AS t(i)
          ON t.i <= o.last_pack - o.first_pack
    """,
)
def q116_pack_slices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The materialization side of q112: every (pack, document) overlap as
    a slice row, so fixed-length training sequences assemble by
    concatenating slices per pack. Same scalable prefix-sum offsets
    underneath; the explode adds ≈ corpus_tokens/2048 rows. Certified
    value-exactly against the window-cumsum SQL twin."""
    cat = Catalog(spark, sf_dir)
    caches: list[DataFrame] = []
    try:
        out = T.sequence_pack_slices(cat.documents, seq_len=2048,
                                     caches=caches)
        # Same cache-ownership rule as q112: pin the computed result before
        # releasing the range-sort cache (offset literals are only valid
        # for the materialized partitioning).
        return out.localCheckpoint(eager=True)
    finally:
        for c in caches:
            c.unpersist()


@_register(
    "q115_leave_last_out",
    survey="net-new temporal leave-last-out split (sequential-recsys next-item eval protocol)",
    oracle="""
        WITH r AS (
          SELECT user_id, event_id,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY ts DESC, event_id DESC) AS rn,
                 count(*) OVER (PARTITION BY user_id) AS n_hist
          FROM events)
        SELECT user_id, event_id, CAST(n_hist - 1 AS BIGINT) AS n_train
        FROM r WHERE rn = 1
    """,
)
def q115_leave_last_out(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal leave-last-out split (``ml.protocol.temporal_leave_last_out``):
    each user's chronologically last event becomes the held-out next-item
    test example, the rest train — the sequential-recommender protocol the
    reference's random user split cannot express (no future leakage). One
    hash-partitioned per-user window; the oracle certifies the exact test
    membership AND the per-user train size in one pass."""
    from .ml.protocol import temporal_leave_last_out
    cat = Catalog(spark, sf_dir)
    splits = temporal_leave_last_out(cat.events, user_col="user_id",
                                     ts_col="ts", tiebreak_col="event_id")
    train_sizes = splits.train.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_train"))
    return (splits.test.select("user_id", "event_id")
            .join(train_sizes, "user_id", "left")
            .select("user_id", "event_id",
                    F.coalesce("n_train", F.lit(0)).alias("n_train")))


@_register(
    "q114_incremental_dedup",
    survey="net-new incremental ingestion dedup (new batch vs persisted fingerprint index)",
    oracle="""
        WITH fp AS (
          SELECT doc_id, source,
                 md5(array_to_string(list_sort(list_distinct(
                     regexp_extract_all(lower(text), '[a-z0-9'']+'))), ' '))
                     AS fingerprint
          FROM documents),
        idx AS (SELECT DISTINCT fingerprint FROM fp
                WHERE source IN ('src0', 'src1')),
        batch AS (SELECT * FROM fp WHERE source NOT IN ('src0', 'src1'))
        SELECT CAST(min(doc_id) AS BIGINT) AS doc_id, fingerprint
        FROM batch
        WHERE fingerprint NOT IN (SELECT fingerprint FROM idx)
        GROUP BY fingerprint
    """,
)
def q114_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-ingest dedup: treat src0/src1 as the already-ingested corpus
    (its fingerprint INDEX is all that persists) and the other sources as
    the incoming batch; survivors are batch docs whose canonical content
    fingerprint is new to both the index and the batch (min id wins).
    ``dedup.incremental_ingest_dedup`` — the anti-join touches only
    fingerprints (never historical text), and with the index bucketed by
    fingerprint only the days-sized batch shuffles at 100 TB."""
    cat = Catalog(spark, sf_dir)
    is_ingested = F.col("source").isin("src0", "src1")
    index = dedup.fingerprint_dedup(cat.documents.filter(is_ingested)) \
        .select("fingerprint")
    batch = cat.documents.filter(~is_ingested)
    return dedup.incremental_ingest_dedup(batch, index)


@_register(
    "q113_weighted_sample",
    survey="net-new per-row weighted Bernoulli (quality-proportional corpus sampling)",
    oracle="""
        SELECT doc_id, lang
        FROM documents
        WHERE ((((((doc_id % 2147483648) + 2147483648) % 2147483648)
                 * 2654435761 + 42) // 65536) % 1000000)
              < CAST(floor(least(greatest(
                    CAST(len(list_distinct(string_split_regex(text, '\\s+'))) AS DOUBLE)
                    / len(string_split_regex(text, '\\s+')), 0.0), 1.0)
                    * 1000000) AS BIGINT)
    """,
)
def q113_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-proportional sampling: each document survives with
    probability equal to its own lexical-diversity score (any per-row
    quality signal works — a learned classifier score in production).
    ``sampling.weighted_bernoulli_sample`` quantizes the weight once and
    decides by pure integer comparison, so the oracle reproduces the EXACT
    keep-set — per-row arithmetic, no shuffle, streaming-safe. The weight
    here (distinct tokens / tokens) divides two exact integers, so both
    engines compute the identical double and floor to the identical
    threshold."""
    cat = Catalog(spark, sf_dir)
    toks = T.ws_tokens(F.col("text"))
    weighted = cat.documents.withColumn(
        "_w", T.distinct_token_ratio(toks, scale=None))
    return sampling.weighted_bernoulli_sample(weighted, "doc_id", "_w") \
        .select("doc_id", "lang")


@_register(
    "q112_sequence_packing",
    survey="net-new GPT-style sequence packing (global token offsets -> fixed-length packs)",
    oracle="""
        WITH c AS (
          SELECT doc_id,
                 len(string_split_regex(text, '\\s+')) AS n_tokens,
                 sum(len(string_split_regex(text, '\\s+')))
                     OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
          FROM documents)
        SELECT doc_id,
               CAST(n_tokens AS INT) AS n_tokens,
               CAST(cum - n_tokens AS BIGINT) AS start_offset,
               CAST((cum - n_tokens) // 2048 AS BIGINT) AS first_pack,
               CAST((cum - 1) // 2048 AS BIGINT) AS last_pack
        FROM c
    """,
)
def q112_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-sequence packing (concat-and-cut style): every document gets
    its global token offset and the range of fixed-length (2048-token)
    training sequences it lands in. The global offset runs through
    ``operators.ranks.global_prefix_sum`` — range-partitioned sort with
    per-partition offsets, so the construction that the oracle writes as an
    unpartitioned window cumsum executes WITHOUT a single-partition window
    at any input size (same machinery as q101/AUC; that is the 100 TB
    difference between this and the SQL twin's plan)."""
    cat = Catalog(spark, sf_dir)
    caches: list[DataFrame] = []
    try:
        out = T.sequence_pack_offsets(cat.documents, seq_len=2048,
                                      caches=caches)
        # The offset literals baked into the plan are only valid for the
        # EXACT materialized range partitioning they were collected from —
        # releasing the cache and re-executing would re-sample range
        # boundaries and mis-assign offsets (caught by the sf0.1 tri-SF
        # parity sweep). localCheckpoint pins the computed result
        # executor-side (lineage truncated, nothing crosses the driver —
        # the q93 pattern), after which the cache is safe to release.
        return out.localCheckpoint(eager=True)
    finally:
        for c in caches:
            c.unpersist()


@_register(
    "q125_bloom_semi_join",
    survey="net-new bloom-filter join pruning (probe prefiltered ahead of the shuffle)",
    oracle="""
        SELECT l_returnflag,
               CAST(count(*) AS BIGINT) AS n_rows,
               round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2)
                 AS sum_qty
        FROM lineitem
        WHERE l_orderkey IN (SELECT o_orderkey FROM orders
                             WHERE o_orderpriority = '1-URGENT')
        GROUP BY l_returnflag
    """,
)
def q125_bloom_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-pruned semi join: the urgent-order keys fold into a 128 KiB
    bitset (``operators/bloom.py`` — bit_or word partials, never the build
    rows, cross the shuffle), broadcast to the lineitem scan, which drops
    non-candidates at codegen speed BEFORE the exact join's shuffle. The
    Bloom stage has no false negatives and the exact semi join removes its
    false positives, so the result — and therefore the oracle — is exactly
    the plain semi join; what changes at 100 TB is that the probe shuffle
    carries only the surviving fraction. Scalable replacement for the
    reference's driver-collected ``isin`` pruning (sample_indexer.py:39)."""
    cat = Catalog(spark, sf_dir)
    urgent = cat.orders.filter(F.col("o_orderpriority") == "1-URGENT")
    kept = bloom.bloom_semi_join(cat.lineitem, urgent,
                                 "l_orderkey", "o_orderkey")
    return kept.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        agg.exact_sum("l_quantity", "sum_qty"))


@_register(
    "q126_kmeans_assign",
    survey="net-new embedding clustering: nearest-centroid assignment (broadcast argmin)",
    oracle="""
        WITH c AS (SELECT vec_id AS cid, embedding AS cvec
                   FROM embeddings WHERE vec_id < 8),
        p AS (
          SELECT e.vec_id, c.cid,
                 round(list_sum(list_transform(range(1, len(e.embedding) + 1),
                       i -> (e.embedding[i]::DOUBLE - c.cvec[i]::DOUBLE)
                          * (e.embedding[i]::DOUBLE - c.cvec[i]::DOUBLE))), 6)
                   AS d2
          FROM embeddings e, c)
        SELECT vec_id, cid, d2 FROM (
          SELECT *, row_number() OVER (PARTITION BY vec_id
                     ORDER BY d2 ASC, cid ASC) AS rn
          FROM p) WHERE rn = 1
    """,
)
def q126_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The k-means assignment step (``ml/kmeans.py``): 8 deterministic
    centroids (the vec_id<8 vectors) fold into ONE kilobyte-scale row,
    broadcast everywhere; each vector picks ``array_min`` over
    ``struct(round(d2,6), cid)`` — argmin on the rounded distance with cid
    tie-break, matching the oracle's window exactly. Zero corpus shuffle:
    the semantic-bucketing pass of a curation pipeline runs at scan speed."""
    cat = Catalog(spark, sf_dir)
    emb = cat.embeddings.select("vec_id", "embedding")
    cents = (cat.embeddings.filter(F.col("vec_id") < 8)
             .select(F.col("vec_id").alias("cid"),
                     F.col("embedding").alias("cvec")))
    return kmeans.assign(emb, cents).select("vec_id", "cid", "d2")


@_register(
    "q127_kmeans_lloyd",
    survey="net-new iterative Lloyd k-means (deterministic seed init; rows-only)",
    oracle=None,
)
def q127_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three full Lloyd rounds (assign → per-(cid,dim) mean → reassign) from
    the deterministic lowest-id seed — per-iteration cost is one corpus scan
    plus one collected k·dim aggregate, with the centroids held on the
    driver, so the final plan scans the corpus once. Rows-only BY DESIGN:
    iterated centroid means are unordered double summations (partition-order
    dependent in any engine), so a SQL twin would hash-diverge in the last
    bit; the value contract is the sf0.001 snapshot pin in
    tests/test_kmeans.py instead. Output is the per-cluster size and mean
    assignment distance (coarsely rounded — stable under summation order)."""
    cat = Catalog(spark, sf_dir)
    emb = cat.embeddings.select("vec_id", "embedding").persist()
    try:
        assigned = kmeans.lloyd(emb, k=8, n_iter=3)
        out = (assigned.groupBy("cid")
               .agg(F.count(F.lit(1)).alias("n"),
                    F.round(F.avg("d2"), 3).alias("mean_d2"))
               .orderBy("cid"))
        return out.localCheckpoint(eager=True)
    finally:
        emb.unpersist()


@_register(
    "q128_quality_gate",
    survey="net-new quality-rule cascade (Gopher/C4-style gate with first-fail reasons)",
    oracle="""
        WITH t AS (
          SELECT doc_id, lang,
                 string_split_regex(text, '\\s+') AS w,
                 len(string_split_regex(text, '\\s+')) AS n_tokens,
                 len(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))
                   / CAST(len(text) AS DOUBLE) AS punct_r
          FROM documents),
        r AS (
          SELECT doc_id, n_tokens,
                 n_tokens >= 15 AS ok_min_words,
                 n_tokens <= 5000 AS ok_max_words,
                 list_sum(list_transform(w, x -> len(x)))
                   / CAST(n_tokens AS DOUBLE) BETWEEN 2 AND 12
                   AS ok_mean_word_len,
                 punct_r <= 0.30 AS ok_punct,
                 len(list_distinct(w)) / CAST(n_tokens AS DOUBLE) >= 0.30
                   AS ok_diversity,
                 (lang <> 'en' OR
                  len(list_filter(w, x -> list_contains(
                      ['the','a','an','of','and','or','in','on','is','are','to'],
                      lower(x)))) / CAST(n_tokens AS DOUBLE) >= 0.02)
                   AS ok_stopword
          FROM t)
        SELECT doc_id, n_tokens,
               (ok_min_words AND ok_max_words AND ok_mean_word_len
                AND ok_punct AND ok_diversity AND ok_stopword) AS keep,
               CASE WHEN NOT ok_min_words THEN 'min_words'
                    WHEN NOT ok_max_words THEN 'max_words'
                    WHEN NOT ok_mean_word_len THEN 'mean_word_len'
                    WHEN NOT ok_punct THEN 'punct'
                    WHEN NOT ok_diversity THEN 'diversity'
                    WHEN NOT ok_stopword THEN 'stopword'
                    ELSE 'pass' END AS reason
        FROM r
    """,
)
def q128_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule-cascade quality gate in the Gopher/C4 heuristic family (Rae et
    al. 2021 §A1.1; Raffel et al. 2020 §2.2 — public papers): word-count
    bounds, mean-word-length band, symbol ratio, lexical diversity, and an
    English-only stopword floor, evaluated as ONE array of (rule, ok)
    structs so the gate reports the FIRST failing rule as an auditable
    reason code. Every predicate compares raw int/int-division doubles —
    bit-identical cross-engine, which is what lets a filter CASCADE (not
    just counts) be hash-certified. Pure scan-speed JVM expressions
    (``functions.text.quality_gate_columns`` — the identical columns run
    under readStream; see the streaming-twin test)."""
    gate = T.quality_gate_columns(F.col("text"), F.col("lang"))
    cat = Catalog(spark, sf_dir)
    return cat.documents.select(
        "doc_id",
        gate["n_tokens"].alias("n_tokens"),
        gate["keep"].alias("keep"),
        gate["reason"].alias("reason"))


@_register(
    "q129_heavy_hitters_cms",
    survey="net-new count-min heavy hitters (mergeable d×w grid + exact certificate)",
    oracle="""
        -- Tolerance-certificate oracle (q111 pattern): DuckDB certifies the
        -- exact top-10 token counts; the booleans are literal TRUE because
        -- the CONTRACT is "sketch estimate ≥ exact (structural) and within
        -- the 4N/w collision budget (measured margin on fixed fixtures)" —
        -- Spark computes them from the real merged sketch, so any grid or
        -- merge-path corruption flips a boolean into a value mismatch.
        WITH toks AS (
          SELECT unnest(string_split_regex(text, '\\s+')) AS token
          FROM documents),
        exact AS (
          SELECT token, CAST(count(*) AS BIGINT) AS exact_count
          FROM toks GROUP BY token)
        SELECT token, exact_count,
               TRUE AS est_ge_exact, TRUE AS est_within_eps
        FROM exact
        ORDER BY exact_count DESC, token ASC LIMIT 10
    """,
)
def q129_heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter tokens via a count-min sketch (``operators/sketches.py``)
    with q111's exact-certificate shape: the 4×512 counter grid is built as
    TWO half-corpus grids (doc_id parity) merged cell-wise — exercising the
    shard-rollup path that makes the sketch incremental at 100 TB — then
    probed for the exact top-10 tokens. ``est_ge_exact`` is structural
    (cells only add collisions); ``est_within_eps`` bounds the collision
    noise by 4N/w. The exact counts exist to CERTIFY the sketch and are
    what the oracle recomputes; production keeps only the d×w cells.

    width=32 (not the library's 512 default): the fixture vocabulary is
    ~31 distinct tokens, so the default width would never collide and the
    certificate would be vacuous — at w=32 the grid takes real collisions
    (measured worst overcount ≈28 %% of the 4N/w budget at sf0.001, within
    budget at all three SFs) and the min-over-rows estimate is genuinely
    exercised. Production sizing stays ε-driven: w ≈ e/ε."""
    width = 32
    cat = Catalog(spark, sf_dir)
    tokens = cat.documents.select(
        F.col("doc_id"),
        F.explode(T.ws_tokens(F.col("text"))).alias("token"))
    even = tokens.filter(F.col("doc_id") % 2 == 0)
    odd = tokens.filter(F.col("doc_id") % 2 == 1)
    grid = sketches.cms_merge(sketches.cms_build(even, width=width),
                              sketches.cms_build(odd, width=width))
    exact = tokens.groupBy("token").agg(
        F.count(F.lit(1)).alias("exact_count"))
    top = (exact.orderBy(F.col("exact_count").desc(), F.col("token").asc())
           .limit(10))
    est = sketches.cms_estimate(grid, top.select("token"), width=width)
    total = tokens.agg(F.count(F.lit(1)).alias("n_total"))
    return (top.join(F.broadcast(est), "token")
            .join(F.broadcast(total))
            .select("token", "exact_count",
                    (F.col("cms_estimate") >= F.col("exact_count"))
                    .alias("est_ge_exact"),
                    (F.col("cms_estimate") <= F.col("exact_count")
                     + F.lit(4) * F.col("n_total") / F.lit(width))
                    .alias("est_within_eps")))


@_register(
    "q130_correlated_subquery",
    survey="net-new correlated scalar subquery (TPC-H Q17 shape, decorrelated)",
    oracle="""
        SELECT p_brand,
               CAST(count(*) AS BIGINT) AS n_small,
               round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2)
                 AS small_revenue
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        WHERE l.l_quantity < (SELECT 0.5 * avg(l2.l_quantity)
                              FROM lineitem l2
                              WHERE l2.l_partkey = l.l_partkey)
        GROUP BY p_brand
    """,
)
def q130_correlated_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17's correlated-scalar-subquery shape ("rows below half their
    part's average quantity"), expressed in its DECORRELATED form: one
    per-key aggregate of the inner table + an equi-join back — exactly the
    plan Catalyst's DecorrelateInnerQuery produces from the SQL form the
    oracle runs (the SQL surface itself is pinned equal to this builder in
    tests/test_relational_extras.py). Per-row subquery evaluation never
    exists on either engine; the threshold compare is exact because
    l_quantity is integral (integer-valued double sums are order-independent,
    so avg is bit-identical cross-engine). One extra scan + one partial-agg
    shuffle of (key, sum, count) — the scalable shape at any size."""
    cat = Catalog(spark, sf_dir)
    li = cat.lineitem
    thresholds = (li.groupBy("l_partkey")
                  .agg((F.lit(0.5) * F.avg("l_quantity")).alias("_thr")))
    return (li.join(thresholds, "l_partkey")
            .filter(F.col("l_quantity") < F.col("_thr"))
            .join(F.broadcast(cat.part),
                  F.col("l_partkey") == F.col("p_partkey"))
            .groupBy("p_brand")
            .agg(F.count(F.lit(1)).alias("n_small"),
                 agg.exact_sum("l_extendedprice", "small_revenue")))


@_register(
    "q131_curriculum_phases",
    survey="net-new curriculum ordering (global quality ntile via scalable ranks)",
    oracle="""
        WITH scored AS (
          SELECT doc_id,
                 len(list_distinct(string_split_regex(text, '\\s+')))
                   / CAST(len(string_split_regex(text, '\\s+')) AS DOUBLE)
                   AS score
          FROM documents),
        t AS (SELECT doc_id, score,
                     ntile(4) OVER (ORDER BY score ASC, doc_id ASC) AS phase
              FROM scored)
        SELECT phase, CAST(count(*) AS BIGINT) AS n_docs,
               round(min(score), 6) AS min_score,
               round(max(score), 6) AS max_score
        FROM t GROUP BY phase
    """,
)
def q131_curriculum_phases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum construction: order the corpus by a quality score (lexical
    diversity — raw int/int division, bit-identical cross-engine) and cut it
    into 4 globally-balanced training phases. The global NTILE comes from
    ``operators/ranks.global_distribution_ranks`` — the range-partitioned
    row-number construction with adaptive small-input dispatch — so the
    oracle's single-partition ``ntile() OVER (ORDER BY ...)`` window is
    certified WITHOUT ever planning an unpartitioned window here (q101's
    machinery, reused; the tiebreak on doc_id makes the total order — and
    therefore phase membership — deterministic)."""
    from .operators import ranks

    cat = Catalog(spark, sf_dir)
    toks = T.ws_tokens(F.col("text"))
    scored = cat.documents.select(
        "doc_id", T.distinct_token_ratio(toks, scale=None).alias("score"))
    caches: list[DataFrame] = []
    try:
        ranked = ranks.global_distribution_ranks(
            scored, key_cols=["score"], tiebreak_cols=["doc_id"],
            ntile=4, caches=caches)
        out = (ranked.groupBy(F.col("ntile").alias("phase"))
               .agg(F.count(F.lit(1)).alias("n_docs"),
                    F.round(F.min("score"), 6).alias("min_score"),
                    F.round(F.max("score"), 6).alias("max_score")))
        return out.localCheckpoint(eager=True)
    finally:
        for c in caches:
            c.unpersist()


@_register(
    "q132_semantic_neardup",
    survey="net-new SemDeDup cluster-then-dedup (within-cluster cosine, min-id keep)",
    oracle=f"""
        WITH c AS (SELECT vec_id AS cid, embedding AS cvec
                   FROM embeddings WHERE vec_id < 8),
        asg AS (
          SELECT vec_id, cid FROM (
            SELECT e.vec_id, c.cid,
                   row_number() OVER (PARTITION BY e.vec_id ORDER BY
                     round(list_sum(list_transform(range(1, len(e.embedding) + 1),
                           i -> (e.embedding[i]::DOUBLE - c.cvec[i]::DOUBLE)
                              * (e.embedding[i]::DOUBLE - c.cvec[i]::DOUBLE))), 6)
                       ASC, c.cid ASC) AS rn
            FROM embeddings e, c) WHERE rn = 1),
        dropped AS (
          SELECT DISTINCT y.vec_id AS b
          FROM embeddings x JOIN asg ax ON x.vec_id = ax.vec_id
               JOIN asg ay ON ax.cid = ay.cid
               JOIN embeddings y ON y.vec_id = ay.vec_id
                                AND x.vec_id < y.vec_id
          WHERE round({_DUCK_COS.format(a='x.embedding', b='y.embedding')} /
                      nullif(sqrt({_DUCK_COS.format(a='x.embedding', b='x.embedding')}) *
                             sqrt({_DUCK_COS.format(a='y.embedding', b='y.embedding')}), 0.0),
                      6) >= 0.3)
        SELECT vec_id, cid FROM asg
        WHERE vec_id NOT IN (SELECT b FROM dropped)
    """,
)
def q132_semantic_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over the embedding corpus: nearest-centroid bucketing (the
    q126 assignment, centroids = vec_id<8) restricts exact cosine near-dup
    search to WITHIN clusters, then the paper's greedy min-id keep rule
    drops the higher id of every above-threshold pair — the whole
    cluster-restricted pair space and the final keep-set are recomputed
    verbatim by the DuckDB oracle. See
    ``similarity.semantic_neardup_survivors`` for the n² → Σ|cluster|²
    scale argument."""
    cat = Catalog(spark, sf_dir)
    cents = (cat.embeddings.filter(F.col("vec_id") < 8)
             .select(F.col("vec_id").alias("cid"),
                     F.col("embedding").alias("cvec")))
    return sim.semantic_neardup_survivors(cat.embeddings, cents,
                                          threshold=0.3)


@_register(
    "q133_time_range_window",
    survey="net-new time-RANGE window frame (trailing 1-hour aggregates)",
    oracle="""
        SELECT user_id, event_id,
               CAST(sum(CAST(floor(value * 100) AS BIGINT))
                    OVER w AS BIGINT) AS hr_sum_cents,
               CAST(count(*) OVER w AS INT) AS hr_n
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts
                     RANGE BETWEEN INTERVAL 1 HOUR PRECEDING
                           AND CURRENT ROW)
    """,
)
def q133_time_range_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-one-hour per-user aggregates with a true RANGE frame —
    unlike q122's ROWS frame, membership here is defined by event-TIME
    distance, so sparse and bursty users get correct windows. Spark range
    frames need a numeric order column: ``unix_micros(ts)`` with a
    ``[-3.6e9, 0]`` frame is µs-exact and matches the oracle's
    ``INTERVAL 1 HOUR PRECEDING`` boundary inclusively (both engines
    include ALL peers at equal order values — which is also why ts alone,
    without a tiebreak, is a legal deterministic order for a range frame).
    Cents sums keep the certificate exact; one hash shuffle on user_id."""
    cat = Catalog(spark, sf_dir)
    # events.ts loads as TIMESTAMP_NTZ; unix_micros needs TIMESTAMP — the
    # cast re-interprets in the session TZ, pinned UTC, so it is exact.
    w = (Window.partitionBy("user_id")
         .orderBy(F.unix_micros(F.col("ts").cast("timestamp")))
         .rangeBetween(-3_600_000_000, Window.currentRow))
    return cat.events.select(
        "user_id", "event_id",
        F.sum(F.floor(F.col("value") * 100).cast("long")).over(w)
            .alias("hr_sum_cents"),
        F.count(F.lit(1)).over(w).cast("int").alias("hr_n"))


@_register(
    "q134_bloom_decontaminate",
    survey="net-new bloom anti-join decontamination (proven-absent rows skip the join)",
    oracle="""
        SELECT l_returnflag,
               CAST(count(*) AS BIGINT) AS n_rows,
               round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2)
                 AS sum_qty
        FROM lineitem
        WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders
                                 WHERE o_orderpriority = '1-URGENT')
        GROUP BY l_returnflag
    """,
)
def q134_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The decontamination direction of q125: DROP probe rows whose key
    appears in the build set, with the Bloom filter's one-sided error doing
    the heavy lifting — bloom-negative rows are PROVEN absent and keep
    without any join (at real contamination rates, ~the whole corpus at
    scan speed); only the bloom-positive sliver enters the exact anti join.
    Unlike q104's broadcast decontamination, this shape survives an eval
    set too large to broadcast. Oracle = the plain NOT IN anti join."""
    cat = Catalog(spark, sf_dir)
    urgent = cat.orders.filter(F.col("o_orderpriority") == "1-URGENT")
    kept = bloom.bloom_anti_join(cat.lineitem, urgent,
                                 "l_orderkey", "o_orderkey")
    return kept.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        agg.exact_sum("l_quantity", "sum_qty"))


@_register(
    "q135_scd2_history",
    survey="net-new SCD Type-2 dimension history (versioned upsert, validity intervals)",
    oracle="""
        WITH upd AS (
          SELECT c_custkey, c_name, 'PREMIUM' AS c_mktsegment
          FROM customer WHERE c_custkey % 10 = 0),
        base AS (SELECT c_custkey, c_name, c_mktsegment FROM customer)
        SELECT c_custkey, c_mktsegment,
               CAST(valid_from AS VARCHAR) AS valid_from,
               CAST(valid_to AS VARCHAR) AS valid_to,
               is_current
        FROM (
          SELECT b.c_custkey, b.c_mktsegment,
                 DATE '1900-01-01' AS valid_from,
                 CAST(NULL AS DATE) AS valid_to, TRUE AS is_current
          FROM base b
          WHERE b.c_custkey NOT IN (SELECT c_custkey FROM upd)
          UNION ALL
          SELECT b.c_custkey, b.c_mktsegment,
                 DATE '1900-01-01', DATE '2024-06-01', FALSE
          FROM base b
          WHERE b.c_custkey IN (SELECT c_custkey FROM upd)
          UNION ALL
          SELECT u.c_custkey, u.c_mktsegment,
                 DATE '2024-06-01', CAST(NULL AS DATE), TRUE
          FROM upd u)
    """,
)
def q135_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-Changing-Dimension Type 2 (``relational.scd2_apply``): every
    10th customer moves to a 'PREMIUM' segment effective 2024-06-01; the
    versioned dimension keeps the prior row closed-out and the new row
    open. Three scans, update keys broadcast into the semi/anti split —
    history application at dimension-scan speed, no row-by-row merge.
    Dates stringify in the output so the hash compare is
    format-independent."""
    cat = Catalog(spark, sf_dir)
    base = cat.customer.select("c_custkey", "c_name", "c_mktsegment")
    upd = (base.filter(F.col("c_custkey") % 10 == 0)
           .withColumn("c_mktsegment", F.lit("PREMIUM")))
    versioned = rel.scd2_apply(base, upd, "c_custkey", "2024-06-01")
    return versioned.select(
        "c_custkey", "c_mktsegment",
        F.col("valid_from").cast("string").alias("valid_from"),
        F.col("valid_to").cast("string").alias("valid_to"),
        "is_current")


@_register(
    "q136_funnel",
    survey="net-new ordered funnel conversion (stage-reach counts over event journeys)",
    oracle="""
        WITH firsts AS (
          SELECT user_id,
                 min(CASE WHEN event_type = 'signup' THEN ts END) AS t_signup,
                 min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
                 min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
                 min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
          FROM events GROUP BY user_id),
        stages AS (
          SELECT user_id,
                 (t_signup IS NOT NULL) AS s1,
                 (t_signup IS NOT NULL AND t_view > t_signup) AS s2,
                 (t_signup IS NOT NULL AND t_view > t_signup
                  AND t_click > t_view) AS s3,
                 (t_signup IS NOT NULL AND t_view > t_signup
                  AND t_click > t_view AND t_purchase > t_click) AS s4
          FROM firsts)
        SELECT stage, CAST(n AS BIGINT) AS n_users FROM (
          SELECT 1 AS stage, count(*) FILTER (s1) AS n FROM stages
          UNION ALL SELECT 2, count(*) FILTER (s2) FROM stages
          UNION ALL SELECT 3, count(*) FILTER (s3) FROM stages
          UNION ALL SELECT 4, count(*) FILTER (s4) FROM stages)
    """,
)
def q136_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (signup → first view after it → first click after
    that → first purchase after that): ONE aggregation computes each user's
    first-occurrence time per stage (conditional min — no self-joins, no
    explode), then pure per-row comparisons decide the deepest stage
    reached. Null semantics carry the ordering for free: ``t_view >
    t_signup`` is null-false when either stage never happened. One shuffle
    on user_id at any scale; the four stage counts are one more tiny agg."""
    cat = Catalog(spark, sf_dir)
    first = lambda t: F.min(F.when(F.col("event_type") == t,  # noqa: E731
                                   F.col("ts")))
    firsts = cat.events.groupBy("user_id").agg(
        first("signup").alias("t_signup"), first("view").alias("t_view"),
        first("click").alias("t_click"),
        first("purchase").alias("t_purchase"))
    s1 = F.col("t_signup").isNotNull()
    s2 = s1 & (F.col("t_view") > F.col("t_signup"))
    s3 = s2 & (F.col("t_click") > F.col("t_view"))
    s4 = s3 & (F.col("t_purchase") > F.col("t_click"))
    stages = firsts.select(*[
        F.coalesce(c, F.lit(False)).alias(n)
        for n, c in [("s1", s1), ("s2", s2), ("s3", s3), ("s4", s4)]])
    counts = stages.agg(*[
        F.sum(F.col(s).cast("long")).alias(s) for s in
        ("s1", "s2", "s3", "s4")])
    tall = counts.select(F.explode(F.array(*[
        F.struct(F.lit(i + 1).alias("stage"),
                 F.col(f"s{i + 1}").alias("n_users"))
        for i in range(4)])).alias("x"))
    return tall.select("x.stage", "x.n_users")


@_register(
    "q137_cohort_retention",
    survey="net-new weekly cohort retention (first-seen cohort × activity-week offsets)",
    oracle="""
        WITH cohort AS (
          SELECT user_id, date_trunc('week', min(ts)) AS c_week
          FROM events GROUP BY user_id),
        activity AS (
          SELECT DISTINCT e.user_id, c.c_week,
                 date_diff('day', c.c_week,
                           date_trunc('week', e.ts)) // 7 AS week_offset
          FROM events e JOIN cohort c ON e.user_id = c.user_id)
        SELECT strftime(c_week, '%Y-%m-%d') AS cohort_week,
               CAST(week_offset AS INT) AS week_offset,
               CAST(count(*) AS BIGINT) AS n_active_users
        FROM activity GROUP BY 1, 2
    """,
)
def q137_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The retention triangle: users grouped by first-seen ISO week, counted
    as active in each subsequent week offset. Week truncation is
    Monday-based on both engines; the offset divides an exact day
    difference of two week-truncated dates, so cohort membership is
    integer-deterministic. Two shuffles (per-user cohort agg + the
    (cohort, offset) rollup); the distinct keeps a user counted once per
    active week."""
    cat = Catalog(spark, sf_dir)
    ev = cat.events.select("user_id", F.date_trunc("week", "ts").alias("w"))
    cohort = ev.groupBy("user_id").agg(F.min("w").alias("c_week"))
    activity = (ev.join(cohort, "user_id")
                .select("user_id", "c_week",
                        (F.datediff(F.col("w"), F.col("c_week")) / 7)
                        .cast("int").alias("week_offset"))
                .distinct())
    return (activity.groupBy(
        F.date_format("c_week", "yyyy-MM-dd").alias("cohort_week"),
        "week_offset")
        .agg(F.count(F.lit(1)).alias("n_active_users")))


@_register(
    "q138_copurchase_pairs",
    survey="net-new market-basket co-occurrence (bounded per-basket pair generation)",
    oracle="""
        WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        pairs AS (
          SELECT a.l_partkey AS p1, b.l_partkey AS p2
          FROM items a JOIN items b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey)
        SELECT p1, p2, CAST(count(*) AS BIGINT) AS n_orders
        FROM pairs GROUP BY p1, p2
        ORDER BY n_orders DESC, p1 ASC, p2 ASC LIMIT 20
    """,
)
def q138_copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top co-purchased part pairs — the market-basket/co-occurrence shape
    behind "customers also bought" and token-co-occurrence statistics. The
    pair space is generated per BASKET (equi-self-join on l_orderkey after
    a distinct), so it is Σ |basket|² with baskets bounded at ~7 items —
    linear in orders, never corpus-quadratic (the same bounded-group
    argument as SemDeDup's clusters). The join co-partitions both sides on
    the basket key; skewed giant baskets would be AQE-split, and a
    production variant caps basket size before pairing. Top-20 with a
    total-order tiebreak."""
    cat = Catalog(spark, sf_dir)
    items = cat.lineitem.select("l_orderkey", "l_partkey").distinct()
    a = items.select(F.col("l_orderkey"), F.col("l_partkey").alias("p1"))
    b = items.select(F.col("l_orderkey").alias("_ok2"),
                     F.col("l_partkey").alias("p2"))
    pairs = a.join(b, (F.col("l_orderkey") == F.col("_ok2"))
                   & (F.col("p1") < F.col("p2")))
    return (pairs.groupBy("p1", "p2")
            .agg(F.count(F.lit(1)).alias("n_orders"))
            .orderBy(F.col("n_orders").desc(), F.col("p1").asc(),
                     F.col("p2").asc())
            .limit(20))


@_register(
    "q139_point_in_time_join",
    survey="net-new point-in-time join against SCD2 validity intervals (no training-serving skew)",
    oracle="""
        WITH upd AS (
          SELECT c_custkey, 'PREMIUM' AS c_mktsegment
          FROM customer WHERE c_custkey % 10 = 0),
        v AS (
          SELECT c_custkey, c_mktsegment,
                 DATE '1900-01-01' AS valid_from, DATE '2024-01-15' AS valid_to
          FROM customer WHERE c_custkey IN (SELECT c_custkey FROM upd)
          UNION ALL
          SELECT c_custkey, c_mktsegment,
                 DATE '1900-01-01', CAST(NULL AS DATE)
          FROM customer WHERE c_custkey NOT IN (SELECT c_custkey FROM upd)
          UNION ALL
          SELECT c_custkey, 'PREMIUM', DATE '2024-01-15', CAST(NULL AS DATE)
          FROM upd),
        ev AS (
          SELECT event_id, CAST(ts AS DATE) AS d,
                 (SELECT min(c_custkey) FROM customer)
                 + ((user_id % (SELECT count(*) FROM customer))) AS ck
          FROM events)
        SELECT v.c_mktsegment AS segment_at_event_time,
               CAST(count(*) AS BIGINT) AS n_events
        FROM ev JOIN v ON ev.ck = v.c_custkey
                      AND ev.d >= v.valid_from
                      AND (v.valid_to IS NULL OR ev.d < v.valid_to)
        GROUP BY 1
    """,
)
def q139_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time enrichment: each event joins the dimension VERSION that
    was valid at the event's date — the feature-correctness pattern that
    prevents training-serving skew (a model trained on today's attributes
    for last month's events leaks the future). The versioned dim comes from
    ``relational.scd2_apply`` (every 10th customer goes PREMIUM effective
    2024-01-15, mid-way through the events fixture's January span, so both
    sides of the boundary carry events); the join predicate is equi on the
    key PLUS the validity interval, which Spark plans as a broadcast/hash
    equi-join with the range as a post-join filter — per-key version counts
    are small, so the range residual prunes a handful of rows per match,
    never a cross product. Events map onto customer keys by modulo (both
    engines, same arithmetic)."""
    cat = Catalog(spark, sf_dir)
    base = cat.customer.select("c_custkey", "c_mktsegment")
    upd = (base.filter(F.col("c_custkey") % 10 == 0)
           .withColumn("c_mktsegment", F.lit("PREMIUM")))
    v = rel.scd2_apply(base, upd, "c_custkey", "2024-01-15")
    n_cust = cat.customer.count()
    min_ck = cat.customer.agg(F.min("c_custkey")).first()[0]
    ev = cat.events.select(
        "event_id", F.col("ts").cast("date").alias("d"),
        (F.lit(min_ck) + F.pmod(F.col("user_id"), F.lit(n_cust))).alias("ck"))
    joined = ev.join(
        v, (F.col("ck") == F.col("c_custkey"))
        & (F.col("d") >= F.col("valid_from"))
        & (F.col("valid_to").isNull() | (F.col("d") < F.col("valid_to"))))
    return (joined.groupBy(F.col("c_mktsegment")
                           .alias("segment_at_event_time"))
            .agg(F.count(F.lit(1)).alias("n_events")))


@_register(
    "q140_editdist_neardup",
    survey="net-new record-linkage dedup tier (blocked bounded edit distance)",
    oracle="""
        WITH d AS (
          SELECT doc_id, substr(lower(text), 1, 16) AS blk,
                 substr(lower(text), 1, 80) AS pre
          FROM documents),
        allowed AS (
          SELECT blk FROM d GROUP BY blk HAVING count(*) <= 64)
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(levenshtein(a.pre, b.pre) AS INT) AS dist
        FROM d a
        JOIN allowed USING (blk)
        JOIN d b ON a.blk = b.blk AND a.doc_id < b.doc_id
        WHERE levenshtein(a.pre, b.pre) <= 8
        ORDER BY id_a, id_b
    """,
)
def q140_editdist_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typo-tolerant near-dup pairs over the documents corpus
    (:func:`dedup.editdist_blocked_pairs`): identical 16-char lower-cased
    prefix blocks (stop-listed at 64 docs — boilerplate prefixes skip, as
    q32's shingle stop-list), Levenshtein ≤ 8 over the 80-char prefixes.
    Spark evaluates the thresholded Levenshtein (DP early-exit at the
    bound); the oracle certifies the exact pair set AND distances. Finds
    the fixtures' genuine small-edit duplicates that token-bag tiers
    dilute (256 pairs at sf0.1). One ~100-byte-per-doc shuffle; never the
    corpus, never all-pairs."""
    cat = Catalog(spark, sf_dir)
    pairs = dedup.editdist_blocked_pairs(
        cat.documents, block_len=16, prefix_len=80, max_dist=8,
        max_block=64)
    return pairs.orderBy("id_a", "id_b")


@_register(
    "q141_interaction_pagerank",
    survey="net-new iterative graph analytics (bipartite interaction PageRank; graph-walk counterpart of the reference's ALS ranking, recommender_train.py)",
    oracle="""
        WITH inter AS (
          SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
          FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
        edges AS (
          SELECT 2*c + 1 AS src, 2*p AS dst FROM inter
          UNION ALL
          SELECT 2*p AS src, 2*c + 1 AS dst FROM inter),
        deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
        nodes AS (SELECT DISTINCT src AS node FROM edges),
        r0 AS (SELECT node, CAST(1.0 AS DOUBLE) AS rank FROM nodes),
        c1 AS (SELECT e.dst, sum(r.rank / d.deg) AS c FROM edges e
               JOIN deg d ON e.src = d.src JOIN r0 r ON e.src = r.node
               GROUP BY e.dst),
        r1 AS (SELECT n.node, 0.15 + 0.85 * coalesce(c1.c, 0) AS rank
               FROM nodes n LEFT JOIN c1 ON n.node = c1.dst),
        c2 AS (SELECT e.dst, sum(r.rank / d.deg) AS c FROM edges e
               JOIN deg d ON e.src = d.src JOIN r1 r ON e.src = r.node
               GROUP BY e.dst),
        r2 AS (SELECT n.node, 0.15 + 0.85 * coalesce(c2.c, 0) AS rank
               FROM nodes n LEFT JOIN c2 ON n.node = c2.dst),
        c3 AS (SELECT e.dst, sum(r.rank / d.deg) AS c FROM edges e
               JOIN deg d ON e.src = d.src JOIN r2 r ON e.src = r.node
               GROUP BY e.dst),
        r3 AS (SELECT n.node, 0.15 + 0.85 * coalesce(c3.c, 0) AS rank
               FROM nodes n LEFT JOIN c3 ON n.node = c3.dst)
        SELECT CAST(node // 2 AS BIGINT) AS part, round(rank, 6) AS pr
        FROM r3 WHERE node % 2 = 0
        ORDER BY pr DESC, part ASC LIMIT 20
    """,
)
def q141_interaction_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 parts by PageRank over the customer–part interaction graph
    (:mod:`operators.graph`): 3 fixed iterations, damping 0.85, both-
    direction bipartite edges with integer-encoded node ids (customer →
    2id+1, part → 2id). Item importance smoothed by graph structure —
    heavy buyers contribute less per interaction than raw popularity
    counts because contributions are out-degree-normalized; the
    graph-walk counterpart of the ALS ranking the reference fits. Rounded
    to 1e-6 (double-precision sum-order drift ~1e-13) so the unrolled
    3-iteration oracle hash-matches. Per-iteration cost: ONE shuffle of
    per-dst partial sums; the rank state is |V| rows, never edges."""
    from .operators.graph import bipartite_interaction_edges, pagerank

    cat = Catalog(spark, sf_dir)
    o, li = cat.orders, cat.lineitem
    # The interaction relation is the expensive upstream every iteration
    # re-reads — persisted per the graph module's caller contract. The
    # final rank state is materialized (counted) inside pagerank, so the
    # upstream caches are released HERE, before returning: the returned
    # plan reads the cached ranks, and eviction is safe (pure joins/aggs
    # recompute deterministically — the q64 label-table discipline).
    caches: list[DataFrame] = []
    inter = rel.persisted(
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select("o_custkey", "l_partkey").distinct())
    edges = bipartite_interaction_edges(inter, "o_custkey", "l_partkey")
    pr = pagerank(edges, iters=3, damping=0.85, caches=caches)
    inter.unpersist()
    for c in caches:
        if c is not pr:
            c.unpersist()
    return (pr.filter(F.col("node") % 2 == 0)
            .select((F.col("node") / 2).cast("long").alias("part"),
                    F.round("rank", 6).alias("pr"))
            .orderBy(F.col("pr").desc(), F.col("part").asc())
            .limit(20))


@_register(
    "q142_k_anonymity",
    survey="net-new privacy governance (k-anonymous release: generalize quasi-identifiers, suppress groups < k)",
    oracle="""
        WITH q AS (
          SELECT c_mktsegment, n_name,
                 CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_kbucket
          FROM customer JOIN nation ON c_nationkey = n_nationkey),
        g AS (
          SELECT count(*) AS qc FROM q
          GROUP BY c_mktsegment, n_name, bal_kbucket)
        SELECT CAST(sum(CASE WHEN qc >= 5 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_groups_released,
               CAST(sum(CASE WHEN qc >= 5 THEN qc ELSE 0 END) AS BIGINT)
                 AS n_rows_released,
               CAST(sum(CASE WHEN qc < 5 THEN qc ELSE 0 END) AS BIGINT)
                 AS n_rows_suppressed
        FROM g
    """,
)
def q142_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymous release audit (:mod:`operators.privacy`) over the
    customer relation: quasi-identifiers = (market segment, nation,
    $1000-account-balance bucket), k = 5 — every released row is
    indistinguishable from ≥ 4 others on that tuple; smaller groups
    suppress whole. The oracle recomputes released/suppressed totals
    exactly. One map-side-combined agg over the quasi tuple; the
    dimension join broadcasts."""
    from .operators.privacy import k_anonymity_report

    cat = Catalog(spark, sf_dir)
    cust, nat = cat.customer, cat.nation
    q = (cust.join(F.broadcast(nat),
                   cust["c_nationkey"] == nat["n_nationkey"])
         .select("c_mktsegment", "n_name",
                 F.floor(F.col("c_acctbal") / 1000).alias("bal_kbucket")))
    return k_anonymity_report(q, ["c_mktsegment", "n_name", "bal_kbucket"],
                              k=5)


@_register(
    "q143_token_budget_selection",
    survey="net-new corpus budget fill (best-quality docs until a global token budget; scalable prefix-sum cutoff)",
    oracle="""
        WITH scored AS (
          SELECT doc_id, lang,
                 len(string_split_regex(text, '\\s+')) AS n_tokens,
                 len(list_distinct(string_split_regex(text, '\\s+')))
                   / CAST(len(string_split_regex(text, '\\s+')) AS DOUBLE)
                   AS score
          FROM documents),
        c AS (
          SELECT lang, n_tokens,
                 sum(n_tokens) OVER (ORDER BY score DESC, doc_id ASC
                                     ROWS UNBOUNDED PRECEDING) AS cum
          FROM scored)
        SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
        FROM c WHERE cum <= 20000 GROUP BY lang
    """,
)
def q143_token_budget_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget corpus fill — the selection step of assembling a
    fixed-size training mix: take documents in quality order (lexical
    diversity, the q131 score — raw int/int division, bit-identical
    cross-engine) until the running token total reaches the budget
    (inclusive-prefix ≤ 20k tokens), then report the selection per
    language. The cutoff is a GLOBAL running sum along a total order —
    computed with ``ranks.global_prefix_sum`` (range-partitioned sort +
    per-partition offsets), so the oracle's single-partition window is
    certified without ever planning one; the integer cumsum makes the
    cut point exact on both engines."""
    from .operators import ranks

    cat = Catalog(spark, sf_dir)
    toks = T.ws_tokens(F.col("text"))
    scored = cat.documents.select(
        "doc_id", "lang", F.size(toks).alias("n_tokens"),
        T.distinct_token_ratio(toks, scale=None).alias("score"))
    caches: list[DataFrame] = []
    try:
        cum = ranks.global_prefix_sum(
            scored, [F.col("score").desc(), F.col("doc_id").asc()],
            "n_tokens", out_col="cum", caches=caches)
        out = (cum.filter(F.col("cum") <= 20_000)
               .groupBy("lang")
               .agg(F.count(F.lit(1)).alias("n_docs"),
                    F.sum("n_tokens").cast("long").alias("sum_tokens")))
        return out.localCheckpoint(eager=True)
    finally:
        for c in caches:
            c.unpersist()


@_register(
    "q144_contamination_matrix",
    survey="net-new multi-benchmark decontamination (one-pass train-doc × eval-set attribution)",
    oracle="""
        WITH tok AS (
          SELECT doc_id, source,
                 string_split_regex(lower(text), '\\s+') AS t
          FROM documents),
        sh AS (
          SELECT doc_id, source,
                 unnest(list_transform(range(len(t) - 4),
                        i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
                             || ' ' || t[i+4] || ' ' || t[i+5])) AS ng
          FROM tok WHERE len(t) >= 5),
        ev AS (SELECT DISTINCT source AS eval_source, ng FROM sh
               WHERE source IN ('src0', 'src1')),
        tr AS (SELECT doc_id, ng FROM sh
               WHERE source NOT IN ('src0', 'src1'))
        SELECT tr.doc_id, ev.eval_source,
               CAST(count(DISTINCT tr.ng) AS BIGINT) AS n_shared_ngrams
        FROM tr JOIN ev USING (ng)
        GROUP BY tr.doc_id, ev.eval_source
        ORDER BY doc_id, eval_source
    """,
)
def q144_contamination_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-benchmark contamination attribution in one pass
    (:func:`dedup.multi_eval_contamination`): treat src0 and src1 as TWO
    separate eval benchmarks and tag every train document with each
    benchmark it shares a 5-gram with, plus the shared-distinct-gram
    count. The (benchmark, gram) set broadcasts; only hit rows shuffle —
    the train corpus never wide-exchanges (q104's property, generalized
    to N benchmarks in the same single scan)."""
    cat = Catalog(spark, sf_dir)
    out = dedup.multi_eval_contamination(cat.documents, ["src0", "src1"],
                                         n=5)
    return out.orderBy("doc_id", "eval_source")


@_register(
    "q145_avi_frames",
    survey="multimodal-video (REAL RIFF/AVI demux: chunk-tree walk, per-frame DIB decode, 1→N explode)",
    oracle="""
        -- Closed-form per-frame grayscale mean; channel bytes are 3·v so
        -- sum(bytes)/(w·h·3) == sum(v)/(w·h) — both engines perform the
        -- same exact-integer sum and ONE IEEE division.
        SELECT d.doc_id,
               CAST(f.i AS INT) AS frame_no,
               CAST((d.n_chars % 8) + 4 AS INT) AS width,
               CAST((d.doc_id % 6) + 4 AS INT) AS height,
               round(CAST(sum((d.doc_id * 29 + f.i * 23 + y.i * 13
                               + x.i * 7) % 256) AS DOUBLE)
                     / (((d.n_chars % 8) + 4) * ((d.doc_id % 6) + 4)),
                     6) AS mean_pixel
        FROM documents d
        JOIN generate_series(0, 5) AS f(i) ON f.i < (d.doc_id % 4) + 2
        JOIN generate_series(0, 9) AS y(i) ON y.i < (d.doc_id % 6) + 4
        JOIN generate_series(0, 11) AS x(i) ON x.i < (d.n_chars % 8) + 4
        GROUP BY d.doc_id, f.i, d.n_chars
    """,
)
def q145_avi_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video-container decode end-to-end (VERDICT r6 #6): synthesize a
    genuine RIFF/AVI per document (hdrl with avih/strh/strf headers, movi
    list of uncompressed bottom-up 24-bit DIB frame chunks), then DEMUX it
    back inside mapInPandas — RIFF chunk-tree walk with even-byte padding,
    BITMAPINFOHEADER dims from strf, every 00db frame decoded — exploding
    each video into per-frame rows (doc_id, frame_no, width, height,
    mean_pixel). Compressed codecs stay honestly env-gated
    (``multimodal._decode_payload``); uncompressed DIB is the one codec a
    stdlib ``struct`` demuxer can fully own."""
    from .operators import multimodal as mm
    cat = Catalog(spark, sf_dir)
    avis = mm.synthesize_avi_payload(cat.documents)
    return mm.decode_avi_frames(avis)


@_register(
    "q146_bigram_lm_nll",
    survey="perplexity-style quality filtering (corpus bigram LM, add-k smoothing — CCNet/Gopher-class LLM-pipeline op)",
    oracle="""
        -- Per-bigram log-probs rounded THEN decimal-summed: associative
        -- integer math, so aggregation order can't drift the hash.
        WITH toks AS (
          SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w
          FROM documents
        ), bi AS (
          SELECT doc_id, w[i] AS w1, w[i + 1] AS w2
          FROM (SELECT doc_id, w,
                       unnest(generate_series(1, len(w) - 1)) AS i
                FROM toks)
        ), c2 AS (
          SELECT w1, w2, count(*) AS c2 FROM bi GROUP BY w1, w2
        ), c1 AS (
          SELECT w1, count(*) AS c1 FROM bi GROUP BY w1
        ), v AS (
          SELECT count(DISTINCT t) AS v
          FROM (SELECT unnest(w) AS t FROM toks)
        ), sc AS (
          SELECT b.doc_id,
                 CAST(round(ln((c2.c2 + 0.5) / (c1.c1 + 0.5 * v.v)), 4)
                      AS DECIMAL(18,4)) AS lp
          FROM bi b
          JOIN c2 USING (w1, w2)
          JOIN c1 USING (w1)
          CROSS JOIN v
        )
        SELECT doc_id,
               count(*) AS n_bigrams,
               round(-CAST(sum(lp) AS DOUBLE) / count(*), 4) AS mean_nll
        FROM sc GROUP BY doc_id
        ORDER BY mean_nll DESC, doc_id ASC
        LIMIT 25
    """,
)
def q146_bigram_lm_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-style quality filter: train a bigram LM on the corpus
    itself, score every document's mean negative log-likelihood, surface
    the 25 least corpus-typical documents (the CCNet/Gopher filtering
    signal). Two linear passes — model aggregation on token keys, then a
    score join on the same keys (:func:`text.bigram_lm_nll`); the vocab
    scalar rides a broadcast. Beyond-reference LLM-pipeline operator."""
    cat = Catalog(spark, sf_dir)
    caches: list[DataFrame] = []
    try:
        out = (T.bigram_lm_nll(cat.documents, caches=caches)
               .orderBy(F.desc("mean_nll"), F.asc("doc_id")).limit(25)
               .select("doc_id", "n_bigrams", "mean_nll"))
        return out.localCheckpoint(eager=True)
    finally:
        for c in caches:
            c.unpersist()


@_register(
    "q147_cdc_chunk_dedup",
    survey="content-defined chunking dedup (rolling-hash cut points, insertion-robust partial-overlap detection — FastCDC/rsync family)",
    oracle="""
        -- Same cut rule: boundary after token j when md5 of the 3-token
        -- shingle ending at j starts with '0'; chunk fingerprints are
        -- md5 of space-joined tokens. Exact integers + strings only.
        WITH toks AS (
          SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w
          FROM documents
        ), pos AS (
          SELECT doc_id, w, unnest(generate_series(1, len(w))) AS i
          FROM toks
        ), flags AS (
          SELECT doc_id, i, w[i] AS tok,
                 CASE WHEN i >= 4 AND substr(md5(w[i-3] || ' ' || w[i-2]
                        || ' ' || w[i-1]), 1, 1) = '0'
                      THEN 1 ELSE 0 END AS starts_new
          FROM pos
        ), chunked AS (
          SELECT doc_id, i, tok,
                 sum(starts_new) OVER (PARTITION BY doc_id ORDER BY i)
                   AS chunk_id
          FROM flags
        ), chunks AS (
          SELECT doc_id, chunk_id,
                 md5(string_agg(tok, ' ' ORDER BY i)) AS fp
          FROM chunked
          GROUP BY doc_id, chunk_id
          HAVING string_agg(tok, ' ' ORDER BY i) <> ''
        )
        SELECT fp, count(*) AS n_copies,
               count(DISTINCT doc_id) AS n_docs,
               min(doc_id) AS first_doc
        FROM chunks GROUP BY fp
        HAVING count(*) > 1
        ORDER BY n_copies DESC, fp ASC
        LIMIT 25
    """,
)
def q147_cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunk dedup: rolling-hash cut points make chunk
    fingerprints survive insertions/deletions (only the edited chunk
    changes), so shared passages surface across documents that fixed-size
    chunking would misalign. Map-only array-land chunking, one explode
    per chunk, ONE shuffle on content-hash keys
    (:func:`dedup.cdc_chunks`). Beyond-reference LLM-pipeline operator."""
    cat = Catalog(spark, sf_dir)
    return dedup.cdc_duplicate_chunks(cat.documents)


@_register(
    "q148_boilerplate_exposure",
    survey="cross-document boilerplate exposure (corpus-frequent n-gram share per doc, per-source rollup — RefinedWeb/C4-class signal)",
    oracle="""
        -- Integer doc-frequency threshold (df*1000 > 4*N), 4dp per-doc
        -- ratios DECIMAL-summed: bit-identical cross-engine.
        WITH toks AS (
          SELECT doc_id, source,
                 string_split_regex(lower(text), '\\s+') AS w
          FROM documents
        ), sh AS (
          SELECT DISTINCT doc_id, source,
                 w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sh
          FROM (SELECT doc_id, source, w,
                       unnest(generate_series(1, len(w) - 2)) AS i
                FROM toks)
        ), nd AS (
          SELECT count(*) AS n FROM documents
        ), dfq AS (
          SELECT sh, count(*) AS df FROM sh GROUP BY sh
        ), boiler AS (
          SELECT sh FROM dfq CROSS JOIN nd WHERE df * 1000 > 4 * n
        ), per_doc AS (
          SELECT s.doc_id, any_value(s.source) AS source,
                 count(*) AS n_sh,
                 sum(CASE WHEN b.sh IS NOT NULL THEN 1 ELSE 0 END)
                   AS n_boiler
          FROM sh s LEFT JOIN boiler b USING (sh)
          GROUP BY s.doc_id
        ), rat AS (
          SELECT source,
                 CAST(round(n_boiler / CAST(n_sh AS DOUBLE), 4)
                      AS DECIMAL(8,4)) AS r
          FROM per_doc
        )
        SELECT source, count(*) AS n_docs,
               CAST(sum(CASE WHEN r > 0.05 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_flagged,
               round(CAST(sum(r) AS DOUBLE) / count(*), 4)
                 AS mean_boiler_ratio
        FROM rat GROUP BY source ORDER BY source
    """,
)
def q148_boilerplate_exposure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate exposure
    (:func:`dedup.cross_doc_boilerplate`): 3-gram shingles in > 0.4% of
    ALL documents are boilerplate; each document's exposure is the share
    of its distinct shingles that are boilerplate, rolled up per source
    with a 5% flag threshold. Finds mass template reuse that is neither
    self-repetition (q82) nor any single near-duplicate pair (q32/q64)."""
    cat = Catalog(spark, sf_dir)
    return dedup.cross_doc_boilerplate(cat.documents, n=3, df_permille=4,
                                       flag_ratio=0.05)


@_register(
    "q149_cdc_overlap_clusters",
    survey="document partial-overlap clusters from content-defined chunk sharing (chunk-share edges -> connected components; mirror/version/quote-farm detection beyond whole-doc near-dup)",
    oracle="""
        -- Same chunking as q147 (boundary after token j when md5 of the
        -- 3-token shingle ending at j starts with '0'); a fingerprint is
        -- overlap evidence when 2..64 docs carry it; docs sharing >= 2
        -- evidence fps are edges; clusters = connected components via
        -- recursive min-label reachability. Exact integers throughout.
        WITH RECURSIVE toks AS (
          SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w
          FROM documents
        ), pos AS (
          SELECT doc_id, w, unnest(generate_series(1, len(w))) AS i
          FROM toks
        ), flags AS (
          SELECT doc_id, i, w[i] AS tok,
                 CASE WHEN i >= 4 AND substr(md5(w[i-3] || ' ' || w[i-2]
                        || ' ' || w[i-1]), 1, 1) = '0'
                      THEN 1 ELSE 0 END AS starts_new
          FROM pos
        ), chunked AS (
          SELECT doc_id, i, tok,
                 sum(starts_new) OVER (PARTITION BY doc_id ORDER BY i)
                   AS chunk_id
          FROM flags
        ), chunks AS (
          SELECT doc_id, chunk_id,
                 md5(string_agg(tok, ' ' ORDER BY i)) AS fp
          FROM chunked
          GROUP BY doc_id, chunk_id
          HAVING string_agg(tok, ' ' ORDER BY i) <> ''
        ), doc_fp AS (
          SELECT DISTINCT doc_id, fp FROM chunks
        ), fp_ok AS (
          SELECT fp FROM doc_fp GROUP BY fp
          HAVING count(*) BETWEEN 2 AND 64
        ), elig AS (
          SELECT d.doc_id, d.fp FROM doc_fp d JOIN fp_ok USING (fp)
        ), p AS (
          SELECT x.doc_id AS a, y.doc_id AS b
          FROM elig x JOIN elig y
            ON x.fp = y.fp AND x.doc_id < y.doc_id
          GROUP BY x.doc_id, y.doc_id
          HAVING count(*) >= 2
        ), e AS (
          SELECT a, b FROM p UNION ALL SELECT b AS a, a AS b FROM p
        ), reach AS (
          SELECT DISTINCT a AS id, a AS lbl FROM e
          UNION
          SELECT e.b AS id, r.lbl FROM e JOIN reach r ON e.a = r.id
        ), comp AS (
          SELECT id AS doc_id, min(lbl) AS cluster_id
          FROM reach GROUP BY id
        ), sizes AS (
          SELECT cluster_id, count(*) AS n_cluster_docs
          FROM comp GROUP BY cluster_id
        )
        SELECT c.cluster_id, c.doc_id, s.n_cluster_docs
        FROM comp c JOIN sizes s USING (cluster_id)
        ORDER BY c.cluster_id, c.doc_id
    """,
)
def q149_cdc_overlap_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial-overlap document clusters (:func:`dedup.cdc_overlap_clusters`,
    VERDICT r7 #5): documents sharing >= 2 content-defined chunk
    fingerprints (each carried by 2..64 docs — viral fps are boilerplate,
    q148's domain, and would make pairing quadratic) form edges; connected
    components over those edges — the adaptive
    :func:`dedup.resolve_keep_list` tiers, no new iteration code — name
    each cluster by its min doc id. Surfaces mirror sites / versioned
    articles / quote farms that differ globally but overlap locally, which
    whole-document near-dup (q32/q64) structurally misses."""
    cat = Catalog(spark, sf_dir)
    return dedup.cdc_overlap_clusters(cat.documents, window=3,
                                      min_shared_chunks=2, max_fp_docs=64)


#: Fixed query batch for q150 — vocabulary-matched search strings (the
#: TPC-H fixed-parameter convention); 'search' in query 5 hits no
#: posting and drops out at the inverted-index join, by design.
_BM25_QUERIES: tuple[tuple[int, str], ...] = (
    (1, "fast hash join"),
    (2, "stream window agg"),
    (3, "customer order line"),
    (4, "big data scan"),
    (5, "vector search"),
)


@_register(
    "q150_bm25_retrieval",
    survey="lexical top-k retrieval (Okapi BM25, inverted-index candidate generation, broadcast query-term filter — sparse complement of the ANN tiers)",
    oracle="""
        -- Same shape as the Spark plan: postings (doc,term,tf), term df,
        -- exact N / sum(dl) so dl/avgdl is dl*N/sum_dl (integer-exact
        -- operands); per-term BM25 partials rounded to 4 dp FIRST and
        -- DECIMAL-summed (bigram-LM discipline). All float literals cast
        -- to DOUBLE so DuckDB's decimal literals can't change the math.
        WITH q(query_id, qtext) AS (
          VALUES (1, 'fast hash join'), (2, 'stream window agg'),
                 (3, 'customer order line'), (4, 'big data scan'),
                 (5, 'vector search')
        ), toks AS (
          SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w
          FROM documents
        ), tf AS (
          SELECT doc_id, t, count(*) AS tf
          FROM (SELECT doc_id, unnest(w) AS t FROM toks)
          GROUP BY doc_id, t
        ), dl AS (
          SELECT doc_id, len(w) AS dl FROM toks
        ), stats AS (
          SELECT count(*) AS n, sum(dl) AS sum_dl FROM dl
        ), dfreq AS (
          SELECT t, count(*) AS df FROM tf GROUP BY t
        ), qterms AS (
          SELECT DISTINCT query_id,
                 unnest(string_split_regex(lower(qtext), '\\s+')) AS t
          FROM q
        ), qt AS (
          SELECT query_id, qterms.t,
                 ln(CAST(1.0 AS DOUBLE)
                    + (n - df + CAST(0.5 AS DOUBLE))
                      / (df + CAST(0.5 AS DOUBLE))) AS idf,
                 n, sum_dl
          FROM qterms JOIN dfreq ON qterms.t = dfreq.t CROSS JOIN stats
        ), scored AS (
          SELECT query_id, tf.doc_id,
                 count(*) AS n_terms,
                 CAST(sum(CAST(round(
                     idf * tf * CAST(2.2 AS DOUBLE)
                     / (tf + CAST(1.2 AS DOUBLE)
                        * (CAST(0.25 AS DOUBLE)
                           + CAST(0.75 AS DOUBLE) * dl * n / sum_dl)),
                     4) AS DECIMAL(18,4))) AS DOUBLE) AS score_4dp
          FROM tf
          JOIN qt ON tf.t = qt.t
          JOIN dl ON tf.doc_id = dl.doc_id
          GROUP BY query_id, tf.doc_id
        ), ranked AS (
          SELECT query_id,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY score_4dp DESC, doc_id ASC)
                   AS rank,
                 doc_id, n_terms, score_4dp
          FROM scored
        )
        SELECT query_id, rank, doc_id, n_terms, score_4dp
        FROM ranked WHERE rank <= 10
        ORDER BY query_id, rank
    """,
)
def q150_bm25_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse lexical retrieval (:func:`text.bm25_topk`): Okapi BM25
    top-10 per query over the documents table for a fixed 5-query batch.
    Inverted-index candidate generation — the tiny query-term×idf frame
    is broadcast against the postings scan, so only postings of query
    terms survive and cost follows the queries, not the corpus. The
    sparse complement of the dense ANN tiers (q40/q58/q59/q117); together
    they are the hybrid-retrieval surface of a RAG/training-data stack."""
    cat = Catalog(spark, sf_dir)
    return (T.bm25_topk(cat.documents, list(_BM25_QUERIES), k=10)
              .orderBy("query_id", "rank"))


@_register(
    "q151_hybrid_rrf_retrieval",
    survey="hybrid retrieval: reciprocal-rank fusion of sparse BM25 and dense cosine lists (query-by-document, score-free rank combination)",
    oracle=f"""
        -- Query-by-document for docs 0..4: sparse list = BM25 of the
        -- probe's own text (q150 discipline, self excluded BEFORE
        -- ranking), dense list = exact cosine top-20 (q40 discipline),
        -- fused with rrf = sum of round(1/(60+rank), 6) DECIMAL-summed
        -- over the lists that retrieved the doc. Ranks are exact
        -- integers, so fusion is integer-exact end to end.
        WITH probes AS (
          SELECT doc_id AS query_id, lower(text) AS qtext
          FROM documents WHERE doc_id < 5
        ), toks AS (
          SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w
          FROM documents
        ), tf AS (
          SELECT doc_id, t, count(*) AS tf
          FROM (SELECT doc_id, unnest(w) AS t FROM toks)
          GROUP BY doc_id, t
        ), dl AS (
          SELECT doc_id, len(w) AS dl FROM toks
        ), stats AS (
          SELECT count(*) AS n, sum(dl) AS sum_dl FROM dl
        ), dfreq AS (
          SELECT t, count(*) AS df FROM tf GROUP BY t
        ), qterms AS (
          SELECT DISTINCT query_id,
                 unnest(string_split_regex(qtext, '\\s+')) AS t
          FROM probes
        ), qt AS (
          SELECT query_id, qterms.t,
                 ln(CAST(1.0 AS DOUBLE)
                    + (n - df + CAST(0.5 AS DOUBLE))
                      / (df + CAST(0.5 AS DOUBLE))) AS idf,
                 n, sum_dl
          FROM qterms JOIN dfreq ON qterms.t = dfreq.t CROSS JOIN stats
        ), sscore AS (
          SELECT query_id, tf.doc_id,
                 CAST(sum(CAST(round(
                     idf * tf * CAST(2.2 AS DOUBLE)
                     / (tf + CAST(1.2 AS DOUBLE)
                        * (CAST(0.25 AS DOUBLE)
                           + CAST(0.75 AS DOUBLE) * dl * n / sum_dl)),
                     4) AS DECIMAL(18,4))) AS DOUBLE) AS s
          FROM tf
          JOIN qt ON tf.t = qt.t
          JOIN dl ON tf.doc_id = dl.doc_id
          GROUP BY query_id, tf.doc_id
        ), sranked AS (
          SELECT query_id, doc_id,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY s DESC, doc_id ASC)
                   AS sparse_rank
          FROM sscore WHERE doc_id <> query_id
        ), sparse AS (
          SELECT * FROM sranked WHERE sparse_rank <= 20
        ), qv AS (
          SELECT vec_id AS query_id, embedding AS qe FROM embeddings
          WHERE vec_id < 5
        ), dscored AS (
          SELECT query_id, vec_id AS doc_id,
                 round({_DUCK_COS.format(a='qe', b='embedding')} /
                       nullif(sqrt({_DUCK_COS.format(a='qe', b='qe')}) *
                              sqrt({_DUCK_COS.format(a='embedding', b='embedding')}),
                              0.0),
                       6) AS cs
          FROM qv, embeddings WHERE vec_id <> query_id
        ), dranked AS (
          SELECT query_id, doc_id,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY cs DESC, doc_id ASC)
                   AS dense_rank
          FROM dscored
        ), dense AS (
          SELECT * FROM dranked WHERE dense_rank <= 20
        ), fused AS (
          SELECT coalesce(s.query_id, d.query_id) AS query_id,
                 coalesce(s.doc_id, d.doc_id) AS doc_id,
                 s.sparse_rank, d.dense_rank,
                 CAST(coalesce(CAST(round(CAST(1.0 AS DOUBLE)
                                          / (60 + s.sparse_rank), 6)
                                    AS DECIMAL(18,6)),
                               CAST(0 AS DECIMAL(18,6)))
                      + coalesce(CAST(round(CAST(1.0 AS DOUBLE)
                                            / (60 + d.dense_rank), 6)
                                      AS DECIMAL(18,6)),
                                 CAST(0 AS DECIMAL(18,6)))
                      AS DOUBLE) AS rrf_score
          FROM sparse s FULL OUTER JOIN dense d
            ON s.query_id = d.query_id AND s.doc_id = d.doc_id
        ), franked AS (
          SELECT query_id,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY rrf_score DESC, doc_id ASC)
                   AS rank,
                 doc_id, sparse_rank, dense_rank, rrf_score
          FROM fused
        )
        SELECT query_id, rank, doc_id, sparse_rank, dense_rank, rrf_score
        FROM franked WHERE rank <= 10
        ORDER BY query_id, rank
    """,
)
def q151_hybrid_rrf_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval (:func:`sim.rrf_fuse`): for probe documents 0..4,
    fuse the sparse BM25 list (the probe's own text as the query,
    :func:`text.bm25_topk` with self excluded) and the dense cosine list
    (:func:`sim.cosine_topk` over the aligned embeddings) by
    reciprocal-rank fusion — the score-free combiner that needs no
    cross-scale calibration. Sparse misses what dense catches (paraphrase)
    and vice versa (rare exact terms); RRF is the standard production
    remedy. Everything stays on the cluster: the query batch is a
    projection of the corpus, both retrievers bound candidate volume."""
    cat = Catalog(spark, sf_dir)
    probes = (cat.documents.filter(F.col("doc_id") < 5)
              .select(F.col("doc_id").alias("query_id"),
                      F.col("text").alias("qtext")))
    sparse = T.bm25_topk(cat.documents, probes, k=20,
                         exclude_query_doc=True)
    dense = sim.cosine_topk(cat.embeddings,
                            cat.embeddings.filter(F.col("vec_id") < 5),
                            k=20)
    wd = Window.partitionBy("query_id").orderBy(F.desc("cosine_sim"),
                                                F.asc("neighbor_id"))
    dense_ranked = (dense.withColumn("rank", F.row_number().over(wd))
                         .select("query_id",
                                 F.col("neighbor_id").alias("doc_id"),
                                 "rank"))
    return (sim.rrf_fuse(sparse, dense_ranked, k0=60, k=10)
               .orderBy("query_id", "rank"))


def _q152_oracle() -> str:
    h = sampling._knuth_hash_sql("cluster_id", 42)
    return f"""
        -- Near-dup clusters (q32's exact inverted-index Jaccard, >= 0.6)
        -- -> recursive min-label components -> CLUSTER-keyed knuth-hash
        -- split (the q102/q105 hash convention) -> per-split/source
        -- rollup. Exact integers and string compares end to end.
        WITH RECURSIVE sh AS (
          SELECT doc_id AS id,
                 list_distinct(list_transform(
                   range(1, greatest(len(w) - 2, 0) + 1),
                   i -> array_to_string(list_slice(w, i, i + 2), ' ')))
                   AS shingles
          FROM (SELECT doc_id, string_split_regex(text, '\\s+') AS w
                FROM documents)
        ), sizes AS (
          SELECT id, len(shingles) AS set_size FROM sh
        ), posting AS (
          SELECT id, unnest(shingles) AS shingle FROM sh
        ), cand AS (
          SELECT p1.id AS a, p2.id AS b, count(*) AS inter_cnt
          FROM posting p1 JOIN posting p2
            ON p1.shingle = p2.shingle AND p1.id < p2.id
          GROUP BY 1, 2
        ), pairs AS (
          SELECT a, b
          FROM cand
          JOIN sizes sa ON cand.a = sa.id
          JOIN sizes sb ON cand.b = sb.id
          WHERE round(inter_cnt /
                      CAST(sa.set_size + sb.set_size - inter_cnt AS DOUBLE),
                      6) >= 0.6
        ), e AS (
          SELECT a, b FROM pairs UNION ALL SELECT b AS a, a AS b FROM pairs
        ), reach AS (
          SELECT DISTINCT a AS id, a AS lbl FROM e
          UNION
          SELECT e.b AS id, r.lbl FROM e JOIN reach r ON e.a = r.id
        ), comp AS (
          SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id
        ), asg AS (
          SELECT d.doc_id, d.source,
                 len(string_split_regex(d.text, '\\s+')) AS n_tok,
                 coalesce(c.cluster_id, d.doc_id) AS cluster_id
          FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
        ), spl AS (
          SELECT *,
                 CASE WHEN ({h}) % 1000000 < 800000 THEN 'train'
                      WHEN ({h}) % 1000000 < 900000 THEN 'val'
                      ELSE 'test' END AS split
          FROM asg
        )
        SELECT split, source, count(*) AS n_docs,
               count(DISTINCT cluster_id) AS n_clusters,
               CAST(sum(n_tok) AS BIGINT) AS n_tokens
        FROM spl GROUP BY split, source ORDER BY split, source
    """


@_register(
    "q152_leakage_safe_split",
    survey="leakage-safe train/val/test split (near-dup-cluster-level assignment — no duplicate pair ever straddles the train/eval fence)",
    oracle=_q152_oracle(),
)
def q152_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-aware corpus split (:func:`dedup.leakage_safe_split`):
    near-dup clusters (exact n-gram Jaccard >= 0.6 over inverted-index
    candidates, components via the adaptive ``resolve_keep_list`` tiers)
    are the UNIT of train/val/test assignment — the shared multiplicative
    hash keys on cluster_id, so every near-duplicate lands on the same
    side of the fence by construction. Doc-level random splitting leaks
    ~2p(1-p) of every dup pair into eval; this operator is why dedup and
    splitting must compose, not just coexist. Rollup: per (split, source)
    doc / distinct-cluster / exact token counts."""
    cat = Catalog(spark, sf_dir)
    docs = cat.documents
    assigned = dedup.leakage_safe_split(docs, min_jaccard=0.6, n=3,
                                        fractions=(0.8, 0.1), salt=42)
    return (assigned
            .join(docs.select("doc_id", "source",
                              T.token_count(F.col("text")).alias("n_tok")),
                  "doc_id")
            .groupBy("split", "source")
            .agg(F.count("*").alias("n_docs"),
                 F.countDistinct("cluster_id").alias("n_clusters"),
                 F.sum("n_tok").alias("n_tokens"))
            .orderBy("split", "source"))


@_register(
    "q153_span_dedup_rewrite",
    survey="exact duplicated-span rewrite (k-token span keeps first occurrence, later copies cut and docs rebuilt — Lee et al. 2021 substring-dedup tier)",
    oracle="""
        -- Same semantics: case-normalized k=8 gram matching, winner =
        -- lexicographic min (doc_id, position), losers' k positions cut,
        -- rebuild from ORIGINAL-case tokens in order. Exact integers and
        -- strings end to end.
        WITH toks AS (
          SELECT doc_id,
                 string_split_regex(text, '\\s+') AS w,
                 string_split_regex(lower(text), '\\s+') AS wl
          FROM documents
        ), occ AS (
          SELECT doc_id, i,
                 array_to_string(list_slice(wl, i, i + 7), ' ') AS g
          FROM (SELECT doc_id, wl,
                       unnest(generate_series(1, len(wl) - 7)) AS i
                FROM toks)
        ), marked AS (
          SELECT doc_id, i,
                 row_number() OVER (PARTITION BY g
                                    ORDER BY doc_id, i) AS rn,
                 count(*) OVER (PARTITION BY g) AS c
          FROM occ
        ), covered AS (
          SELECT DISTINCT doc_id, i + unnest(generate_series(0, 7)) AS j
          FROM marked WHERE c > 1 AND rn > 1
        ), tok AS (
          SELECT doc_id, i, w[i] AS tok
          FROM (SELECT doc_id, w,
                       unnest(generate_series(1, len(w))) AS i
                FROM toks)
        ), rebuilt AS (
          SELECT t.doc_id,
                 count(*) AS n_tokens,
                 count(c.j) AS n_removed,
                 coalesce(string_agg(CASE WHEN c.j IS NULL THEN t.tok END,
                                     ' ' ORDER BY t.i), '') AS clean_text
          FROM tok t LEFT JOIN covered c
            ON t.doc_id = c.doc_id AND t.i = c.j
          GROUP BY t.doc_id
        )
        SELECT doc_id, n_tokens, n_removed, clean_text
        FROM rebuilt WHERE n_removed > 0
        ORDER BY n_removed DESC, doc_id ASC
        LIMIT 25
    """,
)
def q153_span_dedup_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level exact dedup (:func:`dedup.span_dedup_rewrite`):
    every duplicated 8-token span keeps its first corpus occurrence and
    is cut from all later ones, documents rebuilt from surviving tokens
    — the memorization-removal tier BETWEEN doc-level dedup (q30/q64)
    and boilerplate exposure (q148): it edits documents instead of
    dropping or merely scoring them. One map-side-combined shuffle on
    gram keys (min-struct winners, skew-robust vs a per-gram window),
    losers return doc-keyed as bare int pairs, coverage and rebuild are
    one array-land projection. Surfaces the 25 most-rewritten docs."""
    cat = Catalog(spark, sf_dir)
    out = dedup.span_dedup_rewrite(cat.documents, k=8)
    return (out.filter(F.col("n_removed") > 0)
               .orderBy(F.desc("n_removed"), F.asc("doc_id"))
               .limit(25))


@_register(
    "q154_bpe_merges",
    survey="distributed BPE merge learning (Sennrich 2016 — one corpus word-count pass, merge loop on the vocab relation, one-row driver state per iteration)",
    # VERDICT r8 #6 oracle upgrade: the merge loop is deterministic
    # integer arithmetic, so the fixed-n iteration unrolls as a STATIC
    # chain of MATERIALIZED CTE triples (pair counts → arg-max winner →
    # wrapped-string replace rewrite) — no recursion, exact equality.
    # The pure-Python pin (test_subword.py / test_snapshot_pins.py)
    # stays as the third independent implementation.
    oracle=subword.bpe_learn_sql(n_merges=24),
)
def q154_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer training surface (:func:`subword.bpe_learn`): learn 24
    BPE merges from the corpus. The corpus is read ONCE (word counts);
    every merge iteration runs on the weighted word-vocabulary relation
    (Heaps-law sublinear in corpus size) with a single-row collect per
    round — the structure that keeps BPE training tractable at 100 TB.
    Exact integer counts and lexicographic tie-breaks make the merge
    list fully deterministic."""
    cat = Catalog(spark, sf_dir)
    return (subword.bpe_learn(cat.documents, n_merges=24)
            .orderBy("merge_rank"))


@_register(
    "q155_quantized_recall",
    survey="ANN-tier quality evaluation: per-query recall@10 of the int8-quantized tier vs exact cosine ground truth (closes the eval loop on the retrieval stack)",
    oracle=f"""
        -- Both tiers replayed exactly (q40 float-cosine conventions,
        -- q117 integer-dot quantization), then membership overlap per
        -- probe. n_overlap is an exact integer; recall = n/10 is one
        -- IEEE divide of small ints, identical across engines.
        WITH q AS (SELECT vec_id AS query_id, embedding AS qv
                   FROM embeddings WHERE vec_id < 10),
        c AS (SELECT vec_id AS n_id, embedding AS nv FROM embeddings),
        truth AS (
          SELECT query_id, n_id FROM (
            SELECT query_id, n_id,
                   row_number() OVER (PARTITION BY query_id ORDER BY
                     round({_DUCK_COS.format(a='qv', b='nv')} /
                           nullif(sqrt({_DUCK_COS.format(a='qv', b='qv')}) *
                                  sqrt({_DUCK_COS.format(a='nv', b='nv')}),
                                  0.0), 6) DESC, n_id ASC) AS rn
            FROM q, c WHERE n_id <> query_id) WHERE rn <= 10),
        qz AS (
          SELECT vec_id,
                 CASE WHEN list_max(list_transform(embedding, x -> abs(x))) = 0
                      THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
                      ELSE list_transform(embedding, x -> CAST(floor(
                           x::DOUBLE * 127.0 /
                           list_max(list_transform(embedding, y -> abs(y)))::DOUBLE)
                           AS BIGINT)) END AS q
          FROM embeddings),
        cand AS (
          SELECT query_id, n_id FROM (
            SELECT a.vec_id AS query_id, b.vec_id AS n_id,
                   row_number() OVER (PARTITION BY a.vec_id ORDER BY
                     CAST(list_sum(list_transform(range(1, len(a.q) + 1),
                          i -> a.q[i] * b.q[i])) AS BIGINT) DESC,
                     b.vec_id ASC) AS rn
            FROM qz a JOIN qz b ON a.vec_id < 10 AND b.vec_id <> a.vec_id)
          WHERE rn <= 10)
        SELECT t.query_id,
               count(c2.n_id) AS n_overlap,
               round(count(c2.n_id) / 10.0, 4) AS recall
        FROM truth t LEFT JOIN cand c2
          ON t.query_id = c2.query_id AND t.n_id = c2.n_id
        GROUP BY t.query_id
        ORDER BY t.query_id
    """,
)
def q155_quantized_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality eval (:func:`metrics.retrieval_recall_at_k`):
    per-probe recall@10 of the int8-quantized search tier (q117) against
    exact float-cosine ground truth (q40) — the gauge every approximate
    tier needs before it replaces the exact one at scale. Overlap is a
    broadcast-sized (query, id) equi-join on two top-k frames; nothing
    corpus-shaped moves in the eval itself."""
    from .ml import metrics as M
    cat = Catalog(spark, sf_dir)
    emb = cat.embeddings
    probes = emb.filter(F.col("vec_id") < 10)
    truth = sim.cosine_topk(emb, probes, k=10)
    cand = sim.quantized_topk(emb, probes, k=10)
    return (M.retrieval_recall_at_k(truth, cand, k=10)
             .orderBy("query_id"))


@_register(
    "q156_hard_negatives",
    survey="hard-negative mining for contrastive training (dense cosine candidates verified non-duplicate by exact n-gram Jaccard, re-ranked)",
    oracle=f"""
        -- Dense top-20 (q40 conventions) per probe doc 0..4, exact
        -- 3-gram Jaccard vs the probe (q32 conventions) on candidate
        -- pairs only, candidates with jaccard >= 0.5 dropped, survivors
        -- re-ranked by cosine. Integers + two rounded divides.
        WITH q AS (SELECT vec_id AS query_id, embedding AS qv
                   FROM embeddings WHERE vec_id < 5),
        c AS (SELECT vec_id AS n_id, embedding AS nv FROM embeddings),
        dense AS (
          SELECT query_id, n_id, cosine_sim FROM (
            SELECT query_id, n_id,
                   round({_DUCK_COS.format(a='qv', b='nv')} /
                         nullif(sqrt({_DUCK_COS.format(a='qv', b='qv')}) *
                                sqrt({_DUCK_COS.format(a='nv', b='nv')}),
                                0.0), 6) AS cosine_sim,
                   row_number() OVER (PARTITION BY query_id ORDER BY
                     round({_DUCK_COS.format(a='qv', b='nv')} /
                           nullif(sqrt({_DUCK_COS.format(a='qv', b='qv')}) *
                                  sqrt({_DUCK_COS.format(a='nv', b='nv')}),
                                  0.0), 6) DESC, n_id ASC) AS rn
            FROM q, c WHERE n_id <> query_id) WHERE rn <= 20),
        sh AS (
          SELECT doc_id AS id,
                 list_distinct(list_transform(
                   range(1, greatest(len(w) - 2, 0) + 1),
                   i -> array_to_string(list_slice(w, i, i + 2), ' ')))
                   AS shingles
          FROM (SELECT doc_id, string_split_regex(text, '\\s+') AS w
                FROM documents)),
        sizes AS (SELECT id, len(shingles) AS set_size FROM sh),
        posting AS (SELECT id, unnest(shingles) AS shingle FROM sh),
        inter AS (
          SELECT d.query_id, d.n_id, count(*) AS inter_cnt
          FROM dense d
          JOIN posting pa ON pa.id = d.query_id
          JOIN posting pb ON pb.id = d.n_id AND pb.shingle = pa.shingle
          GROUP BY d.query_id, d.n_id),
        j AS (
          SELECT d.query_id, d.n_id, d.cosine_sim,
                 CASE WHEN sa.set_size + sb.set_size
                           - coalesce(i.inter_cnt, 0) > 0
                      THEN round(coalesce(i.inter_cnt, 0) /
                                 CAST(sa.set_size + sb.set_size
                                      - coalesce(i.inter_cnt, 0) AS DOUBLE),
                                 6)
                      ELSE 0.0 END AS jaccard
          FROM dense d
          LEFT JOIN inter i
            ON d.query_id = i.query_id AND d.n_id = i.n_id
          JOIN sizes sa ON sa.id = d.query_id
          JOIN sizes sb ON sb.id = d.n_id),
        ranked AS (
          SELECT query_id,
                 row_number() OVER (PARTITION BY query_id ORDER BY
                                    cosine_sim DESC, n_id ASC) AS hn_rank,
                 n_id AS neighbor_id, cosine_sim, jaccard
          FROM j WHERE jaccard < 0.5)
        SELECT query_id, CAST(hn_rank AS INT) AS hn_rank, neighbor_id,
               cosine_sim, jaccard
        FROM ranked WHERE hn_rank <= 10
        ORDER BY query_id, hn_rank
    """,
)
def q156_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-pair mining (:func:`sim.hard_negatives`): per probe
    document, the embedding-space nearest neighbors that exact 3-gram
    Jaccard proves are NOT near-duplicates — semantically close,
    lexically distinct, i.e. the negatives with training signal. Dense
    candidates from the broadcast-probe cosine tier; Jaccard verification
    touches only candidate-pair documents (one candidate-id semi-join,
    in-row array_intersect), never the corpus."""
    cat = Catalog(spark, sf_dir)
    emb = cat.embeddings
    return (sim.hard_negatives(emb, cat.documents,
                               emb.filter(F.col("vec_id") < 5),
                               k_dense=20, k_out=10, max_jaccard=0.5)
            .orderBy("query_id", "hn_rank"))


@_register(
    "q157_domain_selection",
    survey="cross-entropy-difference domain data selection (Moore-Lewis 2010 / DSIR family: score pool docs under target-domain vs raw LM, pick the most target-like)",
    oracle="""
        -- Two bigram LMs (q146 discipline): TARGET trained on lang='en'
        -- docs (left-join + coalesce smoothing for unseen bigrams, vocab
        -- from the target), RAW trained on the whole corpus. Per-bigram
        -- log-probs are rounded-then-DECIMAL-summed; the Moore-Lewis
        -- score is one EXACT decimal subtract of the two NLL sums and
        -- one IEEE divide by the shared bigram count — no further
        -- rounding step anywhere (a rounded per-doc mean difference can
        -- land on a round-half boundary where engines disagree).
        WITH toks AS (
          SELECT doc_id, lang,
                 string_split_regex(lower(text), '\\s+') AS w
          FROM documents
        ), bi AS (
          SELECT doc_id, w[i] AS w1, w[i + 1] AS w2
          FROM (SELECT doc_id, w,
                       unnest(generate_series(1, len(w) - 1)) AS i
                FROM toks)
        ), tbi AS (
          SELECT b.w1, b.w2 FROM bi b
          JOIN toks t ON b.doc_id = t.doc_id AND t.lang = 'en'
        ), tc2 AS (
          SELECT w1, w2, count(*) AS c2 FROM tbi GROUP BY w1, w2
        ), tc1 AS (
          SELECT w1, count(*) AS c1 FROM tbi GROUP BY w1
        ), tv AS (
          SELECT count(DISTINCT t) AS v
          FROM (SELECT unnest(w) AS t FROM toks WHERE lang = 'en')
        ), tsc AS (
          SELECT b.doc_id,
                 CAST(round(ln((coalesce(tc2.c2, 0) + 0.5)
                               / (coalesce(tc1.c1, 0) + 0.5 * tv.v)), 4)
                      AS DECIMAL(18,4)) AS lp
          FROM bi b
          LEFT JOIN tc2 ON b.w1 = tc2.w1 AND b.w2 = tc2.w2
          LEFT JOIN tc1 ON b.w1 = tc1.w1
          CROSS JOIN tv
        ), tnll AS (
          SELECT doc_id, count(*) AS n_bigrams,
                 -sum(lp) AS sum_t
          FROM tsc GROUP BY doc_id
        ), rc2 AS (
          SELECT w1, w2, count(*) AS c2 FROM bi GROUP BY w1, w2
        ), rc1 AS (
          SELECT w1, count(*) AS c1 FROM bi GROUP BY w1
        ), rv AS (
          SELECT count(DISTINCT t) AS v
          FROM (SELECT unnest(w) AS t FROM toks)
        ), rsc AS (
          SELECT b.doc_id,
                 CAST(round(ln((rc2.c2 + 0.5)
                               / (rc1.c1 + 0.5 * rv.v)), 4)
                      AS DECIMAL(18,4)) AS lp
          FROM bi b
          JOIN rc2 ON b.w1 = rc2.w1 AND b.w2 = rc2.w2
          JOIN rc1 ON b.w1 = rc1.w1
          CROSS JOIN rv
        ), rnll AS (
          SELECT doc_id, -sum(lp) AS sum_r
          FROM rsc GROUP BY doc_id
        )
        SELECT t.doc_id, d.lang, t.n_bigrams,
               CAST(t.sum_t - r.sum_r AS DOUBLE) / t.n_bigrams AS ce_diff
        FROM tnll t
        JOIN rnll r ON t.doc_id = r.doc_id
        JOIN documents d ON t.doc_id = d.doc_id
        WHERE d.lang <> 'en'
        ORDER BY ce_diff ASC, t.doc_id ASC
        LIMIT 25
    """,
)
def q157_domain_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain data selection by cross-entropy difference (Moore & Lewis
    2010, the ancestor of DSIR): score every pool document under a
    target-domain bigram LM (here lang='en') AND the raw-corpus LM; the
    documents where H_target − H_raw is most negative are the
    out-of-domain pool's most target-like members — the classic recipe
    for mining domain-relevant training data from a general crawl. Both
    scoring passes are the q146 linear-shuffle shape; unseen bigrams
    smooth via left-join coalesce (:func:`text.bigram_lm_nll` with
    ``train_df``); the final score is one subtract of two
    decimal-exact NLLs."""
    cat = Catalog(spark, sf_dir)
    docs = cat.documents
    target = docs.filter(F.col("lang") == "en")
    caches: list[DataFrame] = []
    h_t = (T.bigram_lm_nll(docs, train_df=target, caches=caches)
           .select("doc_id", "n_bigrams",
                   F.col("sum_nll").alias("sum_t")))
    h_r = (T.bigram_lm_nll(docs, caches=caches)
           .select("doc_id", F.col("sum_nll").alias("sum_r")))
    # ce_diff = (Σnll_t − Σnll_r)/n computed from the EXACT decimal sums:
    # one decimal subtract (exact), one IEEE divide of identical operands
    # — bit-identical across engines with NO rounding step, where a
    # rounded per-doc mean difference can land on a round-half boundary.
    try:
        out = (h_t.join(h_r, "doc_id")
               .join(docs.select("doc_id", "lang"), "doc_id")
               .filter(F.col("lang") != "en")
               .select("doc_id", "lang", "n_bigrams",
                       ((F.col("sum_t") - F.col("sum_r")).cast("double")
                        / F.col("n_bigrams")).alias("ce_diff"))
               .orderBy(F.asc("ce_diff"), F.asc("doc_id"))
               .limit(25))
        return out.localCheckpoint(eager=True)
    finally:
        for c in caches:
            c.unpersist()


@_register(
    "q158_cluster_cap_sample",
    survey="cluster-capped diversity sampling (semantic-bucket quota: per-cluster cap keeps the corpus from collapsing onto its dense modes — ClusterClip/SemDeDup-adjacent pruning stage)",
    oracle="""
        -- q126 assignment conventions (8 fixed centroids, rounded d2,
        -- cid tie-break), then a per-cluster cap of 10 keeping the
        -- vectors CLOSEST to their centroid, plus the per-cluster
        -- kept/dropped accounting. Exact integers and 6dp distances.
        WITH c AS (SELECT vec_id AS cid, embedding AS cvec
                   FROM embeddings WHERE vec_id < 8),
        p AS (
          SELECT e.vec_id, c.cid,
                 round(list_sum(list_transform(range(1, len(e.embedding) + 1),
                       i -> (e.embedding[i]::DOUBLE - c.cvec[i]::DOUBLE)
                          * (e.embedding[i]::DOUBLE - c.cvec[i]::DOUBLE))), 6)
                   AS d2
          FROM embeddings e, c),
        assigned AS (
          SELECT vec_id, cid, d2 FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id
                       ORDER BY d2 ASC, cid ASC) AS rn
            FROM p) WHERE rn = 1),
        capped AS (
          SELECT cid, vec_id, d2,
                 row_number() OVER (PARTITION BY cid
                                    ORDER BY d2 ASC, vec_id ASC) AS krank,
                 count(*) OVER (PARTITION BY cid) AS n_cluster
          FROM assigned)
        SELECT cid, CAST(krank AS INT) AS krank, vec_id, d2,
               CAST(n_cluster AS BIGINT) AS n_cluster,
               CAST(n_cluster - least(n_cluster, 10) AS BIGINT) AS n_dropped
        FROM capped WHERE krank <= 10
        ORDER BY cid, krank
    """,
)
def q158_cluster_cap_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity-preserving corpus pruning: assign every embedding to its
    nearest fixed centroid (the q126 zero-corpus-shuffle broadcast
    argmin), then CAP each semantic cluster at 10 members, keeping the
    closest-to-centroid representatives and reporting how much each
    dense mode was cut. The cap is what stops web-scale corpora from
    collapsing onto their over-represented modes (the
    ClusterClip/CCNet-bucketing motivation); one doc-keyed window per
    cluster — WindowGroupLimit-prunable, no global sort."""
    from pyspark.sql import Window as W
    cat = Catalog(spark, sf_dir)
    emb = cat.embeddings.select("vec_id", "embedding")
    cents = (cat.embeddings.filter(F.col("vec_id") < 8)
             .select(F.col("vec_id").alias("cid"),
                     F.col("embedding").alias("cvec")))
    assigned = kmeans.assign(emb, cents).select("vec_id", "cid", "d2")
    # Cluster sizes via a map-side-combined groupBy (k-row output), NOT a
    # count(*) OVER (PARTITION BY cid) — that window would drag every
    # corpus row through k hot partitions AND defeat the WindowGroupLimit
    # prune on the rank window below (which keeps only 10 rows per cid
    # per map task ahead of the shuffle).
    sizes = assigned.groupBy("cid").agg(F.count("*").alias("n_cluster"))
    wk = W.partitionBy("cid").orderBy(F.asc("d2"), F.asc("vec_id"))
    return (assigned
            .withColumn("krank", F.row_number().over(wk))
            .filter(F.col("krank") <= 10)
            .join(F.broadcast(sizes), "cid")
            .select("cid", "krank", "vec_id", "d2", "n_cluster",
                    (F.col("n_cluster")
                     - F.least(F.col("n_cluster"), F.lit(10)))
                    .alias("n_dropped"))
            .orderBy("cid", "krank"))


@_register(
    "q159_adaptive_quality_gate",
    survey="per-source adaptive quality gate (exact p25 order-statistic threshold per domain — the FineWeb-style per-domain filter, all-integer scoring)",
    oracle="""
        -- Integer-only: score_bp = (distinct-token count * 10000) // n
        -- (basis points of the distinct-token ratio — no float, no
        -- round-half boundary anywhere); per-source p25 threshold is the
        -- score at ascending rank ceil(n/4) = (n+3)//4; docs strictly
        -- below their source's threshold are dropped.
        WITH scored AS (
          SELECT doc_id, source,
                 (len(list_distinct(w)) * 10000) // len(w) AS score_bp
          FROM (SELECT doc_id, source,
                       string_split_regex(lower(text), '\\s+') AS w
                FROM documents)
          WHERE len(w) > 0
        ), ranked AS (
          SELECT doc_id, source, score_bp,
                 row_number() OVER (PARTITION BY source
                                    ORDER BY score_bp ASC, doc_id ASC)
                   AS rn,
                 count(*) OVER (PARTITION BY source) AS n
          FROM scored
        ), thr AS (
          SELECT source, score_bp AS thr_bp
          FROM ranked WHERE rn = (n + 3) // 4
        )
        SELECT r.source,
               count(*) AS n_docs,
               CAST(min(t.thr_bp) AS BIGINT) AS thr_bp,
               CAST(sum(CASE WHEN r.score_bp < t.thr_bp
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
               CAST(sum(CASE WHEN r.score_bp >= t.thr_bp
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        FROM ranked r JOIN thr t ON r.source = t.source
        GROUP BY r.source
        ORDER BY r.source
    """,
)
def q159_adaptive_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain adaptive quality filtering: every source gets its OWN
    p25 quality threshold (exact order statistic, not a corpus-global
    cutoff), and documents strictly below their domain's bar are
    dropped — a global threshold over-prunes terse domains and
    under-prunes verbose ones, which is why production pipelines
    calibrate per source. Scoring is ALL-INTEGER (distinct-token basis
    points via integral division), so no engine can disagree on a
    boundary. One source-partitioned window pass computes rank and
    group size together (same exchange+sort); the 100 TB tier for
    thousands of large domains is the q121 approximate-percentile path
    — this operator is the exact, certifiable twin."""
    from pyspark.sql import Window as W
    cat = Catalog(spark, sf_dir)
    toks = T.ws_tokens(F.lower(F.col("text")))
    scored = (cat.documents
              .select("doc_id", "source",
                      F.expr("(size(array_distinct(split(lower(text), "
                             "'\\\\s+'))) * 10000L) div "
                             "size(split(lower(text), '\\\\s+'))")
                       .alias("score_bp"))
              .filter(F.size(toks) > 0))
    ws = W.partitionBy("source")
    wr = ws.orderBy(F.asc("score_bp"), F.asc("doc_id"))
    ranked = (scored.withColumn("rn", F.row_number().over(wr))
                    .withColumn("n", F.count("*").over(ws)))
    thr = (ranked.filter(F.col("rn") == F.expr("(n + 3) div 4"))
           .select("source", F.col("score_bp").alias("thr_bp")))
    return (ranked.join(F.broadcast(thr), "source")
            .groupBy("source")
            .agg(F.count("*").alias("n_docs"),
                 F.min("thr_bp").alias("thr_bp"),
                 F.sum(F.when(F.col("score_bp") < F.col("thr_bp"), 1)
                        .otherwise(0)).alias("n_dropped"),
                 F.sum(F.when(F.col("score_bp") >= F.col("thr_bp"), 1)
                        .otherwise(0)).alias("n_kept"))
            .orderBy("source"))


@_register(
    "q160_pmi_collocations",
    survey="net-new collocation mining by pointwise mutual information (Church & Hanks 1990; the word2vec phrase-join count ratio) — tokenizer-vocabulary / phrase-detection pass",
    oracle="""
        WITH toks AS (
          SELECT string_split_regex(lower(text), '\\s+') AS w
          FROM documents
        ), uni AS (
          SELECT t, count(*) AS c1
          FROM (SELECT unnest(w) AS t FROM toks) GROUP BY t
        ), bi AS (
          SELECT w[i] AS w1, w[i + 1] AS w2
          FROM (SELECT w, unnest(generate_series(1, len(w) - 1)) AS i
                FROM toks)
        ), c AS (
          SELECT w1, w2, count(*) AS c12 FROM bi GROUP BY w1, w2
        ), nt AS (SELECT CAST(sum(c1) AS DOUBLE) AS n_tok FROM uni),
        mb AS (SELECT CAST(sum(c12) AS DOUBLE) AS m_bi FROM c)
        SELECT s.w1, s.w2, CAST(s.c12 AS BIGINT) AS c12,
               round(ln((CAST(s.c12 AS DOUBLE) / mb.m_bi)
                        / ((CAST(ua.c1 AS DOUBLE) / nt.n_tok)
                           * (CAST(ub.c1 AS DOUBLE) / nt.n_tok))), 4)
                 AS pmi
        FROM c s
        JOIN uni ua ON s.w1 = ua.t
        JOIN uni ub ON s.w2 = ub.t
        CROSS JOIN nt CROSS JOIN mb
        WHERE s.c12 >= 5
        ORDER BY pmi DESC, s.w1 ASC, s.w2 ASC
        LIMIT 25
    """,
)
def q160_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-25 collocations by PMI (:func:`T.pmi_collocations`): adjacent
    token pairs whose joint count beats the independence prediction —
    the phrase-detection pass a tokenizer-vocabulary pipeline runs over
    the corpus. One token explode + one bigram explode (map-side-
    combined count shuffles), min-count filter BEFORE the unigram joins,
    totals broadcast; the PMI ratio is exact-integer-valued doubles in
    one fixed association, single rounded ln (q146 discipline)."""
    cat = Catalog(spark, sf_dir)
    caches: list[DataFrame] = []
    try:
        out = (T.pmi_collocations(cat.documents, min_count=5,
                                  caches=caches)
               .orderBy(F.desc("pmi"), F.asc("w1"), F.asc("w2"))
               .limit(25))
        return out.localCheckpoint(eager=True)
    finally:
        for c in caches:
            c.unpersist()


@_register(
    "q161_epoch_batch_manifest",
    survey="net-new deterministic per-epoch training order + fixed-token-budget microbatch manifest (reproducible data order; resume = seek to a batch id, never replay a shuffle)",
    oracle="SELECT * FROM (\nWITH t AS (SELECT doc_id, "
           "len(string_split_regex(text, '\\s+')) AS n_tokens "
           "FROM documents)\n"
           + sampling.epoch_batch_manifest_sql(
               "doc_id", "n_tokens", budget=2048, epochs=2)
           + "\n) ORDER BY epoch, batch_id",
)
def q161_epoch_batch_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-epoch training-order manifest
    (:func:`sampling.epoch_batch_manifest`): each epoch reshuffles the
    corpus with an epoch-salted multiplicative hash (any engine, any
    restart reproduces the identical order) and packs consecutive
    documents into 2048-token microbatches by exclusive-prefix
    arithmetic — batch = floor(prefix/budget), so the manifest is exact
    integers end-to-end and training can seek to any batch. Per epoch:
    one range-partitioned sort + metadata-sized offsets
    (``ranks.global_prefix_sum``), one (epoch, batch) agg; no
    single-partition window at any size."""
    cat = Catalog(spark, sf_dir)
    docs = cat.documents.select(
        "doc_id", F.size(T.ws_tokens(F.col("text"))).alias("n_tokens"))
    caches: list[DataFrame] = []
    try:
        out = (sampling.epoch_batch_manifest(
                   docs, "doc_id", "n_tokens", budget=2048, epochs=2,
                   caches=caches)
               .orderBy("epoch", "batch_id"))
        return out.localCheckpoint(eager=True)
    finally:
        for c in caches:
            c.unpersist()


@_register(
    "q162_trigram_backoff_nll",
    survey="net-new trigram LM scoring with stupid backoff (Brants et al. 2007) — held-out corpus scored against a domain-restricted model, exercising all three backoff tiers",
    oracle="""
        WITH toks AS (
          SELECT doc_id, source,
                 string_split_regex(lower(text), '\\s+') AS w
          FROM documents
        ), tri AS (
          SELECT doc_id, w[i] AS w1, w[i + 1] AS w2, w[i + 2] AS w3
          FROM (SELECT doc_id, w,
                       unnest(generate_series(1, len(w) - 2)) AS i
                FROM toks WHERE len(w) >= 3)
        ), mtri AS (
          SELECT t.w1, t.w2, t.w3 FROM tri t
          JOIN toks k ON t.doc_id = k.doc_id AND k.source <> 'src0'
        ), c123 AS (
          SELECT w1, w2, w3, count(*) AS c123 FROM mtri GROUP BY 1, 2, 3
        ), c12 AS (
          SELECT w1, w2, count(*) AS c12 FROM mtri GROUP BY 1, 2
        ), c23 AS (
          SELECT w2, w3, count(*) AS c23 FROM mtri GROUP BY 1, 2
        ), c2 AS (
          SELECT w2, count(*) AS c2 FROM mtri GROUP BY 1
        ), uni AS (
          SELECT t, count(*) AS c3
          FROM (SELECT unnest(w) AS t FROM toks WHERE source <> 'src0')
          GROUP BY t
        ), nv AS (
          SELECT CAST(sum(c3) AS DOUBLE) AS n_tok,
                 CAST(count(*) AS DOUBLE) AS v FROM uni
        ), sc AS (
          SELECT t.doc_id,
                 CASE WHEN coalesce(c123.c123, 0) > 0 THEN 0
                      WHEN coalesce(c23.c23, 0) > 0 THEN 1
                      ELSE 2 END AS tier,
                 CAST(round(ln(
                   CASE WHEN coalesce(c123.c123, 0) > 0
                        THEN CAST(c123.c123 AS DOUBLE) / c12.c12
                        WHEN coalesce(c23.c23, 0) > 0
                        THEN 0.4 * CAST(c23.c23 AS DOUBLE) / c2.c2
                        ELSE 0.16000000000000003
                             * (coalesce(uni.c3, 0) + 0.5)
                             / (nv.n_tok + 0.5 * nv.v) END), 4)
                      AS DECIMAL(18,4)) AS lp
          FROM tri t
          LEFT JOIN c123 ON t.w1 = c123.w1 AND t.w2 = c123.w2
                         AND t.w3 = c123.w3
          LEFT JOIN c12 ON t.w1 = c12.w1 AND t.w2 = c12.w2
          LEFT JOIN c23 ON t.w2 = c23.w2 AND t.w3 = c23.w3
          LEFT JOIN c2 ON t.w2 = c2.w2
          LEFT JOIN uni ON t.w3 = uni.t
          CROSS JOIN nv
        )
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_trigrams,
               CAST(sum(CASE WHEN tier = 0 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_tri_hits,
               CAST(sum(CASE WHEN tier = 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_bi_backoffs,
               CAST(sum(CASE WHEN tier = 2 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_uni_backoffs,
               round(CAST(-sum(lp) AS DOUBLE) / count(*), 4) AS mean_nll
        FROM sc GROUP BY doc_id
        ORDER BY mean_nll DESC, doc_id ASC
        LIMIT 25
    """,
)
def q162_trigram_backoff_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigram stupid-backoff scoring (:func:`T.stupid_backoff_nll`):
    the whole corpus scored against a model trained WITHOUT src0, so
    src0's unseen trigrams genuinely fall through the
    trigram→bigram→add-k-unigram tiers (per-document tier counts are
    exact integers in the output). Top-25 most-surprising documents —
    the held-out-perplexity shape of corpus quality triage one order up
    from q146. Linear token-keyed count shuffles; unigram model + (N,V)
    broadcast; per-trigram log-scores rounded-then-DECIMAL-summed."""
    cat = Catalog(spark, sf_dir)
    docs = cat.documents
    caches: list[DataFrame] = []
    try:
        out = (T.stupid_backoff_nll(
                   docs, train_df=docs.filter(F.col("source") != "src0"),
                   caches=caches)
               .select("doc_id", "n_trigrams", "n_tri_hits",
                       "n_bi_backoffs", "n_uni_backoffs", "mean_nll")
               .orderBy(F.desc("mean_nll"), F.asc("doc_id"))
               .limit(25))
        return out.localCheckpoint(eager=True)
    finally:
        for c in caches:
            c.unpersist()


@_register(
    "q163_source_jsd_matrix",
    survey="net-new pairwise Jensen-Shannon divergence between per-source unigram distributions (data-mixture diagnostic; shared-word inner join + exact-integer missing-mass residual, never a per-pair full outer join)",
    oracle="""
        WITH cnt AS (
          SELECT source AS g, t, count(*) AS c
          FROM (SELECT source,
                       unnest(string_split_regex(lower(text), '\\s+')) AS t
                FROM documents)
          GROUP BY g, t
        ), tot AS (SELECT g, sum(c) AS n FROM cnt GROUP BY g),
        d AS (
          SELECT cnt.g, cnt.t, cnt.c, tot.n
          FROM cnt JOIN tot ON cnt.g = tot.g
        ), sh AS (
          SELECT a.g AS g_a, b.g AS g_b, count(*) AS n_shared,
                 sum(CAST(round(
                       CAST(a.c AS DOUBLE) / CAST(a.n AS DOUBLE) / 2.0
                       * ln(2.0 * (CAST(a.c AS DOUBLE) / CAST(a.n AS DOUBLE))
                            / (CAST(a.c AS DOUBLE) / CAST(a.n AS DOUBLE)
                               + CAST(b.c AS DOUBLE) / CAST(b.n AS DOUBLE)))
                     + CAST(b.c AS DOUBLE) / CAST(b.n AS DOUBLE) / 2.0
                       * ln(2.0 * (CAST(b.c AS DOUBLE) / CAST(b.n AS DOUBLE))
                            / (CAST(a.c AS DOUBLE) / CAST(a.n AS DOUBLE)
                               + CAST(b.c AS DOUBLE) / CAST(b.n AS DOUBLE))),
                     8) AS DECIMAL(18,8))) AS shared_dec,
                 sum(a.c) AS sh_a, sum(b.c) AS sh_b
          FROM d a JOIN d b ON a.t = b.t AND a.g < b.g
          GROUP BY 1, 2
        )
        SELECT g_a, g_b, CAST(n_shared AS BIGINT) AS n_shared,
               round(CAST(shared_dec AS DOUBLE)
                     + (CAST(ta.n - sh_a AS DOUBLE) / CAST(ta.n AS DOUBLE)
                        + CAST(tb.n - sh_b AS DOUBLE) / CAST(tb.n AS DOUBLE))
                       * 0.5 * 0.6931471805599453, 6) AS jsd
        FROM sh
        JOIN tot ta ON sh.g_a = ta.g
        JOIN tot tb ON sh.g_b = tb.g
        ORDER BY g_a, g_b
    """,
)
def q163_source_jsd_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source-distribution JSD (:func:`T.source_js_divergence`):
    how lexically far apart every pair of the corpus's 20 sources is —
    the mixture diagnostic data-mixing work starts from. One (source,
    word) count shuffle (persisted — it feeds both self-join sides and
    the totals), one word-keyed self-join, per-source totals broadcast;
    shared-word terms rounded-then-DECIMAL-summed, missing masses exact
    integers scaled by a hardcoded ln 2 literal."""
    cat = Catalog(spark, sf_dir)
    caches: list[DataFrame] = []
    try:
        out = (T.source_js_divergence(cat.documents, caches=caches)
               .orderBy("g_a", "g_b"))
        return out.localCheckpoint(eager=True)
    finally:
        for c in caches:
            c.unpersist()


@_register(
    "q164_bpe_fertility",
    survey="net-new tokenizer-fertility evaluation (apply learned BPE segmentation via the vocab relation — corpus never replays merges — and measure subtokens/word per language)",
    # VERDICT r8 #6: same unrolled merge chain as q154's oracle, then
    # the corpus word stream joined to the final vocab segmentation.
    # The sha256 pin and the pure-Python reference stay alongside.
    oracle=subword.bpe_fertility_sql(n_merges=24, group_col="lang"),
)
def q164_bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language (:func:`subword.bpe_fertility`):
    learn 24 BPE merges (q154's loop — one corpus word-count pass,
    vocab-relation iterations), then ENCODE by joining corpus words to
    the vocabulary's final segmentation (broadcast |vocab|-row table —
    the corpus never replays the merge fold) and report subtokens/word
    per language — the over-fragmentation gauge of multilingual
    tokenizer work."""
    cat = Catalog(spark, sf_dir)
    return (subword.bpe_fertility(cat.documents, n_merges=24,
                                  group_col="lang")
            .orderBy("lang"))


@_register(
    "q165_temperature_mixture",
    survey="net-new temperature-scaled data-mixture planning (sample source i with p ∝ n_i^tau — the multilingual up-weighting recipe; weights, per-epoch token plan, epochs-to-exhaustion)",
    oracle="""
        WITH per AS (
          SELECT source,
                 CAST(sum(len(string_split_regex(text, '\\s+'))) AS BIGINT)
                   AS n_tokens
          FROM documents GROUP BY source
        ), p AS (
          SELECT source, n_tokens,
                 CAST(round(pow(CAST(n_tokens AS DOUBLE), 0.7), 4)
                      AS DECIMAL(18,4)) AS p
          FROM per
        ), t AS (SELECT sum(p) AS ptot FROM p)
        SELECT source, n_tokens,
               round(CAST(p AS DOUBLE) / CAST(ptot AS DOUBLE), 6)
                 AS weight,
               CAST(floor(round(CAST(p AS DOUBLE) / CAST(ptot AS DOUBLE),
                                6) * 100000.0) AS BIGINT)
                 AS planned_tokens_per_epoch,
               CASE WHEN floor(round(CAST(p AS DOUBLE)
                                     / CAST(ptot AS DOUBLE), 6)
                               * 100000.0) > 0
                    THEN round(CAST(n_tokens AS DOUBLE)
                               / CAST(floor(round(CAST(p AS DOUBLE)
                                                  / CAST(ptot AS DOUBLE),
                                                  6) * 100000.0)
                                      AS DOUBLE), 2)
               END AS epochs_to_exhaust
        FROM p CROSS JOIN t
        ORDER BY source
    """,
)
def q165_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mixture plan
    (:func:`sampling.temperature_mixture_plan`, τ=0.7, 100k-token epoch
    budget): per-source sampling weights ∝ n^τ — the multilingual
    up-weighting recipe — with the per-epoch token plan and the
    epochs-to-exhaustion overexposure number. One map-side-combined agg
    to 20 source rows; n^τ rounds once then DECIMAL-sums so the
    normalizer is aggregation-order-proof."""
    cat = Catalog(spark, sf_dir)
    toks = cat.documents.select(
        "source", F.size(T.ws_tokens(F.col("text"))).alias("n_tokens"))
    return (sampling.temperature_mixture_plan(
                toks, tau=0.7, budget=100_000)
            .orderBy("source"))


@_register(
    "q166_winnowing_pairs",
    survey="net-new winnowing fingerprint similarity (Schleimer-Wilkerson-Aiken 2003 / MOSS: window-min k-gram hash selection with a deterministic shared-run detection guarantee)",
    oracle="""
        WITH toks AS (
          SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w
          FROM documents
        ), pos AS (
          SELECT doc_id, i AS pos,
                 substr(md5(array_to_string(w[i:i+3], ' ')), 1, 16) AS h,
                 len(w) - 3 AS npos
          FROM (SELECT doc_id, w,
                       unnest(generate_series(1, len(w) - 3)) AS i
                FROM toks WHERE len(w) >= 4)
        ), wmin AS (
          SELECT doc_id, pos, npos,
                 min(h) OVER (PARTITION BY doc_id ORDER BY pos
                              ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING)
                   AS fp
          FROM pos
        ), fps AS (
          SELECT DISTINCT doc_id, fp FROM wmin WHERE pos <= npos - 4
        )
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(count(*) AS BIGINT) AS n_shared
        FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
        GROUP BY 1, 2 HAVING count(*) >= 5
        ORDER BY n_shared DESC, doc_a ASC, doc_b ASC
        LIMIT 50
    """,
)
def q166_winnowing_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS-style similarity report (:func:`dedup.winnowing_pairs`,
    k=4-token grams, window w=5): any shared run of k+w−1 = 8 tokens is
    GUARANTEED to surface a common fingerprint — deterministic
    detection at ~2/(w+1) fingerprint density, the selection guarantee
    MinHash can't give. In-row gram hashing over the pre-projected
    token attribute; one doc-keyed window exchange + one
    fingerprint-keyed distinct; inverted-index pairing so documents
    meet only through shared fingerprints."""
    cat = Catalog(spark, sf_dir)
    return (dedup.winnowing_pairs(cat.documents, k=4, w=5, min_shared=5)
            .orderBy(F.desc("n_shared"), F.asc("doc_a"), F.asc("doc_b"))
            .limit(50))


@_register(
    "q167_triangle_participation",
    survey="net-new per-node triangle counting with degree-ordered orientation (Suri-Vassilvitskii MR-NodeIterator++ family — wedge join bounded at O(m^1.5))",
    oracle="""
        WITH items AS (
          SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        ), e AS (
          SELECT a.l_partkey AS u, b.l_partkey AS v
          FROM items a JOIN items b
            ON a.l_orderkey = b.l_orderkey
           AND a.l_partkey < b.l_partkey
          GROUP BY 1, 2
        ), tri AS (
          SELECT e1.u AS a, e1.v AS b, e2.v AS c
          FROM e e1
          JOIN e e2 ON e1.v = e2.u
          JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
        ), nodes AS (
          SELECT a AS node FROM tri
          UNION ALL SELECT b FROM tri
          UNION ALL SELECT c FROM tri
        )
        SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
        FROM nodes GROUP BY node
        ORDER BY n_triangles DESC, node ASC
        LIMIT 25
    """,
)
def q167_triangle_participation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-25 parts by co-purchase triangle participation
    (:func:`graph.triangle_participation` over the q138 co-purchase
    edges): the local-clustering signal behind community density and
    coordinated-behavior detection. The engine orients each edge from
    its (degree, id)-smaller endpoint — every triangle becomes exactly
    one wedge + one closure probe and out-degrees are O(√m)-bounded,
    so the wedge join is O(m^1.5) worst-case where the naive neighbor
    join is hub-quadratic. The oracle counts the same triangles with
    the orientation-free a<b<c three-way join — the count is
    plan-independent, which is exactly what certifies the optimized
    orientation."""
    from .operators.graph import triangle_participation

    cat = Catalog(spark, sf_dir)
    items = cat.lineitem.select("l_orderkey", "l_partkey").distinct()
    a = items.select(F.col("l_orderkey"), F.col("l_partkey").alias("u"))
    b = items.select(F.col("l_orderkey").alias("_ok2"),
                     F.col("l_partkey").alias("v"))
    edges = (a.join(b, (F.col("l_orderkey") == F.col("_ok2"))
                    & (F.col("u") < F.col("v")))
             .select("u", "v").distinct())
    caches: list[DataFrame] = []
    try:
        out = (triangle_participation(edges, src="u", dst="v",
                                      caches=caches)
               .orderBy(F.desc("n_triangles"), F.asc("node"))
               .limit(25))
        return out.localCheckpoint(eager=True)
    finally:
        for c in caches:
            c.unpersist()


@_register(
    "q168_containment_pairs",
    survey="net-new asymmetric shingle-set containment dedup (Broder's containment vs resemblance: the partial-copy / quote-expansion detector Jaccard misses)",
    oracle="""
        WITH sh AS (
          SELECT doc_id,
                 list_distinct(list_transform(
                   generate_series(1, len(w) - 2),
                   i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2]))
                   AS shingles
          FROM (SELECT doc_id,
                       string_split_regex(text, '\\s+') AS w
                FROM documents)
          WHERE len(w) >= 3
        ), post AS (
          SELECT doc_id, unnest(shingles) AS shingle FROM sh
        ), sizes AS (
          SELECT doc_id, len(shingles) AS set_size FROM sh
        ), inter AS (
          SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS inter_cnt
          FROM post a JOIN post b
            ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2
        )
        SELECT i.a, i.b, CAST(i.inter_cnt AS BIGINT) AS inter_cnt,
               CAST(sa.set_size AS BIGINT) AS a_cnt,
               CAST(sb.set_size AS BIGINT) AS b_cnt,
               round(CAST(i.inter_cnt AS DOUBLE)
                     / CAST(sa.set_size AS DOUBLE), 6) AS containment_a,
               round(CAST(i.inter_cnt AS DOUBLE)
                     / CAST(sb.set_size AS DOUBLE), 6) AS containment_b
        FROM inter i
        JOIN sizes sa ON i.a = sa.doc_id
        JOIN sizes sb ON i.b = sb.doc_id
        WHERE round(CAST(i.inter_cnt AS DOUBLE)
                    / CAST(sa.set_size AS DOUBLE), 6) >= 0.5
           OR round(CAST(i.inter_cnt AS DOUBLE)
                    / CAST(sb.set_size AS DOUBLE), 6) >= 0.5
        ORDER BY greatest(
                   round(CAST(i.inter_cnt AS DOUBLE)
                         / CAST(sa.set_size AS DOUBLE), 6),
                   round(CAST(i.inter_cnt AS DOUBLE)
                         / CAST(sb.set_size AS DOUBLE), 6)) DESC,
                 i.a ASC, i.b ASC
        LIMIT 25
    """,
)
def q168_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial-copy detection by shingle-set containment
    (:func:`dedup.containment_pairs`): |A∩B|/|A| ≥ 0.5 in either
    direction — the Broder-containment complement to q32's Jaccard,
    catching the short-doc-embedded-in-long-doc case whose Jaccard
    sits below any threshold. Same inverted-index candidate machinery
    (docs meet only on shared shingles); both directed containments
    derive from the exact intersection counts."""
    cat = Catalog(spark, sf_dir)
    caches: list[DataFrame] = []
    try:
        out = (dedup.containment_pairs(cat.documents, n=3,
                                       min_containment=0.5,
                                       caches=caches)
               .orderBy(F.desc(F.greatest("containment_a",
                                          "containment_b")),
                        F.asc("a"), F.asc("b"))
               .limit(25))
        return out.localCheckpoint(eager=True)
    finally:
        for c in caches:
            c.unpersist()


@_register(
    "q169_jl_distortion",
    survey="net-new oracle-checkable Johnson-Lindenstrauss projection (hash-derived Rademacher signs — no engine RNG; per-vector norm-distortion certificate)",
    oracle="""
        WITH p AS (
          SELECT vec_id,
                 list_aggregate(list_transform(embedding,
                   x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')
                   AS n2o,
                 list_aggregate(list_transform(
                   list_transform(generate_series(0, 7), j ->
                     list_aggregate(list_transform(
                       generate_series(1, len(embedding)), i ->
                       CAST(embedding[i] AS DOUBLE)
                       * (1 - 2 * (((((i * 8 + j + 42) % 2147483648)
                                    * 2654435761 % 2147483648)
                                    // 32768) % 2))),
                       'sum')),
                   pj -> pj * pj), 'sum') AS n2p
          FROM embeddings
        )
        SELECT vec_id, round(n2o, 4) AS n2_orig,
               round(n2p, 4) AS n2_proj,
               round(n2p / (8.0 * n2o), 4) AS ratio
        FROM p ORDER BY vec_id
    """,
)
def q169_jl_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded JL random projection 64→8 dims with per-vector distortion
    certificate (:func:`sim.jl_distortion`): the ±1 Rademacher matrix
    derives from integer hash arithmetic instead of an engine RNG, so
    DuckDB reproduces the identical projection and the oracle certifies
    the whole reduction — the pattern that makes even "random" ANN
    preprocessing testable. Zero shuffle: one in-row O(k·d) fold per
    vector."""
    cat = Catalog(spark, sf_dir)
    return (sim.jl_distortion(cat.embeddings, out_dim=8, salt=42)
            .orderBy("vec_id"))


@_register(
    "q170_event_transitions",
    survey="net-new per-user event-sequence Markov transition matrix (lag-window bigrams over time-ordered sessions; row-normalized probabilities)",
    oracle="""
        WITH seq AS (
          SELECT user_id, event_type,
                 lag(event_type) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS prev
          FROM events
        ), cnt AS (
          SELECT prev, event_type AS next, count(*) AS n
          FROM seq WHERE prev IS NOT NULL
          GROUP BY 1, 2
        ), tot AS (
          SELECT prev, sum(n) AS tn FROM cnt GROUP BY prev
        )
        SELECT c.prev, c.next, CAST(c.n AS BIGINT) AS n,
               round(CAST(c.n AS DOUBLE) / CAST(t.tn AS DOUBLE), 6)
                 AS p
        FROM cnt c JOIN tot t ON c.prev = t.prev
        ORDER BY c.prev, c.next
    """,
)
def q170_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over user event streams:
    lag-window bigrams per user (time-ordered, event_id tiebreak for
    simultaneous rows), exact transition counts, row-normalized
    probabilities — the session-model baseline behind next-event
    prediction and anomalous-flow detection. One user-keyed window
    exchange + one 25-row agg."""
    from pyspark.sql import Window as W
    cat = Catalog(spark, sf_dir)
    seq = cat.events.select(
        "user_id", "event_type",
        F.lag("event_type").over(
            W.partitionBy("user_id").orderBy("ts", "event_id"))
         .alias("prev"))
    cnt = (seq.filter(F.col("prev").isNotNull())
           .groupBy("prev", F.col("event_type").alias("next"))
           .agg(F.count("*").alias("n")))
    tot = cnt.groupBy("prev").agg(F.sum("n").alias("tn"))
    return (cnt.join(tot, "prev")
            .select("prev", "next", F.col("n").cast("long").alias("n"),
                    F.round(F.col("n").cast("double")
                            / F.col("tn").cast("double"), 6).alias("p"))
            .orderBy("prev", "next"))


@_register(
    "q171_blocklist_gate",
    survey="net-new C4-style blocklist gating (bad-words/marker filter at scan speed; per-source flagged/kept accounting)",
    oracle="""
        WITH t AS (
          SELECT source,
                 list_transform(string_split_regex(lower(text), '\\s+'),
                                x -> x) AS w
          FROM documents
        ), h AS (
          SELECT source,
                 len(list_filter(w, x -> list_contains(
                     ['dup', 'spam', 'error', 'noise'], x))) AS hits,
                 CASE WHEN len(list_filter(w, x -> list_contains(
                     ['dup', 'spam', 'error', 'noise'], x)))
                     / CAST(len(w) AS DOUBLE) > 0.0
                      THEN 1 ELSE 0 END AS flagged
          FROM t
        )
        SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(flagged) AS BIGINT) AS n_flagged,
               CAST(count(*) - sum(flagged) AS BIGINT) AS n_kept,
               CAST(sum(hits) AS BIGINT) AS total_hits,
               round(CAST(sum(flagged) AS DOUBLE) / count(*), 4)
                 AS flagged_rate
        FROM h GROUP BY source
        ORDER BY source
    """,
)
def q171_blocklist_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocklist gating per source (:func:`T.blocklist_stats`, the C4
    bad-words rule — any hit drops the document): token filter against
    a literal term array at full scan speed, zero joins, one
    sources-row agg. The gate every crawl pipeline runs before paying
    for anything smarter."""
    cat = Catalog(spark, sf_dir)
    return (T.blocklist_stats(cat.documents,
                              terms=("dup", "spam", "error", "noise"),
                              group_col="source", max_hit_ratio=0.0)
            .orderBy("source"))


def _duck_half_lang(half_expr: str) -> str:
    """CASE argmax of the lexicon-hit scores over ``half_expr`` (a SQL
    token-list expression) — the q33 convention applied to a document
    half (see :func:`_duck_lang_sql`)."""
    from .functions.text import LANG_LEXICONS

    langs = sorted(LANG_LEXICONS)
    scores = {lang: (f"len(list_intersect(list_distinct(list_transform("
                     f"{half_expr}, x -> lower(x))), "
                     f"{list(LANG_LEXICONS[lang])}))")
              for lang in langs}
    case = "CASE "
    for i, lang in enumerate(langs):
        if i < len(langs) - 1:
            conds = " AND ".join(f"{scores[lang]} >= {scores[later]}"
                                 for later in langs[i + 1:])
            case += f"WHEN {conds} THEN '{lang}' "
        else:
            case += f"ELSE '{lang}' END"
    return case


@_register(
    "q172_mixed_language",
    survey="net-new mixed-language detection (per-half language-ID disagreement — the FineWeb-class flag for code-switched / concatenated documents)",
    oracle=f"""
        WITH t AS (
          SELECT doc_id, lang,
                 string_split_regex(text, '\\s+') AS w
          FROM documents
        ), halves AS (
          SELECT doc_id, lang,
                 {_duck_half_lang("w[1:len(w)//2]")} AS lang_first,
                 {_duck_half_lang("w[len(w)//2+1:len(w)]")} AS lang_second
          FROM t WHERE len(w) >= 2
        )
        SELECT lang_first, lang_second,
               CAST(count(*) AS BIGINT) AS n_docs
        FROM halves
        WHERE lang_first <> lang_second
        GROUP BY 1, 2
        ORDER BY lang_first, lang_second
    """,
)
def q172_mixed_language(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixed-language flags: language-ID each HALF of every document
    (the q33 lexicon-argmax convention on token slices) and count the
    disagreeing (first, second) pairs — the cheap code-switch /
    concatenated-document detector crawl pipelines run before routing
    to per-language models. Scan-speed expressions; one pairs-row
    agg."""
    cat = Catalog(spark, sf_dir)
    toks = T.ws_tokens(F.col("text"))
    half = F.floor(F.size(toks) / 2).cast("int")
    first = T.lang_id(F.slice(toks, 1, half))
    second = T.lang_id(F.slice(toks, half + 1, F.size(toks) - half))
    return (cat.documents
            .filter(F.size(toks) >= 2)
            .select(first.alias("lang_first"), second.alias("lang_second"))
            .filter(F.col("lang_first") != F.col("lang_second"))
            .groupBy("lang_first", "lang_second")
            .agg(F.count("*").alias("n_docs"))
            .orderBy("lang_first", "lang_second"))


@_register(
    "q173_prefix_filtered_join",
    survey="net-new prefix-filtered set-similarity join (SSJoin/All-Pairs/PPJoin: rarity-ordered prefixes make candidate pruning COMPLETE — exact results, no recall trade)",
    oracle="""
        -- The UNFILTERED inverted-index join at the same threshold:
        -- PPJoin's prefix lemma says the optimized plan must produce
        -- the identical pair set, which is exactly what this certifies.
        WITH sh AS (
          SELECT doc_id AS id,
                 list_distinct(list_transform(
                   range(1, greatest(len(w) - 2, 0) + 1),
                   i -> array_to_string(list_slice(w, i, i + 2), ' ')))
                   AS shingles
          FROM (SELECT doc_id, string_split_regex(text, '\\s+') AS w
                FROM documents)
        ), posting AS (
          SELECT id, unnest(shingles) AS s FROM sh
        ), sizes AS (
          SELECT id, len(shingles) AS n FROM sh
        ), pairs AS (
          SELECT a.id AS a, b.id AS b, count(*) AS inter_cnt
          FROM posting a JOIN posting b
            ON a.s = b.s AND a.id < b.id
          GROUP BY 1, 2
        )
        SELECT p.a, p.b, CAST(p.inter_cnt AS BIGINT) AS inter_cnt,
               CAST(sa.n AS BIGINT) AS a_cnt, CAST(sb.n AS BIGINT) AS b_cnt,
               round(p.inter_cnt
                     / CAST(sa.n + sb.n - p.inter_cnt AS DOUBLE), 6)
                 AS jaccard
        FROM pairs p JOIN sizes sa ON p.a = sa.id
                     JOIN sizes sb ON p.b = sb.id
        WHERE round(p.inter_cnt
                    / CAST(sa.n + sb.n - p.inter_cnt AS DOUBLE), 6) >= 0.5
        ORDER BY jaccard DESC, p.a ASC, p.b ASC
    """,
)
def q173_prefix_filtered_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact J ≥ 0.5 similarity join via prefix filtering
    (:func:`dedup.prefix_filtered_jaccard_pairs`): candidates come only
    from each document's rarity-ordered shingle PREFIX (PPJoin's
    completeness lemma — any qualifying pair must collide there), then
    exact in-row verification. The oracle runs the UNFILTERED join at
    the same threshold: identical output is precisely the lemma's
    claim, certified per row. At corpus scale the prefix index skips
    the boilerplate-heavy shingle tail entirely — the zero-recall-loss
    version of q32's stop-list."""
    cat = Catalog(spark, sf_dir)
    caches: list[DataFrame] = []
    try:
        out = (dedup.prefix_filtered_jaccard_pairs(
                   cat.documents, threshold=0.5, n=3, caches=caches)
               .orderBy(F.desc("jaccard"), F.asc("a"), F.asc("b")))
        return out.localCheckpoint(eager=True)
    finally:
        for c in caches:
            c.unpersist()


@_register(
    "q174_keep_best_dedup",
    survey="net-new quality-aware dedup keep policy (keep the best copy, not the first-crawled: integer quality argmax per content group, min-id tiebreak)",
    oracle="""
        WITH scored AS (
          SELECT md5(array_to_string(list_sort(list_distinct(
                   regexp_extract_all(lower(text), '[a-z0-9'']+'))), ' '))
                   AS content_hash, doc_id,
                 (len(list_distinct(string_split_regex(lower(text),
                      '\\s+'))) * 10000)
                   // len(string_split_regex(lower(text), '\\s+'))
                   AS score
          FROM documents
        ), ranked AS (
          SELECT content_hash, doc_id, score,
                 row_number() OVER (PARTITION BY content_hash
                                    ORDER BY score DESC, doc_id ASC)
                   AS rn,
                 count(*) OVER (PARTITION BY content_hash) AS dup_cnt
          FROM scored
        )
        SELECT content_hash, doc_id AS keep_id,
               CAST(score AS BIGINT) AS keep_score,
               CAST(dup_cnt AS BIGINT) AS dup_cnt
        FROM ranked WHERE rn = 1 AND dup_cnt > 1
        ORDER BY dup_cnt DESC, content_hash ASC
        LIMIT 25
    """,
)
def q174_keep_best_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware canonical dedup (:func:`dedup.exact_dedup_keep_best`
    over the q31 token-bag fingerprint — raw-text-exact groups are empty
    at the small SFs, fingerprint groups exist at every scale): each
    duplicate group keeps its highest-quality copy (integer
    distinct-token basis points — the q159 all-integer score, so the
    keep decision has no float boundary), min-id tiebreak — the
    production policy; min-id keeps whatever was crawled first. Same
    one-hash-shuffle shape as q31; the winner is a map-side-combined
    (score, −id) struct max. Top-25 largest duplicate groups."""
    cat = Catalog(spark, sf_dir)
    score = F.expr("(size(array_distinct(split(lower(text), '\\\\s+'))) "
                   "* 10000L) div size(split(lower(text), '\\\\s+'))")
    return (dedup.exact_dedup_keep_best(cat.documents, score,
                                        fingerprint=True)
            .filter(F.col("dup_cnt") > 1)
            .orderBy(F.desc("dup_cnt"), F.asc("content_hash"))
            .limit(25))


@_register(
    "q175_psi_drift",
    survey="net-new population-stability-index drift monitor (PSI over fixed value buckets, first vs second half of the event stream per type — the standard ML-ops input-drift metric)",
    oracle="""
        WITH b AS (
          SELECT event_type,
                 CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
                      THEN 0 ELSE 1 END AS half,
                 least(CAST(floor(value / 50.0) AS INT), 9) AS bucket
          FROM events
        ), cnt AS (
          SELECT event_type, half, bucket, count(*) AS c
          FROM b GROUP BY 1, 2, 3
        ), grid AS (
          SELECT DISTINCT e.event_type, h.half, g.bucket
          FROM (SELECT DISTINCT event_type FROM cnt) e
          CROSS JOIN (SELECT unnest([0, 1]) AS half) h
          CROSS JOIN (SELECT unnest(generate_series(0, 9)) AS bucket) g
        ), full_cnt AS (
          SELECT g.event_type, g.half, g.bucket,
                 coalesce(c.c, 0) AS c
          FROM grid g LEFT JOIN cnt c
            ON g.event_type = c.event_type AND g.half = c.half
           AND g.bucket = c.bucket
        ), tot AS (
          SELECT event_type, half, sum(c) AS n
          FROM full_cnt GROUP BY 1, 2
        ), probs AS (
          SELECT f.event_type, f.bucket,
                 max(CASE WHEN f.half = 0 THEN
                     CAST(f.c + 1 AS DOUBLE) / CAST(t.n + 10 AS DOUBLE)
                     END) AS p,
                 max(CASE WHEN f.half = 1 THEN
                     CAST(f.c + 1 AS DOUBLE) / CAST(t.n + 10 AS DOUBLE)
                     END) AS q
          FROM full_cnt f JOIN tot t
            ON f.event_type = t.event_type AND f.half = t.half
          GROUP BY 1, 2
        )
        SELECT event_type,
               round(CAST(sum(CAST(round((p - q) * ln(p / q), 8)
                                   AS DECIMAL(18,8))) AS DOUBLE), 6)
                 AS psi,
               CAST(count(*) AS BIGINT) AS n_buckets
        FROM probs GROUP BY event_type
        ORDER BY event_type
    """,
)
def q175_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index per event type — the standard
    ML-monitoring drift score — between the first and second half of
    the event stream: fixed 50-unit value buckets (floor arithmetic,
    capped), add-one smoothing so empty buckets stay finite, per-bucket
    terms rounded-then-DECIMAL-summed (q146 discipline). One bucketed
    count agg + a types×buckets-row reshape; the corpus contributes
    one scan."""
    cat = Catalog(spark, sf_dir)
    b = cat.events.select(
        "event_type",
        F.when(F.col("ts") < F.lit("2024-01-16 00:00:00").cast("timestamp"),
               F.lit(0)).otherwise(F.lit(1)).alias("half"),
        F.least(F.floor(F.col("value") / 50.0).cast("int"),
                F.lit(9)).alias("bucket"))
    cnt = b.groupBy("event_type", "half", "bucket").agg(
        F.count("*").alias("c"))
    types = cnt.select("event_type").distinct()
    grid = (types
            .crossJoin(spark.range(2).select(
                F.col("id").cast("int").alias("half")))
            .crossJoin(spark.range(10).select(
                F.col("id").cast("int").alias("bucket"))))
    full_cnt = (grid.join(cnt, ["event_type", "half", "bucket"], "left")
                .select("event_type", "half", "bucket",
                        F.coalesce(F.col("c"), F.lit(0)).alias("c")))
    tot = full_cnt.groupBy("event_type", "half").agg(
        F.sum("c").alias("n"))
    probs = (full_cnt.join(tot, ["event_type", "half"])
             .groupBy("event_type", "bucket")
             .agg(F.max(F.when(F.col("half") == 0,
                               (F.col("c") + 1).cast("double")
                               / (F.col("n") + 10).cast("double")))
                   .alias("p"),
                  F.max(F.when(F.col("half") == 1,
                               (F.col("c") + 1).cast("double")
                               / (F.col("n") + 10).cast("double")))
                   .alias("q")))
    term = F.round((F.col("p") - F.col("q"))
                   * F.log(F.col("p") / F.col("q")), 8) \
            .cast("decimal(18,8)")
    return (probs.select("event_type", term.alias("t"))
            .groupBy("event_type")
            .agg(F.round(F.sum("t").cast("double"), 6).alias("psi"),
                 F.count("*").alias("n_buckets"))
            .orderBy("event_type"))



# =====================================================================
# Training-data pipeline: selection, eval-metrics & corpus analysis
# (round-9 wave: DSIR, priority sampling, calibration, agreement,
#  Zipf fit, novelty scoring, CCNet buckets)
# =====================================================================


def _q176_oracle() -> str:
    return """
        -- DSIR unigram importance weights: token-keyed count model with
        -- target/raw conditional sums, 1-row totals, per-token log-ratio
        -- rounded THEN decimal-summed per doc (q146 discipline).
        WITH tok AS (
          SELECT doc_id, source = 'src0' AS tgt,
                 unnest(string_split_regex(lower(text), '\\s+')) AS tok
          FROM documents
        ), model AS (
          SELECT tok,
                 sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS ct,
                 count(*) AS cr
          FROM tok GROUP BY tok
        ), tot AS (
          SELECT sum(ct) AS nt, sum(cr) AS nr, count(*) AS v FROM model
        ), lam AS (
          SELECT tok,
                 CAST(round(
                   ln(CAST(ct + 1 AS DOUBLE) / CAST(nt + v AS DOUBLE))
                   - ln(CAST(cr + 1 AS DOUBLE) / CAST(nr + v AS DOUBLE)),
                   4) AS DECIMAL(18,4)) AS lam
          FROM model CROSS JOIN tot
        )
        SELECT t.doc_id,
               CAST(count(*) AS BIGINT) AS n_tokens,
               CAST(sum(l.lam) AS DOUBLE) AS weight
        FROM tok t JOIN lam l USING (tok)
        WHERE NOT t.tgt
        GROUP BY t.doc_id
        ORDER BY weight DESC, doc_id ASC
        LIMIT 25
    """


@_register(
    "q176_dsir_importance",
    survey="net-new DSIR importance resampling (unigram target-vs-raw log-ratio weights, Xie et al. 2023 — domain-targeted corpus selection)",
    oracle=_q176_oracle(),
)
def q176_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-targeted data selection (:func:`text.dsir_importance`):
    treat src0 as the curated target domain and rank every other
    document by its DSIR importance weight — the sum over its tokens of
    the smoothed target-vs-raw log-probability ratio. The 25 most
    target-like pool documents. One corpus token explode feeds both the
    count model and the scoring join (persisted; count-pyramid totals);
    the hashed-bucket variant is the documented corpus-scale key swap."""
    cat = Catalog(spark, sf_dir)
    caches: list[DataFrame] = []
    try:
        out = (T.dsir_importance(
                   cat.documents.withColumn("_t", F.col("source") == "src0"),
                   "_t", caches=caches)
               .orderBy(F.desc("weight"), F.asc("doc_id")).limit(25)
               .select("doc_id", "n_tokens", "weight"))
        return out.localCheckpoint(eager=True)
    finally:
        for c in caches:
            c.unpersist()


def _q177_oracle() -> str:
    prio = sampling.priority_sample_sql("doc_id", "n_chars", 50, salt=7)
    return f"""
        -- Priority sampling: q = w·2^31/(perm_rank+1); top-50. One
        -- exact int->double product + one IEEE divide — bit-identical
        -- cross-engine, no rounding anywhere.
        SELECT doc_id, lang, n_chars, {prio} AS priority
        FROM documents
        ORDER BY priority DESC, doc_id ASC
        LIMIT 50
    """


@_register(
    "q177_priority_sample",
    survey="net-new fixed-size weighted sampling without replacement (priority sampling, Duffield–Lund–Thorup — exact-quota quality-proportional selection; complements q113's Bernoulli keep)",
    oracle=_q177_oracle(),
)
def q177_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-50-document weighted sample, size-proportional
    (:func:`sampling.priority_sample` with ``n_chars`` as the weight —
    any per-row quality signal works): priority ``w/u`` with the
    bijective permutation hash as ``u``, global top-50 via
    TakeOrderedAndProject — the full corpus never shuffles."""
    cat = Catalog(spark, sf_dir)
    return (sampling.priority_sample(cat.documents, "doc_id", "n_chars",
                                     50, salt=7)
            .select("doc_id", "lang", "n_chars",
                    F.col("_priority").alias("priority")))


_Q178_STOPWORDS = "['the','a','an','of','and','or','in','on','is','are','to']"


def _q178_oracle() -> str:
    return f"""
        -- Reliability table: 4-dp stopword-ratio score binned into 10
        -- fixed bins vs the lang='en' label; per-bin DECIMAL-exact
        -- score sums, one IEEE divide per emitted mean.
        WITH t AS (
          SELECT round(len(list_filter(string_split_regex(text, '\\s+'),
                           x -> list_contains({_Q178_STOPWORDS}, lower(x))))
                       / CAST(len(string_split_regex(text, '\\s+'))
                              AS DOUBLE), 4) AS score,
                 CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
          FROM documents
        ), b AS (
          SELECT least(CAST(floor(score * 10) AS INT), 9) AS bin,
                 CAST(round(score, 9) AS DECIMAL(18,9)) AS s, y
          FROM t
        ), per AS (
          SELECT bin, count(*) AS n, sum(y) AS n_pos, sum(s) AS sum_s
          FROM b GROUP BY bin
        )
        SELECT bin, CAST(n AS BIGINT) AS n, CAST(n_pos AS BIGINT) AS n_pos,
               CAST(sum_s AS DOUBLE) / CAST(n AS DOUBLE) AS mean_score,
               CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE) AS pos_rate,
               abs(CAST(sum_s AS DOUBLE) / CAST(n AS DOUBLE)
                   - CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE)) AS abs_gap
        FROM per ORDER BY bin
    """


@_register(
    "q178_calibration_ece",
    survey="net-new calibration reliability table (fixed-bin confidence vs accuracy, ECE basis — Guo et al. 2017; quality-classifier QA for filter thresholds)",
    oracle=_q178_oracle(),
)
def q178_calibration_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Is the en-stopword-ratio score a CALIBRATED probability that a
    document is English? (:func:`metrics.calibration_table` — the
    reliability diagram behind ECE; a curation pipeline runs this before
    trusting any scorer's threshold.) One map-side-combined aggregation;
    ``ECE = Σ|sum_score−n_pos|/N`` falls out of the emitted columns with
    integer-exact arithmetic."""
    from .ml.metrics import calibration_table
    cat = Catalog(spark, sf_dir)
    toks = T.ws_tokens(F.col("text"))
    scored = cat.documents.select(
        T.stopword_ratio(toks).alias("score"),
        (F.col("lang") == "en").alias("label"))
    return calibration_table(scored, "score", "label")


def _q179_oracle() -> str:
    # Reuse q33's lexicon-argmax twin for labeler A (predicted lang).
    from .functions.text import LANG_LEXICONS

    langs = sorted(LANG_LEXICONS)
    score_exprs = ", ".join(
        f"len(list_intersect(toks, {list(LANG_LEXICONS[lang])})) AS s_{lang}"
        for lang in langs)
    case = "CASE "
    for i, lang in enumerate(langs):
        if i < len(langs) - 1:
            conds = " AND ".join(
                f"s_{lang} >= s_{later}" for later in langs[i + 1:])
            case += f"WHEN {conds} THEN '{lang}' "
        else:
            case += f"ELSE '{lang}' END"
    return f"""
        -- Cohen's kappa between the lexicon lang-id heuristic and the
        -- gold lang column: one confusion-matrix agg, marginal rollups,
        -- exact int64 arithmetic to the final IEEE divides.
        WITH t AS (
          SELECT lang,
                 list_distinct(list_transform(
                   string_split_regex(text, '\\s+'), x -> lower(x))) AS toks
          FROM documents),
        s AS (SELECT lang, {score_exprs} FROM t),
        pred AS (SELECT {case} AS a, lang AS b FROM s),
        conf AS (SELECT a, b, count(*) AS c FROM pred GROUP BY a, b),
        rows_ AS (SELECT a, sum(c) AS rc FROM conf GROUP BY a),
        cols_ AS (SELECT b, sum(c) AS cc FROM conf GROUP BY b),
        cross_ AS (
          SELECT coalesce(sum(rc * cc), 0) AS s
          FROM rows_ JOIN cols_ ON rows_.a = cols_.b),
        base AS (
          SELECT sum(c) AS n,
                 coalesce(sum(CASE WHEN a = b THEN c END), 0) AS diag
          FROM conf)
        SELECT CAST(n AS BIGINT) AS n,
               CAST(diag AS BIGINT) AS n_agree,
               CAST(diag AS DOUBLE) / CAST(n AS DOUBLE) AS po,
               CAST(s AS DOUBLE)
                 / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS pe,
               (CAST(n AS DOUBLE) * CAST(diag AS DOUBLE) - CAST(s AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                    - CAST(s AS DOUBLE)) AS kappa
        FROM base CROSS JOIN cross_
    """


@_register(
    "q179_cohens_kappa",
    survey="net-new Cohen's kappa annotator agreement (chance-corrected; labeler-vs-gold QA for curation heuristics)",
    oracle=_q179_oracle(),
)
def q179_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How much better than chance does the q33 lexicon lang-id agree
    with the gold ``lang`` column? (:func:`metrics.cohens_kappa` — the
    standard annotation-QA statistic.) One classes²-row confusion
    aggregation; everything after is rollups of that tiny relation."""
    from .ml.metrics import cohens_kappa
    cat = Catalog(spark, sf_dir)
    toks = T.ws_tokens(F.col("text"))
    labeled = cat.documents.select(
        T.lang_id(toks).alias("pred"), F.col("lang").alias("gold"))
    return cohens_kappa(labeled, "pred", "gold")


def _q180_oracle() -> str:
    return """
        -- Zipf OLS over the top-200 token frequencies: ln(rank)/ln(cnt)
        -- rounded at creation, DECIMAL-exact OLS sums, IEEE-only
        -- slope/intercept/r2 (never re-rounded).
        WITH cnt AS (
          SELECT tok, count(*) AS cnt
          FROM (SELECT unnest(string_split_regex(lower(text), '\\s+'))
                       AS tok FROM documents)
          GROUP BY tok ORDER BY cnt DESC, tok ASC LIMIT 200
        ), pts AS (
          SELECT CAST(round(ln(CAST(row_number()
                       OVER (ORDER BY cnt DESC, tok ASC) AS DOUBLE)), 4)
                      AS DECIMAL(18,4)) AS x,
                 CAST(round(ln(CAST(cnt AS DOUBLE)), 4)
                      AS DECIMAL(18,4)) AS y
          FROM cnt
        ), s AS (
          SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
                 sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
          FROM pts
        )
        SELECT CAST(n AS BIGINT) AS n_points,
               (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS slope,
               (CAST(sy AS DOUBLE)
                - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                   / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
                  * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) AS intercept,
               ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)))
               / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                  * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                     - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS r2
        FROM s
    """


@_register(
    "q180_zipf_slope",
    survey="net-new Zipf's-law slope fit (OLS of log-frequency vs log-rank over top tokens — corpus-health diagnostic for boilerplate/OCR pathologies)",
    oracle=_q180_oracle(),
)
def q180_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-health check (:func:`text.zipf_slope`): natural language
    sits near slope −1; templated corpora flatten, noise steepens. One
    token-count agg + a global top-200 (TakeOrderedAndProject) — the
    regression's single-partition window is 200 rows BY CONSTRUCTION at
    any corpus size."""
    cat = Catalog(spark, sf_dir)
    return T.zipf_slope(cat.documents, top_n=200)


def _q181_oracle() -> str:
    h = sampling._perm_rank_sql("doc_id", 42)
    return f"""
        -- Per-doc 3-gram novelty of the held-out pool vs the 80%
        -- train split (permutation-hash split, q152 convention):
        -- distinct-shingle LEFT JOIN against the train universe, one
        -- doc-keyed miss count, one IEEE divide.
        WITH d AS (
          SELECT doc_id, ({h}) % 10 AS hs,
                 string_split_regex(lower(text), '\\s+') AS w
          FROM documents
        ), sh AS (
          SELECT doc_id, hs,
                 list_distinct(list_transform(
                   range(1, greatest(len(w) - 2, 0) + 1),
                   i -> array_to_string(list_slice(w, i, i + 2), ' ')))
                   AS shingles
          FROM d
        ), train_ng AS (
          SELECT DISTINCT unnest(shingles) AS ng FROM sh WHERE hs < 8
        ), pool AS (
          SELECT doc_id, unnest(shingles) AS ng FROM sh WHERE hs >= 8
        )
        SELECT p.doc_id,
               CAST(count(*) AS BIGINT) AS n_shingles,
               CAST(sum(CASE WHEN t.ng IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_novel,
               CAST(sum(CASE WHEN t.ng IS NULL THEN 1 ELSE 0 END)
                    AS DOUBLE) / CAST(count(*) AS DOUBLE) AS novelty
        FROM pool p LEFT JOIN train_ng t ON p.ng = t.ng
        GROUP BY p.doc_id
        ORDER BY novelty ASC, doc_id ASC
        LIMIT 25
    """


@_register(
    "q181_ngram_novelty",
    survey="net-new per-doc n-gram novelty scoring vs a reference corpus (memorization-risk / freshness ranking for continual-pretraining selection; scores where q98-class decontamination reports)",
    oracle=_q181_oracle(),
)
def q181_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 25 LEAST-novel held-out documents vs the 80% train split —
    near-zero novelty = verbatim recall risk
    (:func:`dedup.ngram_novelty`; the split rides the q152
    permutation-hash convention). Two linear shingle shuffles, no
    self-join anywhere — hot boilerplate shingles match early and carry
    no pair fan-out."""
    cat = Catalog(spark, sf_dir)
    hs = F.pmod(sampling._perm_rank("doc_id", 42), F.lit(10))
    docs = cat.documents.withColumn("_hs", hs)
    return (dedup.ngram_novelty(docs.filter(F.col("_hs") < 8),
                                docs.filter(F.col("_hs") >= 8), n=3)
            .orderBy(F.asc("novelty"), F.asc("doc_id")).limit(25))


def _q182_oracle() -> str:
    return """
        -- CCNet head/middle/tail: the q146 bigram-NLL model per doc,
        -- then VALUE-GROUP terciles per lang over the (lang, mean_nll)
        -- histogram — whole value-groups bucket together (exact integer
        -- rule 3·cum_before vs n_lang), so no arbitrary tie split and
        -- the per-lang window runs over histogram rows, not docs.
        WITH toks AS (
          SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w
          FROM documents
        ), bi AS (
          SELECT doc_id, w[i] AS w1, w[i + 1] AS w2
          FROM (SELECT doc_id, w,
                       unnest(generate_series(1, len(w) - 1)) AS i
                FROM toks)
        ), c2 AS (
          SELECT w1, w2, count(*) AS c2 FROM bi GROUP BY w1, w2
        ), c1 AS (
          SELECT w1, count(*) AS c1 FROM bi GROUP BY w1
        ), v AS (
          SELECT count(DISTINCT t) AS v
          FROM (SELECT unnest(w) AS t FROM toks)
        ), sc AS (
          SELECT b.doc_id,
                 CAST(round(ln((c2.c2 + 0.5) / (c1.c1 + 0.5 * v.v)), 4)
                      AS DECIMAL(18,4)) AS lp
          FROM bi b
          JOIN c2 USING (w1, w2)
          JOIN c1 USING (w1)
          CROSS JOIN v
        ), doc AS (
          -- v is the UNROUNDED per-doc mean: one IEEE divide of the
          -- exact DECIMAL sum by the exact count — bit-identical
          -- cross-engine, no round-half boundary (the q157 class).
          SELECT doc_id, count(*) AS nbg, -sum(lp) AS snll,
                 CAST(-sum(lp) AS DOUBLE) / count(*) AS v
          FROM sc GROUP BY doc_id
        ), scored AS (
          SELECT dd.lang, d.v, d.nbg, d.snll
          FROM doc d JOIN documents dd ON d.doc_id = dd.doc_id
        ), hist AS (
          SELECT lang, v, count(*) AS c, sum(nbg) AS nbg,
                 sum(snll) AS snll
          FROM scored GROUP BY lang, v
        ), h2 AS (
          SELECT lang, v, c, nbg, snll,
                 sum(c) OVER (PARTITION BY lang ORDER BY v
                              ROWS UNBOUNDED PRECEDING) - c AS cum
          FROM hist
        ), tot AS (
          SELECT lang, sum(c) AS n_lang FROM hist GROUP BY lang
        ), lab AS (
          SELECT h2.lang, c, nbg, snll,
                 CASE WHEN 3 * cum < n_lang THEN 'head'
                      WHEN 3 * cum < 2 * n_lang THEN 'middle'
                      ELSE 'tail' END AS bucket
          FROM h2 JOIN tot ON h2.lang = tot.lang
        )
        SELECT lang, bucket, CAST(sum(c) AS BIGINT) AS n_docs,
               CAST(sum(snll) AS DOUBLE)
                 / CAST(sum(nbg) AS DOUBLE) AS avg_nll
        FROM lab GROUP BY lang, bucket ORDER BY lang, bucket
    """


@_register(
    "q182_ccnet_buckets",
    survey="net-new CCNet-style perplexity bucketing (per-lang head/middle/tail terciles of the corpus-LM NLL — the CCNet pipeline's quality stratification)",
    oracle=_q182_oracle(),
)
def q182_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's quality stratification: per language, split documents
    into head/middle/tail terciles of bigram-LM mean NLL (the q146
    scorer). The tercile boundaries come from a per-lang cumulative
    window over the (lang, mean_nll) HISTOGRAM — value-distinct rows,
    not documents — so the low-cardinality lang partitions never drag
    the corpus through 3 reducers (the q158 count-join discipline), and
    whole value-groups bucket together (deterministic ties, exact
    integer rule)."""
    cat = Catalog(spark, sf_dir)
    caches: list[DataFrame] = []
    try:
        nll = T.bigram_lm_nll(cat.documents, caches=caches)
        # v = UNROUNDED per-doc mean NLL: exact decimal sum / exact
        # count in ONE IEEE divide (never the rounded mean_nll — its
        # round-half boundary drifts cross-engine, the q157 class).
        scored = (nll.join(cat.documents.select("doc_id", "lang"),
                           "doc_id")
                  .withColumn("v", F.col("sum_nll").cast("double")
                              / F.col("n_bigrams")))
        hist = scored.groupBy("lang", "v").agg(
            F.count("*").alias("c"),
            F.sum("n_bigrams").alias("nbg"),
            F.sum("sum_nll").alias("snll"))
        w = (Window.partitionBy("lang").orderBy(F.asc("v"))
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        h2 = hist.withColumn("cum", F.sum("c").over(w) - F.col("c"))
        tot = hist.groupBy("lang").agg(F.sum("c").alias("n_lang"))
        lab = (h2.join(tot, "lang")
               .withColumn(
                   "bucket",
                   F.when(3 * F.col("cum") < F.col("n_lang"), "head")
                    .when(3 * F.col("cum") < 2 * F.col("n_lang"),
                          "middle")
                    .otherwise("tail")))
        out = (lab.groupBy("lang", "bucket")
               .agg(F.sum("c").cast("long").alias("n_docs"),
                    (F.sum("snll").cast("double")
                     / F.sum("nbg").cast("double")).alias("avg_nll"))
               .orderBy("lang", "bucket"))
        return out.localCheckpoint(eager=True)
    finally:
        for c in caches:
            c.unpersist()



def _q183_oracle() -> str:
    return """
        -- The q32/q152 inverted-index pair relation ONCE at the lowest
        -- threshold, then two tiny rollups: pairs per threshold and
        -- max-pair-Jaccard docs per threshold (LEFT joins keep honest
        -- zero rows).
        WITH sh AS (
          SELECT doc_id AS id,
                 list_distinct(list_transform(
                   range(1, greatest(len(w) - 2, 0) + 1),
                   i -> array_to_string(list_slice(w, i, i + 2), ' ')))
                   AS shingles
          FROM (SELECT doc_id, string_split_regex(text, '\\s+') AS w
                FROM documents)
        ), sizes AS (
          SELECT id, len(shingles) AS set_size FROM sh
        ), posting AS (
          SELECT id, unnest(shingles) AS shingle FROM sh
        ), cand AS (
          SELECT p1.id AS a, p2.id AS b, count(*) AS inter_cnt
          FROM posting p1 JOIN posting p2
            ON p1.shingle = p2.shingle AND p1.id < p2.id
          GROUP BY 1, 2
        ), pairs AS (
          SELECT a, b,
                 round(inter_cnt /
                       CAST(sa.set_size + sb.set_size - inter_cnt
                            AS DOUBLE), 6) AS jaccard
          FROM cand
          JOIN sizes sa ON cand.a = sa.id
          JOIN sizes sb ON cand.b = sb.id
          WHERE round(inter_cnt /
                      CAST(sa.set_size + sb.set_size - inter_cnt
                           AS DOUBLE), 6) >= 0.5
        ), thr AS (
          SELECT unnest([0.5, 0.6, 0.7, 0.8, 0.9]) AS threshold
        ), np AS (
          SELECT t.threshold, count(p.a) AS n_pairs
          FROM thr t LEFT JOIN pairs p ON p.jaccard >= t.threshold
          GROUP BY 1
        ), docmax AS (
          SELECT id, max(jaccard) AS maxj
          FROM (SELECT a AS id, jaccard FROM pairs
                UNION ALL SELECT b AS id, jaccard FROM pairs)
          GROUP BY id
        ), nd AS (
          SELECT t.threshold, count(d.id) AS n_docs
          FROM thr t LEFT JOIN docmax d ON d.maxj >= t.threshold
          GROUP BY 1
        )
        SELECT np.threshold, CAST(n_pairs AS BIGINT) AS n_pairs,
               CAST(n_docs AS BIGINT) AS n_docs
        FROM np JOIN nd USING (threshold)
        ORDER BY threshold
    """


@_register(
    "q183_dedup_threshold_curve",
    survey="net-new dedup-rate threshold sweep (pairs + flagged docs per Jaccard cutoff from ONE candidate pass — the Lee-et-al.-2022 knob-tuning curve)",
    oracle=_q183_oracle(),
)
def q183_dedup_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold sweep for near-dup dedup
    (:func:`dedup.jaccard_threshold_curve`): surviving pair and
    flagged-doc counts at Jaccard ≥ 0.5…0.9, all from ONE inverted-
    index candidate pass — the sweep that picks the cutoff without
    re-running the dominant join per candidate value."""
    cat = Catalog(spark, sf_dir)
    caches: list[DataFrame] = []
    try:
        out = dedup.jaccard_threshold_curve(cat.documents, caches=caches)
        return out.localCheckpoint(eager=True)
    finally:
        for c in caches:
            c.unpersist()


def _q184_oracle() -> str:
    from .operators.sampling import _KNUTH_C, _POISSON1_CUTOFFS
    w = " + ".join(
        f"(CASE WHEN r >= {c} THEN 1 ELSE 0 END)"
        for c in _POISSON1_CUTOFFS)
    return f"""
        -- Poisson bootstrap: hash-derived Poisson(1) weights from the
        -- integer CDF cutoffs, DECIMAL-exact weighted sums, one IEEE
        -- divide per replicate, order-statistic CI (ranks 2 and 49 of
        -- 50, replicate id as tiebreak).
        WITH base AS (
          SELECT doc_id AS k,
                 CAST(round(len(list_distinct(string_split_regex(
                        text, '\\s+')))
                      / CAST(len(string_split_regex(text, '\\s+'))
                             AS DOUBLE), 4) AS DECIMAL(18,4)) AS v
          FROM documents
        ), rep AS (
          SELECT k, v, b
          FROM base CROSS JOIN
               (SELECT unnest(generate_series(0, 49)) AS b)
        ), wts AS (
          SELECT b, v, {w} AS w
          FROM (SELECT b, v,
                       ((k + 1000 + b) % 2147483648 + 2147483648)
                        % 2147483648 * {_KNUTH_C} % 2147483648 AS r
                FROM rep)
        ), means AS (
          SELECT b, CAST(sum(w * v) AS DOUBLE)
                      / CAST(sum(w) AS DOUBLE) AS m
          FROM wts GROUP BY b
        ), ordered AS (
          SELECT m, row_number() OVER (ORDER BY m ASC, b ASC) AS r
          FROM means
        ), ci AS (
          SELECT max(CASE WHEN r = 2 THEN m END) AS ci_lo,
                 max(CASE WHEN r = 49 THEN m END) AS ci_hi
          FROM ordered
        ), tot AS (
          SELECT count(*) AS n_rows,
                 CAST(sum(v) AS DOUBLE) / count(*) AS mean
          FROM base
        )
        SELECT CAST(n_rows AS BIGINT) AS n_rows,
               CAST(50 AS BIGINT) AS n_replicates, mean, ci_lo, ci_hi
        FROM tot CROSS JOIN ci
    """


@_register(
    "q184_poisson_bootstrap_ci",
    survey="net-new Poisson-bootstrap confidence interval for a corpus-mean metric (Chamandy et al. 2012 — the distributable bootstrap; hash-derived Poisson(1) weights, order-statistic CI)",
    oracle=_q184_oracle(),
)
def q184_poisson_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """95% CI for the corpus-mean lexical-diversity score by Poisson
    bootstrap (:func:`sampling.poisson_bootstrap_ci`, 50 replicates):
    per-row hash-derived Poisson(1) weights make every replicate a
    local computation — no global N per draw, so the bootstrap reduces
    in ONE map-side-combined aggregation. The error bar a curation
    dashboard needs before treating a corpus-mean shift as real."""
    from .operators.sampling import poisson_bootstrap_ci
    cat = Catalog(spark, sf_dir)
    toks = T.ws_tokens(F.col("text"))
    scored = cat.documents.select(
        "doc_id", T.distinct_token_ratio(toks, scale=None).alias("score"))
    return poisson_bootstrap_ci(scored, "score", "doc_id", b=50,
                                salt=1000)


def _q185_oracle() -> str:
    h = sampling._perm_rank_sql("doc_id", 77)
    return f"""
        -- Heaps'-law growth by NESTED hash subsamples: per-token MIN
        -- level (first nested sample containing it), level rollups,
        -- 4-row cumulative window. Exact dyadic thresholds.
        WITH d AS (
          SELECT ({h}) AS rank,
                 string_split_regex(lower(text), '\\s+') AS toks
          FROM documents
        ), lv AS (
          SELECT CASE WHEN rank < 268435456 THEN 0
                      WHEN rank < 536870912 THEN 1
                      WHEN rank < 1073741824 THEN 2
                      ELSE 3 END AS lvl, toks
          FROM d
        ), ds AS (
          SELECT lvl, count(*) AS d, sum(len(toks)) AS t
          FROM lv GROUP BY lvl
        ), fs AS (
          SELECT lvl, count(*) AS v
          FROM (SELECT min(lvl) AS lvl
                FROM (SELECT lvl, unnest(toks) AS tok FROM lv)
                GROUP BY tok)
          GROUP BY lvl
        ), j AS (
          SELECT ds.lvl, d, t, coalesce(v, 0) AS v
          FROM ds LEFT JOIN fs ON ds.lvl = fs.lvl
        )
        SELECT 1.0 / pow(2.0, CAST(3 - lvl AS DOUBLE)) AS fraction,
               CAST(sum(d) OVER (ORDER BY lvl ROWS UNBOUNDED PRECEDING)
                    AS BIGINT) AS n_docs,
               CAST(sum(t) OVER (ORDER BY lvl ROWS UNBOUNDED PRECEDING)
                    AS BIGINT) AS n_tokens,
               CAST(sum(v) OVER (ORDER BY lvl ROWS UNBOUNDED PRECEDING)
                    AS BIGINT) AS vocab
        FROM j ORDER BY fraction
    """


@_register(
    "q185_vocab_growth",
    survey="net-new Heaps'-law vocabulary-growth curve (nested hash subsamples at 1/8..1 — is more data still buying new vocabulary, or is the crawl recycling itself?)",
    oracle=_q185_oracle(),
)
def q185_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-growth diagnostic (:func:`text.vocab_growth`):
    distinct tokens at nested 1/8, 1/4, 1/2 and full hash subsamples —
    the "first n documents" of the classic formulation without any
    global sort or prefix sum (membership is one integer compare). One
    corpus pass; the cumulative window runs over 4 rows."""
    cat = Catalog(spark, sf_dir)
    return T.vocab_growth(cat.documents)



def _q186_oracle() -> str:
    return """
        -- UniMax closed form: caps ascending, exact-integer saturation
        -- prefix, ONE IEEE divide for the fair share.
        WITH per AS (
          SELECT source,
                 CAST(sum(len(string_split_regex(text, '\\s+')))
                      AS BIGINT) AS n_tokens
          FROM documents GROUP BY source
        ), capd AS (
          SELECT source, n_tokens,
                 CAST(floor(1.0 * n_tokens) AS BIGINT) AS cap
          FROM per
        ), ranked AS (
          SELECT source, n_tokens, cap,
                 row_number() OVER (ORDER BY cap, source) AS i,
                 sum(cap) OVER (ORDER BY cap, source
                                ROWS UNBOUNDED PRECEDING) - cap AS pre
          FROM capd
        ), tot AS (
          SELECT count(*) AS k FROM ranked
        ), flagged AS (
          SELECT r.*, t.k,
                 (cap * (t.k - i + 1) + pre) <= 25000 AS sat
          FROM ranked r CROSS JOIN tot t
        ), sat_tot AS (
          SELECT coalesce(sum(CASE WHEN sat THEN 1 ELSE 0 END), 0) AS j,
                 coalesce(sum(CASE WHEN sat THEN cap END), 0) AS p
          FROM flagged
        )
        SELECT source, n_tokens, cap,
               CAST(sat AS INT) AS saturated,
               CASE WHEN sat THEN CAST(cap AS DOUBLE)
                    WHEN k > j THEN CAST(25000 - p AS DOUBLE)
                                    / CAST(k - j AS DOUBLE)
                    ELSE 0.0 END AS alloc,
               CASE WHEN sat THEN CAST(cap AS DOUBLE)
                    WHEN k > j THEN CAST(25000 - p AS DOUBLE)
                                    / CAST(k - j AS DOUBLE)
                    ELSE 0.0 END / CAST(n_tokens AS DOUBLE) AS epochs
        FROM flagged CROSS JOIN sat_tot
        ORDER BY source
    """


@_register(
    "q186_unimax_budget",
    survey="net-new UniMax budget allocation (Chung et al. 2023 — most-uniform token split under a per-source epoch cap; the principled alternative to temperature mixing, in closed form)",
    oracle=_q186_oracle(),
)
def q186_unimax_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax token-budget split across sources
    (:func:`sampling.unimax_allocation`, budget 25k, 1-epoch cap): small
    sources saturate at their cap, everyone else gets the identical
    fair share — exact-integer saturation test, one IEEE divide. The
    sort/window/rollup all run on the K-row source relation; the corpus
    contributes one token-count pass. At the three driver SFs the
    fixture exercises all three regimes (all-saturated / mixed /
    none-saturated)."""
    from .operators.sampling import unimax_allocation
    cat = Catalog(spark, sf_dir)
    toks = cat.documents.select(
        "source", F.size(T.ws_tokens(F.col("text"))).alias("n_tok"))
    return unimax_allocation(toks, "source", "n_tok", budget=25_000,
                             epoch_cap=1.0)


def _q187_oracle() -> str:
    return """
        -- Borda fusion: three global desc ranks (doc_id tiebreak),
        -- integer rank sum, top-25. The builder's ranks come from the
        -- range-partitioned machinery; the twin's windows certify the
        -- same total orders.
        WITH t AS (
          SELECT doc_id, string_split_regex(text, '\\s+') AS w
          FROM documents
        ), sig AS (
          SELECT doc_id,
                 round(len(list_distinct(w)) / CAST(len(w) AS DOUBLE), 4)
                   AS s1,
                 round(list_sum(list_transform(w, x -> len(x)))
                       / CAST(len(w) AS DOUBLE), 4) AS s2,
                 round(len(list_filter(w, x -> list_contains(
                         ['the','a','an','of','and','or','in','on','is',
                          'are','to'], lower(x))))
                       / CAST(len(w) AS DOUBLE), 4) AS s3
          FROM t
        ), ranked AS (
          SELECT doc_id,
                 row_number() OVER (ORDER BY s1 DESC, doc_id) AS r1,
                 row_number() OVER (ORDER BY s2 DESC, doc_id) AS r2,
                 row_number() OVER (ORDER BY s3 DESC, doc_id) AS r3
          FROM sig
        )
        SELECT doc_id, CAST(r1 AS BIGINT) AS r1,
               CAST(r2 AS BIGINT) AS r2, CAST(r3 AS BIGINT) AS r3,
               CAST(r1 + r2 + r3 AS BIGINT) AS borda
        FROM ranked
        ORDER BY borda ASC, doc_id ASC
        LIMIT 25
    """


@_register(
    "q187_borda_fusion",
    survey="net-new quality-signal ensemble by Borda rank fusion (scale-free combination of heterogeneous scorers — rank sums dodge the calibration problem score-averaging has)",
    oracle=_q187_oracle(),
)
def q187_borda_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ensemble document ranking: three quality signals (lexical
    diversity, mean token length, en-stopword ratio) fuse by GLOBAL
    rank sum — Borda count, the standard scale-free way to combine
    scorers whose raw scales don't compare. Each global rank rides
    :func:`ranks.global_row_numbers` (range-partitioned sort — the
    single-partition row_number the SQL twin writes never executes at
    corpus scale, the q101/q112 machinery); integer rank sums, exact
    top-25."""
    from .operators import ranks
    cat = Catalog(spark, sf_dir)
    toks = T.ws_tokens(F.col("text"))
    sig = cat.documents.select(
        "doc_id",
        T.distinct_token_ratio(toks).alias("s1"),
        T.mean_token_len(toks).alias("s2"),
        T.stopword_ratio(toks).alias("s3"))
    caches: list[DataFrame] = []
    try:
        out = sig
        for i, s in enumerate(("s1", "s2", "s3"), start=1):
            out = ranks.global_row_numbers(
                out, [F.desc(s), F.asc("doc_id")], out_col=f"r{i}",
                caches=caches)
        out = (out.select(
                   "doc_id",
                   F.col("r1").cast("long").alias("r1"),
                   F.col("r2").cast("long").alias("r2"),
                   F.col("r3").cast("long").alias("r3"),
                   (F.col("r1") + F.col("r2") + F.col("r3"))
                    .cast("long").alias("borda"))
               .orderBy(F.asc("borda"), F.asc("doc_id")).limit(25))
        return out.localCheckpoint(eager=True)
    finally:
        for c in caches:
            c.unpersist()


def _q188_oracle() -> str:
    return """
        -- Gopher repetition twin: same (doc, n, gram) count relation,
        -- integer character sums, struct-max tie-break (count desc,
        -- gram desc) as a row_number window.
        WITH t AS (
          SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w
          FROM documents
        ), gr AS (
          SELECT doc_id, 2 AS n,
                 unnest(list_transform(
                   range(1, greatest(len(w) - 1, 0) + 1),
                   i -> array_to_string(list_slice(w, i, i + 1), ' ')))
                 AS g
          FROM t
          UNION ALL
          SELECT doc_id, 3,
                 unnest(list_transform(
                   range(1, greatest(len(w) - 2, 0) + 1),
                   i -> array_to_string(list_slice(w, i, i + 2), ' ')))
          FROM t
        ), cnt AS (
          SELECT doc_id, n, g, count(*) AS c,
                 count(*) * length(g) AS chars
          FROM gr GROUP BY 1, 2, 3
        ), per AS (
          SELECT doc_id, n, sum(chars) AS denom,
                 sum(CASE WHEN c >= 2 THEN chars ELSE 0 END) AS dup_chars
          FROM cnt GROUP BY 1, 2
        ), top2 AS (
          SELECT doc_id, c * length(g) AS top_chars, g
          FROM (SELECT *, row_number() OVER (
                  PARTITION BY doc_id ORDER BY c DESC, g DESC) AS rn
                FROM cnt WHERE n = 2)
          WHERE rn = 1
        )
        SELECT p2.doc_id,
               round(p2.dup_chars / CAST(p2.denom AS DOUBLE), 4)
                 AS dup_2gram_frac,
               round(p3.dup_chars / CAST(p3.denom AS DOUBLE), 4)
                 AS dup_3gram_frac,
               round(t2.top_chars / CAST(p2.denom AS DOUBLE), 4)
                 AS top_2gram_frac,
               t2.g AS top_2gram
        FROM per p2
        JOIN per p3 ON p2.doc_id = p3.doc_id AND p3.n = 3
        JOIN top2 t2 ON p2.doc_id = t2.doc_id
        WHERE p2.n = 2
        ORDER BY dup_2gram_frac DESC, p2.doc_id ASC
        LIMIT 40
    """


@_register(
    "q188_gopher_repetition",
    survey="net-new Gopher duplicated-n-gram repetition signals (Rae et al. 2021 Table A1 — dup-2/3-gram and top-2-gram character fractions, the gate for machine-generated/boilerplate text)",
    oracle=_q188_oracle(),
)
def q188_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition gate (:func:`text.gopher_repetition`):
    per-document duplicated-2/3-gram and top-2-gram character
    fractions, top-40 most repetitive documents. Two linear passes —
    explode of O(len) shingle arrays, (doc, n, gram) count, (doc, n)
    rollup — all shuffles on document keys, no corpus-wide vocabulary,
    no pair relation; the final top-N is a TakeOrderedAndProject."""
    cat = Catalog(spark, sf_dir)
    return T.gopher_repetition(cat.documents)


@_register(
    "q189_wordpiece_merges",
    survey="net-new distributed WordPiece merge learning (Schuster & Nakajima 2012 / Wu et al. 2016 — likelihood-score argmax count(l,r)/(count(l)count(r)), ## continuation prefixes; the BERT-family sibling of q154's BPE)",
    # Same oracle-upgrade class as q154 (VERDICT r8 #6): deterministic
    # integer counts + one IEEE divide-of-product per candidate, so the
    # merge loop unrolls as a static MATERIALIZED CTE chain (with one
    # extra symbol-count CTE per iteration for the likelihood score).
    oracle=subword.wordpiece_learn_sql(n_merges=16),
)
def q189_wordpiece_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordPiece tokenizer training (:func:`subword.wordpiece_learn`,
    16 merges): q154's distributed shape — one corpus word-count pass,
    iterations on the Heaps-law vocabulary relation, one-row driver
    state — plus the WordPiece likelihood argmax (two joins of the
    pair relation against the per-iteration weighted symbol counts)
    and ``##`` continuation prefixes. The score's argmax runs on the
    raw IEEE divide-of-product of exact integers, so the winner chain
    is engine-exact; ties break lexicographic."""
    cat = Catalog(spark, sf_dir)
    return subword.wordpiece_learn(cat.documents, n_merges=16)


def _q190_oracle() -> str:
    d = ("list_sum(list_transform(range(1, len({x}) + 1), "
         "i -> {x}[i]::DOUBLE * {y}[i]::DOUBLE))")
    cos = (f"round({d.format(x='va', y='vb')} / "
           f"nullif(sqrt({d.format(x='va', y='va')}) * "
           f"sqrt({d.format(x='vb', y='vb')}), 0.0), 4)")
    return f"""
        -- Margin-mining twin: 4-dp cosines, DECIMAL k-neighbor sums
        -- (order-proof), one cast + two IEEE ops for the margin.
        WITH a AS (SELECT vec_id AS src, embedding AS va FROM embeddings
                   WHERE vec_id % 2 = 0),
        b AS (SELECT vec_id AS dst, embedding AS vb FROM embeddings
              WHERE vec_id % 2 = 1),
        p AS (SELECT src, dst, {cos} AS cos4 FROM a, b),
        fwd AS (
          SELECT src, sum(CAST(cos4 AS DECIMAL(10,4))) AS fwd_sum
          FROM (SELECT *, row_number() OVER (
                  PARTITION BY src ORDER BY cos4 DESC, dst ASC) AS rn
                FROM p)
          WHERE rn <= 4 GROUP BY src),
        bwd AS (
          SELECT dst, sum(CAST(cos4 AS DECIMAL(10,4))) AS bwd_sum
          FROM (SELECT *, row_number() OVER (
                  PARTITION BY dst ORDER BY cos4 DESC, src ASC) AS rn
                FROM p)
          WHERE rn <= 4 GROUP BY dst)
        SELECT p.src, p.dst, p.cos4 AS cosine_sim,
               p.cos4 / (CAST(fwd_sum + bwd_sum AS DOUBLE) / 8.0)
                 AS margin
        FROM p JOIN fwd USING (src) JOIN bwd USING (dst)
        ORDER BY margin DESC, src ASC, dst ASC
        LIMIT 25
    """


@_register(
    "q190_margin_mining",
    survey="net-new margin-based pair mining (Artetxe & Schwenk 2019 ratio margin — the bitext/pair-mining criterion that suppresses hub vectors; post-pass over any ANN candidate tier)",
    oracle=_q190_oracle(),
)
def q190_margin_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-criterion pair mining (:func:`similarity.margin_topk`,
    k=4, top-25): ratio margin over both endpoints' k-NN neighborhood
    density, even/odd embedding halves as the two sides. The margin
    post-pass (two windowed top-k passes + two endpoint-keyed joins)
    is candidate-relation-agnostic — here it scores the exact
    all-pairs tier; at corpus scale it consumes q58/q59-style ANN
    candidates unchanged."""
    cat = Catalog(spark, sf_dir)
    from .operators.similarity import margin_topk
    return margin_topk(cat.embeddings)


def _q191_oracle() -> str:
    return """
        -- Padding-waste audit: exact integer bucket aggregates + one
        -- IEEE divide; the 'global' row is a rollup of the K-row bucket
        -- relation.
        WITH lens AS (
          SELECT least(len(string_split_regex(text, '\\s+')), 128) AS n
          FROM documents
        ), b AS (
          SELECT CASE WHEN n <= 16 THEN 16 WHEN n <= 32 THEN 32
                      WHEN n <= 64 THEN 64 ELSE 128 END AS bucket, n
          FROM lens
        ), per AS (
          SELECT bucket, count(*) AS n_docs, sum(n) AS sum_tokens
          FROM b GROUP BY bucket
        ), strat AS (
          SELECT 'bucketed' AS strategy, bucket, n_docs, sum_tokens,
                 bucket * n_docs AS capacity
          FROM per
          UNION ALL
          SELECT 'global', 128, sum(n_docs), sum(sum_tokens),
                 128 * sum(n_docs)
          FROM per
        )
        SELECT strategy, CAST(bucket AS INT) AS bucket,
               CAST(n_docs AS BIGINT) AS n_docs,
               CAST(sum_tokens AS BIGINT) AS sum_tokens,
               CAST(capacity AS BIGINT) AS capacity,
               CAST(capacity - sum_tokens AS BIGINT) AS padding,
               CAST(capacity - sum_tokens AS DOUBLE)
                 / CAST(capacity AS DOUBLE) AS waste_frac
        FROM strat
        ORDER BY strategy, bucket
    """


@_register(
    "q191_padding_waste",
    survey="net-new padding-efficiency audit for bucketed batching (length-bucket capacity vs real tokens, plus the single-max-length strawman — the batch-shape planning number for fixed-context training)",
    oracle=_q191_oracle(),
)
def q191_padding_waste(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed-batching padding audit (:func:`text.padding_waste`,
    boundaries 16/32/64/128): per length bucket, rows / real tokens /
    padded capacity / waste fraction, plus the ``global`` pad-to-max
    row the bucketing replaces. One corpus pass computing only a token
    count per row; everything wider runs on the K-row bucket relation,
    and the shared partial-aggregate exchange is reused across the
    union (corpus scanned once — plan-checked in PLANS.md)."""
    cat = Catalog(spark, sf_dir)
    return T.padding_waste(cat.documents)


@_register(
    "q192_mmr_selection",
    survey="net-new Maximal Marginal Relevance greedy selection (Carbonell & Goldstein 1998 — diversity-aware top-k for data selection / RAG; k shuffle-free passes, global top-1 argmax each)",
    # Greedy-loop oracle upgrade (the q154/q189 pattern): every pick is
    # deterministic 4-dp-cosine + IEEE arithmetic, so the loop unrolls
    # as a static (pick, state) MATERIALIZED CTE chain.
    oracle=sim.mmr_select_sql(k=10),
)
def q192_mmr_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversity selection (:func:`similarity.mmr_select`, k=10,
    lambda=0.7, query = vec 0): greedy picks maximize relevance minus
    the best similarity to anything already selected. Each of the k
    passes is SHUFFLE-FREE (global top-1 argmax; incremental maxsim
    update against the one picked vector as a literal) — at corpus
    scale this is k scans and nothing else."""
    cat = Catalog(spark, sf_dir)
    return sim.mmr_select(cat.embeddings, k=10)


def _q193_oracle() -> str:
    d = ("list_sum(list_transform(range(1, len({x}) + 1), "
         "i -> {x}[i]::DOUBLE * {y}[i]::DOUBLE))")
    cos = (f"round({d.format(x='qv', y='nv')} / "
           f"nullif(sqrt({d.format(x='qv', y='qv')}) * "
           f"sqrt({d.format(x='nv', y='nv')}), 0.0), 6)")
    return f"""
        -- kNN label-consistency twin: q40's 6-dp cosine top-5, then a
        -- (count desc, label asc) majority vote and per-label rollup.
        WITH q AS (SELECT vec_id AS query_id, embedding AS qv,
                          label AS true_label
                   FROM embeddings WHERE vec_id < 50),
        c AS (SELECT vec_id AS n_id, embedding AS nv, label AS n_label
              FROM embeddings),
        scored AS (
          SELECT query_id, true_label, n_id, n_label, {cos} AS sim
          FROM q, c WHERE n_id <> query_id),
        top5 AS (
          SELECT query_id, true_label, n_label
          FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                   ORDER BY sim DESC, n_id ASC) AS rn
                FROM scored) WHERE rn <= 5),
        votes AS (
          SELECT query_id, true_label, n_label, count(*) AS c
          FROM top5 GROUP BY 1, 2, 3),
        pred AS (
          SELECT query_id, true_label, n_label AS pred_label
          FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                   ORDER BY c DESC, n_label ASC) AS rn
                FROM votes) WHERE rn = 1)
        SELECT true_label AS label,
               CAST(count(*) AS BIGINT) AS n_queries,
               CAST(sum(CASE WHEN pred_label = true_label
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
               CAST(sum(CASE WHEN pred_label = true_label
                             THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(count(*) AS DOUBLE) AS accuracy
        FROM pred GROUP BY true_label
        ORDER BY label
    """


@_register(
    "q193_knn_label_eval",
    survey="net-new kNN label-consistency probe (leave-one-out 5-NN majority vote vs own label — the embedding-space quality eval run before trusting semantic dedup / clustering tiers)",
    oracle=_q193_oracle(),
)
def q193_knn_label_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space quality probe: each query vector (vec_id < 50)
    is classified by the majority label of its 5 nearest neighbors
    (cosine, self excluded — :func:`similarity.cosine_topk`, the q40
    broadcast tier) and compared to its own label; per-label accuracy
    reported. Vote tie-break: count desc, label asc — a total order on
    exact integers. The broadcast-queries x corpus scan is the q40
    cost model: |Q|·|corpus| fused JVM work, one per-query top-k
    window, zero corpus shuffle."""
    cat = Catalog(spark, sf_dir)
    emb = cat.embeddings
    queries = emb.filter(F.col("vec_id") < 50)
    top5 = sim.cosine_topk(emb, queries, k=5)
    labels = emb.select(F.col("vec_id").alias("n_id"),
                        F.col("label").alias("n_label"))
    votes = (top5.withColumnRenamed("neighbor_id", "n_id")
             .join(F.broadcast(labels), "n_id")
             .groupBy("query_id", "n_label")
             .agg(F.count("*").alias("c")))
    pred = (votes
            .groupBy("query_id")
            .agg(F.max(F.struct(F.col("c"),
                                (-F.col("n_label")).alias("neg"),
                                F.col("n_label").alias("lab")))
                 .alias("m"))
            .select("query_id", F.col("m.lab").alias("pred_label")))
    truth = queries.select(F.col("vec_id").alias("query_id"),
                           F.col("label").alias("true_label"))
    hit = F.when(F.col("pred_label") == F.col("true_label"), 1) \
           .otherwise(0)
    return (pred.join(F.broadcast(truth), "query_id")
            .groupBy(F.col("true_label").alias("label"))
            .agg(F.count("*").alias("n_queries"),
                 F.sum(hit).cast("long").alias("n_correct"),
                 (F.sum(hit).cast("double")
                  / F.count("*").cast("double")).alias("accuracy"))
            .orderBy("label"))


@_register(
    "q194_self_retrieval_eval",
    survey="net-new retrieval-quality eval: self-retrieval reciprocal ranks (query = each probe doc's 8-token prefix, relevant = the doc itself — the zero-labels eval that gates a retrieval stack before real relevance data exists)",
    oracle="""
        -- q150's BM25 twin with query-by-prefix probes, then the
        -- reciprocal rank of each probe's own document (0 on miss).
        WITH probes AS (
          SELECT doc_id AS query_id,
                 array_to_string(list_slice(
                   string_split_regex(lower(text), '\\s+'), 1, 8), ' ')
                   AS qtext
          FROM documents WHERE doc_id < 20
        ), toks AS (
          SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w
          FROM documents
        ), tf AS (
          SELECT doc_id, t, count(*) AS tf
          FROM (SELECT doc_id, unnest(w) AS t FROM toks)
          GROUP BY doc_id, t
        ), dl AS (
          SELECT doc_id, len(w) AS dl FROM toks
        ), stats AS (
          SELECT count(*) AS n, sum(dl) AS sum_dl FROM dl
        ), dfreq AS (
          SELECT t, count(*) AS df FROM tf GROUP BY t
        ), qterms AS (
          SELECT DISTINCT query_id,
                 unnest(string_split_regex(qtext, '\\s+')) AS t
          FROM probes
        ), qt AS (
          SELECT query_id, qterms.t,
                 ln(CAST(1.0 AS DOUBLE)
                    + (n - df + CAST(0.5 AS DOUBLE))
                      / (df + CAST(0.5 AS DOUBLE))) AS idf,
                 n, sum_dl
          FROM qterms JOIN dfreq ON qterms.t = dfreq.t CROSS JOIN stats
        ), scored AS (
          SELECT query_id, tf.doc_id,
                 CAST(sum(CAST(round(
                     idf * tf * CAST(2.2 AS DOUBLE)
                     / (tf + CAST(1.2 AS DOUBLE)
                        * (CAST(0.25 AS DOUBLE)
                           + CAST(0.75 AS DOUBLE) * dl * n / sum_dl)),
                     4) AS DECIMAL(18,4))) AS DOUBLE) AS score_4dp
          FROM tf
          JOIN qt ON tf.t = qt.t
          JOIN dl ON tf.doc_id = dl.doc_id
          GROUP BY query_id, tf.doc_id
        ), ranked AS (
          SELECT query_id,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY score_4dp DESC, doc_id ASC)
                   AS rank,
                 doc_id
          FROM scored
        )
        SELECT p.query_id,
               CAST(coalesce(r.rank, 0) AS INT) AS found_rank,
               round(CASE WHEN r.rank IS NULL THEN CAST(0.0 AS DOUBLE)
                          ELSE CAST(1.0 AS DOUBLE) / r.rank END, 4) AS rr
        FROM probes p LEFT JOIN ranked r
          ON p.query_id = r.query_id AND r.doc_id = p.query_id
             AND r.rank <= 10
        ORDER BY p.query_id
    """,
)
def q194_self_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-stack quality eval without labels: each probe document
    (doc 0..19) queries the corpus with its own 8-token prefix through
    the q150 BM25 tier; the reciprocal rank of the probe itself in the
    top-10 (0 on miss) is the self-retrieval signal, and its mean is
    the MRR the stack is tuned on before any human relevance data
    exists. Cost model is q150's: only probe-term postings survive the
    broadcast filter, so the eval follows the probe set, not the
    corpus."""
    cat = Catalog(spark, sf_dir)
    docs = cat.documents
    prefix = F.concat_ws(
        " ", F.slice(T.ws_tokens(F.lower(F.col("text"))), 1, 8))
    probes = (docs.filter(F.col("doc_id") < 20)
              .select(F.col("doc_id").alias("query_id"),
                      prefix.alias("qtext")))
    top = T.bm25_topk(docs, probes, k=10)
    hits = (top.filter(F.col("doc_id") == F.col("query_id"))
            .select("query_id", "rank"))
    return (probes.select("query_id")
            .join(hits, "query_id", "left")
            .select("query_id",
                    F.coalesce(F.col("rank"), F.lit(0)).cast("int")
                    .alias("found_rank"),
                    F.round(F.when(F.col("rank").isNotNull(),
                                   F.lit(1.0) / F.col("rank"))
                            .otherwise(F.lit(0.0)), 4).alias("rr"))
            .orderBy("query_id"))


@_register(
    "q195_orc_roundtrip",
    survey="ORC source/sink roundtrip (S-family widening: columnar-format portability — write the corpus to ORC, read it back, aggregate; the format-conversion job a migration pipeline runs)",
    oracle="""
        -- The aggregate is FORMAT-INDEPENDENT, so the twin runs on the
        -- parquet view: equality certifies the ORC write+read preserved
        -- every row and value the aggregate touches.
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS sum_chars,
               CAST(sum(len(string_split_regex(text, '\\s+')))
                    AS BIGINT) AS sum_tokens,
               CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
        FROM documents GROUP BY source ORDER BY source
    """,
)
def q195_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Columnar-format portability (S-family): write ``documents`` to
    ORC (:func:`catalog.write_orc`), read it back, and aggregate per
    source. The oracle runs the identical aggregate on the parquet
    original — equality certifies the roundtrip preserved every row
    and value. At 100 TB this is the format-conversion job shape: one
    read, one columnar write, both embarrassingly parallel; the
    temp-dir here stands in for the destination lake path."""
    import shutil
    import tempfile

    from .sources.catalog import read_orc, write_orc

    cat = Catalog(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="q195_orc_")
    try:
        out = tmp + "/docs"
        write_orc(cat.documents, out)
        back = read_orc(spark, out)
        agg = (back.groupBy("source")
               .agg(F.count("*").alias("n_docs"),
                    F.sum("n_chars").cast("long").alias("sum_chars"),
                    F.sum(F.size(T.ws_tokens(F.col("text")))).cast("long")
                    .alias("sum_tokens"),
                    F.countDistinct("lang").alias("n_langs"))
               .orderBy("source"))
        # Eager checkpoint detaches the K-row result from the temp ORC
        # files so the dir can be removed before returning (a lazy
        # return would leak one temp dir per invocation — bench runs
        # this repeatedly).
        return agg.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _q196_oracle() -> str:
    return """
        -- Bigram-entropy twin: H = log2_4dp(T) - S/T with S the
        -- DECIMAL sum of per-distinct-bigram round(c*log2(c), 4) terms
        -- and T the exact bigram count. BOTH transcendentals round
        -- once at 4 dp at creation (the q146 rule): the round-10
        -- vanilla-session audit caught the raw log2(T) differing by
        -- one ulp between engines (Spark 3.5849625007211565 vs DuckDB
        -- ...156 for T=12) — invisible to the 1e-9-tolerant local
        -- gates, fatal to the driver's exact hash. After the rounds,
        -- the divide is IEEE on exact operands and the subtract is
        -- IEEE on bit-identical doubles.
        WITH t AS (
          SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w
          FROM documents
        ), bg AS (
          SELECT doc_id,
                 array_to_string(list_slice(w, i, i + 1), ' ') AS g
          FROM (SELECT doc_id, w,
                       unnest(range(1, greatest(len(w) - 1, 0) + 1)) AS i
                FROM t)
        ), cnt AS (
          SELECT doc_id, g, count(*) AS c FROM bg GROUP BY 1, 2
        ), per AS (
          SELECT doc_id,
                 CAST(sum(c) AS BIGINT) AS total,
                 CAST(sum(CAST(round(c * log2(CAST(c AS DOUBLE)), 4)
                               AS DECIMAL(18,4))) AS DOUBLE) AS s
          FROM cnt GROUP BY doc_id
        )
        SELECT doc_id, total AS n_bigrams,
               CAST(CAST(round(log2(CAST(total AS DOUBLE)), 4)
                         AS DECIMAL(18,4)) AS DOUBLE)
                 - s / CAST(total AS DOUBLE) AS entropy_bits
        FROM per
        ORDER BY entropy_bits ASC, doc_id ASC
        LIMIT 30
    """


@_register(
    "q196_bigram_entropy",
    survey="net-new per-document bigram Shannon entropy (the information-theoretic repetition signal — low entropy flags template/generated text that token-ratio heuristics miss)",
    oracle=_q196_oracle(),
)
def q196_bigram_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document bigram entropy, lowest-30 (most template-like):
    H = log2_4dp(T) − (Σ c·log2 c)/T over the doc's bigram counts —
    the algebraic form that needs no per-bigram probability divide.
    EVERY transcendental rounds once at creation (q146 discipline),
    including log2(T) itself: engines' log2 disagree by an ulp on some
    inputs, the exact-hash failure class the round-10 vanilla audit
    caught here (local gates tolerate 1e-9; the driver doesn't). After
    the rounds the divide is IEEE on exact operands and the subtract
    is IEEE on bit-identical doubles. One bigram explode + one
    (doc, gram) count + one doc rollup — document-keyed shuffles only,
    global bottom-30 via TakeOrderedAndProject."""
    cat = Catalog(spark, sf_dir)
    toks = T.ws_tokens(F.lower(F.col("text")))
    # Conditional small-corpus fan-out before the bigram explode (round
    # 11, VERDICT r10 #4 — the q150 serial-scan class; no-op at scale).
    bg = (rel.fan_out_small_scan(cat.documents)
          .select("doc_id", F.explode(T.word_shingles(toks, 2)).alias("g"))
          .groupBy("doc_id", "g").agg(F.count("*").alias("c")))
    term = F.round(F.col("c").cast("double")
                   * F.log2(F.col("c").cast("double")), 4) \
            .cast("decimal(18,4)")
    per = bg.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_bigrams"),
        F.sum(term).cast("double").alias("s"))
    log2t = (F.round(F.log2(F.col("n_bigrams").cast("double")), 4)
             .cast("decimal(18,4)").cast("double"))
    return (per.select(
                "doc_id", "n_bigrams",
                (log2t - F.col("s") / F.col("n_bigrams").cast("double"))
                .alias("entropy_bits"))
            .orderBy(F.asc("entropy_bits"), F.asc("doc_id"))
            .limit(30))


@_register(
    "q197_streaming_dedup",
    survey="streaming exact dedup (real Structured Streaming run: readStream → md5 content hash → dropDuplicates state → availableNow drain; the watermarked dropDuplicatesWithinWatermark horizon variant is pytest-covered in test_streaming_dedup)",
    oracle="""
        -- Batch twin over distinct normalized texts. WHICH duplicate
        -- copy survives the stream is micro-batch-order dependent, so
        -- the certified output aggregates only winner-invariant values
        -- (the normalized text is identical across copies of a dup
        -- group by construction of the dedup key).
        WITH uniq AS (
          SELECT DISTINCT lower(trim(text)) AS t FROM documents
        )
        SELECT CAST(count(*) AS BIGINT) AS n_unique,
               CAST(sum(length(t)) AS BIGINT) AS sum_norm_chars,
               CAST(sum(len(string_split_regex(t, '\\s+')))
                    AS BIGINT) AS sum_norm_tokens
        FROM uniq
    """,
)
def q197_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup end-to-end on the real engine: documents
    flow through readStream → content hash → ``dropDuplicates`` state →
    an availableNow drain into a memory sink, and the drained survivor
    set must carry exactly one row per distinct normalized text. The
    certified aggregate uses only winner-invariant values (normalized
    text), because which copy of a duplicate group survives is
    micro-batch-order dependent — the correct thing to certify about
    a streaming dedup is the SET of content it keeps, not the row
    identities. The unbounded-state caveat is the module's documented
    contract: finite backfills use this shape, infinite streams use
    ``dropDuplicatesWithinWatermark`` (pytest-covered)."""
    import os

    from .streaming import events as SE

    name = f"q197_dedup_{next(_STREAM_SEQ)}"
    docs_path = os.path.join(sf_dir, "documents.parquet")
    schema = spark.read.parquet(docs_path).schema
    # File stream sources require a DIRECTORY; glob-filter the parent
    # so only the documents file matches (read_event_stream_auto's
    # pattern).
    directory, fname = os.path.split(docs_path.rstrip("/"))
    stream = (spark.readStream.format("parquet").schema(schema)
              .option("pathGlobFilter", fname).load(directory))
    deduped = SE.stream_dedup_exact(stream)
    SE.run_available_now(deduped, name, output_mode="append")
    norm = F.lower(F.trim(F.col("text")))
    return (spark.table(name)
            .select(norm.alias("t"))
            .agg(F.count("*").alias("n_unique"),
                 F.sum(F.length("t")).cast("long").alias("sum_norm_chars"),
                 F.sum(F.size(T.ws_tokens(F.col("t")))).cast("long")
                 .alias("sum_norm_tokens")))


@_register(
    "q198_length_quality_corr",
    survey="net-new length-vs-quality Pearson correlation per source (the selection-bias diagnostic: a quality gate correlated with length quietly reshapes the length distribution)",
    oracle="""
        -- Pearson r from exact DECIMAL moment sums (x = token count,
        -- y = 4-dp distinct-token ratio): the quotient's operands are
        -- exact, so r is one IEEE expression on identical inputs.
        WITH sig AS (
          SELECT source,
                 len(string_split_regex(text, '\\s+')) AS x,
                 CAST(round(len(list_distinct(
                          string_split_regex(lower(text), '\\s+')))
                        / CAST(len(string_split_regex(text, '\\s+'))
                               AS DOUBLE), 4) AS DECIMAL(10,4)) AS y
          FROM documents
        ), m AS (
          SELECT source, count(*) AS n,
                 sum(CAST(x AS BIGINT)) AS sx,
                 sum(y) AS sy,
                 sum(x * y) AS sxy,
                 sum(CAST(x AS BIGINT) * CAST(x AS BIGINT)) AS sxx,
                 sum(y * y) AS syy
          FROM sig GROUP BY source
        )
        SELECT source, CAST(n AS BIGINT) AS n_docs,
               (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)
                                          * CAST(sy AS DOUBLE))
               / nullif(sqrt(n * CAST(sxx AS DOUBLE)
                             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                        * sqrt(n * CAST(syy AS DOUBLE)
                               - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)),
                        0.0) AS corr_r
        FROM m ORDER BY source
    """,
)
def q198_length_quality_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selection-bias diagnostic: per-source Pearson correlation between
    document length (token count) and the distinct-token-ratio quality
    signal. A gate that correlates with length reshapes the corpus
    length distribution as a side effect — this is the number that
    catches it before training does. One map-side-combined aggregate
    over exact DECIMAL moment sums (x integer, y rounded once at 4 dp);
    the r formula is a fixed IEEE expression over exact operands, so it
    is bit-identical on any engine."""
    cat = Catalog(spark, sf_dir)
    toks = T.ws_tokens(F.col("text"))
    x = F.size(toks)
    y = T.distinct_token_ratio(T.ws_tokens(F.lower(F.col("text"))), 4) \
         .cast("decimal(10,4)")
    sig = cat.documents.select("source", x.alias("x"), y.alias("y"))
    m = sig.groupBy("source").agg(
        F.count("*").alias("n"),
        F.sum(F.col("x").cast("long")).alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x").cast("long") * F.col("x").cast("long"))
        .alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"))
    n = F.col("n")
    num = (n * F.col("sxy").cast("double")
           - F.col("sx").cast("double") * F.col("sy").cast("double"))
    den = (F.sqrt(n * F.col("sxx").cast("double")
                  - F.col("sx").cast("double") * F.col("sx").cast("double"))
           * F.sqrt(n * F.col("syy").cast("double")
                    - F.col("sy").cast("double")
                    * F.col("sy").cast("double")))
    return (m.select("source", n.cast("long").alias("n_docs"),
                     (num / F.nullif(den, F.lit(0.0))).alias("corr_r"))
            .orderBy("source"))


# =====================================================================
# Round-10 wave: mixture reweighting, filter agreement, streaming
# session windows + incremental upsert, deterministic group reservoir.
# =====================================================================

_Q146_LM_CTES = """
        WITH toks AS (
          SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w
          FROM documents
        ), bi AS (
          SELECT doc_id, w[i] AS w1, w[i + 1] AS w2
          FROM (SELECT doc_id, w,
                       unnest(generate_series(1, len(w) - 1)) AS i
                FROM toks)
        ), c2 AS (
          SELECT w1, w2, count(*) AS c2 FROM bi GROUP BY w1, w2
        ), c1 AS (
          SELECT w1, count(*) AS c1 FROM bi GROUP BY w1
        ), v AS (
          SELECT count(DISTINCT t) AS v
          FROM (SELECT unnest(w) AS t FROM toks)
        ), sc AS (
          SELECT b.doc_id,
                 CAST(round(ln((c2.c2 + 0.5) / (c1.c1 + 0.5 * v.v)), 4)
                      AS DECIMAL(18,4)) AS lp
          FROM bi b
          JOIN c2 USING (w1, w2)
          JOIN c1 USING (w1)
          CROSS JOIN v
        ), per_doc AS (
          SELECT doc_id, count(*) AS nb, -sum(lp) AS nll
          FROM sc GROUP BY doc_id
        )"""


@_register(
    "q199_doremi_reweight",
    survey="DoReMi-style one-step domain reweighting (Xie et al. 2023 family: per-source excess proxy loss → multiplicative weight update → normalized mixture — the principled successor to temperature mixing q165/UniMax q186)",
    oracle=_Q146_LM_CTES + """
        , per_src AS (
          SELECT d.source, count(*) AS n_docs,
                 CAST(sum(p.nb) AS BIGINT) AS n_bigrams,
                 sum(p.nll) AS src_nll
          FROM per_doc p JOIN documents d USING (doc_id)
          GROUP BY d.source
        ), tot AS (
          SELECT CAST(sum(n_bigrams) AS BIGINT) AS tot_b,
                 sum(src_nll) AS tot_nll
          FROM per_src
        ), w AS (
          SELECT source, n_docs, n_bigrams,
                 CAST(src_nll AS DOUBLE) / n_bigrams AS src_loss,
                 CAST(n_bigrams AS DOUBLE) / tot_b AS base_share,
                 CAST(round(exp(CAST(src_nll AS DOUBLE) / n_bigrams
                                - CAST(tot_nll AS DOUBLE) / tot_b), 4)
                      AS DECIMAL(18,4)) AS mult_d
          FROM per_src CROSS JOIN tot
        )
        SELECT source, n_docs, n_bigrams, src_loss, base_share,
               CAST(mult_d AS DOUBLE) AS mult,
               CAST(CAST(n_bigrams AS DECIMAL(18,0)) * mult_d AS DOUBLE)
                 / CAST(sum(CAST(n_bigrams AS DECIMAL(18,0)) * mult_d)
                        OVER () AS DOUBLE) AS new_weight
        FROM w ORDER BY source
    """,
)
def q199_doremi_reweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One step of DoReMi-style domain reweighting (Xie et al. 2023,
    "Doremi: Optimizing data mixtures speeds up language model
    pretraining" — here the single multiplicative-weights update, not
    the full proxy-model loop): each source's excess proxy loss (mean
    bigram-LM NLL vs the corpus reference, :func:`text.bigram_lm_nll`)
    exponentiates into a multiplier on its baseline token share, and the
    weights renormalize (η = 1). Up-weights the domains the proxy LM
    finds hardest — the principled successor to temperature mixing
    (q165) and UniMax (q186), completing the mixture-planning family.

    Determinism discipline: per-source NLL totals are EXACT decimal sums
    of the q146 per-bigram rounded log-probs; loss and the reference are
    one IEEE divide each of exact operands; exp() rounds once at 4 dp
    (the q146 per-element-transcendental rule); raw weights are exact
    DECIMAL products (n_bigrams × multiplier); the final normalization
    is ONE IEEE divide of two exact decimals. The normalizing sum runs
    as a window over the SOURCE relation — source-cardinality rows by
    construction, never the corpus."""
    cat = Catalog(spark, sf_dir)
    caches: list[DataFrame] = []
    try:
        nll = T.bigram_lm_nll(cat.documents, caches=caches)
        per_src = (nll.join(cat.documents.select("doc_id", "source"),
                            "doc_id")
                   .groupBy("source")
                   .agg(F.count(F.lit(1)).alias("n_docs"),
                        F.sum("n_bigrams").alias("n_bigrams"),
                        F.sum("sum_nll").alias("src_nll")))
        tot = per_src.agg(F.sum("n_bigrams").alias("tot_b"),
                          F.sum("src_nll").alias("tot_nll"))
        j = per_src.crossJoin(F.broadcast(tot))
        loss = F.col("src_nll").cast("double") / F.col("n_bigrams")
        ref = F.col("tot_nll").cast("double") / F.col("tot_b")
        mult_d = F.round(F.exp(loss - ref), 4).cast("decimal(18,4)")
        w = j.select(
            "source", "n_docs", "n_bigrams",
            loss.alias("src_loss"),
            (F.col("n_bigrams").cast("double") / F.col("tot_b"))
            .alias("base_share"),
            mult_d.cast("double").alias("mult"),
            (F.col("n_bigrams").cast("decimal(18,0)") * mult_d)
            .alias("w_raw"))
        tot_w = F.sum("w_raw").over(Window.partitionBy())
        out = (w.select(
            "source", "n_docs", "n_bigrams", "src_loss", "base_share",
            "mult",
            (F.col("w_raw").cast("double") / tot_w.cast("double"))
            .alias("new_weight"))
            .orderBy("source"))
        return out.localCheckpoint(eager=True)
    finally:
        for c in caches:
            c.unpersist()


@_register(
    "q200_filter_agreement",
    survey="quality-filter agreement matrix (pairwise keep-set Jaccard across heuristic gates — the filter-ablation diagnostic run before stacking gates into a pipeline)",
    oracle="""
        -- One corpus pass computes three boolean gates; the 3×3 upper
        -- triangle reduces in a single aggregate (integer keep counts +
        -- pairwise co-keep counts), jaccard = one IEEE divide of exact
        -- ints. All gate predicates compare raw int/int-division
        -- doubles — bit-identical cross-engine.
        WITH g AS (
          SELECT CASE WHEN len(w) >= 40 THEN 1 ELSE 0 END AS ga,
                 CASE WHEN len(list_distinct(w)) / len(w) >= 0.5
                      THEN 1 ELSE 0 END AS gb,
                 CASE WHEN len(list_filter(w, t -> list_contains(
                          ['the','a','an','of','and','or','in','on',
                           'is','are','to'], t))) / len(w) >= 0.10
                      THEN 1 ELSE 0 END AS gc
          FROM (SELECT string_split_regex(lower(text), '\\s+') AS w
                FROM documents)
        ), m AS (
          SELECT CAST(sum(ga) AS BIGINT) AS na,
                 CAST(sum(gb) AS BIGINT) AS nb,
                 CAST(sum(gc) AS BIGINT) AS nc,
                 CAST(sum(ga * gb) AS BIGINT) AS nab,
                 CAST(sum(ga * gc) AS BIGINT) AS nac,
                 CAST(sum(gb * gc) AS BIGINT) AS nbc
          FROM g
        )
        SELECT 'len~diversity' AS pair, na AS n_a, nb AS n_b,
               nab AS n_both,
               nab / CAST(na + nb - nab AS DOUBLE) AS agree_jaccard
        FROM m
        UNION ALL
        SELECT 'len~stopword', na, nc, nac,
               nac / CAST(na + nc - nac AS DOUBLE) FROM m
        UNION ALL
        SELECT 'diversity~stopword', nb, nc, nbc,
               nbc / CAST(nb + nc - nbc AS DOUBLE) FROM m
        ORDER BY pair
    """,
)
def q200_filter_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise agreement (keep-set Jaccard) between three independent
    quality gates — length, lexical diversity, stopword ratio. Stacked
    filters that agree are redundant; ones that disagree reshape the
    corpus in different directions, and this matrix is the standard
    ablation read before composing them (the C4-vs-Gopher-rule
    comparison). Plan: ONE map-side-combined aggregate over the corpus
    computes all six counts (three keeps + three co-keeps); the 3-row
    matrix is a constant-width projection of that single row — no
    joins, no second scan (asserted by the 1-FileScan plan test)."""
    cat = Catalog(spark, sf_dir)
    toks = T.ws_tokens(F.lower(F.col("text")))
    ga = (F.size(toks) >= 40).cast("int")
    gb = (T.distinct_token_ratio(toks, scale=None) >= 0.5).cast("int")
    gc = (T.stopword_ratio(toks, scale=None) >= 0.10).cast("int")
    m = (cat.documents
         .select(ga.alias("ga"), gb.alias("gb"), gc.alias("gc"))
         .agg(F.sum("ga").alias("na"), F.sum("gb").alias("nb"),
              F.sum("gc").alias("nc"),
              F.sum(F.col("ga") * F.col("gb")).alias("nab"),
              F.sum(F.col("ga") * F.col("gc")).alias("nac"),
              F.sum(F.col("gb") * F.col("gc")).alias("nbc")))

    def row(label, a, b, both):
        return F.struct(F.lit(label).alias("pair"),
                        F.col(a).alias("n_a"), F.col(b).alias("n_b"),
                        F.col(both).alias("n_both"))

    pairs = (m.select(F.explode(F.array(
        row("len~diversity", "na", "nb", "nab"),
        row("len~stopword", "na", "nc", "nac"),
        row("diversity~stopword", "nb", "nc", "nbc"))).alias("p"))
        .select("p.pair", "p.n_a", "p.n_b", "p.n_both"))
    return (pairs.select(
        "pair", "n_a", "n_b", "n_both",
        (F.col("n_both")
         / (F.col("n_a") + F.col("n_b") - F.col("n_both")).cast("double"))
        .alias("agree_jaccard"))
        .orderBy("pair"))


@_register(
    "q201_stream_session_windows",
    survey="streaming native session windows (session_window gap merge — the streaming twin of q24's batch lag/cumsum sessionization, drained and certified against the batch SQL)",
    oracle="""
        -- Gap rule twin: session_window('30 minutes') merges an event
        -- whenever its window [ts, ts+gap) OVERLAPS OR TOUCHES the open
        -- session — adjacency merges, so an event at exactly
        -- last_ts + gap continues the session (verified empirically at
        -- sf0.1, where exactly one 1800 s gap exists and Spark merges
        -- it). A new session therefore starts iff the gap is > 1800 s.
        WITH g AS (
          SELECT user_id, ts, event_id,
                 CASE WHEN lag(ts) OVER w IS NULL
                        OR date_diff('second', lag(ts) OVER w, ts) > 1800
                      THEN 1 ELSE 0 END AS new_session
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), s AS (
          SELECT user_id,
                 sum(new_session) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id
                                        ROWS UNBOUNDED PRECEDING) AS sid
          FROM g
        ), per_sess AS (
          SELECT user_id, sid, count(*) AS n
          FROM s GROUP BY user_id, sid
        )
        SELECT user_id, count(*) AS n_sessions,
               CAST(sum(n) AS BIGINT) AS n_events,
               max(n) AS max_session_events
        FROM per_sess GROUP BY user_id ORDER BY user_id
    """,
)
def q201_stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native streaming session windows end-to-end: events flow through
    readStream → ``session_window('30 minutes')`` gap merge
    (:func:`streaming.events.sessionized_counts`) → availableNow drain,
    and the per-user session rollup must equal the batch gap-cumsum
    sessionization SQL — the q62 batch/stream-parity discipline applied
    to the STATEFUL window kind (sessions merge and extend as events
    arrive; tumbling windows never do). State is one open session per
    user, pruned by the watermark at scale."""
    import os

    from .streaming import events as SE

    name = f"q201_sess_{next(_STREAM_SEQ)}"
    stream = SE.read_event_stream_auto(
        spark, os.path.join(sf_dir, "events.parquet"))
    SE.run_available_now(SE.sessionized_counts(stream), name)
    t = spark.table(name)
    return (t.groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_sessions"),
                 F.sum("n_events").alias("n_events"),
                 F.max("n_events").alias("max_session_events"))
            .orderBy("user_id"))


@_register(
    "q202_stream_upsert_latest",
    survey="streaming incremental MERGE keep-latest (foreachBatch upsert into versioned parquet state — the CDC-sink pattern; final state certified against the batch argmax twin)",
    oracle="""
        WITH latest AS (
          SELECT user_id, event_type, value,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY ts DESC, event_id DESC) AS rn
          FROM events)
        SELECT event_type, count(*) AS n_users,
               round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2)
                 AS sum_latest_value
        FROM latest WHERE rn = 1
        GROUP BY event_type ORDER BY event_type
    """,
)
def q202_stream_upsert_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CDC-sink pattern live: stream events through foreachBatch,
    each micro-batch MERGE-upserting its per-user winners (latest by
    (ts, event_id) — a total order, so keep-latest is associative and
    batching-invariant) into a versioned parquet state table
    (:func:`streaming.events.stream_upsert_latest`); the FINAL state's
    per-event-type rollup must equal the batch argmax-per-user twin.
    Extends q48's batch merge and q62's drain discipline to the
    incremental-state sink §2.13 leaves implicit; batching invariance
    itself is pinned by the split-files unit test."""
    import os
    import shutil
    import tempfile

    from .streaming import events as SE

    stream = SE.read_event_stream_auto(
        spark, os.path.join(sf_dir, "events.parquet"))
    state_dir = tempfile.mkdtemp(prefix="q202_state_")
    try:
        final = SE.stream_upsert_latest(stream, state_dir)
        latest = spark.read.parquet(*final)
        # Materialize BEFORE the state dir is reclaimed — the rollup is
        # lazy over the state parquet (ADVICE r10: repeated suite runs
        # were accumulating unbounded /tmp state).
        return (latest.groupBy("event_type")
                .agg(F.count(F.lit(1)).alias("n_users"),
                     F.round(F.sum(F.col("value").cast("decimal(18,2)"))
                             .cast("double"), 2).alias("sum_latest_value"))
                .orderBy("event_type")
                .localCheckpoint(eager=True))
    finally:
        shutil.rmtree(state_dir, ignore_errors=True)


@_register(
    "q203_group_reservoir",
    survey="deterministic fixed-k-per-group reservoir (bijective permutation rank per stratum — the exact-quota stratified sample q54's RNG form cannot certify cross-engine)",
    oracle=f"""
        WITH r AS (
          SELECT source, doc_id,
                 row_number() OVER (
                   PARTITION BY source
                   ORDER BY {sampling._perm_rank_sql('doc_id', 42)},
                            doc_id) AS rn
          FROM documents)
        SELECT source, doc_id FROM r WHERE rn <= 5
        ORDER BY source, doc_id
    """,
)
def q203_group_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly k documents per source, deterministically: order each
    stratum by the bijective scrambled permutation rank
    (:func:`sampling._perm_rank` — NOT the key-monotone knuth-hash high
    bits, the q106 lesson) and keep the first k. The cross-engine-
    certifiable complement to q54's RNG-based stratified sample and the
    per-group analog of q177's global priority sample. Plan: rank ≤ k
    over a window compiles to partial+final WindowGroupLimit — each map
    task forwards at most k rows per group, so low-cardinality strata
    never drag the corpus through few reducers (the q14 plan class,
    asserted in test_plans)."""
    cat = Catalog(spark, sf_dir)
    kept = rel.topk_per_group(
        cat.documents.select("source", "doc_id"), ["source"],
        [sampling._perm_rank("doc_id", 42).asc(), F.col("doc_id").asc()],
        k=5)
    return kept.select("source", "doc_id").orderBy("source", "doc_id")


@_register(
    "q204_stream_quality_gate",
    survey="quality-rule cascade under readStream (the q128 Gopher/C4 gate running on the streaming engine, drained and certified against the batch cascade — scan-speed filters are ingest-time filters)",
    oracle="""
        -- q128's exact cascade, rolled up per (source, first-fail
        -- reason): the streaming drain must reproduce the batch gate
        -- verdict for every document, proven through count + exact
        -- token-sum aggregates.
        WITH t AS (
          SELECT source,
                 string_split_regex(text, '\\s+') AS w,
                 len(string_split_regex(text, '\\s+')) AS n_tokens,
                 len(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))
                   / CAST(len(text) AS DOUBLE) AS punct_r,
                 lang
          FROM documents),
        r AS (
          SELECT source, n_tokens,
                 n_tokens >= 15 AS ok_min_words,
                 n_tokens <= 5000 AS ok_max_words,
                 list_sum(list_transform(w, x -> len(x)))
                   / CAST(n_tokens AS DOUBLE) BETWEEN 2 AND 12
                   AS ok_mean_word_len,
                 punct_r <= 0.30 AS ok_punct,
                 len(list_distinct(w)) / CAST(n_tokens AS DOUBLE) >= 0.30
                   AS ok_diversity,
                 (lang <> 'en' OR
                  len(list_filter(w, x -> list_contains(
                      ['the','a','an','of','and','or','in','on','is',
                       'are','to'], lower(x)))) / CAST(n_tokens AS DOUBLE)
                      >= 0.02) AS ok_stopword
          FROM t)
        SELECT source,
               CASE WHEN NOT ok_min_words THEN 'min_words'
                    WHEN NOT ok_max_words THEN 'max_words'
                    WHEN NOT ok_mean_word_len THEN 'mean_word_len'
                    WHEN NOT ok_punct THEN 'punct'
                    WHEN NOT ok_diversity THEN 'diversity'
                    WHEN NOT ok_stopword THEN 'stopword'
                    ELSE 'pass' END AS reason,
               count(*) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS n_tokens
        FROM r GROUP BY source, reason ORDER BY source, reason
    """,
)
def q204_stream_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The q128 quality cascade running ON THE STREAMING ENGINE: the
    documents file streams through readStream, the IDENTICAL
    ``quality_gate_columns`` expressions evaluate per micro-batch (they
    are stateless scan-speed expressions — that's the point: ingest-time
    filtering needs no second batch pass), a per-(source, reason)
    aggregate drains via availableNow, and the result must equal the
    batch cascade's rollup. Turns the unit-level streaming-twin test
    into a driver-certified row: quality gating composes with streaming
    ingestion with zero semantic drift."""
    import os

    from .streaming import events as SE

    name = f"q204_gate_{next(_STREAM_SEQ)}"
    directory, fname = os.path.split(
        os.path.join(sf_dir, "documents.parquet").rstrip("/"))
    raw = (spark.readStream.format("parquet")
           .schema("doc_id bigint, text string, lang string, "
                   "source string, n_chars bigint")
           .option("pathGlobFilter", fname).load(directory))
    gate = T.quality_gate_columns(F.col("text"), F.col("lang"))
    agged = (raw.select("source", gate["n_tokens"].alias("n_tokens"),
                        gate["reason"].alias("reason"))
             .groupBy("source", "reason")
             .agg(F.count(F.lit(1)).alias("n_docs"),
                  F.sum("n_tokens").alias("n_tokens")))
    SE.run_available_now(agged, name)
    return spark.table(name).orderBy("source", "reason")


@_register(
    "q205_curriculum_interleave",
    survey="curriculum ordering with source-balanced interleave (easy-first round-robin — difficulty rank within source, stratified global order; Bengio et al. 2009 curriculum applied to corpus scheduling)",
    oracle="""
        -- Round-robin curriculum head: rank docs easy-first (n_chars,
        -- doc_id tiebreak) WITHIN each source, keep the first 2 rounds,
        -- global position orders by (round, source) — position 1..20 is
        -- every source's easiest doc, 21..40 the second-easiest.
        WITH r AS (
          SELECT source, doc_id, n_chars,
                 row_number() OVER (PARTITION BY source
                                    ORDER BY n_chars, doc_id) AS rn
          FROM documents)
        SELECT row_number() OVER (ORDER BY rn, source) AS position,
               source, doc_id, n_chars
        FROM r WHERE rn <= 2
        ORDER BY position
    """,
)
def q205_curriculum_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum scheduling head: easy-first (shortest documents, the
    standard length proxy for difficulty) with round-robin interleave
    across sources, so no source front-loads the curriculum — rank
    within source, then order globally by (round, source). Plan: the
    rank ≤ 2 filter compiles to partial+final WindowGroupLimit (each map
    task forwards ≤ 2 rows per source — the corpus never converges on
    the 20 source reducers), and the global position window runs over
    the 2·|sources| surviving rows, bounded by construction. The
    full-corpus variant of this op is the q106-family epoch manifest;
    this query certifies the interleave ORDER itself cross-engine."""
    docs = Catalog(spark, sf_dir).documents.select(
        "source", "doc_id", "n_chars")
    kept = rel.topk_per_group(
        docs, ["source"],
        [F.col("n_chars").asc(), F.col("doc_id").asc()],
        k=2, keep_rank=True, rank_col="rn")
    pos = Window.orderBy(F.col("rn").asc(), F.col("source").asc())
    return (kept.select(
        F.row_number().over(pos).alias("position"),
        "source", "doc_id", "n_chars")
        .orderBy("position"))


@_register(
    "q206_pareto_frontier",
    survey="Pareto-frontier selection (2-D skyline: max quality, min length — the non-dominated quality/cost tradeoff set a selection budget walks)",
    oracle="""
        -- Canonical dominance twin (NOT EXISTS) certifying the engine's
        -- scale-safe staircase construction: a doc is on the frontier
        -- iff no other doc has (quality >=, n_tokens <=) with one
        -- strict. Quality = distinct-token ratio, raw int/int-division
        -- doubles — bit-identical cross-engine.
        WITH s AS (
          SELECT doc_id, source,
                 len(string_split_regex(lower(text), '\\s+')) AS n_tokens,
                 len(list_distinct(string_split_regex(lower(text), '\\s+')))
                   / CAST(len(string_split_regex(lower(text), '\\s+'))
                          AS DOUBLE) AS q
          FROM documents)
        SELECT a.doc_id, a.source, a.n_tokens,
               round(a.q, 4) AS quality
        FROM s a
        WHERE NOT EXISTS (
          SELECT 1 FROM s b
          WHERE b.q >= a.q AND b.n_tokens <= a.n_tokens
            AND (b.q > a.q OR b.n_tokens < a.n_tokens))
        ORDER BY a.n_tokens, a.doc_id
    """,
)
def q206_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-dominated (quality, length) documents — the Pareto set a
    fixed-token selection budget actually chooses from (anything off the
    frontier is beaten by a doc that is both better and cheaper). The
    naive plan is the O(n²) dominance join the ORACLE runs; the engine
    runs the scale-safe staircase: (1) per-n_tokens max quality — one
    map-side-combined agg, (2) the frontier sweep as a running-max
    window over the ≤|distinct lengths| aggregated rows (bounded by the
    length domain, never the corpus), (3) one semi-join back picks every
    doc sitting at a frontier coordinate (coordinate ties are all
    frontier members, matching the dominance definition). Two linear
    shuffles + a K-row window: the n² never materializes on either the
    wire or a reducer."""
    docs = Catalog(spark, sf_dir).documents
    toks = T.ws_tokens(F.lower(F.col("text")))
    s = docs.select(
        "doc_id", "source", F.size(toks).alias("n_tokens"),
        T.distinct_token_ratio(toks, scale=None).alias("q"))
    per_len = s.groupBy("n_tokens").agg(F.max("q").alias("qmax"))
    sweep = Window.orderBy("n_tokens").rowsBetween(
        Window.unboundedPreceding, -1)
    frontier_len = (per_len
                    .withColumn("qprev", F.max("qmax").over(sweep))
                    .filter(F.col("qprev").isNull()
                            | (F.col("qmax") > F.col("qprev")))
                    .select(F.col("n_tokens").alias("_fn"),
                            F.col("qmax").alias("_fq")))
    return (s.join(F.broadcast(frontier_len),
                   (F.col("n_tokens") == F.col("_fn"))
                   & (F.col("q") == F.col("_fq")))
            .select("doc_id", "source", "n_tokens",
                    F.round("q", 4).alias("quality"))
            .orderBy("n_tokens", "doc_id"))


@_register(
    "q207_quantile_normalize",
    survey="per-source quantile normalization of quality scores (percent_rank within source — the calibration step before pooling heterogeneous scorers across crawls; scalable histogram construction certified against the canonical window function)",
    oracle="""
        -- Canonical percent_rank twin certifying the engine's
        -- histogram construction (the q182/q101 discipline: the window
        -- runs over VALUE-DISTINCT rows, never documents).
        WITH s AS (
          SELECT doc_id, source,
                 len(list_distinct(string_split_regex(lower(text), '\\s+')))
                   / CAST(len(string_split_regex(lower(text), '\\s+'))
                          AS DOUBLE) AS q
          FROM documents)
        SELECT doc_id, source, round(q, 4) AS raw_score,
               round(percent_rank() OVER (PARTITION BY source
                                          ORDER BY q), 6) AS pct_rank
        FROM s
        ORDER BY pct_rank DESC, doc_id ASC
        LIMIT 25
    """,
)
def q207_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-normalize a quality score WITHIN each source so scores
    pool across heterogeneous crawls (a 0.6 from a clean crawl and a
    0.6 from a spammy one mean different things; their within-source
    quantiles are comparable). Engine plan — the scalable percent_rank:
    ``pr = |strictly smaller| / (n_src − 1)`` computed from the
    per-(source, score) HISTOGRAM: one map-side-combined count agg, a
    cumulative window over the value-distinct histogram rows (per-source
    distinct score values — bounded by the value domain, never the
    corpus; the q182 atomicity argument), one broadcast join back to
    docs, global top-25 via TakeOrderedAndProject. Ties share a
    quantile, exactly percent_rank's semantics — which is what the
    canonical-window oracle certifies."""
    docs = Catalog(spark, sf_dir).documents
    toks = T.ws_tokens(F.lower(F.col("text")))
    s = docs.select("doc_id", "source",
                    T.distinct_token_ratio(toks, scale=None).alias("q"))
    hist = s.groupBy("source", "q").agg(F.count(F.lit(1)).alias("c"))
    cum = Window.partitionBy("source").orderBy("q").rowsBetween(
        Window.unboundedPreceding, -1)
    tot = Window.partitionBy("source")
    ranked = hist.select(
        "source", "q",
        F.coalesce(F.sum("c").over(cum), F.lit(0)).alias("n_smaller"),
        (F.sum("c").over(tot) - 1).alias("denom"))
    # denom == 0 (a source with exactly one document) must yield 0.0 to
    # match percent_rank's single-row semantics — Spark's 0.0/0 is NaN,
    # which sorts FIRST under desc and would exact-hash-mismatch the
    # oracle (ADVICE r10).
    pr = F.when(F.col("denom") == 0, F.lit(0.0)).otherwise(
        F.col("n_smaller").cast("double") / F.col("denom"))
    return (s.join(F.broadcast(ranked), ["source", "q"])
            .select("doc_id", "source", F.round("q", 4).alias("raw_score"),
                    F.round(pr, 6).alias("pct_rank"))
            .orderBy(F.desc("pct_rank"), F.asc("doc_id")).limit(25))


@_register(
    "q208_source_overlap_matrix",
    survey="cross-source duplicate-flow matrix (which crawls overlap: near-dup pair counts per unordered source pair — the dedup-planning read before merging corpora)",
    oracle="""
        -- q32's inverted-index exact-Jaccard pairs at >= 0.6, rolled up
        -- per unordered source pair. Exact integers end to end.
        WITH sh AS (
          SELECT doc_id AS id,
                 list_distinct(list_transform(
                   range(1, greatest(len(w) - 2, 0) + 1),
                   i -> array_to_string(list_slice(w, i, i + 2), ' ')))
                   AS shingles
          FROM (SELECT doc_id, string_split_regex(text, '\\s+') AS w
                FROM documents)
        ), sizes AS (
          SELECT id, len(shingles) AS n FROM sh
        ), posting AS (
          SELECT id, unnest(shingles) AS g FROM sh
        ), cand AS (
          SELECT p1.id AS a, p2.id AS b, count(*) AS inter
          FROM posting p1 JOIN posting p2
            ON p1.g = p2.g AND p1.id < p2.id
          GROUP BY 1, 2
        ), pairs AS (
          SELECT a, b FROM cand
          JOIN sizes sa ON cand.a = sa.id
          JOIN sizes sb ON cand.b = sb.id
          WHERE round(inter / CAST(sa.n + sb.n - inter AS DOUBLE), 6)
                >= 0.6
        )
        SELECT least(da.source, db.source) AS source_a,
               greatest(da.source, db.source) AS source_b,
               count(*) AS n_pairs,
               count(DISTINCT CASE WHEN da.source <= db.source
                                   THEN p.a ELSE p.b END) AS n_docs_a,
               count(DISTINCT CASE WHEN da.source <= db.source
                                   THEN p.b ELSE p.a END) AS n_docs_b
        FROM pairs p
        JOIN documents da ON p.a = da.doc_id
        JOIN documents db ON p.b = db.doc_id
        GROUP BY 1, 2 ORDER BY n_pairs DESC, source_a, source_b
    """,
)
def q208_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which crawls duplicate which: near-dup pairs (q32's exact
    inverted-index Jaccard at ≥ 0.6 — candidate-bounded, never
    all-pairs) roll up per UNORDERED source pair with the distinct doc
    counts on each side — the read that decides whether merging two
    corpora needs cross-corpus dedup at all, and which pair to dedup
    first. Source labels ride two broadcast-joined doc→source maps;
    the matrix itself is ≤ |sources|² rows."""
    docs = Catalog(spark, sf_dir).documents
    caches: list[DataFrame] = []
    try:
        pairs = dedup.ngram_jaccard_pairs(docs, min_jaccard=0.6,
                                          caches=caches).select("a", "b")
        src = docs.select(F.col("doc_id"), F.col("source"))
        lab = (pairs
               .join(F.broadcast(src.withColumnRenamed("doc_id", "a")
                                 .withColumnRenamed("source", "sa")), "a")
               .join(F.broadcast(src.withColumnRenamed("doc_id", "b")
                                 .withColumnRenamed("source", "sb")), "b"))
        out = (lab.select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
            F.when(F.col("sa") <= F.col("sb"), F.col("a"))
             .otherwise(F.col("b")).alias("da"),
            F.when(F.col("sa") <= F.col("sb"), F.col("b"))
             .otherwise(F.col("a")).alias("db"))
            .groupBy("source_a", "source_b")
            .agg(F.count(F.lit(1)).alias("n_pairs"),
                 F.countDistinct("da").alias("n_docs_a"),
                 F.countDistinct("db").alias("n_docs_b"))
            .orderBy(F.desc("n_pairs"), "source_a", "source_b"))
        return out.localCheckpoint(eager=True)
    finally:
        for c in caches:
            c.unpersist()


# =====================================================================
# Round-11 wave: pipeline observability, privacy/robustness audits,
# streaming rollups (q209-q219)
# =====================================================================

@_register(
    "q209_stream_windowed_topk",
    survey="streaming windowed top-k (tumbling 6 h event-time windows through the real streaming engine, then per-window top-3 event types — the live-dashboard rollup the hourly counts stop short of)",
    oracle="""
        WITH c AS (
          SELECT strftime(time_bucket(INTERVAL '6 hours', ts),
                          '%Y-%m-%d %H:%M:%S') AS window_start,
                 event_type, count(*) AS n_events
          FROM events GROUP BY 1, 2),
        r AS (
          SELECT *, row_number() OVER (PARTITION BY window_start
                     ORDER BY n_events DESC, event_type ASC) AS rnk
          FROM c)
        SELECT window_start, event_type, n_events, rnk
        FROM r WHERE rnk <= 3
        ORDER BY window_start, rnk
    """,
)
def q209_stream_windowed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-window leaderboard on the real streaming engine: events drain
    through readStream → watermark → tumbling 6 h windows
    (:func:`streaming.events.windowed_type_counts` — epoch-aligned, so
    DuckDB's ``time_bucket`` twin lands on identical boundaries) → memory
    sink; the drained rollup then ranks top-3 event types per window
    (count desc, type asc — a total order). Streaming state is
    window×type-bounded and watermark-pruned; the rank runs on the
    already-aggregated sink, never the raw stream."""
    import os

    from .streaming import events as SE

    name = f"q209_topk_{next(_STREAM_SEQ)}"
    stream = SE.read_event_stream_auto(
        spark, os.path.join(sf_dir, "events.parquet"))
    SE.run_available_now(SE.windowed_type_counts(stream, "6 hours"), name)
    w = Window.partitionBy("window_start").orderBy(
        F.desc("n_events"), F.asc("event_type"))
    return (spark.table(name)
            .withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= 3)
            .select(F.date_format("window_start", "yyyy-MM-dd HH:mm:ss")
                    .alias("window_start"),
                    "event_type", "n_events", "rnk")
            .orderBy("window_start", "rnk"))


@_register(
    "q210_k_anonymity",
    survey="net-new k-anonymity privacy audit (quasi-identifier group sizes per source: rows living in groups smaller than k are re-identification risks — the release-gate read before publishing a corpus slice)",
    oracle="""
        WITH g AS (
          SELECT source, lang, n_chars // 256 AS len_bucket,
                 count(*) AS grp_n
          FROM documents GROUP BY 1, 2, 3)
        SELECT source,
               count(*) AS n_groups,
               CAST(sum(grp_n) AS BIGINT) AS n_docs,
               CAST(sum(CASE WHEN grp_n < 5 THEN grp_n ELSE 0 END)
                    AS BIGINT) AS n_docs_at_risk,
               CAST(sum(CASE WHEN grp_n < 5 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_groups_at_risk,
               CAST(min(grp_n) AS BIGINT) AS min_group_size
        FROM g GROUP BY source
        ORDER BY n_docs_at_risk DESC, source
    """,
)
def q210_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the quasi-identifier tuple
    (lang, source, length-bucket): any row whose QI group holds fewer
    than k=5 members is re-identifiable by those attributes alone
    (Sweeney 2002 — public). Two map-side-combined aggregations — QI
    histogram, then a per-source rollup of group-size statistics — so
    nothing row-sized survives the first shuffle; exact integers end to
    end. At 100 TB the QI histogram is bounded by the attribute domain,
    not the corpus."""
    docs = Catalog(spark, sf_dir).documents
    g = (docs.groupBy("source", "lang",
                      F.expr("n_chars div 256").alias("len_bucket"))
         .agg(F.count(F.lit(1)).alias("grp_n")))
    return (g.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_groups"),
                 F.sum("grp_n").alias("n_docs"),
                 F.sum(F.when(F.col("grp_n") < 5, F.col("grp_n"))
                       .otherwise(F.lit(0))).alias("n_docs_at_risk"),
                 F.sum(F.when(F.col("grp_n") < 5, F.lit(1))
                       .otherwise(F.lit(0))).alias("n_groups_at_risk"),
                 F.min("grp_n").alias("min_group_size"))
            .orderBy(F.desc("n_docs_at_risk"), F.asc("source")))


@_register(
    "q211_mad_outliers",
    survey="net-new robust outlier gate (per-source median + MAD over token counts, computed from value-distinct histograms — the heavy-tail-safe length filter where mean/stddev gates break)",
    oracle="""
        WITH s AS (
          SELECT doc_id, source,
                 len(string_split_regex(text, '\\s+')) AS tok
          FROM documents),
        m AS (
          SELECT source, tok,
                 row_number() OVER (PARTITION BY source ORDER BY tok) AS rn,
                 count(*) OVER (PARTITION BY source) AS n
          FROM s),
        med AS (
          SELECT source, min(tok) AS med FROM m
          WHERE rn >= (n + 1) // 2 GROUP BY source),
        d AS (
          SELECT s.source, abs(s.tok - med.med) AS dev
          FROM s JOIN med USING (source)),
        m2 AS (
          SELECT source, dev,
                 row_number() OVER (PARTITION BY source ORDER BY dev) AS rn,
                 count(*) OVER (PARTITION BY source) AS n
          FROM d),
        mad AS (
          SELECT source, min(dev) AS mad FROM m2
          WHERE rn >= (n + 1) // 2 GROUP BY source)
        SELECT s.source, count(*) AS n_docs,
               CAST(min(med.med) AS BIGINT) AS med_tokens,
               CAST(min(mad.mad) AS BIGINT) AS mad_tokens,
               CAST(sum(CASE WHEN s.tok > med.med + 3 * mad.mad
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        FROM s JOIN med USING (source) JOIN mad USING (source)
        GROUP BY s.source ORDER BY s.source
    """,
)
def q211_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-source length gate: lower median + MAD (median absolute
    deviation) over token counts, flagging docs beyond med + 3·MAD — the
    outlier filter that survives the heavy-tailed length distributions
    where mean/stddev gates move with the outliers they should catch.
    Both medians are LOWER medians (the ceil(n/2)-th order statistic) —
    pure integer arithmetic, bit-identical cross-engine. Engine plan: the
    median comes from the per-source (value, count) HISTOGRAM with a
    cumulative window over value-distinct rows (the q207/q182 value-domain
    discipline — the window never sees the corpus), one broadcast join
    back for deviations, then the same histogram trick for the MAD; the
    oracle's row-numbered form is the same order statistic."""
    docs = Catalog(spark, sf_dir).documents
    s = docs.select(
        "doc_id", "source",
        F.size(T.ws_tokens(F.col("text"))).cast("long").alias("tok"))

    def _lower_median(frame: DataFrame, val: str, out: str) -> DataFrame:
        hist = frame.groupBy("source", val).agg(
            F.count(F.lit(1)).alias("c"))
        wcum = (Window.partitionBy("source").orderBy(val)
                .rowsBetween(Window.unboundedPreceding, 0))
        wtot = Window.partitionBy("source")
        h = hist.select("source", F.col(val),
                        F.sum("c").over(wcum).alias("cum"),
                        F.sum("c").over(wtot).alias("n"))
        return (h.filter(F.expr("cum >= (n + 1) div 2"))
                .groupBy("source").agg(F.min(val).alias(out)))

    med = _lower_median(s, "tok", "med")
    d = (s.join(F.broadcast(med), "source")
         .select("source", F.abs(F.col("tok") - F.col("med")).alias("dev")))
    mad = _lower_median(d, "dev", "mad")
    return (s.join(F.broadcast(med), "source")
            .join(F.broadcast(mad), "source")
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.min("med").alias("med_tokens"),
                 F.min("mad").alias("mad_tokens"),
                 F.sum(F.when(F.col("tok") > F.col("med")
                              + 3 * F.col("mad"), F.lit(1))
                       .otherwise(F.lit(0))).alias("n_outliers"))
            .orderBy("source"))


@_register(
    "q212_token_mass_quantiles",
    survey="net-new token-mass length quantiles (per source: the doc length below which 50%/90% of TOKENS sit — the packing/context-budget planning read; doc-count quantiles mislead when long docs carry the mass)",
    oracle="""
        WITH s AS (
          SELECT source, len(string_split_regex(text, '\\s+')) AS tok
          FROM documents),
        h AS (
          SELECT source, tok, count(*) AS c, tok * count(*) AS mass
          FROM s GROUP BY source, tok),
        w AS (
          SELECT source, tok,
                 sum(mass) OVER (PARTITION BY source ORDER BY tok
                                 ROWS UNBOUNDED PRECEDING) AS cum,
                 sum(mass) OVER (PARTITION BY source) AS tot,
                 sum(c) OVER (PARTITION BY source) AS n_docs
          FROM h)
        SELECT source, CAST(min(n_docs) AS BIGINT) AS n_docs,
               CAST(min(tot) AS BIGINT) AS total_tokens,
               CAST(min(CASE WHEN 2 * cum >= tot THEN tok END)
                    AS BIGINT) AS len_p50_mass,
               CAST(min(CASE WHEN 10 * cum >= 9 * tot THEN tok END)
                    AS BIGINT) AS len_p90_mass
        FROM w GROUP BY source ORDER BY source
    """,
)
def q212_token_mass_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-MASS length quantiles per source: the smallest doc length L
    such that docs of length ≤ L hold ≥ 50% (90%) of the source's tokens.
    The planning read for context-window packing — a corpus where 10% of
    docs carry 80% of tokens packs very differently than its doc-count
    median suggests. All integer arithmetic (2·cum ≥ tot instead of a
    float ratio); the cumulative window runs over the per-source
    (length, count) histogram — value-distinct rows, never the corpus
    (q207/q182 discipline)."""
    docs = Catalog(spark, sf_dir).documents
    s = docs.select(
        "source", F.size(T.ws_tokens(F.col("text"))).cast("long").alias("tok"))
    h = (s.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("c"))
         .select("source", "tok", "c",
                 (F.col("tok") * F.col("c")).alias("mass")))
    wcum = (Window.partitionBy("source").orderBy("tok")
            .rowsBetween(Window.unboundedPreceding, 0))
    wtot = Window.partitionBy("source")
    w = h.select("source", "tok",
                 F.sum("mass").over(wcum).alias("cum"),
                 F.sum("mass").over(wtot).alias("tot"),
                 F.sum("c").over(wtot).alias("n_docs"))
    return (w.groupBy("source")
            .agg(F.min("n_docs").alias("n_docs"),
                 F.min("tot").alias("total_tokens"),
                 F.min(F.when(2 * F.col("cum") >= F.col("tot"),
                              F.col("tok"))).alias("len_p50_mass"),
                 F.min(F.when(10 * F.col("cum") >= 9 * F.col("tot"),
                              F.col("tok"))).alias("len_p90_mass"))
            .orderBy("source"))


@_register(
    "q213_dedup_funnel",
    survey="net-new dedup-funnel accounting (docs/tokens/chars surviving each dedup stage — raw → exact-hash → fingerprint — in one report; the pipeline-observability read every dedup run should emit)",
    oracle="""
        WITH s AS (
          SELECT doc_id, n_chars,
                 len(string_split_regex(text, '\\s+')) AS tok,
                 md5(lower(trim(text))) AS h_exact,
                 md5(array_to_string(
                   list_sort(list_distinct(
                     regexp_extract_all(lower(text), '[a-z0-9'']+'))),
                   ' ')) AS h_fp
          FROM documents),
        ex AS (
          SELECT * FROM (
            SELECT *, row_number() OVER (PARTITION BY h_exact
                       ORDER BY doc_id) AS rn FROM s) WHERE rn = 1),
        fp AS (
          SELECT * FROM (
            SELECT *, row_number() OVER (PARTITION BY h_fp
                       ORDER BY doc_id) AS rn2 FROM ex) WHERE rn2 = 1)
        SELECT 0 AS stage, 'raw' AS stage_name, count(*) AS n_docs,
               CAST(sum(tok) AS BIGINT) AS n_tokens,
               CAST(sum(n_chars) AS BIGINT) AS n_chars
        FROM s
        UNION ALL
        SELECT 1, 'exact', count(*), CAST(sum(tok) AS BIGINT),
               CAST(sum(n_chars) AS BIGINT) FROM ex
        UNION ALL
        SELECT 2, 'fingerprint', count(*), CAST(sum(tok) AS BIGINT),
               CAST(sum(n_chars) AS BIGINT) FROM fp
        ORDER BY stage
    """,
)
def q213_dedup_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage-survival accounting for the dedup funnel: raw corpus →
    exact-hash survivors (q30's md5 key, min-doc_id winner) →
    fingerprint survivors (q31's order/duplication-invariant bag key)
    — docs, tokens, and chars at each stage in ONE three-row report.
    The observability artifact a production dedup run ships with its
    output: how much did each tier actually remove, in the unit that
    matters (tokens). Both winner selections are window row_number over
    the hash (map-side WindowGroupLimit-eligible); only (hash, id,
    counts) tuples shuffle — text never does (the q30 discipline)."""
    docs = Catalog(spark, sf_dir).documents
    s = docs.select(
        "doc_id", "n_chars",
        F.size(T.ws_tokens(F.col("text"))).cast("long").alias("tok"),
        F.md5(F.lower(F.trim(F.col("text")))).alias("h_exact"),
        T.content_fingerprint(F.col("text")).alias("h_fp"))
    ex = (s.withColumn("rn", F.row_number().over(
            Window.partitionBy("h_exact").orderBy("doc_id")))
          .filter(F.col("rn") == 1).drop("rn"))
    fp = (ex.withColumn("rn", F.row_number().over(
            Window.partitionBy("h_fp").orderBy("doc_id")))
          .filter(F.col("rn") == 1).drop("rn"))

    def _stats(frame: DataFrame, stage: int, name: str) -> DataFrame:
        return frame.agg(
            F.lit(stage).alias("stage"), F.lit(name).alias("stage_name"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("tok").alias("n_tokens"),
            F.sum("n_chars").alias("n_chars"))

    return (_stats(s, 0, "raw")
            .unionByName(_stats(ex, 1, "exact"))
            .unionByName(_stats(fp, 2, "fingerprint"))
            .orderBy("stage"))


@_register(
    "q214_embedding_dispersion",
    survey="net-new per-label embedding dispersion (mean/min cosine to the exact class centroid + farthest member — the drift/outlier audit over an embedding column; complements q85's centroids)",
    oracle=f"""
        WITH comp AS (
          SELECT label, CAST(unnest(range(len(embedding))) AS INT) AS pos,
                 CAST(unnest(embedding) AS DOUBLE) AS v
          FROM embeddings),
        cent AS (
          SELECT label, pos,
                 round(CAST(sum(CAST(v AS DECIMAL(28,12))) AS DOUBLE)
                       / count(*), 6) AS c
          FROM comp GROUP BY label, pos),
        carr AS (
          SELECT label, list(c ORDER BY pos) AS cv FROM cent GROUP BY label),
        scored AS (
          SELECT e.vec_id, e.label,
                 round({_DUCK_COS.format(a='e.embedding', b='cv')} /
                       nullif(sqrt({_DUCK_COS.format(a='e.embedding',
                                                     b='e.embedding')}) *
                              sqrt({_DUCK_COS.format(a='cv', b='cv')}), 0.0),
                       6) AS cos
          FROM embeddings e JOIN carr USING (label)),
        far AS (
          SELECT label, vec_id AS far_id FROM (
            SELECT *, row_number() OVER (PARTITION BY label
                       ORDER BY cos ASC, vec_id ASC) AS rn
            FROM scored) WHERE rn = 1)
        SELECT s.label, count(*) AS n_vectors,
               CAST(sum(CAST(s.cos AS DECIMAL(18,6))) AS DOUBLE)
                 / count(*) AS mean_cos,
               min(s.cos) AS min_cos,
               min(far.far_id) AS far_id
        FROM scored s JOIN far USING (label)
        GROUP BY s.label ORDER BY s.label
    """,
)
def q214_embedding_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How tight is each embedding class: cosine of every vector to its
    label's EXACT centroid (q85's decimal-exact mean, rounded once at
    6 dp so both engines score against bit-identical centroids), rolled
    up to mean/min cosine + the farthest member per label — the
    domain-drift and mislabeled-outlier audit run before trusting an
    embedding column. Per-cosine rounds once at creation; the mean is
    the exact DECIMAL sum divided once (q157 discipline — never
    re-rounded). Plan: ordinal explode → (label, dim) agg →
    label-cardinality centroid table broadcast back — one corpus scan,
    label×dim-bounded shuffle."""
    emb = Catalog(spark, sf_dir).embeddings
    comp = (emb.select("label", F.posexplode("embedding")
                       .alias("pos", "_c"))
            .select("label", "pos", F.col("_c").cast("double").alias("v")))
    cent = comp.groupBy("label", "pos").agg(
        F.round(F.sum(F.col("v").cast("decimal(28,12)")).cast("double")
                / F.count(F.lit(1)), 6).alias("c"))
    carr = cent.groupBy("label").agg(
        F.transform(F.array_sort(F.collect_list(F.struct("pos", "c"))),
                    lambda s: s["c"]).alias("cv"))
    scored = (emb.join(F.broadcast(carr), "label")
              .select("label", "vec_id",
                      F.round(sim.dot(F.col("embedding"), F.col("cv"))
                              / F.nullif(
                                  F.sqrt(sim.dot(F.col("embedding"),
                                                 F.col("embedding")))
                                  * F.sqrt(sim.dot(F.col("cv"),
                                                   F.col("cv"))),
                                  F.lit(0.0)), 6).alias("cos")))
    far = (scored.withColumn("rn", F.row_number().over(
            Window.partitionBy("label").orderBy(F.asc("cos"),
                                                F.asc("vec_id"))))
           .filter(F.col("rn") == 1)
           .select("label", F.col("vec_id").alias("far_id")))
    return (scored.join(F.broadcast(far), "label")
            .groupBy("label")
            .agg(F.count(F.lit(1)).alias("n_vectors"),
                 (F.sum(F.col("cos").cast("decimal(18,6)")).cast("double")
                  / F.count(F.lit(1))).alias("mean_cos"),
                 F.min("cos").alias("min_cos"),
                 F.min("far_id").alias("far_id"))
            .orderBy("label"))


@_register(
    "q215_stream_modulo_sample",
    survey="streaming deterministic sampling (the cross-engine modulo keep-set applied on the streaming engine: readStream → integer keep predicate → drain; sampled ingestion certified against the identical batch keep-set)",
    oracle=f"""
        SELECT source, count(*) AS n_kept,
               CAST(sum(doc_id) AS BIGINT) AS sum_doc_id,
               CAST(sum(n_chars) AS BIGINT) AS sum_chars
        FROM documents
        WHERE {sampling.modulo_sample_predicate_sql('doc_id', 0.2)}
        GROUP BY source ORDER BY source
    """,
)
def q215_stream_modulo_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled ingestion on the real streaming engine: documents flow
    through readStream → the deterministic modulo keep predicate
    (:func:`sampling.modulo_sample` — pure integer arithmetic, the ONE
    cross-engine-replayable sampler class, q102's convention) → an
    availableNow drain; the drained keep-set must be IDENTICAL to the
    batch predicate's, which is exactly what makes sample-at-ingest
    auditable after the fact. The predicate is stateless scan-speed
    arithmetic — no streaming state at all — so it runs at any rate the
    source sustains."""
    import os

    name = f"q215_sample_{next(_STREAM_SEQ)}"
    docs_path = os.path.join(sf_dir, "documents.parquet")
    schema = spark.read.parquet(docs_path).schema
    directory, fname = os.path.split(docs_path.rstrip("/"))
    stream = (spark.readStream.format("parquet").schema(schema)
              .option("pathGlobFilter", fname).load(directory))
    kept = sampling.modulo_sample(stream, "doc_id", 0.2)
    from .streaming import events as SE
    SE.run_available_now(kept, name, output_mode="append")
    return (spark.table(name)
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_kept"),
                 F.sum("doc_id").alias("sum_doc_id"),
                 F.sum("n_chars").alias("sum_chars"))
            .orderBy("source"))


@_register(
    "q216_gate_ablation",
    survey="net-new quality-gate rule ablation (per rule: total kills and UNIQUE kills — docs only that rule rejects; the marginal-value attribution that decides which gate rules earn their false-positive budget)",
    oracle="""
        WITH t AS (
          SELECT doc_id, lang,
                 string_split_regex(text, '\\s+') AS w,
                 len(string_split_regex(text, '\\s+')) AS n_tokens,
                 len(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))
                   / CAST(len(text) AS DOUBLE) AS punct_r
          FROM documents),
        r AS (
          SELECT doc_id,
                 n_tokens >= 15 AS ok_min_words,
                 n_tokens <= 5000 AS ok_max_words,
                 list_sum(list_transform(w, x -> len(x)))
                   / CAST(n_tokens AS DOUBLE) BETWEEN 2 AND 12
                   AS ok_mean_word_len,
                 punct_r <= 0.30 AS ok_punct,
                 len(list_distinct(w)) / CAST(n_tokens AS DOUBLE) >= 0.30
                   AS ok_diversity,
                 (lang <> 'en' OR
                  len(list_filter(w, x -> list_contains(
                      ['the','a','an','of','and','or','in','on','is','are','to'],
                      lower(x)))) / CAST(n_tokens AS DOUBLE) >= 0.02)
                   AS ok_stopword
          FROM t),
        nf AS (
          SELECT *,
                 (CASE WHEN NOT ok_min_words THEN 1 ELSE 0 END
                  + CASE WHEN NOT ok_max_words THEN 1 ELSE 0 END
                  + CASE WHEN NOT ok_mean_word_len THEN 1 ELSE 0 END
                  + CASE WHEN NOT ok_punct THEN 1 ELSE 0 END
                  + CASE WHEN NOT ok_diversity THEN 1 ELSE 0 END
                  + CASE WHEN NOT ok_stopword THEN 1 ELSE 0 END)
                 AS n_fails
          FROM r),
        u AS (
          SELECT 'min_words' AS rule, NOT ok_min_words AS fail, n_fails FROM nf
          UNION ALL
          SELECT 'max_words', NOT ok_max_words, n_fails FROM nf
          UNION ALL
          SELECT 'mean_word_len', NOT ok_mean_word_len, n_fails FROM nf
          UNION ALL
          SELECT 'punct', NOT ok_punct, n_fails FROM nf
          UNION ALL
          SELECT 'diversity', NOT ok_diversity, n_fails FROM nf
          UNION ALL
          SELECT 'stopword', NOT ok_stopword, n_fails FROM nf)
        SELECT rule, count(*) AS n_docs,
               CAST(sum(CASE WHEN fail THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_kills,
               CAST(sum(CASE WHEN fail AND n_fails = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_unique_kills
        FROM u GROUP BY rule ORDER BY rule
    """,
)
def q216_gate_ablation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which gate rules earn their keep: for every rule of the q128
    Gopher/C4 cascade, total kills AND unique kills (documents ONLY that
    rule rejects — remove the rule and exactly those docs re-enter the
    corpus). The ablation read behind gate tuning: a rule with many
    kills but zero unique kills is redundant; one with many unique
    kills carries real selection pressure. One scan: the rule array
    (:func:`text.quality_gate_columns`'s ``rules``) is projected ONCE
    per row and referenced twice (explode + fail count) so the token
    pipeline never re-evaluates (SCALE.md HOF discipline); the rollup
    is rule-cardinality-bounded."""
    docs = Catalog(spark, sf_dir).documents
    gate = T.quality_gate_columns(F.col("text"), F.col("lang"))
    pre = docs.select(gate["rules"].alias("rules"))
    ex = pre.select(
        F.explode("rules").alias("r"),
        F.size(F.filter(F.col("rules"), lambda r: ~r["ok"]))
         .alias("n_fails"))
    return (ex.groupBy(F.col("r.rule").alias("rule"))
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum(F.when(~F.col("r.ok"), F.lit(1))
                       .otherwise(F.lit(0))).alias("n_kills"),
                 F.sum(F.when((~F.col("r.ok")) & (F.col("n_fails") == 1),
                              F.lit(1))
                       .otherwise(F.lit(0))).alias("n_unique_kills"))
            .orderBy("rule"))


@_register(
    "q217_lang_mix_chisq",
    survey="net-new per-source language-mix chi-square (observed vs corpus-expected lang counts, zero cells included — the mixture-drift detector that flags a crawl whose language balance silently shifted)",
    oracle="""
        WITH c AS (
          SELECT source, lang, count(*) AS o
          FROM documents GROUP BY 1, 2),
        s AS (SELECT source, sum(o) AS ns FROM c GROUP BY 1),
        l AS (SELECT lang, sum(o) AS nl FROM c GROUP BY 1),
        t AS (SELECT sum(o) AS n FROM c),
        x AS (
          SELECT s.source, s.ns,
                 round((coalesce(c.o, 0) - s.ns * l.nl / CAST(t.n AS DOUBLE))
                       * (coalesce(c.o, 0) - s.ns * l.nl / CAST(t.n AS DOUBLE))
                       / (s.ns * l.nl / CAST(t.n AS DOUBLE)), 6) AS term
          FROM s CROSS JOIN l CROSS JOIN t
          LEFT JOIN c ON c.source = s.source AND c.lang = l.lang)
        SELECT source, CAST(min(ns) AS BIGINT) AS n_docs,
               CAST(sum(CAST(term AS DECIMAL(18,6))) AS DOUBLE) AS chi2
        FROM x GROUP BY source ORDER BY source
    """,
)
def q217_lang_mix_chisq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-mixture drift per source: Pearson chi-square of the
    source's observed language counts against the corpus-wide language
    shares, INCLUDING zero cells (a source missing a language entirely
    is exactly the drift worth flagging — the full source×lang grid
    comes from crossing the two marginal relations, never scanning the
    corpus twice). Expected counts are one IEEE divide of exact integer
    products; each term rounds once at 6 dp and sums as exact DECIMAL
    (q146 discipline). Everything after the first count aggregation is
    |sources|×|langs|-sized."""
    docs = Catalog(spark, sf_dir).documents
    c = docs.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("o"))
    s = c.groupBy("source").agg(F.sum("o").alias("ns"))
    lg = c.groupBy("lang").agg(F.sum("o").alias("nl"))
    t = c.agg(F.sum("o").alias("n"))
    e = (F.col("ns") * F.col("nl") / F.col("n"))
    grid = (s.crossJoin(F.broadcast(lg)).crossJoin(F.broadcast(t))
            .join(c, ["source", "lang"], "left")
            .select("source", "ns",
                    F.round((F.coalesce(F.col("o"), F.lit(0)) - e)
                            * (F.coalesce(F.col("o"), F.lit(0)) - e)
                            / e, 6).alias("term")))
    return (grid.groupBy("source")
            .agg(F.min("ns").alias("n_docs"),
                 F.sum(F.col("term").cast("decimal(18,6)")).cast("double")
                 .alias("chi2"))
            .orderBy("source"))


@_register(
    "q218_source_vocab_overlap",
    survey="net-new pairwise source vocabulary Jaccard (distinct-token postings self-join, per-token fan-out bounded by |sources| — the lexical-overlap read behind corpus-merge planning; the token-level complement to q208's document-level matrix)",
    oracle="""
        WITH v AS (
          SELECT DISTINCT source, t FROM (
            SELECT source,
                   unnest(list_distinct(
                     string_split_regex(lower(text), '\\s+'))) AS t
            FROM documents)),
        sz AS (SELECT source, count(*) AS n FROM v GROUP BY 1),
        p AS (
          SELECT a.source AS source_a, b.source AS source_b,
                 count(*) AS inter_cnt
          FROM v a JOIN v b ON a.t = b.t AND a.source < b.source
          GROUP BY 1, 2)
        SELECT source_a, source_b,
               CAST(inter_cnt AS BIGINT) AS inter_cnt,
               CAST(sa.n AS BIGINT) AS vocab_a,
               CAST(sb.n AS BIGINT) AS vocab_b,
               round(inter_cnt
                     / CAST(sa.n + sb.n - inter_cnt AS DOUBLE), 6)
                 AS jaccard
        FROM p
        JOIN sz sa ON source_a = sa.source
        JOIN sz sb ON source_b = sb.source
        ORDER BY jaccard DESC, source_a, source_b
        LIMIT 25
    """,
)
def q218_source_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical overlap between crawls: Jaccard of the per-source DISTINCT
    vocabulary sets for every unordered source pair, top-25. The
    token-level complement to q208's document-level overlap matrix —
    high vocab overlap with low document overlap means same domain,
    different pages (merge freely); both high means recrawl (dedup
    first). Plan: one (source, token)-distinct postings relation (map-
    side-combinable distinct), a self-join whose per-token fan-out is
    bounded by |sources| (≤ C(|sources|,2) pairs per token — never a
    corpus-pair explosion), and a |sources|²-bounded rollup; global
    top-25 via TakeOrderedAndProject."""
    docs = Catalog(spark, sf_dir).documents
    # The postings relation feeds FOUR subtrees (both join sides + two
    # size lookups) whose projections rename columns and break exchange
    # identity — unpersisted, the corpus token explode executes four
    # times (measured: 4 parquet scans, 0 ReusedExchange). It is
    # vocab×sources-bounded, so persist it (learning-16: separate
    # consumers, not a single-action fan-out).
    v = rel.persisted(
        docs.select("source",
                    F.explode(F.array_distinct(
                        T.ws_tokens(F.lower(F.col("text"))))).alias("t"))
        .distinct())
    try:
        sz = v.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
        a = v.select(F.col("source").alias("source_a"), "t")
        b = v.select(F.col("source").alias("source_b"), "t")
        p = (a.join(b, ["t"])
             .filter(F.col("source_a") < F.col("source_b"))
             .groupBy("source_a", "source_b")
             .agg(F.count(F.lit(1)).alias("inter_cnt")))
        out = (p.join(F.broadcast(
                        sz.withColumnRenamed("source", "source_a")
                        .withColumnRenamed("n", "vocab_a")),
                      "source_a")
               .join(F.broadcast(
                        sz.withColumnRenamed("source", "source_b")
                        .withColumnRenamed("n", "vocab_b")),
                     "source_b")
               .select("source_a", "source_b", "inter_cnt", "vocab_a",
                       "vocab_b",
                       F.round(F.col("inter_cnt")
                               / (F.col("vocab_a") + F.col("vocab_b")
                                  - F.col("inter_cnt")).cast("double"), 6)
                       .alias("jaccard"))
               .orderBy(F.desc("jaccard"), "source_a", "source_b")
               .limit(25))
        return out.localCheckpoint(eager=True)
    finally:
        v.unpersist()


@_register(
    "q219_stream_lag_enrich",
    survey="streaming-stateful lag enrichment (applyInPandasWithState carries each user's previous event across micro-batches — the online-delta featurizer; per-user delta rollup certified against the batch lag window)",
    oracle="""
        WITH lagd AS (
          SELECT user_id, value,
                 lag(value) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS prev_value
          FROM events)
        SELECT user_id, count(*) AS n_events,
               CAST(sum(CASE WHEN prev_value IS NOT NULL
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_with_prev,
               round(CAST(sum(CASE WHEN prev_value IS NOT NULL THEN
                 abs(CAST(value AS DECIMAL(18,2))
                     - CAST(prev_value AS DECIMAL(18,2)))
                 ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE), 2)
                 AS sum_abs_delta
        FROM lagd GROUP BY user_id ORDER BY user_id
    """,
)
def q219_stream_lag_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The second stateful-streaming operator on the certified surface
    (q63's applyInPandasWithState sibling): every event is enriched with
    its user's PREVIOUS value (:func:`streaming.events.lag_enrich_stream`
    — state is one (event_id, value) pair per user, carried across
    micro-batches), and the per-user |delta| rollup must equal the batch
    ``lag() OVER (PARTITION BY user_id ORDER BY ts, event_id)`` twin.
    Deltas subtract as exact DECIMAL(18,2) (the fixture's value domain)
    and the per-user sum is exact decimal — aggregation order cannot
    drift it. The certified drain is a single availableNow batch (so the
    stream⇄batch lag equivalence is exact by construction); the
    cross-batch state carry is pinned separately by the 4-file
    maxFilesPerTrigger=1 unit test (test_streaming)."""
    import os

    from .streaming import events as SE

    name = f"q219_lag_{next(_STREAM_SEQ)}"
    stream = SE.read_event_stream_auto(
        spark, os.path.join(sf_dir, "events.parquet"))
    enriched = SE.lag_enrich_stream(stream)
    SE.run_available_now(enriched, name, output_mode="append")
    has_prev = F.col("prev_value").isNotNull()
    delta = F.abs(F.col("value").cast("decimal(18,2)")
                  - F.col("prev_value").cast("decimal(18,2)"))
    return (spark.table(name)
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum(F.when(has_prev, F.lit(1)).otherwise(F.lit(0)))
                 .alias("n_with_prev"),
                 F.round(F.sum(F.when(has_prev, delta)
                               .otherwise(F.lit(0).cast("decimal(18,2)")))
                         .cast("double"), 2).alias("sum_abs_delta"))
            .orderBy("user_id"))


# =====================================================================
# Round-12 wave: event analytics (funnel / cohorts / gap-fill /
# concurrency / paths / trends), corpus economics (vocab coverage,
# Gini), privacy (l-diversity) and embedding compression (q220-q230)
# =====================================================================

@_register(
    "q220_l_diversity",
    survey="net-new l-diversity privacy audit (distinct sensitive values per quasi-identifier group — the release gate k-anonymity alone misses: a large group whose members all share one sensitive value still leaks it; Machanavajjhala et al. 2007)",
    oracle="""
        WITH g AS (
          SELECT source, n_chars // 256 AS len_bucket,
                 count(*) AS grp_n, count(DISTINCT lang) AS l
          FROM documents GROUP BY 1, 2)
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_groups,
               CAST(min(l) AS BIGINT) AS min_l,
               CAST(sum(CASE WHEN l < 3 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_groups_low_l,
               CAST(sum(CASE WHEN l < 3 THEN grp_n ELSE 0 END) AS BIGINT)
                 AS n_docs_at_risk
        FROM g GROUP BY source ORDER BY source
    """,
)
def q220_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit over the q210 quasi-identifier tuple: a QI
    group (source, length-bucket) whose members span fewer than l=3
    distinct sensitive values (lang) leaks the sensitive attribute even
    when the group is k-anonymous — the homogeneity attack k-anonymity
    alone misses. Two map-side-combined aggregations (QI histogram with
    a countDistinct, then a per-source rollup); exact integers end to
    end; the QI relation is attribute-domain-bounded at any corpus
    size."""
    docs = Catalog(spark, sf_dir).documents
    g = (docs.groupBy("source",
                      F.expr("n_chars div 256").alias("len_bucket"))
         .agg(F.count(F.lit(1)).alias("grp_n"),
              F.countDistinct("lang").alias("l")))
    low = F.col("l") < 3
    return (g.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_groups"),
                 F.min("l").alias("min_l"),
                 F.sum(F.when(low, 1).otherwise(0)).alias("n_groups_low_l"),
                 F.sum(F.when(low, F.col("grp_n")).otherwise(0))
                 .alias("n_docs_at_risk"))
            .orderBy("source"))


@_register(
    "q221_event_funnel",
    survey="net-new ordered event funnel (view -> click -> purchase with strictly-increasing first-occurrence times; per-stage user counts + mean hours from the previous stage — the product-analytics conversion read)",
    oracle="""
        WITH t1 AS (
          SELECT user_id, min(ts) AS t1 FROM events
          WHERE event_type = 'view' GROUP BY user_id),
        t2 AS (
          SELECT e.user_id, min(e.ts) AS t2
          FROM events e JOIN t1 USING (user_id)
          WHERE e.event_type = 'click' AND e.ts > t1.t1
          GROUP BY e.user_id),
        t3 AS (
          SELECT e.user_id, min(e.ts) AS t3
          FROM events e JOIN t2 USING (user_id)
          WHERE e.event_type = 'purchase' AND e.ts > t2.t2
          GROUP BY e.user_id),
        d2 AS (SELECT epoch_us(t2.t2) - epoch_us(t1.t1) AS dus
               FROM t2 JOIN t1 USING (user_id)),
        d3 AS (SELECT epoch_us(t3.t3) - epoch_us(t2.t2) AS dus
               FROM t3 JOIN t2 USING (user_id))
        SELECT CAST(1 AS INTEGER) AS stage_idx, 'view' AS stage,
               (SELECT count(*) FROM t1) AS n_users,
               CAST(NULL AS DOUBLE) AS mean_hours_from_prev
        UNION ALL
        SELECT 2, 'click', (SELECT count(*) FROM t2),
               round(CAST((SELECT sum(dus) FROM d2) AS DOUBLE)
                     / (SELECT count(*) FROM d2) / 3600000000.0, 4)
        UNION ALL
        SELECT 3, 'purchase', (SELECT count(*) FROM t3),
               round(CAST((SELECT sum(dus) FROM d3) AS DOUBLE)
                     / (SELECT count(*) FROM d3) / 3600000000.0, 4)
        ORDER BY stage_idx
    """,
)
def q221_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel with TRUE sequenced minima: t1 = first
    'view'; t2 = first 'click' STRICTLY after t1; t3 = first 'purchase'
    strictly after t2. Deliberately distinct from q136's one-aggregation
    funnel, which orders each type's GLOBAL first occurrence (a user
    whose first click precedes their first view never converts there,
    even if they click again later) — q136 is the cheap single-pass
    approximation, this is the exact sequenced rule, and the two
    disagree on exactly the re-occurring-stage users. Adds the
    inter-stage latency read (mean hours from the previous stage) that
    the one-pass form cannot see; q222 (conversion survival) and q230
    (streaming stateful funnel) build on the same sequenced minima. Three user-keyed conditional-min
    aggregations, each joining the previous stage's (user, t) relation
    on its natural key — no window ever sees the event relation
    unpartitioned, and each stage's frame shrinks monotonically.
    Timestamps difference as exact epoch-microsecond integers; the mean
    hours-from-previous-stage is one fixed IEEE expression over exact
    ints, rounded once."""
    ev = Catalog(spark, sf_dir).events
    t1 = (ev.filter(F.col("event_type") == "view")
          .groupBy("user_id").agg(F.min("ts").alias("t1")))
    t2 = (ev.filter(F.col("event_type") == "click")
          .join(t1, "user_id")
          .filter(F.col("ts") > F.col("t1"))
          .groupBy("user_id").agg(F.min("ts").alias("t2")))
    t3 = (ev.filter(F.col("event_type") == "purchase")
          .join(t2, "user_id")
          .filter(F.col("ts") > F.col("t2"))
          .groupBy("user_id").agg(F.min("ts").alias("t3")))

    def _stage(idx, label, users, delta_us):
        n = users.agg(F.count(F.lit(1)).alias("n_users"))
        if delta_us is None:
            return n.select(
                F.lit(idx).cast("int").alias("stage_idx"),
                F.lit(label).alias("stage"), "n_users",
                F.lit(None).cast("double").alias("mean_hours_from_prev"))
        d = delta_us.agg(
            F.sum("dus").alias("s"), F.count(F.lit(1)).alias("n"))
        mean = F.round(F.col("s").cast("double") / F.col("n")
                       / F.lit(3600000000.0), 4)
        return (n.crossJoin(d).select(
            F.lit(idx).cast("int").alias("stage_idx"),
            F.lit(label).alias("stage"), "n_users",
            mean.alias("mean_hours_from_prev")))

    def _us(c):
        # catalog timestamps surface as TIMESTAMP_NTZ; the cast is
        # session-TZ-dependent but the DIFFERENCE cancels the offset
        return F.unix_micros(F.col(c).cast("timestamp"))

    d2 = (t2.join(t1, "user_id")
          .select((_us("t2") - _us("t1")).alias("dus")))
    d3 = (t3.join(t2, "user_id")
          .select((_us("t3") - _us("t2")).alias("dus")))
    return (_stage(1, "view", t1, None)
            .unionByName(_stage(2, "click", t2, d2))
            .unionByName(_stage(3, "purchase", t3, d3))
            .orderBy("stage_idx"))


@_register(
    "q222_survival_curve",
    survey="net-new Kaplan-Meier time-to-conversion survival (product-limit estimator over hours from first view to first qualifying purchase, administratively right-censored at a 72 h follow-up horizon — the churn/latency read the q137 retention triangle cannot express; Kaplan & Meier 1958)",
    oracle="""
        WITH v AS (
          SELECT user_id, min(ts) AS t1 FROM events
          WHERE event_type = 'view' GROUP BY user_id),
        p AS (
          SELECT e.user_id, min(e.ts) AS tp
          FROM events e JOIN v USING (user_id)
          WHERE e.event_type = 'purchase' AND e.ts > v.t1
          GROUP BY e.user_id),
        j AS (
          SELECT v.user_id,
                 (epoch_us(p.tp) - epoch_us(v.t1)) // 3600000000 AS h
          FROM v LEFT JOIN p ON v.user_id = p.user_id),
        d AS (
          SELECT CASE WHEN h IS NOT NULL AND h <= 72 THEN h
                      ELSE 72 END AS t,
                 CASE WHEN h IS NOT NULL AND h <= 72 THEN 1
                      ELSE 0 END AS ev
          FROM j),
        hist AS (
          SELECT t, count(*) AS total, sum(ev) AS deaths
          FROM d GROUP BY t),
        w AS (
          SELECT t, deaths,
                 (SELECT sum(total) FROM hist)
                 - coalesce(sum(total) OVER (ORDER BY t ROWS BETWEEN
                            UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS n_risk
          FROM hist),
        f AS (
          SELECT t, deaths, n_risk,
                 CASE WHEN deaths > 0 AND deaths < n_risk THEN
                   CAST(round(ln(1.0 - CAST(deaths AS DOUBLE)
                                 / CAST(n_risk AS DOUBLE)), 6)
                        AS DECIMAL(18,6)) END AS lnf
          FROM w),
        c AS (
          SELECT t, deaths, n_risk,
                 sum(lnf) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)
                   AS cum
          FROM f)
        SELECT CAST(t AS BIGINT) AS hours,
               CAST(n_risk AS BIGINT) AS n_at_risk,
               CAST(deaths AS BIGINT) AS n_deaths,
               CASE WHEN deaths = n_risk THEN 0.0
                    ELSE round(exp(CAST(coalesce(cum, 0) AS DOUBLE)), 4)
                    END AS survival
        FROM c WHERE deaths > 0 ORDER BY hours
    """,
)
def q222_survival_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier product-limit survival of TIME TO CONVERSION: hours
    from each user's first view to their first strictly-later purchase
    (the q221 sequencing rule), administratively right-censored at a
    72-hour follow-up horizon — users who convert later (or never) are
    censored at 72, not treated as failures at their eventual time.
    Censoring is the point: without it the estimator degenerates to an
    ECDF and slow converters bias the curve.

    Engine shape: two user-keyed conditional-min aggregates (the q221
    funnel joins) -> the (hour, total, deaths) HISTOGRAM -> cumulative
    windows over VALUE-DISTINCT hour rows (follow-up-horizon-bounded,
    at most 73 rows at ANY corpus size — the q211/q212 value-domain
    discipline; no window ever sees users). Durations are exact
    epoch-microsecond integer floors (NOT date_diff('hour'), which
    counts field boundary crossings and disagrees with elapsed time);
    at-risk counts are exact integer suffix sums; each hazard factor's
    ln rounds ONCE at 6 dp and accumulates as exact DECIMAL (the q146
    transcendental rule), so each emitted row is one exp + one round on
    bit-identical operands. A deaths == n_risk terminal row (factor
    ln 0) is emitted as survival 0 directly; SUM skips its NULL factor
    by construction. Deaths-before-censorings at tied times is the
    standard KM convention and holds here because all censoring mass
    sits at the horizon."""
    ev = Catalog(spark, sf_dir).events
    v = (ev.filter(F.col("event_type") == "view")
         .groupBy("user_id").agg(F.min("ts").alias("t1")))
    pu = (ev.filter(F.col("event_type") == "purchase")
          .join(v, "user_id")
          .filter(F.col("ts") > F.col("t1"))
          .groupBy("user_id").agg(F.min("ts").alias("tp")))
    j = (v.join(pu, "user_id", "left")
         .select(F.expr(
             "CAST((unix_micros(CAST(tp AS TIMESTAMP)) - "
             "unix_micros(CAST(t1 AS TIMESTAMP))) div 3600000000 "
             "AS BIGINT)").alias("h")))
    converted = F.col("h").isNotNull() & (F.col("h") <= 72)
    d = j.select(
        F.when(converted, F.col("h")).otherwise(F.lit(72)).alias("t"),
        F.when(converted, 1).otherwise(0).alias("ev"))
    hist = d.groupBy("t").agg(
        F.count(F.lit(1)).alias("total"), F.sum("ev").alias("deaths"))
    tot = hist.agg(F.sum("total").alias("n_users"))
    wcum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    wrun = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    w = (hist.crossJoin(F.broadcast(tot))
         .withColumn("n_risk",
                     F.col("n_users")
                     - F.coalesce(F.sum("total").over(wcum), F.lit(0))))
    lnf = F.when(
        (F.col("deaths") > 0) & (F.col("deaths") < F.col("n_risk")),
        F.round(F.log(F.lit(1.0) - F.col("deaths").cast("double")
                      / F.col("n_risk").cast("double")), 6)
        .cast("decimal(18,6)"))
    c = (w.withColumn("lnf", lnf)
         .withColumn("cum", F.sum("lnf").over(wrun)))
    surv = F.when(F.col("deaths") == F.col("n_risk"), F.lit(0.0))         .otherwise(F.round(F.exp(
            F.coalesce(F.col("cum"), F.lit(0).cast("decimal(18,6)"))
            .cast("double")), 4))
    return (c.filter(F.col("deaths") > 0)
            .select(F.col("t").alias("hours"),
                    F.col("n_risk").cast("long").alias("n_at_risk"),
                    F.col("deaths").cast("long").alias("n_deaths"),
                    surv.alias("survival"))
            .orderBy("hours"))


@_register(
    "q223_embedding_quantization",
    survey="net-new int8 scalar-quantization error audit (per-dimension min-max quantize -> dequantize -> per-label reconstruction error; the vector-store compression planning read beside q117's quantized search)",
    oracle="""
        WITH d AS (
          SELECT label, generate_subscripts(embedding, 1) - 1 AS dim,
                 CAST(unnest(embedding) AS DOUBLE) AS v
          FROM embeddings),
        r AS (SELECT dim, min(v) AS lo, max(v) AS hi FROM d GROUP BY dim),
        q AS (
          SELECT d.label,
                 round(abs(d.v - (r.lo +
                       (CASE WHEN r.hi = r.lo THEN 0.0
                             ELSE floor((d.v - r.lo) / (r.hi - r.lo)
                                        * 127 + 0.5) END)
                       * (r.hi - r.lo) / 127)), 7) AS err
          FROM d JOIN r USING (dim))
        SELECT label, count(*) AS n_values,
               round(CAST(sum(CAST(err AS DECIMAL(18,7))) AS DOUBLE)
                     / count(*), 7) AS mean_abs_err,
               CAST(max(CAST(err AS DECIMAL(18,7))) AS DOUBLE)
                 AS max_abs_err
        FROM q GROUP BY label ORDER BY label
    """,
)
def q223_embedding_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int8 scalar-quantization audit: per-dimension min-max ranges
    (the 64-row dim relation — a broadcast at any corpus size), each
    value quantized to its 0..127 level with floor(x+0.5) (identical
    half-up in both engines, unlike round-to-even library calls),
    dequantized, and the absolute reconstruction error rolled up per
    label. Float32 inputs widen to double EXACTLY, every derived
    expression is a fixed-shape IEEE computation on identical operands,
    and the error rounds once at 7 dp before the exact DECIMAL mean.
    The ordinal explode shuffles on dim (64 keys); everything after the
    range join is label-keyed."""
    emb = Catalog(spark, sf_dir).embeddings
    d = emb.select(
        "label", F.posexplode("embedding").alias("dim", "vf")
    ).select("label", "dim", F.col("vf").cast("double").alias("v"))
    r = d.groupBy("dim").agg(F.min("v").alias("lo"), F.max("v").alias("hi"))
    qv = (F.when(F.col("hi") == F.col("lo"), F.lit(0.0))
          .otherwise(F.floor((F.col("v") - F.col("lo"))
                             / (F.col("hi") - F.col("lo"))
                             * 127 + 0.5).cast("double")))
    err = F.round(
        F.abs(F.col("v") - (F.col("lo")
                            + qv * (F.col("hi") - F.col("lo")) / 127)),
        7).cast("decimal(18,7)")
    e = d.join(F.broadcast(r), "dim").select("label", err.alias("err"))
    return (e.groupBy("label")
            .agg(F.count(F.lit(1)).alias("n_values"),
                 F.round(F.sum("err").cast("double")
                         / F.count(F.lit(1)), 7).alias("mean_abs_err"),
                 F.max("err").cast("double").alias("max_abs_err"))
            .orderBy("label"))


@_register(
    "q224_vocab_coverage",
    survey="net-new vocabulary coverage curve (token mass covered by the top-K frequency-ranked types at K=100/1k/5k — the OOV-rate-vs-vocab-size planning read behind tokenizer sizing; complements q185 Heaps and q180 Zipf)",
    oracle="""
        WITH f AS (
          SELECT t, count(*) AS c FROM (
            SELECT unnest(string_split_regex(lower(text), '\\s+')) AS t
            FROM documents)
          GROUP BY t),
        r AS (SELECT c, row_number() OVER (ORDER BY c DESC, t ASC) AS rnk
              FROM f),
        tot AS (SELECT sum(c) AS total_mass, count(*) AS n_types FROM f),
        ks AS (SELECT unnest([100, 1000, 5000]) AS k),
        cov AS (
          SELECT ks.k,
                 sum(CASE WHEN r.rnk <= ks.k THEN r.c ELSE 0 END)
                   AS covered_mass
          FROM r CROSS JOIN ks GROUP BY ks.k)
        SELECT CAST(cov.k AS INTEGER) AS k,
               CAST(tot.n_types AS BIGINT) AS n_types,
               CAST(cov.covered_mass AS BIGINT) AS covered_mass,
               CAST(tot.total_mass AS BIGINT) AS total_mass,
               round(CAST(cov.covered_mass AS DOUBLE)
                     / CAST(tot.total_mass AS DOUBLE), 6) AS coverage
        FROM cov CROSS JOIN tot ORDER BY k
    """,
)
def q224_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve: what fraction of the corpus token MASS
    the top-K frequency-ranked types cover, at K = 100 / 1000 / 5000 —
    the truncation-OOV tradeoff a tokenizer vocab size is chosen on.
    The frequency rank comes from ``ranks.global_row_numbers`` (range-
    partitioned — the oracle's single-partition row_number never
    executes at corpus scale), and each K's covered mass is a
    CONDITIONAL SUM in one aggregate pass over the vocab relation — no
    cumulative window over the vocabulary exists in the engine plan.
    Coverage is one IEEE divide of exact integers, rounded once."""
    from .operators import ranks

    caches: list[DataFrame] = []
    try:
        docs = Catalog(spark, sf_dir).documents
        freq = (docs.select(F.explode(
            T.ws_tokens(F.lower(F.col("text")))).alias("t"))
            .groupBy("t").agg(F.count(F.lit(1)).alias("c")))
        ranked = ranks.global_row_numbers(
            freq, [F.col("c").desc(), F.col("t").asc()],
            out_col="rnk", caches=caches)
        ks = (100, 1000, 5000)
        row = ranked.agg(
            F.sum("c").alias("total_mass"),
            F.count(F.lit(1)).alias("n_types"),
            *[F.sum(F.when(F.col("rnk") <= k, F.col("c")).otherwise(0))
              .alias(f"c{k}") for k in ks])
        out = (row.selectExpr(
            "n_types", "total_mass",
            "stack(3, 100, c100, 1000, c1000, 5000, c5000) "
            "AS (k, covered_mass)")
            .select(F.col("k").cast("int").alias("k"), "n_types",
                    "covered_mass", "total_mass",
                    F.round(F.col("covered_mass").cast("double")
                            / F.col("total_mass").cast("double"), 6)
                    .alias("coverage"))
            .orderBy("k"))
        return out.localCheckpoint(eager=True)
    finally:
        for c in caches:
            c.unpersist()


@_register(
    "q225_value_trend_slopes",
    survey="net-new grouped OLS trend slopes (per-event-type least-squares slope of value over event-time hours from exact DECIMAL moment sums — the drift detector; the q198 moment discipline applied to time)",
    oracle="""
        WITH b AS (
          SELECT event_type,
                 CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
                      * 24 + EXTRACT(hour FROM ts) AS BIGINT) AS x,
                 CAST(round(value, 4) AS DECIMAL(18,4)) AS y
          FROM events),
        m AS (
          SELECT event_type, count(*) AS n, sum(x) AS sx, sum(x*x) AS sxx,
                 sum(y) AS sy, sum(x*y) AS sxy
          FROM b GROUP BY event_type)
        SELECT event_type, CAST(n AS BIGINT) AS n_events,
               round(CAST(n*sxy - sx*sy AS DOUBLE)
                     / CAST(n*sxx - sx*sx AS DOUBLE), 6) AS slope
        FROM m ORDER BY event_type
    """,
)
def q225_value_trend_slopes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type value drift: the ordinary-least-squares slope of event
    value against event-time (hours since the epoch of the dataset),
    computed from five moment sums in ONE map-side-combined aggregate.
    x is a pure-integer hour index (field-based date arithmetic — no
    timezone semantics); y rounds once at 4 dp and sums as exact
    DECIMAL; the slope is a fixed IEEE expression over exact operands,
    bit-identical cross-engine (the q198 Pearson discipline). The x²
    products are cast to DECIMAL(38) BEFORE the sum (ADVICE r12) — Σx²
    is the moment that overflows int64 first (~10¹² rows × hour² ≈
    10²⁰), and a LongType accumulator would wrap silently before any
    post-aggregation cast could save it; Σx·y already accumulates as
    decimal via y's type promotion, and the closed-form products are
    DECIMAL(38) as well, so every term survives corpus sizes where
    n·Σx² overflows int64."""
    ev = Catalog(spark, sf_dir).events
    x = (F.datediff(F.col("ts").cast("date"),
                    F.lit("2024-01-01").cast("date")) * 24
         + F.hour("ts")).cast("long")
    y = F.round(F.col("value"), 4).cast("decimal(18,4)")
    b = ev.select("event_type", x.alias("x"), y.alias("y"))
    m = b.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x"))
        .alias("sxx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"))
    dec = "decimal(38,4)"
    deci = "decimal(38,0)"
    num = (F.col("n").cast(deci) * F.col("sxy").cast(dec)
           - F.col("sx").cast(deci) * F.col("sy").cast(dec))
    den = (F.col("n").cast(deci) * F.col("sxx").cast(deci)
           - F.col("sx").cast(deci) * F.col("sx").cast(deci))
    return (m.select("event_type", F.col("n").alias("n_events"),
                     F.round(num.cast("double") / den.cast("double"), 6)
                     .alias("slope"))
            .orderBy("event_type"))


@_register(
    "q226_gapfill_hourly",
    survey="net-new gap-filled hourly series audit (dense hour x type grid via sequence explode, zero-filled; silent-hour counts + longest outage run per type — the time-series completeness check dashboards need before trusting a rollup)",
    oracle="""
        WITH e AS (SELECT date_trunc('hour', ts) AS hr, event_type
                   FROM events),
        c AS (SELECT hr, event_type, count(*) AS c FROM e GROUP BY 1, 2),
        b AS (SELECT min(hr) AS lo, max(hr) AS hi FROM e),
        h AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hr
              FROM b),
        t AS (SELECT DISTINCT event_type FROM e),
        g AS (
          SELECT h.hr, t.event_type, coalesce(c.c, 0) AS c,
                 row_number() OVER (PARTITION BY t.event_type
                                    ORDER BY h.hr) AS idx
          FROM h CROSS JOIN t
          LEFT JOIN c ON c.hr = h.hr AND c.event_type = t.event_type),
        gr AS (
          SELECT event_type,
                 idx - row_number() OVER (PARTITION BY event_type
                                          ORDER BY hr) AS grp
          FROM g WHERE c = 0),
        mr AS (
          SELECT event_type, max(cnt) AS max_gap_run FROM (
            SELECT event_type, grp, count(*) AS cnt FROM gr GROUP BY 1, 2)
          GROUP BY 1)
        SELECT g.event_type, count(*) AS n_hours,
               CAST(sum(CASE WHEN g.c = 0 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_gap_hours,
               CAST(coalesce(min(mr.max_gap_run), 0) AS BIGINT)
                 AS max_gap_run,
               CAST(sum(g.c) AS BIGINT) AS n_events
        FROM g LEFT JOIN mr USING (event_type)
        GROUP BY g.event_type ORDER BY g.event_type
    """,
)
def q226_gapfill_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Series-completeness audit: the dense hour×type grid (sequence
    explode of the observed hour range crossed with the type dimension)
    left-joins the hourly counts, zero-fills, and reports silent hours
    plus the LONGEST consecutive outage per type (islands via the
    idx − row_number constant-key trick). Every window runs on the
    GRID relation — hours × types, time-range-bounded, never the event
    stream — and the hourly counts are one map-side-combined aggregate;
    exact integers end to end.

    GRID GENERATION (VERDICT r12 #4): the hour axis comes from
    ``spark.range(n_hours)`` mapped onto timestamps — distributed by
    construction — rather than a sequence-explode of the 1-row bounds
    aggregate, which materializes the whole grid through ONE task
    before any exchange can spread it (free at fixture scale, the
    bottleneck at a multi-year range × many types). The bounds feed a
    1-row ``first()`` probe (driver-metadata class, same as the
    events.py touched-bucket probe) so the range size is known up
    front; the per-type longest-run window still scans n_hours rows
    per type sequentially — inherent to "longest consecutive run",
    bounded by the horizon, never by event volume."""
    ev = Catalog(spark, sf_dir).events.select(
        F.date_trunc("hour", F.col("ts")).alias("hr"), "event_type")
    counts = ev.groupBy("hr", "event_type").agg(
        F.count(F.lit(1)).alias("c"))
    row = ev.agg(F.min("hr").alias("lo"), F.max("hr").alias("hi")).first()
    if row is None or row["lo"] is None:  # empty source: empty report
        return (counts.select("event_type",
                              F.lit(0).cast("long").alias("n_hours"),
                              F.lit(0).cast("long").alias("n_gap_hours"),
                              F.lit(0).cast("long").alias("max_gap_run"),
                              F.lit(0).cast("long").alias("n_events"))
                .limit(0))
    lo, hi = row["lo"], row["hi"]
    n_hours = int((hi - lo).total_seconds()) // 3600 + 1
    # lit(lo) of a naive datetime is TIMESTAMP; the counts' hr is
    # TIMESTAMP_NTZ (date_trunc of the parquet NTZ column). Cast the
    # grid anchor to NTZ so the join key is homogeneous BY TYPE, not
    # merely value-equal under the session's pinned UTC (ADVICE r13).
    hours = spark.range(n_hours).select(
        F.timestamp_add("HOUR", F.col("id").cast("int"),
                        F.lit(lo).cast("timestamp_ntz"))
        .alias("hr"))
    types = ev.select("event_type").distinct()
    w = Window.partitionBy("event_type").orderBy("hr")
    g = (hours.crossJoin(F.broadcast(types))
         .join(counts, ["hr", "event_type"], "left")
         .withColumn("c", F.coalesce(F.col("c"), F.lit(0)))
         .withColumn("idx", F.row_number().over(w)))
    runs = (g.filter(F.col("c") == 0)
            .withColumn("grp", F.col("idx") - F.row_number().over(w))
            .groupBy("event_type", "grp")
            .agg(F.count(F.lit(1)).alias("cnt")))
    mr = runs.groupBy("event_type").agg(F.max("cnt").alias("max_gap_run"))
    return (g.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_hours"),
                 F.sum(F.when(F.col("c") == 0, 1).otherwise(0))
                 .alias("n_gap_hours"),
                 F.sum("c").alias("n_events"))
            .join(mr, "event_type", "left")
            .select("event_type", "n_hours", "n_gap_hours",
                    F.coalesce(F.col("max_gap_run"), F.lit(0))
                    .cast("long").alias("max_gap_run"), "n_events")
            .orderBy("event_type"))


@_register(
    "q227_session_paths",
    survey="net-new session path mining (top-20 within-session event-type trigrams from the q24 gap sessionization — the navigation-pattern read behind UX/funnel design)",
    oracle="""
        WITH m AS (
          SELECT user_id, ts, event_id, event_type,
                 CASE WHEN lag(ts) OVER w IS NULL
                      OR date_diff('second', lag(ts) OVER w, ts) > 1800
                      THEN 1 ELSE 0 END AS ns
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        s AS (
          SELECT user_id, ts, event_id, event_type,
                 sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS sid
          FROM m),
        t AS (
          SELECT event_type || '>' || lead(event_type, 1) OVER w2
                 || '>' || lead(event_type, 2) OVER w2 AS path,
                 lead(event_type, 2) OVER w2 AS third
          FROM s
          WINDOW w2 AS (PARTITION BY user_id, sid ORDER BY ts, event_id))
        SELECT path, count(*) AS cnt
        FROM t WHERE third IS NOT NULL
        GROUP BY path ORDER BY cnt DESC, path ASC LIMIT 20
    """,
)
def q227_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session path mining: q24's gap sessionization (lag + cumulative
    new-session markers over the (ts, event_id) total order), then each
    in-session position emits its forward event-type trigram via two
    leads — the sliding path n-gram, computed by WINDOWS on the
    user-keyed relation, never a self-join. Global top-20 via
    TakeOrderedAndProject with the (count desc, path asc) total
    order."""
    ev = Catalog(spark, sf_dir).events
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    s = (ev.withColumn(
        "ns", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0))
        .withColumn("sid", F.sum("ns").over(
            w.rowsBetween(Window.unboundedPreceding, 0))))
    w2 = Window.partitionBy("user_id", "sid").orderBy("ts", "event_id")
    t = s.select(
        F.concat(F.col("event_type"), F.lit(">"),
                 F.lead("event_type", 1).over(w2), F.lit(">"),
                 F.lead("event_type", 2).over(w2)).alias("path"),
        F.lead("event_type", 2).over(w2).alias("third"))
    paths = (t.filter(F.col("third").isNotNull())
             .groupBy("path").agg(F.count(F.lit(1)).alias("cnt")))
    return rel.global_topn(
        paths, [F.col("cnt").desc(), F.col("path").asc()], 20)


@_register(
    "q228_session_concurrency",
    survey="net-new session concurrency profile (sessions exploded into covered hours -> per-hour live-session counts -> daily peak/active rollup; the interval-to-bins decomposition that replaces an interval self-join)",
    oracle="""
        WITH m AS (
          SELECT user_id, ts, event_id,
                 CASE WHEN lag(ts) OVER w IS NULL
                      OR date_diff('second', lag(ts) OVER w, ts) > 1800
                      THEN 1 ELSE 0 END AS ns
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        s AS (
          SELECT user_id, ts,
                 sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS sid
          FROM m),
        sess AS (SELECT user_id, sid, min(ts) AS st, max(ts) AS en
                 FROM s GROUP BY 1, 2),
        hrs AS (
          SELECT user_id, sid,
                 unnest(generate_series(date_trunc('hour', st),
                                        date_trunc('hour', en),
                                        INTERVAL 1 HOUR)) AS hr
          FROM sess),
        hourly AS (SELECT hr, count(*) AS nconc FROM hrs GROUP BY hr),
        d1 AS (SELECT CAST(hr AS DATE) AS day, max(nconc) AS peak,
                      count(*) AS n_active_hours
               FROM hourly GROUP BY 1),
        d2 AS (SELECT day, count(*) AS n_sessions FROM (
                 SELECT DISTINCT CAST(hr AS DATE) AS day, user_id, sid
                 FROM hrs) GROUP BY day)
        SELECT strftime(d1.day, '%Y-%m-%d') AS day,
               CAST(d1.peak AS BIGINT) AS peak_concurrent,
               CAST(d1.n_active_hours AS BIGINT) AS n_active_hours,
               CAST(d2.n_sessions AS BIGINT) AS n_sessions
        FROM d1 JOIN d2 USING (day) ORDER BY day
    """,
)
def q228_session_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concurrency profile: each session (q24 gap rule) explodes into
    the hours it covers (sequence between its truncated endpoints — the
    interval→bins decomposition, whose fan-out is bounded by session
    duration in hours), live sessions count per hour, and the day rolls
    up peak concurrency, active hours, and distinct sessions touched.
    No interval self-join ever forms; all shuffles are hour- or
    day-keyed after the session aggregation."""
    ev = Catalog(spark, sf_dir).events
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    s = (ev.withColumn(
        "ns", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0))
        .withColumn("sid", F.sum("ns").over(
            w.rowsBetween(Window.unboundedPreceding, 0))))
    sess = s.groupBy("user_id", "sid").agg(
        F.min("ts").alias("st"), F.max("ts").alias("en"))
    hrs = sess.select(
        "user_id", "sid",
        F.explode(F.sequence(F.date_trunc("hour", F.col("st")),
                             F.date_trunc("hour", F.col("en")),
                             F.expr("INTERVAL 1 HOUR"))).alias("hr"))
    hourly = hrs.groupBy("hr").agg(F.count(F.lit(1)).alias("nconc"))
    day = F.date_format(F.col("hr").cast("date"), "yyyy-MM-dd")
    d1 = (hourly.groupBy(day.alias("day"))
          .agg(F.max("nconc").alias("peak_concurrent"),
               F.count(F.lit(1)).alias("n_active_hours")))
    d2 = (hrs.select(day.alias("day"), "user_id", "sid").distinct()
          .groupBy("day").agg(F.count(F.lit(1)).alias("n_sessions")))
    return (d1.join(d2, "day")
            .select("day", F.col("peak_concurrent").cast("long"),
                    F.col("n_active_hours"), F.col("n_sessions"))
            .orderBy("day"))


@_register(
    "q229_token_gini",
    survey="net-new token-mass Gini coefficient per source (inequality of the document length distribution from the value-distinct histogram — the corpus-balance read behind packing and sampling plans)",
    oracle="""
        WITH s AS (
          SELECT source, len(string_split_regex(text, '\\s+')) AS tok
          FROM documents),
        h AS (SELECT source, tok, count(*) AS c FROM s GROUP BY 1, 2),
        w AS (
          SELECT source, tok, c,
                 coalesce(sum(c) OVER (PARTITION BY source ORDER BY tok
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING), 0) AS cumb
          FROM h),
        m AS (
          SELECT source, sum(c) AS n, sum(tok * c) AS s,
                 sum(tok * c * (2 * cumb + c + 1)) AS a2
          FROM w GROUP BY source)
        SELECT source, CAST(n AS BIGINT) AS n_docs,
               CAST(s AS BIGINT) AS total_tokens,
               round(CAST(a2 - (n + 1) * s AS DOUBLE)
                     / CAST(n * s AS DOUBLE), 6) AS gini
        FROM m ORDER BY source
    """,
)
def q229_token_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-mass inequality per source: the Gini coefficient of the
    document length distribution, computed from the per-source
    (length, count) HISTOGRAM with tie-aware average ranks — 2·w̄ for a
    tie group is the exact integer 2·cum_before + c + 1, so the whole
    closed form G = (2Σwx − (n+1)Σx) / (nΣx) is integer arithmetic
    until one final IEEE divide (rounded once). The cumulative window
    runs over VALUE-DISTINCT histogram rows (the q207/q211 value-domain
    discipline), never the corpus; every moment ACCUMULATES in
    DECIMAL(38) — the rank-sum a2 and the token mass Σtok·c both cast
    their products to decimal before the sum (ADVICE r12: a LongType
    accumulator wraps silently, and a post-aggregation cast cannot
    undo that), so the form survives corpus sizes where the rank-sum
    overflows int64. ``total_tokens`` casts back to the BIGINT output
    contract at the end — the token mass itself fits int64 for any
    corpus under ~36 PB of text; only the intermediate rank-sum does
    not."""
    docs = Catalog(spark, sf_dir).documents
    s = docs.select(
        "source", F.size(T.ws_tokens(F.col("text"))).cast("long")
        .alias("tok"))
    h = s.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("c"))
    wcum = (Window.partitionBy("source").orderBy("tok")
            .rowsBetween(Window.unboundedPreceding, -1))
    deci = "decimal(38,0)"
    w = h.withColumn("cumb", F.coalesce(F.sum("c").over(wcum), F.lit(0)))
    a2_term = (F.col("tok").cast(deci) * F.col("c").cast(deci)
               * (2 * F.col("cumb") + F.col("c") + 1).cast(deci))
    m = w.groupBy("source").agg(
        F.sum("c").alias("n"),
        F.sum(F.col("tok").cast(deci) * F.col("c")).alias("s"),
        F.sum(a2_term).alias("a2"))
    num = (F.col("a2")
           - (F.col("n") + 1).cast(deci) * F.col("s").cast(deci))
    den = F.col("n").cast(deci) * F.col("s").cast(deci)
    return (m.select("source", F.col("n").alias("n_docs"),
                     F.col("s").cast("long").alias("total_tokens"),
                     F.round(num.cast("double") / den.cast("double"), 6)
                     .alias("gini"))
            .orderBy("source"))


@_register(
    "q230_stream_funnel_stages",
    survey="net-new streaming stateful funnel (applyInPandasWithState tracks each user's ordered stage-first-occurrence times across micro-batches; the q221 batch funnel run ON the streaming engine — widens the certified stateful surface beside q63/q219)",
    oracle="""
        WITH t1 AS (
          SELECT user_id, min(ts) AS t1 FROM events
          WHERE event_type = 'view' GROUP BY user_id),
        t2 AS (
          SELECT e.user_id, min(e.ts) AS t2
          FROM events e JOIN t1 USING (user_id)
          WHERE e.event_type = 'click' AND e.ts > t1.t1
          GROUP BY e.user_id),
        t3 AS (
          SELECT e.user_id, min(e.ts) AS t3
          FROM events e JOIN t2 USING (user_id)
          WHERE e.event_type = 'purchase' AND e.ts > t2.t2
          GROUP BY e.user_id)
        SELECT CAST(1 AS INTEGER) AS stage_idx, 'view' AS stage,
               (SELECT count(*) FROM t1) AS n_users
        UNION ALL
        SELECT 2, 'click', (SELECT count(*) FROM t2)
        UNION ALL
        SELECT 3, 'purchase', (SELECT count(*) FROM t3)
        ORDER BY stage_idx
    """,
)
def q230_stream_funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The q221 funnel ON the streaming engine: events flow through
    ``applyInPandasWithState`` carrying (t1, t2, t3) first-occurrence
    epoch-micros per user across micro-batches
    (:func:`streaming.events.funnel_stage_stream`); the in-order greedy
    scan computes exactly the batch rule's sequenced minima. The
    emitted per-user stage is MONOTONE across batches, so the certified
    rollup aggregates ``max(stage)`` per user — a batching-invariant —
    and the oracle is the batch funnel itself. Cross-batch carry is
    pinned separately by the 4-file maxFilesPerTrigger=1 unit test."""
    import os

    from .streaming import events as SE

    name = f"q230_funnel_{next(_STREAM_SEQ)}"
    stream = SE.read_event_stream_auto(
        spark, os.path.join(sf_dir, "events.parquet"))
    staged = SE.funnel_stage_stream(stream)
    SE.run_available_now(staged, name, output_mode="append")
    per_user = (spark.table(name).groupBy("user_id")
                .agg(F.max("stage").alias("stage")))
    row = per_user.agg(
        *[F.sum(F.when(F.col("stage") >= k, 1).otherwise(0))
          .cast("long").alias(f"s{k}") for k in (1, 2, 3)])
    labels = F.array(F.lit("view"), F.lit("click"), F.lit("purchase"))
    return (row.selectExpr(
        "stack(3, 1, s1, 2, s2, 3, s3) AS (stage_idx, n_users)")
        .select(F.col("stage_idx").cast("int").alias("stage_idx"),
                F.element_at(labels, F.col("stage_idx")).alias("stage"),
                "n_users")
        .orderBy("stage_idx"))


# =====================================================================
# Round-13 wave (q231-q242): the q53 relational twin, skew salting,
# customer/event analytics depth, robust stats, recursive smoothing
# =====================================================================

@_register(
    "q231_topk_recommend_twin",
    survey="M4/P2 oracle twin of q53 (VERDICT r12 #6): top-k-per-user recommend over a PINNED integer factor table — nested array<struct> construction, the dot-path projection unnest recommend_topk uses, posexplode, broadcast dim join — certified relationally instead of rows-only",
    oracle="""
        WITH u AS (SELECT c_custkey AS user_id FROM customer
                   WHERE c_custkey % 50 = 0),
        s AS (
          SELECT u.user_id, p.p_partkey AS item,
                 ((u.user_id*31+17)%97)*((p.p_partkey*23+19)%89)
               + ((u.user_id*31+34)%97)*((p.p_partkey*23+38)%89)
               + ((u.user_id*31+51)%97)*((p.p_partkey*23+57)%89)
               + ((u.user_id*31+68)%97)*((p.p_partkey*23+76)%89) AS score
          FROM u CROSS JOIN part p),
        r AS (SELECT user_id, item, score,
                     row_number() OVER (PARTITION BY user_id
                                        ORDER BY score DESC, item ASC)
                       AS rnk
              FROM s)
        SELECT r.user_id, CAST(r.rnk AS INTEGER) AS rnk, r.item,
               p.p_name, CAST(r.score AS BIGINT) AS score
        FROM r JOIN part p ON p.p_partkey = r.item
        WHERE r.rnk <= 5 ORDER BY r.user_id, r.rnk
    """,
)
def q231_topk_recommend_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q53's recommend path, certified against an oracle (VERDICT r12
    #6): user×item scores come from a PINNED integer factor table
    (rank-4 factors ``fu[d] = (u·31 + d·17) mod 97``, ``gi[d] = (i·23 +
    d·19) mod 89`` — pure int64 arithmetic, bit-identical cross-engine)
    instead of a seeded ALS fit, so the exact plan surface q53 exercises
    — per-user top-k (WindowGroupLimit), the nested array<struct>
    recommendation shape, the DOT-PATH PROJECTION unnest
    (``recommendations.item``, ml/als.py:recommend_topk's P2 move),
    posexplode back to rows, broadcast item-dim join — gets a full
    rows+schema+hash certificate. Users are a deterministic 2% key
    subset (the q53 user-subset analog; recommendForUserSubset is
    likewise subset×all-items), so the score relation is
    |users|/50 × |items| — bounded the same way q53's is."""
    cat = Catalog(spark, sf_dir)
    users = (cat.customer.select(F.col("c_custkey").alias("user_id"))
             .filter(F.col("user_id") % 50 == 0))
    # The scoring pipeline's width is the ITEM scan's split count — a
    # single small parquet file is ONE split, so the 6M-row score+sort
    # would run in one task regardless of downstream exchanges (the r10
    # serial-scan class). Conditional fan-out: interleaved warm-JVM A/B
    # at sf0.1 measured 4.23 -> 0.84 s min-of-3 (SCALE.md r13); a real
    # parts table has more splits than cores and this is a no-op.
    items = rel.fan_out_small_scan(
        cat.part.select(F.col("p_partkey").alias("item")))
    score = None
    for d in range(1, 5):
        term = (((F.col("user_id") * 31 + d * 17) % 97)
                * ((F.col("item") * 23 + d * 19) % 89))
        score = term if score is None else score + term
    scores = (items.crossJoin(F.broadcast(users))
              .select("user_id", "item", score.cast("long").alias("score")))
    w = Window.partitionBy("user_id").orderBy(
        F.col("score").desc(), F.col("item").asc())
    ranked = (scores.withColumn("rnk", F.row_number().over(w))
              .filter(F.col("rnk") <= 5))
    # the recommendForUserSubset output shape: per-user array<struct>,
    # rank-ordered (sort_array on the rnk-led struct)
    nested = ranked.groupBy("user_id").agg(
        F.sort_array(F.collect_list(F.struct(
            F.col("rnk"), F.col("item"), F.col("score"))))
        .alias("recommendations"))
    # q53's M4/P2 unnest surface: dot-path projection over array<struct>
    lists = nested.select(
        "user_id",
        F.col("recommendations.item").alias("items"),
        F.col("recommendations.score").alias("scores"))
    flat = (lists.select("user_id",
                         F.posexplode(F.arrays_zip("items", "scores")))
            .select("user_id",
                    (F.col("pos") + 1).cast("int").alias("rnk"),
                    F.col("col.items").alias("item"),
                    F.col("col.scores").alias("score")))
    named = rel.broadcast_inner_join(
        flat, cat.part.select(F.col("p_partkey").alias("item"), "p_name"),
        "item")
    return (named.select("user_id", "rnk", "item", "p_name", "score")
            .orderBy("user_id", "rnk"))


@_register(
    "q232_basket_pair_lift",
    survey="net-new market-basket association pairs (co-purchased part pairs per order: support + lift from order-distinct counts — the A-priori first pass as a bounded self-join; classic basket analytics the registry lacked)",
    oracle="""
        WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        pr AS (
          SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS support
          FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey
                            AND a.l_partkey < b.l_partkey
          GROUP BY a.l_partkey, b.l_partkey),
        ic AS (SELECT l_partkey, count(*) AS cnt FROM op
               GROUP BY l_partkey),
        t AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM op)
        SELECT pr.pa, pr.pb, pr.support,
               ia.cnt AS n_a, ib.cnt AS n_b,
               CAST(t.n_orders * pr.support AS DOUBLE)
                 / CAST(ia.cnt * ib.cnt AS DOUBLE) AS lift
        FROM pr JOIN ic ia ON ia.l_partkey = pr.pa
                JOIN ic ib ON ib.l_partkey = pr.pb
                CROSS JOIN t
        WHERE pr.support >= 2
        ORDER BY lift DESC, pa ASC, pb ASC LIMIT 15
    """,
)
def q232_basket_pair_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association pairs: co-purchased (part, part) pairs
    per order with support and lift — the A-priori first pass. The
    self-join runs on the ORDER-DISTINCT (order, part) relation keyed
    by order, so pair fan-out is C(k,2) of the order's item count —
    bounded by basket size, never by corpus size (the same
    bounded-fan-out argument as the CDC overlap operators; at 100 TB
    the shuffle key is l_orderkey and no all-pairs relation ever
    forms). Lift is ONE IEEE divide of exact integer products
    (n·support / n_a·n_b, operands < 2^53), emitted UNROUNDED — a
    single correctly-rounded op is bit-identical cross-engine, so no
    rounding boundary exists (the q241 discipline); the top-15 order
    tiebreaks on the pair itself."""
    li = Catalog(spark, sf_dir).lineitem
    op = li.select("l_orderkey", "l_partkey").distinct()
    pairs = (op.select("l_orderkey", F.col("l_partkey").alias("pa"))
             .join(op.select("l_orderkey",
                             F.col("l_partkey").alias("pb")),
                   "l_orderkey")
             .filter(F.col("pa") < F.col("pb")))
    pr = (pairs.groupBy("pa", "pb")
          .agg(F.count(F.lit(1)).alias("support"))
          .filter(F.col("support") >= 2))
    ic = op.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("cnt"))
    t = op.agg(F.countDistinct("l_orderkey").alias("n_orders"))
    j = (pr.join(ic.select(F.col("l_partkey").alias("pa"),
                           F.col("cnt").alias("n_a")), "pa")
         .join(ic.select(F.col("l_partkey").alias("pb"),
                         F.col("cnt").alias("n_b")), "pb")
         .crossJoin(F.broadcast(t)))
    lift = ((F.col("n_orders") * F.col("support")).cast("double")
            / (F.col("n_a") * F.col("n_b")).cast("double"))
    return (j.select("pa", "pb", "support", "n_a", "n_b",
                     lift.alias("lift"))
            .orderBy(F.col("lift").desc(), F.col("pa").asc(),
                     F.col("pb").asc())
            .limit(15))


@_register(
    "q233_growth_accounting",
    survey="net-new growth accounting (weekly new/retained/resurrected/churned user decomposition from one user-keyed lag/lead window — the week-over-week state-transition read q137's cohort matrix cannot express)",
    oracle="""
        WITH uw AS (
          SELECT DISTINCT user_id,
                 CAST(floor(date_diff('day', DATE '2024-01-01',
                                      CAST(ts AS DATE)) / 7) AS INTEGER)
                   AS wk
          FROM events),
        st AS (
          SELECT user_id, wk,
                 lag(wk) OVER (PARTITION BY user_id ORDER BY wk)
                   AS prev_wk,
                 lead(wk) OVER (PARTITION BY user_id ORDER BY wk)
                   AS next_wk
          FROM uw),
        a AS (
          SELECT wk,
                 sum(CASE WHEN prev_wk IS NULL THEN 1 ELSE 0 END)
                   AS n_new,
                 sum(CASE WHEN prev_wk = wk - 1 THEN 1 ELSE 0 END)
                   AS n_retained,
                 sum(CASE WHEN prev_wk IS NOT NULL AND prev_wk < wk - 1
                          THEN 1 ELSE 0 END) AS n_resurrected
          FROM st GROUP BY wk),
        c AS (
          SELECT wk + 1 AS wk, count(*) AS n_churned
          FROM st WHERE next_wk IS NULL OR next_wk > wk + 1
          GROUP BY wk + 1)
        SELECT a.wk, CAST(a.n_new AS BIGINT) AS n_new,
               CAST(a.n_retained AS BIGINT) AS n_retained,
               CAST(a.n_resurrected AS BIGINT) AS n_resurrected,
               CAST(coalesce(c.n_churned, 0) AS BIGINT) AS n_churned
        FROM a LEFT JOIN c USING (wk) ORDER BY a.wk
    """,
)
def q233_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth accounting: each week's active users decompose into NEW
    (no prior active week), RETAINED (active the immediately preceding
    week) and RESURRECTED (returning after a gap), plus the CHURNED
    count attributed to the week a user went dark (active in w, not in
    w+1 — observable only inside the horizon, so the final week shows
    churn INTO it, never out of it). One user-keyed lag/lead window
    over the DISTINCT (user, week) relation does all four states —
    weeks per user are horizon-bounded, the exchange parallelizes by
    population, and every count is a conditional sum in one hash agg.
    The week index is pure day arithmetic from the dataset epoch (no
    week-start convention). This is the state-transition read the q137
    cohort matrix cannot express: q137 counts cohort activity at
    offsets; this names WHY this week's number moved."""
    ev = Catalog(spark, sf_dir).events
    wk = F.floor(
        F.datediff(F.col("ts").cast("date"),
                   F.lit("2024-01-01").cast("date")) / 7).cast("int")
    uw = ev.select("user_id", wk.alias("wk")).distinct()
    w = Window.partitionBy("user_id").orderBy("wk")
    st = uw.select(
        "wk", F.lag("wk").over(w).alias("prev_wk"),
        F.lead("wk").over(w).alias("next_wk"))
    a = st.groupBy("wk").agg(
        F.sum(F.when(F.col("prev_wk").isNull(), 1).otherwise(0))
        .alias("n_new"),
        F.sum(F.when(F.col("prev_wk") == F.col("wk") - 1, 1)
              .otherwise(0)).alias("n_retained"),
        F.sum(F.when(F.col("prev_wk").isNotNull()
                     & (F.col("prev_wk") < F.col("wk") - 1), 1)
              .otherwise(0)).alias("n_resurrected"))
    c = (st.filter(F.col("next_wk").isNull()
                   | (F.col("next_wk") > F.col("wk") + 1))
         .groupBy((F.col("wk") + 1).alias("wk"))
         .agg(F.count(F.lit(1)).alias("n_churned")))
    return (a.join(c, "wk", "left")
            .select("wk", F.col("n_new").cast("long").alias("n_new"),
                    F.col("n_retained").cast("long").alias("n_retained"),
                    F.col("n_resurrected").cast("long")
                    .alias("n_resurrected"),
                    F.coalesce("n_churned", F.lit(0)).cast("long")
                    .alias("n_churned"))
            .orderBy("wk"))


@_register(
    "q234_rfm_segments",
    survey="net-new RFM segmentation (recency/frequency/monetary quartiles per customer via VALUE-DOMAIN histogram quantiles — the q212 discipline on three axes at once; the marketing-selection read, exact integer quartile assignment)",
    oracle="""
        WITH rfm AS (
          SELECT o_custkey,
                 CAST(date_diff('day', max(o_orderdate),
                                DATE '2002-01-01') AS INTEGER) AS rec_days,
                 count(*) AS freq,
                 sum(CAST(round(o_totalprice, 2) AS DECIMAL(18,2))) AS mon
          FROM orders GROUP BY o_custkey),
        r2 AS (SELECT *, CAST(round(mon, 0) AS BIGINT) AS mon_d FROM rfm),
        rh AS (SELECT rec_days, count(*) AS c FROM r2 GROUP BY rec_days),
        rq AS (SELECT rec_days, CAST(
                 (4 * sum(c) OVER (ORDER BY rec_days ASC
                                   ROWS UNBOUNDED PRECEDING)
                  + sum(c) OVER () - 1) // sum(c) OVER () AS INTEGER)
                 AS r_q FROM rh),
        fh AS (SELECT freq, count(*) AS c FROM r2 GROUP BY freq),
        fq AS (SELECT freq, CAST(
                 (4 * sum(c) OVER (ORDER BY freq DESC
                                   ROWS UNBOUNDED PRECEDING)
                  + sum(c) OVER () - 1) // sum(c) OVER () AS INTEGER)
                 AS f_q FROM fh),
        mh AS (SELECT mon_d, count(*) AS c FROM r2 GROUP BY mon_d),
        mq AS (SELECT mon_d, CAST(
                 (4 * sum(c) OVER (ORDER BY mon_d DESC
                                   ROWS UNBOUNDED PRECEDING)
                  + sum(c) OVER () - 1) // sum(c) OVER () AS INTEGER)
                 AS m_q FROM mh)
        SELECT rq.r_q, fq.f_q, mq.m_q, count(*) AS n_customers,
               round(CAST(sum(r2.mon) AS DOUBLE), 2) AS total_monetary
        FROM r2 JOIN rq USING (rec_days) JOIN fq USING (freq)
                JOIN mq USING (mon_d)
        GROUP BY rq.r_q, fq.f_q, mq.m_q
        ORDER BY r_q, f_q, m_q
    """,
)
def q234_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation with exact, scale-safe quartiles: per customer
    recency (days from the post-horizon as-of date to the last order),
    frequency (order count), monetary (exact decimal spend); each axis
    gets a quartile from its VALUE-DOMAIN histogram — cumulative count
    over value-distinct rows, quartile = ceil(4·rank_max/n) in pure
    integer arithmetic ((4·cum + n − 1) div n), ties sharing a value
    share a quartile BY CONSTRUCTION (ntile's equal-size buckets split
    ties nondeterministically across engines; value-domain quartiles
    cannot). Never a global row sort: the only ordered structures are
    the three histograms (recency ≤ date domain, frequency ≤ max order
    count, monetary over DOLLAR-rounded spend — each bounded by the
    value domain, not the customer count). Quartile 1 = best (most
    recent / most frequent / highest spend)."""
    o = Catalog(spark, sf_dir).orders
    rfm = o.groupBy("o_custkey").agg(
        F.datediff(F.lit("2002-01-01").cast("date"),
                   F.max("o_orderdate")).cast("int").alias("rec_days"),
        F.count(F.lit(1)).alias("freq"),
        F.sum(F.round("o_totalprice", 2).cast("decimal(18,2)"))
        .alias("mon"))
    rfm = rfm.withColumn("mon_d", F.round("mon", 0).cast("long"))

    def vquart(col: str, alias: str, asc: bool) -> DataFrame:
        hist = rfm.groupBy(col).agg(F.count(F.lit(1)).alias("c"))
        order = F.col(col).asc() if asc else F.col(col).desc()
        wc = Window.orderBy(order).rowsBetween(
            Window.unboundedPreceding, 0)
        wt = Window.orderBy(order).rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing)
        return (hist.select(col, F.sum("c").over(wc).alias("cum"),
                            F.sum("c").over(wt).alias("n"))
                .select(col, F.expr("(4*cum + n - 1) div n")
                        .cast("int").alias(alias)))

    seg = (rfm.join(vquart("rec_days", "r_q", asc=True), "rec_days")
           .join(vquart("freq", "f_q", asc=False), "freq")
           .join(vquart("mon_d", "m_q", asc=False), "mon_d"))
    return (seg.groupBy("r_q", "f_q", "m_q")
            .agg(F.count(F.lit(1)).alias("n_customers"),
                 F.round(F.sum("mon").cast("double"), 2)
                 .alias("total_monetary"))
            .orderBy("r_q", "f_q", "m_q"))


@_register(
    "q235_referential_audit",
    survey="net-new referential-integrity audit (anti-join orphan checks across the star schema + an exact-decimal totalprice reconciliation — the J4 surface in anger as a data-quality gate; every warehouse runs this before trusting a join)",
    oracle="""
        WITH li_tot AS (
          SELECT l_orderkey,
                 sum(CAST(round(l_extendedprice, 2) AS DECIMAL(18,2))
                     * (1 - CAST(round(l_discount, 2) AS DECIMAL(18,2)))
                     * (1 + CAST(round(l_tax, 2) AS DECIMAL(18,2))))
                   AS li_total
          FROM lineitem GROUP BY l_orderkey)
        SELECT 'childless_orders' AS check_name,
               (SELECT count(*) FROM orders o WHERE NOT EXISTS
                 (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey)) AS n_violations,
               (SELECT count(*) FROM orders) AS n_checked
        UNION ALL
        SELECT 'orphan_lineitems',
               (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
                 (SELECT 1 FROM orders o
                  WHERE o.o_orderkey = l.l_orderkey)),
               (SELECT count(*) FROM lineitem)
        UNION ALL
        SELECT 'orphan_order_custkey',
               (SELECT count(*) FROM orders o WHERE NOT EXISTS
                 (SELECT 1 FROM customer c
                  WHERE c.c_custkey = o.o_custkey)),
               (SELECT count(*) FROM orders)
        UNION ALL
        SELECT 'totalprice_mismatch',
               (SELECT count(*) FROM orders o JOIN li_tot t
                  ON t.l_orderkey = o.o_orderkey
                WHERE abs(CAST(round(o.o_totalprice, 2) AS DECIMAL(18,2))
                          - t.li_total) > 0.01),
               (SELECT count(*) FROM orders o JOIN li_tot t
                  ON t.l_orderkey = o.o_orderkey)
        ORDER BY check_name
    """,
)
def q235_referential_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-schema integrity audit, one row per check: orders with no
    lineitems, lineitems with no order, orders pointing at a missing
    customer (all LEFT-ANTI joins — the J4 rewrite at audit scale,
    where the collect-to-driver set the reference used would be the
    anti-pattern), plus an EXACT-DECIMAL reconciliation of
    ``o_totalprice`` against Σ extprice·(1−disc)·(1+tax) — every
    operand rounds once at 2 dp and multiplies as decimal, so the
    >0.01 violation predicate can never flip on float noise between
    engines. Checks are independent single-row aggregates crossJoined
    to their denominators (1-row × 1-row frames) and unioned — the
    whole audit is four parallel scans, no driver-side counting.
    Extends q99's one-row quality report: q99 counts lineitem orphans/
    nulls/dup-keys in one wide row; this is the long-format audit over
    the whole star (childless orders, missing customers) plus the
    reconciliation check q99 lacks — the one that actually fires on
    the fixture (o_totalprice disagrees with its lineitem recompute on
    most orders, an intentional synthetic-data property worth
    asserting rather than discovering)."""
    cat = Catalog(spark, sf_dir)
    li, od, cu = cat.lineitem, cat.orders, cat.customer
    dec = "decimal(18,2)"
    one = F.lit(1).cast(dec)

    def check(name: str, viol: DataFrame, total: DataFrame) -> DataFrame:
        return (viol.agg(F.count(F.lit(1)).alias("n_violations"))
                .crossJoin(total)
                .select(F.lit(name).alias("check_name"), "n_violations",
                        "n_checked"))

    n_orders = od.agg(F.count(F.lit(1)).alias("n_checked"))
    n_items = li.agg(F.count(F.lit(1)).alias("n_checked"))
    li_keys = li.select(F.col("l_orderkey").alias("o_orderkey")).distinct()
    c1 = check("childless_orders",
               rel.anti_join(od, li_keys, "o_orderkey"), n_orders)
    c2 = check("orphan_lineitems",
               rel.anti_join(li, od.select(F.col("o_orderkey")
                                           .alias("l_orderkey")),
                             "l_orderkey"), n_items)
    c3 = check("orphan_order_custkey",
               rel.anti_join(od, cu.select(F.col("c_custkey")
                                           .alias("o_custkey")),
                             "o_custkey"), n_orders)
    li_tot = li.groupBy("l_orderkey").agg(
        F.sum(F.round("l_extendedprice", 2).cast(dec)
              * (one - F.round("l_discount", 2).cast(dec))
              * (one + F.round("l_tax", 2).cast(dec))).alias("li_total"))
    matched = od.join(li_tot, od.o_orderkey == li_tot.l_orderkey)
    c4 = check(
        "totalprice_mismatch",
        matched.filter(
            F.abs(F.round("o_totalprice", 2).cast(dec)
                  - F.col("li_total")) > F.lit(0.01).cast(dec)),
        matched.agg(F.count(F.lit(1)).alias("n_checked")))
    return (c1.unionByName(c2).unionByName(c3).unionByName(c4)
            .orderBy("check_name"))


@_register(
    "q236_residual_outlier_hours",
    survey="net-new seasonal-baseline residual outliers (per event-type hour-of-day slots: which calendar hours deviate most from their slot's mean load — the monitoring read behind 'traffic looked wrong Tuesday 3pm'; PURE-INTEGER scaled residuals, no division anywhere)",
    oracle="""
        WITH c AS (
          SELECT event_type, date_trunc('hour', ts) AS hr, count(*) AS cnt
          FROM events GROUP BY event_type, date_trunc('hour', ts)),
        c2 AS (SELECT event_type, hr, cnt,
                      EXTRACT(hour FROM hr) AS hod FROM c),
        s AS (SELECT event_type, hod, count(*) AS slot_cells,
                     sum(cnt) AS slot_total
              FROM c2 GROUP BY event_type, hod)
        SELECT c2.event_type, c2.hr, c2.cnt,
               CAST(s.slot_cells AS BIGINT) AS slot_cells,
               CAST(s.slot_total AS BIGINT) AS slot_total,
               CAST(c2.cnt * s.slot_cells - s.slot_total AS BIGINT)
                 AS dev_scaled
        FROM c2 JOIN s USING (event_type, hod)
        ORDER BY abs(c2.cnt * s.slot_cells - s.slot_total) DESC,
                 c2.event_type, c2.hr
        LIMIT 10
    """,
)
def q236_residual_outlier_hours(spark: SparkSession, sf_dir: str
                                ) -> DataFrame:
    """Seasonality-aware load outliers: hourly counts per type, a
    hour-of-day baseline per (type, slot), and the top-10 calendar
    hours by |scaled residual| — where the residual is the PURE INTEGER
    ``cnt·slot_cells − slot_total`` (the sign of cnt − slot_mean times
    the slot size), so no division, no rounding, no cross-engine float
    boundary anywhere; the global top-10 is fully tiebroken
    (|dev| desc, type, hour). Both aggregates are map-side combined
    over the (type, hour) cell relation — horizon-bounded, never the
    event stream."""
    ev = Catalog(spark, sf_dir).events
    c = (ev.select(F.date_trunc("hour", F.col("ts")).alias("hr"),
                   "event_type")
         .groupBy("event_type", "hr").agg(F.count(F.lit(1)).alias("cnt"))
         .withColumn("hod", F.hour("hr")))
    s = c.groupBy("event_type", "hod").agg(
        F.count(F.lit(1)).alias("slot_cells"),
        F.sum("cnt").alias("slot_total"))
    j = c.join(s, ["event_type", "hod"])
    dev = F.col("cnt") * F.col("slot_cells") - F.col("slot_total")
    return (j.select("event_type", "hr", "cnt", "slot_cells",
                     "slot_total", dev.alias("dev_scaled"))
            .orderBy(F.abs(F.col("dev_scaled")).desc(), "event_type",
                     "hr")
            .limit(10))


@_register(
    "q237_last_touch_attribution",
    survey="net-new last-touch revenue attribution (each purchase's value credited to the user's most recent STRICTLY-prior non-purchase event type — the marketing-attribution read; last(ignorenulls) over an unbounded-preceding frame, the W3 surface in anger)",
    oracle="""
        WITH t AS (
          SELECT user_id, event_type, value,
                 last_value(CASE WHEN event_type <> 'purchase'
                                 THEN event_type END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND 1 PRECEDING) AS touch
          FROM events)
        SELECT coalesce(touch, 'none') AS touch,
               count(*) AS n_purchases,
               round(CAST(sum(CAST(round(value, 2) AS DECIMAL(18,2)))
                          AS DOUBLE), 2) AS attributed_value
        FROM t WHERE event_type = 'purchase'
        GROUP BY coalesce(touch, 'none') ORDER BY touch
    """,
)
def q237_last_touch_attribution(spark: SparkSession, sf_dir: str
                                ) -> DataFrame:
    """Last-touch attribution: every purchase credits its (2 dp exact
    decimal) value to the most recent strictly-prior non-purchase
    event type of the same user — ``last(..., ignorenulls=True)`` over
    an unbounded-preceding/−1 frame ordered by (ts, event_id), the
    deterministic total order every stateful operator here uses. A
    purchase with no prior touch lands in 'none' (kept visible — the
    attribution gap is itself the metric). One user-keyed exchange
    feeds the window; the rollup is five rows."""
    ev = Catalog(spark, sf_dir).events
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    touch = F.last(
        F.when(F.col("event_type") != "purchase", F.col("event_type")),
        ignorenulls=True).over(w)
    p = (ev.withColumn("touch", touch)
         .filter(F.col("event_type") == "purchase"))
    return (p.groupBy(F.coalesce("touch", F.lit("none")).alias("touch"))
            .agg(F.count(F.lit(1)).alias("n_purchases"),
                 F.round(F.sum(F.round("value", 2).cast("decimal(18,2)"))
                         .cast("double"), 2).alias("attributed_value"))
            .orderBy("touch"))


@_register(
    "q238_interarrival_burstiness",
    survey="net-new inter-arrival burstiness profile (per event type: mean PER-USER gap, coefficient of variation, and the Goh-Barabasi burstiness index (sd-mean)/(sd+mean) from exact DECIMAL(38) moment sums — Poisson-vs-bursty arrival diagnosis in ONE map-side-combined aggregate over a (type,user)-keyed window)",
    oracle="""
        WITH g AS (
          SELECT event_type,
                 epoch_us(ts) - lag(epoch_us(ts))
                   OVER (PARTITION BY event_type, user_id
                         ORDER BY ts, event_id) AS gap_us
          FROM events),
        m AS (
          SELECT event_type, count(*) AS n,
                 sum(CAST(gap_us AS DECIMAL(38,0))) AS s1,
                 sum(CAST(gap_us AS DECIMAL(38,0)) * gap_us) AS s2
          FROM g WHERE gap_us IS NOT NULL GROUP BY event_type)
        SELECT event_type, CAST(n AS BIGINT) AS n_gaps,
               round(CAST(s1 AS DOUBLE) / (n * 1000000.0), 6)
                 AS mean_gap_s,
               round(sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE)
                          / CAST(CAST(n AS DECIMAL(38,0)) * (n - 1) AS DOUBLE))
                     / (CAST(s1 AS DOUBLE) / n), 6) AS cv,
               round((sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE)
                           / CAST(CAST(n AS DECIMAL(38,0)) * (n - 1) AS DOUBLE))
                      - CAST(s1 AS DOUBLE) / n)
                     / (sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE)
                             / CAST(CAST(n AS DECIMAL(38,0)) * (n - 1) AS DOUBLE))
                        + CAST(s1 AS DOUBLE) / n), 6) AS burstiness
        FROM m ORDER BY event_type
    """,
)
def q238_interarrival_burstiness(spark: SparkSession, sf_dir: str
                                 ) -> DataFrame:
    """Arrival-process diagnosis per type: PER-USER consecutive-event
    gaps (epoch-microsecond integers over the (ts, event_id) total
    order, windowed by (event_type, user_id) — user-keyed so the
    exchange parallelizes by population, never by the 5-value type
    domain: a type-only window would run 100 TB through five tasks)
    feed exact DECIMAL(38) moment sums — gap² would overflow int64 at
    month-scale gaps, so the products cast to decimal BEFORE the sum
    (the q225/q229 accumulator discipline) — and the mean/CV/Goh-
    Barabási burstiness index come out as fixed IEEE expressions over
    exact operands (correctly-rounded divide/sqrt — bit-identical
    cross-engine), rounded once. B ≈ −1 periodic, 0 Poisson, → 1
    bursty: the ingest-planning read for sessionization and watermark
    sizing. One window pass + one map-side-combined aggregate."""
    ev = Catalog(spark, sf_dir).events
    w = Window.partitionBy("event_type", "user_id").orderBy(
        "ts", "event_id")
    # events.ts loads as TIMESTAMP_NTZ; unix_micros needs TIMESTAMP —
    # the session pins UTC, so the cast is value-preserving (q74 note).
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    g = (ev.select("event_type", (us - F.lag(us).over(w)).alias("gap_us"))
         .filter(F.col("gap_us").isNotNull()))
    deci = "decimal(38,0)"
    m = g.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("gap_us").cast(deci)).alias("s1"),
        F.sum(F.col("gap_us").cast(deci) * F.col("gap_us")).alias("s2"))
    n, s1, s2 = F.col("n"), F.col("s1"), F.col("s2")
    mean_us = s1.cast("double") / n
    # n*(n-1) in decimal too: int64 would overflow at n ≈ 3.04e9 —
    # below the 10^12-gap scale the docstring claims safe (ADVICE r13).
    var_us2 = ((n.cast(deci) * s2 - s1 * s1).cast("double")
               / (n.cast(deci) * (n - 1)).cast("double"))
    sd = F.sqrt(var_us2)
    return (m.select(
        "event_type", n.alias("n_gaps"),
        F.round(s1.cast("double") / (n * F.lit(1000000.0)), 6)
        .alias("mean_gap_s"),
        F.round(sd / mean_us, 6).alias("cv"),
        F.round((sd - mean_us) / (sd + mean_us), 6).alias("burstiness"))
        .orderBy("event_type"))


@_register(
    "q239_winsorized_stats",
    survey="net-new winsorized robust mean (per event type: clamp values to exact p10/p90 VALUE-DOMAIN cutoffs, then the exact-decimal mean — the outlier-robust monitoring statistic; the q212 histogram-quantile discipline feeding a clamp)",
    oracle="""
        WITH s AS (
          SELECT event_type,
                 CAST(round(value, 2) AS DECIMAL(18,2)) AS v
          FROM events),
        h AS (SELECT event_type, v, count(*) AS c FROM s
              GROUP BY event_type, v),
        w AS (
          SELECT event_type, v,
                 sum(c) OVER (PARTITION BY event_type ORDER BY v
                              ROWS UNBOUNDED PRECEDING) AS cum,
                 sum(c) OVER (PARTITION BY event_type) AS n
          FROM h),
        cuts AS (
          SELECT event_type,
                 min(CASE WHEN 10 * cum >= n THEN v END) AS p10_cut,
                 min(CASE WHEN 10 * cum >= 9 * n THEN v END) AS p90_cut
          FROM w GROUP BY event_type)
        SELECT s.event_type, count(*) AS n_events,
               round(CAST(min(cuts.p10_cut) AS DOUBLE), 2) AS p10_cut,
               round(CAST(min(cuts.p90_cut) AS DOUBLE), 2) AS p90_cut,
               round(CAST(sum(least(greatest(s.v, cuts.p10_cut),
                                    cuts.p90_cut)) AS DOUBLE)
                     / count(*), 6) AS winsorized_mean
        FROM s JOIN cuts USING (event_type)
        GROUP BY s.event_type ORDER BY event_type
    """,
)
def q239_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean per type: exact p10/p90 cutoffs from the
    VALUE-DOMAIN histogram (cumulative counts over value-distinct 2 dp
    rows, integer threshold predicates — the q212 mass-quantile
    discipline), values clamped to the cutoffs as exact decimals
    (least/greatest on decimal — no float compare), and the robust mean
    as one decimal sum with a single rounded IEEE divide. The cutoff
    relation is |types| rows (broadcast); the histogram window runs
    over the bounded 2 dp value domain, never the event stream."""
    ev = Catalog(spark, sf_dir).events
    s = ev.select("event_type",
                  F.round("value", 2).cast("decimal(18,2)").alias("v"))
    h = s.groupBy("event_type", "v").agg(F.count(F.lit(1)).alias("c"))
    wc = (Window.partitionBy("event_type").orderBy("v")
          .rowsBetween(Window.unboundedPreceding, 0))
    wt = Window.partitionBy("event_type")
    ww = h.select("event_type", "v",
                  F.sum("c").over(wc).alias("cum"),
                  F.sum("c").over(wt).alias("n"))
    cuts = ww.groupBy("event_type").agg(
        F.min(F.when(10 * F.col("cum") >= F.col("n"), F.col("v")))
        .alias("p10_cut"),
        F.min(F.when(10 * F.col("cum") >= 9 * F.col("n"), F.col("v")))
        .alias("p90_cut"))
    j = s.join(F.broadcast(cuts), "event_type")
    clamped = F.least(F.greatest(F.col("v"), F.col("p10_cut")),
                      F.col("p90_cut"))
    return (j.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.round(F.min("p10_cut").cast("double"), 2)
                 .alias("p10_cut"),
                 F.round(F.min("p90_cut").cast("double"), 2)
                 .alias("p90_cut"),
                 F.round(F.sum(clamped).cast("double")
                         / F.count(F.lit(1)), 6)
                 .alias("winsorized_mean"))
            .orderBy("event_type"))


@_register(
    "q240_weekly_top_movers",
    survey="net-new week-over-week revenue movers (per-part weekly exact-decimal revenue, lag delta vs the previous ACTIVE week, global top-15 by swing — the trend-alert read; part-keyed window, fully parallel)",
    oracle="""
        WITH wr AS (
          SELECT l_partkey AS part,
                 CAST(floor(date_diff('day', DATE '1995-01-01',
                                      CAST(l_shipdate AS DATE)) / 7)
                      AS INTEGER) AS wk,
                 sum(CAST(round(l_extendedprice, 2) AS DECIMAL(18,2))
                     * (1 - CAST(round(l_discount, 2) AS DECIMAL(18,2))))
                   AS wrev
          FROM lineitem GROUP BY part, wk),
        d AS (
          SELECT part, wk, wrev,
                 lag(wk) OVER (PARTITION BY part ORDER BY wk) AS prev_wk,
                 wrev - lag(wrev) OVER (PARTITION BY part ORDER BY wk)
                   AS delta
          FROM wr)
        SELECT part, wk, prev_wk,
               round(CAST(wrev AS DOUBLE), 2) AS week_revenue,
               round(CAST(delta AS DOUBLE), 2) AS wow_delta
        FROM d WHERE delta IS NOT NULL
        ORDER BY delta DESC, part ASC, wk ASC LIMIT 15
    """,
)
def q240_weekly_top_movers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week movers: per-part weekly revenue (2 dp exact
    decimal, integer week index from a pinned epoch), the lag delta
    against the part's previous ACTIVE week (gap weeks documented as
    skipped — the delta reads 'vs last time this part sold', the
    alerting semantic), and the global top-15 swings. The window is
    part-keyed (massively parallel, ≤ a few hundred weeks per part);
    the exact-decimal delta makes the top-15 order tie-free up to the
    explicit (part, week) tiebreak."""
    li = Catalog(spark, sf_dir).lineitem
    dec = "decimal(18,2)"
    wk = F.floor(
        F.datediff(F.col("l_shipdate").cast("date"),
                   F.lit("1995-01-01").cast("date")) / 7).cast("int")
    rev = (F.round("l_extendedprice", 2).cast(dec)
           * (F.lit(1).cast(dec) - F.round("l_discount", 2).cast(dec)))
    wr = (li.select(F.col("l_partkey").alias("part"), wk.alias("wk"),
                    rev.alias("rev"))
          .groupBy("part", "wk").agg(F.sum("rev").alias("wrev")))
    w = Window.partitionBy("part").orderBy("wk")
    d = (wr.select("part", "wk", "wrev",
                   F.lag("wk").over(w).alias("prev_wk"),
                   (F.col("wrev") - F.lag("wrev").over(w)).alias("delta"))
         .filter(F.col("delta").isNotNull()))
    return (d.orderBy(F.col("delta").desc(), F.col("part").asc(),
                      F.col("wk").asc())
            .limit(15)
            .select("part", "wk", "prev_wk",
                    F.round(F.col("wrev").cast("double"), 2)
                    .alias("week_revenue"),
                    F.round(F.col("delta").cast("double"), 2)
                    .alias("wow_delta")))


@_register(
    "q241_ewma_daily",
    survey="net-new recursive EWMA smoothing (per-type daily counts smoothed by ewma_t = (x_t + ewma_{t-1})/2 — a SEQUENTIAL recurrence run as an aggregate-HOF scan over the value-domain day array; alpha = 1/2 keeps every value an exact dyadic rational, bit-identical to the recursive-CTE oracle with NO rounding anywhere)",
    oracle="""
        WITH RECURSIVE d AS (
          SELECT event_type,
                 CAST(date_diff('day', DATE '2024-01-01',
                                CAST(ts AS DATE)) AS INTEGER) AS d,
                 count(*) AS cnt
          FROM events GROUP BY event_type, CAST(ts AS DATE)),
        r AS (SELECT event_type, d, cnt,
                     row_number() OVER (PARTITION BY event_type
                                        ORDER BY d) AS rn
              FROM d),
        e AS (
          SELECT event_type, d, cnt, rn, CAST(cnt AS DOUBLE) AS ewma
          FROM r WHERE rn = 1
          UNION ALL
          SELECT r.event_type, r.d, r.cnt, r.rn,
                 (CAST(r.cnt AS DOUBLE) + e.ewma) / 2.0
          FROM r JOIN e ON r.event_type = e.event_type
                       AND r.rn = e.rn + 1)
        SELECT event_type, d, CAST(cnt AS BIGINT) AS cnt, ewma
        FROM e ORDER BY event_type, d
    """,
)
def q241_ewma_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential smoothing as a distributed plan: per-type daily
    counts collect into ONE rank-ordered array per type (the
    value-domain discipline — the array is horizon-bounded, never the
    event stream), an ``F.aggregate`` scan runs the recurrence
    ``ewma_t = (x_t + ewma_{t-1})/2`` left-to-right, and the result
    explodes back to rows. α = 1/2 makes every intermediate an exact
    DYADIC rational (integer counts halved ≤ horizon times — ≤ 40
    fraction bits, exactly representable in a double), so the emitted
    ewma is UNROUNDED and still bit-identical to DuckDB's recursive
    CTE: no round() means no half-boundary class (the r8 #12 lesson
    applied by construction). The inherently sequential part touches
    |days| elements per type; everything around it is one
    map-side-combined aggregate."""
    ev = Catalog(spark, sf_dir).events
    day = F.datediff(F.col("ts").cast("date"),
                     F.lit("2024-01-01").cast("date")).cast("int")
    daily = (ev.groupBy("event_type", day.alias("d"))
             .agg(F.count(F.lit(1)).alias("cnt")))
    arr = daily.groupBy("event_type").agg(
        F.sort_array(F.collect_list(F.struct("d", "cnt"))).alias("s"))
    acc0 = F.expr(
        "CAST(array() AS ARRAY<STRUCT<d: INT, cnt: BIGINT, ewma: DOUBLE>>)")

    def step(acc, x):
        prev = F.element_at(acc, -1)["ewma"]
        ew = F.when(F.size(acc) == 0, x["cnt"].cast("double")) \
              .otherwise((x["cnt"].cast("double") + prev) / F.lit(2.0))
        return F.concat(acc, F.array(F.struct(
            x["d"].alias("d"), x["cnt"].alias("cnt"), ew.alias("ewma"))))

    scanned = arr.select("event_type",
                         F.aggregate("s", acc0, step).alias("e"))
    return (scanned.select("event_type", F.explode("e").alias("r"))
            .select("event_type", F.col("r.d").alias("d"),
                    F.col("r.cnt").alias("cnt"),
                    F.col("r.ewma").alias("ewma"))
            .orderBy("event_type", "d"))


@_register(
    "q242_time_to_convert",
    survey="net-new conversion-latency cohorts (per first-view week: users, converters, and exact p50/p90 minutes from first view to first STRICTLY-LATER purchase — the q221 sequenced-minima rule feeding the q212 value-domain quantile discipline)",
    oracle="""
        WITH v AS (
          SELECT user_id, min(ts) AS ts1 FROM events
          WHERE event_type = 'view' GROUP BY user_id),
        vc AS (
          SELECT user_id, epoch_us(ts1) AS t1,
                 CAST(floor(date_diff('day', DATE '2024-01-01',
                                      CAST(ts1 AS DATE)) / 7) AS INTEGER)
                   AS cohort_wk
          FROM v),
        conv AS (
          SELECT e.user_id, vc.cohort_wk,
                 (min(epoch_us(e.ts)) - min(vc.t1)) // 60000000 AS cmin
          FROM events e JOIN vc USING (user_id)
          WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > vc.t1
          GROUP BY e.user_id, vc.cohort_wk),
        h AS (SELECT cohort_wk, cmin, count(*) AS c FROM conv
              GROUP BY cohort_wk, cmin),
        w AS (
          SELECT cohort_wk, cmin,
                 sum(c) OVER (PARTITION BY cohort_wk ORDER BY cmin
                              ROWS UNBOUNDED PRECEDING) AS cum,
                 sum(c) OVER (PARTITION BY cohort_wk) AS n
          FROM h),
        q AS (
          SELECT cohort_wk, CAST(min(n) AS BIGINT) AS n_converted,
                 min(CASE WHEN 2 * cum >= n THEN cmin END)
                   AS p50_convert_min,
                 min(CASE WHEN 10 * cum >= 9 * n THEN cmin END)
                   AS p90_convert_min
          FROM w GROUP BY cohort_wk),
        b AS (SELECT cohort_wk, count(*) AS n_view_users FROM vc
              GROUP BY cohort_wk)
        SELECT b.cohort_wk, b.n_view_users,
               coalesce(q.n_converted, 0) AS n_converted,
               CAST(q.p50_convert_min AS BIGINT) AS p50_convert_min,
               CAST(q.p90_convert_min AS BIGINT) AS p90_convert_min
        FROM b LEFT JOIN q USING (cohort_wk)
        ORDER BY cohort_wk
    """,
)
def q242_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion latency by acquisition cohort: each user's first view
    anchors a cohort week; the first STRICTLY-LATER purchase (the q221
    sequenced-minimum rule — a re-purchasing user's earlier purchases
    never count) yields an integer MINUTE latency, whose per-cohort
    p50/p90 come from the value-domain histogram (minutes over the
    horizon — a bounded domain, so the cumulative window runs over at
    most horizon-minutes rows per cohort, never the user population).
    Cohorts with zero converters keep NULL quantiles and an explicit
    zero count — absence is data. Pure integer arithmetic end to end."""
    ev = Catalog(spark, sf_dir).events
    v = (ev.filter(F.col("event_type") == "view")
         .groupBy("user_id").agg(F.min("ts").alias("ts1")))
    vc = v.select(
        "user_id", F.unix_micros(F.col("ts1").cast("timestamp")).alias("t1"),
        F.floor(F.datediff(F.col("ts1").cast("date"),
                           F.lit("2024-01-01").cast("date")) / 7)
        .cast("int").alias("cohort_wk"))
    conv = (ev.filter(F.col("event_type") == "purchase")
            .select("user_id",
                    F.unix_micros(F.col("ts").cast("timestamp"))
                    .alias("tp"))
            .join(vc, "user_id")
            .filter(F.col("tp") > F.col("t1"))
            .groupBy("user_id", "cohort_wk")
            .agg(F.expr("(min(tp) - min(t1)) div 60000000").alias("cmin")))
    h = conv.groupBy("cohort_wk", "cmin").agg(F.count(F.lit(1)).alias("c"))
    wc = (Window.partitionBy("cohort_wk").orderBy("cmin")
          .rowsBetween(Window.unboundedPreceding, 0))
    wt = Window.partitionBy("cohort_wk")
    ww = h.select("cohort_wk", "cmin",
                  F.sum("c").over(wc).alias("cum"),
                  F.sum("c").over(wt).alias("n"))
    q = ww.groupBy("cohort_wk").agg(
        F.min("n").alias("n_converted"),
        F.min(F.when(2 * F.col("cum") >= F.col("n"), F.col("cmin")))
        .alias("p50_convert_min"),
        F.min(F.when(10 * F.col("cum") >= 9 * F.col("n"), F.col("cmin")))
        .alias("p90_convert_min"))
    b = vc.groupBy("cohort_wk").agg(
        F.count(F.lit(1)).alias("n_view_users"))
    return (b.join(q, "cohort_wk", "left")
            .select("cohort_wk", "n_view_users",
                    F.coalesce("n_converted", F.lit(0)).cast("long")
                    .alias("n_converted"),
                    F.col("p50_convert_min").cast("long")
                    .alias("p50_convert_min"),
                    F.col("p90_convert_min").cast("long")
                    .alias("p90_convert_min"))
            .orderBy("cohort_wk"))


# =====================================================================
# Round-14 wave: audit / experimentation / robust-statistics operators
# =====================================================================

#: Benford first-digit expected shares log10(1 + 1/d), shortest-repr
#: double literals shared VERBATIM by the Spark builder and the DuckDB
#: oracle so both engines parse the identical binary double — every
#: derived column is then a fixed tree of IEEE ops over identical
#: operands (the q241/q232 bit-identical discipline).
_BENFORD_EXPECTED: dict[int, float] = {
    1: 0.3010299956639812, 2: 0.17609125905568124, 3: 0.12493873660829992,
    4: 0.09691001300805642, 5: 0.07918124604762482, 6: 0.06694678963061322,
    7: 0.05799194697768673, 8: 0.05115252244738129, 9: 0.04575749056067514,
}

#: DuckDB parses a bare decimal literal as DECIMAL, not DOUBLE — cast
#: each so the oracle column is the same IEEE double the builder emits.
_BENFORD_SQL_CASE = ("CASE g.first_digit " + " ".join(
    f"WHEN {d} THEN CAST({v!r} AS DOUBLE)"
    for d, v in _BENFORD_EXPECTED.items()) + " END")


@_register(
    "q243_benford_first_digit",
    survey="net-new Benford first-digit audit (leading-digit distribution of order totals vs the Benford expectation — the fraud/synthetic-data screen; digit extracted by exact integer-cents string math, per-digit rows so no cross-row float sum exists)",
    oracle=f"""
        WITH c AS (
          SELECT CAST(substr(CAST(CAST(CAST(round(o_totalprice, 2)
                       AS DECIMAL(18,2)) * 100 AS BIGINT) AS VARCHAR),
                      1, 1) AS INT) AS first_digit
          FROM orders),
        g AS (SELECT first_digit, count(*) AS n_orders FROM c GROUP BY 1),
        t AS (SELECT sum(n_orders) AS total FROM g)
        SELECT g.first_digit, g.n_orders,
               CAST(g.n_orders AS DOUBLE) / CAST(t.total AS DOUBLE)
                 AS obs_share,
               {_BENFORD_SQL_CASE} AS exp_share,
               CAST(g.n_orders AS DOUBLE) / CAST(t.total AS DOUBLE)
                 - {_BENFORD_SQL_CASE} AS excess
        FROM g CROSS JOIN t ORDER BY first_digit
    """,
)
def q243_benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law conformance audit on order totals — the classic
    fraud / synthetic-data screen. The leading digit comes from EXACT
    integer math (2-dp decimal cents -> bigint -> string head), never
    log10 of a double whose 1-ulp boundary the two engines could place
    differently at exact powers of ten. The output is ONE ROW PER
    DIGIT: observed share, expected share (a shared shortest-repr
    literal, see ``_BENFORD_EXPECTED``), and the excess — each a fixed
    IEEE expression over exact counts, emitted UNROUNDED; no cross-row
    float aggregation exists anywhere, so there is no accumulation
    order to drift. 100 TB: one map-side-combined groupBy onto nine
    rows; the 1-row total joins back as a broadcast."""
    o = Catalog(spark, sf_dir).orders
    cents = (F.round("o_totalprice", 2).cast("decimal(18,2)")
             * F.lit(100)).cast("bigint")
    d = F.substring(cents.cast("string"), 1, 1).cast("int")
    g = (o.select(d.alias("first_digit"))
         .groupBy("first_digit").agg(F.count(F.lit(1)).alias("n_orders")))
    t = g.agg(F.sum("n_orders").alias("total"))
    exp = F.lit(None).cast("double")
    for dig, share in _BENFORD_EXPECTED.items():
        exp = F.when(F.col("first_digit") == dig, F.lit(share)) \
               .otherwise(exp)
    obs = F.col("n_orders").cast("double") / F.col("total").cast("double")
    return (g.crossJoin(F.broadcast(t))
            .select("first_digit", "n_orders",
                    obs.alias("obs_share"), exp.alias("exp_share"),
                    (obs - exp).alias("excess"))
            .orderBy("first_digit"))


@_register(
    "q244_theil_sen_trend",
    survey="net-new robust trend estimation (per event type: Theil-Sen median-of-pairwise-slopes over daily counts + the Mann-Kendall S statistic — the outlier-robust twin of q225's OLS slopes; pair fan-out is C(days,2), horizon-bounded, never event-bounded)",
    oracle="""
        WITH dc AS (
          SELECT event_type,
                 date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d,
                 count(*) AS c
          FROM events GROUP BY 1, 2),
        pr AS (
          SELECT a.event_type,
                 CAST(b.c - a.c AS DOUBLE) / CAST(b.d - a.d AS DOUBLE)
                   AS slope,
                 CASE WHEN b.c > a.c THEN 1 WHEN b.c < a.c THEN -1
                      ELSE 0 END AS sgn
          FROM dc a JOIN dc b ON a.event_type = b.event_type
                             AND a.d < b.d),
        r AS (
          SELECT event_type, slope, sgn,
                 row_number() OVER (PARTITION BY event_type
                                    ORDER BY slope) AS rn,
                 count(*) OVER (PARTITION BY event_type) AS np
          FROM pr),
        m AS (
          SELECT event_type,
                 min(CASE WHEN rn = (np + 1) // 2 THEN slope END) AS lo,
                 min(CASE WHEN rn = np // 2 + 1 THEN slope END) AS hi,
                 min(np) AS n_pairs,
                 CAST(sum(sgn) AS BIGINT) AS mk_s
          FROM r GROUP BY 1),
        nd AS (SELECT event_type, count(*) AS n_days FROM dc GROUP BY 1)
        SELECT m.event_type, nd.n_days, m.n_pairs, m.mk_s,
               (m.lo + m.hi) / 2 AS ts_slope
        FROM m JOIN nd USING (event_type) ORDER BY event_type
    """,
)
def q244_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend per event type: the median of all
    C(days,2) pairwise slopes of the DAILY count series, plus the
    Mann-Kendall S statistic (exact integer sign sum) — the
    outlier-robust drift detector beside q225's least-squares slopes
    (one wild day moves OLS, not the pairwise median). The event
    stream reduces to (type, epoch-day, count) FIRST — map-side
    combined — so the self-join fan-out is horizon-bounded (days²),
    never event-bounded; at 100 TB a decade of days is ~6.6M pairs per
    type, dimension-scale. Each slope is ONE IEEE divide of exact
    integers (bit-identical cross-engine); the median is SELECTION,
    not summation — row_number over the value order, the even case
    averaging two identical doubles (add + exact halving), so no
    accumulation order exists. Output emitted UNROUNDED."""
    ev = Catalog(spark, sf_dir).events
    dc = (ev.select("event_type",
                    F.datediff(F.col("ts").cast("date"),
                               F.lit("1970-01-01").cast("date")).alias("d"))
          .groupBy("event_type", "d").agg(F.count(F.lit(1)).alias("c")))
    a = dc.select("event_type", F.col("d").alias("da"),
                  F.col("c").alias("ca"))
    b = dc.select("event_type", F.col("d").alias("db"),
                  F.col("c").alias("cb"))
    pr = (a.join(b, "event_type").filter(F.col("da") < F.col("db"))
          .select("event_type",
                  ((F.col("cb") - F.col("ca")).cast("double")
                   / (F.col("db") - F.col("da")).cast("double"))
                  .alias("slope"),
                  F.when(F.col("cb") > F.col("ca"), 1)
                  .when(F.col("cb") < F.col("ca"), -1)
                  .otherwise(0).alias("sgn")))
    w = Window.partitionBy("event_type").orderBy("slope")
    r = (pr.withColumn("rn", F.row_number().over(w))
         .withColumn("np", F.count(F.lit(1)).over(
             Window.partitionBy("event_type"))))
    m = r.groupBy("event_type").agg(
        F.min(F.when(F.expr("rn = (np + 1) div 2"), F.col("slope")))
        .alias("lo"),
        F.min(F.when(F.expr("rn = np div 2 + 1"), F.col("slope")))
        .alias("hi"),
        F.min("np").alias("n_pairs"),
        F.sum("sgn").cast("bigint").alias("mk_s"))
    nd = dc.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_days"))
    return (m.join(nd, "event_type")
            .select("event_type", "n_days", "n_pairs", "mk_s",
                    ((F.col("lo") + F.col("hi")) / 2).alias("ts_slope"))
            .orderBy("event_type"))


@_register(
    "q245_activity_streaks",
    survey="net-new consecutive-day activity streaks (per-user longest run of consecutive active DAYS via the date-minus-row_number islands rewrite keyed by USER — population keys, never an enum — rolled into the streak-length histogram; the habit/engagement read)",
    oracle="""
        WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d
                    FROM events),
        s AS (
          SELECT user_id,
                 date_diff('day', DATE '1970-01-01', d)
                   - row_number() OVER (PARTITION BY user_id
                                        ORDER BY d) AS grp
          FROM ud),
        sl AS (SELECT user_id, count(*) AS len FROM s
               GROUP BY user_id, grp),
        mx AS (SELECT user_id, max(len) AS streak_days FROM sl GROUP BY 1)
        SELECT CAST(streak_days AS BIGINT) AS streak_days,
               count(*) AS n_users
        FROM mx GROUP BY 1 ORDER BY streak_days
    """,
)
def q245_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user, rolled up into
    the streak-length histogram — the engagement/habit read behind
    retention dashboards. The islands rewrite (epoch-day minus
    row_number is constant within a run) runs on the DISTINCT
    (user, day) relation — already reduced by a map-side distinct —
    and every window is keyed by user_id: population-scale partitions
    (the q238 lesson), never an enum. Exact integers end to end; at
    100 TB the relation is bounded by users x horizon days, and the
    histogram output by the horizon alone."""
    ev = Catalog(spark, sf_dir).events
    ud = (ev.select("user_id", F.col("ts").cast("date").alias("d"))
          .distinct())
    w = Window.partitionBy("user_id").orderBy("d")
    s = ud.select(
        "user_id",
        (F.datediff(F.col("d"), F.lit("1970-01-01").cast("date"))
         - F.row_number().over(w)).alias("grp"))
    sl = (s.groupBy("user_id", "grp")
          .agg(F.count(F.lit(1)).alias("len")))
    mx = sl.groupBy("user_id").agg(F.max("len").alias("streak_days"))
    return (mx.groupBy(F.col("streak_days").cast("bigint")
                       .alias("streak_days"))
            .agg(F.count(F.lit(1)).alias("n_users"))
            .orderBy("streak_days"))


@_register(
    "q246_lead_time_sla",
    survey="net-new order-to-ship lead-time SLA profile (per order month: on-time share within 30 days, negative-lead data-quality anomalies, exact average lead and value-domain p90 — interval arithmetic + histogram quantiles per calendar bucket)",
    oracle="""
        WITH j AS (
          SELECT strftime(o.o_orderdate, '%Y-%m') AS order_month,
                 date_diff('day', CAST(o.o_orderdate AS DATE),
                           CAST(l.l_shipdate AS DATE)) AS lead_d
          FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
        h AS (SELECT order_month, lead_d, count(*) AS c FROM j
              GROUP BY 1, 2),
        w AS (
          SELECT order_month, lead_d, c,
                 sum(c) OVER (PARTITION BY order_month ORDER BY lead_d
                              ROWS UNBOUNDED PRECEDING) AS cum,
                 sum(c) OVER (PARTITION BY order_month) AS n
          FROM h)
        SELECT order_month,
               CAST(min(n) AS BIGINT) AS n_lines,
               CAST(sum(CASE WHEN lead_d < 0 THEN c ELSE 0 END)
                    AS BIGINT) AS n_negative,
               CAST(sum(CASE WHEN lead_d BETWEEN 0 AND 30 THEN c
                             ELSE 0 END) AS DOUBLE)
                 / CAST(min(n) AS DOUBLE) AS on_time_share,
               CAST(sum(lead_d * c) AS DOUBLE)
                 / CAST(min(n) AS DOUBLE) AS avg_lead_days,
               CAST(min(CASE WHEN 10 * cum >= 9 * n THEN lead_d END)
                    AS BIGINT) AS p90_lead_days
        FROM w GROUP BY order_month ORDER BY order_month
    """,
)
def q246_lead_time_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship lead-time SLA per order month: on-time share
    (0-30 days), negative-lead anomaly count (ship date BEFORE the
    order date — on this synthetic fixture a sizable data-quality
    signal, reported honestly rather than filtered), exact average
    lead (DECIMAL(38) day-sum, one IEEE divide, UNROUNDED) and the
    value-domain p90 (the q239 cumulative-histogram discipline — lead
    days are small integers, so the quantile needs no global sort).
    100 TB: the join shuffles on l_orderkey once, then everything is
    a (month, lead-day) histogram — months x day-range rows."""
    cat = Catalog(spark, sf_dir)
    j = (cat.lineitem.select("l_orderkey", "l_shipdate")
         .join(cat.orders.select("o_orderkey", "o_orderdate"),
               F.col("l_orderkey") == F.col("o_orderkey"))
         .select(F.date_format("o_orderdate", "yyyy-MM")
                 .alias("order_month"),
                 F.datediff(F.col("l_shipdate").cast("date"),
                            F.col("o_orderdate").cast("date"))
                 .alias("lead_d")))
    h = (j.groupBy("order_month", "lead_d")
         .agg(F.count(F.lit(1)).alias("c")))
    wm = Window.partitionBy("order_month")
    w = (h.withColumn("cum", F.sum("c").over(
            wm.orderBy("lead_d").rowsBetween(Window.unboundedPreceding, 0)))
         .withColumn("n", F.sum("c").over(wm)))
    return (w.groupBy("order_month").agg(
        F.min("n").cast("bigint").alias("n_lines"),
        F.sum(F.when(F.col("lead_d") < 0, F.col("c")).otherwise(0))
        .cast("bigint").alias("n_negative"),
        (F.sum(F.when(F.col("lead_d").between(0, 30), F.col("c"))
               .otherwise(0)).cast("double")
         / F.min("n").cast("double")).alias("on_time_share"),
        (F.sum(F.col("lead_d").cast("decimal(38,0)") * F.col("c"))
         .cast("double") / F.min("n").cast("double"))
        .alias("avg_lead_days"),
        F.min(F.when(10 * F.col("cum") >= 9 * F.col("n"),
                     F.col("lead_d"))).cast("bigint")
        .alias("p90_lead_days"))
        .orderBy("order_month"))


@_register(
    "q247_aa_proportion_ztest",
    survey="net-new two-proportion z-test on a deterministic A/A split (first-event-is-purchase rate per user_id-parity arm, pooled z — the experiment-harness null calibration every A/B pipeline runs before trusting a real assignment)",
    oracle="""
        WITH f AS (
          SELECT user_id, event_type,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS rn
          FROM events),
        a AS (
          SELECT user_id % 2 AS arm, count(*) AS n,
                 sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS conv
          FROM f WHERE rn = 1 GROUP BY 1),
        p AS (
          SELECT CAST(min(CASE WHEN arm = 0 THEN n END) AS BIGINT) AS n_a,
                 CAST(min(CASE WHEN arm = 0 THEN conv END) AS BIGINT)
                   AS conv_a,
                 CAST(min(CASE WHEN arm = 1 THEN n END) AS BIGINT) AS n_b,
                 CAST(min(CASE WHEN arm = 1 THEN conv END) AS BIGINT)
                   AS conv_b
          FROM a)
        SELECT n_a, conv_a, n_b, conv_b,
               CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS rate_a,
               CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS rate_b,
               CASE WHEN conv_a + conv_b > 0
                     AND conv_a + conv_b < n_a + n_b THEN
                 (CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE)
                  - CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE))
                 / sqrt((CAST(conv_a + conv_b AS DOUBLE)
                         / CAST(n_a + n_b AS DOUBLE))
                        * (1.0 - CAST(conv_a + conv_b AS DOUBLE)
                                 / CAST(n_a + n_b AS DOUBLE))
                        * (1.0 / CAST(n_a AS DOUBLE)
                           + 1.0 / CAST(n_b AS DOUBLE)))
               END AS z_score
        FROM p
    """,
)
def q247_aa_proportion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion pooled z-test on a DETERMINISTIC A/A split —
    arms are user_id parity (a hash-free assignment both engines
    reproduce exactly), the response is 'the user's FIRST event is a
    purchase' (every user purchases eventually on this fixture, so
    any-purchase would be degenerate at 100%). This is the null
    calibration every experimentation pipeline runs before trusting a
    real A/B assignment: z should be well inside +-1.96. The statistic
    is one fixed tree of IEEE ops (divides, sqrt — all correctly
    rounded) over four exact integers, emitted UNROUNDED and guarded
    against the zero-variance pool; bit-identical cross-engine by the
    q241 argument. 100 TB: one user-keyed window for the first event,
    one 2-row aggregate, one 1-row pivot."""
    ev = Catalog(spark, sf_dir).events
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    f = (ev.withColumn("rn", F.row_number().over(w))
         .filter(F.col("rn") == 1))
    a = (f.groupBy(F.pmod("user_id", F.lit(2)).alias("arm"))
         .agg(F.count(F.lit(1)).alias("n"),
              F.sum(F.when(F.col("event_type") == "purchase", 1)
                    .otherwise(0)).alias("conv")))
    p = a.agg(
        F.min(F.when(F.col("arm") == 0, F.col("n"))).cast("bigint")
        .alias("n_a"),
        F.min(F.when(F.col("arm") == 0, F.col("conv"))).cast("bigint")
        .alias("conv_a"),
        F.min(F.when(F.col("arm") == 1, F.col("n"))).cast("bigint")
        .alias("n_b"),
        F.min(F.when(F.col("arm") == 1, F.col("conv"))).cast("bigint")
        .alias("conv_b"))
    ca, na = F.col("conv_a").cast("double"), F.col("n_a").cast("double")
    cb, nb = F.col("conv_b").cast("double"), F.col("n_b").cast("double")
    pool = ((F.col("conv_a") + F.col("conv_b")).cast("double")
            / (F.col("n_a") + F.col("n_b")).cast("double"))
    z = ((cb / nb - ca / na)
         / F.sqrt(pool * (F.lit(1.0) - pool)
                  * (F.lit(1.0) / na + F.lit(1.0) / nb)))
    guard = ((F.col("conv_a") + F.col("conv_b") > 0)
             & (F.col("conv_a") + F.col("conv_b")
                < F.col("n_a") + F.col("n_b")))
    return p.select("n_a", "conv_a", "n_b", "conv_b",
                    (ca / na).alias("rate_a"), (cb / nb).alias("rate_b"),
                    F.when(guard, z).alias("z_score"))


@_register(
    "q248_supplier_hhi",
    survey="net-new market-concentration audit (per nation: Herfindahl-Hirschman index of supplier revenue shares from exact integer-cents moments — sum(rev^2)/total^2, one fixed IEEE tree, no per-share float sum — plus top-1 share; the procurement-risk read)",
    oracle="""
        WITH rv AS (
          SELECT s.s_nationkey, l.l_suppkey,
                 sum(CAST(CAST(l.l_extendedprice * (1 - l.l_discount)
                          AS DECIMAL(18,4)) * 10000 AS BIGINT)) AS rev_u
          FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
          GROUP BY 1, 2),
        ag AS (
          SELECT s_nationkey, count(*) AS n_suppliers,
                 sum(rev_u) AS total_u,
                 sum(rev_u * rev_u) AS ssq_u,
                 max(rev_u) AS max_u
          FROM rv GROUP BY 1)
        SELECT n.n_name, ag.n_suppliers,
               round(CAST(ag.total_u AS DOUBLE) / 10000, 4)
                 AS total_revenue,
               CAST(ag.ssq_u AS DOUBLE)
                 / (CAST(ag.total_u AS DOUBLE) * CAST(ag.total_u AS DOUBLE))
                 AS hhi,
               CAST(ag.max_u AS DOUBLE) / CAST(ag.total_u AS DOUBLE)
                 AS top1_share
        FROM ag JOIN nation n ON n.n_nationkey = ag.s_nationkey
        ORDER BY n.n_name
    """,
)
def q248_supplier_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier revenue concentration per nation: the
    Herfindahl-Hirschman index, computed WITHOUT summing per-share
    floats — HHI = sum(rev_i^2) / total^2 over exact integer
    revenue units (the q06 DECIMAL(18,4) revenue idiom scaled to
    units), so the only IEEE ops are the final casts, one multiply and
    one divide of identical exact operands: bit-identical
    cross-engine, emitted UNROUNDED. Squares sum in DECIMAL(38,0)
    (~1e26 per term at 100 TB — far inside range); the total re-enters
    as a double product rather than a DECIMAL square to stay inside
    precision 38. Top-1 share rides the same aggregate. 100 TB: two
    map-side-combined aggregates (supplier revenue, then nation
    rollup) and a 25-row dimension join."""
    cat = Catalog(spark, sf_dir)
    unit = F.expr(
        "CAST(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))"
        " * 10000 AS BIGINT)")
    rv = (cat.lineitem.select("l_suppkey", unit.alias("u"))
          .join(F.broadcast(cat.supplier.select("s_suppkey",
                                                "s_nationkey")),
                F.col("l_suppkey") == F.col("s_suppkey"))
          .groupBy("s_nationkey", "l_suppkey")
          .agg(F.sum(F.col("u").cast("decimal(38,0)")).alias("rev_u")))
    ag = rv.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.sum("rev_u").alias("total_u"),
        F.sum(F.col("rev_u") * F.col("rev_u")).alias("ssq_u"),
        F.max("rev_u").alias("max_u"))
    tot_d = F.col("total_u").cast("double")
    n = Catalog(spark, sf_dir).nation
    return (ag.join(F.broadcast(n),
                    F.col("n_nationkey") == F.col("s_nationkey"))
            .select("n_name", "n_suppliers",
                    F.round(tot_d / 10000, 4).alias("total_revenue"),
                    (F.col("ssq_u").cast("double") / (tot_d * tot_d))
                    .alias("hhi"),
                    (F.col("max_u").cast("double") / tot_d)
                    .alias("top1_share"))
            .orderBy("n_name"))


@_register(
    "q249_spearman_rank_corr",
    survey="net-new Spearman rank correlation (per region: supplier rank-by-revenue vs rank-by-line-volume with a deterministic suppkey tiebreak, rho = 1 - 6*sum(d^2)/(n(n^2-1)) from exact integer ranks — the do-two-scoring-rules-agree eval read)",
    oracle="""
        WITH sv AS (
          SELECT s.s_suppkey, s.s_nationkey,
                 sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                     AS DECIMAL(18,4))) AS rev,
                 count(*) AS n_lines
          FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
          GROUP BY 1, 2),
        rg AS (
          SELECT r.r_name, sv.s_suppkey, sv.rev, sv.n_lines
          FROM sv JOIN nation n ON n.n_nationkey = sv.s_nationkey
                  JOIN region r ON r.r_regionkey = n.n_regionkey),
        rk AS (
          SELECT r_name,
                 row_number() OVER (PARTITION BY r_name
                                    ORDER BY rev DESC, s_suppkey)
                   AS rank_rev,
                 row_number() OVER (PARTITION BY r_name
                                    ORDER BY n_lines DESC, s_suppkey)
                   AS rank_vol
          FROM rg),
        ag AS (
          SELECT r_name, count(*) AS n_suppliers,
                 sum((rank_rev - rank_vol) * (rank_rev - rank_vol)) AS d2
          FROM rk GROUP BY 1)
        SELECT r_name, n_suppliers, CAST(d2 AS DOUBLE) AS sum_d2,
               CASE WHEN n_suppliers >= 2 THEN
                 1.0 - CAST(6 * d2 AS DOUBLE)
                   / CAST(n_suppliers * (n_suppliers * n_suppliers - 1)
                          AS DOUBLE)
               END AS spearman_rho
        FROM ag ORDER BY r_name
    """,
)
def q249_spearman_rank_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between two supplier scoring rules —
    revenue vs line volume — per region: the 'do two rankings agree'
    eval read (the rank-space analog of q198's Pearson moments; used
    on scoring-rule pairs before swapping one for the other in a
    selection pipeline). Ranks are row_number with a DETERMINISTIC
    suppkey tiebreak (documented: dense deterministic ranks, not
    average-tie ranks — both engines compute the identical integer
    rank vectors because revenue sums are exact decimals). rho is one
    fixed IEEE tree over the exact integer d^2 sum (DECIMAL(38)
    before the sum; n^3 likewise — the q238 overflow discipline),
    emitted UNROUNDED, guarded for n < 2. 100 TB: supplier-grain
    aggregate (dimension-scale), two in-partition rank windows keyed
    by region, a 5-row rollup."""
    cat = Catalog(spark, sf_dir)
    rev = F.expr(
        "CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))")
    sv = (cat.lineitem.select("l_suppkey", rev.alias("r"))
          .groupBy("l_suppkey")
          .agg(F.sum("r").alias("rev"),
               F.count(F.lit(1)).alias("n_lines")))
    dims = (cat.supplier.select("s_suppkey", "s_nationkey")
            .join(F.broadcast(cat.nation.select("n_nationkey",
                                                "n_regionkey")),
                  F.col("s_nationkey") == F.col("n_nationkey"))
            .join(F.broadcast(cat.region.select("r_regionkey",
                                                "r_name")),
                  F.col("n_regionkey") == F.col("r_regionkey"))
            .select("s_suppkey", "r_name"))
    rg = sv.join(F.broadcast(dims),
                 F.col("l_suppkey") == F.col("s_suppkey"))
    wr = Window.partitionBy("r_name").orderBy(F.col("rev").desc(),
                                              F.col("s_suppkey"))
    wv = Window.partitionBy("r_name").orderBy(F.col("n_lines").desc(),
                                              F.col("s_suppkey"))
    rk = rg.select("r_name",
                   F.row_number().over(wr).alias("rank_rev"),
                   F.row_number().over(wv).alias("rank_vol"))
    d = F.col("rank_rev") - F.col("rank_vol")
    ag = rk.groupBy("r_name").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.sum((d * d).cast("decimal(38,0)")).alias("d2"))
    nsup = F.col("n_suppliers")
    rho = (F.lit(1.0) - (F.lit(6) * F.col("d2")).cast("double")
           / (nsup.cast("decimal(38,0)")
              * (nsup * nsup - 1)).cast("double"))
    return (ag.select("r_name", "n_suppliers",
                      F.col("d2").cast("double").alias("sum_d2"),
                      F.when(nsup >= 2, rho).alias("spearman_rho"))
            .orderBy("r_name"))


@_register(
    "q250_join_key_skew_audit",
    survey="net-new join-key skew audit (per candidate shuffle key across lineitem and events: key multiplicity max / value-domain p99 / mean and top-1 row share — the pre-join diagnosis that decides broadcast vs salt vs AQE before a 100 TB shuffle)",
    oracle="""
        WITH m1 AS (SELECT l_orderkey AS k, count(*) AS mult
                    FROM lineitem GROUP BY 1),
        m2 AS (SELECT l_partkey AS k, count(*) AS mult
               FROM lineitem GROUP BY 1),
        m3 AS (SELECT l_suppkey AS k, count(*) AS mult
               FROM lineitem GROUP BY 1),
        m4 AS (SELECT user_id AS k, count(*) AS mult
               FROM events GROUP BY 1),
        h1 AS (SELECT 'lineitem.l_orderkey' AS key_name, mult,
                      count(*) AS ck FROM m1 GROUP BY 2),
        h2 AS (SELECT 'lineitem.l_partkey' AS key_name, mult,
                      count(*) AS ck FROM m2 GROUP BY 2),
        h3 AS (SELECT 'lineitem.l_suppkey' AS key_name, mult,
                      count(*) AS ck FROM m3 GROUP BY 2),
        h4 AS (SELECT 'events.user_id' AS key_name, mult,
                      count(*) AS ck FROM m4 GROUP BY 2),
        h AS (SELECT * FROM h1 UNION ALL SELECT * FROM h2
              UNION ALL SELECT * FROM h3 UNION ALL SELECT * FROM h4),
        w AS (
          SELECT key_name, mult, ck,
                 sum(ck) OVER (PARTITION BY key_name ORDER BY mult
                               ROWS UNBOUNDED PRECEDING) AS cum,
                 sum(ck) OVER (PARTITION BY key_name) AS nk
          FROM h),
        s AS (
          SELECT key_name,
                 CAST(min(nk) AS BIGINT) AS n_keys,
                 CAST(sum(mult * ck) AS BIGINT) AS n_rows,
                 CAST(max(mult) AS BIGINT) AS max_mult,
                 CAST(min(CASE WHEN 100 * cum >= 99 * nk THEN mult END)
                      AS BIGINT) AS p99_mult
          FROM w GROUP BY 1)
        SELECT key_name, n_rows, n_keys, max_mult, p99_mult,
               CAST(n_rows AS DOUBLE) / CAST(n_keys AS DOUBLE)
                 AS avg_mult,
               CAST(max_mult AS DOUBLE) / CAST(n_rows AS DOUBLE)
                 AS top1_share
        FROM s ORDER BY key_name
    """,
)
def q250_join_key_skew_audit(spark: SparkSession, sf_dir: str
                             ) -> DataFrame:
    """Shuffle-key skew audit over the candidate join keys a planner
    actually shuffles on (lineitem's three FKs + events.user_id): per
    key, the multiplicity maximum, value-domain p99 (the q239
    cumulative-histogram discipline over the MULTIPLICITY domain — no
    global sort), mean, and the top-1 key's share of all rows. This is
    the pre-join diagnosis that decides broadcast vs salting vs AQE
    skew-join before committing a 100 TB shuffle — the engine's own
    q119 salting and AQE notes reference exactly these statistics.
    Each audit is two map-side-combined aggregates (rows -> key
    multiplicity -> multiplicity histogram); the four audits union
    into four rows. Shares are single IEEE divides over exact counts,
    UNROUNDED."""
    cat = Catalog(spark, sf_dir)
    li, ev = cat.lineitem, cat.events

    def audit(df: DataFrame, col: str, name: str) -> DataFrame:
        m = df.groupBy(F.col(col).alias("k")).agg(
            F.count(F.lit(1)).alias("mult"))
        h = m.groupBy("mult").agg(F.count(F.lit(1)).alias("ck"))
        wk = Window.orderBy("mult").rowsBetween(
            Window.unboundedPreceding, 0)
        w = (h.withColumn("cum", F.sum("ck").over(wk))
             .withColumn("nk", F.sum("ck").over(
                 Window.partitionBy(F.lit(1)))))
        return (w.agg(
            F.min("nk").cast("bigint").alias("n_keys"),
            F.sum(F.col("mult").cast("decimal(38,0)") * F.col("ck"))
            .cast("bigint").alias("n_rows"),
            F.max("mult").cast("bigint").alias("max_mult"),
            F.min(F.when(100 * F.col("cum") >= 99 * F.col("nk"),
                         F.col("mult"))).cast("bigint")
            .alias("p99_mult"))
            .select(F.lit(name).alias("key_name"), "n_keys", "n_rows",
                    "max_mult", "p99_mult"))

    s = (audit(li, "l_orderkey", "lineitem.l_orderkey")
         .unionByName(audit(li, "l_partkey", "lineitem.l_partkey"))
         .unionByName(audit(li, "l_suppkey", "lineitem.l_suppkey"))
         .unionByName(audit(ev, "user_id", "events.user_id")))
    return (s.select(
        "key_name", "n_rows", "n_keys", "max_mult", "p99_mult",
        (F.col("n_rows").cast("double") / F.col("n_keys").cast("double"))
        .alias("avg_mult"),
        (F.col("max_mult").cast("double") / F.col("n_rows").cast("double"))
        .alias("top1_share"))
        .orderBy("key_name"))


@_register(
    "q251_decile_lift",
    survey="net-new decile lift / gains table (customers ranked by order count into ntile deciles with a deterministic tiebreak; label = top-quintile lifetime revenue by exact value-domain threshold; per-decile response rate, lift and cumulative capture — the targeting-model eval read)",
    oracle="""
        WITH cs AS (
          SELECT o_custkey, count(*) AS n_orders,
                 sum(CAST(round(o_totalprice, 2) AS DECIMAL(18,2))) AS rev
          FROM orders GROUP BY 1),
        h AS (SELECT rev, count(*) AS c FROM cs GROUP BY 1),
        w AS (SELECT rev,
                     sum(c) OVER (ORDER BY rev
                                  ROWS UNBOUNDED PRECEDING) AS cum,
                     sum(c) OVER () AS n
              FROM h),
        thr AS (SELECT min(CASE WHEN 5 * cum >= 4 * n THEN rev END)
                  AS p80 FROM w),
        lab AS (
          SELECT cs.o_custkey, cs.n_orders,
                 CASE WHEN cs.rev >= thr.p80 THEN 1 ELSE 0 END AS pos
          FROM cs CROSS JOIN thr),
        d AS (SELECT pos,
                     CAST(ntile(10) OVER (ORDER BY n_orders DESC,
                                          o_custkey) AS BIGINT) AS decile
              FROM lab),
        g AS (SELECT decile, count(*) AS n_customers,
                     CAST(sum(pos) AS BIGINT) AS n_positives
              FROM d GROUP BY 1),
        t AS (SELECT sum(n_customers) AS tc, sum(n_positives) AS tp
              FROM g)
        SELECT g.decile, g.n_customers, g.n_positives,
               CAST(g.n_positives AS DOUBLE)
                 / CAST(g.n_customers AS DOUBLE) AS response_rate,
               (CAST(g.n_positives AS DOUBLE)
                 / CAST(g.n_customers AS DOUBLE))
                 / (CAST(t.tp AS DOUBLE) / CAST(t.tc AS DOUBLE)) AS lift,
               CAST(sum(g.n_positives) OVER (ORDER BY g.decile
                    ROWS UNBOUNDED PRECEDING) AS DOUBLE)
                 / CAST(t.tp AS DOUBLE) AS cum_capture
        FROM g CROSS JOIN t ORDER BY decile
    """,
)
def q251_decile_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile lift / cumulative-gains table — the standard
    targeting-model eval: customers rank into ntile(10) deciles by a
    score (order count, suppkey-free deterministic tiebreak on
    custkey), the positive label is 'lifetime revenue in the top
    quintile' with the threshold taken from the EXACT value-domain
    cumulative histogram over exact DECIMAL revenue (the q239
    discipline — no approx percentile, no global sort beyond the
    dimension-scale customer grain), and each decile reports response
    rate, lift vs the base rate, and cumulative capture. Rates and
    lift are fixed IEEE trees over exact counts, UNROUNDED; the decile
    over a strict total order is engine-independent. 100 TB: the
    customer grain SCALES with data (TPC-H customers grow with SF), so
    the decile does NOT come from a global ntile window (the
    single-partition trap q101 exists to kill) — it rides
    ``ranks.global_distribution_ranks``: adaptive dispatch to a plain
    window when the size probe bounds the input, a range-partitioned
    sort + partition-offset arithmetic NTILE above it, value-identical
    to SQL NTILE either way (q67/q101 certify both forms)."""
    o = Catalog(spark, sf_dir).orders
    cs = (o.groupBy("o_custkey")
          .agg(F.count(F.lit(1)).alias("n_orders"),
               F.sum(F.round("o_totalprice", 2).cast("decimal(18,2)"))
               .alias("rev")))
    # Exact-decimal revenue is NEAR-UNIQUE per customer, so the
    # threshold "histogram" is customer-scale — its cumulative count
    # must not run through an unpartitioned window (same class as the
    # decile below). global_prefix_sum is the scalable
    # sum-OVER-(ORDER BY) form; the grand total joins back as one row.
    from .operators.ranks import RANKS_SMALL_INPUT_MAX, global_prefix_sum
    h = cs.groupBy("rev").agg(F.count(F.lit(1)).alias("c"))
    w = (global_prefix_sum(h, [F.col("rev").asc()], "c", out_col="cum",
                           small_input_max=RANKS_SMALL_INPUT_MAX)
         .crossJoin(F.broadcast(h.agg(F.sum("c").alias("n")))))
    thr = w.agg(F.min(F.when(5 * F.col("cum") >= 4 * F.col("n"),
                             F.col("rev"))).alias("p80"))
    lab = (cs.crossJoin(F.broadcast(thr))
           .select("o_custkey", "n_orders",
                   F.when(F.col("rev") >= F.col("p80"), 1)
                   .otherwise(0).alias("pos")))
    from .operators.ranks import global_distribution_ranks
    d = (global_distribution_ranks(
            lab, key_cols=["n_orders"], tiebreak_cols=["o_custkey"],
            ascending=False, ntile=10)
         .select("pos", F.col("ntile").cast("bigint").alias("decile")))
    g = (d.groupBy("decile")
         .agg(F.count(F.lit(1)).alias("n_customers"),
              F.sum("pos").cast("bigint").alias("n_positives")))
    t = g.agg(F.sum("n_customers").alias("tc"),
              F.sum("n_positives").alias("tp"))
    rate = (F.col("n_positives").cast("double")
            / F.col("n_customers").cast("double"))
    base = F.col("tp").cast("double") / F.col("tc").cast("double")
    cum = F.sum("n_positives").over(
        Window.orderBy("decile").rowsBetween(
            Window.unboundedPreceding, 0))
    return (g.crossJoin(F.broadcast(t))
            .select("decile", "n_customers", "n_positives",
                    rate.alias("response_rate"),
                    (rate / base).alias("lift"),
                    (cum.cast("double") / F.col("tp").cast("double"))
                    .alias("cum_capture"))
            .orderBy("decile"))


@_register(
    "q252_centroid_confusion",
    survey="net-new nearest-centroid confusion matrix (embeddings scored against exact scaled-integer label centroids — squared distance compared as n-scaled DECIMAL integers, argmin deterministic cross-engine — the which-labels-confuse eval beside q193's kNN accuracy)",
    oracle="""
        WITH e AS (
          SELECT vec_id, label AS true_label, CAST(t.i AS INT) AS dim,
                 CAST(round(CAST(embedding[CAST(t.i AS INT)] AS DOUBLE)
                      * 10000, 0) AS BIGINT) AS xi
          FROM embeddings, range(1, 65) t(i)),
        ln AS (SELECT label, count(*) AS n FROM embeddings GROUP BY 1),
        cent AS (
          SELECT e.true_label AS label, e.dim, sum(e.xi) AS s
          FROM e GROUP BY 1, 2),
        sc AS (
          SELECT e.vec_id, e.true_label, c.label AS cand,
                 sum((ln.n * e.xi - c.s) * (ln.n * e.xi - c.s)) AS dn
          FROM e JOIN cent c ON c.dim = e.dim
                 JOIN ln ON ln.label = c.label
          GROUP BY 1, 2, 3),
        pick AS (
          SELECT true_label, cand AS pred_label,
                 row_number() OVER (
                   PARTITION BY vec_id
                   ORDER BY CAST(sc.dn AS DOUBLE)
                            / (CAST(ln.n AS DOUBLE)
                               * CAST(ln.n AS DOUBLE)),
                            cand) AS rk
          FROM sc JOIN ln ON ln.label = sc.cand)
        SELECT true_label, pred_label, count(*) AS n_vectors
        FROM pick WHERE rk = 1
        GROUP BY 1, 2 ORDER BY true_label, pred_label
    """,
)
def q252_centroid_confusion(spark: SparkSession, sf_dir: str
                            ) -> DataFrame:
    """Nearest-centroid confusion matrix over the embedding column —
    WHICH labels confuse with which, the eval read beside q193's kNN
    accuracy scalar. Exactness is the point: components scale to
    integers (round(x*1e4) — away-from-zero in both engines), label
    centroids stay as (sum S, count n) EXACT DECIMAL pairs (no float
    mean), and the squared distance to label L is compared via
    D_L = sum_dims (n_L*x_i - S_{L,i})^2 — an exact integer — divided
    by n_L^2 as ONE correctly-rounded IEEE divide, so the argmin (with
    a label tiebreak) is deterministic cross-engine; a float-summed
    centroid mean would make the comparison order-dependent. 100 TB:
    centroids are a labels x dims relation (dimension-scale,
    broadcast); scoring is a linear explode of each vector against
    the candidate labels — no pairwise vector join ever forms."""
    emb = Catalog(spark, sf_dir).embeddings
    e = (emb.select("vec_id", F.col("label").alias("true_label"),
                    F.posexplode("embedding").alias("pos", "x"))
         .select("vec_id", "true_label",
                 (F.col("pos") + 1).alias("dim"),
                 F.round(F.col("x").cast("double") * 10000, 0)
                 .cast("bigint").alias("xi")))
    ln = emb.groupBy("label").agg(F.count(F.lit(1)).alias("n"))
    cent = (e.groupBy(F.col("true_label").alias("label"), "dim")
            .agg(F.sum(F.col("xi").cast("decimal(38,0)")).alias("s")))
    cj = (cent.join(F.broadcast(ln), "label")
          .select(F.col("label").alias("cand"), "dim", "s", "n"))
    diff = F.col("n").cast("decimal(38,0)") * F.col("xi") - F.col("s")
    sc = (e.join(F.broadcast(cj), "dim")
          .groupBy("vec_id", "true_label", "cand")
          .agg(F.sum(diff * diff).alias("dn"),
               F.min("n").alias("n")))
    d2 = (F.col("dn").cast("double")
          / (F.col("n").cast("double") * F.col("n").cast("double")))
    pick = (sc.withColumn("rk", F.row_number().over(
        Window.partitionBy("vec_id").orderBy(d2.asc(), F.col("cand"))))
        .filter(F.col("rk") == 1))
    return (pick.groupBy("true_label",
                         F.col("cand").alias("pred_label"))
            .agg(F.count(F.lit(1)).alias("n_vectors"))
            .orderBy("true_label", "pred_label"))


# =====================================================================
# Relational division, concentration / distribution-shift statistics,
# graph assortativity, change-points and cohort value curves (q253-q261).
# Exactness conventions: money in integer cents via
# ``CAST(x AS DECIMAL(18,2)) * 100``; cross-engine floats only as ONE
# final IEEE divide (or divide+sqrt tree) of exact integer operands;
# dates emitted as yyyy-MM-dd strings; oracle sums stay BIGINT/HUGEINT
# while Spark carries DECIMAL(38) for 100 TB headroom.
# =====================================================================

@_register(
    "q253_relational_division",
    survey="net-new relational division (universal quantification: customers whose orders span ALL order priorities — count-distinct-equals-domain rewrite of the double-NOT-EXISTS textbook form; the classic FOR-ALL surface)",
    oracle="""
        WITH per AS (
          SELECT o_custkey,
                 count(DISTINCT o_orderpriority) AS n_priorities
          FROM orders GROUP BY 1),
        dom AS (SELECT count(DISTINCT o_orderpriority) AS d FROM orders)
        SELECT per.n_priorities,
               CAST(count(*) AS BIGINT) AS n_customers,
               (per.n_priorities = dom.d) AS spans_all
        FROM per, dom
        GROUP BY per.n_priorities, dom.d
        ORDER BY per.n_priorities
    """,
)
def q253_relational_division(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational division (universal quantification): which customers
    ordered under EVERY priority class. The textbook double-NOT-EXISTS
    decorrelates to ``count(distinct attr) per key == |attr domain|`` —
    one map-side-combinable aggregate over the fact keyed by customer
    plus a 1-row domain-count frame, instead of a per-customer
    correlated subquery pair (the oracle keeps the domain subquery so
    both engines derive |domain| from data, never a literal). Output
    is the distinct-priority-count histogram with the division answer
    as the ``spans_all`` top row. 100 TB: groupBy(o_custkey) is the
    only row-grain shuffle (partial count-distinct map-side); the
    domain count is a broadcast scalar frame (plan-audit SCALAR_FRAME
    class)."""
    cat = Catalog(spark, sf_dir)
    per = (cat.orders.groupBy("o_custkey")
           .agg(F.countDistinct("o_orderpriority").alias("n_priorities")))
    dom = cat.orders.agg(
        F.countDistinct("o_orderpriority").alias("_dom"))
    hist = per.groupBy("n_priorities").agg(
        F.count(F.lit(1)).alias("n_customers"))
    return (hist.crossJoin(F.broadcast(dom))
            .select("n_priorities", "n_customers",
                    (F.col("n_priorities") == F.col("_dom"))
                    .alias("spans_all"))
            .orderBy("n_priorities"))


@_register(
    "q256_weighted_quantiles",
    survey="net-new weighted quantiles (token-WEIGHTED median/p90 of document length per source — weighted value-domain histogram + prefix sums, pure integer threshold comparisons, no float anywhere; distinct from every unweighted quantile site q212/q234/q239/q242/q246)",
    oracle="""
        WITH t AS (
          SELECT source,
                 CAST(len(string_split_regex(text, '\\s+')) AS BIGINT)
                   AS n_tokens
          FROM documents),
        h AS (
          SELECT source, n_tokens, sum(n_tokens) AS w
          FROM t GROUP BY 1, 2),
        c AS (
          SELECT source, n_tokens, w,
                 sum(w) OVER (PARTITION BY source ORDER BY n_tokens
                              ROWS UNBOUNDED PRECEDING) AS cum,
                 sum(w) OVER (PARTITION BY source) AS tot
          FROM h)
        SELECT source,
               CAST(max(tot) AS BIGINT) AS total_tokens,
               min(CASE WHEN 2 * cum >= tot THEN n_tokens END)
                 AS w_median_tokens,
               min(CASE WHEN 10 * cum >= 9 * tot THEN n_tokens END)
                 AS w_p90_tokens
        FROM c GROUP BY source
        ORDER BY source
    """,
)
def q256_weighted_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-weighted quantiles of document length per source: "the doc
    length below which half (90%) of the TOKENS live" — the
    sequence-packing / context-budget planning number, where the
    unweighted median (q212-class) answers a different question
    ("half the DOCS"). Entirely integer: weighted value-domain
    histogram (length -> sum of tokens), per-source prefix sums over
    the bounded length domain, and the quantile is the smallest length
    whose doubled (10×) cumulative weight clears the total (9× total)
    — threshold comparisons in exact BIGINT, no division, no floats,
    so the oracle match is definitionally bit-exact. 100 TB: one
    map-side-combined histogram aggregate; the window runs over the
    per-source LENGTH DOMAIN (value-bounded), never over documents."""
    cat = Catalog(spark, sf_dir)
    t = cat.documents.select(
        "source",
        F.size(F.split(F.col("text"), r"\s+")).cast("bigint")
        .alias("n_tokens"))
    h = t.groupBy("source", "n_tokens").agg(
        F.sum("n_tokens").alias("w"))
    wc = (Window.partitionBy("source").orderBy("n_tokens")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    wt = Window.partitionBy("source")
    c = (h.withColumn("cum", F.sum("w").over(wc))
         .withColumn("tot", F.sum("w").over(wt)))
    return (c.groupBy("source")
            .agg(F.max("tot").alias("total_tokens"),
                 F.min(F.when(2 * F.col("cum") >= F.col("tot"),
                              F.col("n_tokens"))).alias("w_median_tokens"),
                 F.min(F.when(10 * F.col("cum") >= 9 * F.col("tot"),
                              F.col("n_tokens"))).alias("w_p90_tokens"))
            .orderBy("source"))


@_register(
    "q255_t_closeness",
    survey="net-new t-closeness privacy audit (per-QI-group EMD between the group's and the global ordered-sensitive-attribute distribution, Li et al. 2007 — completes the k-anonymity (q142) / l-diversity (q220) release-gate triptych; EMD over an ordered domain = sum of |cumulative differences|, exact after n_group x n_total cross-scaling)",
    oracle="""
        WITH b AS (
          SELECT c_mktsegment, n_name,
                 CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_kbucket
          FROM customer JOIN nation ON c_nationkey = n_nationkey),
        cells AS (
          SELECT c_mktsegment, n_name, bal_kbucket, count(*) AS c_gb
          FROM b GROUP BY 1, 2, 3),
        grp AS (
          SELECT c_mktsegment, n_name, count(*) AS n_g
          FROM b GROUP BY 1, 2),
        bk AS (
          SELECT bal_kbucket, count(*) AS c_b FROM b GROUP BY 1),
        bkc AS (
          SELECT bal_kbucket, c_b,
                 sum(c_b) OVER (ORDER BY bal_kbucket
                                ROWS UNBOUNDED PRECEDING) AS cum_b
          FROM bk),
        tot AS (SELECT count(*) AS n,
                       count(DISTINCT bal_kbucket) AS nb FROM b),
        grid AS (
          SELECT g.c_mktsegment, g.n_name, g.n_g,
                 k.bal_kbucket, k.cum_b,
                 coalesce(c.c_gb, 0) AS c_gb
          FROM grp g CROSS JOIN bkc k
          LEFT JOIN cells c
            ON c.c_mktsegment = g.c_mktsegment
           AND c.n_name = g.n_name AND c.bal_kbucket = k.bal_kbucket),
        cg AS (
          SELECT c_mktsegment, n_name, n_g, cum_b,
                 sum(c_gb) OVER (PARTITION BY c_mktsegment, n_name
                                 ORDER BY bal_kbucket
                                 ROWS UNBOUNDED PRECEDING) AS cum_g
          FROM grid)
        SELECT cg.c_mktsegment, cg.n_name,
               max(cg.n_g) AS n_rows,
               CAST(sum(abs(tot.n * cg.cum_g - cg.n_g * cg.cum_b))
                    AS DOUBLE)
                 / (CAST(max(cg.n_g) AS DOUBLE) * CAST(tot.n AS DOUBLE)
                    * CAST(tot.nb - 1 AS DOUBLE)) AS t_closeness
        FROM cg, tot
        GROUP BY cg.c_mktsegment, cg.n_name, tot.n, tot.nb
        ORDER BY cg.c_mktsegment, cg.n_name
    """,
)
def q255_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness (Li et al. 2007): for each quasi-identifier group
    (segment, nation), the Earth Mover's Distance between the group's
    and the global distribution of the ORDERED sensitive attribute
    (the q142 acctbal k-bucket) — the release gate l-diversity misses
    when a group's sensitive values are diverse but skewed. Over an
    ordered domain EMD reduces to the sum of |cumulative differences|;
    cross-scaling by n x n_g keeps every term an exact integer
    (DECIMAL(38) Spark-side for 100 TB, BIGINT in the fixture-bounded
    oracle), normalized once by n_g * n * (B-1) in a single IEEE
    divide — bit-identical cross-engine, emitted UNROUNDED. Zero cells
    are materialized via the group x bucket-domain grid (the q217
    chi-square discipline). 100 TB: every relation after the first
    aggregate is attribute-domain-bounded (groups x buckets); the
    per-group window runs over ≤|bucket domain| rows."""
    cat = Catalog(spark, sf_dir)
    b = (cat.customer.join(
            F.broadcast(cat.nation.select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"))
         .select("c_mktsegment", "n_name",
                 F.floor(F.col("c_acctbal") / 1000).alias("bal_kbucket")))
    cells = b.groupBy("c_mktsegment", "n_name", "bal_kbucket").agg(
        F.count(F.lit(1)).alias("c_gb"))
    grp = b.groupBy("c_mktsegment", "n_name").agg(
        F.count(F.lit(1)).alias("n_g"))
    wb = (Window.orderBy("bal_kbucket")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    bkc = (b.groupBy("bal_kbucket").agg(F.count(F.lit(1)).alias("c_b"))
           .withColumn("cum_b", F.sum("c_b").over(wb))
           .drop("c_b"))
    tot = b.agg(F.count(F.lit(1)).alias("_n"),
                F.countDistinct("bal_kbucket").alias("_nb"))
    grid = (grp.crossJoin(F.broadcast(bkc))
            .join(cells, ["c_mktsegment", "n_name", "bal_kbucket"],
                  "left")
            .withColumn("c_gb", F.coalesce(F.col("c_gb"), F.lit(0))))
    wg = (Window.partitionBy("c_mktsegment", "n_name")
          .orderBy("bal_kbucket")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cg = grid.withColumn("cum_g", F.sum("c_gb").over(wg))
    term = F.abs(F.col("_n").cast("decimal(38,0)") * F.col("cum_g")
                 - F.col("n_g").cast("decimal(38,0)") * F.col("cum_b"))
    return (cg.crossJoin(F.broadcast(tot))
            .groupBy("c_mktsegment", "n_name")
            .agg(F.max("n_g").alias("n_rows"),
                 (F.sum(term).cast("double")
                  / (F.max("n_g").cast("double")
                     * F.max("_n").cast("double")
                     * (F.max("_nb") - 1).cast("double")))
                 .alias("t_closeness"))
            .orderBy("c_mktsegment", "n_name"))


@_register(
    "q254_gini_concentration",
    survey="net-new Gini / Lorenz revenue concentration (customer lifetime revenue inequality from exact integer-cents rank-weighted sums via the adaptive global-ranks machinery — G = (2*S1 - (n+1)*S)/(n*S), ONE IEEE divide; complements q248's HHI share-of-squares with the rank-based concentration read)",
    oracle="""
        WITH r AS (
          SELECT o_custkey,
                 sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                          AS BIGINT)) AS rev_c
          FROM orders GROUP BY 1),
        rn AS (
          SELECT rev_c,
                 row_number() OVER (ORDER BY rev_c, o_custkey) AS i
          FROM r),
        nn AS (SELECT count(*) AS n FROM r),
        m AS (
          SELECT nn.n AS n, sum(rev_c) AS s, sum(i * rev_c) AS s1,
                 sum(CASE WHEN 2 * i <= nn.n THEN rev_c
                          ELSE 0 END) AS bh
          FROM rn, nn GROUP BY nn.n)
        SELECT CAST(n AS BIGINT) AS n_customers,
               round(CAST(s AS DOUBLE) / 100, 2) AS total_revenue,
               CAST(2 * s1 - (n + 1) * s AS DOUBLE)
                 / (CAST(n AS DOUBLE) * CAST(s AS DOUBLE)) AS gini,
               CAST(bh AS DOUBLE) / CAST(s AS DOUBLE)
                 AS bottom_half_rev_share
        FROM m
    """,
)
def q254_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer lifetime revenue + the Lorenz
    bottom-half share — the rank-based inequality read beside q248's
    HHI. Revenue stays exact integer cents; the global ascending rank
    comes from ``ranks.global_row_numbers`` (adaptive: plain window
    under the size probe, range-partitioned above — the q101-certified
    construction, so the customer-grain sort is never a single
    partition at scale). With x sorted ascending and i = 1..n,
    G = (2*sum(i*x_i) - (n+1)*sum(x)) / (n*sum(x)): numerator and
    denominator are exact DECIMAL(38) (BIGINT in the fixture-bounded
    oracle), the quotient ONE IEEE divide — bit-identical
    cross-engine, emitted UNROUNDED. Rank ties cannot affect the sums
    (equal x within a tie group makes sum(i*x) tie-order invariant),
    but the (rev, custkey) order is total anyway. 100 TB: one
    customer-grain aggregate, one distributed rank, one scalar moment
    aggregate."""
    from .operators.ranks import global_row_numbers
    cat = Catalog(spark, sf_dir)
    cents = F.expr(
        "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
    r = (cat.orders.select("o_custkey", cents.alias("c"))
         .groupBy("o_custkey")
         .agg(F.sum(F.col("c").cast("decimal(38,0)")).alias("rev_c")))
    rn = global_row_numbers(
        r, [F.col("rev_c").asc(), F.col("o_custkey").asc()], out_col="i")
    nfr = r.agg(F.count(F.lit(1)).alias("_n"))
    m = (rn.crossJoin(F.broadcast(nfr))
         .agg(F.max("_n").alias("n"),
              F.sum("rev_c").alias("s"),
              F.sum(F.col("i").cast("decimal(38,0)") * F.col("rev_c"))
              .alias("s1"),
              F.sum(F.when(2 * F.col("i") <= F.col("_n"),
                           F.col("rev_c")).otherwise(F.lit(0)))
              .alias("bh")))
    n_d = F.col("n").cast("double")
    s_d = F.col("s").cast("double")
    return m.select(
        F.col("n").cast("bigint").alias("n_customers"),
        F.round(s_d / 100, 2).alias("total_revenue"),
        ((2 * F.col("s1") - (F.col("n") + 1).cast("decimal(38,0)")
          * F.col("s")).cast("double") / (n_d * s_d)).alias("gini"),
        (F.col("bh").cast("double") / s_d).alias("bottom_half_rev_share"))


@_register(
    "q257_degree_assortativity",
    survey="net-new graph degree audit + assortativity (degree-degree Pearson over interaction-graph edge endpoints from exact integer moment sums — the graph-health read beside q141's PageRank and q167's triangles; hub-hub vs hub-leaf wiring decides whether degree-keyed partitioning skews)",
    oracle="""
        WITH e AS (
          SELECT DISTINCT o_custkey AS u, l_partkey AS i
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        du AS (SELECT u, count(*) AS d FROM e GROUP BY 1),
        di AS (SELECT i, count(*) AS d FROM e GROUP BY 1),
        ej AS (
          SELECT du.d AS x, di.d AS y
          FROM e JOIN du ON e.u = du.u JOIN di ON e.i = di.i),
        m AS (
          SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
                 sum(x * x) AS sxx, sum(y * y) AS syy,
                 sum(x * y) AS sxy, max(x) AS mx, max(y) AS my
          FROM ej)
        SELECT CAST(n AS BIGINT) AS n_edges,
               CAST(n * sxy - sx * sy AS DOUBLE)
                 / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                        * CAST(n * syy - sy * sy AS DOUBLE))
                 AS assortativity,
               CAST(mx AS BIGINT) AS max_user_degree,
               CAST(my AS BIGINT) AS max_item_degree
        FROM m
    """,
)
def q257_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the customer-part interaction graph:
    Pearson correlation between the user-side and item-side degrees
    across edges — positive means hubs wire to hubs (degree-keyed
    shuffles will skew together), negative means hub-leaf wiring (the
    salting target is one side only). All five moment sums (n, Σx, Σy,
    Σx², Σy², Σxy) accumulate as exact integers (DECIMAL(38) Spark /
    HUGEINT oracle); the coefficient is the fixed IEEE tree
    num/sqrt(a·b) over exact-valued casts — deterministic cross-engine
    (each int→double cast, the product, the sqrt, and the divide are
    all correctly rounded), emitted UNROUNDED. 100 TB: the edge
    relation shuffles once per degree join (hash on u, then on i — AQE
    handles the skewed-hub case this query measures); the moment
    aggregate is map-side combined."""
    cat = Catalog(spark, sf_dir)
    e = (cat.lineitem.select("l_orderkey", "l_partkey")
         .join(cat.orders.select("o_orderkey", "o_custkey"),
               F.col("l_orderkey") == F.col("o_orderkey"))
         .select(F.col("o_custkey").alias("u"),
                 F.col("l_partkey").alias("i")).distinct())
    du = e.groupBy("u").agg(F.count(F.lit(1)).alias("x"))
    di = e.groupBy("i").agg(F.count(F.lit(1)).alias("y"))
    ej = e.join(du, "u").join(di, "i")
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    m = ej.agg(F.count(F.lit(1)).alias("n"),
               F.sum(dec("x")).alias("sx"), F.sum(dec("y")).alias("sy"),
               F.sum(dec("x") * dec("x")).alias("sxx"),
               F.sum(dec("y") * dec("y")).alias("syy"),
               F.sum(dec("x") * dec("y")).alias("sxy"),
               F.max("x").alias("mx"), F.max("y").alias("my"))
    n = dec("n")
    num = (n * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    va = (n * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    vb = (n * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    return m.select(
        F.col("n").cast("bigint").alias("n_edges"),
        (num / F.sqrt(va * vb)).alias("assortativity"),
        F.col("mx").cast("bigint").alias("max_user_degree"),
        F.col("my").cast("bigint").alias("max_item_degree"))


@_register(
    "q258_cusum_changepoint",
    survey="net-new CUSUM change-point localization (per event type over daily counts: argmax |prefix(n*x_i - S)| in n-scaled integers — the q252 exact-comparison discipline applied to drift LOCALIZATION, where q175's PSI and q225's slopes only measure drift magnitude; F8: fixture daily counts are Poisson-flat, so the read is honestly 'peak consistent with noise')",
    oracle="""
        WITH d AS (
          SELECT event_type,
                 strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
                 CAST(count(*) AS BIGINT) AS x
          FROM events GROUP BY 1, 2),
        s AS (
          SELECT event_type, day, x,
                 CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT)
                   AS n_days,
                 sum(x) OVER (PARTITION BY event_type) AS tot
          FROM d),
        c AS (
          SELECT event_type, day, n_days,
                 sum(n_days * x - tot) OVER (
                   PARTITION BY event_type ORDER BY day
                   ROWS UNBOUNDED PRECEDING) AS cusum
          FROM s),
        r AS (
          SELECT event_type, day, n_days, cusum,
                 row_number() OVER (PARTITION BY event_type
                                    ORDER BY abs(cusum) DESC, day ASC)
                   AS rk
          FROM c)
        SELECT event_type, day AS change_day,
               CAST(abs(cusum) AS DOUBLE) / CAST(n_days AS DOUBLE)
                 AS cusum_peak,
               n_days
        FROM r WHERE rk = 1
        ORDER BY event_type
    """,
)
def q258_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point localization per event type: the day k
    maximizing |Σ_{i≤k}(x_i − x̄)| over the daily-count series — the
    standard level-shift locator. Computed without ever forming x̄:
    the prefix of n·x_i − S is exactly n·(P_k − k·x̄), so all
    accumulation is integer (n-scaled, the q252 discipline) and the
    single IEEE divide by n lands the classic CUSUM peak in count
    units. Tiebreak: earliest day. Days emitted as yyyy-MM-dd STRINGS
    (the q246 dtype-gate convention; ISO strings sort
    chronologically). 100 TB: both windows run over the (type × day)
    relation — horizon-bounded (the q244 exception class), never
    event-grain; the daily-count aggregate beneath is map-side
    combined."""
    cat = Catalog(spark, sf_dir)
    d = (cat.events.groupBy(
            "event_type",
            F.date_format(F.col("ts").cast("date"), "yyyy-MM-dd")
            .alias("day"))
         .agg(F.count(F.lit(1)).alias("x")))
    wt = Window.partitionBy("event_type")
    wc = (Window.partitionBy("event_type").orderBy("day")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    s = (d.withColumn("n_days", F.count(F.lit(1)).over(wt))
         .withColumn("tot", F.sum("x").over(wt)))
    c = s.withColumn(
        "cusum",
        F.sum(F.col("n_days") * F.col("x") - F.col("tot")).over(wc))
    wr = Window.partitionBy("event_type").orderBy(
        F.abs(F.col("cusum")).desc(), F.col("day").asc())
    return (c.withColumn("rk", F.row_number().over(wr))
            .filter(F.col("rk") == 1)
            .select("event_type", F.col("day").alias("change_day"),
                    (F.abs(F.col("cusum")).cast("double")
                     / F.col("n_days").cast("double")).alias("cusum_peak"),
                    "n_days")
            .orderBy("event_type"))


@_register(
    "q259_ks_aa_test",
    survey="net-new two-sample Kolmogorov-Smirnov statistic (purchase-vs-view event values — the distributional A/A twin of q247's proportion z-test, F8: value is type-independent by construction so the honest read is null-calibration; exact cross-multiplied integer ECDF gap n_v*CP(v) - n_p*CV(v) prefix-summed over the near-unique value domain via the adaptive ranks machinery)",
    oracle="""
        WITH ev AS (
          SELECT event_type, value FROM events
          WHERE event_type IN ('purchase', 'view')),
        n AS (
          SELECT sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS np,
                 sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                   AS nv
          FROM ev),
        pv AS (
          SELECT value,
                 sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS pc,
                 sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                   AS vc
          FROM ev GROUP BY value),
        c AS (
          SELECT value,
                 sum(n.nv * pv.pc - n.np * pv.vc) OVER (
                   ORDER BY value ROWS UNBOUNDED PRECEDING) AS gap
          FROM pv, n),
        d AS (SELECT max(abs(gap)) AS dmax FROM c),
        at_v AS (
          SELECT min(value) AS ks_at_value
          FROM c, d WHERE abs(c.gap) = d.dmax)
        SELECT CAST(n.np AS BIGINT) AS n_purchase,
               CAST(n.nv AS BIGINT) AS n_view,
               CAST(d.dmax AS DOUBLE)
                 / (CAST(n.np AS DOUBLE) * CAST(n.nv AS DOUBLE)) AS ks_d,
               at_v.ks_at_value
        FROM n, d, at_v
    """,
)
def q259_ks_aa_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample KS statistic between purchase and view event values —
    framed as the distributional A/A companion to q247's proportion
    z-test (F8: ``value`` is type-independent by construction, so a
    large D here means the pipeline broke, not the data drifted).
    Exact: per distinct value the scaled ECDF gap
    n_v·CP(v) − n_p·CV(v) accumulates as the prefix sum of integer
    per-value deltas (one ``ranks.global_prefix_sum`` over the value
    order — adaptive: plain window under the size probe, the
    range-partitioned construction above it, because the value domain
    is NEAR-UNIQUE and therefore event-grain at 100 TB — exactly the
    q251 wall class, handled by the same machinery). D = max|gap| with
    the earliest attaining value, normalized by ONE IEEE divide by
    n_p·n_v. Build-time note: the adaptive size probe is a bounded
    metadata action (driver-metadata-probe class). 100 TB: per-value
    counts are map-side combined; the argmax is a 1-row frame
    semi-join, never a global order-by-|gap| window."""
    from .operators.ranks import RANKS_SMALL_INPUT_MAX, global_prefix_sum
    cat = Catalog(spark, sf_dir)
    ev = (cat.events.filter(F.col("event_type").isin("purchase", "view"))
          .select("event_type", "value"))
    nfr = ev.agg(
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .alias("np"),
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .alias("nv"))
    pv = ev.groupBy("value").agg(
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .alias("pc"),
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .alias("vc"))
    delta = (pv.crossJoin(F.broadcast(nfr))
             .select("value",
                     (F.col("nv").cast("decimal(38,0)") * F.col("pc")
                      - F.col("np").cast("decimal(38,0)") * F.col("vc"))
                     .alias("delta")))
    c = global_prefix_sum(delta, [F.col("value").asc()], "delta",
                          out_col="gap",
                          small_input_max=RANKS_SMALL_INPUT_MAX)
    dfr = c.agg(F.max(F.abs(F.col("gap"))).alias("dmax"))
    at_v = (c.join(F.broadcast(dfr),
                   F.abs(F.col("gap")) == F.col("dmax"))
            .agg(F.min("value").alias("ks_at_value")))
    return (nfr.crossJoin(F.broadcast(dfr)).crossJoin(F.broadcast(at_v))
            .select(F.col("np").cast("bigint").alias("n_purchase"),
                    F.col("nv").cast("bigint").alias("n_view"),
                    (F.col("dmax").cast("double")
                     / (F.col("np").cast("double")
                        * F.col("nv").cast("double"))).alias("ks_d"),
                    "ks_at_value"))


@_register(
    "q260_knn_hubness",
    survey="net-new kNN-graph hubness audit (in-degree histogram of the exact int8-quantized top-k graph over a deterministic probe subset — the hub-vector concentration diagnosis that motivates q190's margin criterion; bounded-probe contract, integer dot ranking, zero-degree mass included)",
    oracle="""
        WITH qz AS (
          SELECT vec_id,
                 CASE WHEN list_max(list_transform(embedding,
                                                   x -> abs(x))) = 0
                      THEN list_transform(embedding,
                                          x -> CAST(0 AS BIGINT))
                      ELSE list_transform(embedding, x -> CAST(floor(
                           x::DOUBLE * 127.0 /
                           list_max(list_transform(embedding,
                                    y -> abs(y)))::DOUBLE)
                           AS BIGINT)) END AS q
          FROM embeddings),
        scored AS (
          SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                 CAST(list_sum(list_transform(range(1, len(a.q) + 1),
                      i -> a.q[i] * b.q[i])) AS BIGINT) AS qdot
          FROM qz a JOIN qz b
            ON a.vec_id % 16 = 0 AND b.vec_id <> a.vec_id),
        ranked AS (
          SELECT query_id, neighbor_id,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY qdot DESC, neighbor_id ASC)
                   AS rank
          FROM scored),
        indeg AS (
          SELECT neighbor_id, CAST(count(*) AS BIGINT) AS in_degree
          FROM ranked WHERE rank <= 5 GROUP BY 1),
        hist AS (
          SELECT in_degree, CAST(count(*) AS BIGINT) AS n_vectors
          FROM indeg GROUP BY 1),
        z AS (
          SELECT CAST(0 AS BIGINT) AS in_degree,
                 (SELECT count(*) FROM embeddings)
                   - (SELECT count(*) FROM indeg) AS n_vectors)
        SELECT in_degree, n_vectors FROM hist
        UNION ALL SELECT in_degree, n_vectors FROM z
        ORDER BY in_degree
    """,
)
def q260_knn_hubness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hubness audit of the embedding space: how unevenly do vectors
    appear in other vectors' top-k — the pathology (Radovanović et al.
    2010) that q190's margin criterion exists to suppress. The exact
    top-5 graph is built by ``similarity.quantized_topk`` (q117's
    int8 integer-dot ranking — exact, deterministic, oracle-certified)
    over the deterministic probe subset ``vec_id % 16 == 0`` (the
    bounded-probe contract every ANN tier certifies under); in-degrees
    roll into a histogram with the zero-degree mass included via one
    scalar subtraction, so "share of the corpus never retrieved" reads
    directly off the first row. 100 TB: probes broadcast, the corpus
    scan never shuffles (per-query top-k prunes map-side via the
    WindowGroupLimit partial), and the histogram is value-domain."""
    from .operators import similarity as sim
    cat = Catalog(spark, sf_dir)
    emb = cat.embeddings
    probes = emb.filter(F.col("vec_id") % 16 == 0)
    topk = sim.quantized_topk(emb, probes, k=5)
    indeg = (topk.groupBy("neighbor_id")
             .agg(F.count(F.lit(1)).alias("in_degree")))
    hist = (indeg.groupBy("in_degree")
            .agg(F.count(F.lit(1)).alias("n_vectors")))
    ntot = emb.agg(F.count(F.lit(1)).alias("_nt"))
    napp = indeg.agg(F.count(F.lit(1)).alias("_na"))
    zero = (ntot.crossJoin(napp)
            .select(F.lit(0).cast("bigint").alias("in_degree"),
                    (F.col("_nt") - F.col("_na")).alias("n_vectors")))
    return hist.unionByName(zero).orderBy("in_degree")


@_register(
    "q261_cohort_ltv_curve",
    survey="net-new weekly-cohort LTV accumulation curve (per first-purchase-week cohort: cumulative revenue per user by cohort age in weeks — the revenue-accumulation read q137's retention counts, q237's state transitions, and q242's latency quantiles all miss; exact integer-cents cumulative sums over the horizon-bounded (cohort x age) grid)",
    oracle="""
        WITH p AS (
          SELECT user_id,
                 (date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
                  // 7) AS wk,
                 CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
          FROM events WHERE event_type = 'purchase'),
        f AS (SELECT user_id, min(wk) AS cw FROM p GROUP BY 1),
        cs AS (SELECT cw, CAST(count(*) AS BIGINT) AS n_users
               FROM f GROUP BY 1),
        a AS (
          SELECT f.cw, p.wk - f.cw AS age, sum(p.c) AS rev_c
          FROM p JOIN f ON p.user_id = f.user_id
          GROUP BY 1, 2),
        cum AS (
          SELECT cw, age,
                 sum(rev_c) OVER (PARTITION BY cw ORDER BY age
                                  ROWS UNBOUNDED PRECEDING) AS cum_c
          FROM a)
        SELECT CAST(cum.cw AS BIGINT) AS cohort_week,
               CAST(cum.age AS BIGINT) AS age_weeks,
               cs.n_users,
               round(CAST(cum.cum_c AS DOUBLE) / 100, 2) AS cum_revenue,
               CAST(cum.cum_c AS DOUBLE)
                 / (100.0 * CAST(cs.n_users AS DOUBLE)) AS ltv_per_user
        FROM cum JOIN cs ON cum.cw = cs.cw
        ORDER BY cohort_week, age_weeks
    """,
)
def q261_cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV accumulation: users cohorted by FIRST-purchase
    calendar week, revenue accumulated by cohort age — "how much has a
    week-w signup cohort spent per head by age k", the curve whose
    flattening point prices acquisition. Week indexes are integer day
    arithmetic from the q241 epoch (never date_trunc — engine week
    conventions differ); revenue accumulates as exact integer cents
    (DECIMAL(18,2)·100); the cumulative window runs per cohort over
    the AGE domain (horizon-bounded — the q244 exception class);
    per-user LTV is the fixed tree cents/(100·n_users), two
    correctly-rounded IEEE ops over exact operands, emitted UNROUNDED
    beside the q254-convention rounded total. Ages with zero purchases
    are simply absent (the cumulative is still correct at every
    observed age; a reporting layer can forward-fill). 100 TB: one
    row-grain first-purchase aggregate keyed by user, one
    (cohort, age) aggregate — both map-side combined; everything after
    is grid-sized."""
    cat = Catalog(spark, sf_dir)
    p = (cat.events.filter(F.col("event_type") == "purchase")
         .select("user_id",
                 F.floor(F.datediff(F.col("ts").cast("date"),
                                    F.lit("2024-01-01").cast("date")) / 7)
                 .alias("wk"),
                 F.expr("CAST(CAST(value AS DECIMAL(18,2)) * 100"
                        " AS BIGINT)").alias("c")))
    f = p.groupBy("user_id").agg(F.min("wk").alias("cw"))
    cs = f.groupBy("cw").agg(F.count(F.lit(1)).alias("n_users"))
    a = (p.join(f, "user_id")
         .groupBy("cw", (F.col("wk") - F.col("cw")).alias("age"))
         .agg(F.sum(F.col("c").cast("decimal(38,0)")).alias("rev_c")))
    wc = (Window.partitionBy("cw").orderBy("age")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = a.withColumn("cum_c", F.sum("rev_c").over(wc))
    return (cum.join(cs, "cw")
            .select(F.col("cw").cast("bigint").alias("cohort_week"),
                    F.col("age").cast("bigint").alias("age_weeks"),
                    "n_users",
                    F.round(F.col("cum_c").cast("double") / 100, 2)
                    .alias("cum_revenue"),
                    (F.col("cum_c").cast("double")
                     / (F.lit(100.0) * F.col("n_users").cast("double")))
                    .alias("ltv_per_user"))
            .orderBy("cohort_week", "age_weeks"))


#: Rows-only audit (VERDICT r9 #8): every registry query WITHOUT a DuckDB
#: oracle carries a one-line proof that no SQL-expressible value invariant
#: exists — i.e. the missing oracle is a property of the operator's
#: semantics, not an evidence gap. Each is driver-executed clean and
#: sha256-value-pinned (tests/test_snapshot_pins.py, 3-fresh-sessions
#: protocol). `tests/test_oracle_parity.py` asserts this table is
#: EXACTLY the oracle-less registry subset, so a new rows-only query
#: cannot ship without writing its proof line (or an oracle).
_ROWS_ONLY_PROOFS: dict[str, str] = {
    "q53_als_recommend": (
        "ALS factors come from Spark's blocked seeded NNLS/CG solver — "
        "float fixpoint whose accumulation order is engine-internal; no "
        "SQL engine can replay the factorization. Value evidence: seeded "
        "metric pin (RMSE/top-k shape) + mllib parity tests."),
    "q54_stratified_sample": (
        "Key keep-set drawn by df.sample (XORShiftRandom, per-partition "
        "stream tied to Spark's split planning) — DuckDB has no "
        "XORShiftRandom; replaying would require re-implementing Spark's "
        "partitioner. Invariant tested instead: every kept key keeps ALL "
        "its rows (semi-join property) + pinned keep-set."),
    "q55_hash_sample": (
        "Keep predicate is xxhash64(key, salt) — Spark-native hash with "
        "no DuckDB builtin; this query certifies precisely the "
        "engine-reproducible xxhash tier. The cross-engine-checkable "
        "convention is modulo_sample (q102/q105/q107, oracle-green); "
        "rewriting q55 onto it would duplicate those, not add evidence."),
    "q56_minhash_pairs": (
        "MinHash signatures are minima of xxhash64-derived hash families "
        "— engine-specific hash, so the banded candidate set is not "
        "SQL-replayable. Exact-Jaccard verification of emitted pairs IS "
        "tested (cap=1 candidate-set equality + jaccard recompute)."),
    "q57_simhash_groups": (
        "SimHash bit votes are signs over xxhash64 token hashes — same "
        "xxhash64 non-replayability as q55/q56; grouping is exact given "
        "the signature, which is pinned."),
    "q58_ivf_topk": (
        "Coarse quantizer is a seeded pyspark.ml KMeans fit (float "
        "iterative, BLAS accumulation order) — the probe-cell candidate "
        "set depends on trained centroids no SQL engine reproduces. "
        "Recall-vs-brute-force is measured in tests instead."),
    "q59_brp_lsh_neighbors": (
        "Projection vectors are drawn from Spark's seeded Gaussian RNG "
        "inside BucketedRandomProjectionLSH — engine-internal randomness; "
        "neighbor-pair distances are verified exact post-hoc."),
    "q61_bernoulli_sample": (
        "df.sample's XORShiftRandom keep decisions are a function of "
        "Spark's partition planning (R1/R2 parity is the point: the "
        "reference used exactly this sampler, seed=66 convention). "
        "Deterministic-given-layout, pinned; not content-derived."),
    "q64_neardup_corpus": (
        "Consumes q56's banded-MinHash candidate tier (xxhash64 "
        "signatures) before the exact-Jaccard verify — the candidate "
        "universe itself is engine-hash-specific. Winner invariants and "
        "pair-set equality vs the uncapped tier are tested."),
    "q93_quality_classifier": (
        "Logistic-regression weights come from L-BFGS (float line "
        "search, iteration-order-dependent) — scores are not "
        "SQL-replayable. Split membership IS the cross-engine "
        "modulo_sample convention; AUC/threshold behavior pinned."),
    "q127_kmeans_lloyd": (
        "Lloyd centroid means are IEEE sums whose order Spark's "
        "partitioning controls — replaying in SQL would need "
        "per-iteration rounding, i.e. a semantics change to the "
        "operator. Init is the k lowest-id vectors (deterministic); "
        "assignment invariants + tests/test_kmeans.py::_Q127_PIN "
        "(per-cluster size and mean d2) carry the value evidence."),
}
