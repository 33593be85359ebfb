"""The benchmark's project DAG: 13 models over the generated sources.

Shape (``threads=4`` waves under the FAIR scheduler)::

    seed_priority (seed) ─────────────────────────────┐
    stg_customer (table) ┬─ dim_customer (table) ─────┤
                         └─ snap_customer (snapshot) ─┼─ mart_customer_value (view)
    stg_orders (table) ── fct_orders (incr merge) ─┬─ cust_order_stats (incr delete+insert)
                                                   ├─ fct_daily_revenue (incr insert_overwrite)
                                                   └─ mart_segment_revenue (table)
    stg_lineitem (table) ┬─ mart_repo_languages (table, the flagship shape)
    stg_part (table) ────┘

The one view is a leaf: ``ref()`` deferral resolves a parent to
``<prod db>.<name>``, but a DataFrame-defined view lives as a session
temp view, so a deferred view parent would not resolve.

Incremental models read the day's ``orders_updates`` batch when their
target exists (``is_incremental()``), and their full upstream otherwise,
so a prod build is first-run CTAS and a nightly build rewrites existing
tables. ``expected_counts`` recomputes every model's row count in DuckDB
from the same parquet inputs.
"""

from __future__ import annotations

import duckdb
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dbt_ci_demo_spark.operators import quality as q
from dbt_ci_demo_spark.plans.model import Model, model

from gen import PRIORITIES, SEGMENTS


def _seed_priority(ctx) -> DataFrame:
    rows = [(p, i + 1) for i, p in enumerate(PRIORITIES)]
    sc = ctx.spark.sparkContext
    return ctx.spark.createDataFrame(
        sc.parallelize(rows, 1), "o_orderpriority string, priority_rank int"
    )


def _stg_customer(ctx) -> DataFrame:
    return ctx.source("customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_mktsegment", "c_acctbal", "c_updated_at"
    )


def _stg_orders(ctx) -> DataFrame:
    return ctx.source("orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate",
        "o_orderpriority",
    )


def _stg_lineitem(ctx) -> DataFrame:
    return ctx.source("lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity", "l_returnflag", "l_shipdate",
        (F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))).alias("l_net"),
    )


def _stg_part(ctx) -> DataFrame:
    return ctx.source("part").select("p_partkey", "p_type", "p_brand", "p_size")


def _dim_customer(ctx) -> DataFrame:
    c, n = ctx.ref("stg_customer"), ctx.source("nation")
    return c.join(n, c["c_nationkey"] == n["n_nationkey"]).select(
        "c_custkey", "c_name", "c_mktsegment", "n_name"
    )


def _fct_orders(ctx) -> DataFrame:
    if ctx.is_incremental():
        return ctx.source("orders_updates")
    return ctx.ref("stg_orders")


def _touched(ctx, column: str) -> DataFrame:
    return ctx.source("orders_updates").select(column).distinct()


def _cust_order_stats(ctx) -> DataFrame:
    o = ctx.ref("fct_orders")
    if ctx.is_incremental():
        o = o.join(_touched(ctx, "o_custkey"), "o_custkey", "left_semi")
    return o.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders"), F.sum("o_totalprice").alias("revenue")
    )


def _fct_daily_revenue(ctx) -> DataFrame:
    o = ctx.ref("fct_orders")
    if ctx.is_incremental():
        o = o.join(_touched(ctx, "o_orderdate"), "o_orderdate", "left_semi")
    return o.groupBy(F.date_format("o_orderdate", "yyyy-MM-dd").alias("ds")).agg(
        F.count(F.lit(1)).alias("n_orders"), F.sum("o_totalprice").alias("revenue")
    )


def _snap_customer(ctx) -> DataFrame:
    return ctx.ref("stg_customer").select("c_custkey", "c_acctbal", "c_updated_at")


def _mart_repo_languages(ctx) -> DataFrame:
    li, p, o = ctx.ref("stg_lineitem"), ctx.ref("stg_part"), ctx.ref("stg_orders")
    return (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy(F.col("p_type").alias("name"))
        .agg(F.countDistinct("o_orderkey").alias("repositories_number"))
    )


def _mart_segment_revenue(ctx) -> DataFrame:
    o, c, s = ctx.ref("fct_orders"), ctx.ref("dim_customer"), ctx.ref("seed_priority")
    return (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(s, "o_orderpriority")
        .groupBy("c_mktsegment", "priority_rank")
        .agg(F.count(F.lit(1)).alias("n_orders"), F.sum("o_totalprice").alias("revenue"))
    )


def _mart_customer_value(ctx) -> DataFrame:
    st, sn = ctx.ref("cust_order_stats"), ctx.ref("snap_customer")
    cur = sn.filter(F.col("dbt_valid_to").isNull())
    return st.join(cur, st["o_custkey"] == cur["c_custkey"]).select(
        "c_custkey", "n_orders", "revenue", "c_acctbal"
    )


# name -> (fn, refs, sources, config)
SPECS: dict[str, tuple] = {
    "seed_priority": (_seed_priority, [], [], {"materialized": "seed"}),
    "stg_customer": (_stg_customer, [], ["customer"], {}),
    "stg_orders": (_stg_orders, [], ["orders"], {}),
    "stg_lineitem": (_stg_lineitem, [], ["lineitem"], {}),
    "stg_part": (_stg_part, [], ["part"], {}),
    "dim_customer": (_dim_customer, ["stg_customer"], ["nation"], {}),
    "fct_orders": (_fct_orders, ["stg_orders"], ["orders_updates"], {
        "materialized": "incremental", "incremental_strategy": "merge",
        "unique_key": "o_orderkey"}),
    "cust_order_stats": (_cust_order_stats, ["fct_orders"], ["orders_updates"], {
        "materialized": "incremental", "incremental_strategy": "delete+insert",
        "unique_key": "o_custkey"}),
    "fct_daily_revenue": (_fct_daily_revenue, ["fct_orders"], ["orders_updates"], {
        "materialized": "incremental", "incremental_strategy": "insert_overwrite",
        "partition_by": "ds"}),
    "snap_customer": (_snap_customer, ["stg_customer"], [], {
        "materialized": "snapshot", "unique_key": "c_custkey", "updated_at": "c_updated_at",
        "strategy": "timestamp"}),
    "mart_repo_languages": (_mart_repo_languages,
                            ["stg_lineitem", "stg_part", "stg_orders"], [], {}),
    "mart_segment_revenue": (_mart_segment_revenue,
                             ["fct_orders", "dim_customer", "seed_priority"], [], {}),
    "mart_customer_value": (_mart_customer_value, ["cust_order_stats", "snap_customer"], [],
                            {"materialized": "view"}),
}

def models(variant: tuple[str, int] | None = None) -> dict[str, Model]:
    """The DAG. ``variant=(name, tag)`` swaps in a changed version of one
    model: same rows, different code (a tagged no-op filter), so its
    checksum differs and ``state:modified+`` selects it."""
    reg: dict[str, Model] = {}
    for name, (fn, refs, sources, cfg) in SPECS.items():
        if variant is not None and variant[0] == name:
            fn = _changed(fn, variant[1])
        model(name, refs=refs, sources=sources, registry=reg, **cfg)(fn)
    return reg


def _changed(fn, tag: int):
    def variant(ctx):
        return fn(ctx).filter(F.lit(tag) >= F.lit(0))

    return variant


def tests() -> dict[str, list]:
    """Generic tests on nine nodes (dbt ``build`` runs each right after
    its node)."""
    return {
        "stg_orders": [
            ("unique_stg_orders_o_orderkey", lambda df: q.test_unique(df, "o_orderkey")),
            ("not_null_stg_orders_o_custkey", lambda df: q.test_not_null(df, "o_custkey")),
        ],
        "dim_customer": [("unique_dim_customer_c_custkey",
                          lambda df: q.test_unique(df, "c_custkey"))],
        "fct_orders": [("unique_fct_orders_o_orderkey",
                        lambda df: q.test_unique(df, "o_orderkey"))],
        "cust_order_stats": [("unique_cust_order_stats_o_custkey",
                              lambda df: q.test_unique(df, "o_custkey"))],
        "fct_daily_revenue": [("not_null_fct_daily_revenue_ds",
                               lambda df: q.test_not_null(df, "ds"))],
        "snap_customer": [("not_null_snap_customer_dbt_valid_from",
                           lambda df: q.test_not_null(df, "dbt_valid_from"))],
        "mart_segment_revenue": [(
            "accepted_values_mart_segment_revenue_c_mktsegment",
            lambda df: q.test_accepted_values(df, "c_mktsegment", SEGMENTS),
        )],
        "mart_repo_languages": [("not_null_mart_repo_languages_name",
                                 lambda df: q.test_not_null(df, "name"))],
        "mart_customer_value": [("unique_mart_customer_value_c_custkey",
                                 lambda df: q.test_unique(df, "c_custkey"))],
    }


def downstream(roots: set[str]) -> set[str]:
    """The benchmark's own closure over SPECS (independent of the engine's
    ModelGraph, so selection is checked, not echoed)."""
    out, grew = set(roots), True
    while grew:
        grew = False
        for name, (_, refs, _, _) in SPECS.items():
            if name not in out and out.intersection(refs):
                out.add(name)
                grew = True
    return out


_COUNT_SQL = {
    "seed_priority": f"SELECT {len(PRIORITIES)}",
    "stg_customer": "SELECT count(*) FROM customer",
    "stg_orders": "SELECT count(*) FROM orders",
    "stg_lineitem": "SELECT count(*) FROM lineitem",
    "stg_part": "SELECT count(*) FROM part",
    "dim_customer": "SELECT count(*) FROM customer JOIN nation ON c_nationkey = n_nationkey",
    "fct_orders": "SELECT count(*) FROM orders",
    "cust_order_stats": "SELECT count(DISTINCT o_custkey) FROM orders",
    "fct_daily_revenue": "SELECT count(DISTINCT o_orderdate) FROM orders",
    "snap_customer": "SELECT count(*) FROM customer",
    "mart_repo_languages": """SELECT count(DISTINCT p_type) FROM lineitem
        JOIN part ON l_partkey = p_partkey JOIN orders ON l_orderkey = o_orderkey""",
    "mart_segment_revenue": """SELECT count(*) FROM (SELECT DISTINCT c_mktsegment,
        o_orderpriority FROM orders JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey)""",
    "mart_customer_value": "SELECT count(DISTINCT o_custkey) FROM orders",
}


def expected_counts(con: duckdb.DuckDBPyConnection) -> dict[str, int]:
    """Row count of every model after a first-run (prod) build."""
    return {name: con.execute(sql).fetchone()[0] for name, sql in _COUNT_SQL.items()}


def waves(selected: set[str]) -> list[list[str]]:
    """Topological levels of ``selected`` (name-sorted within a level)."""
    level: dict[str, int] = {}

    def lv(name: str) -> int:
        if name not in level:
            parents = [p for p in SPECS[name][1] if p in selected]
            level[name] = 1 + max((lv(p) for p in parents), default=-1)
        return level[name]

    by_level: dict[int, list[str]] = {}
    for name in selected:
        by_level.setdefault(lv(name), []).append(name)
    return [sorted(by_level[k]) for k in sorted(by_level)]


def expected_steps(selected: set[str], counts: dict[str, int]) -> list[tuple]:
    """The ``BuildStep`` ledger a clean ``dbt build`` of ``selected``
    produces: (node, resource_type, status, n_rows) in wave order, each
    node's tests right after it, every test passing with 0 failures."""
    all_tests = tests()
    steps = []
    for wave in waves(selected):
        for name in wave:
            mat = SPECS[name][3].get("materialized", "table")
            rtype = mat if mat in ("seed", "snapshot") else "model"
            steps.append((name, rtype, "success", counts[name]))
            steps.extend((t, "test", "pass", 0) for t, _ in all_tests.get(name, []))
    return steps
