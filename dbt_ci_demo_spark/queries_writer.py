"""Writer + orchestration round-trip queries (SURVEY.md §2 B1-B7, B13,
B28, B30-B38) — the materialization/warehouse/DAG family, driver-checkable.

Each query performs the real warehouse operation (CTAS, view, copy,
date-sharded write, DDL rewrite, incremental dispatch, DAG build with
threads/hooks/state/deferral) into an isolated throwaway database under a
process-local temp directory, then returns the final relation's contents.
The DuckDB oracle is the pure-SQL equivalent of what must end up in that
relation — so the write path itself (stage-and-swap, dynamic partition
overwrite, catalog DDL) is inside the checked surface, exactly like the
``incr_*`` family checks the merge transforms.

Idempotency: every query drops/recreates its tables first, so driver
re-runs in one session are safe. Results are returned as catalog reads —
the driver collects them lazily after the function returns, so the
databases are left in place (a few MB under a mkdtemp dir).

Reference parity notes use the SURVEY.md citation convention
(manifest.json:1@byte).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dbt_ci_demo_spark.functions.bq_compat import exact_sum
from dbt_ci_demo_spark.operators.materialize import Warehouse, run_statements
from dbt_ci_demo_spark.plans.model import Model, ModelConfig, model
from dbt_ci_demo_spark.plans.runner import EnvConfig, Runner
from dbt_ci_demo_spark.plans.state import StateManifest
from dbt_ci_demo_spark.queries import _ORD_SRC, _ORD_TGT, _orders_source, _orders_target, _t, query
from dbt_ci_demo_spark.sources.catalog import SourceCatalog

_WH_ROOT: str | None = None


def _wh_root() -> str:
    """One temp directory per process for all writer-query databases."""
    global _WH_ROOT
    if _WH_ROOT is None:
        _WH_ROOT = tempfile.mkdtemp(prefix="dbt_ci_demo_spark_wh_")
    return _WH_ROOT


def _wh(spark: SparkSession, db: str) -> Warehouse:
    return Warehouse(spark, db, location=os.path.join(_wh_root(), db))


# ---------------------------------------------------------------------------
# B1: CTAS — partitioned + clustered table round-trip.
# ---------------------------------------------------------------------------


@query(
    "wr_ctas_roundtrip",
    oracle="SELECT * FROM orders WHERE o_orderkey % 5 = 0",
)
def wr_ctas_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B1 CTAS (bigquery__create_table_as @16759,
    materialization_table_bigquery @48682): write a partitioned + clustered
    table via the warehouse writer, read it back from the catalog.
    partition_by → hive layout (BigQuery ``partition by`` DDL), cluster_by
    → sortWithinPartitions row-group locality (``cluster by``)."""
    wh = _wh(spark, "wq_ctas")
    df = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 5 == 0)
    wh.drop("orders_ctas")
    wh.write_table(df, "orders_ctas", partition_by="o_orderstatus", cluster_by=["o_orderdate"])
    return wh.read("orders_ctas").select(*df.columns)


# ---------------------------------------------------------------------------
# B1 (bucketed): co-located fact-to-fact join over bucketed CTAS tables.
# ---------------------------------------------------------------------------


@query(
    "wr_bucketed_join",
    oracle="""
    SELECT o.o_custkey, count(*) AS n_items,
           CAST(SUM(CAST(l.l_quantity AS DECIMAL(30,6))) AS DOUBLE) AS total_qty
    FROM (SELECT * FROM orders WHERE o_orderkey % 3 = 0) o
    JOIN (SELECT * FROM lineitem WHERE l_orderkey % 3 = 0) l
      ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_custkey
    """,
)
def wr_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B1 bucketed CTAS (BigQuery ``cluster by`` taken to its co-location
    conclusion): two fact tables bucketBy(8)+sortBy the join key, then
    sort-merge join with ZERO exchanges on either side (asserted on the
    physical plan with broadcast disabled) — the pay-one-write,
    amortize-every-join layout for repeated fact-to-fact joins."""
    wh = _wh(spark, "wq_bucket")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 3 == 0)
    l = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 3 == 0)
    wh.drop("orders_bkt")
    wh.drop("lineitem_bkt")
    wh.write_table(o, "orders_bkt", bucket_by=(["o_orderkey"], 8))
    wh.write_table(l, "lineitem_bkt", bucket_by=(["l_orderkey"], 8))

    ob, lb = wh.read("orders_bkt"), wh.read("lineitem_bkt")
    joined = (
        ob.join(lb, ob["o_orderkey"] == lb["l_orderkey"])
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            exact_sum("l_quantity").alias("total_qty"),
        )
    )
    threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = joined._jdf.queryExecution().executedPlan().toString()
        below_join = plan.split("SortMergeJoin")[-1]
        assert "Exchange" not in below_join, f"bucketed join shuffles:\n{below_join}"
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
    return joined


# ---------------------------------------------------------------------------
# B2: CREATE OR REPLACE VIEW over a warehouse table.
# ---------------------------------------------------------------------------


@query(
    "wr_view_roundtrip",
    oracle="""
    SELECT n_regionkey, count(*) AS n_nations FROM nation GROUP BY n_regionkey
    """,
)
def wr_view_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B2 view materialization (bigquery__create_view_as @18769): CTAS a
    base table, then CREATE OR REPLACE VIEW with SQL text over it; the
    returned DataFrame reads through the catalog view."""
    wh = _wh(spark, "wq_view")
    wh.drop("nation_base")
    wh.drop("nation_by_region")
    wh.write_table(_t(spark, sf_dir, "nation"), "nation_base")
    wh.create_view(
        "nation_by_region",
        sql=(
            "SELECT n_regionkey, count(*) AS n_nations "
            f"FROM {wh.qualified('nation_base')} GROUP BY n_regionkey"
        ),
    )
    return wh.read("nation_by_region")


# ---------------------------------------------------------------------------
# B4: COPY — multi-source table copy with append semantics.
# ---------------------------------------------------------------------------


@query(
    "wr_copy_concat",
    oracle="""
    SELECT * FROM orders WHERE o_orderkey % 4 = 0
    UNION ALL
    SELECT * FROM orders WHERE o_orderkey % 4 = 1
    """,
)
def wr_copy_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B4 copy materialization (materialization_copy_bigquery @45600,
    bigquery__copy_table @21159): N source tables copied into one
    destination — first overwrite, rest append (the reference's
    ``copy_materialization`` table+incremental modes)."""
    wh = _wh(spark, "wq_copy")
    o = _t(spark, sf_dir, "orders")
    for name in ("orders_a", "orders_b", "orders_copy"):
        wh.drop(name)
    wh.write_table(o.filter(F.col("o_orderkey") % 4 == 0), "orders_a")
    wh.write_table(o.filter(F.col("o_orderkey") % 4 == 1), "orders_b")
    wh.copy_table([wh.qualified("orders_a"), wh.qualified("orders_b")], "orders_copy")
    return wh.read("orders_copy").select(*o.columns)


# ---------------------------------------------------------------------------
# B5: date-sharded writer — one dynamic-overwrite partition per date.
# ---------------------------------------------------------------------------

_SHARD_DATES = ["2024-01-05", "2024-01-06", "2024-01-07"]


@query(
    "wr_date_sharded",
    oracle=f"""
    SELECT event_id, user_id, event_type, value,
           CAST(CAST(ts AS DATE) AS VARCHAR) AS ds
    FROM events
    WHERE CAST(CAST(ts AS DATE) AS VARCHAR) IN ({", ".join(f"'{d}'" for d in _SHARD_DATES)})
    """,
)
def wr_date_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B5 date-sharded table (make_date_partitioned_table @47149): per-date
    compute + overwrite of exactly that date's partition — the reference
    substitutes [DBT__PARTITION_DATE] per shard; here each day's DataFrame
    lands via dynamic partition overwrite, so re-running one day rewrites
    one directory, never the table."""
    wh = _wh(spark, "wq_shard")
    wh.drop("events_daily")
    ev = _t(spark, sf_dir, "events")

    def day(ds: str) -> DataFrame:
        return ev.filter(F.to_date("ts") == F.lit(ds).cast("date")).select(
            "event_id", "user_id", "event_type", "value"
        )

    wh.write_date_partitions(day, "events_daily", _SHARD_DATES)
    return wh.read("events_daily").select(
        "event_id", "user_id", "event_type", "value", F.col("ds").cast("string").alias("ds")
    )


# ---------------------------------------------------------------------------
# B6: DDL suite — add columns, retype (CTAS rewrite), drop, rename, docs.
# ---------------------------------------------------------------------------


@query(
    "wr_ddl_suite",
    oracle="""
    SELECT c_custkey, c_name, CAST(c_nationkey AS BIGINT) AS c_nationkey,
           c_acctbal, CAST(NULL AS VARCHAR) AS loyalty_tier
    FROM customer WHERE c_custkey % 10 = 0
    """,
)
def wr_ddl_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B6 DDL suite: ADD COLUMNS (bigquery__alter_relation_add_columns
    @28020, metadata-only — readers fill NULL), ALTER COLUMN TYPE
    (bigquery__alter_column_type @29950, CTAS rewrite + swap), DROP COLUMNS
    (@28991), RENAME (default__rename_relation @27330), persist_docs
    (@25819). Final state is read back through the renamed relation."""
    wh = _wh(spark, "wq_ddl")
    wh.drop("cust_ddl")
    wh.drop("cust_ddl_renamed")
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_custkey") % 10 == 0)
    wh.write_table(cust, "cust_ddl")
    wh.add_columns("cust_ddl", {"loyalty_tier": "string"})
    wh.alter_column_type("cust_ddl", "c_nationkey", "bigint")
    wh.drop_columns("cust_ddl", ["c_mktsegment"])
    wh.rename("cust_ddl", "cust_ddl_renamed")
    wh.persist_docs(
        "cust_ddl_renamed",
        description="DDL-suite round-trip",
        column_comments={"c_name": "customer display name"},
    )
    return wh.read("cust_ddl_renamed").select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal", "loyalty_tier"
    )


# ---------------------------------------------------------------------------
# B7 (+B13): incremental dispatch — first-run CTAS, then strategy merge.
# ---------------------------------------------------------------------------


@query(
    "wr_incremental_dispatch",
    oracle=f"""
    WITH tgt AS ({_ORD_TGT}), src AS ({_ORD_SRC})
    SELECT * FROM tgt WHERE o_orderkey NOT IN (SELECT o_orderkey FROM src)
    UNION ALL
    SELECT * FROM src
    """,
)
def wr_incremental_dispatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B7 incremental dispatch (materialization_incremental_bigquery
    @39833 + dbt_bigquery_validate_get_incremental_strategy @33792): the
    first write CTASes the target, the second dispatches to the configured
    merge strategy and stage-swaps the result — the full writer path the
    ``incr_*`` transform queries bypass."""
    wh = _wh(spark, "wq_incr")
    wh.drop("orders_incr")
    tgt, src = _orders_target(spark, sf_dir), _orders_source(spark, sf_dir)
    a1 = wh.write_incremental(tgt, "orders_incr", strategy="merge", unique_key="o_orderkey")
    a2 = wh.write_incremental(src, "orders_incr", strategy="merge", unique_key="o_orderkey")
    assert (a1, a2) == ("ctas", "merge"), (a1, a2)
    return wh.read("orders_incr").select(*tgt.columns)


# ---------------------------------------------------------------------------
# B28: list relations / schema existence, dataset-scoped.
# ---------------------------------------------------------------------------


@query(
    "wr_list_relations",
    oracle="""
    SELECT * FROM (VALUES
      ('wq_meta', 't_orders', 'table'),
      ('wq_meta', 'v_orders', 'view')
    ) AS t(table_database, table_name, table_type)
    """,
)
def wr_list_relations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B28 (bigquery__list_relations_without_caching @22342,
    bigquery__check_schema_exists @25096, default__list_schemas @186522):
    one relation row per table/view of the dataset, temp views excluded —
    the listing is driver-side catalog metadata, never a cluster job."""
    from dbt_ci_demo_spark.sources import metadata as md

    wh = _wh(spark, "wq_meta")
    wh.drop("t_orders")
    wh.drop("v_orders")
    wh.write_table(_t(spark, sf_dir, "orders").limit(10), "t_orders")
    wh.create_view("v_orders", sql=f"SELECT o_orderkey FROM {wh.qualified('t_orders')}")
    assert md.schema_exists(spark, "wq_meta")
    return md.list_relations(spark, "wq_meta").orderBy("table_name")


# ---------------------------------------------------------------------------
# B30: partitions metadata of a hive-partitioned table.
# ---------------------------------------------------------------------------


@query(
    "wr_partitions_metadata",
    oracle="""
    SELECT DISTINCT 'o_orderstatus=' || o_orderstatus AS "partition"
    FROM orders WHERE o_orderkey % 7 = 0
    """,
)
def wr_partitions_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B30 (get_partitions_metadata @12518): SHOW PARTITIONS of a
    partitioned warehouse table as a DataFrame — partition-directory
    listing, a metadata read proportional to |partitions|, not data."""
    from dbt_ci_demo_spark.sources import metadata as md

    wh = _wh(spark, "wq_parts")
    wh.drop("orders_part")
    df = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 7 == 0)
    wh.write_table(df, "orders_part", partition_by="o_orderstatus")
    return md.partitions_metadata(spark, wh.qualified("orders_part"))


# ---------------------------------------------------------------------------
# Shared model DAG for the orchestration queries (B32/B36/B38).
# ---------------------------------------------------------------------------


def _stg_orders(ctx) -> DataFrame:
    return (
        ctx.source("orders")
        .filter(F.col("o_orderkey") % 4 == 1)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


def _stg_customer(ctx) -> DataFrame:
    return ctx.source("customer").select("c_custkey", "c_mktsegment")


def _mart_segment_sales(ctx) -> DataFrame:
    o, c = ctx.ref("stg_orders"), ctx.ref("stg_customer")
    return (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            exact_sum("o_totalprice").alias("revenue"),
        )
    )


def _dag_models() -> dict[str, Model]:
    reg: dict[str, Model] = {}
    model("stg_orders", sources=["orders"], registry=reg)(_stg_orders)
    model("stg_customer", sources=["customer"], registry=reg)(_stg_customer)
    model("mart_segment_sales", refs=["stg_orders", "stg_customer"], registry=reg)(
        _mart_segment_sales
    )
    return reg

_DAG_ORACLE = """
    SELECT c.c_mktsegment, count(*) AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(30,6))) AS DOUBLE) AS revenue
    FROM (SELECT * FROM orders WHERE o_orderkey % 4 = 1) o
    JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
"""


@query("wr_dag_topo_run", oracle=_DAG_ORACLE)
def wr_dag_topo_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B32 DAG build + B36 threaded execution + B31 statement execution:
    two independent staging models run concurrently (a ready queue on a
    thread pool — the reference's ``threads: 4``,
    test_profiles/profiles.yml:11), then the mart joins them; the final
    relation is read back from the target namespace. Reference: dbt's
    node-level scheduler over parent_map (manifest.json:1 parent_map) —
    Spark adds intra-query parallelism under the FAIR scheduler for free."""
    runner = Runner(
        spark,
        _dag_models(),
        env=EnvConfig(env="prod", database_prefix="wq_dag", threads=4),
        sources=SourceCatalog(spark, sf_dir),
        warehouse_location=os.path.join(_wh_root(), "wq_dag"),
    )
    results = runner.build()
    assert all(r.status == "success" for r in results.values()), results
    return runner.warehouse.read("mart_segment_sales")


@query(
    "wr_compile_schemas",
    # Filled in below once the schemas are computed (kept literal here so
    # the oracle is visibly deterministic).
    oracle="""
    SELECT * FROM (VALUES
      ('mart_segment_sales', 'struct<c_mktsegment:string,n_orders:bigint,revenue:double>'),
      ('stg_customer', 'struct<c_custkey:bigint,c_mktsegment:string>'),
      ('stg_orders', 'struct<o_orderkey:bigint,o_custkey:bigint,o_totalprice:double>')
    ) AS t(model_name, model_schema)
    """,
)
def wr_compile_schemas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B38 compile (dbt compile, SURVEY §3.2): resolve every model through
    compile-time ref()s (ephemeral-CTE analog) and emit its analyzed
    schema — Catalyst analysis only, no job runs, nothing is written."""
    runner = Runner(
        spark,
        _dag_models(),
        env=EnvConfig(env="prod", database_prefix="wq_compile"),
        sources=SourceCatalog(spark, sf_dir),
        warehouse_location=os.path.join(_wh_root(), "wq_compile"),
    )
    schemas = runner.compile()
    rows = sorted((k, v) for k, v in schemas.items())
    return spark.createDataFrame(rows, "model_name string, model_schema string")


# ---------------------------------------------------------------------------
# B37: pre/post hooks running SQL statements around each model.
# ---------------------------------------------------------------------------


@query(
    "wr_hooks_audit",
    oracle="""
    SELECT * FROM (VALUES
      ('mart_segment_sales', 'post-hook'),
      ('mart_segment_sales', 'pre-hook'),
      ('stg_customer', 'post-hook'),
      ('stg_customer', 'pre-hook'),
      ('stg_orders', 'post-hook'),
      ('stg_orders', 'pre-hook')
    ) AS t(model_name, phase)
    """,
)
def wr_hooks_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B37 hooks (run_hooks @43255, materialization pre/post blocks): each
    model run is wrapped in pre/post hooks that execute SQL statements
    (B31, run_statements) appending to an audit table — dbt's canonical
    audit-logging hook pattern. threads=1 keeps the appends serial."""
    db = "wq_hooks"
    wh = _wh(spark, db)
    wh.drop("audit")
    run_statements(
        spark,
        [f"CREATE TABLE {wh.qualified('audit')} (model_name STRING, phase STRING) USING parquet"],
    )

    def hook(phase: str):
        def _h(s: SparkSession, qualified: str) -> None:
            name = qualified.rsplit("`.`", 1)[-1].strip("`")
            run_statements(
                s, [f"INSERT INTO {wh.qualified('audit')} VALUES ('{name}', '{phase}')"]
            )

        return _h

    models = _dag_models()
    for m in models.values():
        m.config.pre_hook = [hook("pre-hook")]
        m.config.post_hook = [hook("post-hook")]
    runner = Runner(
        spark,
        models,
        env=EnvConfig(env="prod", database_prefix=db, threads=1),
        sources=SourceCatalog(spark, sf_dir),
        warehouse_location=os.path.join(_wh_root(), db),
    )
    results = runner.build()
    assert all(r.status == "success" for r in results.values()), results
    return wh.read("audit").orderBy("model_name", "phase")


# ---------------------------------------------------------------------------
# B33 + B35: state manifest publication + state:modified selection.
# ---------------------------------------------------------------------------


def _mart_v2(ctx) -> DataFrame:
    """Modified mart: adds an average — different source text → different
    checksum → state:modified."""
    o, c = ctx.ref("stg_orders"), ctx.ref("stg_customer")
    return (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


def _audit_mart(ctx) -> DataFrame:
    return ctx.ref("mart_segment_sales").select("c_mktsegment", "n_orders")


@query(
    "wr_state_cycle",
    oracle="""
    SELECT * FROM (VALUES
      ('audit_mart',         false, true,  'wq_state.audit_mart'),
      ('mart_segment_sales', true,  true,  'wq_state.mart_segment_sales'),
      ('stg_customer',       false, false, 'wq_state.stg_customer'),
      ('stg_orders',         false, false, 'wq_state.stg_orders')
    ) AS t(model_name, is_modified, is_selected, state_relation)
    """,
)
def wr_state_cycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B35 state manifest + B33 state:modified selection: build the DAG,
    publish the manifest (per-node checksum/relation/config — the facts
    update_project_state.yml:45-51 commits back), swap in a modified mart,
    and select ``state:modified+`` — the changed node plus its downstream
    closure, the reference CI's slim-ci selection."""
    db = "wq_state"
    v1 = _dag_models()
    model("audit_mart", refs=["mart_segment_sales"], registry=v1)(_audit_mart)
    runner1 = Runner(
        spark,
        v1,
        env=EnvConfig(env="prod", database_prefix=db, threads=1),
        sources=SourceCatalog(spark, sf_dir),
        warehouse_location=os.path.join(_wh_root(), db),
    )
    state_path = os.path.join(_wh_root(), "state", "manifest.json")
    results = runner1.build(state_out=state_path)
    assert all(r.status == "success" for r in results.values()), results
    state = StateManifest.load(state_path)

    v2 = dict(v1)
    v2["mart_segment_sales"] = Model(
        name="mart_segment_sales",
        fn=_mart_v2,
        config=ModelConfig(),
        refs=["stg_orders", "stg_customer"],
    )
    runner2 = Runner(
        spark,
        v2,
        env=EnvConfig(env="prod", database_prefix=db, threads=1),
        sources=SourceCatalog(spark, sf_dir),
        warehouse_location=os.path.join(_wh_root(), db),
    )
    modified = runner2.graph.modified_against(state)
    selected = runner2.graph.select(state, "state:modified+")
    assert modified == {"mart_segment_sales"} and selected == {
        "mart_segment_sales",
        "audit_mart",
    }, (modified, selected)
    rows = sorted(
        (name, name in modified, name in selected, state.relation(name))
        for name in v2
    )
    return spark.createDataFrame(
        rows, "model_name string, is_modified boolean, is_selected boolean, state_relation string"
    )


# ---------------------------------------------------------------------------
# B34: deferral — unselected parents resolve to the production namespace.
# ---------------------------------------------------------------------------


@query(
    "wr_defer",
    oracle="""
    SELECT c.c_mktsegment, count(*) AS n_orders
    FROM (SELECT * FROM orders WHERE o_orderkey % 4 = 1) o
    JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def wr_defer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B34 deferral (--defer; ModelContext.ref's state fallback): prod
    builds the full DAG and publishes state; the PR namespace then builds
    ONLY the modified mart with defer=True — its ``ref('stg_*')`` calls
    resolve to the *prod* relations recorded in the manifest (the staging
    tables are never built in the PR database), mirroring slim CI against
    production artifacts."""
    prod_db, pr_db = "wq_defer_prod", "wq_defer_pr"
    prod = Runner(
        spark,
        _dag_models(),
        env=EnvConfig(env="prod", database_prefix=prod_db, threads=1),
        sources=SourceCatalog(spark, sf_dir),
        warehouse_location=os.path.join(_wh_root(), prod_db),
    )
    state_path = os.path.join(_wh_root(), "state", "defer_manifest.json")
    results = prod.build(state_out=state_path)
    assert all(r.status == "success" for r in results.values()), results
    state = StateManifest.load(state_path)

    pr_models = _dag_models()
    pr_models["mart_segment_sales"] = Model(
        name="mart_segment_sales",
        fn=_mart_v2,
        config=ModelConfig(),
        refs=["stg_orders", "stg_customer"],
    )
    pr = Runner(
        spark,
        pr_models,
        env=EnvConfig(env="pr", pr_number=42, database_prefix=pr_db, threads=1),
        sources=SourceCatalog(spark, sf_dir),
        warehouse_location=os.path.join(_wh_root(), f"{pr_db}_pr_42"),
    )
    pr.warehouse.drop("mart_segment_sales")
    results = pr.build(select="state:modified", state=state, defer=True)
    assert results["mart_segment_sales"].status == "success", results
    assert not pr.warehouse.exists("stg_orders"), "deferral must not build parents"
    return pr.warehouse.read("mart_segment_sales")


# ---------------------------------------------------------------------------
# Source-format round-trips: JSON lines and CSV beyond the seed loader.
# ---------------------------------------------------------------------------


@query(
    "src_json_roundtrip",
    oracle="""
    SELECT event_id, ts, user_id, event_type,
           CAST(round(value * 100) AS BIGINT) AS value_cents
    FROM events WHERE event_id % 7 = 0
    """,
)
def src_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines source format: write an events slice as newline-delimited
    JSON, read it back with an explicit schema (never schema inference in
    production — one pass, stable types), and return it. Timestamps
    round-trip through ISO-8601 at microsecond precision; the double
    `value` is compared in exact cents because JSON's shortest-repr float
    text round-trips the double exactly, and the cents projection makes
    that contract explicit. At scale: JSON reads split by line, so the
    format parallelizes like parquet minus the columnar pruning — the
    documented tradeoff for interchange data."""
    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") % 7 == 0).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    path = os.path.join(_wh_root(), "events_json")
    # Default JSON timestampFormat truncates to milliseconds; pin the
    # microsecond pattern on both sides so event times round-trip exactly.
    fmt = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"
    ev.write.mode("overwrite").option("timestampNTZFormat", fmt).json(path)
    schema = "event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, event_type STRING, value DOUBLE"
    back = spark.read.schema(schema).option("timestampNTZFormat", fmt).json(path)
    return back.select(
        "event_id",
        F.col("ts").cast("timestamp_ntz").alias("ts"),
        "user_id",
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("value_cents"),
    )


@query(
    "src_orc_roundtrip",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_returnflag
    FROM lineitem
    WHERE l_orderkey % 13 = 0 AND l_quantity >= 25 AND l_returnflag IN ('A', 'R')
    """,
)
def src_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC source/sink round-trip (r07 — the remaining Spark-native
    columnar format after parquet/CSV/JSON, SURVEY §2.B.1 source
    breadth): a lineitem slice written as ORC partitioned by
    l_returnflag, read back and filtered on BOTH a partition column
    (directory pruning — whole partitions never open) and a data column
    (predicate pushdown into the vectorized ORC reader's stripe/row-group
    statistics). The oracle proves the format round-trips values exactly
    (int64/double/string are bit-stable in ORC); the plan-side contract —
    PartitionFilters on l_returnflag, PushedFilters on l_quantity in the
    OrcScan — is pinned by tests/test_plans.py::test_orc_roundtrip_pushdown.
    At 100 TB: ORC splits by stripe and prunes columns/rows like parquet,
    so it is a drop-in interchange format for warehouses that emit it
    (Hive/Trino ecosystems); the write stays partition-parallel."""
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 13 == 0)
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_quantity",
            "l_extendedprice",
            "l_returnflag",
        )
    )
    path = os.path.join(_wh_root(), "lineitem_orc")
    li.write.mode("overwrite").partitionBy("l_returnflag").orc(path)
    back = spark.read.orc(path)
    return back.filter(
        (F.col("l_quantity") >= 25) & F.col("l_returnflag").isin("A", "R")
    ).select(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        "l_extendedprice",
        F.col("l_returnflag").cast("string").alias("l_returnflag"),
    )


@query(
    "wr_zorder_cluster",
    oracle="""
    SELECT o_orderkey, o_custkey,
           CAST(o_totalprice AS DOUBLE) AS o_totalprice
    FROM orders
    WHERE o_custkey BETWEEN 100 AND 200 AND o_totalprice < 50000
    """,
)
def wr_zorder_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustered CTAS (operators/cluster.zorder_layout): orders
    written 16-file Morton-ordered on (o_custkey, o_totalprice), read
    back and filtered on BOTH clustered dimensions. The oracle proves
    the layout is content-preserving (clustering must never change
    query results); the pruning payoff — a narrow predicate's
    min/max-vs-footer check skipping most files — is verified
    mechanically by tests/test_runner.py::test_zorder_layout_skips_files
    on per-file parquet statistics. At 100 TB this is the second-
    dimension answer where date partitioning alone leaves full-partition
    scans."""
    from dbt_ci_demo_spark.operators import cluster as cl

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", F.col("o_totalprice").cast("double").alias("o_totalprice")
    )
    path = os.path.join(_wh_root(), "orders_zorder")
    cl.zorder_layout(o, ["o_custkey", "o_totalprice"], 16).write.mode(
        "overwrite"
    ).parquet(path)
    back = spark.read.parquet(path)
    return back.filter(
        (F.col("o_custkey").between(100, 200)) & (F.col("o_totalprice") < 50000)
    )


@query(
    "wr_compact_small_files",
    oracle=f"""
    SELECT event_id, user_id, event_type, value,
           CAST(CAST(ts AS DATE) AS VARCHAR) AS ds
    FROM events
    WHERE CAST(CAST(ts AS DATE) AS VARCHAR) IN ({", ".join(f"'{d}'" for d in _SHARD_DATES)})
    """,
)
def wr_compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files compaction (operators/cluster.compact_layout): three
    event days first written deliberately fragmented (32 shuffle tasks ×
    partitionBy(ds) — the shape a streaming/per-shard ingest leaves
    behind), then rewritten so each day lands in right-sized files. The
    oracle proves the maintenance pass is content-preserving (a
    compaction must never change query results); the file-count payoff
    and the no-single-task-per-partition salting are verified
    mechanically by tests/test_runner.py::test_compact_layout_right_sizes
    on the written directories. At 100 TB this is the OPTIMIZE pass that
    keeps scan cost proportional to bytes, not file count.

    Composed from :func:`_write_compact_fixture` +
    :func:`_compact_from_fixture` (r13, the stream_late_data_accounting
    decomposition precedent): timed whole, the row is dominated by the
    96-tiny-file-commit FIXTURE write (the thing being compacted AWAY),
    the most host-FS-jitter-sensitive stage in the bench — the bench
    times the compaction stage over a pre-built fixture under this name
    and the fixture write as its own row; the oracle row is unchanged."""
    frag = _write_compact_fixture(spark, sf_dir)
    return _compact_from_fixture(spark, frag, "events_compacted")


def _write_compact_fixture(spark: SparkSession, sf_dir: str, suffix: str = "") -> str:
    """The deliberately-fragmented ingest shape: 32 shuffle tasks ×
    partitionBy(ds) over three event days = 96 tiny parquet files, each
    committed through the rename-based committer — 96 task-side file
    moves whose wall time is pure small-file FS latency (the r13 phase
    decomposition: warm ~3.4-8 s of the composed row's ~3-10 s swing
    lives HERE, vs ~1.5 s in the compaction itself). Returns the
    fixture path."""
    ev = (
        _t(spark, sf_dir, "events")
        .withColumn("ds", F.to_date("ts").cast("string"))
        .filter(F.col("ds").isin(_SHARD_DATES))
        .select("event_id", "user_id", "event_type", "value", "ds")
    )
    frag = os.path.join(_wh_root(), f"events_fragmented{suffix}")
    ev.repartition(32).write.mode("overwrite").partitionBy("ds").parquet(frag)
    return frag


def _compact_from_fixture(spark: SparkSession, frag: str, out_name: str) -> DataFrame:
    """The compaction stage: salted right-sizing rewrite of the
    fragmented directory + content read-back (the operator under test)."""
    from dbt_ci_demo_spark.operators import cluster as cl

    compacted = os.path.join(_wh_root(), out_name)
    cl.compact_layout(
        spark.read.parquet(frag), "ds", ["event_id"], rows_per_file=1_000_000
    ).write.mode("overwrite").option("maxRecordsPerFile", 1_000_000).partitionBy(
        "ds"
    ).parquet(compacted)
    return spark.read.parquet(compacted).select(
        "event_id", "user_id", "event_type", "value", F.col("ds").cast("string").alias("ds")
    )


# ---------------------------------------------------------------------------
# dbt build end-to-end: the reference CI's actual command.
# ---------------------------------------------------------------------------

_BUILD_SEED_CSV = """c_mktsegment,priority
AUTOMOBILE,1
BUILDING,2
FURNITURE,3
HOUSEHOLD,4
MACHINERY,5
"""

_BUILD_SEED_VALUES = """(VALUES
      ('AUTOMOBILE', 1), ('BUILDING', 2), ('FURNITURE', 3),
      ('HOUSEHOLD', 4), ('MACHINERY', 5)) AS sd(c_mktsegment, priority)"""

_BUILD_ORACLE = f"""
    WITH stg AS (
      SELECT o_orderkey, o_custkey, o_totalprice
      FROM orders WHERE o_orderkey % 4 = 1
    ),
    mart_n AS (
      SELECT count(*) AS n FROM (
        SELECT DISTINCT sd.priority
        FROM stg JOIN customer c ON stg.o_custkey = c.c_custkey
        JOIN {_BUILD_SEED_VALUES} ON c.c_mktsegment = sd.c_mktsegment
      )
    )
    SELECT * FROM (
      SELECT 1 AS seq, 'seed_priority' AS node, 'seed' AS resource_type,
             'success' AS status, CAST(5 AS BIGINT) AS n_rows
      UNION ALL SELECT 2, 'stg_dup_custkeys', 'model', 'success',
             (SELECT count(*) FROM orders)
      UNION ALL SELECT 3, 'unique_stg_dup_custkeys_o_custkey', 'test', 'fail',
             (SELECT count(*) FROM (SELECT o_custkey FROM orders
                                    GROUP BY o_custkey HAVING count(*) > 1))
      UNION ALL SELECT 4, 'stg_orders_b', 'model', 'success',
             (SELECT count(*) FROM stg)
      UNION ALL SELECT 5, 'not_null_stg_orders_b_o_orderkey', 'test', 'pass',
             CAST(0 AS BIGINT)
      UNION ALL SELECT 6, 'unique_stg_orders_b_o_orderkey', 'test', 'pass',
             CAST(0 AS BIGINT)
      UNION ALL SELECT 7, 'mart_dup_downstream', 'model', 'skipped',
             CAST(NULL AS BIGINT)
      UNION ALL SELECT 8, 'mart_priority_sales', 'model', 'success',
             (SELECT n FROM mart_n)
      UNION ALL SELECT 9, 'not_null_mart_priority_sales_priority', 'test', 'pass',
             CAST(0 AS BIGINT)
      UNION ALL SELECT 10, 'relationships_mart_priority_sales_priority', 'test',
             'pass', CAST(0 AS BIGINT)
      UNION ALL SELECT 11, 'snap_priority', 'snapshot', 'success',
             (SELECT n FROM mart_n)
    )
"""


def _build_e2e_models(spark: SparkSession) -> dict[str, Model]:
    from pyspark.sql import functions as F  # noqa: F401 — closure clarity

    reg: dict[str, Model] = {}

    def _seed_priority(ctx):
        # the Warehouse.load_seed parse path (header + inferSchema) over
        # a CSV payload — a dbt seed is a version-controlled CSV file
        path = os.path.join(_wh_root(), "seed_priority.csv")
        with open(path, "w") as f:
            f.write(_BUILD_SEED_CSV)
        return (
            spark.read.option("header", "true")
            .option("inferSchema", "true")
            .csv(path)
            .select("c_mktsegment", F.col("priority").cast("int").alias("priority"))
        )

    model("seed_priority", registry=reg, materialized="seed")(_seed_priority)

    def _stg_orders_b(ctx):
        return (
            ctx.source("orders")
            .filter(F.col("o_orderkey") % 4 == 1)
            .select("o_orderkey", "o_custkey", "o_totalprice")
        )

    model("stg_orders_b", sources=["orders"], registry=reg)(_stg_orders_b)

    def _stg_dup_custkeys(ctx):
        return ctx.source("orders").select("o_custkey")

    model("stg_dup_custkeys", sources=["orders"], registry=reg)(_stg_dup_custkeys)

    def _mart_priority_sales(ctx):
        o = ctx.ref("stg_orders_b")
        c = ctx.source("customer")
        sd = ctx.ref("seed_priority")
        return (
            o.join(c, o["o_custkey"] == c["c_custkey"])
            .join(sd, "c_mktsegment")
            .groupBy("priority")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                exact_sum("o_totalprice").alias("revenue"),
            )
        )

    model(
        "mart_priority_sales",
        refs=["stg_orders_b", "seed_priority"],
        sources=["customer"],
        registry=reg,
    )(_mart_priority_sales)

    def _mart_dup_downstream(ctx):
        return ctx.ref("stg_dup_custkeys").distinct()

    model("mart_dup_downstream", refs=["stg_dup_custkeys"], registry=reg)(
        _mart_dup_downstream
    )

    def _snap_priority(ctx):
        return ctx.ref("mart_priority_sales").withColumn(
            "updated_at", F.lit("2026-01-01 00:00:00").cast("timestamp")
        )

    model(
        "snap_priority",
        refs=["mart_priority_sales"],
        registry=reg,
        materialized="snapshot",
        unique_key="priority",
        strategy="check",
        check_cols=["n_orders", "revenue"],
        updated_at="updated_at",
    )(_snap_priority)

    return reg


@query("wr_build_e2e", oracle=_BUILD_ORACLE)
def wr_build_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dbt build`` end-to-end (r10) — the reference CI's ACTUAL command
    (.github/workflows/ci_full_test_no_container.yml:33 runs bare
    ``dbt build``; the incremental workflows run ``dbt build --select
    state:modified --defer --state …``, ci_incr_test_w_container.yml:34):
    seeds, models and snapshots materialize in DAG order with each node's
    generic tests IMMEDIATELY after it, and a hard test failure SKIPS the
    failing node's downstream — the behavioral contract distinguishing
    ``build`` from ``run; test`` (previously each resource type had its
    own row; the ordering/failure-skip composition had none).

    The DAG: a CSV seed (segment→priority), a clean staging model whose
    unique/not_null tests pass, a deliberately duplicate-keyed staging
    model whose unique test FAILS (so its downstream mart must come out
    ``skipped`` — the oracle pins the skip), a mart joining staging ×
    customer source × seed, its not_null/relationships tests, and an SCD2
    check-strategy snapshot of the mart. Returns the ordered run-results
    table (seq, node, resource_type, status, n_rows); every count is
    data-derived in the oracle, so the row also value-checks the seed
    parse, the test failure counts, and the snapshot first build.
    threads=1 — waves are name-sorted, so the step order is exact."""
    from dbt_ci_demo_spark.operators.quality import (
        test_not_null,
        test_relationships,
        test_unique,
    )

    db = "wq_build_e2e"
    wh = _wh(spark, db)
    for t in wh.list_tables():
        wh.drop(t)
    reg = _build_e2e_models(spark)
    runner = Runner(
        spark,
        reg,
        env=EnvConfig(env="prod", database_prefix=db, threads=1),
        sources=SourceCatalog(spark, sf_dir),
        warehouse_location=os.path.join(_wh_root(), db),
    )
    def seed_parent(_df):
        return runner.warehouse.read("seed_priority")

    tests = {
        "stg_orders_b": [
            ("not_null_stg_orders_b_o_orderkey", lambda df: test_not_null(df, "o_orderkey")),
            ("unique_stg_orders_b_o_orderkey", lambda df: test_unique(df, "o_orderkey")),
        ],
        "stg_dup_custkeys": [
            ("unique_stg_dup_custkeys_o_custkey", lambda df: test_unique(df, "o_custkey")),
        ],
        "mart_priority_sales": [
            ("not_null_mart_priority_sales_priority", lambda df: test_not_null(df, "priority")),
            (
                "relationships_mart_priority_sales_priority",
                lambda df: test_relationships(df, "priority", seed_parent(df), "priority"),
            ),
        ],
    }
    steps: list = []
    runner.build(tests=tests, build_steps=steps)
    rows = [(s.seq, s.node, s.resource_type, s.status, s.n_rows) for s in steps]
    return spark.createDataFrame(
        rows, "seq int, node string, resource_type string, status string, n_rows bigint"
    )


# ---------------------------------------------------------------------------
# B32+B33+B34+B35 COMPOSED: the reference's incremental-CI entry point —
# ``dbt build --select state:modified+ --defer --state <dir>`` — as ONE row.
# ---------------------------------------------------------------------------

_SLIM_CI_ORACLE = """
    WITH stg AS (
      -- prod stg_orders_ci: the orders slice PLUS the marker row appended
      -- directly to the prod table after the prod build. The marker is the
      -- deferral witness: only a read of prod's MATERIALIZED table sees it;
      -- a PR-local recomputation of the staging model would not.
      SELECT o_custkey FROM orders WHERE o_orderkey % 4 = 1
      UNION ALL
      SELECT (SELECT min(c_custkey) FROM customer)
    ),
    mart AS (
      SELECT c.c_mktsegment AS segment, count(*) AS n_orders
      FROM stg s JOIN customer c ON s.o_custkey = c.c_custkey
      GROUP BY c.c_mktsegment
    ),
    bad AS (
      -- the accepted_values list excludes exactly the marker custkey's
      -- segment, which the marker row guarantees is present in the mart —
      -- so the test fails with exactly one violating group at ANY sf
      SELECT count(*) AS n FROM mart WHERE segment IN (
        SELECT c_mktsegment FROM customer
        WHERE c_custkey = (SELECT min(c_custkey) FROM customer)
      )
    )
    SELECT * FROM (
      SELECT 1 AS seq, 'mart_seg_ci' AS node, 'model' AS resource_type,
             'success' AS status, (SELECT count(*) FROM mart) AS n_rows
      UNION ALL SELECT 2, 'accepted_values_mart_seg_ci_segment', 'test',
             'fail', (SELECT n FROM bad)
      UNION ALL SELECT 3, 'audit_seg_ci', 'model', 'skipped',
             CAST(NULL AS BIGINT)
      UNION ALL SELECT 4, 'audit_seg_ci', 'selection', 'downstream', NULL
      UNION ALL SELECT 5, 'mart_seg_ci', 'selection', 'modified', NULL
      UNION ALL SELECT 6, 'stg_customer_ci', 'selection', 'deferred', NULL
      UNION ALL SELECT 7, 'stg_orders_ci', 'selection', 'deferred', NULL
      UNION ALL SELECT 7 + CAST(row_number() OVER (ORDER BY segment) AS INTEGER),
             segment, 'mart_row', 'data', n_orders
      FROM mart
    )
"""


def _slim_ci_models(v2_mart: bool = False) -> dict[str, Model]:
    reg: dict[str, Model] = {}

    def _stg_orders_ci(ctx):
        return (
            ctx.source("orders")
            .filter(F.col("o_orderkey") % 4 == 1)
            .select("o_orderkey", "o_custkey")
        )

    model("stg_orders_ci", sources=["orders"], registry=reg)(_stg_orders_ci)

    def _stg_customer_ci(ctx):
        return ctx.source("customer").select("c_custkey", "c_mktsegment")

    model("stg_customer_ci", sources=["customer"], registry=reg)(_stg_customer_ci)

    def _mart_v1(ctx):
        o, c = ctx.ref("stg_orders_ci"), ctx.ref("stg_customer_ci")
        return (
            o.join(c, o["o_custkey"] == c["c_custkey"])
            .groupBy(F.col("c_mktsegment").alias("segment"))
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.count(F.lit(1)).alias("n_orders_dup"),  # v1-only column
            )
        )

    def _mart_v2(ctx):
        # the PR's one-line business change: drops the duplicate column —
        # different source text => different checksum => state:modified
        o, c = ctx.ref("stg_orders_ci"), ctx.ref("stg_customer_ci")
        return (
            o.join(c, o["o_custkey"] == c["c_custkey"])
            .groupBy(F.col("c_mktsegment").alias("segment"))
            .agg(F.count(F.lit(1)).alias("n_orders"))
        )

    model(
        "mart_seg_ci",
        refs=["stg_orders_ci", "stg_customer_ci"],
        registry=reg,
    )(_mart_v2 if v2_mart else _mart_v1)

    def _audit_seg_ci(ctx):
        return ctx.ref("mart_seg_ci").select("segment", "n_orders")

    model("audit_seg_ci", refs=["mart_seg_ci"], registry=reg)(_audit_seg_ci)
    return reg


@query("wr_build_incremental_ci", oracle=_SLIM_CI_ORACLE)
def wr_build_incremental_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's incremental-CI entry point COMPOSED as one row
    (r11, VERDICT r10 #1) — ``dbt build --select state:modified --defer
    --state <dir>`` (.github/workflows/ci_incr_test_w_container.yml:34;
    ci_incr_test_checkout_master_no_container.yml:44). The pieces have
    separate driver rows (wr_build_e2e: build semantics; wr_state_cycle:
    selection; wr_defer: deferral); this row runs the composition the
    reference CI actually executes:

    1. PROD: build the 4-node DAG (staging x2 -> mart -> audit) into the
       prod namespace and publish the state manifest (B35).
    2. MARKER: append one row (o_orderkey=-1, min custkey) directly to
       prod's materialized ``stg_orders_ci``. Only a DEFERRED read of the
       prod relation can see it — recomputing the staging model (or
       reading a PR-namespace copy) cannot, so every downstream count
       derives the deferral from data, not from an assert.
    3. PR: modify exactly one model (the mart), build with
       ``select='state:modified+', defer=True`` into the PR namespace
       (generate_schema_name_for_env: ``<prefix>_pr_<N>``). The graph
       selects {mart, audit}; the mart's ``ref('stg_*')`` calls resolve
       via the manifest to PROD relations (the staging tables are never
       built in the PR database — asserted); its accepted_values test —
       whose value list excludes exactly the marker custkey's segment —
       FAILS, so the downstream audit comes out ``skipped`` (the ``dbt
       build`` test-gating contract inside the slim-CI composition).

    Returns one table with three fact groups, every count data-derived in
    the oracle: the ordered PR run-results (seq 1-3: mart success with
    its row count, the failing test with its violating-group count, the
    skipped audit), the selection facts (seq 4-7: both staging nodes
    'deferred', the mart 'modified', the audit 'downstream'), and the PR
    mart's CONTENTS (seq 8+: per-segment order counts INCLUDING the +1
    marker in the marker segment — the value proof that the mart read
    prod's materialized staging through the deferral seam).
    threads=1 — waves are name-sorted, so the step order is exact.
    (threads=2 was probed in r14 — step order is thread-count-invariant
    since the runner records steps in name-sorted wave order — but
    concurrent wave-1 saveAsTable calls measured 3× SLOWER (3.0 → 8.5 s
    min5): the in-memory catalog serializes DDL and the contended
    commits dwarf the overlapped write time at this table size.)"""
    from dbt_ci_demo_spark.operators.quality import test_accepted_values

    prefix = "wq_slim_ci"
    prod_env = EnvConfig(env="prod", database_prefix=prefix, threads=1)
    pr_env = EnvConfig(env="pr", pr_number=7, database_prefix=prefix, threads=1)
    # idempotency: drop both namespaces' tables from earlier runs
    for env in (prod_env, pr_env):
        wh = Warehouse(spark, env.database(), location=os.path.join(_wh_root(), env.database()))
        for t in wh.list_tables():
            wh.drop(t)

    # -- phase 1: prod build + state publication (B35) --------------------
    prod = Runner(
        spark,
        _slim_ci_models(v2_mart=False),
        env=prod_env,
        sources=SourceCatalog(spark, sf_dir),
        warehouse_location=os.path.join(_wh_root(), prod_env.database()),
    )
    state_path = os.path.join(_wh_root(), "state", "slim_ci_manifest.json")
    results = prod.build(state_out=state_path)
    assert all(r.status == "success" for r in results.values()), results
    state = StateManifest.load(state_path)

    # -- phase 2: the deferral marker -------------------------------------
    customer = _t(spark, sf_dir, "customer")
    min_ck = customer.agg(F.min("c_custkey")).first()[0]
    marker_seg = (
        customer.filter(F.col("c_custkey") == min_ck).select("c_mktsegment").first()[0]
    )
    # one marker row: parallelize to ONE partition so the append is one
    # task and one parquet file, not 32 near-empty tasks whose file
    # debris every downstream read of stg_orders_ci then rescans
    # (guide §6: small-files; same fix as the result DF below).
    spark.createDataFrame(
        spark.sparkContext.parallelize([(-1, int(min_ck))], 1),
        "o_orderkey bigint, o_custkey bigint",
    ).write.mode("append").saveAsTable(f"{prod_env.database()}.stg_orders_ci")

    # -- phase 3: PR build, state:modified+ with deferral ------------------
    pr = Runner(
        spark,
        _slim_ci_models(v2_mart=True),
        env=pr_env,
        sources=SourceCatalog(spark, sf_dir),
        warehouse_location=os.path.join(_wh_root(), pr_env.database()),
    )
    modified = pr.graph.modified_against(state)
    selected = pr.graph.select(state, "state:modified+")
    assert modified == {"mart_seg_ci"}, modified
    assert selected == {"mart_seg_ci", "audit_seg_ci"}, selected
    # the accepted list excludes exactly the marker segment (5-row collect
    # on the dimension — bounded), so the test fails with ONE bad group
    segments = sorted(
        r.c_mktsegment for r in customer.select("c_mktsegment").distinct().collect()
    )
    accepted = [s for s in segments if s != marker_seg]
    tests = {
        "mart_seg_ci": [
            (
                "accepted_values_mart_seg_ci_segment",
                lambda df: test_accepted_values(df, "segment", accepted),
            )
        ]
    }
    steps: list = []
    pr.build(
        select="state:modified+", state=state, defer=True,
        tests=tests, build_steps=steps,
    )
    # deferral contract: parents were never built in the PR namespace
    assert not pr.warehouse.exists("stg_orders_ci"), "deferral must not build parents"
    assert not pr.warehouse.exists("stg_customer_ci"), "deferral must not build parents"

    rows = [(s.seq, s.node, s.resource_type, s.status, s.n_rows) for s in steps]
    base = len(rows)
    for i, name in enumerate(sorted(pr.models)):
        status = (
            "modified" if name in modified
            else "downstream" if name in selected
            else "deferred" if state.relation(name) else "unknown"
        )
        rows.append((base + i + 1, name, "selection", status, None))
    mart_rows = sorted(
        (r.segment, r.n_orders)
        for r in pr.warehouse.read("mart_seg_ci").collect()
    )
    base = len(rows)
    for i, (seg, n) in enumerate(mart_rows):
        rows.append((base + i + 1, seg, "mart_row", "data", n))
    # ~15 result rows: bare createDataFrame(list) parallelizes over
    # defaultParallelism (32) partitions, so every downstream action
    # schedules 32 near-empty tasks each paying its own Python-worker
    # round-trip (profiled: a 0.49 s 32-task stage for the noop sink
    # alone; a post-hoc coalesce(1) is WORSE — one task then evaluates
    # all 32 python-RDD parents serially, ~6 s). Parallelize the list
    # into ONE partition up front: one task, one worker round-trip
    # (guide §6: output partitioning sized to the data).
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1),
        "seq int, node string, resource_type string, status string, n_rows bigint",
    )
