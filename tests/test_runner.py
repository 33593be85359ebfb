"""End-to-end tests of the orchestration layer: model registry → DAG →
materializations in a temp warehouse — the engine's ``dbt build``."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from dbt_ci_demo_spark.plans.graph import ModelGraph
from dbt_ci_demo_spark.plans.model import Model, ModelConfig, model
from dbt_ci_demo_spark.plans.runner import EnvConfig, Runner
from dbt_ci_demo_spark.plans.state import StateManifest
from dbt_ci_demo_spark.sources.catalog import SourceCatalog

# writer/DDL round-trip tier (SCALE.md suite-split plan): round-close only
pytestmark = pytest.mark.slow


@pytest.fixture()
def env(tmp_path):
    return EnvConfig(env="test", pr_number=None, database_prefix=f"wh_{tmp_path.name.lower()}")


def make_models(sf_dir):
    registry: dict[str, Model] = {}

    @model(name="stg_orders", sources=["orders"], registry=registry, materialized="table")
    def stg_orders(ctx):
        return ctx.source("orders").select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")

    @model(
        name="cust_totals",
        refs=["stg_orders"],
        registry=registry,
        materialized="table",
        cluster_by=["o_custkey"],
    )
    def cust_totals(ctx):
        return (
            ctx.ref("stg_orders")
            .groupBy("o_custkey")
            .agg(F.count(F.lit(1)).alias("n_orders"))
        )

    return registry


def make_runner(spark, sf_dir, env, models, tmp_path):
    return Runner(
        spark,
        models,
        env=env,
        sources=SourceCatalog(spark, sf_dir),
        warehouse_location=str(tmp_path / "wh"),
    )


def test_build_table_dag(spark, sf_dir, env, tmp_path):
    runner = make_runner(spark, sf_dir, env, make_models(sf_dir), tmp_path)
    results = runner.build()
    assert all(r.status == "success" for r in results.values()), results
    out = runner.warehouse.read("cust_totals")
    src = SourceCatalog(spark, sf_dir).table("orders")
    assert out.count() == src.select("o_custkey").distinct().count()
    runner.warehouse.drop_database()


def test_compile_analyzes_without_writing(spark, sf_dir, env, tmp_path):
    runner = make_runner(spark, sf_dir, env, make_models(sf_dir), tmp_path)
    schemas = runner.compile()
    assert "o_custkey" in schemas["cust_totals"] and "n_orders" in schemas["cust_totals"]
    assert not runner.warehouse.exists("cust_totals")
    runner.warehouse.drop_database()


def test_incremental_merge_two_runs(spark, sf_dir, env, tmp_path):
    registry: dict[str, Model] = {}
    state = {"batch": 1}

    @model(
        name="inc_orders",
        sources=["orders"],
        registry=registry,
        materialized="incremental",
        incremental_strategy="merge",
        unique_key="o_orderkey",
    )
    def inc_orders(ctx):
        o = ctx.source("orders")
        if state["batch"] == 1:
            return o.filter(F.col("o_orderkey") % 2 == 0)
        # batch 2: odd keys plus re-delivery of some even keys with changed price
        return o.filter(
            (F.col("o_orderkey") % 2 == 1) | (F.col("o_orderkey") % 10 == 0)
        ).withColumn("o_totalprice", F.col("o_totalprice") * 2)

    runner = make_runner(spark, sf_dir, env, registry, tmp_path)
    r1 = runner.build()
    assert r1["inc_orders"].action == "ctas"
    n1 = runner.warehouse.read("inc_orders").count()
    state["batch"] = 2
    r2 = runner.build()
    assert r2["inc_orders"].action == "merge"
    out = runner.warehouse.read("inc_orders")
    total = SourceCatalog(spark, sf_dir).table("orders").count()
    assert out.count() == total  # all keys present exactly once
    assert n1 < total
    # re-delivered keys must carry the updated price
    doubled = out.filter(F.col("o_orderkey") % 10 == 0).count()
    orig = SourceCatalog(spark, sf_dir).table("orders").filter(F.col("o_orderkey") % 10 == 0)
    joined = (
        out.filter(F.col("o_orderkey") % 10 == 0)
        .alias("n")
        .join(orig.alias("o"), "o_orderkey")
        .filter(F.col("n.o_totalprice") == F.col("o.o_totalprice") * 2)
    )
    assert joined.count() == doubled
    runner.warehouse.drop_database()


def test_incremental_insert_overwrite_partitions(spark, sf_dir, env, tmp_path):
    registry: dict[str, Model] = {}
    state = {"batch": 1}

    @model(
        name="li_daily",
        sources=["lineitem"],
        registry=registry,
        materialized="incremental",
        incremental_strategy="insert_overwrite",
        partition_by="ship_month",
    )
    def li_daily(ctx):
        li = ctx.source("lineitem").withColumn(
            "ship_month", F.date_format("l_shipdate", "yyyy-MM")
        )
        if state["batch"] == 2:
            li = li.filter(F.col("ship_month") == "2024-03").withColumn(
                "l_quantity", F.col("l_quantity") + 1000
            )
        return li

    runner = make_runner(spark, sf_dir, env, registry, tmp_path)
    runner.build()
    before = runner.warehouse.read("li_daily")
    n_total = before.count()
    n_march = before.filter(F.col("ship_month") == "2024-03").count()
    state["batch"] = 2
    r2 = runner.build()
    assert r2["li_daily"].action == "insert_overwrite_dynamic"
    after = runner.warehouse.read("li_daily")
    assert after.count() == n_total  # only March replaced, same cardinality
    assert after.filter((F.col("ship_month") == "2024-03") & (F.col("l_quantity") > 1000)).count() == n_march
    assert after.filter((F.col("ship_month") != "2024-03") & (F.col("l_quantity") > 1000)).count() == 0
    runner.warehouse.drop_database()


def test_snapshot_two_cycles(spark, sf_dir, env, tmp_path):
    registry: dict[str, Model] = {}
    state = {"batch": 1}

    @model(
        name="cust_snap",
        sources=["customer"],
        registry=registry,
        materialized="snapshot",
        unique_key="c_custkey",
        updated_at="updated_at",
        strategy="timestamp",
        invalidate_hard_deletes=True,
    )
    def cust_snap(ctx):
        c = ctx.source("customer")
        if state["batch"] == 1:
            return c.withColumn("updated_at", F.lit("2024-01-01 00:00:00").cast("timestamp_ntz"))
        return (
            c.filter(F.col("c_custkey") % 5 != 0)
            .withColumn(
                "c_acctbal",
                F.when(F.col("c_custkey") % 2 == 0, F.col("c_acctbal") + 1).otherwise(
                    F.col("c_acctbal")
                ),
            )
            .withColumn(
                "updated_at",
                F.when(
                    F.col("c_custkey") % 2 == 0, F.lit("2024-02-01 00:00:00")
                )
                .otherwise(F.lit("2024-01-01 00:00:00"))
                .cast("timestamp_ntz"),
            )
        )

    runner = make_runner(spark, sf_dir, env, registry, tmp_path)
    r1 = runner.build()
    assert r1["cust_snap"].action == "snapshot_build"
    state["batch"] = 2
    r2 = runner.build()
    assert r2["cust_snap"].action == "snapshot_merge"
    hist = runner.warehouse.read("cust_snap")
    n_cust = SourceCatalog(spark, sf_dir).table("customer").count()
    changed = (
        SourceCatalog(spark, sf_dir)
        .table("customer")
        .filter((F.col("c_custkey") % 5 != 0) & (F.col("c_custkey") % 2 == 0))
        .count()
    )
    assert hist.count() == n_cust + changed  # one history row per original + new versions
    # hard-deleted keys are closed
    deleted_open = hist.filter(
        (F.col("c_custkey") % 5 == 0) & F.col("dbt_valid_to").isNull()
    ).count()
    assert deleted_open == 0
    runner.warehouse.drop_database()


def test_state_modified_selection_and_defer(spark, sf_dir, env, tmp_path):
    models = make_models(sf_dir)
    runner = make_runner(spark, sf_dir, env, models, tmp_path)
    state_path = str(tmp_path / "state.json")
    runner.build(state_out=state_path)
    state = StateManifest.load(state_path)

    # unchanged models → nothing selected
    graph = ModelGraph(models)
    assert graph.select(state, "state:modified") == set()

    # modify downstream model → only it (+closure) selected
    models["cust_totals"].config.cluster_by = None
    sel = graph.select(state, "state:modified+")
    assert sel == {"cust_totals"}

    # defer: drop the upstream table from the warehouse; ref() must resolve
    # via the state manifest's recorded relation instead
    results = runner.build(select="state:modified+", state=state, defer=True)
    assert results["cust_totals"].status == "success"
    assert "stg_orders" not in results  # not selected, not rebuilt
    runner.warehouse.drop_database()


def test_seed_and_copy(spark, env, tmp_path):
    csv = tmp_path / "seed.csv"
    csv.write_text("id,name,score\n1,a,1.5\n2,b,2.5\n3,c,\n")
    from dbt_ci_demo_spark.operators.materialize import Warehouse

    wh = Warehouse(spark, env.database() + "_seed", location=str(tmp_path / "whs"))
    wh.load_seed(str(csv), "my_seed", column_types={"score": "double", "id": "bigint"})
    df = wh.read("my_seed")
    assert df.schema["id"].dataType.simpleString() == "bigint"
    assert df.schema["score"].dataType.simpleString() == "double"
    assert df.count() == 3
    wh.copy_table([f"{wh.database}.my_seed", f"{wh.database}.my_seed"], "my_seed_copy")
    assert wh.read("my_seed_copy").count() == 6
    wh.drop_database()


def test_hooks_and_failure_skips_downstream(spark, sf_dir, env, tmp_path):
    registry: dict[str, Model] = {}
    hook_log = []

    @model(
        name="good",
        sources=["orders"],
        registry=registry,
        pre_hook=[lambda s, rel: hook_log.append(("pre", rel))],
        post_hook=[lambda s, rel: hook_log.append(("post", rel))],
    )
    def good(ctx):
        return ctx.source("orders").limit(10)

    @model(name="bad", registry=registry)
    def bad(ctx):
        raise RuntimeError("boom")

    @model(name="downstream_of_bad", refs=["bad"], registry=registry)
    def downstream_of_bad(ctx):
        return ctx.ref("bad")

    runner = make_runner(spark, sf_dir, env, registry, tmp_path)
    results = runner.build()
    assert results["good"].status == "success"
    assert results["bad"].status == "error" and "boom" in results["bad"].error
    assert results["downstream_of_bad"].status == "skipped"
    assert [h[0] for h in hook_log] == ["pre", "post"]
    runner.warehouse.drop_database()


def test_schema_change_policies(spark, sf_dir):
    from dbt_ci_demo_spark.operators.incremental import (
        SchemaChangeError,
        apply_schema_change_policy,
    )

    cat = SourceCatalog(spark, sf_dir)
    tgt = cat.table("customer")
    src = tgt.withColumn("new_col", F.lit(1)).drop("c_acctbal")

    with pytest.raises(SchemaChangeError):
        apply_schema_change_policy(src, tgt, "fail")

    s_i, t_i = apply_schema_change_policy(src.withColumn("c_acctbal", F.lit(0.0)), tgt, "ignore")
    assert s_i.columns == tgt.columns

    s_a, t_a = apply_schema_change_policy(src, tgt.drop("c_acctbal"), "append_new_columns")
    assert "new_col" in t_a.columns and s_a.columns == t_a.columns

    s_s, t_s = apply_schema_change_policy(src, tgt, "sync_all_columns")
    assert "c_acctbal" not in t_s.columns and "new_col" in t_s.columns
    assert s_s.columns == t_s.columns


def test_cdc_apply_semantics(spark):
    """cdc_apply: latest-op-wins per key; same-seq D+U resolves to the
    delete; inserts under fresh keys land; untouched rows pass through."""
    from dbt_ci_demo_spark.operators.incremental import cdc_apply

    target = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (4, "d")], "id bigint, v string"
    )
    changes = spark.createDataFrame(
        [
            (1, "a2", 1, "U"),   # plain update wins
            (2, "b2", 1, "U"),   # superseded by seq-2 delete
            (2, "bX", 2, "D"),
            (3, "c2", 2, "U"),   # same-seq D+U: delete must win
            (3, "cX", 2, "D"),
            (5, "e", 1, "I"),    # insert under fresh key
            (6, "f", 1, "I"),    # insert then delete: net nothing
            (6, "fX", 2, "D"),
        ],
        "id bigint, v string, seq int, op string",
    )
    out = {r.id: r.v for r in cdc_apply(target, changes, "id", "seq").collect()}
    assert out == {1: "a2", 4: "d", 5: "e"}


def test_cdc_apply_duplicate_seq_deterministic(spark):
    """ADVICE r03: two non-delete changes sharing (key, seq, op) but
    carrying different payloads must resolve to ONE deterministic winner
    (the row-hash tie-break makes the sort a total order), stable under
    re-partitioning of the feed."""
    from dbt_ci_demo_spark.operators.incremental import cdc_apply

    target = spark.createDataFrame([(1, "a")], "id bigint, v string")
    changes = spark.createDataFrame(
        [(1, "p1", 1, "U"), (1, "p2", 1, "U"), (1, "p3", 1, "U")],
        "id bigint, v string, seq int, op string",
    )
    winners = set()
    for parts in (1, 2, 7):
        out = cdc_apply(target, changes.repartition(parts), "id", "seq").collect()
        assert len(out) == 1
        winners.add(out[0].v)
    assert len(winners) == 1, f"nondeterministic winner: {winners}"


def test_cdc_versioned_batch_order_invariant(spark):
    """cdc_apply_versioned must converge to the same live state for EVERY
    application order of the feed's batches (max-seq over tombstoned
    state is associative/commutative), including replays — the property
    the plain cdc_apply lacks. Covers the resurrect case: a delete at
    seq 3 applied before an update at seq 2 must stay deleted."""
    from itertools import permutations

    from dbt_ci_demo_spark.operators.incremental import cdc_apply_versioned, cdc_live

    target = spark.createDataFrame(
        [(1, "a", 0, "U"), (2, "b", 0, "U"), (3, "c", 0, "U")],
        "id bigint, v string, seq int, op string",
    )
    batches = [
        spark.createDataFrame(rows, "id bigint, v string, seq int, op string")
        for rows in (
            [(1, "a2", 2, "U"), (2, "bX", 3, "D")],   # newest ops
            [(2, "b2", 2, "U"), (4, "d", 1, "I")],    # older update for deleted key
            [(1, "a1", 1, "U"), (3, "c1", 1, "U")],   # oldest updates
        )
    ]
    results = set()
    for order in permutations(range(3)):
        state = target
        for i in order:
            state = cdc_apply_versioned(state, batches[i], "id", "seq")
        live = frozenset((r.id, r.v) for r in cdc_live(state).collect())
        results.add(live)
    assert results == {frozenset({(1, "a2"), (3, "c1"), (4, "d")})}, results
    # replaying a batch is a no-op
    replayed = cdc_apply_versioned(
        cdc_apply_versioned(target, batches[0], "id", "seq"), batches[0], "id", "seq"
    )
    once = cdc_apply_versioned(target, batches[0], "id", "seq")
    assert {tuple(r) for r in replayed.collect()} == {tuple(r) for r in once.collect()}


def test_cdc_versioned_conflicting_payloads_order_invariant(spark):
    """Two batches disagree at the SAME (key, seq, op) with different
    payloads — the winner must depend only on row content (the full-row
    hash tie-break), never on which batch was applied first. Before the
    r05 fix the feed-beats-state __src term sat above the hash, so X-then-Y
    kept Y while Y-then-X kept X and live state diverged."""
    from itertools import permutations

    from dbt_ci_demo_spark.operators.incremental import cdc_apply_versioned, cdc_live

    target = spark.createDataFrame(
        [(1, "a", 0, "U"), (2, "b", 0, "U")],
        "id bigint, v string, seq int, op string",
    )
    batches = [
        spark.createDataFrame(rows, "id bigint, v string, seq int, op string")
        for rows in (
            [(1, "payload_X", 5, "U"), (2, "left", 3, "U")],
            [(1, "payload_Y", 5, "U"), (2, "right", 3, "U")],
            [(1, "a1", 1, "U")],
        )
    ]
    results = set()
    for order in permutations(range(3)):
        state = target
        for i in order:
            state = cdc_apply_versioned(state, batches[i], "id", "seq")
        live = frozenset((r.id, r.v, r.seq) for r in cdc_live(state).collect())
        results.add(live)
    assert len(results) == 1, f"live state diverged across orders: {results}"
    (live,) = results
    # the content-hash winner is deterministic but arbitrary — assert shape
    assert {k for k, _, _ in live} == {1, 2}
    assert {s for k, _, s in live if k == 1} == {5}
    assert {s for k, _, s in live if k == 2} == {3}


def test_cdc_compact_drops_only_prehorizon_tombstones(spark):
    """VERDICT r04 task 7: cdc_compact drops tombstones strictly below
    the replay horizon and nothing else; replays that RESPECT the
    horizon produce identical live state on compacted vs uncompacted
    state, including the resurrect guard for an at-horizon tombstone."""
    from dbt_ci_demo_spark.operators.incremental import (
        cdc_apply_versioned,
        cdc_compact,
        cdc_live,
    )

    schema = "id bigint, v string, seq int, op string"
    state = spark.createDataFrame(
        [
            (1, "live", 9, "U"),
            (2, None, 2, "D"),   # stale tombstone: seq < horizon → dropped
            (3, None, 5, "D"),   # at-horizon tombstone → kept
            (4, None, 7, "D"),   # post-horizon tombstone → kept
        ],
        schema,
    )
    compacted = cdc_compact(state, 5, "seq")
    rows = {(r.id, r.seq, r.op) for r in compacted.collect()}
    assert rows == {(1, 9, "U"), (3, 5, "D"), (4, 7, "D")}
    # horizon-respecting replay: every batch seq >= 5. Key 2's replayed
    # update (seq 6) legitimately recreates the key on BOTH states (its
    # stale tombstone was only guarding seqs < 5); key 3's replayed
    # update at seq 5 ties the kept tombstone, and same-seq delete-beats-
    # update keeps it dead — compaction never resurrects.
    replay = spark.createDataFrame(
        [(2, "back", 6, "U"), (3, "zombie", 5, "U")], schema
    )
    live_full = {
        (r.id, r.v) for r in cdc_live(cdc_apply_versioned(state, replay, "id", "seq")).collect()
    }
    live_compacted = {
        (r.id, r.v)
        for r in cdc_live(cdc_apply_versioned(compacted, replay, "id", "seq")).collect()
    }
    assert live_full == live_compacted == {(1, "live"), (2, "back")}


def test_env_namespace_resolution():
    assert EnvConfig(env="ci", database_prefix="dbt_ci").database() == "dbt_ci"
    assert EnvConfig(env="ci", pr_number=42, database_prefix="dbt_ci").database() == "dbt_ci_pr_42"
    assert EnvConfig(env="dev", database_prefix="dbt_ci").database() == "dbt_ci_dev"


def test_graph_cycle_detection():
    from dbt_ci_demo_spark.plans.graph import CycleError

    a = Model("a", lambda ctx: None, ModelConfig(), refs=["b"])
    b = Model("b", lambda ctx: None, ModelConfig(), refs=["a"])
    with pytest.raises(CycleError):
        ModelGraph({"a": a, "b": b}).topo_order()


def test_ddl_suite(spark, env, tmp_path):
    """B6: truncate, add/drop columns, alter column type, comments."""
    from dbt_ci_demo_spark.operators.materialize import Warehouse

    wh = Warehouse(spark, env.database() + "_ddl", location=str(tmp_path / "whd"))
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id int, name string")
    wh.write_table(df, "t")

    wh.add_columns("t", {"score": "double"})
    assert wh.read("t").schema["score"].dataType.simpleString() == "double"
    assert wh.read("t").filter("score IS NULL").count() == 2

    wh.alter_column_type("t", "id", "bigint")
    assert wh.read("t").schema["id"].dataType.simpleString() == "bigint"

    wh.drop_columns("t", ["score"])
    assert "score" not in wh.read("t").columns

    wh.persist_docs("t", description="demo table", column_comments={"name": "the name"})
    comment = [
        r for r in spark.sql(f"DESCRIBE TABLE {wh.qualified('t')}").collect()
        if r["col_name"] == "name"
    ][0]["comment"]
    assert comment == "the name"

    wh.truncate("t")
    assert wh.read("t").count() == 0
    wh.drop_database()


def test_bucketed_join_is_shuffle_free(spark, sf_dir, tmp_path):
    """Two tables bucketed on the same key with the same bucket count must
    sort-merge join with NO Exchange on either side — the co-location
    contract bucket_by exists for."""
    from dbt_ci_demo_spark.operators.materialize import Warehouse
    from dbt_ci_demo_spark.sources.catalog import load_table

    wh = Warehouse(spark, f"wh_{tmp_path.name.lower()}_bkt", location=str(tmp_path / "whb"))
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    lineitem = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice"
    )
    wh.write_table(orders, "orders_bkt", bucket_by=(["o_orderkey"], 8))
    wh.write_table(lineitem, "lineitem_bkt", bucket_by=(["l_orderkey"], 8))

    threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        o, l = wh.read("orders_bkt"), wh.read("lineitem_bkt")
        joined = o.join(l, o["o_orderkey"] == l["l_orderkey"]).groupBy("o_custkey").agg(
            F.sum("l_quantity").alias("qty")
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        join_part = plan.split("HashAggregate")[-1]  # below the agg: the join subtree
        assert "SortMergeJoin" in plan
        assert "Exchange" not in join_part, f"bucketed join still shuffles:\n{join_part}"
        # and the numbers must match the unbucketed join
        expected = (
            orders.join(lineitem, orders["o_orderkey"] == lineitem["l_orderkey"])
            .groupBy("o_custkey").agg(F.sum("l_quantity").alias("qty"))
        )
        assert sorted(map(tuple, joined.collect())) == sorted(map(tuple, expected.collect()))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
    wh.drop_database()


def test_zorder_layout_skips_files(spark, sf_dir, tmp_path):
    """Z-order's entire point, verified on parquet footers: with orders
    written 16-file Morton-ordered on (custkey, totalprice), a narrow
    custkey predicate intersects the per-file min/max of only a small
    fraction of files; the same rows written in scan order intersect
    nearly all of them. (Spark's scan applies exactly this stats check,
    so fewer intersecting files = fewer files read at 100 TB.)"""
    import glob

    import pyarrow.parquet as pq

    from dbt_ci_demo_spark.operators import cluster as cl
    from dbt_ci_demo_spark.sources.catalog import load_table

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", F.col("o_totalprice").cast("double").alias("p")
    )
    cl.zorder_layout(o, ["o_custkey", "p"], 64).write.mode("overwrite").parquet(
        str(tmp_path / "z")
    )
    o.repartition(64).write.mode("overwrite").parquet(str(tmp_path / "plain"))

    # narrow custkey band: ~2% of the actual key domain, off-center (the
    # domain midpoint is the z-curve's top-level quadrant boundary — its
    # measured worst case) — a point-ish second-dimension lookup
    kmin, kmax = o.agg(F.min("o_custkey"), F.max("o_custkey")).first()
    lo = kmin + (kmax - kmin) * 20 // 100
    hi = kmin + (kmax - kmin) * 22 // 100

    def touched(d):
        n_hit = n_all = 0
        for f in glob.glob(f"{d}/part-*.parquet"):
            md = pq.ParquetFile(f).metadata
            idx = {md.schema.column(i).name: i for i in range(md.num_columns)}["o_custkey"]
            fmin = min(md.row_group(g).column(idx).statistics.min for g in range(md.num_row_groups))
            fmax = max(md.row_group(g).column(idx).statistics.max for g in range(md.num_row_groups))
            n_all += 1
            if fmax >= lo and fmin <= hi:
                n_hit += 1
        return n_hit, n_all

    z_hit, z_all = touched(str(tmp_path / "z"))
    p_hit, p_all = touched(str(tmp_path / "plain"))
    # layout must not change content
    zt = spark.read.parquet(str(tmp_path / "z"))
    assert zt.count() == o.count()
    assert z_all >= 32 and p_all >= 32, (z_all, p_all)
    # row-order layout: nearly every file spans the whole custkey domain
    assert p_hit >= p_all - 2, (p_hit, p_all)
    # z-order: under a third of the files intersect the band (measured
    # ~17/64 vs 64/64; boundary-crossing files keep it from the aligned-
    # block ideal, and the fraction shrinks further as file count grows)
    assert z_hit * 3 <= p_hit, (z_hit, p_hit)





def test_compact_layout_right_sizes(spark, sf_dir, tmp_path):
    """compact_layout's entire point, verified on the written directories:
    a 32-task fragmented partitionBy write leaves many small files per
    day; the compacted rewrite leaves ceil(rows/target) per day (here 1),
    with identical content. Also pins the salting contract: with a small
    rows_per_file the hot day spreads over MULTIPLE files (no
    coalesce(1)-per-partition single-task rewrite)."""
    import glob

    from dbt_ci_demo_spark.operators import cluster as cl
    from dbt_ci_demo_spark.sources.catalog import load_table

    ev = (
        load_table(spark, sf_dir, "events")
        .withColumn("ds", F.to_date("ts").cast("string"))
        .filter(F.col("ds").isin(["2024-01-05", "2024-01-06"]))
        .select("event_id", "user_id", "event_type", "value", "ds")
    )
    frag = str(tmp_path / "frag")
    ev.repartition(32).write.partitionBy("ds").parquet(frag)

    def files_per_day(root):
        return {
            d.rsplit("ds=", 1)[1]: len(glob.glob(f"{d}/*.parquet"))
            for d in glob.glob(f"{root}/ds=*")
        }

    frag_counts = files_per_day(frag)
    assert all(n > 4 for n in frag_counts.values()), frag_counts

    comp = str(tmp_path / "comp")
    cl.compact_layout(
        spark.read.parquet(frag), "ds", ["event_id"], rows_per_file=10**6
    ).write.option("maxRecordsPerFile", 10**6).partitionBy("ds").parquet(comp)
    comp_counts = files_per_day(comp)
    assert comp_counts == {d: 1 for d in frag_counts}, comp_counts

    back = spark.read.parquet(comp).select(*ev.columns)
    assert back.count() == ev.count()
    assert back.exceptAll(ev).isEmpty() and ev.exceptAll(back).isEmpty()

    # small target: the day must spread across multiple right-sized files
    rows_day = ev.filter(F.col("ds") == "2024-01-05").count()
    target = max(1, rows_day // 4)
    multi = str(tmp_path / "multi")
    cl.compact_layout(
        ev.filter(F.col("ds") == "2024-01-05"), "ds", ["event_id"], target
    ).write.option("maxRecordsPerFile", target).partitionBy("ds").parquet(multi)
    n_multi = files_per_day(multi)["2024-01-05"]
    assert n_multi >= 2, n_multi


def test_swap_in_failure_leaves_target_intact(spark, tmp_path):
    """Stage-and-swap fault injection: a result whose evaluation FAILS
    mid-write (assert_true trips on a row) must abort while staging the
    tmp relation -- the live table keeps its old content, and the next
    successful swap_in recovers (stale tmp is dropped up front). This is
    the SCALE.md 'failures never leave a half-written target' claim,
    verified mechanically."""
    from dbt_ci_demo_spark.operators.materialize import Warehouse

    wh = Warehouse(
        spark, f"wh_{tmp_path.name.lower()}_swap", location=str(tmp_path / "whswap")
    )
    wh.write_table(spark.range(5).withColumnRenamed("id", "x"), "t")

    bad = spark.range(10).select(
        F.col("id").alias("x"), F.assert_true(F.col("id") < 5).alias("guard")
    )
    with pytest.raises(Exception):
        wh.swap_in(bad, "t")
    assert sorted(r.x for r in wh.read("t").collect()) == list(range(5))

    wh.swap_in(spark.range(3).withColumnRenamed("id", "x"), "t")
    assert wh.read("t").count() == 3
    wh.drop_database()


def test_swap_in_recovers_from_orphaned_staging_files(spark, tmp_path):
    """Deterministic repro of the r06 full-suite flake: an aborted CTAS
    can leave part files at the managed tmp location WITHOUT a catalog
    entry (task-abort cleanup races the next write under load), so
    DROP TABLE IF EXISTS is a no-op and the next saveAsTable refuses to
    create a managed table over a non-empty location. swap_in now scrubs
    the staging location up front; this plants the orphan debris directly
    and asserts both the recovery and that a failing write leaves a clean
    staging dir behind it."""
    import os

    from dbt_ci_demo_spark.operators.materialize import TMP_SUFFIX, Warehouse

    wh = Warehouse(
        spark, f"wh_{tmp_path.name.lower()}_orph", location=str(tmp_path / "whorph")
    )
    wh.write_table(spark.range(4).withColumnRenamed("id", "x"), "t")

    # orphan debris at the tmp location, no catalog entry
    orphan = tmp_path / "whorph" / f"t{TMP_SUFFIX}"
    orphan.mkdir(parents=True)
    (orphan / "part-00000-orphan.parquet").write_bytes(b"junk")
    wh.swap_in(spark.range(2).withColumnRenamed("id", "x"), "t")
    assert wh.read("t").count() == 2

    # a failing staged write must scrub its own debris (catalog + files)
    bad = spark.range(6).select(
        F.col("id").alias("x"), F.assert_true(F.col("id") < 3).alias("guard")
    )
    with pytest.raises(Exception):
        wh.swap_in(bad, "t")
    assert not wh.exists(f"t{TMP_SUFFIX}")
    assert not os.path.exists(str(orphan))
    assert wh.read("t").count() == 2
    wh.drop_database()


def test_partition_col_partitioned_flat_and_missing(spark, tmp_path):
    """_partition_col (the layout swap_in preserves) reads one DESCRIBE
    TABLE: the first partition column of a partitioned table, None for
    an unpartitioned one, None for a table that does not exist."""
    from dbt_ci_demo_spark.operators.materialize import Warehouse

    wh = Warehouse(
        spark, f"wh_{tmp_path.name.lower()}_pcol", location=str(tmp_path / "whpcol")
    )
    df = spark.range(6).selectExpr("id", "id % 2 AS ds", "id % 3 AS hr")
    df.write.partitionBy("ds", "hr").saveAsTable(f"{wh.database}.parted")
    wh.write_table(df, "flat")
    assert wh._partition_col("parted") == "ds"
    assert wh._partition_col("flat") is None
    assert wh._partition_col("no_such_table") is None
    wh.drop_database()


def test_compact_layout_broadcasts_counts(spark):
    """compact_layout's count table is bounded metadata (one row per
    partition value) and must enter as a BroadcastHashJoin -- a
    sort-merge or nested-loop stage here would shuffle the corpus
    against its own metadata. Also pins that the null-safe equality
    still plans as an equi hash join."""
    df = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") % 3).cast("string").alias("ds")
    )
    from dbt_ci_demo_spark.operators import cluster as cl

    plan = (
        cl.compact_layout(df, "ds", ["k"], 100)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_build_with_tests_skips_downstream_of_failed_test(spark, sf_dir, env, tmp_path):
    """dbt build semantics (r10, wr_build_e2e's engine seam): a node's
    generic tests run immediately after it materializes; a hard test
    failure leaves the NODE success (it did build) but SKIPS every
    downstream node — the behavioral contract distinguishing `dbt build`
    from `dbt run; dbt test`. Steps come out in wave order with
    data-derived counts; a seed-materialized node dispatches through
    write_table and resolves via ref()."""
    from dbt_ci_demo_spark.operators.quality import test_unique

    registry: dict[str, Model] = {}

    @model(name="a_seed", registry=registry, materialized="seed")
    def a_seed(ctx):
        return spark.createDataFrame([(1, "x"), (1, "y")], "k int, v string")

    @model(name="child_of_seed", refs=["a_seed"], registry=registry)
    def child_of_seed(ctx):
        return ctx.ref("a_seed")

    @model(name="clean", sources=["orders"], registry=registry)
    def clean(ctx):
        return ctx.source("orders").select("o_orderkey").limit(10)

    runner = make_runner(spark, sf_dir, env, registry, tmp_path)
    steps: list = []
    results = runner.build(
        tests={
            "a_seed": [("unique_a_seed_k", lambda df: test_unique(df, "k"))],
            "clean": [("unique_clean_ok", lambda df: test_unique(df, "o_orderkey"))],
        },
        build_steps=steps,
    )
    # the duplicate-keyed seed BUILDS (success) but its test fails...
    assert results["a_seed"].status == "success"
    # ...and the downstream node is skipped for that reason
    assert results["child_of_seed"].status == "skipped"
    assert "test failed" in results["child_of_seed"].error
    assert results["clean"].status == "success"
    by_node = {(s.node, s.resource_type): s for s in steps}
    assert by_node[("a_seed", "seed")].n_rows == 2
    assert by_node[("unique_a_seed_k", "test")].status == "fail"
    assert by_node[("unique_a_seed_k", "test")].n_rows == 1  # one duplicated key
    assert by_node[("unique_clean_ok", "test")].status == "pass"
    assert by_node[("child_of_seed", "model")].status == "skipped"
    assert by_node[("child_of_seed", "model")].n_rows is None
    # ordered: each test follows its node, skip follows in the next wave
    seqs = [s.seq for s in steps]
    assert seqs == sorted(seqs) == list(range(1, len(steps) + 1))
    runner.warehouse.drop_database()


def test_build_with_erroring_test_records_error_and_continues(
    spark, sf_dir, env, tmp_path
):
    """r10 review finding: a test function that RAISES (bad column — an
    AnalysisException, not a failure count) must not abort the build.
    dbt records the test as `error`, skips downstream of the tested
    node, and the rest of the DAG plus the state manifest still land."""
    from dbt_ci_demo_spark.operators.quality import test_unique

    registry: dict[str, Model] = {}

    @model(name="src_a", sources=["orders"], registry=registry)
    def src_a(ctx):
        return ctx.source("orders").select("o_orderkey").limit(10)

    @model(name="child_a", refs=["src_a"], registry=registry)
    def child_a(ctx):
        return ctx.ref("src_a")

    @model(name="unrelated", sources=["orders"], registry=registry)
    def unrelated(ctx):
        return ctx.source("orders").select("o_custkey").limit(5)

    runner = make_runner(spark, sf_dir, env, registry, tmp_path)
    steps: list = []
    state_out = str(tmp_path / "state_err.json")
    results = runner.build(
        tests={
            "src_a": [("broken_test", lambda df: df.select("no_such_col"))],
            "unrelated": [("ok_test", lambda df: test_unique(df, "o_custkey"))],
        },
        build_steps=steps,
        state_out=state_out,
    )
    # the node built; its erroring test is recorded, not propagated
    assert results["src_a"].status == "success"
    by_node = {s.node: s for s in steps}
    assert by_node["broken_test"].status == "error"
    assert by_node["broken_test"].n_rows is None
    # downstream of the errored test is skipped, like a hard failure
    assert results["child_a"].status == "skipped"
    assert "test failed" in results["child_a"].error
    # the rest of the DAG still ran and the state manifest landed
    assert results["unrelated"].status == "success"
    assert by_node["ok_test"].status == "pass"
    import os

    assert os.path.exists(state_out)
    runner.warehouse.drop_database()


def test_view_model_is_readable_and_refable(spark, sf_dir, env, tmp_path):
    """r10 review finding: the DataFrame-lineage view registered a temp
    view under the BARE name, which Warehouse.read's qualified resolution
    could never see — every downstream ref() of a view model (and
    build-steps row counting) failed TABLE_OR_VIEW_NOT_FOUND. Views are
    now session views under a warehouse-scoped alias, resolved by
    read()/exists()/drop()."""
    registry: dict[str, Model] = {}

    @model(name="v_orders", sources=["orders"], registry=registry, materialized="view")
    def v_orders(ctx):
        return ctx.source("orders").select("o_orderkey").limit(7)

    @model(name="from_view", refs=["v_orders"], registry=registry)
    def from_view(ctx):
        return ctx.ref("v_orders")

    runner = make_runner(spark, sf_dir, env, registry, tmp_path)
    steps: list = []
    results = runner.build(tests={}, build_steps=steps)
    assert results["v_orders"].status == "success", results["v_orders"].error
    assert results["from_view"].status == "success", results["from_view"].error
    assert runner.warehouse.read("v_orders").count() == 7
    assert runner.warehouse.exists("v_orders")
    by_node = {s.node: s for s in steps}
    assert by_node["v_orders"].n_rows == 7
    # a later table write under the same name shadows out the view
    runner.warehouse.write_table(
        spark.createDataFrame([(1,)], "k int"), "v_orders"
    )
    assert runner.warehouse.read("v_orders").columns == ["k"]
    runner.warehouse.drop_database()


def test_insert_overwrite_null_partitions(spark):
    """r10 review finding: three-valued logic silently broke both
    branches for NULL partition values — static ~isin DROPPED every
    NULL-partition target row (data loss); the dynamic equi anti-join
    never matched NULL so old NULL rows were KEPT next to the new ones
    (duplicates). Static keeps unlisted NULLs; dynamic null-safe-replaces
    them."""
    from dbt_ci_demo_spark.operators import incremental as incr

    tgt = spark.createDataFrame(
        [("2024-01-01", 1), ("2024-01-02", 2), (None, 3)], "ds string, v int"
    )
    src_listed = spark.createDataFrame([("2024-01-01", 10)], "ds string, v int")
    out = incr.insert_overwrite_partitions(
        tgt, src_listed, F.col("ds"), partitions=["2024-01-01"]
    )
    got = {(r.ds, r.v) for r in out.collect()}
    assert got == {("2024-01-01", 10), ("2024-01-02", 2), (None, 3)}, got
    src_null = spark.createDataFrame([(None, 30)], "ds string, v int")
    out2 = incr.insert_overwrite_partitions(tgt, src_null, F.col("ds"))
    got2 = {(r.ds, r.v) for r in out2.collect()}
    assert got2 == {("2024-01-01", 1), ("2024-01-02", 2), (None, 30)}, got2


def test_incremental_inplace_schema_evolution_and_docs_escaping(spark, sf_dir, tmp_path):
    """r10 review findings: (a) append_new_columns degraded to 'ignore'
    on the in-place insert_overwrite path (the widened column was
    projected away forever — now persisted via ALTER ADD COLUMNS first);
    (b) sync-removed columns raise loudly instead of writing
    positionally-misaligned rows; (c) persist_docs escapes backslashes
    (an unescaped trailing backslash was a ParseException, 'C:\\temp'
    stored a TAB)."""
    from dbt_ci_demo_spark.operators.materialize import Warehouse

    wh = Warehouse(spark, "wq_evolve", location=str(tmp_path / "wq_evolve"))
    try:
        base = spark.createDataFrame(
            [("2024-01-01", 1)], "ds string, v int"
        )
        wh.write_incremental(base, "t", strategy="insert_overwrite", partition_by="ds")
        widened = spark.createDataFrame(
            [("2024-01-02", 2, 9)], "ds string, v int, extra int"
        )
        wh.write_incremental(
            widened,
            "t",
            strategy="insert_overwrite",
            partition_by="ds",
            on_schema_change="append_new_columns",
        )
        got = {(r.ds, r.v, r.extra) for r in wh.read("t").collect()}
        assert got == {("2024-01-01", 1, None), ("2024-01-02", 2, 9)}, got
        import pytest as _pytest

        with _pytest.raises(ValueError, match="removed columns"):
            wh.write_incremental(
                spark.createDataFrame([("2024-01-03", 3)], "ds string, v int"),
                "t",
                strategy="insert_overwrite",
                partition_by="ds",
                on_schema_change="sync_all_columns",
            )
        wh.persist_docs("t", description="path C:\\temp ends with \\")
        # 'comment' is a reserved property: surfaced by DESCRIBE EXTENDED,
        # not SHOW TBLPROPERTIES
        desc = {
            r.col_name: r.data_type
            for r in spark.sql("DESCRIBE TABLE EXTENDED wq_evolve.t").collect()
        }
        assert desc.get("Comment") == "path C:\\temp ends with \\"
        # swap_in inherits the partition layout on DDL rewrites
        wh.alter_column_type("t", "v", "bigint")
        assert wh._partition_col("t") == "ds"
    finally:
        wh.drop_database()


def test_model_registry_duplicate_guard_and_closure_checksum():
    """r10 review findings: (a) duplicate model names raise instead of
    silently replacing (same-function re-registration stays idempotent
    for re-imports); (b) checksum sees closure/default values, so
    factory-built models with different parameters read as modified."""
    import pytest as _pytest

    reg: dict[str, Model] = {}

    @model(name="dup_guard", registry=reg)
    def m1(ctx):
        return None

    model(name="dup_guard", registry=reg)(m1)  # same fn: idempotent

    with _pytest.raises(ValueError, match="duplicate model name"):

        @model(name="dup_guard", registry=reg)
        def m2(ctx):
            return None

    def make(threshold):
        def fn(ctx):
            return threshold

        return Model(name="f", fn=fn, config=ModelConfig())

    a, b = make(1), make(2)
    assert a.checksum() != b.checksum()
    assert a.checksum() == make(1).checksum()  # stable across processes' reprs


def test_write_incremental_validates_before_ddl(spark, tmp_path):
    """ADVICE r10: a misconfigured insert_overwrite (no partition_by)
    with a column-adding schema policy used to ALTER the physical table
    schema first and only then raise — config validation must precede
    every DDL side effect."""
    import pytest as _pytest

    from dbt_ci_demo_spark.operators.materialize import Warehouse

    wh = Warehouse(spark, "wq_valorder", location=str(tmp_path / "wq_valorder"))
    try:
        base = spark.createDataFrame([("2024-01-01", 1)], "ds string, v int")
        wh.write_incremental(base, "t", strategy="insert_overwrite", partition_by="ds")
        widened = spark.createDataFrame(
            [("2024-01-02", 2, 9)], "ds string, v int, extra int"
        )
        with _pytest.raises(ValueError, match="insert_overwrite requires partition_by"):
            wh.write_incremental(
                widened,
                "t",
                strategy="insert_overwrite",  # partition_by omitted: misconfig
                on_schema_change="append_new_columns",
            )
        # the failed call must NOT have mutated the physical schema
        assert set(wh.read("t").columns) == {"ds", "v"}
    finally:
        wh.drop_database()


def test_model_checksum_set_cell_stable_across_hash_seeds(tmp_path):
    """ADVICE r10: set/frozenset iteration order depends on per-process
    hash randomization, so an un-canonicalized repr of a set-valued
    closure cell or default made the checksum differ across runs —
    state:modified then rebuilt everything every time. Computed in two
    subprocesses with different PYTHONHASHSEED values; the checksums
    must be identical (and differ when the set CONTENT differs)."""
    import os as _os
    import subprocess as _sp
    import sys as _sys

    script = r"""
import sys
sys.path.insert(0, {repo!r})
from dbt_ci_demo_spark.plans.model import Model, ModelConfig

extra = sys.argv[1]
s = {{"alpha", "bravo", "charlie", "delta", "echo", "foxtrot"}} | {{extra}}
def fn(ctx, opts=frozenset({{"x9", "y8", "z7", "w6", "v5"}}), nested=[{{"s": s}}]):
    return s
print(Model(name="f", fn=fn, config=ModelConfig()).checksum())
""".format(repo=_os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))))
    script_path = tmp_path / "checksum_probe.py"
    script_path.write_text(script)

    def run(seed: str, extra: str) -> str:
        env = dict(_os.environ, PYTHONHASHSEED=seed)
        out = _sp.run(
            [_sys.executable, str(script_path), extra],
            capture_output=True, text=True, env=env, check=True,
        )
        return out.stdout.strip()

    assert run("1", "golf") == run("42", "golf")
    assert run("1", "golf") != run("1", "hotel")  # content change still seen


def test_model_checksum_depth_guard_deterministic():
    """ADVICE r11: safe_repr recursed without a depth guard, so a
    self-referential or very deeply nested container value raised
    RecursionError at a point depending on the AMBIENT call-stack depth —
    the truncation point (and thus the checksum) could differ between
    invocation contexts, causing spurious state:modified. The fixed-cap
    guard must (a) not raise, (b) be identical when computed at
    different ambient stack depths, (c) still see shallow content."""
    import sys as _sys

    def make(cell):
        def fn(ctx):
            return cell

        return Model(name="f", fn=fn, config=ModelConfig())

    deep: list = []
    cur = deep
    for _ in range(_sys.getrecursionlimit() * 2):
        nxt: list = []
        cur.append(nxt)
        cur = nxt
    cyclic: list = [1]
    cyclic.append(cyclic)

    def at_depth(n, thunk):
        if n == 0:
            return thunk()
        return at_depth(n - 1, thunk)

    for v in (deep, cyclic):
        shallow_cs = make(v).checksum()  # (a) no RecursionError
        nested_cs = at_depth(400, lambda v=v: make(v).checksum())
        assert shallow_cs == nested_cs  # (b) ambient-depth independent

    assert make([1, [2, [3]]]).checksum() != make([1, [2, [4]]]).checksum()


def test_build_survives_unreadable_relation_in_bookkeeping(spark, sf_dir, env, tmp_path):
    """r12 review: in build-steps mode the post-build row count read an
    unguarded warehouse.read(name).count() — one unreadable relation
    ABORTED the whole build mid-ledger (later waves, remaining steps and
    the state publication all lost). The node must instead demote to
    error, downstream must skip, and the build must return a complete
    ledger."""
    runner = make_runner(spark, sf_dir, env, make_models(sf_dir), tmp_path)
    try:
        orig_read = runner.warehouse.read

        def flaky_read(name, *a, **kw):
            if name == "stg_orders":
                raise RuntimeError("relation vanished")
            return orig_read(name, *a, **kw)

        runner.warehouse.read = flaky_read
        steps: list = []
        state_path = tmp_path / "state.json"
        results = runner.build(build_steps=steps, state_out=str(state_path))
        assert results["stg_orders"].status == "error"
        assert "post-build read failed" in results["stg_orders"].error
        assert results["cust_totals"].status == "skipped"
        assert [(s.node, s.status, s.n_rows) for s in steps] == [
            ("stg_orders", "error", None),
            ("cust_totals", "skipped", None),
        ]
        assert state_path.exists()  # publication still lands
        # ADVICE r12: the demoted node must NOT be published as current —
        # run_one recorded it into new_state before the demotion, and an
        # unreverted entry makes the next state:modified run treat the
        # broken node as unmodified (never rebuilt) while --defer resolves
        # refs to the unreadable relation.
        published = StateManifest.load(str(state_path))
        assert "stg_orders" not in published.nodes
        assert "cust_totals" not in published.nodes  # skipped, never recorded

        # With a prior manifest carrying the node, demotion must RESTORE
        # the prior entry (defer keeps pointing at the last good relation)
        # instead of publishing the broken build.
        prior = StateManifest(
            {
                "stg_orders": {
                    "checksum": "old-cs",
                    "relation": "prod.stg_orders",
                    "config": {},
                }
            }
        )
        state_path2 = tmp_path / "state2.json"
        steps2: list = []
        results2 = runner.build(
            state=prior, build_steps=steps2, state_out=str(state_path2)
        )
        assert results2["stg_orders"].status == "error"
        published2 = StateManifest.load(str(state_path2))
        assert published2.nodes["stg_orders"] == prior.nodes["stg_orders"]
    finally:
        runner.warehouse.drop_database()


def test_deferred_ref_resolves_view_parent(spark, sf_dir, env, tmp_path):
    """--defer to a DataFrame-defined view parent: the manifest records
    ``<db>.<name>`` but the view lives as the session view
    ``<db>__view__<name>``, so ref() must resolve the deferred relation
    the way Warehouse.read does (it used to fail
    TABLE_OR_VIEW_NOT_FOUND)."""
    registry: dict[str, Model] = {}

    @model(name="v_orders", sources=["orders"], registry=registry, materialized="view")
    def v_orders(ctx):
        return ctx.source("orders").select("o_orderkey").limit(7)

    @model(name="from_view", refs=["v_orders"], registry=registry)
    def from_view(ctx):
        return ctx.ref("v_orders")

    prod = make_runner(spark, sf_dir, env, registry, tmp_path)
    state_path = str(tmp_path / "state_view.json")
    assert all(r.status == "success" for r in prod.build(state_out=state_path).values())
    state = StateManifest.load(state_path)

    registry["from_view"].config.cluster_by = ["o_orderkey"]  # modify the child only
    pr_env = EnvConfig(env="test", pr_number=9, database_prefix=env.database_prefix)
    pr = make_runner(spark, sf_dir, pr_env, registry, tmp_path / "pr")
    try:
        results = pr.build(select="state:modified+", state=state, defer=True)
        assert set(results) == {"from_view"}
        assert results["from_view"].status == "success", results["from_view"].error
        assert not pr.warehouse.exists("v_orders")  # deferred, not rebuilt
        assert pr.warehouse.read("from_view").count() == 7
    finally:
        pr.warehouse.drop_database()
        prod.warehouse.drop_database()


def _ledger(steps):
    return [(s.seq, s.node, s.resource_type, s.status, s.n_rows) for s in steps]


def test_ready_queue_releases_child_before_wave_mate_ends(spark, sf_dir, env, tmp_path):
    """Release witness for the ready queue: ``slow`` blocks until
    ``child_of_fast``'s model runs. Under wave barriers the child could
    not start before its parent's wave-mate ``slow`` ended, so ``slow``
    would time out and error; the queue starts the child as soon as
    ``fast`` (and its test) finish."""
    import threading

    from dbt_ci_demo_spark.operators.quality import test_unique

    released = threading.Event()
    registry: dict[str, Model] = {}

    @model(name="slow", sources=["orders"], registry=registry)
    def slow(ctx):
        if not released.wait(timeout=60):
            raise TimeoutError("child_of_fast never started while slow ran")
        return ctx.source("orders").select("o_orderkey").limit(3)

    @model(name="fast", sources=["orders"], registry=registry)
    def fast(ctx):
        return ctx.source("orders").select("o_orderkey").limit(5)

    @model(name="child_of_fast", refs=["fast"], registry=registry)
    def child_of_fast(ctx):
        released.set()
        return ctx.ref("fast")

    runner = make_runner(spark, sf_dir, env, registry, tmp_path)
    try:
        steps: list = []
        results = runner.build(
            tests={"fast": [("unique_fast", lambda df: test_unique(df, "o_orderkey"))]},
            build_steps=steps,
        )
        assert all(r.status == "success" for r in results.values()), results
        # completion order was fast, unique_fast, child_of_fast, slow; the
        # ledger keeps wave order, name-sorted within a wave
        assert _ledger(steps) == [
            (1, "fast", "model", "success", 5),
            (2, "unique_fast", "test", "pass", 0),
            (3, "slow", "model", "success", 3),
            (4, "child_of_fast", "model", "success", 5),
        ]
        assert list(results) == ["fast", "slow", "child_of_fast"]
    finally:
        runner.warehouse.drop_database()


def test_ledger_independent_of_completion_order_and_threads(spark, sf_dir, env, tmp_path):
    """The ledger (order, seq, statuses, row counts) and the published
    manifest are the same whether nodes finish out of name order on four
    threads or run one at a time on one thread."""
    import time

    from dbt_ci_demo_spark.operators.quality import test_unique

    def make_registry():
        registry: dict[str, Model] = {}

        @model(name="a_slow", sources=["orders"], registry=registry)
        def a_slow(ctx):
            time.sleep(1.0)  # on 4 threads, b_fast (and usually c_mid) finish first
            return ctx.source("orders").select("o_orderkey").limit(4)

        @model(name="b_fast", sources=["orders"], registry=registry)
        def b_fast(ctx):
            return ctx.source("orders").select("o_orderkey", "o_custkey").limit(6)

        @model(name="c_mid", refs=["b_fast"], registry=registry)
        def c_mid(ctx):
            return ctx.ref("b_fast").select("o_custkey")

        @model(name="d_join", refs=["a_slow", "c_mid"], registry=registry)
        def d_join(ctx):
            return ctx.ref("a_slow").crossJoin(ctx.ref("c_mid").limit(1))

        @model(name="e_after_fail", refs=["c_mid"], registry=registry)
        def e_after_fail(ctx):
            return ctx.ref("c_mid")

        return registry

    tests = {
        "a_slow": [("unique_a", lambda df: test_unique(df, "o_orderkey"))],
        "b_fast": [("unique_b", lambda df: test_unique(df, "o_orderkey"))],
        # duplicate custkeys in a 6-row slice are not guaranteed; a constant
        # column always fails unique, so the skip path is exercised
        "c_mid": [("unique_c", lambda df: test_unique(df.select(F.lit(1).alias("k")), "k"))],
    }
    ledgers, manifests = [], []
    for threads in (4, 1):
        env_t = EnvConfig(
            env="test", database_prefix=f"{env.database_prefix}_t{threads}", threads=threads
        )
        runner = make_runner(spark, sf_dir, env_t, make_registry(), tmp_path / f"t{threads}")
        try:
            steps: list = []
            state_path = tmp_path / f"state_t{threads}.json"
            runner.build(tests=tests, build_steps=steps, state_out=str(state_path))
            ledgers.append(_ledger(steps))
            manifests.append(
                {n: e["checksum"] for n, e in StateManifest.load(str(state_path)).nodes.items()}
            )
        finally:
            runner.warehouse.drop_database()
    assert ledgers[0] == ledgers[1]
    assert manifests[0] == manifests[1]
    assert ledgers[0] == [
        (1, "a_slow", "model", "success", 4),
        (2, "unique_a", "test", "pass", 0),
        (3, "b_fast", "model", "success", 6),
        (4, "unique_b", "test", "pass", 0),
        (5, "c_mid", "model", "success", 6),
        (6, "unique_c", "test", "fail", 1),
        (7, "d_join", "model", "skipped", None),
        (8, "e_after_fail", "model", "skipped", None),
    ]


def test_nodes_inherit_callers_job_group_with_private_properties(
    spark, sf_dir, env, tmp_path
):
    """Every node's thread carries the caller's job group (a single-node
    wave used to run on the caller's thread and a wider one in a pool
    without it), and a local property one node sets does not leak into
    a node running concurrently."""
    import threading

    sc = spark.sparkContext
    a_set, b_read = threading.Event(), threading.Event()
    seen: dict[str, object] = {}
    registry: dict[str, Model] = {}

    @model(name="a", sources=["orders"], registry=registry)
    def a(ctx):
        seen["a"] = sc.getLocalProperty("spark.jobGroup.id")
        sc.setLocalProperty("probe.owner", "a")
        a_set.set()
        b_read.wait(timeout=60)
        return ctx.source("orders").select("o_orderkey").limit(2)

    @model(name="b", sources=["orders"], registry=registry)
    def b(ctx):
        seen["b"] = sc.getLocalProperty("spark.jobGroup.id")
        a_set.wait(timeout=60)
        seen["b_probe"] = sc.getLocalProperty("probe.owner")
        b_read.set()
        return ctx.source("orders").select("o_orderkey").limit(2)

    @model(name="c", refs=["a", "b"], registry=registry)
    def c(ctx):
        seen["c"] = sc.getLocalProperty("spark.jobGroup.id")
        return ctx.ref("a").unionByName(ctx.ref("b"))

    runner = make_runner(spark, sf_dir, env, registry, tmp_path)
    prev = (sc.getLocalProperty("spark.jobGroup.id"),
            sc.getLocalProperty("spark.job.description"))
    sc.setJobGroup("runner-job-group", "job group test")
    try:
        results = runner.build()
        assert all(r.status == "success" for r in results.values()), results
        assert seen["a"] == seen["b"] == seen["c"] == "runner-job-group", seen
        assert seen["b_probe"] is None, seen
        assert sc.getLocalProperty("probe.owner") is None  # caller untouched
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev[0])
        sc.setLocalProperty("spark.job.description", prev[1])
        runner.warehouse.drop_database()


def test_ready_queue_stress_builds_each_node_once(spark, sf_dir, env, tmp_path):
    """Queue stress: a 3-layer, 24-node DAG of views (each child refs two
    parents, plus one node that refs the same parent twice) on more
    threads than cores, with a shortened switch interval. Every node
    runs exactly once, after its parents, and the results and the
    published manifest hold all of them."""
    import sys
    from collections import Counter

    calls: list[str] = []
    registry: dict[str, Model] = {}

    def add(name, refs):
        @model(name=name, refs=refs, registry=registry, materialized="view")
        def fn(ctx):
            calls.append(name)
            if not refs:
                return spark.range(1).withColumnRenamed("id", "k")
            return ctx.ref(refs[0]).unionByName(ctx.ref(refs[1]))

    layers = [[f"l{d}_{i}" for i in range(8)] for d in range(3)]
    for name in layers[0]:
        add(name, [])
    for up, layer in zip(layers, layers[1:]):
        for i, name in enumerate(layer):
            add(name, [up[i], up[(i + 1) % 8]])
    add("twice_same_parent", ["l2_0", "l2_0"])  # a repeated ref releases once

    env8 = EnvConfig(env="test", database_prefix=env.database_prefix, threads=8)
    runner = make_runner(spark, sf_dir, env8, registry, tmp_path)
    prev = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        state_path = str(tmp_path / "state_stress.json")
        results = runner.build(state_out=state_path)
    finally:
        sys.setswitchinterval(prev)
    try:
        order = [n for layer in layers for n in layer] + ["twice_same_parent"]
        assert list(results) == order
        assert all(r.status == "success" for r in results.values()), results
        assert Counter(calls) == Counter(order)
        for name in order[8:]:  # each child's model ran after its parents'
            assert calls.index(name) > max(calls.index(p) for p in registry[name].refs)
        assert set(StateManifest.load(state_path).nodes) == set(order)
        assert runner.warehouse.read("l2_0").count() == 4
    finally:
        runner.warehouse.drop_database()
