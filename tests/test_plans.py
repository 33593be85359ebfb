"""Plan-quality gate: every registered query's physical plan must be free
of scale-killers. This is the 100 TB regression guard — correctness tests
can't catch a plan that silently degrades to a cartesian product or a
driver-side loop when an expression change defeats a join condition.

Checks (plan-only; nothing is executed):
- no CartesianProduct / BroadcastNestedLoopJoin, except the whitelisted
  queries that intentionally build 1-row×N fixtures or documented
  brute-force verifiers over bounded subsamples;
- parquet scans of the big fact tables carry pushed filters whenever the
  query filters on a scan column (spot-checked on representative queries).
"""

from __future__ import annotations

import pytest
from conftest import cached_plans, drain_cleaner

from dbt_ci_demo_spark import queries as q

# Queries allowed to contain a nested-loop/cartesian stage. Each is a
# documented bounded fan-out, not a data-sized cross product:
#   - *_campaigns: 1-row → N-campaign fixture build / day-bucket expansion
#   - sim_topk_bruteforce / dedup_jaccard_pairs: documented brute-force
#     baselines over bounded subsamples (the LSH/IVF variants are the
#     scale path)
#   - sim_ivf_topk: broadcast of the tiny centroid table against which
#     Spark picks BroadcastNestedLoopJoin for the non-equi probe condition
#   - q22 / q11 / text_tfidf: a global scalar aggregate enters as a
#     broadcast of a 1-row DataFrame (the standard scalar-subquery shape)
#   - emb_kmeans_step: every vector scores against all k broadcast seed
#     centroids — a deliberate bounded fan-out of k, not a data-sized product
_CARTESIAN_OK = {
    "events_range_join_campaigns",
    "sim_topk_bruteforce",
    "sim_topk_quantized",  # same shape: exact verifier, broadcast query side
    "dedup_jaccard_pairs",
    "sim_ivf_topk",
    "sim_ivf_quantized",  # same shape: tiny centroid-table broadcast for the probe
    "sim_ivf_kmeans_trained",  # same shape: broadcast of the tiny trained-centroid table
    "q22_idle_rich_customers",
    "q11_important_parts",
    "text_tfidf_topterms",
    "text_unigram_logprob",  # same shape: 1-row (N, V) totals broadcast
    "text_ccnet_buckets",  # same shape: its scoring lineage is text_unigram_logprob's
    "pipe_mixture_from_quality",  # same shape: 1-row min-clean-tokens broadcast
    "samp_budget_allocation",  # same shape: 1-row N/leftover broadcasts over a k-row table
    "pipe_budgeted_curation",  # same shape: allocate_budget's 1-row broadcasts inside
    # samp_quota_threshold / samp_quota_threshold2 no longer need the
    # exemption: r08 pins their quota table (lazy localCheckpoint), so
    # allocate_budget's 1-row cross joins live inside the pinned k-row
    # lineage, not the corpus plan
    "emb_kmeans_step",
    "stats_sketch_quantiles",  # same shape: 4-row GK-quantile broadcast for the rank verify
}

# Queries whose construction performs warehouse writes/DDL; building their
# final plan is still cheap, but they mutate session state — run them last
# and in isolation from the assertion on scan pushdown.
_SLOW_SETUP = {name for name in q.registry_queries() if name.startswith("wr_")}


def _plan(spark, name, sf_dir) -> str:
    import inspect

    fn = q.registry_queries()[name]
    kwargs = {}
    # Queries that eagerly materialize (persist + checkpoint) expose only
    # a Scan ExistingRDD; their lazy twin (materialize=False) shows the
    # real plan. (The twin skips the checkpoint, not all execution —
    # ntile_histogram's two bounded threshold collects still run.)
    if "materialize" in inspect.signature(fn).parameters:
        kwargs["materialize"] = False
    df = fn(spark, sf_dir, **kwargs)
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.slow  # ~3 min 160-param sweep: round-close tier (the targeted
# plan pins below keep the fast signal; whitelist tightness stays default)
@pytest.mark.parametrize("name", sorted(set(q.registry_queries()) - _SLOW_SETUP))
def test_no_cartesian_product(spark, sf_dir, name):
    plan = _plan(spark, name, sf_dir)
    for killer in ("CartesianProduct", "BroadcastNestedLoopJoin"):
        if killer in plan:
            assert name in _CARTESIAN_OK, f"{name}: plan contains {killer}"


@pytest.mark.slow  # ~22s full-registry plan sweep: round-close tier (r11
# fast-tier budget; the per-query cartesian guard still runs fast-tier)
def test_whitelist_is_tight(spark, sf_dir):
    """Every whitelisted query must actually need its exemption — remove
    stale entries so the whitelist can't mask future regressions."""
    stale = [
        name
        for name in sorted(_CARTESIAN_OK)
        if not any(
            k in _plan(spark, name, sf_dir)
            for k in ("CartesianProduct", "BroadcastNestedLoopJoin")
        )
    ]
    assert not stale, f"whitelisted but clean: {stale}"


@pytest.mark.parametrize(
    ("name", "expectations"),
    [
        # q6: tight range filters on lineitem must reach the parquet scan.
        ("q6_forecast_revenue", ["PushedFilters: [IsNotNull(l_shipdate)"]),
        # q1: the shipdate predicate must be pushed, not post-scan.
        ("q1_pricing_summary", ["PushedFilters: [IsNotNull(l_shipdate)"]),
        # flagship: join-key null filters pushed into all three scans.
        ("flagship_repo_languages", ["PushedFilters: [IsNotNull("]),
        # sampling: the keep predicate is md5-derived (not pushable), but
        # column pruning must hold — the scan must not read `text`.
        ("samp_hash_fraction", ["ReadSchema: struct<doc_id:bigint,lang:string,source:string,n_chars:bigint>"]),
        # q12: the ship-year range filter must reach the lineitem scan.
        ("q12_priority_by_status", ["PushedFilters: [IsNotNull(l_shipdate)"]),
        # funnel: the event-type filters must reach the events scan.
        ("events_funnel_conversion", ["PushedFilters: [IsNotNull(event_type)"]),
        # label centroids: the scan must read only (label, embedding).
        ("emb_label_centroids", ["ReadSchema: struct<embedding:array<float>,label:int>"]),
        # line dedup (VERDICT r03 task 4): the count/anti-join key must be
        # the 8-byte xxhash64 of the line, not the line string.
        ("text_line_dedup", ["xxhash64"]),
        # source quality: scan must prune to (text, source, n_chars) —
        # doc_id and lang are not read.
        ("text_source_quality", ["ReadSchema: struct<text:string,source:string,n_chars:bigint>"]),
        # sketch quantiles: both the sketch pass and the rank-verify
        # rescan must read ONLY the price column.
        ("stats_sketch_quantiles", ["ReadSchema: struct<l_extendedprice:double>"]),
    ],
)
def test_scan_pushdown(spark, sf_dir, name, expectations):
    plan = _plan(spark, name, sf_dir)
    for fragment in expectations:
        assert fragment in plan, f"{name}: missing {fragment!r}"


def test_orc_roundtrip_pushdown(spark, sf_dir):
    """src_orc_roundtrip's read-back contract: the partition-column filter
    prunes directories (PartitionFilters) and the data-column predicate is
    pushed into the vectorized ORC reader (PushedFilters on l_quantity) —
    the same scan discipline the parquet plans are held to."""
    plan = _plan(spark, "src_orc_roundtrip", sf_dir)
    assert "FileScan orc" in plan, plan
    assert "PartitionFilters: [l_returnflag" in plan, plan
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThanOrEqual(l_quantity,25.0)]" in plan, plan
    # Column pruning: the data files carry only the four non-partition
    # columns; none may be read beyond the projection.
    assert (
        "ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,"
        "l_quantity:double,l_extendedprice:double>" in plan
    ), plan


def test_window_audit_bounded_plans(spark, sf_dir):
    """r07 second-pass window-skew audit: the three queries that carried
    data-sized window partitions must keep their bounded rewrites —
    win_first_last_value is a pure min_by/max_by aggregate (NO window
    operator), stats_exact_percentiles has no row_number rank sort (its
    only windows are the two histogram running sums over aggregated
    bin/distinct-price tables), and text_ccnet_buckets has no ntile (its
    windows are the bin cumsum and the boundary-bin rank, both bounded)."""
    p = _plan(spark, "win_first_last_value", sf_dir)
    assert "Window" not in p, p
    p = _plan(spark, "stats_exact_percentiles", sf_dir)
    assert "row_number" not in p, p
    assert p.count("Window [") == 2, p
    p = _plan(spark, "text_ccnet_buckets", sf_dir)
    # "ntile(" = the window function call; the bare word appears in the
    # operator's own raise_error guard message (r08)
    assert "ntile(" not in p, p
    # Exactly ONE window in the whole bucket plan: the boundary-bin edge
    # rank, partitioned by (lang, __bin) — bounded by ~stratum/n_bins.
    # The thresholds are driver-held literals (Lloyd precedent), so the
    # corpus pass has no cumsum window and no broadcast threshold join.
    wlines = [ln for ln in p.splitlines() if "Window [" in ln]
    assert len(wlines) == 1, p
    assert "row_number()" in wlines[0] and "__bin" in wlines[0], p
    # The production composition, ``with pinned(scored):
    # tercile_buckets(scored)``: the corpus pass reads the cached scoring
    # lineage exactly twice (plain + edge union branches) and executes
    # ZERO parquet scans outside the cache. The pin keeps lineage (the
    # parquet text under InMemoryRelation is its recompute lineage,
    # executed only on a cache miss).
    from dbt_ci_demo_spark.queries_northstar import (
        tercile_buckets,
        text_unigram_logprob,
    )
    from dbt_ci_demo_spark.session import pinned

    scored = text_unigram_logprob(spark, sf_dir, materialize=False).join(
        q._t(spark, sf_dir, "documents").select("doc_id", "lang"), "doc_id"
    )
    with pinned(scored):
        qe = tercile_buckets(scored)._jdf.queryExecution()
        p = qe.executedPlan().toString()
        opt = qe.optimizedPlan().toString()
    assert p.count("InMemoryTableScan") == 2, p
    assert "Scan ExistingRDD" not in p, p
    # optimized plan: exactly two leaf relations, both the cached pin —
    # a parquet leaf OUTSIDE the cache (a branch escaping the pin) or a
    # third reference (re-expansion) would change these counts
    assert opt.count("Relation [") == 2, opt
    assert opt.count("InMemoryRelation [") == 2, opt
    # Global ntile(4) over raw orders — the unpartitioned-window case of
    # the same audit: one bin-partitioned rank window, no ntile, and the
    # driver-held thresholds mean ZERO joins and exactly ONE exchange
    # (the boundary-bin edge window) in the whole corpus pass.
    p = _plan(spark, "win_ntile_quartiles", sf_dir)
    # "ntile(" = the window function call; the bare word appears in the
    # operator's own raise_error guard message (r08)
    assert "ntile(" not in p, p
    wlines = [ln for ln in p.splitlines() if "Window [" in ln]
    assert len(wlines) == 1, p
    assert "row_number()" in wlines[0] and "__bin" in wlines[0], p
    assert "Join" not in p, p
    assert p.count("Exchange") == 1, p
    # unpinned: a bare column-pruned parquet scan re-reads (2 visible
    # branches) instead of storing a corpus copy
    assert p.count("Scan parquet") == 2, p
    assert "Scan ExistingRDD" not in p, p


def test_ntile_threshold_bounded_plan(spark, sf_dir):
    """win_ntile_highcard (r08): the distributed broadcast-threshold
    ntile must keep every join a broadcast (stats, targets, bounds — all
    k-row PINNED tables, visible as Scan ExistingRDD; the corpus side
    never sort-merges), exactly ONE corpus-visible Window — the
    boundary-bin edge rank on (__sk, __bin) — and no ntile window
    function anywhere. The bin-table cumsum windows live inside the
    pinned bounds table's own (k·n_bins-row) lineage, not the corpus
    pass. Pinning (lazy localCheckpoint, session.pin_small) is itself
    load-bearing: un-pinned, the union branches re-expanded the k-row
    derivations into 15 corpus scans (r08 audit)."""
    p = _plan(spark, "win_ntile_highcard", sf_dir)
    assert "ntile(" not in p, p
    assert "SortMergeJoin" not in p, p
    assert "BroadcastHashJoin" in p, p
    assert "Scan ExistingRDD" in p, p
    wlines = [ln for ln in p.splitlines() if "Window [" in ln]
    assert len(wlines) == 1, p
    assert "row_number()" in wlines[0] and "__bin" in wlines[0], p
    # both union branches read the corpus; no further re-expansion
    assert p.count("Scan parquet") == 2, p


def test_quota_threshold_recursion_bounded_plan(spark, sf_dir):
    """samp_quota_threshold2 (r08): two histogram levels — quotas and
    per-level boundaries are k-row PINNED tables (lazy localCheckpoint),
    every corpus-side join broadcasts, and the only corpus-visible
    row_number window is the final residual rank (ordered by the __h
    hash) whose partitions the two levels bounded by ~stratum/buckets².
    Un-pinned, the recursion re-expanded lineage exponentially — 244
    parquet scans at level 2 (r08 audit); pinned, the corpus is read
    once per union branch (3 = below₁ ∪ below₂ ∪ residual)."""
    p = _plan(spark, "samp_quota_threshold2", sf_dir)
    assert "SortMergeJoin" not in p, p
    assert "Scan ExistingRDD" in p, p
    rn = [ln for ln in p.splitlines() if "Window [" in ln and "row_number()" in ln]
    assert len(rn) == 1 and "__h" in rn[0], p
    assert p.count("Scan parquet") == 3, p


def test_cdc_chain_pins_state_lineage(spark, sf_dir):
    """cdc_apply_versioned_chain (r08 engine-wide lineage audit): one
    versioned apply reads its state twice (the anti-join/semi-join
    split) and its feed twice (key set + merge), so a lazily CHAINED
    sequence re-expands the prior state's WHOLE derivation per
    reference — leaf relations grow ~2^batches (the registered 2-apply
    query planned 26 leaf scans, the 3-apply compact query 59). The
    chain helper checkpoints state between applies (session.checkpoint,
    the star-CC per-round precedent): each intermediate state
    materializes ONCE and the final plan reads checkpointed RDDs only.
    Asserts the unpinned counter-case (super-linear growth), the pinned
    shape, and bit-equality of the two results."""
    from dbt_ci_demo_spark.operators import incremental as incr
    from dbt_ci_demo_spark.queries import _cdc_change_batches, _t

    import pyspark.sql.functions as F

    o = _t(spark, sf_dir, "orders")
    b1, b2 = _cdc_change_batches(o)
    b3 = (
        o.filter(F.col("o_orderkey") % 9 == 0)
        .withColumn("seq", F.lit(4))
        .withColumn("op", F.lit("D"))
    )
    state0 = o.withColumn("seq", F.lit(0)).withColumn("op", F.lit("U"))

    def leaves(df):
        return df._jdf.queryExecution().optimizedPlan().toString().count("Relation [")

    # counter-case: lazily chained applies re-expand exponentially
    un = state0
    counts = []
    for b in (b2, b1, b3):
        un = incr.cdc_apply_versioned(un, b, "o_orderkey", "seq", "op")
        counts.append(leaves(un))
    assert counts[2] >= 40, counts  # measured 59; proves the defect shape
    assert counts[2] > counts[1] > counts[0] >= 6, counts  # super-linear

    # pinned chain: final plan reads materialized state, zero re-derivation
    pinned = incr.cdc_apply_versioned_chain(
        state0, (b2, b1, b3), "o_orderkey", "seq", "op"
    )
    assert leaves(pinned) == 0, pinned._jdf.queryExecution().optimizedPlan().toString()
    phys = pinned._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" in phys, phys

    # decision equality: the pin changes plans, never rows
    cols = state0.columns
    left = sorted(map(tuple, un.select(*cols).collect()))
    right = sorted(map(tuple, pinned.select(*cols).collect()))
    assert left == right


def test_asof_is_join_free_two_exchanges(spark, sf_dir):
    """The as-of attribution claim (SCALE.md As-of section): no Join
    operator at all; exactly two exchanges — the union + shared
    carry-forward window's user-keyed shuffle plus the upstream
    same-instant view-dedup rank window on (user, ts), whose rn = 1
    literal must plan a map-side WindowGroupLimit."""
    p = _plan(spark, "events_asof_attribution", sf_dir)
    assert "Join" not in p, p
    assert p.count("Exchange") == 2, p
    assert p.count("Window [") == 2, p
    assert "WindowGroupLimit" in p, p


def test_hll_merge_is_single_scan(spark, sf_dir):
    """stats_sketch_distinct_merge claims a ONE-scan rollup plan (per-type
    rows + global row from one Expand pass, merge via a k-row window) —
    pin it: exactly one parquet scan, no join of any kind."""
    plan = _plan(spark, "stats_sketch_distinct_merge", sf_dir)
    assert plan.count("Scan parquet") == 1, plan
    assert "Join" not in plan, plan
    assert "Expand" in plan  # the GROUPING SETS pass


def test_broadcasts_present(spark, sf_dir):
    """Dimension joins in the TPC-H shapes must broadcast, not sort-merge."""
    for name in ("q5_local_supplier_volume", "q3_top_orders", "q10_returned_revenue"):
        plan = _plan(spark, name, sf_dir)
        assert "BroadcastHashJoin" in plan, f"{name}: no broadcast join in plan"


@pytest.mark.parametrize(
    "name",
    [
        # every sampler/filter below claims "scan-only" in its docstring:
        # the keep/assign decision is a pure column predicate, so the
        # physical plan must contain NO Exchange at all — sampling 100 TB
        # is one scan, zero shuffles.
        "samp_hash_fraction",
        "samp_train_test_split",
        "samp_source_mixture",
        "samp_quality_weighted",
        "text_badwords_filter",
    ],
)
def test_scan_only_samplers_have_no_exchange(spark, sf_dir, name):
    plan = _plan(spark, name, sf_dir)
    assert "Exchange" not in plan, f"{name}: claimed scan-only but plan shuffles"


def test_decontaminate_broadcasts_benchmark(spark, sf_dir):
    """pipe_decontaminate's n-gram wash must broadcast the (eval-sized)
    benchmark side — a shuffle join of corpus n-grams against the
    benchmark would re-shuffle the corpus-dominated gram table."""
    plan = _plan(spark, "pipe_decontaminate", sf_dir)
    assert "BroadcastHashJoin" in plan, "benchmark n-gram set not broadcast"


def test_kmeans_round_is_single_exchange_no_join_no_window(spark, sf_dir):
    """The r06 Lloyd round shape: with the quantizer driver-held and
    embedded as literals, one training round must be a pure projection
    feeding the map-side-combined (cluster, dim) aggregate — no Window,
    no Join, and exactly ONE Exchange (the k·d-row centroid aggregate)
    in the physical plan. This is the zero-corpus-shuffle claim of
    SCALE.md's k-means section, pinned."""
    from pyspark.sql import functions as F

    from dbt_ci_demo_spark import queries_embed as qe
    from dbt_ci_demo_spark.sources.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.select("vec_id", qe._kmeans_quant_expr().alias("q"))
    seed_items = qe._collect_seed_items(
        base.filter(F.col("vec_id") < qe._KM_K).select(
            F.col("vec_id").alias("cluster_id"), F.col("q").alias("sq")
        )
    )
    cent = (
        base.select(
            qe._kmeans_assign_matrix_expr(seed_items).alias("cluster_id"), "q"
        )
        .select("cluster_id", F.posexplode(F.col("q")).alias("dim", "fx"))
        .groupBy("cluster_id", "dim")
        .agg(F.sum("fx").alias("s"), F.count(F.lit(1)).alias("n"))
    )
    plan = cent._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, "Lloyd round regressed to a window argmin"
    assert "Join" not in plan, "Lloyd round regressed to a join-based assignment"
    assert plan.count("Exchange") == 1, f"expected exactly 1 Exchange:\n{plan}"
    assert "partial_sum" in plan, "centroid aggregate lost map-side combine"


def test_quota_sampler_gets_window_group_limit(spark, sf_dir):
    """r07 (VERDICT r06 #1): stratified_sample_by_quota's exact filter is
    ``__rk <= col("quota")`` — a COLUMN bound, which Spark's
    InferWindowGroupLimit rule cannot use, so without a guard each whole
    stratum funnels into one reduce task. The fix adds a redundant
    plan-time literal conjunct (max_quota = the total budget); this test
    pins that the guarded path plans a map-side WindowGroupLimit exactly
    like the literal-cap sampler, and that the unguarded path indeed does
    not (so the test fails loudly if Spark ever starts inferring the
    column case and the guard becomes removable)."""
    from pyspark.sql import functions as F

    from dbt_ci_demo_spark.operators import sampling as sp
    from dbt_ci_demo_spark.sources.catalog import load_table

    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    quotas = (
        d.groupBy("lang")
        .count()
        .select("lang", (F.col("count") / 10 + 1).cast("long").alias("quota"))
    )
    unguarded = sp.stratified_sample_by_quota(d, ["lang"], "doc_id", quotas)
    guarded = sp.stratified_sample_by_quota(
        d, ["lang"], "doc_id", quotas, max_quota=1000
    )
    p_un = unguarded._jdf.queryExecution().executedPlan().toString()
    p_g = guarded._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" not in p_un, (
        "Spark now infers a group limit from the column-bound filter — "
        "the max_quota guard is removable"
    )
    assert "WindowGroupLimit" in p_g, (
        "guarded quota sampler lost its map-side WindowGroupLimit:\n" + p_g
    )
    # the flagship consumer must carry the guard end-to-end
    full = _plan(spark, "pipe_budgeted_curation", sf_dir)
    assert "WindowGroupLimit" in full, (
        "pipe_budgeted_curation's quota cap plans no WindowGroupLimit"
    )


def test_matrix_assignment_is_zero_shuffle_projection(spark, sf_dir):
    """emb_assign_matrix (r07): large-k assignment through the matrix
    seam must stay a pure projection — no Exchange, no Join, no Window
    in the physical plan (the oracle's cross-join + rank formulation is
    the semantics, never the plan)."""
    plan = _plan(spark, "emb_assign_matrix", sf_dir)
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan
    assert "Window" not in plan, plan


@pytest.mark.slow  # full-registry sweep (~6 min at sf0.001): round-close tier
def test_leaf_relation_ceiling(spark, sf_dir):
    """Registry-wide lineage audit, frozen (r09, VERDICT r08 #2): the r08
    MANUAL sweep that caught three exponential union-branch re-expansion
    defects (quota-threshold samplers 244→6 parquet scans, chained
    versioned-CDC ~2^batches, containment 18→4) becomes a permanent
    regression test — each registered query's optimized plan may read at
    most the recorded number of leaf relations (tests/leaf_ceilings.json,
    generated from the r09 sweep at sf0.001; logical-plan leaf counts are
    SF-independent). A new re-expansion now fails pytest instead of
    waiting for a future round's audit. Maintenance: a legitimately
    added table read means regenerating the entry (the docstring of
    session.pin_small explains the pin pattern to try first); wr_*
    writer queries mutate warehouse state and are excluded (same posture
    as the cartesian sweep). Ceilings, not exact pins: the four
    r08-audited queries keep their exact scan-count pins in the targeted
    tests above."""
    import inspect
    import json
    from pathlib import Path

    ceilings = json.loads(
        (Path(__file__).parent / "leaf_ceilings.json").read_text()
    )
    names = sorted(set(q.registry_queries()) - _SLOW_SETUP)
    missing = [n for n in names if n not in ceilings]
    assert not missing, f"queries without a recorded leaf ceiling: {missing}"
    over = {}
    for name in names:
        fn = q.registry_queries()[name]
        kwargs = {}
        if "materialize" in inspect.signature(fn).parameters:
            kwargs["materialize"] = False
        df = fn(spark, sf_dir, **kwargs)
        got = df._jdf.queryExecution().optimizedPlan().toString().count("Relation [")
        if got > ceilings[name]:
            over[name] = (got, ceilings[name])
    assert not over, (
        "leaf-relation re-expansion (query: got > ceiling) — a corpus-derived "
        f"table is probably re-deriving its lineage per reference: {over}"
    )


def test_remove_spans_plan_is_one_join_no_explode(spark):
    """r11 plan pin for the splice operator's docstring claims: the span
    application is ONE doc-keyed join plus a pure array-expression
    projection — no Generate (the corpus token table is never exploded;
    the per-token decision runs inside filter-with-index lambdas) and no
    window. At 100 TB the splice therefore costs one join against the
    output-proportional span table, nothing corpus-quadratic."""
    from dbt_ci_demo_spark.operators.dedup import remove_spans

    docs = spark.createDataFrame(
        [(1, "a b c d e f g h i"), (2, "x y")], "doc_id bigint, text string"
    )
    spans = spark.createDataFrame(
        [(1, 2, 4)], "doc_id bigint, span_start bigint, span_end bigint"
    )
    out = remove_spans(docs, spans, "text", "doc_id")
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "Generate" not in plan, plan
    assert "Window" not in plan, plan
    assert plan.count("Join") == 1, plan
    got = {r.doc_id: r for r in out.collect()}
    assert got[1].text_spliced == "a b f g h i" and got[1].n_removed == 3
    assert got[2].text_spliced == "x y" and got[2].n_removed == 0


# Registered queries whose code path reaches session.pinned, checkpoint or
# pin_small (found by recording every persist/checkpoint/localCheckpoint
# call over the registry at sf0.001). The leak test runs these in the
# default tier and every other registered query in the slow tier.
_MATERIALIZING = {
    "dedup_cluster_components",
    "dedup_cluster_star",
    "dedup_containment",
    "dedup_incremental_minhash",
    "dedup_index_refresh_cycle",
    "dedup_index_retry_replay",
    "dedup_minhash_lsh",
    "emb_kmeans_converged",
    "graph_pagerank",
    "incr_cdc_compact",
    "incr_cdc_versioned",
    "pipe_budgeted_curation",
    "pipe_curation_end_to_end",
    "samp_quality_weighted",
    "samp_quota_threshold",
    "samp_quota_threshold2",
    "sim_ivf_kmeans_trained",
    "stream_cdc_versioned",
    "stream_foreachbatch_merge",
    "text_ccnet_buckets",
    "text_unigram_logprob",
    "win_ntile_highcard",
}


@pytest.mark.parametrize(
    "name",
    [
        name if name in _MATERIALIZING else pytest.param(name, marks=pytest.mark.slow)
        for name in sorted(q.registry_queries())
    ],
)
def test_query_leaves_no_storage_behind(spark, sf_dir, name):
    """Nothing a registered query pins outlives its result: forced (noop
    write), dropped and drained, the session's persisted RDDs and
    CacheManager entries equal their pre-query state."""
    rdds, plans = drain_cleaner(spark), cached_plans(spark)
    out = q.registry_queries()[name](spark, sf_dir)
    out.write.format("noop").mode("overwrite").save()
    del out
    assert drain_cleaner(spark) == rdds
    assert cached_plans(spark) == plans
