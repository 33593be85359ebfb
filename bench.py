"""Benchmark harness (driver contract): run the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and print ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is forced with a noop-format write (full execution, no driver
collect, no disk cost), after a small warm-up to exclude JVM/codegen
startup from per-query numbers.

PROBE CONFIG PARITY (r07 judge lesson): any standalone probe compared
against these numbers MUST match the engine's session config —
``dbt_ci_demo_spark.session.get_spark``'s master local[32], shuffle
partitions 32, AQE + coalescePartitions, 8g driver memory, and the
checkpoint dir — a hand-rolled probe with shuffle=64 read
dedup_minhash_lsh 1.5× slow (4.31 s vs 2.80 s config-matched at
identical q1 canary parity), a pure-config false regression. Use
fresh-JVM warm-3/min-of-5 probes and normalize by q1 (~1.15 s historic)
for cross-day comparisons.

IN-BENCH CONTENTION (r09 lesson): a ~70-row run accumulates same-JVM
session state, and mid-list rows can read >1.3x their isolated cost on
a clean-canary day (r09: dedup_minhash_lsh 5.34 in-bench vs 3.37
isolated, BELOW its r08 mark). Adjudicate any in-bench riser with an
isolated fresh-JVM probe before believing it; the per-round ratchet
compares like-for-like (both in-bench), so the totals stay meaningful.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "flagship_repo_languages",
    "q1_pricing_summary",
    "q3_top_orders",
    "q5_local_supplier_volume",
    "q4_late_shipment_priority",
    "q6_forecast_revenue",
    "q10_returned_revenue",
    "q17_small_qty_revenue",
    "q19_disjunctive_revenue",
    "q18_large_orders",
    "olap_rollup_pricing",
    "incr_merge_upsert",
    "incr_insert_overwrite_dynamic",
    "snap_cycle_timestamp",
    "dedup_latest_per_user",
    "events_sessionize",
    "events_tumbling_hourly",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "sim_lsh_ann",
    "text_stats",
    "text_winnowing",
    "events_asof_attribution",
    "events_range_join_campaigns",
    "q22_idle_rich_customers",
    "wr_ctas_roundtrip",
    "samp_stratified_lang",
    "text_redact_pii",
    "pipe_curation_end_to_end",
    "pipe_embedding_end_to_end",
    "q9_product_profit",
    "q13_order_count_distribution",
    "q21_sole_late_supplier",
    "olap_grouping_sets",
    "stats_exact_moments",
    "ts_date_spine_gapfill",
    "emb_label_affinity",
    "emb_kmeans_converged",
    "dedup_incremental_minhash",
    "incr_cdc_apply",
    # Streaming micro-batch throughput (VERDICT r02 task 3): wall time of a
    # full availableNow run — windowed agg into a memory sink, and the
    # foreachBatch MERGE sink path.
    "stream_tumbling_hourly",
    "stream_foreachbatch_merge",
    # Corpus-wide text shuffles (VERDICT r03 task 6): full-corpus line-level
    # dedup and unigram-LM scoring are in any real curation run; measure
    # them round-over-round.
    "text_line_dedup",
    "text_unigram_logprob",
    # r04 corpus ops: winnowing-fingerprint containment (stop-hash capped
    # pair generation) and the per-source mixture-planning aggregate.
    "dedup_containment",
    "text_source_quality",
    # r05 corpus ops: benchmark n-gram decontamination (broadcast wash),
    # the one-regex blocklist filter, CCNet head/middle/tail bucketing,
    # and int8 embedding quantization.
    "pipe_decontaminate",
    "text_badwords_filter",
    "text_ccnet_buckets",
    "emb_quantize_int8",
    # r06 (VERDICT r05 task 6): the promoted corpus ops join the ratchet —
    # the decision-exact Gopher ruleset scan, the quality-derived mixture
    # plan (stats → cuts → filter, one declarative plan), and the Z-order
    # clustered write (the one write-path cost in the headline set).
    "text_gopher_rules",
    "pipe_mixture_from_quality",
    "wr_zorder_cluster",
    # r05 (VERDICT r04 task 5): star-CC on a HIGH-DIAMETER synthetic —
    # 1024 chains of 64 nodes (diameter 63). Min-label would need 63
    # O(E)-shuffle rounds here; large-star/small-star converges in
    # O(log d). Bench-only: the graph is synthesized, not a parquet table.
    "dedup_cluster_star_chain",
    # Production-hash dedup paths (bench-only, see _bench_only()).
    "dedup_simhash_xxhash64",
    "dedup_minhash_xxhash64",
    "dedup_semantic_clusters",
    # r13 (VERDICT r12 #3): the compaction row is DECOMPOSED like the
    # late-data rows below — timed whole it was dominated by the
    # 96-tiny-file-commit fixture write (warm ~3.4-8 s of the ~3-10.5 s
    # pass swing; the compaction itself is ~1.5 s warm). The bench times
    # the salted compaction over a pre-built fragmented fixture under
    # the registered name and the fixture write as its own row.
    "wr_compact_small_files",
    "wr_compact_fixture_write",
    "stats_sketch_quantiles",
    "stats_sketch_distinct_merge",
    # r07 (VERDICT r06 task 6): the last two registered families without a
    # ratchet row — the budget→quota curation flagship (now carrying the
    # WindowGroupLimit skew guard) and the real-codec media decode path
    # (synthesized PNG/JPEG containers parsed by the real header decoders
    # over the Arrow seam).
    "pipe_budgeted_curation",
    "mm_image_metadata_codec",
    # r07: ORC source/sink round-trip — the format family's first ratchet
    # row (partitioned write + pruned read; cost is the write).
    "src_orc_roundtrip",
    # r07 second-pass window-skew audit: the two rank rewrites whose plan
    # shape changed entirely (global ntile → driver-held histogram
    # thresholds; rank-window percentiles → distributed histogram
    # selection) get their own ratchet rows — first probes 0.87 s /
    # 1.32 s at sf0.1.
    "win_ntile_quartiles",
    "stats_exact_percentiles",
    # r08 (VERDICT r07 task 5): the two gap-closer registrations get their
    # own ratchet rows — the broadcast-threshold ntile past the 1024-strata
    # literal-CASE ceiling (zero driver collects) and the level-2 recursive
    # quota-threshold sampler (boundary-bin re-binning, pinned k-row tables).
    "win_ntile_highcard",
    "samp_quota_threshold2",
    # r09 (VERDICT r08 task 5): the two gap-closer registrations —
    # check_cols='all' snapshot introspection (a full SCD2 cycle with a
    # mid-cycle widened source) and streaming late-data accounting (the
    # three-micro-batch watermark-drop fixture; cost is dominated by the
    # feed write + three micro-batches).
    "snap_check_all",
    # r10 (VERDICT r09 #3): the late-data row is DECOMPOSED — the
    # registered query (oracle row unchanged) composes fixture-write +
    # pipeline, but timing them together conflated three coalesce(1)
    # fixture writes with the operator under test. The bench times the
    # watermarked pipeline over a pre-built cached feed under the
    # registered name, and the fixture write as its own row.
    "stream_late_data_accounting",
    "stream_late_feed_write",
    # r10 registration: append-mode session emission + late-drop
    # accounting (merging state) — pipeline-only over the same cached
    # feed, like the tumbling row above.
    "stream_session_late_accounting",
    # r10 registration: exact-substring span dedup (Lee et al. suffix-array
    # family, distributed as duplicated 8-gram span extraction) — the
    # gram-hash count + semi join + doc-bounded island merge over the
    # dup-injected corpus.
    "dedup_substring_spans",
    # r11 registration: the family end-to-end — detection plus the
    # doc-keyed span join and the array-expression splice.
    "dedup_substring_splice",
    # r11 registration: the composed incremental-CI entry point (prod
    # build + state publication, marker append, state:modified+ deferred
    # PR build with a failing test gating downstream). Cost is dominated
    # by the two DAG builds' table writes — a writer-family row.
    "wr_build_incremental_ci",
    # r12 registration: the stored minhash index's production loop —
    # corpus index build to parquet, batch-1 admission against the
    # read-back index, O(|batch|) append-refresh, batch-2 admission
    # against the refreshed index. Cost is dominated by the corpus index
    # build (the two admissions are batch-sized).
    "dedup_index_refresh_cycle",
    # r14 registration: the crash-retry contract witness — append under a
    # batch_id, reproduce the mid-promote crash state, retry; then
    # overwrite-rebuild (scrubbing markers) and replay the same batch_id;
    # both phases admit batch 2 against the read-back index. Cost is two
    # half-corpus index builds plus four appends and two admissions —
    # protocol metadata ops dominate over the refresh-cycle row's single
    # full-corpus build.
    "dedup_index_retry_replay",
]


def _bench_only():
    """Extra measured paths that have no DuckDB oracle (so they are not
    registered queries) but whose throughput matters round-over-round:
    the xxhash64 production hash for SimHash (the md5 default exists for
    oracle parity; production corpora run the JVM-native hash).

    Returns ``(overrides, warm_fixtures)``: the name→fn bench rows
    (including the pipeline-only overrides of the two late-data
    accounting rows and the compaction row) and the hook main() calls
    once, untimed, to pre-build the shared late-data feed and the
    fragmented compaction fixture."""
    from pyspark.sql import functions as F

    from dbt_ci_demo_spark.operators.dedup import simhash_near_duplicates
    from dbt_ci_demo_spark.sources.catalog import load_table

    from dbt_ci_demo_spark.operators.dedup import MinHashSpec, minhash_near_duplicates

    def simhash_xxh(spark, sf_dir):
        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        return simhash_near_duplicates(
            docs, "text", "doc_id", max_hamming=3, hash_fn="xxhash64"
        ).select("id_a", "id_b", F.col("hamming"))

    def minhash_xxh(spark, sf_dir):
        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        return minhash_near_duplicates(docs, "text", "doc_id", MinHashSpec(hash_fn="xxhash64"))

    def cc_star_chain(spark, sf_dir):
        from dbt_ci_demo_spark.operators.dedup import connected_components_star

        chain_len, n_chains = 64, 1024
        nodes = spark.range(chain_len * n_chains)
        pairs = nodes.filter((F.col("id") % chain_len) != chain_len - 1).select(
            F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
        )
        return connected_components_star(pairs)

    # Late-data decomposition (r10, VERDICT r09 #3): the registered
    # stream_late_data_accounting composes fixture-write + watermarked
    # pipeline; timed together, the bench row mostly measured the three
    # coalesce(1) fixture writes. Here the bench OVERRIDES the registered
    # name with the pipeline-only stage over a feed pre-built once (the
    # cache is warmed before the timing loop, so no pass pays the build),
    # and times the fixture write as its own row — the decomposition is
    # recorded, not hidden. The oracle/correctness row is untouched.
    _feed_cache: dict[str, str] = {}

    def _late_feed_cached(spark, sf_dir):
        from dbt_ci_demo_spark.queries_media import _write_late_feed

        if sf_dir not in _feed_cache:
            _feed_cache[sf_dir] = _write_late_feed(spark, sf_dir)
        return _feed_cache[sf_dir]

    def late_pipeline(spark, sf_dir):
        from dbt_ci_demo_spark.queries_media import _late_accounting_from_feed

        return _late_accounting_from_feed(
            spark, sf_dir, _late_feed_cached(spark, sf_dir)
        )

    def late_feed_write(spark, sf_dir):
        from dbt_ci_demo_spark.queries_media import _write_late_feed

        _write_late_feed(spark, sf_dir)
        return spark.range(1)  # run() force-writes a DataFrame

    def session_late_pipeline(spark, sf_dir):
        from dbt_ci_demo_spark.queries_media import _session_accounting_from_feed

        return _session_accounting_from_feed(
            spark, sf_dir, _late_feed_cached(spark, sf_dir)
        )

    # Compaction decomposition (r13, VERDICT r12 #3 — same shape as the
    # late-data rows above): timed whole, wr_compact_small_files was
    # dominated by the 96-tiny-file-commit FIXTURE write (the ingest
    # debris being compacted away) — the most host-FS-jitter-sensitive
    # stage in the bench (passes swung 3-10.5 s within one probe). The
    # bench times the compaction stage over a fixture pre-built once
    # under the registered name, and the fixture write as its own row.
    # The oracle/correctness row still composes both.
    _frag_cache: dict[str, str] = {}

    def _frag_cached(spark, sf_dir):
        from dbt_ci_demo_spark.queries_writer import _write_compact_fixture

        if sf_dir not in _frag_cache:
            _frag_cache[sf_dir] = _write_compact_fixture(spark, sf_dir)
        return _frag_cache[sf_dir]

    def compact_pipeline(spark, sf_dir):
        from dbt_ci_demo_spark.queries_writer import _compact_from_fixture

        return _compact_from_fixture(
            spark, _frag_cached(spark, sf_dir), "events_compacted_bench"
        )

    def compact_fixture_write(spark, sf_dir):
        from dbt_ci_demo_spark.queries_writer import _write_compact_fixture

        _write_compact_fixture(spark, sf_dir, suffix="_timed")
        return spark.range(1)  # run() force-writes a DataFrame

    def warm_fixtures(spark, sf_dir):
        _late_feed_cached(spark, sf_dir)
        _frag_cached(spark, sf_dir)

    return {
        "dedup_simhash_xxhash64": simhash_xxh,
        "dedup_minhash_xxhash64": minhash_xxh,
        "dedup_cluster_star_chain": cc_star_chain,
        "stream_late_data_accounting": late_pipeline,
        "stream_late_feed_write": late_feed_write,
        "stream_session_late_accounting": session_late_pipeline,
        "wr_compact_small_files": compact_pipeline,
        "wr_compact_fixture_write": compact_fixture_write,
    }, warm_fixtures


def _canary_probe(sf_dir: str) -> None:
    """Child mode (``--canary-probe``): in a FRESH process/JVM, warm q1
    3 passes and print the min-of-5 q1 wall time on stdout. Because both
    the start and end canary run this identical fresh-JVM procedure, the
    ratio between them reflects only the box (external load), never the
    suite's own late-run JVM state."""
    from dbt_ci_demo_spark.queries import registry_queries
    from dbt_ci_demo_spark.session import get_spark

    spark = get_spark("bench-canary")
    q = registry_queries()["q1_pricing_summary"]

    def run() -> float:
        t0 = time.perf_counter()
        q(spark, sf_dir).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    for _ in range(3):
        run()
    print(round(min(run() for _ in range(5)), 4))


def _canary() -> float:
    """Run the canary probe in a forked subprocess (fresh JVM)."""
    import subprocess

    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--canary-probe"],
        capture_output=True,
        text=True,
        check=True,
        timeout=600,
    )
    return float(out.stdout.strip().splitlines()[-1])


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = -1.0

    # Load-drift canary (VERDICT r03 task 2, probe isolation r06): BENCH_r03
    # was recorded while other Spark work shared the box and came out
    # ~10-15% inflated, which misread a flat round as a regression. Time the
    # same cheap query before and after the suite (min-of-5 — a floor
    # estimator that only shifts under SUSTAINED load). r05 lesson: running
    # the end canary inside the suite's own session false-positived even on
    # an idle box (ratio 1.25 — late-run GC pressure/listener backlog/
    # checkpoint-cleaner activity from the 55-row suite degraded the probe
    # itself, not the measured queries, which matched their in-suite
    # timings). Fix: BOTH canaries fork a fresh subprocess+JVM running the
    # identical warm-3/min-of-5 procedure, so start and end probe the same
    # JVM state and the ratio isolates external box load. Thresholds stay
    # asymmetric: end >20% slower = load arrived mid-run — contaminated;
    # end >40% faster = load present at start that decayed (fresh-JVM
    # probes have no JIT carry-over, but keep the guard for decaying load).
    # On contamination: still print the JSON (fields are diagnostic) but
    # exit rc 3 so the driver re-runs instead of recording a loaded-box
    # file. Same-load-throughout is undetectable from inside one run; the
    # canary fields are recorded per round so drift across rounds shows.
    canary_start = _canary()

    from dbt_ci_demo_spark.queries import registry_queries
    from dbt_ci_demo_spark.session import get_spark

    spark = get_spark("bench")
    regs = registry_queries()
    overrides, warm_fixtures = _bench_only()
    regs = {**regs, **overrides}

    def run(name: str) -> float:
        t0 = time.perf_counter()
        regs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    # Warm-up: JVM + codegen + parquet footer caches (3 passes — one is
    # not enough to reach steady tiered-JIT state).
    for _ in range(3):
        regs["q1_pricing_summary"](spark, sf_dir).write.format("noop").mode("overwrite").save()
    # Pre-build the late-data feed and the fragmented compaction fixture
    # (untimed) so the pipeline-only rows never pay the fixture writes —
    # each write has its own row.
    warm_fixtures(spark, sf_dir)

    # Best of two passes per query: reports steady-state execution rather
    # than whichever run ate a GC pause / first-codegen compile. Sub-second
    # queries get a third pass — at that duration a single GC pause or
    # codegen recompile is a >20% swing, and min-of-2 has shown 1.2×
    # round-over-round noise (events_asof_attribution, BENCH_r01 vs r02).
    times = {name: round(run(name), 4) for name in HEADLINE}
    times = {name: round(min(times[name], run(name)), 4) for name in HEADLINE}
    times = {
        name: round(min(t, run(name)), 4) if t < 1.0 else t
        for name, t in times.items()
    }
    total = round(sum(times.values()), 4)
    # Stop the suite session before the end probe so its (idle but
    # heap-holding) JVM doesn't compete with the probe's.
    spark.stop()
    canary_end = _canary()
    ratio = round(canary_end / max(canary_start, 1e-9), 4)
    contaminated = ratio > 1.2 or ratio < 1.0 / 1.4
    payload = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": times,
        "sf": sf,
        "canary_start_sec": canary_start,
        "canary_end_sec": canary_end,
        "canary_ratio": ratio,
        "contaminated": contaminated,
    }
    print(json.dumps(payload))
    # Flush immediately (VERDICT r14 #8 insurance): the driver keeps a
    # bounded stdout tail, and an unflushed buffer at process teardown is
    # one more way the JSON line can arrive partial. The line itself
    # stays the contract's ONE JSON line — the full payload is also
    # persisted below for anything the tail truncates.
    sys.stdout.flush()
    # Machine-readable per-query artifact (VERDICT r09 #8): the driver's
    # BENCH_r{N}.json keeps only a 2000-char stdout tail, which truncates
    # the early rows of a ~70-row run — judges had to scrape partial
    # comparisons. Persist the FULL payload (every row + canaries) to a
    # file; round close-out copies it to BENCH_DETAIL_r{N}.json.
    detail = os.environ.get(
        "SPARK_GRAFT_BENCH_DETAIL",
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"),
    )
    try:
        with open(detail, "w") as f:
            json.dump(payload, f, indent=1, sort_keys=True)
            f.write("\n")
    except OSError as exc:  # never fail the bench over the artifact
        print(f"bench: could not write {detail}: {exc}", file=sys.stderr)
    return 3 if contaminated else 0


if __name__ == "__main__":
    if "--canary-probe" in sys.argv:
        _canary_probe(os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
        raise SystemExit(0)
    raise SystemExit(main())
