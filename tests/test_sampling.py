"""Behavioral tests for deterministic sampling/splitting beyond the oracle
gate: partition-invariance, append-stability, split disjointness, exact
stratum caps; and the session's materialization policy (pinned,
checkpoint, pin_small) that the samplers and the corpus operators use."""

from __future__ import annotations

import ast
import os
from pathlib import Path

import pyspark.sql.functions as F
import pytest
from conftest import cached_plans, drain_cleaner, persisted_rdds

from dbt_ci_demo_spark.operators import sampling as sp
from dbt_ci_demo_spark.session import checkpoint, pin_small, pinned
from dbt_ci_demo_spark.sources.catalog import load_table


def _docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents").select("doc_id", "lang")


def _docs_full(spark, sf_dir):
    return load_table(spark, sf_dir, "documents")


def test_hash_sample_partition_invariant(spark, sf_dir):
    """The kept set must not depend on physical partitioning (the failure
    mode of seeded per-partition sampling)."""
    d = _docs(spark, sf_dir)
    a = {r.doc_id for r in sp.hash_sample(d, "doc_id", 0.2).collect()}
    b = {r.doc_id for r in sp.hash_sample(d.repartition(7), "doc_id", 0.2).collect()}
    c = {r.doc_id for r in sp.hash_sample(d.coalesce(1), "doc_id", 0.2).collect()}
    assert a == b == c
    n = d.count()
    assert 0.1 * n < len(a) < 0.3 * n  # roughly the requested fraction


def test_hash_sample_append_stable(spark, sf_dir):
    """Adding rows must not change decisions for existing rows."""
    d = _docs(spark, sf_dir)
    half = d.filter(F.col("doc_id") % 2 == 0)
    full_kept = {r.doc_id for r in sp.hash_sample(d, "doc_id", 0.3).collect()}
    half_kept = {r.doc_id for r in sp.hash_sample(half, "doc_id", 0.3).collect()}
    assert half_kept == {i for i in full_kept if i % 2 == 0}


def test_hash_sample_seed_independence(spark, sf_dir):
    d = _docs(spark, sf_dir)
    a = {r.doc_id for r in sp.hash_sample(d, "doc_id", 0.2, seed="a").collect()}
    b = {r.doc_id for r in sp.hash_sample(d, "doc_id", 0.2, seed="b").collect()}
    assert a != b  # different seeds give different (roughly independent) samples


def test_split_disjoint_exhaustive(spark, sf_dir):
    d = _docs(spark, sf_dir)
    out = sp.train_val_test_split(d, "doc_id", test_fraction=0.2, val_fraction=0.1)
    counts = {r["split"]: r["n"] for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert set(counts) == {"train", "val", "test"}
    assert sum(counts.values()) == d.count()
    # test ⊂ the 20% hash_sample with the same seed: the bucket families nest
    test_ids = {r.doc_id for r in out.filter(F.col("split") == "test").collect()}
    sampled = {r.doc_id for r in sp.hash_sample(d, "doc_id", 0.2, seed="split").collect()}
    assert test_ids <= sampled


def test_stratified_exact_cap_and_determinism(spark, sf_dir):
    d = _docs(spark, sf_dir)
    out = sp.stratified_sample(d, ["lang"], "doc_id", 50)
    per = {r["lang"]: r["n"] for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    sizes = {r["lang"]: r["n"] for r in d.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    for lang, n in per.items():
        assert n == min(50, sizes[lang]), (lang, n, sizes[lang])
    again = sp.stratified_sample(d.repartition(5), ["lang"], "doc_id", 50)
    assert {(r.doc_id, r.lang) for r in out.collect()} == {
        (r.doc_id, r.lang) for r in again.collect()
    }


def test_sampling_validation():
    with pytest.raises(ValueError):
        sp.hash_sample(None, "k", 1.5)
    with pytest.raises(ValueError):
        sp.train_val_test_split(None, "k", test_fraction=0.8, val_fraction=0.3)
    with pytest.raises(ValueError):
        sp.stratified_sample(None, ["s"], "k", 0)
    with pytest.raises(ValueError):
        sp.source_mixture_sample(None, "s", "k", {"a": 1.2})
    with pytest.raises(ValueError):
        sp.source_mixture_sample(None, "s", "k", {}, default_fraction=-0.1)
    with pytest.raises(ValueError):
        sp.pack_token_windows(None, "k", "t", window_tokens=0)


def test_source_mixture_rates_and_stability(spark, sf_dir):
    """Kept fraction per source must track the configured ratio; the kept
    SET must be identical under repartitioning (append/partition
    stability is the whole point of hash sampling)."""
    d = _docs_full(spark, sf_dir)
    fr = {"src0": 1.0, "src1": 0.5, "src2": 0.0}
    out = sp.source_mixture_sample(d, "source", "doc_id", fr, default_fraction=0.2)
    kept = {r["source"]: r["n"] for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()}
    tot = {r["source"]: r["n"] for r in d.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert kept.get("src0", 0) == tot["src0"]
    assert "src2" not in kept
    assert 0.2 * tot["src1"] <= kept.get("src1", 0) <= 0.8 * tot["src1"]
    again = sp.source_mixture_sample(
        d.repartition(7), "source", "doc_id", fr, default_fraction=0.2
    )
    assert {r.doc_id for r in out.collect()} == {r.doc_id for r in again.collect()}


def test_pack_token_windows_contiguous(spark, sf_dir):
    """Within every shard, offsets must be the exact running sum in doc_id
    order (no gaps, no overlap) and window spans must match the offsets."""
    from dbt_ci_demo_spark.operators import text as tx

    d = _docs_full(spark, sf_dir)
    out = sp.pack_token_windows(
        d.select("doc_id", tx.token_count(F.col("text")).alias("t")),
        "doc_id", "t", window_tokens=64, shards=4,
    )
    rows = sorted(out.collect(), key=lambda r: (r.shard, r.doc_id))
    offset = {}
    for r in rows:
        assert r.start_offset == offset.get(r.shard, 0), r
        offset[r.shard] = r.start_offset + r.n_tokens
        assert r.first_window == r.start_offset // 64
        assert r.last_window == (r.start_offset + r.n_tokens - 1) // 64
        assert r.n_tokens > 0


def test_pack_token_windows_default_shards_scale_with_cluster(spark, sf_dir):
    """VERDICT r03 task 5 + r04 task 4: with shards unset, the shard count
    derives from defaultParallelism — not a constant 8, and not
    df.rdd.getNumPartitions() (which forces an RDD conversion plan) — so
    the per-shard cumsum never caps a big cluster's parallelism."""
    from dbt_ci_demo_spark.operators import text as tx

    d = _docs_full(spark, sf_dir).select(
        "doc_id", tx.token_count(F.col("text")).alias("t")
    )
    expected = max(spark.sparkContext.defaultParallelism, 1)
    out = sp.pack_token_windows(d, "doc_id", "t", window_tokens=64)
    shards_used = out.select("shard").distinct().count()
    # hash-sharding over `expected` buckets: every emitted shard id is in
    # range, and most buckets get hit — on a high-core box (local[*] ⇒
    # defaultParallelism = cores) the small test corpus can leave a few
    # buckets empty by chance, so bound coverage instead of requiring
    # exact equality (ADVICE r04).
    assert out.agg(F.max("shard")).first()[0] < expected
    assert shards_used > expected // 2
    assert shards_used <= expected


def test_budget_quota_cap_composition(spark, sf_dir):
    """r06: allocate_budget -> stratified_sample_by_quota composition.
    Quotas sum to exactly the budget; the capped sample keeps exactly
    min(quota, |stratum|) per stratum; strata absent from the quota
    table are dropped; the kept set is deterministic across runs."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    budget = 37
    quotas = sp.allocate_budget(d, "lang", budget)
    qmap = {r.stratum: (r.n_rows, r.quota) for r in quotas.collect()}
    assert sum(q for _, q in qmap.values()) == budget
    out = sp.stratified_sample_by_quota(
        d, ["lang"], "doc_id", quotas.select(F.col("stratum").alias("lang"), "quota")
    )
    per = {r.lang: r.cnt for r in out.groupBy("lang").agg(F.count("*").alias("cnt")).collect()}
    for lang, (n_rows, quota) in qmap.items():
        assert per.get(lang, 0) == min(n_rows, quota), (lang, n_rows, quota)
    # determinism
    again = sp.stratified_sample_by_quota(
        d, ["lang"], "doc_id", quotas.select(F.col("stratum").alias("lang"), "quota")
    )
    assert {r.doc_id for r in out.select("doc_id").collect()} == {
        r.doc_id for r in again.select("doc_id").collect()
    }
    # a stratum missing from the quota table is dropped entirely
    some_lang = next(iter(qmap))
    pruned = quotas.filter(F.col("stratum") != some_lang)
    out2 = sp.stratified_sample_by_quota(
        d, ["lang"], "doc_id", pruned.select(F.col("stratum").alias("lang"), "quota")
    )
    assert out2.filter(F.col("lang") == some_lang).count() == 0
    # quota larger than the stratum keeps the whole stratum, no more
    big = spark.createDataFrame(
        [(lang, 10_000_000) for lang in qmap], "lang string, quota long"
    )
    out3 = sp.stratified_sample_by_quota(d, ["lang"], "doc_id", big)
    assert out3.count() == d.count()


def test_quota_cap_too_small_raises_loudly(spark, sf_dir):
    """ADVICE r08: the in-plan assert_true guard is the whole point of
    max_quota safety — a bound smaller than some stratum's quota must
    RAISE with the 'exceeds max_quota' message, never silently truncate
    that stratum to the bound."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    quotas = sp.allocate_budget(d, "lang", 37).select(
        F.col("stratum").alias("lang"), "quota"
    )
    max_q = max(r.quota for r in quotas.collect())
    assert max_q >= 2, "fixture needs a stratum quota above the bad bound"
    bad = sp.stratified_sample_by_quota(
        d, ["lang"], "doc_id", quotas, max_quota=max_q - 1
    )
    with pytest.raises(Exception, match="exceeds max_quota"):
        bad.collect()
    # and the exact bound (== the largest quota) still passes clean
    ok = sp.stratified_sample_by_quota(
        d, ["lang"], "doc_id", quotas, max_quota=max_q
    )
    assert ok.count() > 0


def test_allocate_budget_exact_past_long_overflow(spark):
    """budget·n_rows must not wrap at 2^63 (r06: same silent-wrap class
    as the volume-anomaly decision): a 4e18 budget over a 3-row corpus
    puts budget*n_rows at 1.2e19 > 2^63 for the 2-row stratum — the old
    long arithmetic wrapped negative and misallocated every seat. The
    decimal(38,0) path must reproduce exact largest-remainder quotas,
    summing to the budget."""
    big = 4_000_000_000_000_000_000
    df = spark.createDataFrame([("a",), ("b",), ("b",)], "s string")
    got = {r.stratum: r.quota for r in sp.allocate_budget(df, "s", big).collect()}
    exact = {s: big * n // 3 for s, n in {"a": 1, "b": 2}.items()}
    rem = {s: big * n % 3 for s, n in {"a": 1, "b": 2}.items()}
    leftover = big - sum(exact.values())
    for s in sorted(exact, key=lambda t: (-rem[t], t)):
        if leftover > 0:
            exact[s] += 1
            leftover -= 1
    assert got == exact
    assert sum(got.values()) == big


@pytest.mark.slow  # ~7s equivalence-vs-window-sampler: round-close tier
# (samp_quota_threshold is oracle-checked every gate run)
def test_quota_threshold_sampler_matches_window_sampler(spark, sf_dir):
    """r07 (VERDICT r06 task-1 stretch): the histogram-threshold quota
    enforcement must select EXACTLY the window sampler's rows — same
    (hash, key) total order, no drift across seeds, bucket counts (down
    to 2 bins, maximizing boundary-bin traffic), or quota regimes
    (normal, zero-leftover, quota > |stratum|, missing stratum)."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")

    def keys(df):
        return sorted((r.lang, r.doc_id) for r in df.select("lang", "doc_id").collect())

    for seed, budget, nbins in [("qa", 37, 1024), ("qb", 137, 2), ("qa", 137, 7)]:
        quotas = sp.allocate_budget(d, "lang", budget).select(
            F.col("stratum").alias("lang"), "quota"
        )
        w = sp.stratified_sample_by_quota(d, ["lang"], "doc_id", quotas, seed=seed)
        t = sp.stratified_sample_by_quota_threshold(
            d, ["lang"], "doc_id", quotas, seed=seed, n_hist_buckets=nbins
        )
        assert keys(w) == keys(t), (seed, budget, nbins)
    # quota exceeding every stratum: all rows keep (NULL-boundary path)
    langs = [r.lang for r in d.select("lang").distinct().collect()]
    big = spark.createDataFrame([(l, 10**12) for l in langs], "lang string, quota long")
    assert sp.stratified_sample_by_quota_threshold(
        d, ["lang"], "doc_id", big, seed="qc"
    ).count() == d.count()
    # missing stratum drops (inner quota join)
    pruned = big.filter(F.col("lang") != langs[0])
    out = sp.stratified_sample_by_quota_threshold(d, ["lang"], "doc_id", pruned)
    assert out.filter(F.col("lang") == langs[0]).count() == 0


@pytest.mark.slow  # ~8s level-2 equivalence sweep: round-close tier (the level-1
# variant below stays default-tier; samp_quota_threshold2 is oracle-checked)
def test_quota_threshold_recursion_matches_window_sampler(spark, sf_dir):
    """r08 (VERDICT r07 task 5b): the RECURSIVE histogram levels must not
    change the kept set — n_levels=2 and 3 select exactly the window
    sampler's rows across seeds, bucket counts (tiny buckets maximize
    each level's boundary traffic), and the degenerate regimes (quota >
    |stratum| → every level passes through the NULL-boundary keep)."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")

    def keys(df):
        return sorted((r.lang, r.doc_id) for r in df.select("lang", "doc_id").collect())

    for seed, budget, nbins, levels in [
        ("ra", 137, 8, 2),
        ("rb", 37, 2, 3),   # 2 bins: every level is nearly all boundary
        ("ra", 137, 1024, 2),
    ]:
        quotas = sp.allocate_budget(d, "lang", budget).select(
            F.col("stratum").alias("lang"), "quota"
        )
        w = sp.stratified_sample_by_quota(d, ["lang"], "doc_id", quotas, seed=seed)
        t = sp.stratified_sample_by_quota_threshold(
            d, ["lang"], "doc_id", quotas,
            seed=seed, n_hist_buckets=nbins, n_levels=levels,
        )
        assert keys(w) == keys(t), (seed, budget, nbins, levels)
    # quota exceeding every stratum at depth 2: all rows keep
    langs = [r.lang for r in d.select("lang").distinct().collect()]
    big = spark.createDataFrame([(l, 10**12) for l in langs], "lang string, quota long")
    assert sp.stratified_sample_by_quota_threshold(
        d, ["lang"], "doc_id", big, seed="rc", n_levels=2
    ).count() == d.count()


def _walk(counts: dict[int, int], b: int):
    """Reference boundary pick: the first bin whose running count reaches
    rank ``b`` as (bin, rows before it, rows in it); None when b > n."""
    before = 0
    for bn in sorted(counts):
        if before + counts[bn] >= b:
            return bn, before, counts[bn]
        before += counts[bn]
    return None


def test_boundary_bins_matches_cumulative_walk(spark):
    """_boundary_bins against a pure-Python cumulative walk on small random
    histograms. Every stratum's targets include the last row of its first
    bin (a target exactly at a bin edge) and the next rank, two ranks
    inside that first bin (its count is >= 2), n and n + 1 (no row); one
    stratum is NULL-keyed, joined through the struct key."""
    import random

    rng = random.Random(11)
    rows, targets, want = [], [], set()
    for g in [None, *[f"s{i}" for i in range(12)]]:
        bins = sorted(rng.sample(range(10), rng.randint(1, 6)))
        counts = {bn: rng.randint(1, 4) for bn in bins}
        counts[bins[0]] += 1
        n = sum(counts.values())
        edge = counts[bins[0]]
        ranks = {1, 2, edge, edge + 1, rng.randint(1, n), n, n + 1}
        rows += [(g, bn) for bn, c in counts.items() for _ in range(c)]
        for i, b in enumerate(sorted(ranks)):
            targets.append((g, i, b))
            hit = _walk(counts, b)
            if hit is not None:
                want.add((g, i, b, *hit))
    key = F.struct("g").alias("__sk")
    binned = spark.createDataFrame(rows, "g string, __bin int").select(key, "__bin")
    tgt = spark.createDataFrame(targets, "g string, __i int, __b long").select(
        key, "__i", "__b"
    )
    got = {
        (r["__sk"]["g"], r["__i"], r["__b"], r["__bb"], r["__bef"], r["__bc"])
        for r in sp._boundary_bins(binned, ["__sk"], tgt).collect()
    }
    assert got == want
    assert any(w[0] is None for w in want)


def test_pinned_keeps_lineage_and_releases(spark):
    """session.pinned: inside the block the frame is a cache that keeps
    its lineage (executor loss recomputes; no ExistingRDD leaf replaces
    the source), rows are unchanged, and the block's exit releases it."""
    df = spark.range(100).withColumn("v", F.col("id") * 2)
    with pinned(df):
        lvl = df.storageLevel
        assert lvl.useMemory and lvl.useDisk and not lvl.useOffHeap
        assert df.count() == 100
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryTableScan" in plan, plan
        assert "Scan ExistingRDD" not in plan, plan
    assert not df.is_cached


def test_pinned_releases_when_the_block_raises(spark):
    plans = cached_plans(spark)
    a = spark.range(10).withColumn("v", F.col("id") + 1)
    b = a.filter(F.col("v") > 3)
    with pytest.raises(RuntimeError, match="boom"):
        with pinned(a, b):
            assert b.count() == 7 and a.is_cached and b.is_cached
            raise RuntimeError("boom")
    assert not a.is_cached and not b.is_cached
    assert cached_plans(spark) == plans


def test_checkpoint_writes_under_the_checkpoint_dir_and_pins_nothing(spark):
    root = spark.sparkContext.getCheckpointDir().removeprefix("file:")
    dirs = set(os.listdir(root))
    before = drain_cleaner(spark)
    out = checkpoint(spark.range(50).withColumn("v", F.col("id") % 7))
    assert persisted_rdds(spark) == before
    assert set(os.listdir(root)) - dirs, "no checkpoint files written"
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" in plan, plan
    assert out.count() == 50


def test_pin_small_runs_no_job(spark):
    """pin_small is lazy: a shuffle-free plan runs no job until the first
    action. (Under AQE a plan with an exchange runs its shuffle map
    stages at call time — see session.pin_small.)"""
    sc = spark.sparkContext
    group = "pin-small-no-job"
    sc.setJobGroup(group, "pin_small probe")
    try:
        small = pin_small(spark.range(5).withColumn("v", F.col("id") * 3))
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
        assert sorted(r.v for r in small.collect()) == [0, 3, 6, 9, 12]
        assert list(sc.statusTracker().getJobIdsForGroup(group)), "probe saw no job"
    finally:
        sc._jsc.clearJobGroup()


def test_only_session_persists_or_checkpoints():
    """The materialization policy has one owner: no ``.persist(``,
    ``.unpersist(``, ``.checkpoint(`` or ``.localCheckpoint(`` call in
    the package outside session.py."""
    pkg = Path(__file__).resolve().parent.parent / "dbt_ci_demo_spark"
    banned = {"persist", "unpersist", "checkpoint", "localCheckpoint"}
    hits = []
    for path in sorted(pkg.rglob("*.py")):
        if path.name == "session.py" and path.parent == pkg:
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in banned
            ):
                hits.append(f"{path.relative_to(pkg)}:{node.lineno} .{node.func.attr}(")
    assert not hits, hits


def test_pack_token_windows_int64_exact_past_double_floor(spark):
    """r11 review (the range_bucket r10 defect class): window indices are
    integral `div`, so offsets past 2^53 — where double division floors
    to the WRONG window — stay exact."""
    big = (1 << 53) + 1023  # first_window must be (2^53 + 1023) // 1024
    d = spark.createDataFrame(
        [("a", big), ("b", 10)], "doc_id string, t long"
    )
    out = sp.pack_token_windows(d, "doc_id", "t", window_tokens=1024, shards=1)
    rows = {r.doc_id: r for r in out.collect()}
    # doc order within the single shard is doc_id asc: a then b
    assert rows["a"].start_offset == 0
    assert rows["b"].start_offset == big
    assert rows["b"].first_window == big // 1024
    assert rows["b"].last_window == (big + 10 - 1) // 1024
    # the double-floor would read one window too high here: float(big)
    # rounds 2^53+1023 up to 2^53+1024, whose /1024 floor is exact+1
    import math

    assert math.floor(float(big) / 1024.0) == big // 1024 + 1


def test_banded_buckets_rejects_non_divisible_bands(spark):
    """r11 review: a bands value that does not divide n_hashes silently
    dropped the trailing signature rows from every band key (weaker LSH
    with no symptom) — now a loud ValueError when the spec is built."""
    import pytest as _pytest

    from dbt_ci_demo_spark.operators import dedup as dd

    with _pytest.raises(ValueError, match="divide n_hashes"):
        dd.MinHashSpec(n_hashes=32, bands=5)
    with _pytest.raises(ValueError, match="divide n_hashes"):
        dd.MinHashSpec(n_hashes=32, bands=0)
    sig = spark.createDataFrame(
        [(1, *range(32))], "doc_id int, " + ", ".join(f"sig_{i} int" for i in range(32))
    )
    band_sql = dd.MinHashSpec(n_hashes=32, bands=8).band_sql
    assert sig.select(F.explode(F.expr(band_sql))).count() == 8
