"""Second-pass window-skew audit (r07): three registered queries carried
data-sized window partitions that no ``WindowGroupLimit`` can bound —
``stats_exact_percentiles`` (interior-rank pick per priority),
``win_first_last_value`` (unbounded frame per priority + DISTINCT), and
``text_ccnet_buckets`` (ntile per language). Each was rewritten onto a
bounded plan (min_by/max_by aggregate; histogram threshold selection).
These tests pin DECISION EQUALITY between the bounded rewrites and the
original window formulations on adversarial distributions — ties, tiny
strata, identical-value strata — so the rewrites can never drift from
the window semantics the oracles still state."""

from __future__ import annotations

import random

import pytest

import pyspark.sql.functions as F
from conftest import cached_plans
from pyspark.sql import Window


def _collect_sorted(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


# ---------------------------------------------------------------------------
# ntile(3) per stratum vs the histogram-threshold bucket assignment
# ---------------------------------------------------------------------------


def _ntile_buckets_reference(df):
    """The original formulation: ntile(3) over (score desc, id)."""
    w = Window.partitionBy("lang").orderBy(F.col("score").desc(), F.col("id"))
    b = F.ntile(3).over(w)
    return df.select(
        "id",
        "lang",
        F.when(b == 1, F.lit("head"))
        .when(b == 2, F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )


def _tercile_buckets_histogram(df, n_bins=8):
    """Drive the PRODUCTION operator (queries_northstar.tercile_buckets)
    with a SMALL bin count so tests exercise multi-row bins and shared
    boundary bins (the registered query uses 1024 bins; the algorithm
    must be bin-count-invariant)."""
    from dbt_ci_demo_spark.queries_northstar import tercile_buckets

    return tercile_buckets(
        df, score_col="score", id_col="id", strata_cols=["lang"], n_bins=n_bins
    )


def _random_scored_frame(spark, seed, n_langs, max_rows, tie_prob):
    rng = random.Random(seed)
    rows = []
    rid = 0
    for li in range(n_langs):
        lang = f"l{li}"
        n = rng.randint(1, max_rows)
        last = None
        for _ in range(n):
            if last is not None and rng.random() < tie_prob:
                score = last  # force exact ties
            else:
                score = round(rng.uniform(-10, 0), 2)
            last = score
            rows.append((rid, lang, score))
            rid += 1
    return spark.createDataFrame(rows, "id bigint, lang string, score double")


@pytest.mark.slow  # ~1 min randomized sweep: round-close tier
def test_tercile_histogram_equals_ntile_randomized(spark):
    for seed in range(6):
        df = _random_scored_frame(
            spark, seed, n_langs=4, max_rows=40, tie_prob=0.3 + 0.1 * (seed % 3)
        )
        for n_bins in (2, 8, 64):
            got = _collect_sorted(
                _tercile_buckets_histogram(df, n_bins), ["id", "lang", "bucket"]
            )
            want = _collect_sorted(
                _ntile_buckets_reference(df), ["id", "lang", "bucket"]
            )
            assert got == want, (seed, n_bins)


def test_tercile_histogram_tiny_and_degenerate_strata(spark):
    rows = (
        # n = 1 and n = 2 strata (ntile leaves later tiles empty)
        [(0, "one", -1.0), (1, "two", -1.0), (2, "two", -2.0)]
        # n = 3 exact split
        + [(3, "three", -1.0), (4, "three", -2.0), (5, "three", -3.0)]
        # identical-score stratum: histogram collapses to one bin; the
        # doc-id tie-break must still reproduce ntile's row order
        + [(10 + i, "flat", -5.0) for i in range(7)]
    )
    df = spark.createDataFrame(rows, "id bigint, lang string, score double")
    got = _collect_sorted(
        _tercile_buckets_histogram(df, 8), ["id", "lang", "bucket"]
    )
    want = _collect_sorted(_ntile_buckets_reference(df), ["id", "lang", "bucket"])
    assert got == want


# ---------------------------------------------------------------------------
# exact nearest-rank percentiles vs the rank-window formulation
# ---------------------------------------------------------------------------


def _percentiles_reference(df):
    w = Window.partitionBy("g").orderBy("v", "id")
    wn = Window.partitionBy("g")
    ranked = df.select(
        "g",
        "v",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    pick = lambda p: F.max(  # noqa: E731
        F.when(
            F.col("rn") == F.ceil(F.lit(p) * F.col("n")).cast("bigint"),
            F.col("v"),
        )
    )
    return ranked.groupBy("g").agg(
        pick(0.50).alias("p50"), pick(0.90).alias("p90"), pick(0.99).alias("p99")
    )


def _percentiles_histogram(df, n_bins=8):
    """Drive the PRODUCTION operator (queries_olap2.exact_percentiles)."""
    from dbt_ci_demo_spark.queries_olap2 import exact_percentiles

    return exact_percentiles(
        df.select("g", "v"),
        ["g"],
        "v",
        [("p50", 0.50), ("p90", 0.90), ("p99", 0.99)],
        n_bins=n_bins,
    )


def test_percentile_p_zero_is_null_like_rank_window(spark):
    """p = 0.0 -> need = 0: the rank formulation has no rn == 0 row and
    yields NULL; the histogram path must agree, not return the min."""
    from dbt_ci_demo_spark.queries_olap2 import exact_percentiles

    df = spark.createDataFrame(
        [(1, "a", 3.0), (2, "a", 1.0), (3, "a", 2.0)],
        "id bigint, g string, v double",
    )
    rows = exact_percentiles(
        df, ["g"], "v", [("p0", 0.0), ("p50", 0.5)]
    ).collect()
    assert len(rows) == 1 and rows[0]["p0"] is None and rows[0]["p50"] == 2.0


@pytest.mark.slow  # ~1 min randomized sweep: round-close tier
def test_percentile_histogram_equals_rank_window_randomized(spark):
    for seed in range(6):
        rng = random.Random(100 + seed)
        rows = []
        rid = 0
        for gi in range(4):
            n = rng.randint(1, 60)
            for _ in range(n):
                # heavy tie mass: values drawn from a small lattice
                v = round(rng.choice([1.0, 2.5, 2.5, 7.0, 7.0, 9.9, 100.0]), 2)
                rows.append((rid, f"g{gi}", v))
                rid += 1
        df = spark.createDataFrame(rows, "id bigint, g string, v double")
        for n_bins in (2, 8, 64):
            got = _collect_sorted(
                _percentiles_histogram(df, n_bins), ["g", "p50", "p90", "p99"]
            )
            want = _collect_sorted(
                _percentiles_reference(df), ["g", "p50", "p90", "p99"]
            )
            assert got == want, (seed, n_bins)


def test_percentile_histogram_degenerate_groups(spark):
    rows = (
        [(0, "single", 42.0)]
        + [(1 + i, "flat", 7.0) for i in range(9)]  # all values identical
        + [(20, "two", 1.0), (21, "two", 2.0)]
    )
    df = spark.createDataFrame(rows, "id bigint, g string, v double")
    got = _collect_sorted(_percentiles_histogram(df, 4), ["g", "p50", "p90", "p99"])
    want = _collect_sorted(_percentiles_reference(df), ["g", "p50", "p90", "p99"])
    assert got == want


# ---------------------------------------------------------------------------
# first/last over an unbounded frame vs min_by/max_by
# ---------------------------------------------------------------------------


def test_min_by_struct_equals_first_last_window(spark):
    rng = random.Random(7)
    rows = [
        (
            i,
            f"g{rng.randint(0, 3)}",
            rng.randint(0, 5),  # heavy date collisions → tie-break matters
            round(rng.uniform(1, 100), 2),
        )
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "id bigint, g string, d int, v double")
    w = (
        Window.partitionBy("g")
        .orderBy("d", "id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    want = _collect_sorted(
        df.select(
            "g",
            F.first("v").over(w).alias("first_v"),
            F.last("v").over(w).alias("last_v"),
            F.count(F.lit(1)).over(w).alias("n"),
        ).distinct(),
        ["g", "first_v", "last_v", "n"],
    )
    ordering = F.struct(F.col("d"), F.col("id"))
    got = _collect_sorted(
        df.groupBy("g").agg(
            F.min_by("v", ordering).alias("first_v"),
            F.max_by("v", ordering).alias("last_v"),
            F.count(F.lit(1)).alias("n"),
        ),
        ["g", "first_v", "last_v", "n"],
    )
    assert got == want


# ---------------------------------------------------------------------------
# generic ntile_histogram vs ntile — tiles/order/ties/decimal sweep
# ---------------------------------------------------------------------------


def _ntile_ref(df, n_tiles, ascending, strata):
    order = [F.col("v").asc() if ascending else F.col("v").desc(), F.col("id")]
    w = (
        Window.partitionBy(*strata).orderBy(*order)
        if strata
        else Window.orderBy(*order)
    )
    return df.select("id", F.ntile(n_tiles).over(w).alias("t"))


@pytest.mark.slow  # ~30s sweep: round-close tier (fast variants below stay default)
def test_ntile_histogram_equals_ntile_sweep(spark):
    from dbt_ci_demo_spark.operators.sampling import ntile_histogram

    rng = random.Random(42)
    rows, rid = [], 0
    for gi in range(3):
        for _ in range(rng.randint(1, 70)):
            # lattice values force heavy exact ties
            rows.append((rid, f"g{gi}", rng.choice([1.0, 2.5, 2.5, 7.0, 9.9])))
            rid += 1
    df = spark.createDataFrame(rows, "id bigint, g string, v double")
    for n_tiles in (1, 3, 4, 5):
        for ascending in (True, False):
            for strata in ([], ["g"]):
                want = _collect_sorted(
                    _ntile_ref(df, n_tiles, ascending, strata), ["id", "t"]
                )
                got = _collect_sorted(
                    ntile_histogram(
                        df, n_tiles, "v", "id", strata,
                        n_bins=4, ascending=ascending, tile_col="t",
                    ).select("id", "t"),
                    ["id", "t"],
                )
                assert got == want, (n_tiles, ascending, strata)


def test_ntile_histogram_decimal_and_degenerate(spark):
    from dbt_ci_demo_spark.operators.sampling import ntile_histogram

    rows = (
        [(0, "one", 42.0)]                              # n=1 < n_tiles
        + [(1 + i, "flat", 7.0) for i in range(9)]      # all-identical stratum
        + [(20 + i, "big", float(i % 13)) for i in range(40)]
    )
    df = spark.createDataFrame(rows, "id bigint, g string, v double").withColumn(
        "v", F.col("v").cast("decimal(15,2)")           # decimal score path
    )
    want = _collect_sorted(_ntile_ref(df, 4, True, ["g"]), ["id", "t"])
    got = _collect_sorted(
        ntile_histogram(
            df, 4, "v", "id", ["g"], n_bins=8, ascending=True, tile_col="t"
        ).select("id", "t"),
        ["id", "t"],
    )
    assert got == want


def test_null_scores_raise_not_misrank(spark):
    """NULL scores have no bin and their rank order is engine-specific
    (Spark NULLS FIRST, DuckDB NULLS LAST) — both histogram operators
    must fail loudly instead of silently picking an order (ADVICE-r06
    NULL-discipline class)."""
    import pytest
    from dbt_ci_demo_spark.operators.sampling import ntile_histogram
    from dbt_ci_demo_spark.queries_olap2 import exact_percentiles

    df = spark.createDataFrame(
        [(1, "a", 1.0), (2, "a", None), (3, "b", 2.0)],
        "id bigint, g string, v double",
    )
    with pytest.raises(ValueError, match="NULL"):
        ntile_histogram(df, 3, "v", "id", ["g"])
    with pytest.raises(Exception, match="NULL"):
        exact_percentiles(df, ["g"], "v", [("p50", 0.5)]).collect()
    # NaN: makes max() NaN -> bin width NaN -> the whole stratum clamps
    # into ONE bin (a silent single-task sort) — must raise too
    nan_df = spark.createDataFrame(
        [(1, "a", 1.0), (2, "a", float("nan")), (3, "b", 2.0)],
        "id bigint, g string, v double",
    )
    with pytest.raises(ValueError, match="NaN"):
        ntile_histogram(nan_df, 3, "v", "id", ["g"])
    with pytest.raises(Exception, match="NaN"):
        exact_percentiles(nan_df, ["g"], "v", [("p50", 0.5)]).collect()
    # Inf: inf - s = inf -> floor(inf/inf) = NaN -> mis-binned rows
    inf_df = spark.createDataFrame(
        [(1, "a", 1.0), (2, "a", float("inf")), (3, "b", 2.0)],
        "id bigint, g string, v double",
    )
    with pytest.raises(ValueError, match="Inf"):
        ntile_histogram(inf_df, 3, "v", "id", ["g"])
    with pytest.raises(Exception, match="Inf"):
        exact_percentiles(inf_df, ["g"], "v", [("p50", 0.5)]).collect()


def test_ntile_histogram_strata_cardinality_guard(spark):
    """>1024 strata must raise (the literal-CASE planner ceiling — the
    Lloyd literal-centroid routing precedent), not hang Catalyst."""
    import pytest
    from dbt_ci_demo_spark.operators.sampling import ntile_histogram

    df = spark.range(2100).select(
        F.col("id"),
        (F.col("id") % 1100).cast("string").alias("g"),
        (F.col("id") % 7).cast("double").alias("v"),
    )
    with pytest.raises(ValueError, match="strata"):
        ntile_histogram(df, 3, "v", "id", ["g"])


def test_percentiles_global_strata(spark):
    """strata_cols=[] = ONE global stratum (a constant stratum key) —
    the percentile analogue of the global ntile."""
    from dbt_ci_demo_spark.queries_olap2 import exact_percentiles

    rows = [(i, float(v)) for i, v in enumerate([5, 1, 9, 3, 7, 2, 8, 4, 6, 10])]
    df = spark.createDataFrame(rows, "id bigint, v double")
    w = Window.orderBy("v", "id")
    wn = Window.partitionBy()
    ranked = df.select(
        "v",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    pick = lambda p: F.max(  # noqa: E731
        F.when(F.col("rn") == F.ceil(F.lit(p) * F.col("n")).cast("bigint"), F.col("v"))
    )
    want = ranked.agg(pick(0.5).alias("p50"), pick(0.9).alias("p90")).collect()
    got = exact_percentiles(df, [], "v", [("p50", 0.5), ("p90", 0.9)]).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


# ---------------------------------------------------------------------------
# heavy boundary bins → exact distributed rank (r08, VERDICT r07 #3)
# ---------------------------------------------------------------------------


@pytest.mark.slow  # ~30s sweep: round-close tier (fast variants below stay default)
def test_ntile_histogram_heavy_bin_equals_ntile(spark):
    """The degenerate shapes the r07 verdict flagged — an all-identical
    stratum (one bin holds everything) and a dominant score mode inside a
    boundary bin — must route through the distributed-rank branch and
    still match ntile bit-for-bit, ties and all."""
    from dbt_ci_demo_spark.operators.sampling import ntile_histogram

    rng = random.Random(7)
    rows = (
        [(i, "flat", 7.0) for i in range(900)]                 # mx == mn
        + [(1000 + i, "mode", 3.25 if i % 5 else rng.random() * 10)
           for i in range(800)]                                # heavy mode
        + [(3000 + i, "ok", rng.random() * 100) for i in range(400)]
    )
    df = spark.createDataFrame(rows, "id bigint, g string, v double")
    for n_tiles in (2, 3, 5):
        for ascending in (True, False):
            want = _collect_sorted(
                _ntile_ref(df, n_tiles, ascending, ["g"]), ["id", "t"]
            )
            got = _collect_sorted(
                ntile_histogram(
                    df, n_tiles, "v", "id", ["g"], n_bins=16,
                    ascending=ascending, tile_col="t", heavy_bin_rows=64,
                ).select("id", "t"),
                ["id", "t"],
            )
            assert got == want, (n_tiles, ascending)


def test_ntile_histogram_heavy_global_constant(spark):
    """Global (no-strata) all-tied scores: the one-bin collapse with no
    stratum CASE at all — the pure id-tie-break distributed rank."""
    from dbt_ci_demo_spark.operators.sampling import ntile_histogram

    df = spark.createDataFrame([(i, 5.0) for i in range(700)], "id bigint, v double")
    want = _collect_sorted(_ntile_ref(df, 4, True, []), ["id", "t"])
    got = _collect_sorted(
        ntile_histogram(
            df, 4, "v", "id", None, n_bins=8, tile_col="t", heavy_bin_rows=50
        ).select("id", "t"),
        ["id", "t"],
    )
    assert got == want


def test_ntile_histogram_heavy_bin_is_multi_partition(spark):
    """The point of the heavy branch: an all-tied stratum's rows must NOT
    rank inside one window task. Pin it mechanically — the distributed
    rank spreads the heavy group across >1 range partition (ids are
    unique, so the range partitioner can always split), and the executed
    plan's remaining Window partitions stay bounded."""
    from dbt_ci_demo_spark.operators.sampling import ntile_histogram

    df = (
        spark.range(5000)
        .select(F.col("id"), F.lit("flat").alias("g"), F.lit(1.0).alias("v"))
    )
    out = ntile_histogram(
        df, 4, "v", "id", ["g"], n_bins=8, tile_col="t", heavy_bin_rows=100
    )
    # correctness first
    want = _collect_sorted(_ntile_ref(df, 4, True, ["g"]), ["id", "t"])
    assert _collect_sorted(out.select("id", "t"), ["id", "t"]) == want
    # mechanics: the heavy branch's range partitioning actually splits
    # the tied run — >1 partition carries rows (5000 rows, 32 shuffle
    # partitions; a single-task sort would put them all in one)
    n_parts = (
        df.withColumn("__gid", F.lit(0))
        .repartitionByRange(
            int(spark.conf.get("spark.sql.shuffle.partitions")),
            F.col("__gid").asc(), F.col("v").asc(), F.col("id").asc(),
        )
        .select(F.spark_partition_id().alias("p"))
        .distinct()
        .count()
    )
    assert n_parts > 1


# ---------------------------------------------------------------------------
# ntile_threshold (distributed broadcast-threshold twin) vs ntile
# ---------------------------------------------------------------------------


@pytest.mark.slow  # ~6s two-path equivalence: round-close tier (both paths carry
# oracle + bench rows)
def test_ntile_threshold_equals_ntile_highcard(spark):
    """The >1024-strata path ntile_histogram's ceiling guard points to:
    fully-declarative thresholds must equal ntile bit-for-bit across tie
    regimes, 1500-cardinality strata (past the literal-CASE ceiling),
    tiny strata, and both orderings."""
    from dbt_ci_demo_spark.operators.sampling import ntile_threshold

    rng = random.Random(11)
    rows = []
    for g in range(1500):
        for i in range(rng.randint(1, 6)):
            rows.append((g * 100 + i, f"s{g}", rng.choice([1.0, 2.0, 2.0, 5.5])))
    df = spark.createDataFrame(rows, "id bigint, g string, v double")
    for n_tiles, ascending in [(2, True), (4, False)]:
        want = _collect_sorted(_ntile_ref(df, n_tiles, ascending, ["g"]), ["id", "t"])
        got = _collect_sorted(
            ntile_threshold(
                df, n_tiles, "v", "id", ["g"], n_bins=8,
                ascending=ascending, tile_col="t",
            ).select("id", "t"),
            ["id", "t"],
        )
        assert got == want, (n_tiles, ascending)


def test_ntile_threshold_global_null_strata_and_guards(spark):
    """Global (no-strata) mode; NULL strata keys tile via the null-safe
    struct join (GROUP BY semantics — rows must NOT silently drop); the
    heavy-boundary-bin and NULL-score in-plan asserts raise loudly."""
    import pytest
    from dbt_ci_demo_spark.operators.sampling import ntile_threshold

    rng = random.Random(3)
    dfg = spark.createDataFrame(
        [(i, float(rng.randint(0, 40))) for i in range(800)], "id bigint, v double"
    )
    want = _collect_sorted(_ntile_ref(dfg, 5, False, []), ["id", "t"])
    got = _collect_sorted(
        ntile_threshold(dfg, 5, "v", "id", None, n_bins=16,
                        ascending=False, tile_col="t").select("id", "t"),
        ["id", "t"],
    )
    assert got == want
    dfn = spark.createDataFrame(
        [(1, None, 1.0), (2, None, 2.0), (3, "a", 3.0), (4, None, 0.5), (5, "a", 9.0)],
        "id bigint, g string, v double",
    )
    want = _collect_sorted(_ntile_ref(dfn, 2, True, ["g"]), ["id", "t"])
    got = _collect_sorted(
        ntile_threshold(dfn, 2, "v", "id", ["g"], n_bins=4, tile_col="t")
        .select("id", "t"),
        ["id", "t"],
    )
    assert got == want and len(got) == 5
    big = spark.createDataFrame([(i, 1.0) for i in range(500)], "id bigint, v double")
    with pytest.raises(Exception, match="ntile_histogram"):
        ntile_threshold(big, 3, "v", "id", None, n_bins=8,
                        heavy_bin_rows=100).collect()
    dfnull = spark.createDataFrame(
        [(1, "a", 1.0), (2, "a", None)], "id bigint, g string, v double"
    )
    with pytest.raises(Exception, match="NULL"):
        ntile_threshold(dfnull, 2, "v", "id", ["g"]).collect()


def test_percentiles_null_strata_keys_kept(spark):
    """GROUP BY keeps NULL-keyed strata, so exact_percentiles' joins
    back onto the strata must match them too (r08: the plain equi-join
    silently dropped the NULL stratum's rows — the one struct stratum
    key now mirrors groupBy semantics). Checked against the rank
    formulation including the NULL group, for 1- and 2-column strata."""
    from dbt_ci_demo_spark.queries_olap2 import exact_percentiles

    rng = random.Random(5)
    rows = [(i, rng.choice(["a", "b", None]), float(rng.randint(1, 100)))
            for i in range(300)]
    df = spark.createDataFrame(rows, "id bigint, g string, v double")
    got = exact_percentiles(df, ["g"], "v", [("p50", 0.5), ("p90", 0.9)])
    w = Window.partitionBy("g").orderBy("v", "id")
    wn = Window.partitionBy("g")
    r = df.select(
        "g", "v",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    pick = lambda p: F.max(  # noqa: E731
        F.when(F.col("rn") == F.ceil(F.lit(p) * F.col("n")).cast("bigint"), F.col("v"))
    )
    want = r.groupBy("g").agg(pick(0.5).alias("p50"), pick(0.9).alias("p90"))
    g = sorted([tuple(x) for x in got.collect()], key=str)
    wv = sorted([tuple(x) for x in want.collect()], key=str)
    assert g == wv and len(g) == 3
    rows2 = [(i, rng.choice(["x", None]), rng.choice([1, None]),
              float(rng.randint(1, 50))) for i in range(200)]
    df2 = spark.createDataFrame(rows2, "id bigint, a string, b int, v double")
    got2 = exact_percentiles(df2, ["a", "b"], "v", [("p50", 0.5)])
    w2 = Window.partitionBy("a", "b").orderBy("v", "id")
    wn2 = Window.partitionBy("a", "b")
    r2 = df2.select(
        "a", "b", "v",
        F.row_number().over(w2).alias("rn"),
        F.count(F.lit(1)).over(wn2).alias("n"),
    )
    want2 = r2.groupBy("a", "b").agg(pick(0.5).alias("p50"))
    g2 = sorted([tuple(x) for x in got2.collect()], key=str)
    wv2 = sorted([tuple(x) for x in want2.collect()], key=str)
    assert g2 == wv2 and len(g2) == 4


# ---------------------------------------------------------------------------
# ntile_exact (cardinality-routing dispatcher, VERDICT r09 #5)
# ---------------------------------------------------------------------------


def test_ntile_route_boundary():
    """The pure routing decision at the literal-CASE ceiling: AT the
    ceiling stays on the driver-held histogram path, one past it goes
    distributed — so no caller can hit ntile_histogram's documented
    1024-strata ValueError through the dispatcher."""
    from dbt_ci_demo_spark.operators import sampling as sp

    ceil = sp.DRIVER_STRATA_CEILING
    assert ceil == 1024
    for n, want in [
        (0, "histogram"),
        (1, "histogram"),
        (ceil - 1, "histogram"),
        (ceil, "histogram"),
        (ceil + 1, "threshold"),
        (10 * ceil, "threshold"),
    ]:
        assert sp._ntile_route(n) == want, n
    # custom ceilings route at their own boundary
    assert sp._ntile_route(4, 4) == "histogram"
    assert sp._ntile_route(5, 4) == "threshold"
    with pytest.raises(ValueError):
        sp._ntile_route(-1)


def test_ntile_exact_routes_and_matches_ntile(spark):
    """End-to-end through the dispatcher with a small ceiling so both
    routes execute cheaply: at the ceiling the plan is the histogram
    formulation (driver-held literals — zero joins), past it the
    threshold formulation (broadcast-joined thresholds), and BOTH equal
    the window ntile bit-for-bit — routing changes the plan, never the
    rows."""
    from dbt_ci_demo_spark.operators.sampling import ntile_exact

    rng = random.Random(23)

    def fixture(n_strata):
        rows = []
        for g in range(n_strata):
            for i in range(rng.randint(2, 5)):
                rows.append((g * 10 + i, f"s{g}", rng.choice([1.0, 2.0, 2.0, 7.5])))
        return spark.createDataFrame(rows, "id bigint, g string, v double")

    for n_strata, join_expected in [(4, False), (5, True)]:
        df = fixture(n_strata)
        got_df = ntile_exact(
            df, 3, "v", "id", ["g"], n_bins=8, tile_col="t", max_driver_strata=4
        )
        plan = got_df._jdf.queryExecution().executedPlan().toString()
        assert ("BroadcastHashJoin" in plan) == join_expected, (n_strata, plan)
        want = _collect_sorted(_ntile_ref(df, 3, True, ["g"]), ["id", "t"])
        got = _collect_sorted(got_df.select("id", "t"), ["id", "t"])
        assert got == want, n_strata


@pytest.mark.slow  # ~10s 1300-strata fixture: round-close tier (the
# boundary property test + small-ceiling end-to-end keep the fast signal)
def test_ntile_exact_highcard_fixture(spark):
    """The 1300-strata fixture (past the real 1024 literal-CASE ceiling,
    the case that used to be a caller-facing ValueError foot-gun) passes
    straight through the dispatcher and equals ntile."""
    from dbt_ci_demo_spark.operators.sampling import ntile_exact

    rng = random.Random(31)
    rows = []
    for g in range(1300):
        for i in range(rng.randint(1, 4)):
            rows.append((g * 100 + i, f"s{g}", rng.choice([1.0, 3.0, 3.0, 9.5])))
    df = spark.createDataFrame(rows, "id bigint, g string, v double")
    got = _collect_sorted(
        ntile_exact(df, 2, "v", "id", ["g"], n_bins=8, tile_col="t").select(
            "id", "t"
        ),
        ["id", "t"],
    )
    want = _collect_sorted(_ntile_ref(df, 2, True, ["g"]), ["id", "t"])
    assert got == want


def test_ntile_exact_rejects_raised_ceiling_and_pins_nothing(spark):
    """(1) max_driver_strata may only LOWER the routing point — raised
    past the histogram twin's hard 1024 guard the dispatcher fails FAST
    (before paying count + stats cost) instead of routing a strata count
    the twin then rejects; (2) neither operator caches its input: the
    caller owns any pin (session.pinned), so the CacheManager is
    unchanged after the result is consumed."""
    from dbt_ci_demo_spark.operators.sampling import (
        DRIVER_STRATA_CEILING,
        ntile_exact,
        ntile_histogram,
    )

    df = spark.createDataFrame(
        [(1, "a", 1.0), (2, "a", 2.0), (3, "b", 3.0)],
        "id bigint, g string, v double",
    )
    with pytest.raises(ValueError, match="can only lower the routing point"):
        ntile_exact(
            df, 2, "v", "id", ["g"], max_driver_strata=DRIVER_STRATA_CEILING + 1
        )
    plans = cached_plans(spark)
    for fn in (ntile_exact, ntile_histogram):
        assert fn(df, 2, "v", "id", ["g"], tile_col="t").count() == 3
        assert cached_plans(spark) == plans, fn.__name__
