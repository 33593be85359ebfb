"""OLAP grouping/statistics/time-spine shapes completing the warehouse
analytics surface: explicit GROUPING SETS (beyond the rollup/cube pair in
queries_relational), exact second-moment statistics (variance / stddev /
correlation) computed engine-portably, and a date-spine gap-fill — the
canonical reporting-table idiom over sparse daily facts.

Engine-portability rule for the statistics: Spark's and DuckDB's built-in
STDDEV/CORR use different streaming algorithms, so their low-order float
bits differ and the driver's exact hash would fail. Instead both sides
aggregate exact integer fixed-point moments (order-independent) and
evaluate the *same* closed-form double expression on top — every
double-producing step is a single correctly-rounded IEEE op, so the
result is bit-identical. (Two non-portable traps found empirically:
casting a scale>0 decimal to double, and fusing sqrt(dx*dy) — see
stats_exact_moments.) At 100 TB this is also the cheaper plan: one pass,
no per-group sorted state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dbt_ci_demo_spark.operators.sampling import _boundary_bins, _score_bins, _score_stats
from dbt_ci_demo_spark.queries import _t, query


@query(
    "olap_grouping_sets",
    oracle="""
    SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
           COALESCE(l_linestatus, 'ALL') AS linestatus,
           CAST(GROUPING(l_returnflag) AS INTEGER) AS g_flag,
           CAST(GROUPING(l_linestatus) AS INTEGER) AS g_status,
           count(*) AS n_items,
           CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())
    """,
)
def olap_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — the general form behind ROLLUP/CUBE
    (detail, per-status, and grand total, skipping the per-flag level a
    rollup would force). Spark plans it as one Expand + one hash
    aggregate: a single scan and a single shuffle for all three levels.
    GROUPING() markers are emitted so subtotal rows stay unambiguous even
    where the 'ALL' sentinel could collide with data values."""
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.groupingSets(
            [["l_returnflag", "l_linestatus"], ["l_linestatus"], []],
            "l_returnflag",
            "l_linestatus",
        )
        .agg(
            F.grouping("l_returnflag").cast("int").alias("g_flag"),
            F.grouping("l_linestatus").cast("int").alias("g_status"),
            F.count(F.lit(1)).alias("n_items"),
            F.sum(F.col("l_quantity").cast("decimal(30,6)")).cast("double").alias("sum_qty"),
        )
        .select(
            F.coalesce(F.col("l_returnflag"), F.lit("ALL")).alias("returnflag"),
            F.coalesce(F.col("l_linestatus"), F.lit("ALL")).alias("linestatus"),
            "g_flag",
            "g_status",
            "n_items",
            "sum_qty",
        )
    )


@query(
    "stats_exact_moments",
    oracle="""
    WITH q AS (
      SELECT l_returnflag,
             CAST(round(l_quantity * 100) AS BIGINT) AS xi,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS yi
      FROM lineitem
    ),
    m AS (
      SELECT l_returnflag,
             CAST(count(*) AS DOUBLE) AS n,
             CAST(SUM(CAST(xi AS DECIMAL(38,0))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(yi AS DECIMAL(38,0))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(xi * xi AS DECIMAL(38,0))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(yi * yi AS DECIMAL(38,0))) AS DOUBLE) AS syy,
             CAST(SUM(CAST(xi * yi AS DECIMAL(38,0))) AS DOUBLE) AS sxy
      FROM q GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           (sxx - sx * sx / n) / (n - 1) / 10000.0 AS var_qty,
           sqrt((sxx - sx * sx / n) / (n - 1)) / 100.0 AS stddev_qty,
           (sxy - sx * sy / n) / sqrt(sxx - sx * sx / n) / sqrt(syy - sy * sy / n)
             AS corr_qty_price
    FROM m
    """,
)
def stats_exact_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample variance / stddev of quantity and its correlation with price,
    per return flag — via exact decimal moments + closed-form doubles (see
    module docstring for why the built-in STDDEV/CORR aggregates are not
    engine-portable). One pass over lineitem, six codegen'd decimal sums;
    the closed forms run on the handful of group rows."""
    l = _t(spark, sf_dir, "lineitem")
    # Integer fixed-point moments (cents): the values are quantized with
    # round(v*100) BEFORE any aggregation, every moment is an exact
    # integer (decimal(38,0) sums), and the only decimal→double casts
    # convert exact integers — a single correctly-rounded conversion in
    # both engines. Casting a scale>0 decimal to double is NOT portable
    # (DuckDB lands 1 ulp off the correctly-rounded value at ~17
    # significant digits — observed on sum(price²)); neither is
    # sqrt(dx*dy) as a fused denominator (divide by each sqrt instead).
    # Correlation is invariant under the 100× linear scaling; variance
    # and stddev are de-scaled by single final ops.
    xi = F.round(F.col("l_quantity") * 100).cast("bigint")
    yi = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    m = l.select("l_returnflag", xi.alias("xi"), yi.alias("yi")).groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(dec(F.col("xi"))).cast("double").alias("sx"),
        F.sum(dec(F.col("yi"))).cast("double").alias("sy"),
        F.sum(dec(F.col("xi") * F.col("xi"))).cast("double").alias("sxx"),
        F.sum(dec(F.col("yi") * F.col("yi"))).cast("double").alias("syy"),
        F.sum(dec(F.col("xi") * F.col("yi"))).cast("double").alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    var_i = (sxx - sx * sx / n) / (n - 1)
    corr = (sxy - sx * sy / n) / F.sqrt(sxx - sx * sx / n) / F.sqrt(syy - sy * sy / n)
    return m.select(
        "l_returnflag",
        (var_i / F.lit(10000.0)).alias("var_qty"),
        (F.sqrt(var_i) / F.lit(100.0)).alias("stddev_qty"),
        corr.alias("corr_qty_price"),
    )


@query(
    "ts_date_spine_gapfill",
    oracle="""
    WITH b AS (
      SELECT CAST(min(o_orderdate) AS DATE) AS d0, CAST(max(o_orderdate) AS DATE) AS d1
      FROM orders
    ),
    spine AS (
      SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS TIMESTAMP) AS day
      FROM b
    ),
    daily AS (
      SELECT CAST(CAST(o_orderdate AS DATE) AS TIMESTAMP) AS day,
             count(*) AS n_orders
      FROM orders GROUP BY 1
    )
    SELECT s.day, CAST(COALESCE(d.n_orders, 0) AS BIGINT) AS n_orders
    FROM spine s LEFT JOIN daily d ON d.day = s.day
    """,
)
def ts_date_spine_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-spine gap fill: a continuous daily series over the full order
    date range, with zero-filled days where no orders exist — the standard
    reporting-table densification idiom (dbt-utils' date_spine macro is
    this pattern; the reference's date-sharded writer, SURVEY §2.B.5
    make_date_partitioned_table manifest.json:1@47149, enumerates the same
    Python-side date range). Spark builds the spine with
    sequence()+explode from the min/max scalar — no driver-side loop. The
    daily aggregate is the only shuffle; the spine (≤ a few thousand rows)
    joins broadcast, so gap-filling costs nothing extra at any scale."""
    o = _t(spark, sf_dir, "orders")
    bounds = o.agg(
        F.min(F.to_date("o_orderdate")).alias("d0"),
        F.max(F.to_date("o_orderdate")).alias("d1"),
    )
    spine = bounds.select(
        F.explode(F.sequence(F.col("d0"), F.col("d1"))).alias("day_d")
    ).select(F.col("day_d").cast("timestamp").alias("day"))
    daily = o.groupBy(
        F.to_date("o_orderdate").cast("timestamp").alias("day")
    ).agg(F.count(F.lit(1)).alias("n_orders"))
    return (
        spine.join(F.broadcast(daily), "day", "left_outer")
        .select("day", F.coalesce(F.col("n_orders"), F.lit(0)).alias("n_orders"))
    )


@query(
    "olap_unpivot_metrics",
    oracle="""
    WITH per_flag AS (
      SELECT l_returnflag,
             CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE) AS sum_qty,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,6))) AS DOUBLE) AS sum_price,
             CAST(SUM(CAST(l_discount AS DECIMAL(30,6))) AS DOUBLE) AS sum_disc
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, metric, metric_value
    FROM per_flag
    UNPIVOT (metric_value FOR metric IN (sum_qty, sum_price, sum_disc))
    """,
)
def olap_unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT / melt: the wide per-flag metric row unpivoted to long form
    (flag, metric, value) — the inverse of the pivot query and the shape
    metric stores ingest. Spark's unpivot is a zero-shuffle Expand over
    the already-aggregated rows; only the upstream aggregate moves data."""
    l = _t(spark, sf_dir, "lineitem")
    wide = l.groupBy("l_returnflag").agg(
        F.sum(F.col("l_quantity").cast("decimal(30,6)")).cast("double").alias("sum_qty"),
        F.sum(F.col("l_extendedprice").cast("decimal(30,6)")).cast("double").alias("sum_price"),
        F.sum(F.col("l_discount").cast("decimal(30,6)")).cast("double").alias("sum_disc"),
    )
    return wide.unpivot(
        ["l_returnflag"], ["sum_qty", "sum_price", "sum_disc"], "metric", "metric_value"
    )


@query(
    "stats_exact_percentiles",
    oracle="""
    WITH ranked AS (
      SELECT o_orderpriority, o_totalprice,
             row_number() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice, o_orderkey) AS rn,
             count(*) OVER (PARTITION BY o_orderpriority) AS n
      FROM orders
    )
    SELECT o_orderpriority,
           max(CASE WHEN rn = CAST(ceil(0.50 * n) AS BIGINT) THEN o_totalprice END) AS p50,
           max(CASE WHEN rn = CAST(ceil(0.90 * n) AS BIGINT) THEN o_totalprice END) AS p90,
           max(CASE WHEN rn = CAST(ceil(0.99 * n) AS BIGINT) THEN o_totalprice END) AS p99
    FROM ranked GROUP BY o_orderpriority
    """,
)
def stats_exact_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact nearest-rank percentiles (p50/p90/p99 of order value per
    priority) — engine-portable where built-in PERCENTILE/QUANTILE
    aggregates differ in interpolation. The oracle states the semantics
    as row_number + ceil(p·n); the engine computes it by histogram
    threshold selection (:func:`exact_percentiles`), because the
    rank-window formulation sorts each whole priority stratum in ONE
    reduce task — an interior-rank pick can never get a
    ``WindowGroupLimit``, so at 100 TB a 5-priority orders table funnels
    ~20% of the corpus per reduce task (found by the r07 second-pass
    window-skew audit, SCALE.md)."""
    o = _t(spark, sf_dir, "orders").select("o_orderpriority", "o_totalprice")
    return exact_percentiles(
        o,
        ["o_orderpriority"],
        "o_totalprice",
        [("p50", 0.50), ("p90", 0.90), ("p99", 0.99)],
    )


def exact_percentiles(
    df: DataFrame,
    strata_cols: list[str],
    value_col: str,
    targets: list[tuple[str, float]],
    n_bins: int = 1024,
) -> DataFrame:
    """Exact nearest-rank percentile VALUES per stratum without a
    stratum-sized window — the bounded plan behind
    :func:`stats_exact_percentiles`, factored out so tests pin the
    production code. Returns one row per stratum (``strata_cols=[]`` =
    one global row; NULL-keyed strata kept, like GROUP BY) with one
    column per target tag, each holding the value at rank
    ``ceil(frac·n)`` under (value, any-total-order).

    The target ranks use the oracle's double arithmetic, and
    ``operators.sampling._boundary_bins`` locates each one's value bin.
    The boundary-bin rows then collapse to DISTINCT values with counts
    (an all-one-value stratum collapses to ONE row, so ties make this
    cheaper, not degenerate), and a running sum over those picks the
    first value whose cumulative count reaches the target. The answer is
    a value, so no row-level tie-break is needed: equal values share a
    bin and the answer is their common value (property-tested across
    tie regimes and bin counts)."""
    from pyspark.sql.window import Window

    base = df.withColumn(
        "__sk", F.struct(*strata_cols) if strata_cols else F.lit(0)
    )
    stats = _score_stats(base, value_col, "exact_percentiles")
    binned = _score_bins(base, stats, value_col, n_bins, ascending=True)
    tgt = stats.select(
        "__sk",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(tag).alias("tag"),
                        F.ceil(F.lit(p) * F.col("__n")).cast("bigint").alias("__b"),
                    )
                    for tag, p in targets
                ]
            )
        ).alias("t"),
    ).select("__sk", "t.tag", "t.__b")
    # p = 0.0 → rank 0: the rank formulation has no rn == 0 row and
    # yields NULL — drop the target so the pick aggregate agrees (max
    # over no rows is NULL) instead of returning the min value
    tgt = tgt.filter(F.col("__b") >= 1)
    boundary = _boundary_bins(binned, ["__sk"], tgt)
    bin_vals = (
        binned.join(F.broadcast(boundary), "__sk")
        .filter(F.col("__bin") == F.col("__bb"))
        .groupBy("__sk", "tag", "__b", "__bef", value_col)
        .agg(F.count(F.lit(1)).alias("__cnt"))
    )
    wval = (
        Window.partitionBy("__sk", "tag")
        .orderBy(value_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    picked = (
        bin_vals.withColumn("__cum", F.sum("__cnt").over(wval))
        .filter(F.col("__bef") + F.col("__cum") >= F.col("__b"))
        .groupBy("__sk", "tag")
        .agg(F.min(value_col).alias("__val"))
    )
    pick = lambda t: F.max(F.when(F.col("tag") == t, F.col("__val")))  # noqa: E731
    return picked.groupBy(*[F.col("__sk")[c].alias(c) for c in strata_cols]).agg(
        *[pick(tag).alias(tag) for tag, _ in targets]
    )


@query(
    "ts_moving_average",
    oracle="""
    WITH b AS (
      SELECT CAST(min(o_orderdate) AS DATE) AS d0, CAST(max(o_orderdate) AS DATE) AS d1
      FROM orders
    ),
    spine AS (
      SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS TIMESTAMP) AS day
      FROM b
    ),
    daily AS (
      SELECT CAST(CAST(o_orderdate AS DATE) AS TIMESTAMP) AS day, count(*) AS n
      FROM orders GROUP BY 1
    ),
    filled AS (
      SELECT s.day, CAST(COALESCE(d.n, 0) AS BIGINT) AS n_orders
      FROM spine s LEFT JOIN daily d ON d.day = s.day
    )
    SELECT day, n_orders,
           round(CAST(SUM(n_orders) OVER (ORDER BY day
                        ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE)
                 / least(CAST(row_number() OVER (ORDER BY day) AS BIGINT), 7), 6)
             AS ma7
    FROM filled
    """,
)
def ts_moving_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day moving average of daily order volume over the gap-filled date
    spine (zero days included, so the average is calendar-true; the ramp-up
    head divides by the actual window size). The ROWS window needs a total
    order over days — fine here because the spine is one row per day
    (thousands of rows even for decades); at that size a single-partition
    window is the *correct* plan, and everything upstream is
    partition-parallel."""
    from pyspark.sql.window import Window

    filled = ts_date_spine_gapfill(spark, sf_dir)
    w = Window.orderBy("day").rowsBetween(-6, 0)
    wr = Window.orderBy("day")
    return filled.select(
        "day",
        "n_orders",
        F.round(
            F.sum("n_orders").over(w).cast("double")
            / F.least(F.row_number().over(wr).cast("bigint"), F.lit(7)),
            6,
        ).alias("ma7"),
    )


@query(
    "olap_price_histogram",
    oracle="""
    WITH b AS (
      SELECT CASE WHEN o_totalprice < 0 THEN 0
                  WHEN o_totalprice >= 400000 THEN 9
                  ELSE CAST(1 + floor((o_totalprice - 0) / 50000) AS INTEGER) END AS bucket,
             o_totalprice
      FROM orders
    )
    SELECT bucket,
           count(*) AS n_orders,
           round(min(o_totalprice), 2) AS min_price,
           round(max(o_totalprice), 2) AS max_price
    FROM b GROUP BY bucket
    """,
)
def olap_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of order values via the range_bucket helper
    (the Spark twin of BigQuery's RANGE_BUCKET(x, GENERATE_ARRAY(0,
    400000, 50000)) — partition_by @13262's integer-range partitioning
    idiom, SURVEY §2.B.6). Pure scan-side arithmetic + a 10-group
    aggregate: the cheapest possible shape at any scale."""
    from dbt_ci_demo_spark.functions.bq_compat import range_bucket

    o = _t(spark, sf_dir, "orders")
    return (
        o.select(range_bucket("o_totalprice", 0, 400000, 50000).alias("bucket"), "o_totalprice")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.min("o_totalprice"), 2).alias("min_price"),
            F.round(F.max("o_totalprice"), 2).alias("max_price"),
        )
    )


@query(
    "win_percent_rank_cume",
    oracle="""
    SELECT s_suppkey,
           round(CAST(s_acctbal AS DOUBLE), 2) AS acctbal,
           round(percent_rank() OVER (ORDER BY s_acctbal, s_suppkey), 6) AS pr,
           round(cume_dist() OVER (ORDER BY s_acctbal, s_suppkey), 6) AS cd,
           CAST(ntile(4) OVER (ORDER BY s_acctbal, s_suppkey) AS INTEGER) AS quartile
    FROM supplier
    """,
)
def win_percent_rank_cume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank / cume_dist / ntile over supplier balances — the
    relative-standing window family (suppliers is dimension-sized, so the
    single-partition window is appropriate; for fact-sized inputs
    partition the window or use the exact-percentile pattern in
    stats_exact_percentiles). The suppkey tie-break makes rank positions
    total, so both rank functions are engine-deterministic; outputs are
    rounded at 6 for division portability."""
    from pyspark.sql.window import Window

    s = _t(spark, sf_dir, "supplier")
    w = Window.orderBy("s_acctbal", "s_suppkey")
    return s.select(
        "s_suppkey",
        F.round(F.col("s_acctbal").cast("double"), 2).alias("acctbal"),
        F.round(F.percent_rank().over(w), 6).alias("pr"),
        F.round(F.cume_dist().over(w), 6).alias("cd"),
        F.ntile(4).over(w).cast("int").alias("quartile"),
    )


# ---------------------------------------------------------------------------
# Sketch-based approximate aggregates — the 100 TB scale path for quantiles
# and distinct counts. Raw sketch ESTIMATES are engine-specific by
# construction (Spark: GK summaries / Apache DataSketches HLL; DuckDB: its
# own t-digest / HLL), so — by the same portability rule as the moments
# above — the registered, hash-compared surface is the sketch's ACCURACY
# CONTRACT evaluated in-plan (booleans that must all come out TRUE) plus
# exact values both engines compute identically. The contract is the real
# guarantee a 100 TB user relies on: a failed bound is a driver-red row.
# ---------------------------------------------------------------------------

_SKQ_QS = [0.25, 0.50, 0.75, 0.95]
_SKQ_ACC = 1000  # GK accuracy: rank error <= n/accuracy


@query(
    "stats_sketch_quantiles",
    oracle="""
    SELECT CAST(q AS DOUBLE) AS quantile,
           (SELECT count(l_extendedprice) FROM lineitem) AS n_rows,
           TRUE AS within_bound
    FROM (VALUES (0.25), (0.50), (0.75), (0.95)) t(q)
    ORDER BY quantile
    """,
)
def stats_sketch_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile (Greenwald-Khanna sketch) over lineitem prices,
    with its rank-error contract verified in-plan: GK at accuracy A
    returns an element whose rank is within eps*n of q*n (eps = 1/A).
    The verification pass counts, per returned value v, the exact
    #rows < v and #rows <= v, and checks the occupied rank interval
    meets [(q-eps)n - 1, (q+eps)n + 1] (the +/-1 absorbs rank-definition
    off-by-ones). At 100 TB this is THE quantile plan: the sketch is one
    map-side-combinable pass (exact percentiles need a full sort, cf.
    stats_exact_percentiles); the verify rescan exists only for the
    contract check and broadcast-crossJoins the 4-row quantile table —
    the standard scalar-broadcast shape (bounded fan-out of 4, same
    whitelisted pattern as text_unigram_logprob's 1-row totals).
    Estimates themselves are engine-specific, hence the contract-surface
    oracle (module docstring).

    NULL/empty discipline (ADVICE r06): prices are filtered IS NOT NULL
    before BOTH the sketch and the verify rescan, so n_rows and the GK
    rank space cover the same row set (approx_percentile skips nulls but
    count(*) would not — the rank-bound check would skew asymmetrically;
    the oracle counts count(l_extendedprice) to match). Documented edge:
    on an EMPTY (or all-null) input the sketch returns NULL, posexplode
    emits nothing, and the query returns 0 rows — while this oracle's
    VALUES spine always emits 4; the fixtures are non-empty, and a
    monitoring deployment would treat the 0-row output itself as the
    empty-input signal."""
    l = (
        _t(spark, sf_dir, "lineitem")
        .select(F.col("l_extendedprice").alias("price"))
        .filter(F.col("price").isNotNull())
    )
    eps = 1.0 / _SKQ_ACC
    qarr = F.array(*[F.lit(q) for q in _SKQ_QS])
    qv = (
        l.agg(F.approx_percentile("price", qarr, F.lit(_SKQ_ACC)).alias("vals"))
        .select(F.posexplode("vals").alias("pos", "v"))
        .select(F.element_at(qarr, F.col("pos") + 1).alias("quantile"), "v")
    )
    return (
        l.crossJoin(F.broadcast(qv))
        .groupBy("quantile")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.when(F.col("price") < F.col("v"), 1).otherwise(0)).alias("n_lt"),
            F.sum(F.when(F.col("price") <= F.col("v"), 1).otherwise(0)).alias("n_le"),
        )
        .select(
            "quantile",
            "n_rows",
            (
                (F.col("n_lt") <= (F.col("quantile") + eps) * F.col("n_rows") + 1)
                & (F.col("n_le") >= (F.col("quantile") - eps) * F.col("n_rows") - 1)
            ).alias("within_bound"),
        )
        .orderBy("quantile")
    )


@query(
    "stats_sketch_distinct_merge",
    oracle="""
    SELECT event_type, count(DISTINCT user_id) AS exact_distinct,
           TRUE AS est_within_bound
    FROM events GROUP BY event_type
    UNION ALL
    SELECT 'ALL', count(DISTINCT user_id), TRUE FROM events
    ORDER BY event_type
    """,
)
def stats_sketch_distinct_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL distinct-count sketches (Apache DataSketches, lgK=12) per
    event type PLUS the property that makes them the 100 TB plan:
    MERGEABILITY — the per-type sketches union (hll_union_agg) into a
    global estimate without rescanning, exactly how partial sketches
    combine across 1000 executors (and how a daily sketch table rolls up
    to any window: sublinear state, no distinct shuffle). In-plan
    contract per group and for the merged 'ALL' row: |estimate - exact|
    <= 2 + 5% (3 sigma at lgK=12 is ~4.9%, +2 absolute for tiny groups).
    The exact count_distinct column exists for the oracle contract and
    would be dropped at scale. Estimates are engine-specific, hence the
    contract-surface oracle (module docstring).

    Plan shape: ONE scan. ``rollup`` (GROUPING SETS ((event_type), ()))
    computes the per-type rows and the global-exact row in a single
    Expand+partial-aggregate pass — the naive three-subtree phrasing
    (per-group agg referenced twice + a global-exact agg) planned three
    full scans with zero exchange reuse. The merge demonstration then
    runs hll_union_agg as a window over the aggregated k-row result
    (nulls skip the global row's sketch), so the union costs k rows, not
    a rescan; the global row's contract compares that MERGED estimate
    against its own exact count. The single-partition window is bounded
    by the event-type cardinality — the same k-row shape the per-group
    output already has.

    Sentinel assumption (ADVICE r06, same implicit contract as
    olap_grouping_sets): the rollup-total row is labeled 'ALL', which
    would collide with a real event_type value 'ALL', and a NULL
    event_type group would surface as a NULL label alongside it — the
    fixture domain contains neither. Deployments with such values should
    project the ``grouping()`` flag into the output schema instead of a
    string sentinel; parity with the oracle holds either way since both
    engines see the same domain."""
    from pyspark.sql.window import Window

    e = _t(spark, sf_dir, "events").select("event_type", "user_id")
    ok = lambda est, exact: (  # noqa: E731
        F.abs(est.cast("double") - exact) <= 2.0 + 0.05 * exact
    )
    agg = e.rollup("event_type").agg(
        F.hll_sketch_agg("user_id", F.lit(12)).alias("sk"),
        F.count_distinct("user_id").alias("exact_distinct"),
        F.grouping("event_type").alias("g"),
    )
    merged_est = F.hll_sketch_estimate(
        F.hll_union_agg(F.when(F.col("g") == 0, F.col("sk"))).over(
            Window.partitionBy()
        )
    )
    return agg.select(
        F.when(F.col("g") == 1, F.lit("ALL"))
        .otherwise(F.col("event_type"))
        .alias("event_type"),
        "exact_distinct",
        ok(
            F.when(F.col("g") == 1, merged_est).otherwise(
                F.hll_sketch_estimate("sk")
            ),
            F.col("exact_distinct"),
        ).alias("est_within_bound"),
    ).orderBy("event_type")
