"""Deterministic sampling / splitting operators for training-data
pipelines (north-star; the reference has no sampling surface, SURVEY §2.B.8).

Training-data work needs *reproducible* samples: re-running the pipeline
(or re-reading the same row on another executor) must make the same
keep/drop decision, and adding documents must not reshuffle previous
assignments. Spark's ``df.sample`` is seeded per-partition — repartition
the input and the sample changes — so these operators derive every
decision from a content hash of a stable key instead:

- :func:`hash_bucket` — uniform bucket in [0, buckets) from md5(seed|key).
- :func:`hash_sample` — keep rows whose bucket < fraction·buckets.
  Scan-only: no shuffle, predicate runs inside the parquet scan's codegen
  stage, so sampling 1% of 100 TB reads 100 TB once and writes 1 TB with
  zero wide stages.
- :func:`train_val_test_split` — disjoint, exhaustive split column from
  the same bucket (test | val | train). Scan-only, stable under appends.
- :func:`stratified_sample` — exact per-stratum cap: rank rows inside
  each stratum by (hash, key) and keep the first n. One shuffle on the
  strata columns; the hash order makes the kept set a uniform random
  (but reproducible) subset of each stratum. This is the bounded
  "reservoir" for balancing a corpus across languages/sources.

All decisions are md5-based — engine-portable (DuckDB:
``('0x' || substr(md5(expr), 1, 8))::BIGINT``), so the oracle gate checks
bit-identical keep/drop decisions, not just counts.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, FloatType

from dbt_ci_demo_spark.session import checkpoint, pin_small

BUCKETS = 1_000_000
_HASH_SPACE = 1 << 32  # _key_hash range: first 8 md5 hex chars
# Stratum-count ceiling for the driver-held literal-CASE ntile design
# (ntile_histogram) — past it, :func:`ntile_exact` routes to the
# distributed broadcast-threshold twin (ntile_threshold).
DRIVER_STRATA_CEILING = 1024


def _key_hash(key: Column, seed: str) -> Column:
    """64-bit-safe integer hash of (seed, key): first 8 md5 hex chars."""
    payload = F.concat_ws("|", F.lit(seed), key.cast("string"))
    return F.conv(F.substring(F.md5(payload), 1, 8), 16, 10).cast("long")


def hash_bucket(key: Column, seed: str = "", buckets: int = BUCKETS) -> Column:
    """Deterministic uniform bucket in [0, buckets) for a stable key."""
    return _key_hash(key, seed) % buckets


def hash_sample(
    df: DataFrame, key_col: str, fraction: float, seed: str = "sample"
) -> DataFrame:
    """Reproducible ``fraction`` sample keyed on ``key_col``.

    Deterministic across runs, partitionings, and engines; stable under
    appends (new rows don't change old decisions). The filter is a pure
    column predicate — no shuffle, no RNG state."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0, 1], got {fraction}")
    cut = int(round(fraction * BUCKETS))
    return df.filter(hash_bucket(F.col(key_col), seed) < cut)


def train_val_test_split(
    df: DataFrame,
    key_col: str,
    test_fraction: float = 0.1,
    val_fraction: float = 0.0,
    seed: str = "split",
    split_col: str = "split",
) -> DataFrame:
    """Assign each row to 'test' / 'val' / 'train', disjoint and exhaustive,
    from the same hash bucket — the canonical leakage-safe split (a given
    document lands in the same split in every run and at every scale)."""
    if test_fraction < 0 or val_fraction < 0 or test_fraction + val_fraction > 1:
        raise ValueError("fractions must be >= 0 and sum to <= 1")
    b = hash_bucket(F.col(key_col), seed)
    test_cut = int(round(test_fraction * BUCKETS))
    val_cut = test_cut + int(round(val_fraction * BUCKETS))
    split = (
        F.when(b < test_cut, F.lit("test"))
        .when(b < val_cut, F.lit("val"))
        .otherwise(F.lit("train"))
    )
    return df.withColumn(split_col, split)


def source_mixture_sample(
    df: DataFrame,
    source_col: str,
    key_col: str,
    fractions: dict[str, float],
    default_fraction: float = 0.0,
    seed: str = "mix",
) -> DataFrame:
    """Per-source mixing-ratio sample: keep ``fractions[source]`` of each
    source's rows (training-data mixing — e.g. keep 100% of books, 30% of
    web, 5% of logs), deterministically and stably under appends.

    The per-source threshold joins into the predicate as a CASE over the
    (small) source domain, so the decision is still a pure scan-side
    column predicate — sampling a mixture from 100 TB is one scan with no
    shuffle, exactly like :func:`hash_sample`. Sources absent from
    ``fractions`` fall back to ``default_fraction`` (0 = drop, the usual
    curation posture for unvetted sources)."""
    for s, f in fractions.items():
        if not 0.0 <= f <= 1.0:
            raise ValueError(f"fraction for {s!r} must be in [0, 1], got {f}")
    if not 0.0 <= default_fraction <= 1.0:
        raise ValueError(f"default_fraction must be in [0, 1], got {default_fraction}")
    cut = F.lit(int(round(default_fraction * BUCKETS)))
    for s, f in sorted(fractions.items()):
        cut = F.when(F.col(source_col) == s, F.lit(int(round(f * BUCKETS)))).otherwise(cut)
    return df.filter(hash_bucket(F.col(key_col), seed) < cut)


def source_mixture_sample_by_cuts(
    df: DataFrame,
    source_col: str,
    key_col: str,
    cuts: DataFrame,
    seed: str = "mix",
) -> DataFrame:
    """Mixture sampling driven by a DATA-derived cut table instead of a
    literal fraction dict: ``cuts`` is a tiny (source, cut) DataFrame
    (cut ∈ [0, BUCKETS], typically computed from measured per-source
    quality stats — see ``pipe_mixture_from_quality``), broadcast-joined
    onto the corpus; rows keep when their hash bucket < their source's
    cut. Unlike :func:`source_mixture_sample` no value ever passes
    through the driver: stats → cuts → filter is one declarative plan,
    so the whole mixture derivation re-optimizes and scales with the
    cluster. Sources absent from ``cuts`` are dropped (inner join) —
    the unvetted-source posture."""
    tagged = df.join(F.broadcast(cuts.select(source_col, "cut")), on=source_col)
    return tagged.filter(hash_bucket(F.col(key_col), seed) < F.col("cut"))


def pack_token_windows(
    df: DataFrame,
    key_col: str,
    tokens_col: str,
    window_tokens: int = 1024,
    shards: int | None = None,
    seed: str = "pack",
) -> DataFrame:
    """Concat-and-chunk packing accounting (the GPT-pretraining data
    layout): documents are concatenated in a deterministic order and cut
    into fixed ``window_tokens`` training windows; this operator computes,
    per document, its token ``start_offset`` and the [first_window,
    last_window] span it lands in.

    Distributed shape: a global concatenation order would serialize the
    cumsum, so documents are hash-sharded (stable under partitioning;
    ``shards`` ≈ number of output packing streams) and the running token
    offset is one window cumsum per shard — shards pack independently,
    exactly how a 1000-executor job would emit 1000 packed streams.
    Zero-token documents are excluded (they occupy no window). All
    decisions are md5-hash + integer arithmetic: bit-identical in any
    engine, stable under appends within a shard's suffix.

    ``shards`` caps the job's parallelism (one cumsum stream per shard),
    so it must scale with the deployment, not be a constant: the default
    is the cluster's default parallelism — on a 1000-core cluster an
    unset ``shards`` yields 1000 independent packing streams. (Derived
    from ``defaultParallelism`` alone, NOT ``df.rdd.getNumPartitions()``:
    touching ``.rdd`` forces a full DataFrame→RDD conversion plan, a real
    cost at 100 TB, and scan-partition counts are an input-size artifact
    rather than a parallelism target.) Pin ``shards`` explicitly whenever
    the packed layout must be reproducible across differently-sized
    clusters (the registered oracle query does)."""
    if window_tokens < 1 or (shards is not None and shards < 1):
        raise ValueError("window_tokens and shards must be >= 1")
    if shards is None:
        shards = max(df.sparkSession.sparkContext.defaultParallelism, 1)
    key, toks = F.col(key_col), F.col(tokens_col).cast("long")
    shard = hash_bucket(key, seed, shards)
    staged = df.select(
        key.alias(key_col), toks.alias("n_tokens"), shard.alias("shard")
    )
    w = (
        Window.partitionBy("shard")
        .orderBy(key_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # The zero-token exclusion runs AFTER the cumsum window, not before
    # (r14, guide §4.4's duplicated-expression class): a pre-window
    # filter on the projected tokens column gets its expression
    # SUBSTITUTED by predicate pushdown, so a caller whose tokens_col is
    # derived (the registered query's regex token_count over full text)
    # pays the derivation twice per document. Above the window the
    # column is post-shuffle and non-substitutable, and the filter
    # cannot push through (it is not on the partition key). Results are
    # identical for every input: greatest(n, 0) makes excluded rows
    # (zero, negative, or null token counts) contribute exactly nothing
    # to the running offset — precisely what excluding them pre-window
    # did — and the post-window filter drops the same rows.
    start = F.coalesce(
        F.sum(F.greatest(F.col("n_tokens"), F.lit(0).cast("long"))).over(w), F.lit(0)
    ).cast("long")
    out = staged.withColumn("start_offset", start).filter(F.col("n_tokens") > 0)
    # Integral `div`, not double-divide-then-floor: a shard's running
    # token offset is a long, and double division floors WRONG past 2^53
    # (the range_bucket r10 defect class — ~36 PB of text per shard is
    # far off today, but exactness is claimed, so the arithmetic is
    # exact). Operands are non-negative, so div == floor division.
    return out.select(
        key_col,
        "shard",
        "n_tokens",
        "start_offset",
        F.expr(f"start_offset div {int(window_tokens)}")
        .cast("long")
        .alias("first_window"),
        F.expr(f"(start_offset + n_tokens - 1) div {int(window_tokens)}")
        .cast("long")
        .alias("last_window"),
    )


def stratified_sample(
    df: DataFrame,
    strata_cols: list[str],
    key_col: str,
    n_per_stratum: int,
    seed: str = "strat",
) -> DataFrame:
    """Exact cap of ``n_per_stratum`` rows per stratum, chosen uniformly
    (hash order) and reproducibly.

    One shuffle, on the strata columns. With few large strata (languages)
    a rank-window is the right plan because Spark pushes a partial
    WindowGroupLimit to the MAP side (verified in the executed plan):
    every input task keeps at most ``n_per_stratum`` rows per stratum
    before the exchange, so the reduce-side window partition is bounded
    by n·map_tasks, never by stratum size — a 90%-English corpus does
    not funnel 90 TB into one task. The (hash, key) order key is a
    total order, so the kept set is unique — no ties, no run-to-run
    drift.
    """
    if n_per_stratum < 1:
        raise ValueError("n_per_stratum must be >= 1")
    order = [_key_hash(F.col(key_col), seed).asc(), F.col(key_col).asc()]
    w = Window.partitionBy(*strata_cols).orderBy(*order)
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= n_per_stratum)
        .drop("__rk")
    )


def score_weighted_sample(
    df: DataFrame, key_col: str, score_col: str, seed: str = "qw"
) -> DataFrame:
    """Keep each row with probability equal to its [0, 1] score —
    deterministic quality-weighted downsampling (the curation pattern
    where high-quality documents are kept outright and low-quality ones
    survive at a rate proportional to their score, instead of a hard
    threshold cliff).

    Same contract as every sampler here: the decision is a pure
    scan-side predicate of (seed, key, score) — no shuffle, no RNG
    state, append-stable, identical on re-runs and across engines.
    Scores ≤ 0 never keep; ≥ 1 always keep."""
    cut = F.least(
        F.floor(F.col(score_col) * BUCKETS).cast("long"), F.lit(BUCKETS).cast("long")
    )
    return df.filter(hash_bucket(F.col(key_col), seed) < cut)


def stratified_sample_by_quota(
    df: DataFrame,
    strata_cols: list[str],
    key_col: str,
    quotas: DataFrame,
    seed: str = "strat",
    max_quota: int | None = None,
) -> DataFrame:
    """Exact per-stratum cap driven by a DATA-derived quota table instead
    of a constant: ``quotas`` is a tiny (strata..., quota) DataFrame —
    typically :func:`allocate_budget`'s output — broadcast-joined onto
    the ranked corpus; rows keep while their in-stratum (hash, key) rank
    is within their stratum's quota. The execution half of budgeted
    sampling: allocate_budget plans the quotas, this enforces them, and
    the two compose as ONE declarative plan with no value passing
    through the driver. Same one-shuffle rank-window plan as
    :func:`stratified_sample`; strata absent from ``quotas`` are dropped
    (inner join — the unbudgeted-stratum posture).

    ``max_quota`` is the SKEW GUARD (r07, VERDICT r06 #1) and callers
    that know a plan-time bound MUST pass it: Spark's
    ``InferWindowGroupLimit`` rule only fires on ``rank <= <literal>``,
    so the exact ``__rk <= col("quota")`` filter alone plans NO map-side
    group limit — each whole stratum funnels into one reduce task (a
    90%-English corpus sorts the entire surviving English stratum in one
    task). Any upper bound on every stratum's quota (for
    :func:`allocate_budget` output the total budget B works: every
    quota ≤ B by construction) is added as a redundant conjunct
    ``__rk <= lit(max_quota)`` adjacent to the window; the rule fires on
    the literal conjunct, bounding every window partition to
    max_quota·map_tasks rows, and the exact quota filter then prunes to
    the answer — results are unchanged. Verified in the executed plan by
    ``tests/test_plans.py`` (quota path mirrors the literal-cap path's
    ``WindowGroupLimit``)."""
    if max_quota is not None and max_quota < 1:
        raise ValueError("max_quota must be >= 1 when given")
    order = [_key_hash(F.col(key_col), seed).asc(), F.col(key_col).asc()]
    w = Window.partitionBy(*strata_cols).orderBy(*order)
    if max_quota is not None:
        # In-plan guard (ADVICE r07): the literal cap is only sound if it
        # bounds EVERY quota — a too-small bound would silently truncate
        # strata below their quota. assert_true on the tiny quota table
        # (returns NULL on success) makes a wrong bound fail loudly at
        # near-zero cost instead of under-sampling.
        guard = F.assert_true(
            F.col("quota") <= F.lit(max_quota),
            F.concat(
                F.lit("stratified_sample_by_quota: quota "),
                F.col("quota").cast("string"),
                F.lit(
                    f" exceeds max_quota={max_quota} — the skew-cap literal"
                    " must upper-bound every stratum quota"
                ),
            ),
        )
        quotas = quotas.withColumn(
            "quota", F.when(guard.isNull(), F.col("quota"))
        )
    ranked = df.join(F.broadcast(quotas), on=strata_cols).withColumn(
        "__rk", F.row_number().over(w)
    )
    if max_quota is not None:
        ranked = ranked.filter(F.col("__rk") <= F.lit(max_quota))
    return ranked.filter(F.col("__rk") <= F.col("quota")).drop("__rk")


def _score_stats(base: DataFrame, score_col: str, who: str) -> DataFrame:
    """Per-stratum ``(__sk, __n, __mn, __mx)`` of ``base``, which carries
    the ``__sk`` stratum key. NULL scores (engine-specific rank order) and
    NaN/Inf scores (they defeat equi-width binning) raise in-plan from
    this k-row table: ``assert_true`` returns NULL on success, so ``__n``
    stays the plain count."""
    s = F.col(score_col)
    bad = s.isNull()
    if isinstance(base.schema[score_col].dataType, (DoubleType, FloatType)):
        bad = bad | F.isnan(s) | (F.abs(s) == F.lit(float("inf")))
    guard = F.assert_true(
        F.col("__nbad") == 0,
        F.lit(
            f"{who}: {score_col} contains NULL/NaN/Inf — NULL rank order is "
            "engine-specific and non-finite values defeat equi-width "
            "binning; filter or impute first"
        ),
    )
    return (
        base.groupBy("__sk")
        .agg(
            F.count(F.lit(1)).alias("__cnt"),
            F.count(F.when(bad, F.lit(1))).alias("__nbad"),
            F.min(s).cast("double").alias("__mn"),
            F.max(s).cast("double").alias("__mx"),
        )
        .withColumn("__n", F.when(guard.isNull(), F.col("__cnt")))
        .select("__sk", "__n", "__mn", "__mx")
    )


def _score_bins(
    base: DataFrame, stats: DataFrame, score_col: str, n_bins: int, ascending: bool
) -> DataFrame:
    """``base`` joined to its :func:`_score_stats` plus ``__bin``: the
    score's equi-width bin in [0, n_bins) numbered in rank order
    (ascending scores, or descending). Any monotone bucketing is exact
    for the threshold selection, so the double cast is safe for decimal
    scores; a constant stratum is bin 0."""
    s = F.col(score_col).cast("double")
    pos = (s - F.col("__mn")) if ascending else (F.col("__mx") - s)
    width = (F.col("__mx") - F.col("__mn")) / F.lit(float(n_bins))
    bin_c = (
        F.when(F.col("__mx") == F.col("__mn"), F.lit(0))
        .otherwise(
            F.greatest(F.lit(0), F.least(F.lit(n_bins - 1), F.floor(pos / width)))
        )
        .cast("int")
    )
    return base.join(F.broadcast(stats), "__sk").withColumn("__bin", bin_c)


def _boundary_bins(binned: DataFrame, keys: list[str], targets: DataFrame) -> DataFrame:
    """Histogram threshold selection, the one exact-rank primitive behind
    :func:`stratified_sample_by_quota_threshold`, :func:`ntile_threshold`
    and ``queries_olap2.exact_percentiles``.

    ``binned`` holds rows with stratum ``keys`` and an integer ``__bin``
    whose order agrees with the rank order (bin ``b`` rows all rank
    before bin ``b+1`` rows). ``targets`` holds ``keys``, a target rank
    ``__b`` (1-based) and any tag columns. Returns one row per target
    row: its columns plus the BOUNDARY bin ``__bb`` (the first bin whose
    cumulative count reaches ``__b``), the rows ranked before that bin
    ``__bef`` and the rows in it ``__bc`` — so rank ``__b`` is the
    ``(__b − __bef)``-th row of bin ``__bb``. A target above its
    stratum's row count gets no row.

    Plan: a per-(stratum, bin) count (map-side combinable, at most
    strata·bins rows whatever the corpus size), a running sum over each
    stratum's bin table (window partitions bounded by the bin count, not
    the data), a broadcast join of the targets, and a ``min_by`` pick.
    Callers then decide rows below ``__bb`` with a scan-side comparison
    and rank only the boundary bin's ~stratum/bins rows."""
    hist = binned.groupBy(*keys, "__bin").agg(F.count(F.lit(1)).alias("__c"))
    wcum = (
        Window.partitionBy(*keys)
        .orderBy("__bin")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    bins = hist.withColumn("__before", F.coalesce(F.sum("__c").over(wcum), F.lit(0)))
    return (
        bins.join(F.broadcast(targets), keys)
        .filter(F.col("__before") + F.col("__c") >= F.col("__b"))
        .groupBy(*targets.columns)
        .agg(
            F.min("__bin").alias("__bb"),
            F.min_by("__before", "__bin").alias("__bef"),
            F.min_by("__c", "__bin").alias("__bc"),
        )
    )


def stratified_sample_by_quota_threshold(
    df: DataFrame,
    strata_cols: list[str],
    key_col: str,
    quotas: DataFrame,
    seed: str = "strat",
    n_hist_buckets: int = 1024,
    n_levels: int = 1,
) -> DataFrame:
    """Window-free quota enforcement for budgets too large for a useful
    ``max_quota`` literal: selects exactly the same rows as
    :func:`stratified_sample_by_quota` (the quota smallest (hash, key)
    pairs per stratum) WITHOUT ranking whole strata.

    Each row's md5 hash is binned into ``n_hist_buckets`` equi-width
    bins and :func:`_boundary_bins` finds each stratum's boundary bin
    for its quota. Rows in bins below it keep outright (a scan-side
    predicate, no shuffle); a stratum whose quota exceeds its rows gets
    no boundary and keeps every row; only boundary-bin rows
    (~stratum/n_hist_buckets) are ranked, keeping the quota's
    ``__remaining`` rows.

    ``n_levels`` recurses: each extra level re-bins only the
    boundary-bin slice on the hash remainder inside that bin, with
    ``__remaining`` as its quota, so two levels bound the final rank
    window by ~stratum/n_hist_buckets². Each level re-scans the corpus
    to isolate its slice, so an input that is expensive to re-derive
    belongs in :func:`~dbt_ci_demo_spark.session.pinned` at scale;
    level 1 is the right default until single-bin slices outgrow a
    reduce task (~10⁹-row strata).

    Decision-identical to the rank formulation: bucket = hash div width,
    so (bucket, hash, key) sorts like (hash, key), and the level-ℓ hash
    is the exact integral remainder inside the level ℓ−1 bin.
    Oracle-checked (``samp_quota_threshold``, level 1;
    ``samp_quota_threshold2``, level 2) and property-tested against the
    window sampler at both depths."""
    if n_hist_buckets < 2:
        raise ValueError("n_hist_buckets must be >= 2")
    if n_levels < 1:
        raise ValueError("n_levels must be >= 1")
    h = _key_hash(F.col(key_col), seed)
    # pin the k-row quota table: it is referenced by the corpus join AND
    # by the level-1 targets — un-pinned, each reference re-derives its
    # (often corpus-sized) lineage
    quotas = pin_small(quotas)
    # __lh = the level-local hash: the full hash at level 1, then the
    # remainder within the chosen boundary bin at each deeper level
    work = (
        df.join(F.broadcast(quotas), on=strata_cols)
        .withColumn("__h", h)
        .withColumn("__lh", F.col("__h"))
    )
    targets = quotas.select(*strata_cols, F.col("quota").alias("__b"))
    space = _HASH_SPACE
    kept: list[DataFrame] = []
    drop_cols = ["__h", "__lh", "__bin", "__bb", "__remaining"]
    for level in range(n_levels):
        # integral `div`, not double-divide-then-cast: same exactness
        # discipline as compact_layout's file count (ADVICE r06)
        width = (space + n_hist_buckets - 1) // n_hist_buckets
        w_df = work.withColumn("__bin", F.expr(f"__lh div {width}"))
        # boundary is k rows but its lineage holds a corpus aggregate —
        # pin it, or the below/slice branches (and every deeper level)
        # re-expand that aggregate per reference
        boundary = pin_small(
            _boundary_bins(w_df, strata_cols, targets).select(
                *strata_cols,
                "__bb",
                (F.col("__b") - F.col("__bef")).alias("__remaining"),
            )
        )
        joined = w_df.join(F.broadcast(boundary), on=strata_cols, how="left")
        kept.append(
            joined.filter(
                F.col("__bb").isNull() | (F.col("__bin") < F.col("__bb"))
            ).drop(*drop_cols)
        )
        slice_df = joined.filter(F.col("__bin") == F.col("__bb"))
        if level < n_levels - 1:
            work = slice_df.withColumn(
                "__lh", F.col("__lh") - F.col("__bb") * F.lit(width)
            ).drop("__bin", "__bb", "__remaining")
            targets = boundary.select(
                *strata_cols, F.col("__remaining").alias("__b")
            )
            space = width
        else:
            wb = Window.partitionBy(*strata_cols).orderBy(
                F.col("__h").asc(), F.col(key_col).asc()
            )
            kept.append(
                slice_df.withColumn("__rk", F.row_number().over(wb))
                .filter(F.col("__rk") <= F.col("__remaining"))
                .drop("__rk", *drop_cols)
            )
    out = kept[0]
    for part in kept[1:]:
        out = out.unionByName(part)
    return out


def allocate_budget(
    df: DataFrame, stratum_col: str, budget: int
) -> DataFrame:
    """Largest-remainder apportionment of a global row budget across
    strata (the 'sample exactly B documents, proportionally by
    language/source' planning step ahead of :func:`stratified_sample`):
    quota_s = floor(B·n_s/N), then the leftover seats go to the largest
    remainders (B·n_s mod N, stratum as tie-break). Everything is
    integer arithmetic — quotas sum to exactly ``budget`` (when
    budget ≤ N) and are bit-identical in any engine, unlike
    float-rounded shares which can over- or under-shoot.

    Plan: one corpus aggregate to per-stratum counts, then window math
    over the k-row stratum table — nothing else touches the corpus.
    Returns (stratum, n_rows, quota)."""
    if budget < 0:
        raise ValueError("budget must be >= 0")
    counts = df.groupBy(F.col(stratum_col).alias("stratum")).agg(
        F.count(F.lit(1)).alias("n_rows")
    )
    # two 1-row broadcasts: N, then base-quota sum (leftover seats)
    n_total = counts.agg(F.sum("n_rows").alias("N"))
    # budget·n_rows in decimal(38,0), not long: a 10^9 budget over a
    # 10^12-row stratum is 10^21 ≫ 2^63, and non-ANSI long multiplication
    # wraps SILENTLY — flipping quotas at exactly the 100 TB scale this
    # plans for (same discipline as the volume-anomaly decision).
    # decimal div/mod stay exact; base ≤ budget fits back in a long.
    with_base = counts.crossJoin(F.broadcast(n_total)).select(
        "stratum",
        "n_rows",
        F.expr(
            f"CAST(CAST({budget} AS DECIMAL(38,0)) * n_rows div N AS BIGINT)"
        ).alias("base"),
        F.expr(f"(CAST({budget} AS DECIMAL(38,0)) * n_rows) % N").alias("rem"),
    )
    leftover = with_base.agg(
        (F.lit(budget) - F.sum("base")).cast("long").alias("leftover")
    )
    w = Window.orderBy(F.col("rem").desc(), F.col("stratum"))
    return (
        with_base.crossJoin(F.broadcast(leftover))
        .withColumn("__rk", F.row_number().over(w))
        .select(
            "stratum",
            "n_rows",
            (F.col("base") + (F.col("__rk") <= F.col("leftover")).cast("long")).alias(
                "quota"
            ),
        )
    )


def ntile_histogram(
    df: DataFrame,
    n_tiles: int,
    score_col: str,
    id_col: str,
    strata_cols: list[str] | None = None,
    n_bins: int = 1024,
    ascending: bool = True,
    tile_col: str = "__tile",
    heavy_bin_rows: int = 1 << 21,
) -> DataFrame:
    """Exact ``ntile(n_tiles) OVER (PARTITION BY strata ORDER BY score
    [ASC|DESC], id)`` WITHOUT a stratum-sized (or, unpartitioned, a
    table-sized single-task) window — the r07 second-pass window-skew
    audit's replacement for ntile over raw facts. Returns ``df`` plus an
    integer ``tile_col`` in [1, n_tiles], decision-identical to ntile
    (property-tested across tie regimes, tiny/degenerate strata, bin
    counts, and both orderings).

    Design — driver-held thresholds (the Lloyd literal-centroid
    precedent): stratum cardinality is bounded by construction for every
    caller (language codes; or ONE global stratum), so the per-stratum
    model state lives on the driver and the corpus pass carries zero
    joins and zero broadcast builds:

    1. k-row (n, min, max) stats COLLECTED (bounded read); SQL-standard
       tile boundary RANKS ``b_i = i·q + min(i, n mod n_tiles)`` (tile
       sizes q+1 for the first n mod n_tiles tiles, q after) in Python
       integers.
    2. per-(stratum, score-bin) histogram over ``n_bins`` equi-width
       bins COLLECTED (≤ k·n_bins rows; bins numbered in rank order —
       ascending scores or descending per ``ascending``); cumulative
       counts locate each boundary bin ``bb_i`` and its offset
       ``bef_i`` in Python.
    3. ONE pass over ``df``: the bin expression and the per-stratum
       boundary struct are literal CASE chains (k branches), so rows
       outside boundary bins take their tile from a scan-side bin
       comparison with NO shuffle; only boundary-bin rows
       (~stratum/n_bins) are ranked in a (stratum, bin)-partitioned —
       bounded — window, the in-bin (score, id) rank plus the bin's
       cumulative offset reproducing the global row_number exactly,
       ties included (equal scores always share a bin, so the id
       tie-break happens entirely inside the bounded window).

    Degenerate-distribution remedy (r08, VERDICT r07 #3): a stratum whose
    scores are ALL identical collapses to one bin — and more generally a
    boundary bin can hold an outsized score mode (a constant-score
    language after an upstream scoring bug) — silently re-creating the
    single-task sort this operator exists to remove. Any boundary bin the
    collected histogram shows holding ≥ ``heavy_bin_rows`` rows is
    therefore routed around the window entirely, through an EXACT
    distributed rank: range-repartition the heavy rows on the full
    ordering key (group, score, id) — unique ids split even an all-tied
    score run across tasks — then in-partition consecutive ids
    (``monotonically_increasing_id`` after ``sortWithinPartitions``) plus
    a driver-computed per-(partition, group) offset table, broadcast back,
    reproduce the global row_number bit-for-bit (property-tested against
    ntile). The heavy branch checkpoints its (boundary-bin-only) input
    so the offset collect and the final pass see the same partitioning
    even for non-deterministic upstream lineage.
    Healthy distributions never trigger it and keep the exact prior plan.

    Robustness contract (ADVICE r07): the scan-time bin CASE raises
    (``raise_error``) on a stratum absent from the collected stats, and
    the two collects cross-check their key sets — a non-deterministic
    input (changing sample/source between jobs) fails LOUDLY instead of
    silently dropping rows from both union branches. Driver memory: the
    histogram collect is ≤ strata·n_bins rows (≤ ~1M tuples at the
    1024×1024 ceilings — tens of MB; lower ``n_bins`` if the driver is
    smaller).

    ``df`` is read four times (the two threshold collects, then the
    plain and edge branches), so a caller whose input is expensive to
    re-derive wraps the call and its consumption in
    :func:`~dbt_ci_demo_spark.session.pinned` (SCALE.md "Materialization
    policy")."""
    if n_tiles < 1:
        raise ValueError("n_tiles must be >= 1")
    if n_bins < 2:
        raise ValueError("n_bins must be >= 2")
    strata = list(strata_cols) if strata_cols else []
    s = F.col(score_col)

    grouped = df.groupBy(*strata) if strata else df.groupBy()
    # min/max coerced to Python float: the bin width math must divide by
    # a float bin count (Decimal/float raises in Python), and the SAME
    # literal feeds both the histogram job and the final pass, so any
    # monotone precision loss is consistent — equal scores still share a
    # bin, which is all correctness needs.
    stat_rows = grouped.agg(
        F.count(F.lit(1)).alias("__n"),
        F.count(F.when(F.col(score_col).isNull(), F.lit(1))).alias("__nnull"),
        F.min(score_col).alias("__mn"),
        F.max(score_col).alias("__mx"),
    ).collect()
    # NULL scores would sort NULLS-FIRST in Spark's ntile but NULLS-LAST
    # in other engines, and they have no bin — fail loudly rather than
    # pick an engine-specific order silently (same discipline as the
    # sketch NULL filter, ADVICE r06).
    bad = [r for r in stat_rows if r["__nnull"] > 0]
    if bad:
        raise ValueError(
            f"ntile_histogram: {score_col} contains NULLs in "
            f"{len(bad)} strata — NULL rank order is engine-specific; "
            "filter or impute before tiling"
        )
    stats = {
        tuple(r[c] for c in strata): (
            r["__n"],
            None if r["__mn"] is None else float(r["__mn"]),
            None if r["__mx"] is None else float(r["__mx"]),
        )
        for r in stat_rows
        if r["__n"] > 0
    }
    # NaN guard (same reasoning as NULL, silent instead of loud): one NaN
    # makes max() NaN, which makes the bin width NaN and every row's bin
    # clamp to n_bins-1 — collapsing the whole stratum into ONE window
    # task, exactly the skew this operator exists to remove. float('nan')
    # != itself, so any-NaN always surfaces in the collected mx (or mn
    # when all values are NaN).
    def _nonfinite(x):
        return x is not None and (x != x or x in (float("inf"), float("-inf")))

    bad_keys = [
        k for k, (_, mn, mx) in stats.items() if _nonfinite(mn) or _nonfinite(mx)
    ]
    if bad_keys:
        raise ValueError(
            f"ntile_histogram: {score_col} contains NaN/Inf in "
            f"{len(bad_keys)} strata — non-finite scores defeat equi-width "
            "binning (NaN/Inf widths mis-bin the stratum); filter or "
            "impute first"
        )
    # The literal CASE chains are linear in stratum count — the same
    # planner-side ceiling as the Lloyd literal-centroid path (routed at
    # k=100 there). Fail loudly instead of letting Catalyst analysis
    # blow up on a high-cardinality strata column; a distributed
    # formulation (the exact_percentiles shape, broadcast thresholds
    # instead of literals) is the right tool past this point.
    if len(stats) > DRIVER_STRATA_CEILING:
        raise ValueError(
            f"ntile_histogram: {len(stats)} strata — the driver-held "
            "literal-CASE design is for bounded stratum counts "
            f"(≤{DRIVER_STRATA_CEILING}); use ntile_exact (the "
            "cardinality-routing dispatcher) or ntile_threshold (the "
            "distributed broadcast-threshold twin) for high-cardinality "
            "strata"
        )
    if not stats:
        return df.withColumn(tile_col, F.lit(None).cast("int"))

    def _match(key):
        cond = None
        for c, v in zip(strata, key):
            eq = F.col(c).eqNullSafe(F.lit(v))
            cond = eq if cond is None else cond & eq
        return cond

    def _chain(items, otherwise=None):
        # items: [(key, Column)]; a single global stratum needs no CASE
        if len(items) == 1 and items[0][0] == ():
            return items[0][1]
        e = None
        for key, col in items:
            e = F.when(_match(key), col) if e is None else e.when(_match(key), col)
        return e if otherwise is None else e.otherwise(otherwise)

    def _bin_for(key):
        _, mn, mx = stats[key]
        if mx == mn:
            return F.lit(0)
        width = (mx - mn) / float(n_bins)
        pos = (s - F.lit(mn)) if ascending else (F.lit(mx) - s)
        return (
            F.greatest(
                F.lit(0),
                F.least(F.lit(n_bins - 1), F.floor(pos / F.lit(width))),
            )
        ).cast("int")

    if n_tiles == 1:
        # every row is tile 1 — skip the histogram job entirely
        return df.withColumn(tile_col, F.lit(1).cast("int"))

    # Scan-time loud guard (ADVICE r07): a row whose stratum was absent
    # from the collected stats means the input changed between jobs — it
    # would otherwise get a NULL bin/meta and vanish from BOTH union
    # branches. raise_error costs one never-taken CASE branch per row.
    bin_expr = _chain(
        [(key, _bin_for(key)) for key in stats],
        otherwise=F.raise_error(
            F.lit(
                "ntile_histogram: row stratum not in the collected stats — "
                "the input is non-deterministic across jobs; persist its "
                "lineage before tiling"
            )
        ).cast("int"),
    )

    hist = (
        df.select(*strata, bin_expr.alias("__bin"))
        .groupBy(*strata, "__bin")
        .agg(F.count(F.lit(1)).alias("__c"))
        .collect()
    )
    per_stratum: dict[tuple, list[tuple[int, int]]] = {}
    for r in hist:
        per_stratum.setdefault(tuple(r[c] for c in strata), []).append(
            (r["__bin"], r["__c"])
        )
    # Cross-check the two collects' key sets: drift here is the same
    # non-deterministic-input failure, caught driver-side for free.
    if set(per_stratum) != set(stats):
        drift = set(per_stratum) ^ set(stats)
        raise ValueError(
            "ntile_histogram: stratum key sets differ between the stats "
            f"and histogram collects ({len(drift)} drifted) — the input "
            "is non-deterministic across jobs; persist it before tiling"
        )
    bounds: dict[tuple, list[tuple[int, int, int]]] = {}
    for key, bin_counts in per_stratum.items():
        n = stats[key][0]
        q, rem = divmod(n, n_tiles)
        targets = [i * q + min(i, rem) for i in range(1, n_tiles)]
        cum = 0
        found: list[tuple[int, int, int] | None] = [None] * len(targets)
        for bn, c in sorted(bin_counts):
            for i, b in enumerate(targets):
                if found[i] is None and cum + c >= b:
                    found[i] = (bn, cum, b)
            cum += c
        # b_i can exceed later bins only if b_i > n (impossible); every
        # target <= n is reached because the cumulative total is n
        bounds[key] = [f for f in found if f is not None]

    n_b = n_tiles - 1

    def _meta_for(key):
        vals = bounds[key]
        fields = []
        for i in range(n_b):
            bb, bef, b = vals[i] if i < len(vals) else (-1, 0, 0)
            fields += [
                F.lit(bb).alias(f"bb{i}"),
                F.lit(bef).alias(f"bef{i}"),
                F.lit(b).alias(f"b{i}"),
            ]
        return F.struct(*fields)

    meta_expr = _chain([(key, _meta_for(key)) for key in bounds])
    tagged = df.withColumn("__bin", bin_expr).withColumn("__m", meta_expr)

    def m(name):
        return F.col(f"__m.{name}")

    is_boundary = None
    for i in range(n_b):
        eq = F.col("__bin") == m(f"bb{i}")
        is_boundary = eq if is_boundary is None else is_boundary | eq

    def _tile_case(value_for):
        e = None
        for i in range(n_b):
            e = (
                F.when(value_for(i), F.lit(i + 1))
                if e is None
                else e.when(value_for(i), F.lit(i + 1))
            )
        return e.otherwise(F.lit(n_tiles))

    plain = tagged.filter(~is_boundary).select(
        *df.columns,
        _tile_case(lambda i: F.col("__bin") < m(f"bb{i}"))
        .cast("int")
        .alias(tile_col),
    )

    # Heavy boundary bins (VERDICT r07 #3): the histogram counts are
    # exact, so the routing decision is driver-side. A boundary bin at or
    # above ``heavy_bin_rows`` (an all-tied stratum collapses to one bin;
    # a score mode can dominate any bin) would make the bounded window
    # below a single data-sized task — those (stratum, bin) groups go
    # through the exact distributed rank instead.
    cnt = {(key, bn): c for key, bcs in per_stratum.items() for bn, c in bcs}
    heavy_groups: list[tuple[tuple, int]] = sorted(
        {
            (key, bb)
            for key, vals in bounds.items()
            for (bb, _bef, _b) in vals
            if cnt.get((key, bb), 0) >= heavy_bin_rows
        },
        key=repr,
    )

    def _heavy_cond(key, bb):
        c = F.col("__bin") == F.lit(bb)
        mk = _match(key)
        return c if mk is None else mk & c

    is_heavy = None
    for key, bb in heavy_groups:
        c = _heavy_cond(key, bb)
        is_heavy = c if is_heavy is None else is_heavy | c

    order = s.asc() if ascending else s.desc()
    wb = Window.partitionBy(*strata, "__bin").orderBy(order, F.col(id_col).asc())
    bef = None
    for i in range(n_b):
        bef = (
            F.when(F.col("__bin") == m(f"bb{i}"), m(f"bef{i}"))
            if bef is None
            else bef.when(F.col("__bin") == m(f"bb{i}"), m(f"bef{i}"))
        )
    g = bef + F.col("__rk")
    edge_filter = is_boundary if is_heavy is None else (is_boundary & ~is_heavy)
    edge = (
        tagged.filter(edge_filter)
        .withColumn("__rk", F.row_number().over(wb))
        .select(
            *df.columns,
            _tile_case(lambda i, _g=g: _g <= m(f"b{i}")).cast("int").alias(tile_col),
        )
    )
    result = plain.unionByName(edge)
    if heavy_groups:
        # Exact distributed rank over the heavy groups, preserving the
        # (score, id) tie-break bit-for-bit: range-repartition on the
        # full ordering key (gid, score, id) — unique ids split even an
        # all-tied score run across tasks — then consecutive in-partition
        # ids + a driver-computed per-(partition, group) offset table
        # reproduce the global row_number. The checkpoint fixes one
        # partitioning for both the offset collect and the final pass
        # (and truncates any non-deterministic upstream lineage).
        gid_expr = None
        for gid, (key, bb) in enumerate(heavy_groups):
            c = _heavy_cond(key, bb)
            gid_expr = (
                F.when(c, F.lit(gid)) if gid_expr is None else gid_expr.when(c, F.lit(gid))
            )
        spark = df.sparkSession
        n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
        hv = tagged.filter(is_boundary & is_heavy).withColumn(
            "__gid", gid_expr.cast("int")
        )
        okey = [F.col("__gid").asc(), order, F.col(id_col).asc()]
        ranked0 = checkpoint(
            hv.repartitionByRange(n_part, *okey)
            .sortWithinPartitions(*okey)
            # __pid is captured explicitly (ADVICE r08): decoding it from
            # monotonically_increasing_id's internal bit layout would
            # couple correctness to that layout. __mid is still relied on
            # only for its documented per-partition-consecutive counter.
            .withColumn("__pid", F.spark_partition_id())
            .withColumn("__mid", F.monotonically_increasing_id())
        )
        pstats = (
            ranked0.groupBy("__pid", "__gid")
            .agg(F.count(F.lit(1)).alias("__c"), F.min("__mid").alias("__mn"))
            .collect()
        )
        by_gid: dict[int, list[tuple[int, int, int]]] = {}
        for r in pstats:
            by_gid.setdefault(r["__gid"], []).append((r["__pid"], r["__c"], r["__mn"]))
        lk_rows = []
        for gid, parts in by_gid.items():
            group_before = 0
            for pid, c, mn in sorted(parts):
                # in-group rank of a row = group_before + (mid − mn) + 1;
                # mids are consecutive per (partition, group) because the
                # sort made each group contiguous within its partition
                lk_rows.append((pid, gid, group_before - mn + 1))
                group_before += c
        lk = spark.createDataFrame(lk_rows, "__pid int, __gid int, __base bigint")
        heavy_edge = (
            ranked0.join(F.broadcast(lk), ["__pid", "__gid"])
            .withColumn("__rk", F.col("__mid") + F.col("__base"))
            .select(
                *df.columns,
                _tile_case(lambda i, _g=g: _g <= m(f"b{i}"))
                .cast("int")
                .alias(tile_col),
            )
        )
        result = result.unionByName(heavy_edge)
    return result


def ntile_threshold(
    df: DataFrame,
    n_tiles: int,
    score_col: str,
    id_col: str,
    strata_cols: list[str] | None = None,
    n_bins: int = 1024,
    ascending: bool = True,
    tile_col: str = "__tile",
    heavy_bin_rows: int = 1 << 21,
) -> DataFrame:
    """Exact ntile WITHOUT stratum-sized windows for UNBOUNDED strata
    cardinality — the distributed broadcast-threshold twin of
    :func:`ntile_histogram` (which holds per-stratum thresholds on the
    driver as literal CASE chains and is therefore capped at 1024
    strata; its ceiling guard names this operator as the tool past that
    point). Same contract: ``df`` plus an integer ``tile_col`` in
    [1, n_tiles], decision-identical to
    ``ntile(n_tiles) OVER (PARTITION BY strata ORDER BY score, id)``
    (property-tested across tie regimes, >1024-cardinality strata, tiny
    strata, and both orderings). Zero driver collects: strata keys join
    null-safely via one struct column (NULL = NULL, like GROUP BY).

    The SQL-standard tile boundary ranks ``b_i = i·(n div t) + min(i,
    n mod t)`` are derived in-plan from the stratum count, and
    :func:`_boundary_bins` locates each one's bin. The boundaries
    broadcast back as one array per stratum: rows outside boundary bins
    take ``tile = 1 + |{i: bb_i < bin}|`` scan-side, and only
    boundary-bin rows are ranked in a (stratum, bin)-partitioned window,
    where ``tile = 1 + |{i: b_i < g}|`` with ``g = bef + in-bin
    row_number`` reproduces ntile exactly, ties included (equal scores
    share a bin).

    Degenerate-distribution posture: a boundary bin holding ≥
    ``heavy_bin_rows`` rows (an all-tied stratum collapses to one bin)
    raises LOUDLY in-plan from the boundary table — this operator's
    declarative no-collect design cannot driver-route such bins; use
    :func:`ntile_histogram` (whose collected histogram routes heavy bins
    through an exact distributed rank) when a score mode can dominate.
    The two operators are each other's fallback, and the guards on both
    sides name the other."""
    if n_tiles < 1:
        raise ValueError("n_tiles must be >= 1")
    if n_bins < 2:
        raise ValueError("n_bins must be >= 2")
    if n_tiles == 1:
        return df.withColumn(tile_col, F.lit(1).cast("int"))
    strata = list(strata_cols) if strata_cols else []
    base = df.withColumn("__sk", F.struct(*strata) if strata else F.lit(0))
    # pinned: stats feeds the binned corpus join, the tile-target
    # derivation, AND — through bounds — both union branches; un-pinned
    # each reference re-runs the corpus aggregate
    stats = pin_small(_score_stats(base, score_col, "ntile_threshold"))
    binned = _score_bins(base, stats, score_col, n_bins, ascending)
    tgt = (
        stats.select(
            "__sk",
            "__n",
            F.explode(F.sequence(F.lit(1), F.lit(n_tiles - 1))).alias("__i"),
        )
        .withColumn(
            "__b",
            F.col("__i") * F.expr(f"__n div {n_tiles}")
            + F.least(F.col("__i"), F.col("__n") % n_tiles),
        )
        .select("__sk", "__i", "__b")
    )
    # heavy-bin guard: the declarative design has no driver histogram to
    # route around an outsized boundary bin — raise in-plan from this
    # k·(n_tiles−1)-row table instead of silently single-tasking it
    hguard = F.assert_true(
        F.col("__bc") < F.lit(heavy_bin_rows),
        F.lit(
            f"ntile_threshold: a boundary bin holds >= {heavy_bin_rows} "
            "rows (all-tied or heavily-moded scores) — this would rank a "
            "data-sized window partition; use ntile_histogram, whose "
            "collected histogram routes heavy bins through an exact "
            "distributed rank"
        ),
    )
    bsel = _boundary_bins(binned, ["__sk"], tgt).withColumn(
        "__bb", F.when(hguard.isNull(), F.col("__bb"))
    )
    # pinned: bounds is read by both union branches, and its lineage
    # holds the corpus histogram — one computation, two readers
    bounds = pin_small(
        bsel.groupBy("__sk").agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("__i").alias("i"),
                        F.col("__bb").alias("bb"),
                        F.col("__bef").alias("bef"),
                        F.col("__b").alias("b"),
                    )
                )
            ).alias("__bnds")
        )
    )

    t = binned.join(F.broadcast(bounds), "__sk")
    isb = F.exists("__bnds", lambda x: x["bb"] == F.col("__bin"))
    plain = t.filter(~isb).select(
        *df.columns,
        (
            F.lit(1) + F.size(F.filter("__bnds", lambda x: x["bb"] < F.col("__bin")))
        )
        .cast("int")
        .alias(tile_col),
    )
    s = F.col(score_col)
    order = s.asc() if ascending else s.desc()
    wb = Window.partitionBy("__sk", "__bin").orderBy(order, F.col(id_col).asc())
    bef = F.filter("__bnds", lambda x: x["bb"] == F.col("__bin"))[0]["bef"]
    edge = (
        t.filter(isb)
        .withColumn("__rk", F.row_number().over(wb))
        .withColumn("__g", bef + F.col("__rk"))
        .select(
            *df.columns,
            (F.lit(1) + F.size(F.filter("__bnds", lambda x: x["b"] < F.col("__g"))))
            .cast("int")
            .alias(tile_col),
        )
    )
    return plain.unionByName(edge)


def _ntile_route(n_strata: int, ceiling: int = DRIVER_STRATA_CEILING) -> str:
    """Pure routing decision for :func:`ntile_exact`: stratum counts the
    driver can hold as literal CASE chains go to ``'histogram'``
    (:func:`ntile_histogram`); anything past the ceiling goes to
    ``'threshold'`` (:func:`ntile_threshold`, fully distributed)."""
    if n_strata < 0:
        raise ValueError(f"n_strata must be >= 0, got {n_strata}")
    return "histogram" if n_strata <= ceiling else "threshold"


def ntile_exact(
    df: DataFrame,
    n_tiles: int,
    score_col: str,
    id_col: str,
    strata_cols: list[str] | None = None,
    n_bins: int = 1024,
    ascending: bool = True,
    tile_col: str = "__tile",
    heavy_bin_rows: int = 1 << 21,
    max_driver_strata: int = DRIVER_STRATA_CEILING,
) -> DataFrame:
    """Cardinality-routed exact ntile (VERDICT r09 #5): ONE cheap
    distinct-count aggregate over the strata columns picks the right
    formulation, so callers can't hit :func:`ntile_histogram`'s
    documented literal-CASE ceiling by passing a high-cardinality strata
    column.

    - strata count ≤ ``max_driver_strata`` (default
      :data:`DRIVER_STRATA_CEILING`) → :func:`ntile_histogram`:
      driver-held literal thresholds, zero joins in the corpus pass, and
      the collected histogram routes degenerate heavy bins through an
      exact distributed rank.
    - past the ceiling → :func:`ntile_threshold`: broadcast-threshold
      thresholds, zero driver collects; note its declarative design
      RAISES on a heavy boundary bin (≥ ``heavy_bin_rows``) instead of
      routing around it — both guards name the sibling, as before.

    Same contract as both twins: ``df`` plus an integer ``tile_col`` in
    [1, n_tiles], decision-identical to ``ntile(n_tiles) OVER (PARTITION
    BY strata ORDER BY score [ASC|DESC], id)`` — the routing changes the
    PLAN only, never the rows (the twins are equality-property-tested
    against each other and against the window formulation).

    Cost: the routing count is one column-pruned distinct aggregate, and
    either twin reads the input several times — pin an expensive input
    as on :func:`ntile_histogram`. Global mode (``strata_cols=None``/
    empty) skips the count — one stratum, always the histogram path.
    ``max_driver_strata`` may only LOWER the routing point (a tighter
    driver-memory bound): raising it past :data:`DRIVER_STRATA_CEILING`
    would route strata counts the histogram twin's own hard guard
    rejects, paying the count + stats cost before the inevitable
    ValueError — so the dispatcher fails fast instead."""
    if max_driver_strata > DRIVER_STRATA_CEILING:
        raise ValueError(
            f"ntile_exact: max_driver_strata={max_driver_strata} exceeds "
            f"the histogram twin's hard driver ceiling "
            f"({DRIVER_STRATA_CEILING}); the parameter can only lower "
            "the routing point — strata counts past the ceiling always "
            "take the distributed ntile_threshold path"
        )
    strata = list(strata_cols) if strata_cols else []
    n_strata = df.select(*strata).distinct().count() if strata else 1
    route = _ntile_route(n_strata, max_driver_strata)
    if route == "histogram":
        return ntile_histogram(
            df,
            n_tiles,
            score_col,
            id_col,
            strata,
            n_bins=n_bins,
            ascending=ascending,
            tile_col=tile_col,
            heavy_bin_rows=heavy_bin_rows,
        )
    return ntile_threshold(
        df,
        n_tiles,
        score_col,
        id_col,
        strata,
        n_bins=n_bins,
        ascending=ascending,
        tile_col=tile_col,
        heavy_bin_rows=heavy_bin_rows,
    )
