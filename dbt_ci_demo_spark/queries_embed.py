"""Embedding-column operators beyond ANN search: per-label centroid
aggregation, L2 normalization (verified by digest), and label-affinity
(cosine between label centroids) — the vector building blocks of a
training-data curation pipeline (cluster summaries, normalized inputs,
inter-class contamination checks).

Engine-portability rule for vector aggregates: double sums are
partition-order-dependent and DuckDB's double→decimal cast is not
correctly rounded in the last digit (observed 1-in-256k divergence at
DECIMAL(30,12)), so cross-engine-exact vector math here uses explicit
fixed-point: ``CAST(round(v * 1e6) AS BIGINT)``. round() ties away from
zero in both engines, integer sums are exact and order-independent, and
cosine is scale-invariant so the fixed-point factor cancels entirely.
This is also the fast path at 100 TB: plain codegen'd integer aggregation,
no sorted collect, no UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dbt_ci_demo_spark.queries import _t, query
from dbt_ci_demo_spark.session import checkpoint

_FX = 1_000_000.0  # fixed-point scale: 6 decimal places


def _exploded_fixed(emb: DataFrame) -> DataFrame:
    """(label, dim, fx): one row per vector element, value as exact
    fixed-point BIGINT. posexplode is a 64× fan-out but stays inside
    whole-stage codegen; the follow-up (label, dim) aggregate partial-
    aggregates map-side, so the shuffle carries only |labels|×|dims| rows
    regardless of corpus size."""
    return emb.select(
        "label", F.posexplode(F.col("embedding").cast("array<double>")).alias("dim", "v")
    ).select(
        "label",
        F.col("dim").cast("bigint").alias("dim"),
        F.round(F.col("v") * F.lit(_FX)).cast("long").alias("fx"),
    )


_EMB_FIXED_SQL = """
      SELECT label,
             generate_subscripts(embedding, 1) - 1 AS dim,
             CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000.0) AS BIGINT) AS fx
      FROM embeddings
"""


@query(
    "emb_label_centroids",
    oracle=f"""
    WITH f AS (
      {_EMB_FIXED_SQL}
    ),
    c AS (
      SELECT label, dim, CAST(SUM(fx) AS BIGINT) AS s, count(*) AS n
      FROM f GROUP BY label, dim
    )
    SELECT label, dim,
           round(CAST(s AS DOUBLE) / n / 1000000.0, 6) AS centroid
    FROM c
    """,
)
def emb_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid vectors in long form (label, dim, mean value) —
    the cluster-summary primitive behind IVF coarse quantizers and
    per-class drift monitoring. Exact fixed-point mean (module docstring);
    one scan, one tiny shuffle keyed (label, dim)."""
    emb = _t(spark, sf_dir, "embeddings")
    return (
        _exploded_fixed(emb)
        .groupBy("label", "dim")
        .agg(F.sum("fx").alias("s"), F.count(F.lit(1)).alias("n"))
        .select(
            "label",
            "dim",
            F.round(F.col("s").cast("double") / F.col("n") / F.lit(_FX), 6).alias("centroid"),
        )
    )


@query(
    "emb_normalize_digest",
    oracle="""
    WITH base AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ),
    n AS (
      SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS l2
      FROM base
    )
    SELECT vec_id,
           round(l2, 6) AS l2_norm,
           md5(array_to_string(
             list_transform(v, x -> CAST(CAST(round(
               CASE WHEN l2 > 0 THEN x / l2 ELSE 0.0 END, 6) + 0
               AS DECIMAL(10,6)) AS VARCHAR)),
             ',')) AS norm_digest
    FROM n
    """,
)
def emb_normalize_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 normalization of every embedding, emitted driver-comparably: the
    norm plus an md5 digest of the normalized vector (elements rounded to
    6 decimals, decimal-formatted so both engines render identical
    strings; `+ 0` collapses IEEE negative zero). The norm is a
    sequential-fold dot product — deterministic order, matching DuckDB's
    list_inner_product. Pure per-row expressions: embarrassingly parallel
    at any scale, no shuffle at all. Zero-norm guard (r10 review
    finding): without it a zero vector's 0/0 = NaN casts to NULL in
    non-ANSI Spark, array_join SKIPS the NULLs, and the digest comes out
    plausible-looking but computed over a SHORTER string — silent
    corruption — while DuckDB's NaN::DECIMAL raises; both sides now emit
    an all-zero vector's digest (the convention of the cosine family)."""
    emb = _t(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    l2 = F.sqrt(F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x))
    base = emb.select("vec_id", v.alias("v"), l2.alias("l2"))
    elem_str = lambda x: (
        F.round(
            F.when(F.col("l2") > 0, x / F.col("l2")).otherwise(F.lit(0.0)), 6
        )
        + F.lit(0)
    ).cast("decimal(10,6)").cast("string")  # noqa: E731
    return base.select(
        "vec_id",
        F.round(F.col("l2"), 6).alias("l2_norm"),
        F.md5(F.array_join(F.transform(F.col("v"), elem_str), ",")).alias("norm_digest"),
    )


@query(
    "emb_label_affinity",
    oracle=f"""
    WITH f AS (
      {_EMB_FIXED_SQL}
    ),
    c AS (
      SELECT label, dim, CAST(SUM(fx) AS BIGINT) AS s
      FROM f GROUP BY label, dim
    ),
    pairs AS (
      SELECT a.label AS label_a, b.label AS label_b,
             CAST(SUM(CAST(a.s AS DECIMAL(19,0)) * CAST(b.s AS DECIMAL(19,0))) AS DOUBLE) AS num,
             CAST(SUM(CAST(a.s AS DECIMAL(19,0)) * CAST(a.s AS DECIMAL(19,0))) AS DOUBLE) AS da,
             CAST(SUM(CAST(b.s AS DECIMAL(19,0)) * CAST(b.s AS DECIMAL(19,0))) AS DOUBLE) AS db
      FROM c a JOIN c b ON a.dim = b.dim AND a.label < b.label
      GROUP BY a.label, b.label
    )
    SELECT label_a, label_b,
           round(num / (sqrt(da) * sqrt(db)), 6) AS cos_sim
    FROM pairs
    """,
)
def emb_label_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine similarity between every pair of label centroids — the
    inter-class contamination / label-confusion matrix. Cosine is
    scale-invariant, so the centroid's 1/(n·1e6) factor cancels and the
    whole computation runs on exact integer sums (decimal-widened before
    multiplication to avoid BIGINT overflow); only the final division is
    floating point, identical on both engines. The self-join is on the
    64-row-per-label long form — |labels|×|dims| rows — so the pairwise
    stage costs nothing even with thousands of classes."""
    emb = _t(spark, sf_dir, "embeddings")
    c = (
        _exploded_fixed(emb)
        .groupBy("label", "dim")
        .agg(F.sum("fx").cast("decimal(19,0)").alias("s"))
    )
    a, b = c.alias("a"), c.alias("b")
    sa, sb = F.col("a.s"), F.col("b.s")
    pairs = (
        a.join(b, (F.col("a.dim") == F.col("b.dim")) & (F.col("a.label") < F.col("b.label")))
        .groupBy(F.col("a.label").alias("label_a"), F.col("b.label").alias("label_b"))
        .agg(
            F.sum(sa * sb).cast("double").alias("num"),
            F.sum(sa * sa).cast("double").alias("da"),
            F.sum(sb * sb).cast("double").alias("db"),
        )
    )
    return pairs.select(
        "label_a",
        "label_b",
        F.round(F.col("num") / (F.sqrt(F.col("da")) * F.sqrt(F.col("db"))), 6).alias("cos_sim"),
    )


_KM_K = 8  # seed centroids = vectors vec_id < _KM_K (fixed seeds: reproducible)


@query(
    "emb_kmeans_step",
    oracle=f"""
    WITH base AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS q
      FROM embeddings
    ),
    seeds AS (
      SELECT vec_id AS seed_id, q AS sq FROM base WHERE vec_id < {_KM_K}
    ),
    scored AS (
      SELECT b.vec_id, s.seed_id,
             list_inner_product(b.q, b.q) - 2 * list_inner_product(b.q, s.sq)
               + list_inner_product(s.sq, s.sq) AS dist
      FROM base b CROSS JOIN seeds s
    ),
    assigned AS (
      SELECT vec_id, seed_id AS cluster_id
      FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                         ORDER BY dist, seed_id) AS rn
            FROM scored)
      WHERE rn = 1
    ),
    membership AS (
      SELECT a.cluster_id, b.vec_id, b.q
      FROM assigned a JOIN base b ON b.vec_id = a.vec_id
    ),
    longform AS (
      SELECT cluster_id,
             generate_subscripts(q, 1) - 1 AS dim,
             unnest(q) AS fx
      FROM membership
    )
    SELECT cluster_id, dim,
           round(CAST(CAST(SUM(fx) AS BIGINT) AS DOUBLE) / count(*) / 1000000.0, 6)
             AS centroid,
           count(*) AS n_members
    FROM longform GROUP BY cluster_id, dim
    """,
)
def emb_kmeans_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd iteration of k-means over the embedding corpus (assign to
    nearest of {8} fixed seed vectors, recompute centroids) — the training
    step behind IVF coarse quantizers. Distances run on the fixed-point
    integer vectors: ‖a‖² − 2a·b + ‖b‖² of integer components ≤ 2^53 is
    an exact integer-valued double, so the argmin (dist, seed_id) is
    fully deterministic across engines and partitionings. The seed table
    broadcasts (k rows); assignment is one scan fan-out of k, and the
    centroid update is the same map-side-combined (cluster, dim)
    aggregate as emb_label_centroids. Iterating = re-running with the
    output as the new seeds; each step is one shuffle."""
    emb = _t(spark, sf_dir, "embeddings")
    quant = F.transform(
        F.col("embedding").cast("array<double>"),
        lambda x: F.round(x * F.lit(_FX)).cast("long"),
    )
    base = emb.select("vec_id", quant.alias("q"))
    seeds = base.filter(F.col("vec_id") < _KM_K).select(
        F.col("vec_id").alias("seed_id"), F.col("q").alias("sq")
    )

    def idot(a, b):
        return F.aggregate(
            F.zip_with(F.col(a), F.col(b), lambda x, y: x * y),
            F.lit(0).cast("double"),
            lambda acc, x: acc + x,
        )

    scored = base.crossJoin(F.broadcast(seeds)).select(
        "vec_id",
        "seed_id",
        (idot("q", "q") - 2 * idot("q", "sq") + idot("sq", "sq")).alias("dist"),
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("vec_id").orderBy("dist", "seed_id")
    assigned = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", F.col("seed_id").alias("cluster_id"))
    )
    membership = assigned.join(base, "vec_id")
    longform = membership.select(
        "cluster_id", F.posexplode(F.col("q")).alias("dim", "fx")
    ).select("cluster_id", F.col("dim").cast("bigint").alias("dim"), "fx")
    return longform.groupBy("cluster_id", "dim").agg(
        F.round(
            F.sum("fx").cast("double") / F.count(F.lit(1)) / F.lit(_FX), 6
        ).alias("centroid"),
        F.count(F.lit(1)).alias("n_members"),
    )


_KM_ITERS = 3  # fixed Lloyd rounds for the oracle (Spark may early-stop; see below)


def _kmeans_ctes(iters: int) -> str:
    """Unrolled fixed-iteration Lloyd CTE chain (no WITH, no final
    SELECT): seeds{i} are the re-quantized integer centroids of iteration
    i, so every round's distance math stays exact integer arithmetic (the
    same invariant emb_kmeans_step relies on) and the chain is
    bit-identical to the Spark loop. Shared by the emb_kmeans_converged
    oracle and the IVF-on-trained-quantizer oracle."""
    ctes = [
        f"""base AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS q
      FROM embeddings),
    seeds0 AS (SELECT vec_id AS cluster_id, q AS sq FROM base WHERE vec_id < {_KM_K})"""
    ]
    for i in range(1, iters + 1):
        ctes.append(
            f"""scored{i} AS (
      SELECT b.vec_id, s.cluster_id,
             list_inner_product(b.q, b.q) - 2 * list_inner_product(b.q, s.sq)
               + list_inner_product(s.sq, s.sq) AS dist
      FROM base b CROSS JOIN seeds{i - 1} s),
    assigned{i} AS (
      SELECT vec_id, cluster_id
      FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                         ORDER BY dist, cluster_id) AS rn
            FROM scored{i})
      WHERE rn = 1),
    cent{i} AS (
      SELECT cluster_id, dim, CAST(SUM(fx) AS BIGINT) AS s, count(*) AS n
      FROM (
        SELECT a.cluster_id,
               generate_subscripts(b.q, 1) - 1 AS dim,
               unnest(b.q) AS fx
        FROM assigned{i} a JOIN base b ON b.vec_id = a.vec_id)
      GROUP BY cluster_id, dim),
    seeds{i} AS (
      SELECT cluster_id,
             list(CAST(round(CAST(s AS DOUBLE) / n) AS BIGINT) ORDER BY dim) AS sq
      FROM cent{i} GROUP BY cluster_id)"""
        )
    return ",\n    ".join(ctes)


def _kmeans_converged_sql(iters: int) -> str:
    return (
        "WITH "
        + _kmeans_ctes(iters)
        + f"""
    SELECT cluster_id, dim,
           round(CAST(s AS DOUBLE) / n / 1000000.0, 6) AS centroid,
           n AS n_members
    FROM cent{iters}
    """
    )


@query("emb_kmeans_converged", oracle=_kmeans_converged_sql(_KM_ITERS))
def emb_kmeans_converged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative k-means: up to {_KM_ITERS} Lloyd rounds with a
    convergence counter (vectors that changed cluster), early-stopping
    when an assignment round is a fixed point. Every round re-quantizes
    the new centroids to integer fixed-point, so assignment math stays
    exact in every iteration — which is also why early-stopping cannot
    diverge from the fixed-iteration oracle: once an assignment repeats,
    centroids, seeds, and all later rounds repeat identically.

    Loop discipline (see _kmeans_loop): the corpus is checkpointed once,
    each round pins only the k×d centroid table (assignments stay a
    transient stage — never a corpus-sized checkpoint), the quantizer is
    driver-held bounded model state embedded as literals (the MLlib
    design) so each round is ONE corpus job whose only exchange is the
    map-side-combined k×d centroid aggregate, and the only driver-side
    read is the k-row re-quantized seed table — the sanctioned bounded
    model-state read."""
    cent, _seed_items, _base = _kmeans_loop(spark, sf_dir)
    return cent.select(
        "cluster_id",
        "dim",
        F.round(F.col("s").cast("double") / F.col("n") / F.lit(_FX), 6).alias("centroid"),
        F.col("n").alias("n_members"),
    )


def _kmeans_assign_matrix_expr(seed_items: list[tuple[int, list[int]]]):
    """Nearest-centroid expression over DRIVER-HELD centroids: the k-means
    assignment used by every Lloyd round and every assignment query.

    The quantizer is bounded model state (k×d integers, the MLlib
    design), so it lives on the driver and is embedded into the scan as
    ONE nested-array literal each round. Assignment is a pure
    projection: no broadcast join, no rank window, no shuffle of any
    corpus row.

    Scoring uses ``|s|² − 2·q·s`` — the full squared distance minus the
    per-row constant ``|q|²``, which shifts every cluster's score equally
    and therefore preserves both the argmin and the tie structure of the
    oracle's ``|q|² − 2·q·s + |s|²``. All terms are exact: products of
    fixed-point components ≤ 2^40, partial sums ≤ 2^53, so the
    double-typed comparison is integer-exact (the module's shared
    fixed-point invariant). Ties break to the LOWEST cluster_id:
    seed_items is sorted by cluster_id, so position order equals id
    order and the (score, pos) struct-min tie-break matches the oracle's
    ``row_number() OVER (ORDER BY dist, cluster_id)``. The final
    ``element_at`` maps the winning position back to its cluster_id (ids
    need not be contiguous).

    Construction: the matrix is built as ONE ``F.expr`` SQL string — a
    single py4j round trip, and Catalyst's ConstantFolding collapses the
    parsed array-of-arrays to one Literal shipped inside the task binary.
    ``F.lit(nested_list)`` would expand recursively to k·d driver-side
    py4j calls, and a struct per centroid gives a k·d-leaf tree that the
    loop re-plans every round; at k = 8, d = 64 that form measured
    7.15/5.20 s vs 4.17/2.23 s for this one per emb_kmeans
    materialization (r15, interleaved same-session A/B)."""
    q = F.col("q")
    matrix_sql = ",".join(
        "array(" + ",".join(f"{int(v)}L" for v in sv) + ")"
        for _, sv in seed_items
    )
    matrix = F.expr(f"array({matrix_sql})")
    cids = F.expr(
        "array(" + ",".join(f"{int(cid)}L" for cid, _ in seed_items) + ")"
    )
    scored = F.transform(
        matrix,
        lambda s, i: F.struct(
            (
                F.aggregate(
                    s, F.lit(0).cast("double"), lambda acc, x: acc + x * x
                )
                - 2
                * F.aggregate(
                    F.zip_with(q, s, lambda x, y: x * y),
                    F.lit(0).cast("double"),
                    lambda acc, x: acc + x,
                )
            ).alias("score"),
            i.alias("pos"),
        ),
    )
    return F.element_at(cids, F.array_min(scored)["pos"] + 1)


def _round_half_up(x: float) -> int:
    """JVM-HALF_UP-exact integer rounding of a double (see the bit-parity
    argument at the call site in :func:`_kmeans_loop`)."""
    import decimal

    return int(
        decimal.Decimal(x).quantize(decimal.Decimal(1), rounding=decimal.ROUND_HALF_UP)
    )


def _collect_seed_items(seeds_df) -> list[tuple[int, list[int]]]:
    """Collect a (cluster_id, sq-array) seed table to driver model state:
    the sanctioned bounded read of the Lloyd loop (k rows of d ints)."""
    return sorted(
        (int(r["cluster_id"]), [int(v) for v in r["sq"]]) for r in seeds_df.collect()
    )


def _kmeans_quant_expr():
    """The fixed-point quantization of the embedding column (the shared
    contract between training, assignment, and every unrolled oracle)."""
    return F.transform(
        F.col("embedding").cast("array<double>"),
        lambda x: F.round(x * F.lit(_FX)).cast("long"),
    )


def _kmeans_loop(spark: SparkSession, sf_dir: str):
    """Run the Lloyd loop; returns (cent, seed_items, base) where cent
    holds the final (cluster_id, dim, s, n) sums, seed_items the final
    re-quantized integer seeds as driver-held model state
    (sorted (cluster_id, sq) tuples), and base the quantized corpus
    (vec_id, q).

    Per-round state discipline (r04, tightened r14): the ONLY
    corpus-sized materialized table is ``base`` (checkpointed once —
    iterative reuse without re-scanning lineage). The assignment is a
    transient stage inside the centroid-update job — through r03 every
    round localCheckpointed a corpus-sized assignment table, whose blocks
    stayed in executor storage until the ContextCleaner freed them after
    GC (SCALE.md "Materialization policy"), so a 20-round run could hold
    20 corpus-sized tables at once. Since r14 the k×d ``cent`` rows are
    collected per round (bounded model state, like the seeds) and
    nothing per-round is materialized at all.

    Round shape (r06): the quantizer lives on the DRIVER as bounded
    model state (k×d integers — the MLlib k-means design) and each round
    embeds it into the scan as a literal (_kmeans_assign_matrix_expr). A round
    is therefore ONE corpus job — scan → nearest-centroid projection →
    posexplode → map-side-combined (cluster, dim) aggregate — whose only
    exchange carries k·d rows per map partition; the broadcast seed
    join, the corpus×k rank-window shuffle, and the corpus-sized
    assignment-to-base re-join of the r04/r05 shape are all gone. The
    per-round driver reads are the k-row re-quantized seed table (the
    sanctioned bounded model-state read, replacing the old full_outer
    convergence join) — seeds_t == seeds_{t-1} ⟺ the assignment
    repeated ⟹ cent_t == cent_{t-1} bit-for-bit, so early-stop output
    is unchanged."""
    emb = _t(spark, sf_dir, "embeddings")
    base = checkpoint(emb.select("vec_id", _kmeans_quant_expr().alias("q")))
    seed_items = _collect_seed_items(
        base.filter(F.col("vec_id") < _KM_K).select(
            F.col("vec_id").alias("cluster_id"), F.col("q").alias("sq")
        )
    )

    cent_rows, cent_schema = None, None
    for _ in range(_KM_ITERS):
        # Two selects (cluster projection, then posexplode): mixing the
        # struct-field access with a generator in ONE select trips
        # Catalyst's Generate rewrite (field names degrade to col1/col2
        # before resolution); the projections collapse into one stage.
        cent_plan = (
            base.select(
                _kmeans_assign_matrix_expr(seed_items).alias("cluster_id"), "q"
            )
            .select("cluster_id", F.posexplode(F.col("q")).alias("dim", "fx"))
            .select("cluster_id", F.col("dim").cast("bigint").alias("dim"), "fx")
            .groupBy("cluster_id", "dim")
            .agg(F.sum("fx").alias("s"), F.count(F.lit(1)).alias("n"))
        )
        # cent is k×d rows — the same bounded model state as the seed
        # table. Collect it ONCE per round and re-quantize on the driver
        # (r14): the prior shape ran one eager localCheckpoint job plus
        # a second aggregate-and-collect job per round, each paying its
        # own Catalyst pass over the k·d-literal assignment plan — the
        # round's wall was ~80% driver time (jobprof: biggest job 0.16 s
        # of a 3.6 s row). One job per round now.
        #
        # Bit-parity of the driver re-quantization with the Spark
        # expression it replaces (F.round(s.cast(double)/n) HALF_UP —
        # the contract the unrolled oracle CTEs replay): float(s)/float(n)
        # is the identical IEEE cast-then-divide (s ≤ 2^53 and n ≤ 2^31
        # make both casts exact), and Decimal(x).quantize(1, HALF_UP)
        # equals JVM HALF_UP for every finite double — Spark rounds the
        # SHORTEST-decimal form, Python the exact-binary form, and both
        # lie within a half-ulp interval around x that cannot contain a
        # representable n+0.5 boundary unless x IS that boundary (then
        # both forms are exactly n.5). Ties away from zero in both.
        # Pinned by test_kmeans_driver_requantize_matches_spark.
        cent_rows = cent_plan.collect()
        if cent_schema is None:
            cent_schema = cent_plan.schema
        by_cluster: dict[int, list[tuple[int, int]]] = {}
        for r in cent_rows:
            by_cluster.setdefault(int(r["cluster_id"]), []).append(
                (int(r["dim"]), _round_half_up(float(r["s"]) / float(r["n"])))
            )
        new_items = sorted(
            (cid, [fx for _, fx in sorted(vals)])
            for cid, vals in by_cluster.items()
        )
        converged = new_items == seed_items
        seed_items = new_items
        if converged:
            break
    # Rebuild cent as a DataFrame from the collected rows (values are the
    # collected aggregates themselves — nothing recomputed), ONE partition
    # so downstream actions don't schedule 32 near-empty python-RDD tasks.
    cent = spark.createDataFrame(
        spark.sparkContext.parallelize(cent_rows, 1), cent_schema
    )
    return cent, seed_items, base


_COS_SQL = (
    "round(list_inner_product({a}, {b}) / "
    "(sqrt(list_inner_product({a}, {a})) * sqrt(list_inner_product({b}, {b}))), 6)"
)


def _ivf_kmeans_sql(iters: int) -> str:
    """k-means CTE chain → final assignment → IVF probe/rank, all in one
    oracle: the trained coarse quantizer serves the ANN query."""
    return (
        "WITH "
        + _kmeans_ctes(iters)
        + f""",
    assignedF AS (
      SELECT vec_id, cluster_id
      FROM (SELECT b.vec_id, s.cluster_id,
                   list_inner_product(b.q, b.q) - 2 * list_inner_product(b.q, s.sq)
                     + list_inner_product(s.sq, s.sq) AS dist,
                   row_number() OVER (PARTITION BY b.vec_id
                                      ORDER BY list_inner_product(b.q, b.q)
                                             - 2 * list_inner_product(b.q, s.sq)
                                             + list_inner_product(s.sq, s.sq),
                                             s.cluster_id) AS rn
            FROM base b CROSS JOIN seeds{iters} s)
      WHERE rn = 1),
    basev AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    pos AS (
      SELECT a.cluster_id, unnest(b.v) AS val,
             unnest(range(1, len(b.v) + 1)) AS pos
      FROM assignedF a JOIN basev b USING (vec_id)
    ),
    means AS (
      SELECT cluster_id, pos,
             CAST(SUM(CAST(round(val * 1000000.0) AS BIGINT)) AS DOUBLE) / count(*) / 1000000.0 AS mean
      FROM pos GROUP BY cluster_id, pos
    ),
    cents AS (
      SELECT cluster_id AS cluster, list(mean ORDER BY pos) AS centroid
      FROM means GROUP BY cluster_id
    ),
    qv AS (SELECT vec_id AS query_id, v AS qvec FROM basev WHERE vec_id < 5),
    qc AS (
      SELECT query_id, qvec, cluster,
             {_COS_SQL.format(a='qvec', b='centroid')} AS ccos
      FROM qv, cents
    ),
    probes AS (
      SELECT query_id, qvec, cluster FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY ccos DESC, cluster) AS crank
        FROM qc) WHERE crank <= 2
    ),
    scoredq AS (
      SELECT p.query_id, c.vec_id AS neighbor_id,
             {_COS_SQL.format(a='p.qvec', b='c.v')} AS cosine_r
      FROM basev c
      JOIN assignedF af ON af.vec_id = c.vec_id
      JOIN probes p ON af.cluster_id = p.cluster
      WHERE c.vec_id != p.query_id
    ),
    rankedq AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine_r DESC, neighbor_id) AS rank
      FROM scoredq
    )
    SELECT query_id, neighbor_id, cosine_r, CAST(rank AS BIGINT) AS rank
    FROM rankedq WHERE rank <= 5
    """
    )


@query("sim_ivf_kmeans_trained", oracle=_ivf_kmeans_sql(_KM_ITERS))
def sim_ivf_kmeans_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN served from the k-means-trained coarse quantizer: the Lloyd
    loop (emb_kmeans_converged) produces the final quantizer, every
    corpus vector is assigned to its nearest seed by the same
    centroid-matrix projection the training rounds use (zero-shuffle
    argmin, exact integer distances), and sim.ivf_topk probes the
    2 nearest trained clusters. This is the production IVF lifecycle —
    train the quantizer, partition the corpus by it, serve probes against
    only the probed partitions — with every stage oracle-checked end to
    end."""
    from dbt_ci_demo_spark.operators import similarity as sim

    _cent, seed_items, base = _kmeans_loop(spark, sf_dir)
    # Zero-shuffle argmin over the checkpointed quantized corpus, then ONE
    # vec_id join to attach cluster ids to the serving table. Computing
    # the assignment INLINE on the serving scan (no join at all) measured
    # ~15% SLOWER at sf0.1: ivf_topk consumes the corpus in multiple
    # subtrees, so the k×d centroid-matrix expression re-evaluates per
    # subtree, while the join resolves it once against `base`.
    assigned = base.select(
        "vec_id", _kmeans_assign_matrix_expr(seed_items).alias("cluster_id")
    )
    emb = _t(spark, sf_dir, "embeddings")
    corpus = emb.join(assigned, "vec_id").select("vec_id", "embedding", "cluster_id")
    out = sim.ivf_topk(
        corpus, emb.filter(F.col("vec_id") < 5), "cluster_id", k=5, n_probe=2
    )
    return out.withColumn("rank", F.col("rank").cast("bigint"))


@query(
    "pipe_embedding_end_to_end",
    oracle="""
    WITH base AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS v,
             md5(array_to_string(
               list_transform(embedding,
                 x -> CAST(CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT) AS VARCHAR)),
               ',')) AS vec_digest
      FROM embeddings
    ),
    deduped AS (
      SELECT b.* FROM base b
      JOIN (SELECT vec_digest, min(vec_id) AS keep_id FROM base GROUP BY vec_digest) k
        ON k.vec_digest = b.vec_digest AND k.keep_id = b.vec_id
    ),
    normed AS (
      SELECT vec_id, label,
             CAST(round(sqrt(list_inner_product(v, v)) * 1000000.0) AS BIGINT) AS l2_fx,
             CASE WHEN ('0x' || substr(md5('embsplit|' || CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT
                       % 1000000 < 100000
                  THEN 'test' ELSE 'train' END AS split
      FROM deduped
    )
    SELECT label, split,
           count(*) AS n_vecs,
           round(CAST(CAST(SUM(l2_fx) AS BIGINT) AS DOUBLE) / count(*) / 1000000.0, 6)
             AS mean_l2_norm
    FROM normed GROUP BY label, split
    """,
)
def pipe_embedding_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end embedding curation pipeline in one plan: exact
    vector-level dedup (fixed-point digest, keep min id) → L2 norms →
    leakage-safe 10% hash test split → per-(label, split) corpus summary
    with an exact fixed-point mean norm. Composes the dedup, vector,
    and sampling operator families the way a training-data job would;
    every decision (digest, survivor, split, norm) is bit-portable, so
    the whole pipeline is oracle-checked end to end. One scan of
    embeddings, one digest groupBy, one final small aggregate — the
    norm/split are scan-side expressions."""
    from dbt_ci_demo_spark.operators import sampling as sp

    emb = _t(spark, sf_dir, "embeddings")
    quant_str = F.transform(
        F.col("embedding").cast("array<double>"),
        lambda x: F.round(x * F.lit(_FX)).cast("long").cast("string"),
    )
    base = emb.select(
        "vec_id", "label",
        F.col("embedding").cast("array<double>").alias("v"),
        F.md5(F.array_join(quant_str, ",")).alias("vec_digest"),
    )
    keep = base.groupBy("vec_digest").agg(F.min("vec_id").alias("keep_id"))
    deduped = base.join(
        keep,
        (base["vec_digest"] == keep["vec_digest"]) & (base["vec_id"] == keep["keep_id"]),
    ).select(base["vec_id"], "label", "v")
    l2 = F.sqrt(F.aggregate(F.col("v"), F.lit(0.0), lambda acc, x: acc + x * x))
    normed = deduped.select(
        "vec_id",
        "label",
        F.round(l2 * F.lit(_FX)).cast("long").alias("l2_fx"),
    )
    split = sp.train_val_test_split(normed, "vec_id", test_fraction=0.1, seed="embsplit")
    return split.groupBy("label", "split").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.round(
            F.sum("l2_fx").cast("double") / F.count(F.lit(1)) / F.lit(_FX), 6
        ).alias("mean_l2_norm"),
    )


@query(
    "emb_quantize_int8",
    oracle="""
    WITH base AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ),
    m AS (
      SELECT vec_id, v,
             list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
      FROM base
    ),
    qz AS (
      SELECT vec_id, v, scale,
             CASE WHEN scale > 0
                  THEN list_transform(v, x -> CAST(floor(x / scale + 0.5) AS BIGINT))
                  ELSE list_transform(v, x -> CAST(0 AS BIGINT)) END AS q
      FROM m
    )
    SELECT vec_id,
           round(scale, 6) AS scale_r,
           md5(array_to_string(list_transform(q, x -> CAST(x AS VARCHAR)), ','))
             AS q_digest,
           round(CASE WHEN scale > 0 THEN
                   list_max(list_transform(range(1, len(v) + 1),
                            i -> abs(q[i] * scale - v[i])))
                 ELSE 0.0 END, 6) AS max_err_r
    FROM qz
    """,
)
def emb_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of every embedding
    (operators/similarity.quantize_embeddings_int8): per vector, the
    scale, an md5 digest of the int8 codes, and the max reconstruction
    error |q·scale − v| — float32→int8 is the 4× storage/bandwidth cut
    for a 100 TB embedding corpus, and the surfaced error is what recall
    budgeting reads. Codes use explicit floor(x+0.5) rounding so the
    quantization is bit-identical in any IEEE-double engine (round()
    half-up/half-even conventions differ; floor(+0.5) does not). Pure
    per-row expressions — zero shuffles, ONE scan (retain_vec keeps the
    source vector in the quantize projection; the old self-join back to
    the input for the error term scanned the table twice and added a
    join exchange, contradicting this very docstring — r10 review
    finding); every code array is digest-checked against the oracle."""
    from dbt_ci_demo_spark.operators import similarity as sim

    emb = _t(spark, sf_dir, "embeddings")
    joined = sim.quantize_embeddings_int8(
        emb, "vec_id", "embedding", retain_vec=True
    )
    err = F.when(
        F.col("scale") > 0,
        F.array_max(
            F.zip_with(
                F.col("q"), F.col("v"), lambda qq, xx: F.abs(qq * F.col("scale") - xx)
            )
        ),
    ).otherwise(F.lit(0.0))
    return joined.select(
        "vec_id",
        F.round(F.col("scale"), 6).alias("scale_r"),
        F.md5(
            F.array_join(F.transform(F.col("q"), lambda x: x.cast("string")), ",")
        ).alias("q_digest"),
        F.round(err, 6).alias("max_err_r"),
    )


@query(
    "sim_topk_quantized",
    oracle="""
    WITH base AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ),
    m AS (
      SELECT vec_id, v,
             list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
      FROM base
    ),
    qz AS (
      SELECT vec_id,
             CASE WHEN scale > 0
                  THEN list_transform(v, x -> CAST(floor(x / scale + 0.5) AS BIGINT))
                  ELSE list_transform(v, x -> CAST(0 AS BIGINT)) END AS q
      FROM m
    ),
    scored AS (
      SELECT qs.vec_id AS query_id, c.vec_id AS neighbor_id,
             round(CASE WHEN list_inner_product(qs.q, qs.q) > 0
                         AND list_inner_product(c.q, c.q) > 0
                   THEN list_inner_product(qs.q, c.q)::DOUBLE /
                        (sqrt(list_inner_product(qs.q, qs.q)::DOUBLE)
                         * sqrt(list_inner_product(c.q, c.q)::DOUBLE))
                   ELSE 0.0 END, 6) AS cosine_r
      FROM qz c JOIN qz qs ON qs.vec_id < 5 AND c.vec_id != qs.vec_id
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine_r DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, cosine_r, CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= 5
    """,
)
def sim_topk_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN serving over int8 codes (operators/similarity.
    cosine_topk_quantized): symmetric quantization's positive per-vector
    scale cancels out of the cosine, so the entire ranking runs on
    exact INTEGER dot products of the codes — 4× less data through scan
    and broadcast than float32, bit-identical across engines, with only
    the final normalize in doubles. End-to-end with the quantizer:
    quantize the corpus, rank the 5 query vectors' neighbors on codes
    alone, every (neighbor, score, rank) oracle-checked."""
    from dbt_ci_demo_spark.operators import similarity as sim

    emb = _t(spark, sf_dir, "embeddings")
    qz = sim.quantize_embeddings_int8(emb, "vec_id", "embedding")
    out = sim.cosine_topk_quantized(qz, qz.filter(F.col("vec_id") < 5), k=5)
    return out.withColumn("rank", F.col("rank").cast("bigint"))


_ASSIGN_MATRIX_K = 120  # k well past the Lloyd loop's _KM_K


@query(
    "emb_assign_matrix",
    oracle=f"""
    WITH base AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS q
      FROM embeddings
    ),
    seeds AS (
      SELECT vec_id AS seed_id, q AS sq FROM base WHERE vec_id < {_ASSIGN_MATRIX_K}
    ),
    scored AS (
      SELECT b.vec_id, s.seed_id,
             list_inner_product(b.q, b.q) - 2 * list_inner_product(b.q, s.sq)
               + list_inner_product(s.sq, s.sq) AS dist
      FROM base b CROSS JOIN seeds s
    )
    SELECT vec_id, seed_id AS cluster_id
    FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                       ORDER BY dist, seed_id) AS rn
          FROM scored)
    WHERE rn = 1
    """,
)
def emb_assign_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large-k cluster assignment (VERDICT r06 #3): k = {_ASSIGN_MATRIX_K}
    seed centroids through _kmeans_assign_matrix_expr, the nested-array
    matrix literal + transform-with-index argmin whose plan has O(1)
    expression nodes in k. A pure zero-shuffle projection (no join, no
    window — the oracle's cross-join + rank formulation is the
    semantics, not the plan), exact integer distances, lowest-id
    tie-break. This is the assignment's driver correctness row at a k
    the Lloyd loop does not reach; it is also property-tested against a
    brute-force argmin."""
    emb = _t(spark, sf_dir, "embeddings")
    base = emb.select("vec_id", _kmeans_quant_expr().alias("q"))
    seed_items = _collect_seed_items(
        base.filter(F.col("vec_id") < _ASSIGN_MATRIX_K).select(
            F.col("vec_id").alias("cluster_id"), F.col("q").alias("sq")
        )
    )
    return base.select(
        "vec_id", _kmeans_assign_matrix_expr(seed_items).alias("cluster_id")
    )
