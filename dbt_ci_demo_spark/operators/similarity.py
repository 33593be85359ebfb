"""Similarity search over embedding columns (north-star operator).

Embeddings are ``array<float>`` columns (the ``embeddings`` fixture:
64-dim). All distance math uses built-in higher-order functions
(``zip_with`` + ``aggregate`` — a sequential left fold, deterministic
order) in double precision, cast from float once. No UDFs.

Three tiers:
- :func:`cosine_topk_bruteforce` — exact top-k: corpus × queries with a
  rank-window per query. The baseline and the verifier for the ANN tiers.
  Scale: O(|Q|·|C|) — fine for small query sets against big corpora
  (broadcast the queries), wrong for all-pairs.
- :func:`lsh_ann_topk` — random-hyperplane LSH: deterministic pseudo-random
  planes derived from md5, bucket by sign pattern, search only the query's
  bucket (multi-probe = hamming-1 neighbors optional). The 100 TB path:
  bucket join instead of cross join.
- :func:`ivf_topk` — IVF-style coarse quantization: centroids from a
  deterministic per-cluster mean, probe the nearest ``n_probe`` centroids.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _to_double(arr: Column) -> Column:
    return F.transform(arr, lambda x: x.cast("double"))


def _dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product: deterministic summation order."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def _idot(a: Column, b: Column) -> Column:
    """Integer-dot twin of :func:`_dot` for int8 code arrays: a LONG
    accumulator (exact — |codes| ≤ 127 so a 64-dim dot is ≤ ~10^6, far
    inside long range) shared by the quantized rankers; one definition
    so an accumulator/overflow fix can't silently miss a copy (r10
    review finding — it was pasted locally in two functions)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity with the zero-norm convention the int8 path
    already uses (``cosine_topk_quantized``): a zero-norm side scores
    0.0, NOT NaN. Without the guard 0/0 = NaN, and Spark sorts NaN
    ABOVE every real double — so a single all-zero embedding in the
    corpus would surface as every query's rank-1 "neighbor" in the
    desc-ordered top-k windows (r10 review finding). On zero-free data
    the branch is never taken and the double math — and every oracle
    replicating the unguarded formula — is bit-identical."""
    den = _norm(a) * _norm(b)
    return F.when(den > 0, _dot(a, b) / den).otherwise(F.lit(0.0))


def cosine_topk_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact top-k cosine neighbors per query (excluding self-matches).

    The query side is broadcast (small by construction); ranking uses
    round(cosine, 6) with an id tie-break so the ordering — and therefore
    the result set — is engine-independent. Output: (query_id, neighbor_id,
    cosine_r, rank).

    Self-match contract (shared by all four top-k tiers): exclusion is
    ID equality, so queries are assumed DRAWN FROM the corpus under one
    id space. A query table with an independent id numbering must not
    collide with corpus ids — a corpus vector that merely shares a
    query's id would be silently dropped from that query's candidates
    (r10 review finding; re-key one side, e.g. negative query ids)."""
    from pyspark.sql.window import Window

    q = queries.select(
        F.col(id_col).alias("query_id"), _to_double(F.col(vec_col)).alias("qv")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), _to_double(F.col(vec_col)).alias("cv")
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("cosine_r"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_r").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 0) -> list[list[int]]:
    """Deterministic pseudo-random hyperplanes with integer components in
    [-8, 7], derived from md5 so any engine (or test) can re-derive them.
    Component d of plane p = nibble value of md5("seed:p:d") mapped to
    -8..7 (seed 0 keeps the legacy "p:d" form)."""
    import hashlib

    planes = []
    for p in range(n_planes):
        row = []
        for d in range(dim):
            key = f"{p}:{d}" if seed == 0 else f"{seed}:{p}:{d}"
            h = hashlib.md5(key.encode()).hexdigest()
            row.append(int(h[0], 16) - 8)
        planes.append(row)
    return planes


def lsh_bucket(vec: str, planes: list[list[int]]) -> Column:
    """Sign-pattern bucket id: bit p set iff dot(vec, plane_p) >= 0.

    Built as ONE SQL expression string (F.expr) rather than composed
    Column objects: a 64-dim plane as F.array(*64 F.lit(...)) costs 64
    py4j round trips, and 8 tables × 4 planes of them put seconds of
    driver-side plan construction ahead of a sub-second query. The
    generated expression is identical to the Column form.

    ``vec`` must be a COLUMN NAME (or a SQL expression string): the old
    Column branch stringified via the private ``_jc.toString()``, which
    does not exist under Spark Connect and is not guaranteed to render
    parseable SQL for composed Columns (r10 review finding) — alias the
    expression in a projection first and pass the name."""
    if not isinstance(vec, str):
        raise TypeError(
            "lsh_bucket takes a column-name/SQL string (alias a computed "
            "Column in a projection first); Column objects can't be "
            "portably rendered back to SQL"
        )
    if len(planes) > 63:
        # bit p is 2**p as a LONG — plane 63 would overflow the sign bit
        # (the zorder bits*cols ≤ 63 guard precedent; r13 review).
        raise ValueError(
            f"lsh_bucket supports at most 63 planes per table, got "
            f"{len(planes)} — split into more tables instead"
        )
    vec_sql = vec
    terms = []
    for p, plane in enumerate(planes):
        arr = ",".join(f"{float(w)}D" for w in plane)
        dot = (
            f"aggregate(zip_with({vec_sql}, array({arr}), (x, y) -> x * y), "
            f"0.0D, (acc, x) -> acc + x)"
        )
        terms.append(f"(CASE WHEN {dot} >= 0.0D THEN {2 ** p}L ELSE 0L END)")
    return F.expr(" + ".join(terms))


def lsh_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_planes: int = 4,
    n_tables: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Approximate top-k via multi-table random-hyperplane LSH: ``n_tables``
    independent tables of ``n_planes`` planes each; a corpus vector is a
    candidate iff it shares the query's bucket in ANY table (recall
    ≈ 1 − (1 − p^b)^L, p = 1 − θ/π). Exact cosine ranks the candidates.

    Scale shape: corpus-side bucketing is a narrow map producing
    ``n_tables`` (table, bucket) rows per vector; the search is a
    (table, bucket) equi-join against broadcast queries — at 100 TB this
    is an L-times-replicated partitioned join, never an all-pairs cross
    join. Tune n_planes up for selectivity, n_tables up for recall;
    verify against cosine_topk_bruteforce on samples."""
    from pyspark.sql.window import Window

    def with_buckets(df: DataFrame, idc: str, vecc: str) -> DataFrame:
        tb = F.array(
            *[
                F.struct(
                    F.lit(t).alias("t"),
                    lsh_bucket(vecc, _hyperplanes(dim, n_planes, seed=t + 1)).alias("b"),
                )
                for t in range(n_tables)
            ]
        )
        return df.select(idc, vecc, F.explode(tb).alias("tb"))

    c = with_buckets(
        corpus.select(
            F.col(id_col).alias("neighbor_id"), _to_double(F.col(vec_col)).alias("cv")
        ),
        "neighbor_id",
        "cv",
    )
    q = with_buckets(
        queries.select(
            F.col(id_col).alias("query_id"), _to_double(F.col(vec_col)).alias("qv")
        ),
        "query_id",
        "qv",
    )
    scored = (
        c.join(F.broadcast(q), on="tb")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("cosine_r"),
        )
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_r").desc(), F.col("neighbor_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def ivf_centroids(
    corpus: DataFrame, cluster_col: str, vec_col: str = "embedding"
) -> DataFrame:
    """Per-cluster centroid via positional explode + FIXED-POINT mean
    (round(v·1e6) → exact BIGINT sums, the queries_embed module rule):
    deterministic, order-independent, and cross-engine-exact. The
    previous decimal(30,12) cast of raw doubles was the exact pattern
    that module's header bans — DuckDB's double→decimal cast mis-rounds
    the last digit ~1-in-256k, a latent oracle-flake at fixture scale
    (r10 review finding); integer fixed-point sums have no such edge.
    Centroid coordinates are means of 1e-6-quantized components
    (≤ 5e-7 per-element shift — immaterial to IVF probe ranking, and
    identical in both engines)."""
    pos = corpus.select(
        F.col(cluster_col).alias("cluster"),
        F.posexplode(_to_double(F.col(vec_col))).alias("pos", "val"),
    )
    means = (
        pos.groupBy("cluster", "pos")
        .agg(
            (
                F.sum(F.round(F.col("val") * F.lit(1_000_000.0)).cast("long"))
                .cast("double")
                / F.count(F.lit(1))
                / F.lit(1_000_000.0)
            ).alias("mean")
        )
        .groupBy("cluster")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "mean"))).alias("pm"))
        .select("cluster", F.transform("pm", lambda s: s["mean"]).alias("centroid"))
    )
    return means


def build_ivf_index(
    corpus: DataFrame,
    cluster_col: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """The STORABLE IVF serving artifacts (the similarity twin of
    dedup.minhash_index): (clustered corpus, centroid table).
    Write the corpus ``partitionBy(cluster_col)`` and the (tiny)
    centroid table as plain parquet; serving then reads both back and
    passes centroids to :func:`ivf_topk` via ``centroids=`` — probe-time
    cost is the centroid broadcast plus ONLY the probed clusters'
    partitions (Spark's dynamic partition pruning turns the probe join
    into a partition filter on the cluster-partitioned layout; verified
    by tests/test_northstar.py::test_ivf_index_roundtrip_and_pruning).
    Rebuild both artifacts together — centroids are meaningless against
    a different assignment."""
    cents = ivf_centroids(corpus, cluster_col, vec_col)
    return corpus.select(id_col, vec_col, cluster_col), cents


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    cluster_col: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_probe: int = 2,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF search: rank clusters by query-centroid cosine, probe the top
    ``n_probe`` clusters, exact-rank within them. The corpus is read only
    in the probed partitions — with the corpus written partitioned by
    cluster id, Catalyst prunes the rest at the storage layer.

    ``centroids`` — the stored (cluster, centroid) artifact from
    :func:`build_ivf_index`, typically read back from parquet — skips
    the corpus-wide centroid aggregate entirely (the production serving
    path; when omitted the centroids are computed from the corpus)."""
    from pyspark.sql.window import Window

    cents = (
        centroids.select("cluster", "centroid")
        if centroids is not None
        else ivf_centroids(corpus, cluster_col, vec_col)
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), _to_double(F.col(vec_col)).alias("qv")
    )
    qc = (
        q.crossJoin(F.broadcast(cents))
        .select(
            "query_id",
            "qv",
            "cluster",
            F.round(cosine(F.col("qv"), F.col("centroid")), 6).alias("ccos"),
        )
    )
    wq = Window.partitionBy("query_id").orderBy(F.col("ccos").desc(), F.col("cluster"))
    probes = qc.withColumn("crank", F.row_number().over(wq)).filter(
        F.col("crank") <= n_probe
    ).select("query_id", "qv", "cluster")
    c = corpus.select(
        F.col(cluster_col).alias("cluster"),
        F.col(id_col).alias("neighbor_id"),
        _to_double(F.col(vec_col)).alias("cv"),
    )
    scored = (
        c.join(F.broadcast(probes), on="cluster")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("cosine_r"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine_r").desc(), F.col("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def embedding_near_duplicates(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.99,
    n_planes: int = 8,
    dim: int = 64,
) -> DataFrame:
    """All-pairs near-duplicate detection by cosine ≥ threshold, with LSH
    bucketing as the candidate generator (near-identical vectors share a
    bucket with high probability at 8 planes; exact cosine verifies)."""
    planes = _hyperplanes(dim, n_planes)
    v = corpus.select(
        F.col(id_col).alias("vid"), _to_double(F.col(vec_col)).alias("v")
    ).withColumn("bucket", lsh_bucket("v", planes))
    l, r = v.alias("l"), v.alias("r")
    cand = l.join(
        r,
        (F.col("l.bucket") == F.col("r.bucket")) & (F.col("l.vid") < F.col("r.vid")),
    ).select(
        F.col("l.vid").alias("id_a"),
        F.col("r.vid").alias("id_b"),
        F.col("l.v").alias("va"),
        F.col("r.v").alias("vb"),
    )
    return (
        cand.select(
            "id_a", "id_b", F.round(cosine(F.col("va"), F.col("vb")), 6).alias("cosine_r")
        )
        .filter(F.col("cosine_r") >= threshold)
    )


def quantize_embeddings_int8(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    retain_vec: bool = False,
    passthrough: list[str] | None = None,
) -> DataFrame:
    """Per-vector symmetric int8 quantization: scale = max|v| / 127,
    q_i = floor(v_i/scale + 0.5) ∈ [-127, 127] — the standard
    storage/bandwidth-halving step for embedding corpora (float32 →
    int8 is 4×; the ANN recall cost is the small reconstruction error
    this operator also surfaces). Returns (id, scale, q array<long>).

    All arithmetic is per-row higher-order-function expressions inside
    the scan — zero shuffles at any corpus size — and the explicit
    floor(x + 0.5) rounding makes the quantized codes bit-identical in
    any IEEE-double engine (round() half-even/half-up conventions
    differ; floor(+0.5) does not). Zero vectors quantize to all-zero
    codes with scale 0. ``retain_vec=True`` also emits the double-cast
    source vector as ``v``, so a caller needing codes AND source (e.g.
    reconstruction-error reporting) stays a single scan instead of
    self-joining the output back to the input (r10 review finding).
    ``passthrough`` carries extra source columns (e.g. a cluster id)
    through the same projection — the same single-scan discipline for
    callers that would otherwise join the codes back to the input on id
    (r13 review finding: ivf_topk_int8 did exactly that, a corpus
    id-self-join where a projection suffices)."""
    v = _to_double(F.col(vec_col))
    scale = F.array_max(F.transform(v, lambda x: F.abs(x))) / F.lit(127.0)
    q = F.when(
        scale > 0,
        F.transform(v, lambda x: F.floor(x / scale + F.lit(0.5)).cast("long")),
    ).otherwise(F.transform(v, lambda x: F.lit(0).cast("long")))
    cols = [F.col(id_col), scale.alias("scale"), q.alias("q")]
    if retain_vec:
        cols.insert(1, v.alias("v"))
    for c in passthrough or []:
        cols.append(F.col(c))
    return df.select(*cols)


def cosine_topk_quantized(
    corpus_q: DataFrame,
    queries_q: DataFrame,
    id_col: str = "vec_id",
    codes_col: str = "q",
    k: int = 5,
) -> DataFrame:
    """Exact top-k COSINE over int8-quantized vectors: because symmetric
    quantization scales each vector by a positive constant, the scales
    cancel out of the cosine — so the whole ranking runs on INTEGER dot
    products of the codes (64-dim int8 dots stay far under 2^53; only
    the final normalize divides in doubles). This is the serving half of
    :func:`quantize_embeddings_int8`: 4× less data moves through the
    scan and the broadcast, ranking quality is bounded by the
    per-element quantization error the build step surfaces, and the
    integer arithmetic makes results bit-identical across engines.
    Inputs are (id, q) frames from the quantizer. Same contract as
    :func:`cosine_topk_bruteforce` otherwise (query side broadcast,
    round-6 + id tie-break, self-matches excluded)."""
    from pyspark.sql.window import Window

    q = queries_q.select(F.col(id_col).alias("query_id"), F.col(codes_col).alias("qq"))
    c = corpus_q.select(F.col(id_col).alias("neighbor_id"), F.col(codes_col).alias("cq"))
    num = _idot(F.col("qq"), F.col("cq")).cast("double")
    den = F.sqrt(_idot(F.col("qq"), F.col("qq")).cast("double")) * F.sqrt(
        _idot(F.col("cq"), F.col("cq")).cast("double")
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(F.when(den > 0, num / den).otherwise(F.lit(0.0)), 6).alias(
                "cosine_r"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_r").desc(), F.col("neighbor_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def ivf_topk_int8(
    corpus: DataFrame,
    queries: DataFrame,
    cluster_col: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_probe: int = 2,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF serving with int8 candidate scoring — the production ANN
    composition: the cluster PROBE ranks the k-row float centroid table
    (tiny, broadcast — quantizing it buys nothing), while the
    corpus-sized candidate ranking inside the probed clusters runs on
    integer dot products of int8 codes (:func:`quantize_embeddings_int8`
    — scales cancel out of the cosine), so the stage that actually
    touches the corpus moves 4× less data and stays engine-exact.
    Same output contract as :func:`ivf_topk`; scores are the quantized
    cosines. ``centroids`` — the stored artifact from
    :func:`build_ivf_index`, same as on :func:`ivf_topk` (r10 review
    finding: the int8 path lacked the parameter, so serving from the
    stored index still paid the corpus-wide centroid aggregate every
    call); omitted, the centroids are computed from the corpus."""
    from pyspark.sql.window import Window

    cents = (
        centroids.select("cluster", "centroid")
        if centroids is not None
        else ivf_centroids(corpus, cluster_col, vec_col)
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), _to_double(F.col(vec_col)).alias("qv")
    )
    qc = q.crossJoin(F.broadcast(cents)).select(
        "query_id",
        "cluster",
        F.round(cosine(F.col("qv"), F.col("centroid")), 6).alias("ccos"),
    )
    wq = Window.partitionBy("query_id").orderBy(F.col("ccos").desc(), F.col("cluster"))
    probes = (
        qc.withColumn("crank", F.row_number().over(wq))
        .filter(F.col("crank") <= n_probe)
        .select("query_id", "cluster")
    )
    # Codes and cluster id come out of ONE corpus projection — joining a
    # separate cluster scan back on id would be a corpus id-self-join
    # (full shuffle of the corpus twice for what a passthrough column
    # gives for free; r13 review finding).
    qz_c = quantize_embeddings_int8(
        corpus, id_col, vec_col, passthrough=[cluster_col]
    ).select(
        F.col(id_col).alias("neighbor_id"),
        F.col("q").alias("cq"),
        F.col(cluster_col).alias("cluster"),
    )
    qz_q = quantize_embeddings_int8(queries, id_col, vec_col).select(
        F.col(id_col).alias("query_id"), F.col("q").alias("qq")
    )

    num = _idot(F.col("qq"), F.col("cq")).cast("double")
    den = F.sqrt(_idot(F.col("qq"), F.col("qq")).cast("double")) * F.sqrt(
        _idot(F.col("cq"), F.col("cq")).cast("double")
    )
    scored = (
        qz_c.join(F.broadcast(probes), on="cluster")
        .join(F.broadcast(qz_q), on="query_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(F.when(den > 0, num / den).otherwise(F.lit(0.0)), 6).alias(
                "cosine_r"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_r").desc(), F.col("neighbor_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)
