"""Deduplication operators for large-scale training-data pipelines.

The reference has no dedup surface (SURVEY.md §2.B.8); these extend the
engine per the driver's north star. Every operator is pure DataFrame
algebra over built-in functions — no Python UDFs — so the hot path stays
in whole-stage codegen and scales with executors.

Determinism contract: all hashing defaults to md5 (not hash()/xxhash64,
whose seeds/implementations differ between engines), so the DuckDB
oracles replicate signatures bit-for-bit. ``MinHashSpec(hash_fn=
"xxhash64")`` selects the JVM-native 64-bit path for production corpora
where cross-engine bit-parity is not needed; the verification stage
(exact Jaccard over shingle sets) is hash-agnostic, so both return
identically-scored pairs and differ only in candidate recall at the LSH
stage. A ``MinHashSpec`` holds all four MinHash parameters, checked once,
and every index (in memory or stored) carries the spec it was built
with, so indexes of two specs cannot mix.

Scale design:
- exact dedup: one shuffle on the content hash.
- exact SUBSTRING dedup (span extraction): duplicated k-token windows
  via one map-side-combinable gram-hash count + output-proportional
  semi join, merged to maximal removal intervals by a doc-bounded
  gaps-and-islands window — the distributed stand-in for the
  suffix-array method (Lee et al. 2022); no corpus-sized state, no
  global window.
- MinHash+LSH: each document's distinct shingles are ONE array row
  (`shingle_sets`), the family's single shingle form. Signatures are a
  row projection over it (hash each shingle once, then one array_min per
  affine hash) → band explode → self-join on (band, band_hash) buckets →
  exact Jaccard of the candidates by array_intersect of the two docs'
  arrays. The band join is the only shuffle keyed by band, and no stage
  aggregates shingle rows per document. No O(n²) stage; the band join's
  fan-out is controlled by band width. This is the standard web-scale
  near-dup pipeline (cf. Broder's shingling/minhash and the GPT-3/C4
  dedup recipes; PAPERS.md).
- SimHash: 32-bit signature via nibble arithmetic; candidate pairs via
  4-block banding (pigeonhole: hamming ≤ 3 ⇒ at least one equal block),
  then exact hamming filter — guaranteed recall at threshold ≤ 3, so
  results equal brute force while the join stays bucketed.
- n-gram Jaccard & embedding-cosine near-dup: exact pairwise scoring
  intended for *verification* of candidates or small corpora; the LSH
  variants are the scale path.
"""

from __future__ import annotations

import hashlib
import os
import uuid
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from contextlib import nullcontext
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from dbt_ci_demo_spark.session import checkpoint, pinned


def exact_duplicates(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact-content duplicate groups: md5(text) → (content group, canonical
    keeper = min id, group size). One shuffle on the 128-bit hash; at 100 TB
    the hash groupBy is the only wide stage and AQE handles skew (identical
    boilerplate docs) via skew-join splitting."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("content_hash"))
        .agg(
            F.min(F.col(id_col)).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .filter(F.col("n_copies") > 1)
    )


def dedup_keep_first(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Surviving rows after exact dedup (min id per content hash wins)."""
    w_min = (
        df.groupBy(F.md5(F.col(text_col)).alias("__h"))
        .agg(F.min(F.col(id_col)).alias(id_col))
        .drop("__h")
    )
    return df.join(w_min, on=id_col, how="left_semi")


def shingle_sets(df: DataFrame, text_col: str, id_col: str, k: int = 3) -> DataFrame:
    """Distinct word k-shingles per document as ONE array row:
    (id, shingles) — the MinHash family's shingle representation.

    Tokenization is lowercase whitespace-split (engine-portable); documents
    with fewer than k tokens produce no row and are excluded from
    near-dup detection (standard behavior). The size guard matters:
    Spark's ``sequence(0, n)`` *descends* when n < 0."""
    toks = F.split(F.lower(F.col(text_col)), r"\s+")
    with_toks = df.select(F.col(id_col), toks.alias("__t")).filter(F.size("__t") >= k)
    shingles = F.transform(
        F.sequence(F.lit(0), F.size("__t") - k),
        lambda i: F.concat_ws(" ", F.slice(F.col("__t"), i + 1, k)),
    )
    return with_toks.select(F.col(id_col), F.array_distinct(shingles).alias("shingles"))


def word_shingles(df: DataFrame, text_col: str, id_col: str, k: int = 3) -> DataFrame:
    """Distinct word k-shingles per document as (id, shingle) rows: the
    :func:`shingle_sets` arrays exploded."""
    # explode_outer, not explode: for a plain explode of a column Spark
    # infers a size(shingles) > 0 filter and pushes it below the
    # projection that builds the array, which then runs twice per row and
    # ahead of the short-document filter (an ANSI slice error on a doc
    # with < k tokens). The arrays are never empty, so the rows are equal.
    return shingle_sets(df, text_col, id_col, k).select(
        F.col(id_col), F.explode_outer("shingles").alias("shingle")
    )


_MINHASH_PRIME = 4_294_967_311  # smallest prime > 2^32


def _hash32(hash_fn: str) -> Callable[[Column], Column]:
    """The 32-bit integer hash of a string column that ``hash_fn`` names:
    the one place a hash name is checked (MinHash and SimHash).

    ``md5``: first 8 hex chars → integer; bit-identical in any engine with
    md5 + base conversion (the oracle-parity path). ``xxhash64``: Spark's
    JVM-native seeded xxHash folded into 32 bits — no hex string
    materialization, no conv(), ~3× cheaper per shingle (the per-shingle
    hash dominates MinHash cost at corpus scale) but Spark-specific."""
    if hash_fn == "md5":
        return lambda c: F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long")
    if hash_fn == "xxhash64":
        return lambda c: F.pmod(F.xxhash64(c), F.lit(1 << 32).cast("long"))
    raise ValueError(f"hash_fn must be 'md5' or 'xxhash64', got {hash_fn!r}")


def _affine_params(n: int, seed: int = 1) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the affine hash family
    h_i(x) = (a*x + b) mod P, generated by a fixed LCG so both engines
    embed identical constants. a < 2^20 keeps a*x < 2^52 — no 64-bit
    overflow under ANSI arithmetic in either engine."""
    state, out = seed, []
    for _ in range(n):
        state = (state * 1103515245 + 12345) % (1 << 31)
        a = state % ((1 << 20) - 1) + 1
        state = (state * 1103515245 + 12345) % (1 << 31)
        b = state % (1 << 20)
        out.append((a, b))
    return out


@dataclass(frozen=True)
class MinHashSpec:
    """The MinHash+LSH parameters, checked once when the spec is built:
    word ``k``-shingles, ``n_hashes`` signature rows cut into ``bands``
    bands, and the 32-bit shingle hash (:func:`_hash32`; md5 is
    bit-reproducible across engines, xxhash64 is the JVM-native
    production hash). Every index carries the spec it was built with:
    band keys mean nothing across two specs.

    ``bands`` must divide ``n_hashes`` exactly: a remainder would
    silently drop the trailing signature rows from every band key,
    weakening LSH recall with no visible symptom."""

    k: int = 3
    n_hashes: int = 32
    bands: int = 8
    hash_fn: str = "md5"

    def __post_init__(self) -> None:
        _hash32(self.hash_fn)
        if self.bands < 1 or self.n_hashes % self.bands:
            raise ValueError(
                f"bands={self.bands} must be >= 1 and divide n_hashes={self.n_hashes}"
            )

    @property
    def band_sql(self) -> str:
        """SQL of the (band_id, band_hash) struct array over the ``sig_*``
        columns: band b's bucket key hashes its n_hashes / bands rows."""
        rows = self.n_hashes // self.bands

        def key(b: int) -> str:
            cols = ", ".join(f"sig_{b * rows + r}" for r in range(rows))
            if self.hash_fn == "xxhash64":
                # native multi-arg hash: no string concat materialized at all
                return f"cast(xxhash64({cols}) AS string)"
            return f"md5(concat_ws('|', {cols}))"

        structs = ", ".join(
            f"struct({b} AS band_id, {key(b)} AS band_hash)" for b in range(self.bands)
        )
        return f"array({structs})"


@dataclass(frozen=True)
class MinHashIndex:
    """A near-dup index: ``sets`` (id, shingles array; one row per
    document, the :func:`shingle_sets` rows), ``bands`` (id, band_id,
    band_hash) and the spec both were built with. Only
    :func:`minhash_index` and :func:`read_minhash_index` produce one. The
    frames are caller-managed storage: no operator persists or
    unpersists them, so pin a derived index with
    :func:`~dbt_ci_demo_spark.session.pinned` when more than one action
    reads it."""

    sets: DataFrame
    bands: DataFrame
    spec: MinHashSpec


def minhash_signatures(
    sets: DataFrame, id_col: str, spec: MinHashSpec = MinHashSpec()
) -> DataFrame:
    """MinHash signature per document from its :func:`shingle_sets` row:
    ONE 32-bit hash per shingle (:func:`_hash32`), then n_hashes affine
    hashes (a_i*h + b_i) mod P — the classic universal-hash family — each
    reduced by ``array_min``. A pure row projection: no shuffle, and the
    values equal the min-aggregate over exploded shingle rows bit for bit
    (the DuckDB oracle's form). Versus hashing the shingle text n_hashes
    times, this cuts per-shingle hashing cost ~n_hashes×."""
    # The hash array is its own projection: referenced by all n_hashes
    # transforms, it is not inlined into them, so each shingle is hashed
    # exactly once.
    hashed = sets.select(
        F.col(id_col), F.transform("shingles", _hash32(spec.hash_fn)).alias("__h")
    )
    # SQL strings with integer constants only: built as Column trees, the
    # signature and band plans took ~3.5k py4j round trips, as strings ~280
    # (tests/test_driver_cost.py holds the ceiling).
    return hashed.select(
        F.col(id_col),
        *[
            F.expr(
                f"array_min(transform(__h, h -> ({a} * h + {b}) % {_MINHASH_PRIME}))"
                f" AS sig_{i}"
            )
            for i, (a, b) in enumerate(_affine_params(spec.n_hashes))
        ],
    )


def minhash_index(
    df: DataFrame, text_col: str, id_col: str, spec: MinHashSpec = MinHashSpec()
) -> MinHashIndex:
    """The near-dup index of ``df``: its :func:`shingle_sets` and their
    band table, the signature split into ``spec.bands`` bands, each
    hashed to a bucket key. Both parts are per-document and lazy; the
    band table is the precomputable, storable artifact of LSH — a
    production corpus keeps it materialized (:func:`write_minhash_index`)
    and new batches join against it
    (:func:`minhash_near_duplicates_against`). Both parts derive from the
    sets, so pin ``sets`` when both are computed."""
    sets = shingle_sets(df, text_col, id_col, spec.k)
    bands = minhash_signatures(sets, id_col, spec).select(
        F.col(id_col), F.explode(F.expr(spec.band_sql)).alias("b")
    ).select(id_col, "b.band_id", "b.band_hash")
    return MinHashIndex(sets, bands, spec)


def lsh_pairs_from_buckets(banded: DataFrame, id_col: str) -> DataFrame:
    """LSH banding: document pairs sharing any (band_id, band_hash)
    bucket, as a self-join of an already-built band table (an index's
    ``bands``). The self-join references its input from both sides, and
    the two subtrees do not share execution (one side plans as a
    BroadcastExchange — there is no exchange to reuse), so an un-pinned
    input re-runs the whole shingle→signature→band derivation per side.
    Bucket sizes are the scale knob, not corpus size²."""
    left = banded.alias("l")
    right = banded.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band_id") == F.col("r.band_id"))
            & (F.col("l.band_hash") == F.col("r.band_hash"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"), F.col(f"r.{id_col}").alias("id_b")
        )
        .distinct()
    )


def set_jaccard_scores(sets: DataFrame, id_col: str, pairs: DataFrame) -> DataFrame:
    """Exact Jaccard similarity of candidate pairs from their
    :func:`shingle_sets` arrays: |A∩B| / (|A|+|B|-|A∩B|) with |A∩B| =
    size(array_intersect(A, B)). Two id-keyed joins bring each pair its
    two arrays; the score is a row projection, so no stage aggregates
    shingle rows. The family's one verifier: self-dedup and every
    admission path, with or without a stored index."""
    sa = sets.select(F.col(id_col).alias("id_a"), F.col("shingles").alias("sa"))
    sb = sets.select(F.col(id_col).alias("id_b"), F.col("shingles").alias("sb"))
    n_inter = F.size(F.array_intersect("sa", "sb"))
    return (
        pairs.join(sa, on="id_a")
        .join(sb, on="id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                n_inter.cast("double") / (F.size("sa") + F.size("sb") - n_inter), 6
            ).alias("jaccard"),
        )
    )


def minhash_near_duplicates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    spec: MinHashSpec = MinHashSpec(),
    threshold: float = 0.7,
) -> DataFrame:
    """Full MinHash+LSH near-dup pipeline: shingle sets → signatures (a
    row projection) → banded candidates → exact-Jaccard verification
    (array_intersect) ≥ threshold. The verified pairs do not depend on
    ``spec.hash_fn`` (Jaccard scoring is hash-agnostic); only candidate
    recall can.

    Eager: the near-dup pair list is computed and reliable-checkpointed
    (lineage truncated to the checkpoint files). Two frames are pinned
    for the call: the sets (read by the signatures and by both verifier
    joins) and the band table (read from both sides of the bucket
    self-join). The candidate pairs are not: the verifier reads them
    once, and a cached copy keeps the distinct's un-coalesced shuffle
    layout, which the checkpointed result inherits and every consumer
    then pays for (measured slower end to end with
    ``duplicate_clusters`` at 550, 5.5k and 22k documents). Both pins are
    unpersisted before returning: no invocation leaves anything pinned
    in executor storage."""
    index = minhash_index(df, text_col, id_col, spec)
    cand = lsh_pairs_from_buckets(index.bands, id_col)
    out = set_jaccard_scores(index.sets, id_col, cand).filter(F.col("jaccard") >= threshold)
    with pinned(index.sets, index.bands):
        return checkpoint(out)


_INDEX_PARTS = ("sets", "bands")


def settle_all(thunks: list[Callable[[], object]]) -> list:
    """Run independent thunks (Spark actions, FS metadata calls) on a
    small thread pool, let every one settle, then return their results
    in order or raise the first error — a failure must not leave
    siblings racing the caller's cleanup or retry. Overlapped, a later
    job back-fills the executors a job's tail frees."""
    with ThreadPoolExecutor(max_workers=8) as pool:
        futures = [pool.submit(thunk) for thunk in thunks]
    return [f.result() for f in futures]


def _index_fs(spark: SparkSession, base_path: str):
    """Hadoop FileSystem + Path factory for the index location (works on
    any scheme, not just local disk — the materialize._scrub_location
    idiom)."""
    jvm = spark._jvm
    path_cls = jvm.org.apache.hadoop.fs.Path
    fs = path_cls(base_path).getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, path_cls


def _recorded_spec(fs, spec_dir) -> MinHashSpec:
    """The spec the index's last overwrite recorded as the empty file
    ``_spec/<k>-<n_hashes>-<bands>-<hash_fn>``."""
    found = fs.listStatus(spec_dir) if fs.exists(spec_dir) else []
    names = [st.getPath().getName() for st in found]
    names = [n for n in names if not n.startswith(".")]  # Hadoop's .crc files
    if len(names) != 1:
        raise ValueError(f"{spec_dir}: expected one recorded MinHash spec, found {names}")
    k, n_hashes, bands, hash_fn = names[0].split("-")
    return MinHashSpec(int(k), int(n_hashes), int(bands), hash_fn)


def write_minhash_index(
    index: MinHashIndex,
    base_path: str,
    mode: str = "overwrite",
    batch_id: str | None = None,
) -> None:
    """Write (``mode="overwrite"``) or REFRESH (``mode="append"``) the
    stored near-dup index at ``base_path``: two parquet tables, ``sets/``
    (id, shingles array) and ``bands/`` (id, band_id, band_hash), and the
    index's spec, recorded as the empty file
    ``_spec/<k>-<n_hashes>-<bands>-<hash_fn>`` (no Spark job).

    The append mode is the daily-admission refresh: after a batch is
    admitted via :func:`minhash_near_duplicates_against`, appending the
    batch's own index makes the stored index serve corpus ∪ batch for
    the NEXT admission. The refresh is EXACT because neither part
    aggregates across documents, so index(corpus ∪ batch) =
    index(corpus) ∪ index(batch) row for row, and it costs O(|batch|)
    compute + writes while the corpus partitions are never read or
    rewritten; deletions and edits still need an overwrite. An append
    whose spec differs from the recorded one (or finds none) raises
    ValueError before it stages or scrubs anything: an md5 index must
    not take xxhash64 bands.

    An append stages both parts under ``_staging-<token>/``, promotes
    them into the live dirs by per-file rename under a batch-token name
    prefix and, with a ``batch_id``, commits the marker
    ``_appends/<token>`` last (token = ``sha256(batch_id)[:16]``): a
    committed repeat is a no-op and a retry after a failed promote is
    exact. Without a ``batch_id`` a failed append cannot be retried
    exactly; rebuild with an overwrite, which first scrubs every commit
    marker, the recorded spec and all staging debris. Readers gate on
    the commit marker or serialize behind the append. The failure cases
    and the concurrency contract: SCALE.md "Stored-index write/refresh
    protocol"."""
    if mode not in ("overwrite", "append"):
        raise ValueError(f"mode must be 'overwrite' or 'append', got {mode!r}")
    fs, path_cls = _index_fs(index.sets.sparkSession, base_path)

    def path(*parts: str):
        return path_cls(os.path.join(base_path, *parts))

    if mode == "overwrite":
        # Every protocol byproduct (markers, spec, staging) has a "_" name.
        # Scrub them BEFORE the rewrite: a crash after it leaves an index
        # that needs another overwrite, never a stale marker or spec.
        if fs.exists(path()):
            for st in fs.listStatus(path()):
                if st.getPath().getName().startswith("_"):
                    fs.delete(st.getPath(), True)
        out_base = base_path
    else:
        recorded = _recorded_spec(fs, path("_spec"))
        if recorded != index.spec:
            raise ValueError(
                f"cannot append a {index.spec} index to {base_path}, built with "
                f"{recorded}: band keys do not match across specs"
            )
        # File-name-safe token: hash the caller's batch_id (any string)
        # so it can never escape the marker/prefix namespace.
        token = (
            hashlib.sha256(batch_id.encode("utf-8")).hexdigest()[:16]
            if batch_id is not None
            else uuid.uuid4().hex[:16]
        )
        marker = path("_appends", token)
        if batch_id is not None and fs.exists(marker):
            return  # this batch already committed — idempotent repeat
        prefix = f"b-{token}-"
        # Scrub what a prior PARTIAL promote of this token left in the
        # live dirs (exact: promoted names carry the prefix; the recorded
        # spec means an overwrite wrote both dirs), then this token's own
        # staging debris.
        for part in _INDEX_PARTS:
            for st in fs.listStatus(path(part)):
                if st.getPath().getName().startswith(prefix):
                    fs.delete(st.getPath(), False)
        out_base = os.path.join(base_path, f"_staging-{token}")
        fs.delete(path_cls(out_base), True)
    # The two part writes are independent jobs and overlap (sf0.1:
    # 2.0-2.5 s sequential → 1.1-1.35 s per corpus build); a pinned
    # ``sets`` is computed once for both.
    settle_all([
        lambda p=part, f=frame: f.write.mode("overwrite").parquet(os.path.join(out_base, p))
        for part, frame in zip(_INDEX_PARTS, (index.sets, index.bands))
    ])
    if mode == "overwrite":
        s = index.spec
        fs.create(path("_spec", f"{s.k}-{s.n_hashes}-{s.bands}-{s.hash_fn}"), True).close()
        return
    # Promote: move each staged data file into its live dir under the
    # token prefix (pure renames to distinct names, so they overlap too),
    # then commit the marker.
    renames = []
    for part in _INDEX_PARTS:
        for st in fs.listStatus(path_cls(os.path.join(out_base, part))):
            name = st.getPath().getName()
            if not name.startswith(("_", ".")):  # _SUCCESS / hidden
                renames.append((st.getPath(), path(part, prefix + name)))

    def promote(src, dst) -> None:
        # Hadoop rename reports failure by returning False, not raising:
        # raise, so the marker is never committed over a partial promote.
        if not fs.rename(src, dst):
            raise IOError(
                f"minhash index promote failed: rename {src} -> {dst} returned "
                "false; the commit marker was NOT written — retry with the "
                "same batch_id to repair"
            )

    settle_all([lambda src=src, dst=dst: promote(src, dst) for src, dst in renames])
    if batch_id is not None:
        fs.create(marker, True).close()
    fs.delete(path_cls(out_base), True)


def read_minhash_index(spark: SparkSession, base_path: str) -> MinHashIndex:
    """Read back the stored index written by :func:`write_minhash_index`,
    with the spec its last overwrite recorded."""
    fs, path_cls = _index_fs(spark, base_path)
    spec = _recorded_spec(fs, path_cls(os.path.join(base_path, "_spec")))
    sets, bands = (spark.read.parquet(os.path.join(base_path, p)) for p in _INDEX_PARTS)
    return MinHashIndex(sets, bands, spec)


def minhash_near_duplicates_against(
    corpus: MinHashIndex,
    batch: MinHashIndex,
    id_col: str,
    threshold: float = 0.7,
) -> DataFrame:
    """Incremental near-dup detection: MinHash candidates between a NEW
    batch and an EXISTING corpus only — never corpus×corpus. Returns
    (id_a = corpus doc, id_b = batch doc, jaccard ≥ threshold).

    This is the production shape of continuous corpus curation: the
    corpus's band table is a precomputable, storable artifact, so
    admitting a new batch costs shingle+sign+band the BATCH (delta-sized
    work) plus one equi-join of batch bands against corpus bands — a
    bucketed join whose cost scales with bucket collision counts, not
    |corpus|×|batch|. The self-join pipeline
    (:func:`minhash_near_duplicates`) is the first-build path; this is
    every day after. Document ids must be unique across the two sides
    (standard for global doc ids), and both indexes must share one spec.
    Every path verifies with :func:`set_jaccard_scores` over the union of
    both sides' shingle sets. Eager: the pair result is
    reliable-checkpointed.

    The plan follows the corpus index. A stored one (its sets a bare
    scan: :func:`read_minhash_index`, or a checkpoint) runs no
    corpus-side computation at all: the batch bands are
    broadcast into the band join, and the stored sets are semi-joined
    down to the candidate ids and pinned for the call — its one pin — so
    no stage aggregates or shuffles the full corpus. An in-memory corpus
    is verified unrestricted, over the caller's pins (SCALE.md
    "Incremental admission")."""
    if corpus.spec != batch.spec:
        raise ValueError(
            f"corpus index {corpus.spec} and batch index {batch.spec} differ: "
            "band keys do not match across specs"
        )
    stored = corpus.sets._jdf.queryExecution().analyzed().children().isEmpty()
    # unhinted, the planner may shuffle the stored corpus bands
    bands_b = F.broadcast(batch.bands) if stored else batch.bands
    cand = (
        corpus.bands.alias("l")
        .join(
            bands_b.alias("r"),
            (F.col("l.band_id") == F.col("r.band_id"))
            & (F.col("l.band_hash") == F.col("r.band_hash")),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"), F.col(f"r.{id_col}").alias("id_b")
        )
        .distinct()
    )
    sets = corpus.sets.unionByName(batch.sets)
    if stored:
        # The verifier reads the sets twice (once per pair side);
        # restricted to the candidate ids and pinned, the stored sets are
        # scanned once and the pin is candidate-sized.
        ids = (
            cand.select(F.col("id_a").alias(id_col))
            .unionByName(cand.select(F.col("id_b").alias(id_col)))
            .distinct()
        )
        sets = sets.join(F.broadcast(ids), on=id_col, how="left_semi")
    with pinned(sets) if stored else nullcontext():
        out = set_jaccard_scores(sets, id_col, cand)
        return checkpoint(out.filter(F.col("jaccard") >= threshold))


def containment_candidates(
    fps: DataFrame,
    id_col: str,
    fp_col: str = "fingerprint",
    max_doc_freq: int = 20,
    min_shared: int = 2,
    min_containment: float = 0.3,
) -> DataFrame:
    """Containment/partial-overlap detection from shared winnowing
    fingerprints (the plagiarism-detection half of dedup that MinHash
    misses: resemblance ~ 0 when a short doc is wholly CONTAINED in a
    long one, but containment ~ 1).

    Input is a (id, fingerprint) table — e.g.
    :func:`dbt_ci_demo_spark.operators.text.winnow_fingerprints` output,
    one row per distinct fingerprint per document. Output:
    (id_a, id_b, shared, containment) with id_a < id_b, where
    ``containment`` = shared / min(|fps_a|, |fps_b|) — ≥ the overlap
    share of the smaller document.

    Scale shape: per-fingerprint doc-frequency is computed first and
    fingerprints outside [2, max_doc_freq] are DROPPED before the
    self-join — the "stop hash" trick: a fingerprint appearing in
    millions of documents is boilerplate whose pairs are both
    meaningless and quadratic, so the cap bounds every join bucket's
    fan-out at max_doc_freq² pairs and keeps total work linear in corpus
    size. The pair aggregation and size joins are co-partitioned
    shuffles on (id_a, id_b) / id. No all-pairs stage anywhere.

    STAGING ORDER (by design, not a bug): a document duplicated more
    than ``max_doc_freq`` times pushes ALL of its fingerprints over the
    doc-frequency cap, so its copies are invisible to this operator —
    the stop-hash cap cannot distinguish organic boilerplate from mass
    duplication. Run exact and/or MinHash dedup FIRST and feed this
    operator the survivors: after dedup each surviving doc's
    fingerprints have df reflecting genuine cross-document reuse, and
    the contained/quoting pairs reappear. The staged pipeline is
    exact-dedup → near-dedup → containment; tests pin both the blind
    spot and the staged recovery.

    ``fps`` is read by several subtrees (per-doc sizes, the stop-hash df
    table, both self-join sides), so it is cut once with
    :func:`~dbt_ci_demo_spark.session.checkpoint` at call time (SCALE.md
    "Materialization policy")."""
    if max_doc_freq < 2:
        raise ValueError("max_doc_freq must be >= 2 (pairs need 2 docs)")
    fps = checkpoint(fps)
    sizes = fps.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    kept_fp = (
        fps.groupBy(fp_col)
        .agg(F.count(F.lit(1)).alias("df"))
        .filter((F.col("df") >= 2) & (F.col("df") <= max_doc_freq))
        .select(fp_col)
    )
    rare = fps.join(kept_fp, on=fp_col)
    pairs = (
        rare.alias("a")
        .join(
            rare.alias("b"),
            (F.col(f"a.{fp_col}") == F.col(f"b.{fp_col}"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    na = sizes.select(F.col(id_col).alias("id_a"), F.col("n").alias("n_a"))
    nb = sizes.select(F.col(id_col).alias("id_b"), F.col("n").alias("n_b"))
    return (
        pairs.join(na, on="id_a")
        .join(nb, on="id_b")
        .select(
            "id_a",
            "id_b",
            "shared",
            F.round(
                F.col("shared").cast("double") / F.least(F.col("n_a"), F.col("n_b")), 6
            ).alias("containment"),
        )
        .filter(
            (F.col("shared") >= min_shared)
            & (F.col("containment") >= min_containment)
        )
    )


# ---------------------------------------------------------------------------
# Duplicate clustering: connected components over near-dup pairs
# ---------------------------------------------------------------------------


def connected_components_star(
    pairs: DataFrame, a_col: str = "id_a", b_col: str = "id_b", max_iter: int = 50,
    stats: dict | None = None,
) -> DataFrame:
    """Connected components of a pair graph: (id, component) where
    component = the minimum node id reachable from the node — the
    engine's one CC operator. A self-pair (x, x) labels x with itself.

    This is the step that turns pairwise near-dup *detections* into corpus
    *dedup decisions* (:func:`duplicate_clusters`): documents A~B and B~C
    end up in one group even though (A, C) was never emitted as a pair.

    Alternating large-star/small-star edge rewriting (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14) converges in
    O(log diameter) rounds, where min-label propagation needs one round
    per hop. Min-label was the engine's second CC loop until it was
    measured against this one on near-dup cluster graphs (same JVM,
    4 cores, set-equal outputs; SCALE.md "Duplicate clustering"): star
    took fewer rounds (3 vs 8 on the sf0.1 SimHash pairs) and less time
    on every input, 6.15 vs 13.08 s on those 1.5M pairs.

    Per round: large-star connects every neighbor larger than u to u's
    minimum neighborhood label (one groupBy + join), small-star does the
    same for the smaller neighbors over min-oriented edges. Both are
    key-partitioned shuffles; the edge set is reliable-checkpointed per
    round, so lineage stays O(1) and nothing is pinned in executor
    storage (a local checkpoint's blocks would stay there until the
    ContextCleaner frees them after GC; SCALE.md "Materialization
    policy"). Convergence = the round's output is a star forest (one
    2-stage aggregate per round; see below)."""
    edges = checkpoint(
        pairs.filter(F.col(a_col) != F.col(b_col))
        .select(
            F.least(F.col(a_col), F.col(b_col)).alias("a"),
            F.greatest(F.col(a_col), F.col(b_col)).alias("b"),
        )
        .distinct()
    )
    isolated = pairs.filter(F.col(a_col) == F.col(b_col)).select(
        F.col(a_col).alias("id")
    )

    # Per-node neighborhood minimum as a groupBy joined back, not a window:
    # skew-safe (SCALE.md "Duplicate clustering").

    def large_star(e: DataFrame) -> DataFrame:
        sym = e.select(F.col("a").alias("u"), F.col("b").alias("v")).unionByName(
            e.select(F.col("b").alias("u"), F.col("a").alias("v"))
        )
        mins = sym.groupBy("u").agg(
            F.least(F.min("v"), F.col("u")).alias("m")
        )
        out = (
            sym.filter(F.col("v") > F.col("u"))
            .join(mins, "u")
            .select(
                F.least(F.col("v"), F.col("m")).alias("a"),
                F.greatest(F.col("v"), F.col("m")).alias("b"),
            )
        )
        # No distinct here: small_star's groupBy-min and its final
        # distinct are duplicate-tolerant, and each round's edge set is
        # bounded by |E| with or without it — dropping the exchange saves
        # a full shuffle per round (the dedup happens once, in
        # small_star, instead of twice).
        return out.filter(F.col("a") != F.col("b"))

    def small_star(e: DataFrame) -> DataFrame:
        # orient every edge large->small: u = max endpoint, v = min
        oriented = e.select(F.col("b").alias("u"), F.col("a").alias("v"))
        # m <= every v < u, so no least(m, u) needed here
        mins = oriented.groupBy("u").agg(F.min("v").alias("m"))
        to_min = oriented.join(mins, "u").select(
            F.col("v").alias("hi"), F.col("m").alias("lo")
        ).unionByName(
            # (u, m) is constant per u — take it from the 1-row-per-u
            # aggregate, not deg(u) duplicated join rows
            mins.select(F.col("u").alias("hi"), F.col("m").alias("lo"))
        )
        return (
            to_min.filter(F.col("hi") != F.col("lo"))
            .select(F.col("lo").alias("a"), F.col("hi").alias("b"))
            .distinct()
        )

    # Fixpoint: the round's output is a star forest (why that is exact:
    # SCALE.md "Duplicate clustering").
    for rounds in range(1, max_iter + 1):
        new_edges = checkpoint(small_star(large_star(edges)))
        stacked = new_edges.select(
            F.col("a").alias("n"), F.lit(0).alias("b_side")
        ).unionByName(
            new_edges.select(F.col("b").alias("n"), F.lit(1).alias("b_side"))
        )
        violations = (
            stacked.groupBy("n")
            .agg(F.sum("b_side").alias("nb"), F.count(F.lit(1)).alias("deg"))
            .filter((F.col("nb") > 1) | ((F.col("nb") == 1) & (F.col("deg") > 1)))
            .count()
        )
        edges = new_edges
        if violations == 0:
            if stats is not None:
                stats["rounds"] = rounds
            break
    else:
        raise RuntimeError(f"connected_components_star: no fixpoint in {max_iter} rounds")
    # at the fixpoint the edge set is a star forest: (min, v) per non-root
    labels = edges.select(F.col("b").alias("id"), F.col("a").alias("component"))
    roots = edges.select(F.col("a").alias("id")).distinct().withColumn(
        "component", F.col("id")
    )
    singles = isolated.distinct().withColumn("component", F.col("id"))
    return labels.unionByName(roots).unionByName(
        singles.join(labels.select("id"), "id", "left_anti").join(
            roots.select("id"), "id", "left_anti"
        )
    )


def duplicate_clusters(
    pairs: DataFrame, a_col: str = "id_a", b_col: str = "id_b"
) -> DataFrame:
    """Cluster near-dup pairs and mark survivors: (doc_id, cluster_id,
    is_survivor) for every document appearing in at least one pair; the
    cluster minimum survives, the rest are the removal set."""
    cc = connected_components_star(pairs, a_col, b_col)
    return cc.select(
        F.col("id").alias("doc_id"),
        F.col("component").alias("cluster_id"),
        (F.col("id") == F.col("component")).alias("is_survivor"),
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash32(
    df: DataFrame, text_col: str, id_col: str, hash_fn: str = "md5"
) -> DataFrame:
    """32-bit SimHash per document over distinct lowercase word tokens.

    Bit j (= 4*k + b for hex char k, bit b) of a token's 32-bit hash
    contributes +1; the signature bit is 1 iff at least half the tokens set
    it. With the default ``hash_fn="md5"`` the hash is substring/conv
    arithmetic any ANSI engine reproduces exactly (the oracle-parity path);
    ``hash_fn="xxhash64"`` is the production path — JVM-native, no hex
    string materialization, same per-token cost profile as MinHash's
    xxhash64 mode (see :func:`_hash32`)."""
    # Two signature plans, routed by MEASURED cost (sf0.1, 3-pass A/B,
    # value-identical outputs either way):
    #
    # - md5 (default): ZERO-SHUFFLE per-row signature (r06). The
    #   signature is a per-document aggregate of the document's own
    #   tokens, so it never needed the explode → token shuffle →
    #   groupBy(id) it used through r05: transform() hashes each
    #   distinct token once (separate Project so the hashed array
    #   materializes once), then 32 aggregate() folds count the bit
    #   contributions — no exchange in the signature stage at any
    #   corpus size. dedup_simhash 2.8→1.9 s: conv(substring(md5))
    #   dominates per-token cost, so skipping the explode+exchange wins.
    # - xxhash64: the EXPLODED groupBy plan. The JVM-native hash is so
    #   cheap in codegen'd row form that per-element evaluation inside
    #   higher-order lambdas costs more than the exchange it saves
    #   (measured 1.7→2.6 s the other way); the groupBy's map-side
    #   partial agg already collapses each document's contiguous token
    #   rows to one row before the shuffle, so the exploded plan's
    #   exchange is doc-sized, not token-sized. (Same asymmetry measured
    #   on MinHash — see SCALE.md.)
    #
    # Bit mapping identical in both: for md5, bit j of the signature =
    # bit 4*(7-j//4)+j%4 of v (hex char k carries place value 16^(7-k));
    # for xxhash64 the same extraction is a fixed bit permutation,
    # equally valid as a simhash bit assignment. Empty-token documents
    # produce no signature row on either plan.
    hash32 = _hash32(hash_fn)
    if hash_fn == "xxhash64":
        tokens = (
            df.select(
                F.col(id_col),
                F.explode(
                    F.array_distinct(F.split(F.lower(F.col(text_col)), r"\s+"))
                ).alias("tok"),
            )
            .filter(F.col("tok") != "")
            .select(F.col(id_col), hash32(F.col("tok")).alias("v"))
        )
        bit_sums = tokens.groupBy(id_col).agg(
            F.count(F.lit(1)).alias("n_tok"),
            *[
                F.sum(
                    F.shiftright(F.col("v"), 4 * (7 - j // 4) + j % 4).bitwiseAND(
                        F.lit(1)
                    )
                ).alias(f"bit_{j}")
                for j in range(32)
            ],
        )
    else:
        toks = F.array_distinct(
            F.filter(
                F.split(F.lower(F.col(text_col)), r"\s+"), lambda t: t != F.lit("")
            )
        )
        hashed = df.select(
            F.col(id_col),
            F.transform(toks, hash32).alias("__hv"),
        ).filter(F.size("__hv") > 0)
        n_tok = F.size("__hv")

        def _bit_count(j: int) -> Column:
            pos = 4 * (7 - j // 4) + j % 4
            return F.aggregate(
                F.col("__hv"),
                F.lit(0).cast("long"),
                lambda acc, v: acc + F.shiftright(v, pos).bitwiseAND(F.lit(1)),
            ).alias(f"bit_{j}")

        bit_sums = hashed.select(
            F.col(id_col), n_tok.alias("n_tok"), *[_bit_count(j) for j in range(32)]
        )
    sig = sum(
        [
            (F.when(F.col(f"bit_{j}") * 2 >= F.col("n_tok"), F.lit(2**j)).otherwise(0))
            for j in range(32)
        ],
        F.lit(0),
    ).cast("long")
    return bit_sums.select(F.col(id_col), sig.alias("simhash"))


def simhash_near_duplicates(
    df: DataFrame, text_col: str, id_col: str, max_hamming: int = 3,
    hash_fn: str = "md5",
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance ≤ max_hamming (≤ 3).

    Candidates come from 4-block banding of the 32-bit signature: if two
    hashes differ in ≤ 3 bits, at least one 8-bit block is identical
    (pigeonhole), so banded candidate generation has *guaranteed* recall —
    the result provably equals brute force while the join stays bucketed.
    ``hash_fn`` is forwarded to :func:`simhash32` (md5 = oracle parity,
    xxhash64 = production).

    With ``hash_fn="xxhash64"`` the block table is pinned and the pair
    result checkpointed, so this function is EAGER (it runs the pair
    computation at call time); the md5 path stays lazy and unpinned
    (measured both ways: SCALE.md "SimHash"). For a lazy xxhash64
    composition, compose :func:`simhash32` + the 4-block banding
    directly."""
    if max_hamming > 3:
        raise ValueError("4-block banding guarantees recall only for max_hamming <= 3")
    sig = simhash32(df, text_col, id_col, hash_fn=hash_fn)
    blocks = sig.select(
        F.col(id_col),
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(blk).alias("block_id"),
                        (F.floor(F.col("simhash") / (2 ** (8 * blk))) % 256)
                        .cast("int")
                        .alias("block_val"),
                    )
                    for blk in range(4)
                ]
            )
        ).alias("b"),
    ).select(id_col, "simhash", "b.block_id", "b.block_val")
    l, r = blocks.alias("l"), blocks.alias("r")
    cand = (
        l.join(
            r,
            (F.col("l.block_id") == F.col("r.block_id"))
            & (F.col("l.block_val") == F.col("r.block_val"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
            F.col("l.simhash").alias("sim_a"),
            F.col("r.simhash").alias("sim_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    out = cand.select(
        "id_a", "id_b", hamming.cast("int").alias("hamming")
    ).filter(F.col("hamming") <= max_hamming)
    if hash_fn != "xxhash64":
        return out
    with pinned(blocks):
        return checkpoint(out)


def decontaminate_against(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 13,
    min_shared: int = 1,
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """Train-set DECONTAMINATION: flag corpus documents that share word
    n-grams with a held-out benchmark/eval set (the GPT-3 appendix-C /
    PaLM 13-gram wash — a training corpus that contains eval text
    invalidates the eval). Returns per flagged document
    (id, n_grams, shared_ngrams, overlap_frac) where ``overlap_frac`` =
    shared / distinct n-grams of the document; downstream either drops
    the doc or splices out the contaminated spans.

    Scale shape: the benchmark side is eval-sized (thousands of docs —
    MMLU/HumanEval-scale), so its distinct n-gram set is BROADCAST
    (``broadcast_benchmark=True``) and the corpus side is one scan +
    broadcast semi-pattern join + per-doc aggregate: no corpus-wide
    shuffle except the final doc-keyed count, which composes with the
    shingle aggregate already computed for dedup. For an unusually large
    benchmark set pass ``broadcast_benchmark=False`` and the join falls
    back to a hash shuffle on the n-gram.

    Uses the same whitespace word-shingle semantics (and the same DuckDB
    twin) as the MinHash pipeline; n-grams are matched exactly — this
    catches verbatim leakage, while near-dup contamination is the
    MinHash/containment operators' job (staged after exact decontam)."""
    if n < 1 or min_shared < 1:
        raise ValueError("n and min_shared must be >= 1")
    c_grams = word_shingles(corpus, text_col, id_col, k=n)
    b_grams = (
        word_shingles(benchmark, text_col, id_col, k=n)
        .select("shingle")
        .distinct()
    )
    if broadcast_benchmark:
        b_grams = F.broadcast(b_grams)
    per_doc = c_grams.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_grams"))
    hits = (
        c_grams.join(b_grams, on="shingle")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("shared_ngrams"))
        .filter(F.col("shared_ngrams") >= min_shared)
    )
    return hits.join(per_doc, on=id_col).select(
        id_col,
        "n_grams",
        "shared_ngrams",
        F.round(F.col("shared_ngrams").cast("double") / F.col("n_grams"), 6).alias(
            "overlap_frac"
        ),
    )


def duplicated_ngram_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 8,
    min_occurrences: int = 2,
) -> DataFrame:
    """EXACT SUBSTRING dedup (span extraction): find every maximal token
    span that is part of text duplicated elsewhere in the corpus — the
    distributed reformulation of suffix-array exact-substring dedup
    (Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    Better"; the RefinedWeb/Gopher exact-span stage). Returns per
    duplicated span (id, span_start, span_end, span_tokens, n_dup_grams)
    with 0-based inclusive token indices; downstream splices the spans
    out of the document (removal-set semantics) rather than dropping the
    whole doc — the behavior that distinguishes this family from
    doc-level exact/near dedup (`exact_duplicates`, MinHash).

    Semantics: tokenize on whitespace (case-SENSITIVE — "exact" means
    exact; `word_shingles`' lowercase canon is the near-dup family's),
    slide a k-token window, and mark every window whose token sequence
    occurs >= ``min_occurrences`` times corpus-wide (same-document
    repeats count — self-repetition IS duplication, cf. the suffix
    array's corpus-level count). Any duplicated substring of length
    L >= k tokens is covered by its L-k+1 duplicated windows, so spans
    of at least k tokens are recovered with EXACT boundaries; shorter
    duplicates are invisible (the standard k-length floor). Marked
    window starts at distance <= k merge (overlap or exact adjacency)
    into one maximal removal interval via per-document gaps-and-islands.

    Plan shape (one corpus tokenize per reference, three shuffles, no
    O(n^2) stage):
      1. projection: split + transform/posexplode -> (id, pos, gram
         hash); narrow, whole-stage-codegen.
      2. groupBy(gram hash) count -> duplicated-gram set: map-side
         combinable; the hottest gram (boilerplate) partial-aggregates
         before the exchange.
      3. left-semi join grams -> duplicated set on the 8-byte
         ``xxhash64`` of the gram, NOT the k-token string — the
         `remove_duplicate_lines` key discipline: shuffle bytes shrink
         severalfold exactly on the heavy keys, the hash never reaches
         the output, and a 64-bit collision (the only way results could
         differ from keying on the string, ~n^2/2^65) merely marks one
         extra window. Marked rows are output-proportional; AQE
         skew-splits a boilerplate heavy-hitter.
      4. one doc-keyed exchange for the island merge: lag + running sum
         share a single (id, pos) sort — Spark plans ONE Window exchange
         with two Window nodes — and every partition is DOC-BOUNDED
         (<= n_tokens - k + 1 rows), the repo's accepted bounded-window
         class; the closing (id, island) aggregate is map-side
         combinable.
    The gram table is intentionally NOT pinned: it is corpus x ~n_tokens
    rows, so re-deriving it from a column-pruned (id, text) scan on the
    dup-count branch beats storing a corpus-scale copy (the
    `win_ntile_quartiles` bare-scan opt-out, applied at step 2/3's
    shared subtree).
    """
    if k < 1 or min_occurrences < 2:
        raise ValueError("k must be >= 1 and min_occurrences >= 2")
    toks = F.split(F.col(text_col), r"\s+")
    with_toks = df.select(F.col(id_col), toks.alias("__t")).filter(
        F.size("__t") >= k
    )
    gram_hashes = F.transform(
        F.sequence(F.lit(0), F.size("__t") - k),
        lambda i: F.xxhash64(F.concat_ws("\x1f", F.slice(F.col("__t"), i + 1, k))),
    )
    grams = with_toks.select(
        F.col(id_col), F.posexplode(gram_hashes).alias("pos", "__gh")
    )
    dup = (
        grams.groupBy("__gh")
        .agg(F.count(F.lit(1)).alias("__c"))
        .filter(F.col("__c") >= min_occurrences)
        .select("__gh")
    )
    marked = grams.join(dup, on="__gh", how="left_semi")
    w = Window.partitionBy(id_col).orderBy("pos")
    islands = (
        marked.withColumn(
            "__new",
            F.when(F.col("pos") - F.lag("pos").over(w) <= k, F.lit(0)).otherwise(
                F.lit(1)
            ),
        )
        .withColumn(
            "__isl",
            F.sum("__new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
    )
    return (
        islands.groupBy(id_col, "__isl")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") + F.lit(k - 1)).cast("long").alias("span_end"),
            (F.max("pos") - F.min("pos") + F.lit(k)).cast("long").alias("span_tokens"),
            F.count(F.lit(1)).alias("n_dup_grams"),
        )
        .drop("__isl")
    )


def remove_spans(
    docs: DataFrame,
    spans: DataFrame,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """Apply `duplicated_ngram_spans` removal intervals: splice the
    duplicated token ranges OUT of each document and reassemble the
    survivors — the second half of the exact-substring dedup recipe
    (detect spans, then cut them, keeping the unique remainder of the
    doc instead of dropping it).

    Contract: ``spans`` carries (id, span_start, span_end) token-index
    intervals produced against the SAME tokenization this operator uses
    (case-sensitive whitespace split) — the `duplicated_ngram_spans`
    output. Reassembly joins surviving tokens with single spaces
    (original whitespace runs are not preserved — standard for
    token-level splicing). Row-preserving: docs with no spans pass
    through with n_removed = 0; a fully-duplicated doc survives with
    empty text (the caller decides to drop it), mirroring
    `remove_duplicate_lines`.

    Plan shape: the span table is aggregated per doc (tiny,
    output-proportional) and joined back doc-keyed — ONE shuffle join;
    the splice itself is a pure array expression (transform + filter
    with index + exists over the per-doc interval list), zero
    additional shuffles, whole-stage-codegen. Interval lists are
    per-doc bounded (<= n_tokens/k spans), so the exists() probe is
    cheap; no explode of the corpus token table is ever materialized."""
    sp = spans.groupBy(id_col).agg(
        F.collect_list(
            F.struct(F.col("span_start"), F.col("span_end"))
        ).alias("__spans")
    )
    toks = F.split(F.col(text_col), r"\s+")
    joined = docs.join(sp, on=id_col, how="left").select(
        F.col(id_col), toks.alias("__t"), F.col("__spans")
    )
    # NULL __spans (no duplicated spans in this doc) => exists() is NULL
    # per-token; coalesce to FALSE so every token survives.
    def _in_span(i):
        return F.coalesce(
            F.exists(
                F.col("__spans"),
                lambda s: (i >= s["span_start"]) & (i <= s["span_end"]),
            ),
            F.lit(False),
        )

    kept = F.filter(F.col("__t"), lambda t, i: ~_in_span(i))
    return joined.select(
        F.col(id_col),
        F.concat_ws(" ", kept).alias("text_spliced"),
        F.size("__t").cast("long").alias("n_tokens"),
        (F.size("__t") - F.size(kept)).cast("long").alias("n_removed"),
    )
