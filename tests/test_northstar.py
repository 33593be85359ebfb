"""Behavioral tests for the north-star operators beyond the oracle gate:
LSH recall vs brute force, multimodal plumbing, streaming equivalence."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest
from conftest import drain_cleaner, persisted_rdds

from dbt_ci_demo_spark.operators import dedup as dd
from dbt_ci_demo_spark.operators import multimodal as mm
from dbt_ci_demo_spark.operators import similarity as sim
from dbt_ci_demo_spark.sources.catalog import load_table


def _index(docs):
    """The default-spec MinHash index of a (doc_id, text) frame."""
    return dd.minhash_index(docs, "text", "doc_id")


@pytest.mark.slow  # ~7s recall sweep: round-close tier (the minhash oracle rows
# value-check the full pipeline every gate run)
def test_minhash_finds_injected_dups(spark, sf_dir):
    from dbt_ci_demo_spark.queries_northstar import _docs_dup

    docs = _docs_dup(spark, sf_dir)
    pairs = dd.minhash_near_duplicates(docs, "text", "doc_id", threshold=0.7)
    found = {(r.id_a, r.id_b) for r in pairs.collect()}
    injected = {
        (r.doc_id, r.doc_id + 1000000)
        for r in docs.filter(F.col("doc_id") % 25 == 0)
        .filter(F.col("doc_id") < 1000000)
        .select("doc_id")
        .collect()
    }
    # every injected near-dup pair must be recovered (high-jaccard pairs
    # have ~certain recall at 8 bands x 4 rows)
    assert injected <= found, f"missed {injected - found}"


def test_connected_components_chain_and_islands(spark):
    """Transitivity across a chain (no direct A-C pair), separate
    components, and survivor marking. Also (r04): the loop leaves nothing
    pinned in executor storage — each round's edge set is
    reliable-checkpointed (disk), never persisted."""
    pairs = spark.createDataFrame(
        # chain 1-2-3-4, island pair 10-11, triangle 20-21-22
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22)],
        "id_a bigint, id_b bigint",
    )
    before = drain_cleaner(spark)
    out = {r.doc_id: (r.cluster_id, r.is_survivor) for r in dd.duplicate_clusters(pairs).collect()}
    after = persisted_rdds(spark)
    assert after - before == set(), "duplicate_clusters left caches pinned"
    assert out == {
        1: (1, True), 2: (1, False), 3: (1, False), 4: (1, False),
        10: (10, True), 11: (10, False),
        20: (20, True), 21: (20, False), 22: (20, False),
    }


def _union_find_components(pairs):
    """Reference labeling for the CC tests: {node: min node of its
    component} by plain union-find, independent of the Spark operator."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


@pytest.mark.slow  # ~25s randomized graph sweep: round-close tier
def test_star_components_match_union_find_and_beat_diameter(spark):
    """connected_components_star (large-star/small-star alternation) must
    label every node with its component minimum, as a union-find built
    here does, on a random sparse graph and on a near-duplicate-cluster
    shape (dense cliques plus a bridge and an isolated self-pair) — and
    converge on a 64-hop chain, longer than its 50-round bound: rounds
    grow with log(diameter), not one per hop."""
    import random

    rng = random.Random(7)
    nodes = list(range(1, 120))
    random_pairs = sorted({
        (min(a, b), max(a, b))
        for a, b in (rng.sample(nodes, 2) for _ in range(90))
    })
    # near-dup clusters from banding are quasi-cliques: three cliques of
    # 12, 8 and 5 docs, the last two joined by one bridge pair
    cliques = [range(200, 212), range(300, 308), range(400, 405)]
    clique_pairs = sorted(
        {(a, b) for c in cliques for a in c for b in c if a < b}
        | {(307, 400), (500, 500)}
    )
    for pairs in (random_pairs, clique_pairs):
        df = spark.createDataFrame(pairs, "id_a bigint, id_b bigint")
        star = {(r.id, r.component) for r in dd.connected_components_star(df).collect()}
        assert star == set(_union_find_components(pairs).items())

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 65)], "id_a bigint, id_b bigint"
    )
    out = {r.id: r.component for r in dd.connected_components_star(chain).collect()}
    assert out == {i: 1 for i in range(1, 66)}

    empty = spark.createDataFrame([], "id_a bigint, id_b bigint")
    assert dd.connected_components_star(empty).count() == 0
    # self-pair singleton labels itself
    single = spark.createDataFrame([(9, 9)], "id_a bigint, id_b bigint")
    assert {tuple(r) for r in dd.connected_components_star(single).collect()} == {(9, 9)}


@pytest.mark.slow  # ~5s measured round-count run: round-close tier
def test_star_round_count_logarithmic(spark):
    """VERDICT r04 task 5: MEASURE the round count, don't assert it from
    the paper. On a 16-node chain (diameter 15) large-star/small-star
    needs O(log d) rounds, where min-label propagation would need ~15.
    The measured number feeds SCALE.md's iterative-operator section."""
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 16)], "id_a bigint, id_b bigint"
    )
    s_star = {}
    star = {
        (r.id, r.component)
        for r in dd.connected_components_star(chain, stats=s_star).collect()
    }
    assert star == {(i, 1) for i in range(1, 17)}
    assert s_star["rounds"] <= 8, s_star  # logarithmic


@pytest.mark.slow  # ~5s synthetic supernode property run: round-close tier
def test_star_components_skewed_supernode(spark):
    """r06 (VERDICT r05 finding #1): a degree-10^5 supernode must not
    wedge the star steps. The neighborhood min is now a map-side-
    combinable groupBy joined back (an AQE-splittable sort-merge join on
    the hot key) instead of an unbounded window that funnels the whole
    neighborhood into one task. Correctness: every node labels to the
    component min; rounds stay O(log d) (a star has diameter 2)."""
    n = 100_000
    hub = 50_000
    pairs = (
        spark.range(1, n + 1)
        .filter(F.col("id") != hub)
        .select(F.lit(hub).cast("long").alias("id_a"), F.col("id").alias("id_b"))
    )
    s = {}
    out = dd.connected_components_star(pairs, stats=s)
    assert out.filter(F.col("component") != 1).count() == 0
    assert out.count() == n
    assert s["rounds"] <= 4, s


def test_connected_components_empty_and_bound(spark):
    empty = spark.createDataFrame([], "id_a bigint, id_b bigint")
    assert dd.duplicate_clusters(empty).count() == 0
    chain = spark.createDataFrame([(i, i + 1) for i in range(1, 9)], "id_a bigint, id_b bigint")
    with pytest.raises(RuntimeError, match="no fixpoint"):
        dd.connected_components_star(chain, max_iter=1)


@pytest.mark.slow  # ~5s equivalence-vs-md5-path: round-close tier
def test_minhash_xxhash64_production_path(spark, sf_dir):
    """The xxhash64 production path must recover the same injected
    near-dup pairs as the md5 oracle path (verification is hash-agnostic
    exact Jaccard; only LSH candidate recall could differ, and the
    injected high-jaccard pairs are ~certain at 8 bands x 4 rows)."""
    from dbt_ci_demo_spark.queries_northstar import _docs_dup

    docs = _docs_dup(spark, sf_dir)
    injected = {
        (r.doc_id, r.doc_id + 1000000)
        for r in docs.filter(F.col("doc_id") % 25 == 0)
        .filter(F.col("doc_id") < 1000000)
        .select("doc_id")
        .collect()
    }
    fast = dd.minhash_near_duplicates(
        docs, "text", "doc_id", dd.MinHashSpec(hash_fn="xxhash64"), threshold=0.7
    )
    found = {(r.id_a, r.id_b): r.jaccard for r in fast.collect()}
    assert injected <= set(found), f"missed {injected - set(found)}"
    # scores come from the shared exact-Jaccard verifier: identical to md5 path
    md5_pairs = dd.minhash_near_duplicates(docs, "text", "doc_id", threshold=0.7)
    md5_found = {(r.id_a, r.id_b): r.jaccard for r in md5_pairs.collect()}
    common = set(found) & set(md5_found)
    assert all(found[p] == md5_found[p] for p in common)


def test_minhash_leaves_no_storage_pinned(spark, sf_dir, tmp_path):
    """VERDICT r03 task 3: the minhash pipelines persist their shingle
    sets, band table and candidate-restricted index sets internally;
    after each call returns, the persisted-RDD set must equal its value
    before the call (the result is reliable-checkpointed, caches
    unpersisted) — with an in-memory and with a read-back stored index.
    Index frames are the caller's storage; these are left unpinned."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").limit(200)
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter(F.col("doc_id") % 2 == 1)

    before = drain_cleaner(spark)
    full = dd.minhash_near_duplicates(docs, "text", "doc_id", threshold=0.7)
    assert persisted_rdds(spark) == before, "minhash_near_duplicates changed the pinned set"
    incr = dd.minhash_near_duplicates_against(_index(corpus), _index(batch), "doc_id")
    assert persisted_rdds(spark) == before, "minhash_near_duplicates_against changed the pinned set"
    base = str(tmp_path / "idx")
    dd.write_minhash_index(_index(corpus), base)
    assert persisted_rdds(spark) == before, "write_minhash_index changed the pinned set"
    via_index = dd.minhash_near_duplicates_against(
        dd.read_minhash_index(spark, base), _index(batch), "doc_id"
    )
    assert persisted_rdds(spark) == before, "index admission changed the pinned set"
    # results stay usable after the caches are gone (lineage was truncated)
    assert full.count() >= 0 and incr.count() >= 0
    assert {tuple(r) for r in via_index.collect()} == {tuple(r) for r in incr.collect()}


def test_minhash_signatures_over_sets_match_reference(spark):
    """Signatures projected from shingle arrays equal a pure-Python md5
    MinHash, and for xxhash64 the min-aggregate over exploded shingle rows
    (the row form they replaced), on edge documents."""
    import hashlib
    import re

    k, n = 3, 32
    texts = {
        1: "a b",  # fewer than k tokens: no shingles, no row
        2: "one two three",  # exactly k tokens: one shingle
        3: "the cat sat the cat sat the cat sat",  # repeated shingles
        4: "The  Cat\tsat   on\n\n the MAT",  # whitespace runs, upper case
        5: " leading space and trailing space ",  # empty edge tokens
    }
    docs = spark.createDataFrame(list(texts.items()), "doc_id long, text string")

    def ref_shingles(text: str) -> set:
        t = re.split(r"\s+", text.lower())
        return {" ".join(t[i:i + k]) for i in range(len(t) - k + 1)}

    def ref_signature(shingles: set) -> tuple:
        hs = [int(hashlib.md5(s.encode()).hexdigest()[:8], 16) for s in shingles]
        return tuple(
            min((a * h + b) % dd._MINHASH_PRIME for h in hs)
            for a, b in dd._affine_params(n)
        )

    want_sets = {d: ref_shingles(t) for d, t in texts.items() if ref_shingles(t)}
    assert set(want_sets) == {2, 3, 4, 5}
    sets = dd.shingle_sets(docs, "text", "doc_id", k)
    got_sets = {r.doc_id: r.shingles for r in sets.collect()}
    assert {d: set(s) for d, s in got_sets.items()} == want_sets
    assert all(len(s) == len(set(s)) for s in got_sets.values())
    assert sorted(map(tuple, dd.word_shingles(docs, "text", "doc_id", k).collect())) == sorted(
        (d, s) for d, ss in want_sets.items() for s in ss
    )

    got_md5 = {
        r[0]: tuple(r[1:])
        for r in dd.minhash_signatures(sets, "doc_id", dd.MinHashSpec(n_hashes=n)).collect()
    }
    assert got_md5 == {d: ref_signature(s) for d, s in want_sets.items()}

    rows = dd.word_shingles(docs, "text", "doc_id", k).withColumn(
        "__h", dd._hash32("xxhash64")(F.col("shingle"))
    )
    row_aggregate = rows.groupBy("doc_id").agg(*[
        F.min((F.lit(a) * F.col("__h") + F.lit(b)) % F.lit(dd._MINHASH_PRIME)).alias(f"sig_{i}")
        for i, (a, b) in enumerate(dd._affine_params(n))
    ])
    xx = dd.MinHashSpec(n_hashes=n, hash_fn="xxhash64")
    got_xx = dd.minhash_signatures(sets, "doc_id", xx)
    assert got_xx.columns == row_aggregate.columns
    assert sorted(map(tuple, got_xx.collect())) == sorted(map(tuple, row_aggregate.collect()))


def test_minhash_queries_match_oracle_on_slice(spark, sf_dir, tmp_path):
    """On a 100-document slice, the self-dedup MinHash, its batch-vs-corpus
    form without an index, and the brute-force Jaccard pairs equal their
    DuckDB oracle SQL — the oracle rows themselves run only in the slow
    tier."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    import dbt_ci_demo_spark.queries  # noqa: F401  (registers every query)
    from dbt_ci_demo_spark.oracle_check import compare_frames, duckdb_connection
    from dbt_ci_demo_spark.queries import registry_oracles, registry_queries

    table = pq.read_table(os.path.join(sf_dir, "documents.parquet"))
    pq.write_table(
        table.filter(pc.less(table["doc_id"], 100)), str(tmp_path / "documents.parquet")
    )
    con = duckdb_connection(str(tmp_path), tables=["documents"])
    try:
        for name in ("dedup_minhash_lsh", "dedup_incremental_minhash", "dedup_jaccard_pairs"):
            got = registry_queries()[name](spark, str(tmp_path)).toPandas()
            want = con.execute(registry_oracles()[name]).fetchdf()
            res = compare_frames(name, got, want)
            assert res.ok, f"{name}: {res.detail} {res.mismatches[:3]}"
            assert len(got), f"{name}: the slice produced no pairs"
    finally:
        con.close()


def test_minhash_lazy_plan_has_no_per_document_aggregate(spark, sf_dir):
    """Signatures are a row projection and the verifier intersects
    arrays, so the lazy plan of the pipeline's building blocks (index,
    band self-join, verifier) has only the candidate-pair distinct as
    an aggregate: no ``sig_*`` min aggregate keyed by document id and no
    ``n_inter`` count."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    index = _index(docs)
    cand = dd.lsh_pairs_from_buckets(index.bands, "doc_id")
    lazy = dd.set_jaccard_scores(index.sets, "doc_id", cand).filter(F.col("jaccard") >= 0.7)
    plan = lazy._jdf.queryExecution().executedPlan().toString()
    aggs = [line for line in plan.splitlines() if "Aggregate" in line]
    assert aggs, plan  # the candidate distinct
    assert all("functions=[]" in line for line in aggs), aggs
    assert "n_inter" not in plan


def test_minhash_bad_hash_fn_rejected():
    """An unknown hash name fails when the spec is built, before any
    plan exists, and never falls back to md5."""
    with pytest.raises(ValueError, match="hash_fn"):
        dd.MinHashSpec(hash_fn="sha1")
    assert dd.MinHashSpec(hash_fn="xxhash64").hash_fn == "xxhash64"


def test_containment_detects_embedded_doc(spark):
    """containment_candidates catches a short doc CONTAINED in a long one
    (where MinHash resemblance ~ |short|/|long| stays under any sane
    threshold), and the stop-hash cap drops corpus-wide boilerplate."""
    from dbt_ci_demo_spark.operators import text as tx

    core = "the quick brown fox jumps over the lazy dog near the river bank today"
    docs = [
        (1, core + " and then walks far away into the hills beyond the old farm gate"),
        (2, core),  # fully contained in doc 1
        (3, "completely different content about spark adaptive query execution plans"),
    ]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    fps = tx.winnow_fingerprints(df, "text", "doc_id", k=8, window=4)
    out = {
        (r.id_a, r.id_b): r.containment
        for r in dd.containment_candidates(
            fps, "doc_id", max_doc_freq=10, min_shared=2, min_containment=0.5
        ).collect()
    }
    assert (1, 2) in out and out[(1, 2)] >= 0.9, out
    assert not any(3 in pair for pair in out), out
    with pytest.raises(ValueError, match="max_doc_freq"):
        dd.containment_candidates(fps, "doc_id", max_doc_freq=1)


def test_decontaminate_flags_embedded_benchmark_text(spark):
    """decontaminate_against flags a corpus doc that embeds a benchmark
    question verbatim (overlap_frac reflects the shared span), ignores
    clean docs, and the benchmark side never flags itself (it is not in
    the corpus). Shuffle-join fallback must agree with the broadcast
    path."""
    bench = spark.createDataFrame(
        [(100, "what is the capital of france answer in one word please")],
        "doc_id bigint, text string",
    )
    corpus = spark.createDataFrame(
        [
            # embeds the benchmark text mid-document
            (1, "trivia dump page what is the capital of france answer in one word please thanks for reading"),
            (2, "a completely unrelated document about spark adaptive query execution"),
        ],
        "doc_id bigint, text string",
    )
    out = {
        r.doc_id: (r.n_grams, r.shared_ngrams, r.overlap_frac)
        for r in dd.decontaminate_against(corpus, bench, "text", "doc_id", n=5).collect()
    }
    assert set(out) == {1}, out
    n_grams, shared, frac = out[1]
    # the embedded 11-token span contributes 7 of the doc's 13 five-grams
    assert shared == 7 and n_grams == 13 and abs(frac - round(7 / 13, 6)) < 1e-9, out[1]
    shuffled = {
        r.doc_id: (r.n_grams, r.shared_ngrams, r.overlap_frac)
        for r in dd.decontaminate_against(
            corpus, bench, "text", "doc_id", n=5, broadcast_benchmark=False
        ).collect()
    }
    assert shuffled == out
    with pytest.raises(ValueError, match="min_shared"):
        dd.decontaminate_against(corpus, bench, "text", "doc_id", n=0)


def test_containment_blind_spot_and_staged_recovery(spark):
    """VERDICT r04 task 6: a doc duplicated > max_doc_freq times pushes
    all its fingerprints over the stop-hash cap, so containment alone is
    BLIND to it — by design. The staged pipeline (exact dedup first,
    containment on the survivors) recovers the contained pair."""
    from dbt_ci_demo_spark.operators import text as tx

    core = "the quick brown fox jumps over the lazy dog near the river bank today"
    long_doc = core + " and then walks far away into the hills beyond the old farm gate"
    cap = 5
    # the short doc appears cap+3 times verbatim (mass duplication)
    docs = [(1, long_doc)] + [(i, core) for i in range(2, cap + 5)]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")

    def contained_pairs(frame):
        fps = tx.winnow_fingerprints(frame, "text", "doc_id", k=8, window=4)
        return {
            (r.id_a, r.id_b)
            for r in dd.containment_candidates(
                fps, "doc_id", max_doc_freq=cap, min_shared=2, min_containment=0.5
            ).collect()
        }

    # blind spot: every core fingerprint has df = cap+3 > cap → dropped
    assert contained_pairs(df) == set()
    # staged: exact dedup keeps one copy of the core doc, dfs drop to 2
    survivors = dd.dedup_keep_first(df, "text", "doc_id")
    assert survivors.count() == 2
    assert contained_pairs(survivors) == {(1, 2)}


@pytest.mark.slow  # ~12s parquet roundtrip equivalence: round-close tier (the
# stored-index admission semantics are driver-checked every gate run via the
# dedup_index_refresh_cycle oracle row)
def test_incremental_minhash_index_artifact_roundtrip(spark, sf_dir, tmp_path):
    """The corpus near-dup index is a real storable artifact: build it
    once, write sets+bands to parquet, read them back, and admission
    against the read-back index must (a) return the exact pairs of the
    recompute path and (b) never touch the corpus DataFrame at all (the
    admission is handed only the read-back frames)."""
    from dbt_ci_demo_spark.queries_northstar import _docs_dup

    docs = _docs_dup(spark, sf_dir).limit(600)
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    direct = {
        tuple(r)
        for r in dd.minhash_near_duplicates_against(
            _index(corpus), _index(batch), "doc_id"
        ).collect()
    }
    built = _index(corpus)
    built.sets.write.mode("overwrite").parquet(str(tmp_path / "sets"))
    built.bands.write.mode("overwrite").parquet(str(tmp_path / "bd"))
    idx = dd.MinHashIndex(
        spark.read.parquet(str(tmp_path / "sets")),
        spark.read.parquet(str(tmp_path / "bd")),
        built.spec,
    )
    via_index = {
        tuple(r)
        for r in dd.minhash_near_duplicates_against(idx, _index(batch), "doc_id").collect()
    }
    assert via_index == direct


@pytest.mark.slow  # ~12s refresh-vs-rebuild equivalence: round-close tier (same
# oracle-row coverage as the roundtrip test above)
def test_minhash_index_append_refresh_equals_rebuild(spark, sf_dir, tmp_path):
    """r12 (VERDICT r11 #5): ``write_minhash_index(mode="append")`` after a
    batch admission must serve EXACTLY the index rebuilt from scratch over
    corpus ∪ batch — the refresh is exact because no index artifact
    aggregates across documents (sets and bands are both per-doc row
    sets). Admitting a later batch against the refreshed vs the rebuilt
    index must return identical pairs, and the refreshed index must find
    pairs at all (nonempty — the property isn't vacuous)."""
    from dbt_ci_demo_spark.queries_northstar import _docs_dup

    docs = _docs_dup(spark, sf_dir).limit(600)
    corpus = docs.filter(F.col("doc_id") % 3 == 0)
    batch1 = docs.filter(F.col("doc_id") % 3 == 1)
    batch2 = docs.filter(F.col("doc_id") % 3 == 2)

    refreshed_base = str(tmp_path / "idx_refreshed")
    dd.write_minhash_index(_index(corpus), refreshed_base, mode="overwrite")
    dd.write_minhash_index(_index(batch1), refreshed_base, mode="append")

    rebuilt_base = str(tmp_path / "idx_rebuilt")
    dd.write_minhash_index(_index(corpus.unionByName(batch1)), rebuilt_base, mode="overwrite")

    def admit(base: str) -> set:
        return {
            tuple(r)
            for r in dd.minhash_near_duplicates_against(
                dd.read_minhash_index(spark, base), _index(batch2), "doc_id", threshold=0.5
            ).collect()
        }

    via_refresh = admit(refreshed_base)
    assert via_refresh == admit(rebuilt_base)
    assert via_refresh  # injected dups guarantee matches

    with pytest.raises(ValueError, match="mode must be"):
        dd.write_minhash_index(_index(corpus), refreshed_base, mode="replace")


@pytest.mark.slow  # ~15s: four index writes; failure modes covered nowhere else
def test_minhash_index_append_idempotent_and_retry_exact(spark, sf_dir, tmp_path):
    """ADVICE r12: an append with a ``batch_id`` must be (a) a no-op when
    repeated after commit (duplicate per-doc sets rows would multiply
    pairs in the admission verifier's id joins), and (b) retry-EXACT
    after a simulated mid-promote failure — the retry scrubs exactly the
    files its token promoted before re-promoting, leaving the live index
    row-identical to a single clean append. Staging must never leak into
    the live artifact dirs."""
    import glob as _glob
    import hashlib as _hashlib

    from dbt_ci_demo_spark.queries_northstar import _docs_dup

    docs = _docs_dup(spark, sf_dir).limit(200)
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    base = str(tmp_path / "idx")
    dd.write_minhash_index(_index(corpus), base, mode="overwrite")
    dd.write_minhash_index(_index(batch), base, mode="append", batch_id="day-1")

    def snapshot() -> tuple:
        index = dd.read_minhash_index(spark, base)
        sets, bd = index.sets, index.bands
        return (
            frozenset(_set_row(r) for r in sets.collect()),
            frozenset(tuple(r) for r in bd.collect()),
            sets.count(),  # multiset guard: dup per-doc rows change count
            sets.select("doc_id").distinct().count(),
            bd.count(),
        )

    clean = snapshot()
    assert clean[2] == clean[3]  # sets: one row per doc

    # (a) committed repeat is a no-op
    dd.write_minhash_index(_index(batch), base, mode="append", batch_id="day-1")
    assert snapshot() == clean

    # (b) mid-promote failure: the marker never landed and only SOME of
    # the token's files were moved — drop the marker and delete one
    # promoted bands file to simulate, then retry the same batch_id.
    token = _hashlib.sha256(b"day-1").hexdigest()[:16]
    os.remove(os.path.join(base, "_appends", token))
    promoted = _glob.glob(os.path.join(base, "bands", f"b-{token}-*.parquet"))
    assert promoted  # the prefix convention is live
    os.remove(promoted[0])
    dd.write_minhash_index(_index(batch), base, mode="append", batch_id="day-1")
    assert snapshot() == clean

    # no staging debris in or beside the live dirs
    assert not _glob.glob(os.path.join(base, "_staging-*"))


@pytest.mark.slow  # ~10s: three index writes; ADVICE r13 failure modes
def test_minhash_index_overwrite_scrubs_markers_and_staging(spark, sf_dir, tmp_path):
    """ADVICE r13 (medium + low): ``mode="overwrite"`` is a FULL rebuild,
    so it must scrub the append protocol's byproducts too — commit
    markers under ``_appends/`` (else a replayed append with a
    previously-used batch_id silently no-ops and the rebuilt index
    misses the batch while the caller believes it committed) and stale
    ``_staging-*`` debris from nameless failed appends (which nothing
    else ever cleans)."""
    import glob as _glob

    from dbt_ci_demo_spark.queries_northstar import _docs_dup

    docs = _docs_dup(spark, sf_dir).limit(120)
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    base = str(tmp_path / "idx")
    dd.write_minhash_index(_index(corpus), base, mode="overwrite")
    dd.write_minhash_index(_index(batch), base, mode="append", batch_id="day-1")
    # stale debris from a hypothetical nameless failed append
    debris = os.path.join(base, "_staging-deadbeefdeadbeef")
    os.makedirs(os.path.join(debris, "bands"))
    with open(os.path.join(debris, "bands", "part-orphan.parquet"), "w") as f:
        f.write("junk")

    dd.write_minhash_index(_index(corpus), base, mode="overwrite")
    assert not os.path.exists(os.path.join(base, "_appends"))
    assert not _glob.glob(os.path.join(base, "_staging-*"))

    # sets has one row per SHINGLE-ELIGIBLE doc (docs with < k tokens
    # produce no shingles and no sets row)
    def eligible(d) -> int:
        return dd.word_shingles(d, "text", "doc_id").select("doc_id").distinct().count()

    def indexed_docs() -> int:
        sets = dd.read_minhash_index(spark, base).sets
        n = sets.count()
        assert n == sets.select("doc_id").distinct().count()  # one row per doc
        return n

    corpus_docs = eligible(corpus)
    assert indexed_docs() == corpus_docs  # rebuilt index is corpus-only

    # the replayed batch_id must actually append against the rebuilt index
    dd.write_minhash_index(_index(batch), base, mode="append", batch_id="day-1")
    assert indexed_docs() == corpus_docs + eligible(batch)


@pytest.mark.slow  # ~10s: failed-promote raise + retry; ADVICE r13 low
def test_minhash_index_promote_rename_failure_raises_and_retries(
    spark, sf_dir, tmp_path, monkeypatch
):
    """ADVICE r13 (low): Hadoop ``rename`` reports failure by returning
    False — the promote loop must RAISE on it so the commit marker is
    never written over a partial promote (silently losing rows with the
    marker blocking any retry). A retry with the same batch_id after the
    failed attempt must scrub the leftover staging dir and leave the
    index row-identical to a single clean append."""
    import glob as _glob

    from dbt_ci_demo_spark.queries_northstar import _docs_dup

    docs = _docs_dup(spark, sf_dir).limit(120)
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    base = str(tmp_path / "idx")
    dd.write_minhash_index(_index(corpus), base, mode="overwrite")

    real_index_fs = dd._index_fs

    class _RenameFails:
        """Delegates to the real Hadoop FS but fails every rename the way
        Hadoop does — by returning False, not raising."""

        def __init__(self, fs):
            self._fs = fs

        def __getattr__(self, name):
            return getattr(self._fs, name)

        def rename(self, src, dst):
            return False

    def broken_index_fs(s, p):
        fs, path_cls = real_index_fs(s, p)
        return _RenameFails(fs), path_cls

    monkeypatch.setattr(dd, "_index_fs", broken_index_fs)
    with pytest.raises(IOError, match="promote failed"):
        dd.write_minhash_index(_index(batch), base, mode="append", batch_id="day-1")
    monkeypatch.undo()

    # marker never committed; the staging dir is the expected leftover
    assert not os.path.exists(
        os.path.join(base, "_appends", _hashlib_sha16("day-1"))
    )
    assert _glob.glob(os.path.join(base, "_staging-*"))

    # retry with the same batch_id: scrubs its staging debris, promotes,
    # commits — row-identical to a clean single append on a fresh base
    dd.write_minhash_index(_index(batch), base, mode="append", batch_id="day-1")
    assert not _glob.glob(os.path.join(base, "_staging-*"))
    assert os.path.exists(os.path.join(base, "_appends", _hashlib_sha16("day-1")))

    clean_base = str(tmp_path / "idx_clean")
    dd.write_minhash_index(_index(corpus), clean_base, mode="overwrite")
    dd.write_minhash_index(_index(batch), clean_base, mode="append", batch_id="day-1")

    def rows(b: str) -> tuple:
        index = dd.read_minhash_index(spark, b)
        sets, bd = index.sets, index.bands
        return (
            sorted(_set_row(r) for r in sets.collect()),
            sorted(tuple(r) for r in bd.collect()),
        )

    assert rows(base) == rows(clean_base)


def test_minhash_index_append_rejects_spec_mismatch(spark, sf_dir, tmp_path):
    """A stored index records the spec it was built with. Appending an
    xxhash64 batch to an md5 index raises before it stages or scrubs
    anything, so every stored file stays byte-identical; admitting a
    batch whose index has another spec raises too. Band keys of two
    specs never match, so either would silently lose the batch's
    pairs."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").limit(40)
    base = str(tmp_path / "idx")
    dd.write_minhash_index(_index(docs.filter(F.col("doc_id") % 2 == 0)), base)
    stored = dd.read_minhash_index(spark, base)
    assert stored.spec == dd.MinHashSpec()

    def tree() -> dict:
        return {
            os.path.relpath(os.path.join(d, name), base): (
                open(os.path.join(d, name), "rb").read() if name in files else None
            )
            for d, dirs, files in os.walk(base)
            for name in dirs + files
        }

    before = tree()
    xx = dd.minhash_index(
        docs.filter(F.col("doc_id") % 2 == 1), "text", "doc_id",
        dd.MinHashSpec(hash_fn="xxhash64"),
    )
    with pytest.raises(ValueError, match="band keys do not match"):
        dd.write_minhash_index(xx, base, mode="append", batch_id="day-1")
    assert tree() == before
    with pytest.raises(ValueError, match="band keys do not match"):
        dd.minhash_near_duplicates_against(stored, xx, "doc_id")


def _hashlib_sha16(batch_id: str) -> str:
    import hashlib as _hashlib

    return _hashlib.sha256(batch_id.encode("utf-8")).hexdigest()[:16]


def _set_row(r) -> tuple:
    """A stored ``sets`` row as a hashable value: (id, sorted shingles)."""
    return r[0], tuple(sorted(r[1]))


def test_admission_restricts_stored_sets_to_candidates(
    spark, sf_dir, tmp_path, monkeypatch
):
    """On the index admission path the verifier reads the stored ``sets/``
    restricted to the candidate ids: the frame handed to
    set_jaccard_scores holds exactly one row per candidate document, is
    read from the index's sets parquet, and is the one frame the call
    pins (the batch artifacts here are caller-managed and unpinned)."""
    from dbt_ci_demo_spark.queries_northstar import _docs_dup

    docs = _docs_dup(spark, sf_dir).limit(400)
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    base = str(tmp_path / "idx")
    dd.write_minhash_index(_index(corpus), base)
    batch_index = _index(batch)

    seen = {}
    real = dd.set_jaccard_scores

    def spy(sets, id_col, pairs):
        cand = pairs.collect()
        seen["cand_ids"] = sorted({r.id_a for r in cand} | {r.id_b for r in cand})
        seen["set_ids"] = sorted(r[0] for r in sets.select(id_col).collect())
        seen["plan"] = sets._jdf.queryExecution().executedPlan().toString()
        seen["new_pins"] = len(persisted_rdds(spark) - before)
        return real(sets, id_col, pairs)

    monkeypatch.setattr(dd, "set_jaccard_scores", spy)
    before = drain_cleaner(spark)
    out = dd.minhash_near_duplicates_against(
        dd.read_minhash_index(spark, base), batch_index, "doc_id", threshold=0.5
    )
    assert out.count() > 0
    assert seen["set_ids"] == seen["cand_ids"], "stored sets not restricted to candidates"
    assert len(seen["set_ids"]) < docs.count()
    # a parquet scan of stored shingle arrays: the index's sets/ part
    assert "ReadSchema: struct<doc_id:bigint,shingles:array<string>>" in seen["plan"]
    assert seen["new_pins"] == 1, seen["new_pins"]
    # id-set difference: the async ContextCleaner may drop an earlier
    # test's pin meanwhile; the contract is that no new pin outlives the call
    assert persisted_rdds(spark) - before == set()


@pytest.mark.slow  # ~4s equivalence-vs-bruteforce: round-close tier
def test_simhash_banded_equals_bruteforce(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").limit(120)
    sig = dd.simhash32(docs, "text", "doc_id")
    sigs = {r.doc_id: r.simhash for r in sig.collect()}
    brute = {
        (a, b)
        for a in sigs
        for b in sigs
        if a < b and bin(sigs[a] ^ sigs[b]).count("1") <= 3
    }
    banded = {
        (r.id_a, r.id_b)
        for r in dd.simhash_near_duplicates(docs, "text", "doc_id", 3).collect()
    }
    assert banded == brute


@pytest.mark.slow  # ~28s full Lloyd loop: round-close tier (the assign-path
# equality tests below stay default)
def test_kmeans_loop_fixpoint_consistency(spark, sf_dir):
    """Once the Lloyd loop converges (assignment repeats), extra
    iterations must not change the centroids — the property that makes
    Spark's early-stop provably consistent with the fixed-iteration
    oracle. The sf0.001 fixture converges at round 13 (measured), so an
    iteration cap of 20 exercises the early-stop in both runs and the
    +2 cap must return the identical centroid table."""
    import dbt_ci_demo_spark.queries  # noqa: F401
    from dbt_ci_demo_spark import queries_embed as qe

    orig = qe._KM_ITERS
    try:
        qe._KM_ITERS = 20
        a = {(r.cluster_id, r.dim): (r.s, r.n) for r in qe._kmeans_loop(spark, sf_dir)[0].collect()}
        qe._KM_ITERS = 22
        b = {(r.cluster_id, r.dim): (r.s, r.n) for r in qe._kmeans_loop(spark, sf_dir)[0].collect()}
    finally:
        qe._KM_ITERS = orig
    assert a == b


def test_cluster_oracle_poison_on_nonconvergence(duck, sf_dir):
    """The unrolled min-label oracle must PROVE its fixpoint: with rounds=0
    (guaranteed insufficient on any graph with edges) the poison row
    (-1, -1, NULL) must appear, so an under-unrolled oracle can never
    silently pass the gate."""
    import dbt_ci_demo_spark.queries  # noqa: F401  (completes module init chain)
    from dbt_ci_demo_spark.queries_northstar import _cluster_components_oracle

    rows = duck.execute(_cluster_components_oracle(rounds=0)).fetchdf()
    poison = rows[(rows.doc_id == -1) & (rows.cluster_id == -1)]
    assert len(poison) == 1, "poison row missing: non-convergence went undetected"
    converged = duck.execute(_cluster_components_oracle(rounds=12)).fetchdf()
    assert not ((converged.doc_id == -1) & (converged.cluster_id == -1)).any()


@pytest.mark.slow  # ~5s equivalence check: round-close tier (both sides carry
# oracle rows: dedup_minhash_lsh / dedup_incremental_minhash)
def test_incremental_minhash_equals_crossside_subset(spark, sf_dir):
    """Batch-vs-corpus MinHash must equal the full self-join pipeline
    restricted to cross-side pairs: banding is per-document, so splitting
    candidate generation by side cannot change which cross-side pairs
    share a bucket or their verified Jaccard."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").limit(150)
    dups = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" tail marker")).alias("text"),
    )
    full = {
        (r.id_a, r.id_b, r.jaccard)
        for r in dd.minhash_near_duplicates(
            docs.unionByName(dups), "text", "doc_id", threshold=0.5
        ).collect()
        if r.id_a < 1000000 <= r.id_b
    }
    incr = {
        (r.id_a, r.id_b, r.jaccard)
        for r in dd.minhash_near_duplicates_against(
            _index(docs), _index(dups), "doc_id", threshold=0.5
        ).collect()
    }
    assert incr == full
    assert incr, "fixture produced no cross-side near-dups"


@pytest.mark.slow  # ~4s equivalence-vs-md5-path: round-close tier
def test_simhash_xxhash64_production_path(spark, sf_dir):
    """hash_fn='xxhash64' (the production hash, VERDICT r02 task 2) must
    keep the banded-candidates == brute-force guarantee — the pigeonhole
    recall argument is hash-independent — while producing signatures from
    a different hash family than md5."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").limit(120)
    sigs_xx = {
        r.doc_id: r.simhash
        for r in dd.simhash32(docs, "text", "doc_id", hash_fn="xxhash64").collect()
    }
    sigs_md5 = {r.doc_id: r.simhash for r in dd.simhash32(docs, "text", "doc_id").collect()}
    assert set(sigs_xx) == set(sigs_md5)
    assert any(sigs_xx[d] != sigs_md5[d] for d in sigs_xx), "xxhash64 mirrored md5?"
    assert all(0 <= s < 2**32 for s in sigs_xx.values())
    brute = {
        (a, b)
        for a in sigs_xx
        for b in sigs_xx
        if a < b and bin(sigs_xx[a] ^ sigs_xx[b]).count("1") <= 3
    }
    banded = {
        (r.id_a, r.id_b)
        for r in dd.simhash_near_duplicates(
            docs, "text", "doc_id", 3, hash_fn="xxhash64"
        ).collect()
    }
    assert banded == brute
    with pytest.raises(ValueError, match="hash_fn"):
        dd.simhash32(docs, "text", "doc_id", hash_fn="sha1")


@pytest.mark.slow  # executes the xxhash64 path once: round-close tier
def test_simhash_pin_routing(spark, sf_dir):
    """r14 change #17 internals pin: the xxhash64 path persists the slim
    block table, eager-checkpoints the pair result, and RELEASES the pin
    before returning (nothing may outlive the call); the md5 path stays
    lazily composed (its zero-shuffle signature battery measured cheaper
    to duplicate than to pin — the plan must NOT be truncated to an
    ExistingRDD there, so the composing CC queries keep fusing it)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").limit(80)
    # Compare pinned-RDD ID SETS, not raw sizes (ADVICE r14): the async
    # ContextCleaner can unpersist a GC'd RDD from an earlier test
    # between the two reads, so a size equality is spuriously flaky —
    # the contract is only that THIS call leaves no NEW pin behind.
    ids_before = drain_cleaner(spark)
    out_xx = dd.simhash_near_duplicates(docs, "text", "doc_id", 3, hash_fn="xxhash64")
    ids_after = persisted_rdds(spark)
    assert ids_after - ids_before == set(), ids_after - ids_before
    plan_xx = out_xx._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in plan_xx, plan_xx
    out_md5 = dd.simhash_near_duplicates(docs, "text", "doc_id", 3)
    plan_md5 = out_md5._jdf.queryExecution().executedPlan().toString()
    assert "Join" in plan_md5, plan_md5
    assert "ExistingRDD" not in plan_md5, plan_md5


def test_resize_clamps_extreme_aspect_ratios(spark, sf_dir):
    """resize_images must never emit a zero output dimension (ADVICE r02):
    with max_width=1 the aspect scale floors every non-dominant dimension
    to 0 without the clamp (stub dims are 64-255, so scale ≤ 1/64)."""
    from dbt_ci_demo_spark.operators import multimodal as mmod

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").limit(20)
    media = mmod.synthesize_media_from_text(docs, "text", "doc_id")
    rows = mmod.resize_images(media, max_width=1, max_height=1).collect()
    assert rows
    for r in rows:
        assert r.out_width >= 1 and r.out_height >= 1, r
        assert r.out_width == 1 or r.out_height == 1


@pytest.mark.slow  # ~3s recall-vs-bruteforce sweep: round-close tier
def test_lsh_ann_recall_vs_bruteforce(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    exact = sim.cosine_topk_bruteforce(emb, queries, k=5)
    approx = sim.lsh_ann_topk(emb, queries, k=5)
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.25, f"LSH recall collapsed: {recall}"


def test_ivf_recall_vs_bruteforce(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    exact = sim.cosine_topk_bruteforce(emb, queries, k=5)
    approx = sim.ivf_topk(emb, queries, "label", k=5, n_probe=3)
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.3, f"IVF recall collapsed: {recall}"


@pytest.mark.slow  # ~4s closed-form semantics check: round-close tier
# (graph_pagerank is oracle-checked every gate run)
def test_pagerank_star_graph_semantics(spark):
    """PageRank sanity on a hub graph: all spokes point at the hub, the
    hub points at one spoke — the hub must out-rank every spoke, spokes
    pointed at by nobody share the base rank, and dangling mass (none
    here) / parameter validation behave as documented."""
    from dbt_ci_demo_spark.operators import graph as gr

    edges = spark.createDataFrame(
        [(i, 99) for i in range(1, 6)] + [(99, 1)], "src bigint, dst bigint"
    )
    ranks = {r.id: r.rank for r in gr.pagerank(edges, rounds=5).collect()}
    assert set(ranks) == {1, 2, 3, 4, 5, 99}
    assert ranks[99] == max(ranks.values())
    # spokes 2..5 have identical in-link structure (none) → identical rank
    assert len({ranks[i] for i in (2, 3, 4, 5)}) == 1
    assert ranks[1] > ranks[2]  # spoke 1 receives the hub's mass
    with pytest.raises(ValueError, match="rounds"):
        gr.pagerank(edges, rounds=0)
    with pytest.raises(ValueError, match="damping"):
        gr.pagerank(edges, damping_pct=101)


def test_quantized_topk_recall_vs_float(spark, sf_dir):
    """int8-code ranking must preserve float cosine ranking almost
    everywhere: top-5 recall vs the float brute force stays high (the
    per-element error is ≤ scale/2 ≈ max|v|/254), and quantized cosines
    match float cosines to ~1e-2."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    exact = sim.cosine_topk_bruteforce(emb, queries, k=5)
    qz = sim.quantize_embeddings_int8(emb, "vec_id", "embedding")
    quant = sim.cosine_topk_quantized(qz, qz.filter(F.col("vec_id") < 20), k=5)
    e = {(r.query_id, r.neighbor_id): r.cosine_r for r in exact.collect()}
    a = {(r.query_id, r.neighbor_id): r.cosine_r for r in quant.collect()}
    recall = len(set(e) & set(a)) / len(e)
    assert recall >= 0.8, f"int8 ranking lost the float neighbors: {recall}"
    for pair in set(e) & set(a):
        assert abs(e[pair] - a[pair]) < 2e-2, (pair, e[pair], a[pair])


def test_ivf_index_roundtrip_and_pruning(spark, sf_dir, tmp_path):
    """The IVF serving artifacts are REAL storable tables (the similarity
    twin of the minhash-index round-trip): build (clustered corpus,
    centroids), write the corpus PARTITIONED BY cluster and the centroid
    table to parquet, read both back, and serving via ``centroids=``
    must (a) return exactly the recompute path's results and (b) read
    the partitioned corpus through a dynamic-partition-pruning filter on
    the probe join — only probed clusters' partitions are scanned."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    direct = {
        tuple(r)
        for r in sim.ivf_topk(emb, queries, "label", k=5, n_probe=2).collect()
    }
    corpus, cents = sim.build_ivf_index(emb, "label")
    corpus.write.mode("overwrite").partitionBy("label").parquet(str(tmp_path / "c"))
    cents.write.mode("overwrite").parquet(str(tmp_path / "cents"))
    c_back = spark.read.parquet(str(tmp_path / "c"))
    cents_back = spark.read.parquet(str(tmp_path / "cents"))
    served = sim.ivf_topk(
        c_back, queries, "label", k=5, n_probe=2, centroids=cents_back
    )
    assert {tuple(r) for r in served.collect()} == direct
    plan = served._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), "probe join did not prune partitions"


def test_multimodal_pipeline(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(50)
    media = mm.synthesize_media_from_text(docs, "text", "doc_id")
    assert media.schema["media"].dataType == mm.MEDIA_SCHEMA

    meta = mm.decode_image_metadata(media)
    rows = meta.collect()
    assert len(rows) == 50
    assert meta.schema == mm.IMAGE_META_SCHEMA
    assert all(64 <= r.width <= 255 and r.format in ("jpeg", "png", "webp") for r in rows)
    # deterministic across runs
    rows2 = mm.decode_image_metadata(media).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, rows2))

    feats = mm.extract_features(media)
    frows = feats.collect()
    assert all(len(r.feature) == mm.FEATURE_DIM for r in frows)
    assert all(0.0 <= v <= 1.0 for r in frows for v in r.feature)

    plan = mm.frame_sample_plan(media, every_n_bytes=100)
    prow = plan.groupBy("doc_id").count().collect()
    assert all(r["count"] >= 1 for r in prow)


def test_multimodal_real_shaped_decoder_seam(spark):
    """VERDICT r03 task 8: a decoder that parses REAL file-format headers
    (PNG IHDR, WAV RIFF/fmt/data) must ride the same Arrow plumbing as
    the stub — fixed byte vectors in, exact parsed metadata out. The stub
    remains the default/oracle path; this pins the seam's contract so a
    production PIL/soundfile codec is a drop-in."""
    import struct

    import pandas as pd

    def png(width: int, height: int) -> bytes:
        ihdr = struct.pack(">II", width, height) + bytes([8, 2, 0, 0, 0])
        return (
            b"\x89PNG\r\n\x1a\n"
            + struct.pack(">I", 13)
            + b"IHDR"
            + ihdr
            + b"\x00\x00\x00\x00"
        )

    def wav(sample_rate: int, n_samples: int, channels: int = 1, bits: int = 16) -> bytes:
        block = channels * bits // 8
        fmt = struct.pack(
            "<HHIIHH", 1, channels, sample_rate, sample_rate * block, block, bits
        )
        data_size = n_samples * block
        return (
            b"RIFF"
            + struct.pack("<I", 36 + data_size)
            + b"WAVE"
            + b"fmt "
            + struct.pack("<I", 16)
            + fmt
            + b"data"
            + struct.pack("<I", data_size)
            + b"\x00" * data_size
        )

    def png_decoder(payload: bytes):
        assert payload[:8] == b"\x89PNG\r\n\x1a\n", "not a PNG"
        assert payload[12:16] == b"IHDR"
        w, h = struct.unpack(">II", payload[16:24])
        return int(w), int(h), "png"

    def wav_decoder(payload: bytes):
        assert payload[:4] == b"RIFF" and payload[8:12] == b"WAVE", "not a WAV"
        _, channels, rate, _, block, _ = struct.unpack("<HHIIHH", payload[20:36])
        assert payload[36:40] == b"data"
        (data_size,) = struct.unpack("<I", payload[40:44])
        return int(rate), int(data_size // block)

    img_df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "payload": [png(640, 480), png(31, 7)]}),
        "doc_id long, payload binary",
    )
    img_media = mm.attach_media_column(img_df, "payload", "doc_id")
    meta = {
        r.doc_id: (r.width, r.height, r.format)
        for r in mm.decode_image_metadata(img_media, decoder=png_decoder).collect()
    }
    assert meta == {1: (640, 480, "png"), 2: (31, 7, "png")}

    aud_df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                # doc 3: a real-decoder edge the stub can't produce — 0 samples
                "payload": [wav(16000, 16000 * 3), wav(8000, 4000), wav(44100, 0)],
            }
        ),
        "doc_id long, payload binary",
    )
    aud_media = mm.attach_media_column(aud_df, "payload", "doc_id", modality="audio")
    ameta = mm.decode_audio_metadata(aud_media, decoder=wav_decoder)
    parsed = {r.doc_id: (r.sample_rate, r.n_samples, r.duration_s) for r in ameta.collect()}
    assert parsed == {1: (16000, 48000, 3.0), 2: (8000, 4000, 0.5), 3: (44100, 0, 0.0)}
    # ADVICE r03: zero-duration clips produce NO chunk rows (no spurious (0,0))
    chunks = mm.audio_chunk_plan(ameta, chunk_s=2)
    per_doc = {r.doc_id: r["count"] for r in chunks.groupBy("doc_id").count().collect()}
    assert per_doc == {1: 2, 2: 1}


def _png_bytes(width: int, height: int) -> bytes:
    import struct

    ihdr = struct.pack(">II", width, height) + bytes([8, 2, 0, 0, 0])
    return (
        b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 13) + b"IHDR" + ihdr + b"\x00" * 4
    )


def _jpeg_bytes(width: int, height: int) -> bytes:
    import struct

    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
    sof0 = (
        b"\xff\xc0"
        + struct.pack(">H", 11)
        + bytes([8])
        + struct.pack(">HH", height, width)
        + bytes([1, 0x11, 0x22, 0x00])
    )
    return b"\xff\xd8" + app0 + sof0 + b"\xff\xd9"


def _wav_bytes(sample_rate: int, n_samples: int, channels: int = 1, bits: int = 16) -> bytes:
    import struct

    block = channels * bits // 8
    fmt = struct.pack("<HHIIHH", 1, channels, sample_rate, sample_rate * block, block, bits)
    data_size = n_samples * block
    return (
        b"RIFF" + struct.pack("<I", 36 + data_size) + b"WAVE"
        + b"fmt " + struct.pack("<I", 16) + fmt
        + b"data" + struct.pack("<I", data_size) + b"\x00" * data_size
    )


def test_media_codecs_fixed_vectors():
    """VERDICT r04 task 3: the shipped pure-Python header decoders parse
    fixed byte vectors exactly — PNG IHDR, JPEG SOF0 (past an APP0
    segment), WAV fmt/data (including odd-size chunk padding) — and
    reject malformed containers with the reason."""
    import struct

    from dbt_ci_demo_spark.operators import media_codecs as mc

    assert mc.decode_image_header(_png_bytes(640, 480)) == (640, 480, "png")
    assert mc.decode_image_header(_png_bytes(31, 7)) == (31, 7, "png")
    assert mc.decode_image_header(_jpeg_bytes(1920, 1080)) == (1920, 1080, "jpeg")
    # progressive JPEG (SOF2) also carries dimensions
    prog = _jpeg_bytes(64, 32).replace(b"\xff\xc0", b"\xff\xc2")
    assert mc.decode_image_header(prog) == (64, 32, "jpeg")
    assert mc.decode_audio_header(_wav_bytes(16000, 48000)) == (16000, 48000)
    assert mc.decode_audio_header(_wav_bytes(44100, 0)) == (44100, 0)
    # stereo 8-bit: block_align = 2, n_samples = data_size / 2
    assert mc.decode_audio_header(_wav_bytes(8000, 1000, channels=2, bits=8)) == (8000, 1000)
    # WAV with an odd-sized LIST chunk before fmt: pad byte must be skipped
    wav = _wav_bytes(22050, 10)
    padded = wav[:12] + b"LIST" + struct.pack("<I", 3) + b"abc\x00" + wav[12:]
    assert mc.decode_audio_header(padded) == (22050, 10)
    for decoder, bad, msg in [
        (mc.decode_image_header, b"", "empty"),
        (mc.decode_image_header, b"\x89PNG\r\n\x1a\nXXXX", "PNG"),
        (mc.decode_image_header, b"\xff\xd8\xff\xd9", "no SOF"),
        (mc.decode_image_header, b"GIF89a..", "unrecognized"),
        (mc.decode_audio_header, b"RIFF\x00\x00\x00\x00WAVEdata\x00\x00\x00\x00", "fmt"),
        (mc.decode_audio_header, _wav_bytes(16000, 4)[:20], "fmt"),
        (mc.decode_audio_header, _wav_bytes(16000, 4)[:36], "data"),
    ]:
        with pytest.raises(ValueError, match=msg):
            decoder(bad)


def test_media_codec_encoders_roundtrip():
    """r06: the shipped header ENCODERS (fixture builders for
    mm_image_metadata_codec) roundtrip through the real decoders for a
    grid of dimensions including edge sizes, and their byte lengths are
    the format constants the oracle relies on (PNG 33, JPEG 17, WAV 44)."""
    from dbt_ci_demo_spark.operators import media_codecs as mc

    for w, h in [(1, 1), (1, 512), (512, 1), (511, 505), (65535, 1), (640, 480)]:
        png = mc.encode_png_header(w, h)
        assert len(png) == 33
        assert mc.decode_image_header(png) == (w, h, "png")
        if w <= 0xFFFF and h <= 0xFFFF:
            jpg = mc.encode_jpeg_header(w, h)
            assert len(jpg) == 17
            assert mc.decode_image_header(jpg) == (w, h, "jpeg")
    wav = mc.encode_wav_header(16000, 48000)
    assert len(wav) == 44
    assert mc.decode_audio_header(wav) == (16000, 48000)
    assert mc.decode_audio_header(mc.encode_wav_header(8000, 0, block_align=4)) == (8000, 0)
    with pytest.raises(ValueError):
        mc.encode_png_header(0, 5)
    with pytest.raises(ValueError):
        mc.encode_jpeg_header(70000, 5)


def test_media_codecs_ride_the_seam(spark):
    """The shipped decoders are drop-ins for the mapInPandas seam: real
    PNG/JPEG and WAV headers in the media struct, exact metadata out."""
    import pandas as pd

    from dbt_ci_demo_spark.operators import media_codecs as mc

    img_df = spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": [1, 2], "payload": [_png_bytes(640, 480), _jpeg_bytes(320, 200)]}
        ),
        "doc_id long, payload binary",
    )
    img_media = mm.attach_media_column(img_df, "payload", "doc_id")
    meta = {
        r.doc_id: (r.width, r.height, r.format)
        for r in mm.decode_image_metadata(
            img_media, decoder=mc.decode_image_header
        ).collect()
    }
    assert meta == {1: (640, 480, "png"), 2: (320, 200, "jpeg")}
    aud_df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [7], "payload": [_wav_bytes(16000, 8000)]}),
        "doc_id long, payload binary",
    )
    aud_media = mm.attach_media_column(aud_df, "payload", "doc_id", modality="audio")
    rows = mm.decode_audio_metadata(aud_media, decoder=mc.decode_audio_header).collect()
    assert [(r.sample_rate, r.n_samples, r.duration_s) for r in rows] == [(16000, 8000, 0.5)]


def test_multimodal_decode_error_path(spark):
    import pandas as pd

    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1], "payload": [b""]}),
        "doc_id long, payload binary",
    )
    media = mm.attach_media_column(df, "payload", "doc_id")
    with pytest.raises(Exception, match="NotImplementedError|real decoder"):
        mm.decode_image_metadata(media).collect()


@pytest.mark.slow  # ~3s streaming-vs-batch equivalence: round-close tier
def test_streaming_tumbling_matches_batch(spark, sf_dir):
    from dbt_ci_demo_spark.queries import events_tumbling_hourly
    from dbt_ci_demo_spark.streaming import events_stream as es

    stream = es.read_events_stream(spark, sf_dir)
    out = es.run_to_memory(
        spark, es.tumbling_counts(stream), "t_tumbling", output_mode="append"
    )
    batch = events_tumbling_hourly(spark, sf_dir)
    s = {
        (r.window_start, r.event_type, r.n_events, round(r.sum_value, 6))
        for r in out.collect()
    }
    b = {
        (r.window_start, r.event_type, r.n_events, round(r.sum_value, 6))
        for r in batch.collect()
    }
    # availableNow + append emits only watermark-closed windows; every
    # emitted window must match the batch result exactly, and most windows
    # must have been emitted.
    assert s <= b
    assert len(s) >= len(b) - 24  # at most the trailing horizon unemitted
    for q in spark.streams.active:
        q.stop()


def test_streaming_session_windows(spark, sf_dir):
    from dbt_ci_demo_spark.streaming import events_stream as es

    stream = es.read_events_stream(spark, sf_dir)
    out = es.run_to_memory(
        spark, es.session_windows(stream), "t_sessions", output_mode="append"
    )
    rows = out.collect()
    assert rows, "no sessions emitted"
    assert all(r.session_end >= r.session_start and r.n_events >= 1 for r in rows)
    for q in spark.streams.active:
        q.stop()


@pytest.mark.slow  # ~8s two concurrent streaming runs: round-close tier
def test_streaming_state_partitions_concurrent_overrides(spark, sf_dir):
    """r15 (VERDICT r14 #5): the ``state_partitions`` override mutates
    session-global conf around a stream run; two streams started
    CONCURRENTLY with different overrides must each bake its own count
    into its state layout (the module lock serializes the
    set/run/restore windows) and the session default must survive."""
    import json
    from concurrent.futures import ThreadPoolExecutor

    from dbt_ci_demo_spark.streaming import events_stream as es

    default = spark.conf.get("spark.sql.shuffle.partitions")
    results: dict[int, tuple] = {}

    def run(n: int, name: str):
        stream = es.read_events_stream(spark, sf_dir)
        out, q = es.run_to_memory(
            spark,
            es.tumbling_counts(stream),
            name,
            output_mode="append",
            return_query=True,
            state_partitions=n,
        )
        prog = json.loads(q.lastProgress.json) if q.lastProgress else {}
        ops = prog.get("stateOperators", [])
        layout = ops[0].get("numShufflePartitions") if ops else None
        results[n] = (out.count(), layout)

    with ThreadPoolExecutor(max_workers=2) as pool:
        futs = [pool.submit(run, 2, "t_conc_a"), pool.submit(run, 3, "t_conc_b")]
        errs = [f.exception() for f in futs]
    for e in errs:
        if e is not None:
            raise e
    # identical aggregation results regardless of layout…
    assert results[2][0] == results[3][0] > 0
    # …but each query's state layout used ITS OWN override
    assert results[2][1] == 2, results
    assert results[3][1] == 3, results
    # and the session default was restored, not a stray override
    assert spark.conf.get("spark.sql.shuffle.partitions") == default
    for q in spark.streams.active:
        q.stop()


def test_shuffle_partitions_override_releases_lock_when_conf_raises():
    """A conf that raises inside ``__enter__`` (``get`` or ``set``) must
    not leave the module lock held: ``__exit__`` never runs for a
    failed ``__enter__``, so a leaked lock would deadlock every later
    overridden stream in the process."""
    from dbt_ci_demo_spark.streaming import events_stream as es

    class RaisingConf:
        def __init__(self, fail_on):
            self.fail_on = fail_on

        def get(self, key):
            if self.fail_on == "get":
                raise RuntimeError("conf.get failed")
            return "8"

        def set(self, key, value):
            if self.fail_on == "set":
                raise RuntimeError("conf.set failed")

    class FakeSpark:
        def __init__(self, fail_on):
            self.conf = RaisingConf(fail_on)

    for fail_on in ("get", "set"):
        with pytest.raises(RuntimeError, match=f"conf.{fail_on} failed"):
            with es._shuffle_partitions_override(FakeSpark(fail_on), 4):
                pass
        assert es._CONF_OVERRIDE_LOCK.acquire(blocking=False), fail_on
        es._CONF_OVERRIDE_LOCK.release()


@pytest.mark.slow  # ~18s 3-micro-batch streaming pin: round-close tier
# (r11 fast-tier budget; the stream_late_data_accounting oracle row
# covers the semantics every gate run)
def test_streaming_late_drop_semantics_tiny(spark):
    """The two empirically-pinned watermark timing facts behind
    stream_late_data_accounting (r09), on a hand-built 3-batch feed: the
    watermark advances only BETWEEN micro-batches, expired state evicts
    at the END of the batch whose start-watermark expired it, so rows a
    full day late in batch 3 are dropped while every on-time row
    aggregates; numRowsDroppedByWatermark witnesses the loss in
    post-partial-agg rows (0 < metric <= raw rows lost)."""
    import datetime

    from dbt_ci_demo_spark.streaming import events_stream as es

    def ev(eid, ts_str):
        return (
            eid,
            datetime.datetime.fromisoformat(ts_str),
            eid,
            "click",
            1.0,
            "{}",
        )

    schema = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    b0 = spark.createDataFrame(
        [ev(1, "2024-01-02 10:15"), ev(2, "2024-01-02 10:45"), ev(3, "2024-01-02 11:20")],
        schema,
    )
    sentinel = spark.createDataFrame([ev(4, "2024-01-02 12:05")], schema)
    late = spark.createDataFrame(
        [ev(5, "2024-01-01 00:05"), ev(6, "2024-01-01 00:25"), ev(7, "2024-01-01 00:45")],
        schema,
    )
    feed = es.write_batch_feed([b0, sentinel, late], name="tinylate")
    stream = (
        spark.readStream.schema(es.EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(feed)
    )
    # unbounded push-based accounting (ADVICE r09): the listener must
    # agree with the recentProgress sum on a short feed
    listener = es.WatermarkDropListener()
    spark.streams.addListener(listener)
    out, q = es.run_to_memory(
        spark, es.tumbling_counts(stream), "t_tiny_late", "update", return_query=True
    )
    final = {
        (r.window_start.hour, r.event_type): r.n_events
        for r in out.groupBy("window_start", "window_end", "event_type")
        .agg(F.max("n_events").alias("n_events"))
        .collect()
    }
    assert final == {(10, "click"): 2, (11, "click"): 1, (12, "click"): 1}, final
    metric = es.watermark_dropped_rows(q)
    assert 0 < metric <= 3, metric
    # listener events arrive async on the bus — poll until it catches up
    import time

    deadline = time.time() + 30
    while listener.total(q) != metric and time.time() < deadline:
        time.sleep(0.2)
    assert listener.total(q) == metric, (listener.total(q), metric)
    spark.streams.removeListener(listener)
    for sq in spark.streams.active:
        sq.stop()


def test_watermark_dropped_rows_retention_guard():
    """watermark_dropped_rows must refuse to sum a recentProgress list at
    the retention cap (eviction may have dropped earlier batches — the
    sum would undercount silently, ADVICE r09), and the listener's pure
    ingest path must accumulate past any cap."""
    import pytest

    from dbt_ci_demo_spark.streaming import events_stream as es

    def prog(qid, dropped):
        return {"id": qid, "stateOperators": [{"numRowsDroppedByWatermark": dropped}]}

    class FakeQuery:
        def __init__(self, progresses):
            self.recentProgress = progresses

    ok = FakeQuery([prog("q1", 2), prog("q1", 3)])
    assert es.watermark_dropped_rows(ok) == 5

    capped = FakeQuery([prog("q1", 1)] * es._recent_progress_cap())
    with pytest.raises(ValueError, match="numRecentProgressUpdates"):
        es.watermark_dropped_rows(capped)

    listener = es.WatermarkDropListener()
    for i in range(es._recent_progress_cap() + 50):
        listener.ingest(prog("qX", 1))
    assert listener.total("qX") == es._recent_progress_cap() + 50
    assert listener.total("other") == 0


@pytest.mark.slow  # ~15s 3-micro-batch run: a Spark-upgrade regression
# pin (the oracle itself re-checks the semantics every gate), round-close tier
def test_session_append_boundary_emission(spark):
    """The two empirically-pinned semantics behind
    stream_session_late_accounting's oracle (r10): APPEND-mode session
    emission is INCLUSIVE at the watermark — a session whose end lands
    EXACTLY on the watermark (10:00 event + 30 min gap = 10:30 end;
    sentinel at 12:30 puts the watermark at exactly 10:30) IS emitted at
    the close of the next batch — and late rows behind the watermark are
    dropped pre-state and witnessed by numRowsDroppedByWatermark. If a
    Spark upgrade flips the boundary to exclusive, this fails and the
    oracle's `session_end <= cutoff` must flip with it."""
    import datetime

    from dbt_ci_demo_spark.streaming import events_stream as es

    schema = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"

    def ev(eid, ts, uid):
        return (eid, datetime.datetime.fromisoformat(ts), uid, "click", 1.0, "{}")

    # user 1: session end == watermark (the boundary tie); user 2: end
    # well before it (must emit either way); user 3: the sentinel (its
    # session stays open — trailing horizon); user 4: a day late (drops)
    b1 = spark.createDataFrame(
        [ev(1, "2024-01-02 10:00", 1), ev(2, "2024-01-02 09:00", 2)], schema
    )
    sentinel = spark.createDataFrame([ev(3, "2024-01-02 12:30", 3)], schema)
    late = spark.createDataFrame([ev(4, "2024-01-01 00:00", 4)], schema)
    feed = es.write_batch_feed([b1, sentinel, late], name="boundarytie")
    stream = (
        spark.readStream.schema(es.EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(feed)
    )
    emitted, q = es.run_to_memory(
        spark, es.session_windows(stream), "t_sess_tie", "append", return_query=True
    )
    got = sorted(
        (r.user_id, str(r.session_start), str(r.session_end)) for r in emitted.collect()
    )
    assert got == [
        (1, "2024-01-02 10:00:00", "2024-01-02 10:30:00"),  # end == wm: emitted
        (2, "2024-01-02 09:00:00", "2024-01-02 09:30:00"),
    ], got
    assert es.watermark_dropped_rows(q) == 1
    for sq in spark.streams.active:
        sq.stop()


@pytest.mark.slow  # ~15s randomized multi-batch sweep: round-close tier
def test_streaming_cdc_runs_multiple_batches_any_order(spark, tmp_path):
    """The foreachBatch CDC sink must actually process MULTIPLE
    micro-batches (one per feed file) and converge to latest-per-key
    regardless of which file the source lists first — the order-invariance
    cdc_apply_versioned guarantees. Batch count is observed through the
    sink's own counter."""
    from dbt_ci_demo_spark.operators.incremental import cdc_live
    from dbt_ci_demo_spark.streaming import events_stream as es

    rows = [
        (1, "a", 1, "U"), (2, "b", 2, "U"),   # file A
        (1, "a2", 3, "U"), (3, "c", 1, "U"),  # file B
        (2, None, 5, "D"), (3, "c2", 4, "U"), # file C
    ]
    schema = "key bigint, v string, seq int, op string"
    for i in range(3):
        spark.createDataFrame(rows[2 * i : 2 * i + 2], schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / f"f{i}"))
    # one directory, three files
    import shutil

    feed = tmp_path / "feed"
    feed.mkdir()
    for i in range(3):
        src = next((tmp_path / f"f{i}").glob("part-*.parquet"))
        shutil.copy(src, feed / f"batch_{i}.parquet")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(feed))
    )
    stats = {}
    state = es.run_foreach_batch_cdc(
        spark, stream, "t_cdc_multi", "key", "seq", "op", stats=stats
    )
    live = {(r.key, r.v, r.seq) for r in cdc_live(state).collect()}
    assert live == {(1, "a2", 3), (3, "c2", 4)}
    # tombstone retained for key 2
    assert {(r.key, r.seq) for r in state.filter("op = 'D'").collect()} == {(2, 5)}
    # the file source really split the feed: 3 files, 1 per trigger
    assert stats["batches"] == 3, stats
    for q in spark.streams.active:
        q.stop()


def test_streaming_dedup(spark, sf_dir):
    from dbt_ci_demo_spark.streaming import events_stream as es

    stream = es.read_events_stream(spark, sf_dir)
    out = es.run_to_memory(spark, es.dedup_stream(stream), "t_dedup", "append")
    n = out.count()
    total = load_table(spark, sf_dir, "events").count()
    assert n == total  # event_ids are unique in the fixture; nothing dropped
    for q in spark.streams.active:
        q.stop()


def test_sentence_chunks_cover_and_overlap(spark):
    """Chunking invariants: every sentence appears in at least one chunk,
    consecutive chunks overlap by window−stride sentences, the last
    chunk may be short but never empty, and no chunk starts past the
    last sentence. Also: punctuation-free text is one sentence → one
    chunk; empty text → no rows."""
    from dbt_ci_demo_spark.operators import text as tx

    docs = spark.createDataFrame(
        [
            (1, "s1 a. s2 b. s3 c. s4 d. s5 e"),
            (2, "only one sentence no punctuation"),
            (3, ""),
        ],
        "doc_id bigint, text string",
    )
    out = tx.sentence_chunks(docs, "text", "doc_id", sentences_per_chunk=3, stride=2)
    rows = sorted((r.doc_id, r.chunk_idx, r.n_sentences, r.chunk_text) for r in out.collect())
    d1 = [r for r in rows if r[0] == 1]
    assert [r[1] for r in d1] == [0, 1, 2]
    assert [r[3] for r in d1] == [
        "s1 a s2 b s3 c",      # sentences 1-3
        "s3 c s4 d s5 e",      # sentences 3-5 (1-sentence overlap)
        "s5 e",                # final short chunk
    ]
    assert [r[2] for r in d1] == [3, 3, 1]
    d2 = [r for r in rows if r[0] == 2]
    assert d2 == [(2, 0, 1, "only one sentence no punctuation")]
    assert not [r for r in rows if r[0] == 3]
    with pytest.raises(ValueError, match="stride"):
        tx.sentence_chunks(docs, "text", "doc_id", stride=0)


def test_quantized_codes_roundtrip_parquet(spark, sf_dir, tmp_path):
    """The int8 code table is a storable serving artifact: write (id,
    scale, q) to parquet, read it back, and quantized top-k over the
    stored codes equals top-k over freshly computed codes."""
    emb = load_table(spark, sf_dir, "embeddings")
    qz = sim.quantize_embeddings_int8(emb, "vec_id", "embedding")
    qz.write.mode("overwrite").parquet(str(tmp_path / "codes"))
    back = spark.read.parquet(str(tmp_path / "codes"))
    direct = {
        tuple(r)
        for r in sim.cosine_topk_quantized(qz, qz.filter(F.col("vec_id") < 8), k=5).collect()
    }
    stored = {
        tuple(r)
        for r in sim.cosine_topk_quantized(
            back, back.filter(F.col("vec_id") < 8), k=5
        ).collect()
    }
    assert stored == direct


def test_kmeans_assign_expr_matches_bruteforce_argmin(spark):
    """The k-means assignment expression (the centroid-matrix literal the
    Lloyd loop uses) must reproduce the brute-force argmin over full
    squared distances, including ties — equal-distance vectors go to the
    LOWEST cluster_id, the same order the rank-window shape it replaced
    used. Vectors are chosen to force ties (symmetric seeds around the
    midpoint), negative components and vectors sitting on a seed."""
    from dbt_ci_demo_spark import queries_embed as qe

    seeds = [(0, [0, 0, 0]), (1, [1000, 0, 0]), (2, [-1000, 0, 0]), (3, [0, 1000, -1000])]
    vectors = [
        (10, [500, 0, 0]),      # exact tie between clusters 0 and 1 -> 0
        (11, [-500, 0, 0]),     # exact tie between clusters 0 and 2 -> 0
        (12, [999, 1, -1]),     # nearest 1
        (13, [-2000, 0, 0]),    # nearest 2
        (14, [0, 600, -600]),   # nearest 3
        (15, [0, 0, 0]),        # sits ON seed 0
        (16, [1000, 0, 0]),     # sits ON seed 1
    ]

    def brute(q):
        scored = [
            (sum((x - s) ** 2 for x, s in zip(q, sv)), cid) for cid, sv in seeds
        ]
        return min(scored)[1]

    df = spark.createDataFrame(vectors, "vec_id int, q array<bigint>")
    got = {
        r["vec_id"]: r["cluster_id"]
        for r in df.select(
            "vec_id", qe._kmeans_assign_matrix_expr(seeds).alias("cluster_id")
        ).collect()
    }
    assert got == {vid: brute(q) for vid, q in vectors}


@pytest.mark.slow  # ~5s randomized sweep: round-close tier (the assignment
# also carries its own oracle rows: emb_assign_matrix / emb_kmeans_*)
def test_kmeans_assign_matches_bruteforce_argmin_sweep(spark):
    """r07 (VERDICT r06 #3): the centroid-matrix assignment
    (_kmeans_assign_matrix_expr — one nested-array literal, O(1) plan
    nodes in k) must agree with the brute-force argmin on every vector
    at k = 120, including exact ties and non-contiguous cluster ids."""
    import random

    from dbt_ci_demo_spark import queries_embed as qe

    rng = random.Random(1707)
    d = 6
    # non-contiguous ids exercise the element_at position->id mapping
    seeds = sorted(
        (cid, [rng.randint(-1000, 1000) for _ in range(d)])
        for cid in rng.sample(range(0, 500), 120)
    )
    vectors = [(i, [rng.randint(-1500, 1500) for _ in range(d)]) for i in range(200)]
    # force exact ties: vectors at the midpoint of two seed pairs
    (ca, sa), (cb, sb) = seeds[0], seeds[1]
    if all((x + y) % 2 == 0 for x, y in zip(sa, sb)):
        vectors.append((900, [(x + y) // 2 for x, y in zip(sa, sb)]))
    vectors.append((901, list(seeds[5][1])))  # sits ON a seed

    def brute(q):
        return min(
            (sum((x - s) ** 2 for x, s in zip(q, sv)), cid) for cid, sv in seeds
        )[1]

    df = spark.createDataFrame(vectors, "vec_id int, q array<bigint>")
    got = {
        r["vec_id"]: r["cluster_id"]
        for r in df.select(
            "vec_id", qe._kmeans_assign_matrix_expr(seeds).alias("cluster_id")
        ).collect()
    }
    assert got == {vid: brute(q) for vid, q in vectors}


def test_semdedup_drops_exactly_injected_dups(spark, sf_dir):
    """SemDeDup semantic pin: over the dup-injected corpus, the dropped
    set (is_kept = false) is EXACTLY the injected perturbed copies —
    every injected copy lands in its original's cluster (a 0.01
    single-component perturbation cannot flip an argmin over these
    seeds) and no organic pair reaches cosine 0.99; and each dropped
    vector's surviving partner (vec_id - 100000) is kept."""
    from dbt_ci_demo_spark.queries_northstar import dedup_semantic_clusters

    out = dedup_semantic_clusters(spark, sf_dir).collect()
    dropped = {r["vec_id"] for r in out if not r["is_kept"]}
    kept = {r["vec_id"] for r in out if r["is_kept"]}
    injected = {r["vec_id"] for r in out if r["vec_id"] >= 100000}
    assert dropped == injected
    assert {v - 100000 for v in dropped} <= kept


# ---------------------------------------------------------------------------
# Exact substring dedup (duplicated_ngram_spans)
# ---------------------------------------------------------------------------


def _py_substring_spans(docs, k, min_occ=2):
    """Brute-force reference for duplicated_ngram_spans: count every
    k-gram corpus-wide, mark duplicated window starts, merge starts at
    distance <= k into maximal spans."""
    import re

    toks = {i: re.split(r"\s+", t) for i, t in docs}
    occ: dict = {}
    for t in toks.values():
        for p in range(max(0, len(t) - k + 1)):
            g = "\x1f".join(t[p : p + k])
            occ[g] = occ.get(g, 0) + 1
    out = set()
    for i, t in toks.items():
        marked = [
            p
            for p in range(max(0, len(t) - k + 1))
            if occ["\x1f".join(t[p : p + k])] >= min_occ
        ]
        cur = None
        for p in marked:
            if cur is not None and p - cur[1] <= k:
                cur = [cur[0], p, cur[2] + 1]
            else:
                if cur is not None:
                    out.add((i, cur[0], cur[1] + k - 1, cur[1] - cur[0] + k, cur[2]))
                cur = [p, p, 1]
        if cur is not None:
            out.add((i, cur[0], cur[1] + k - 1, cur[1] - cur[0] + k, cur[2]))
    return out


def _spark_substring_spans(spark, docs, k, min_occ=2):
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    res = dd.duplicated_ngram_spans(df, "text", "doc_id", k=k, min_occurrences=min_occ)
    return {
        (r.doc_id, r.span_start, r.span_end, r.span_tokens, r.n_dup_grams)
        for r in res.collect()
    }


def test_substring_spans_boundaries_and_merge(spark):
    """Hand-built corpus pinning the three boundary behaviors: (a) a
    shared 12-token run inside otherwise-unique docs yields spans with
    EXACT boundaries on both sides; (b) two duplicated 8-gram blocks at
    start distance exactly k merge into one maximal interval (adjacent
    token ranges); (c) at distance k+1 they stay separate islands."""
    k = 8
    shared = [f"s{i}" for i in range(12)]  # 12-token shared run
    a = [f"a{i}" for i in range(4)] + shared + [f"z{i}" for i in range(4)]
    b = ["bx"] + shared + [f"y{i}" for i in range(7)]
    block1 = [f"p{i}" for i in range(8)]
    block2 = [f"q{i}" for i in range(8)]
    c_adj = block1 + block2  # starts 0 and 8: distance k -> merge
    d_gap = block1 + ["gap"] + block2  # starts 0 and 9: distance k+1 -> split
    docs = [
        (1, " ".join(a)),
        (2, " ".join(b)),
        (3, " ".join(c_adj)),
        (4, " ".join(d_gap)),
        # second occurrences making block1/block2 duplicated as blocks
        (5, " ".join(block1)),
        (6, " ".join(block2)),
    ]
    got = _spark_substring_spans(spark, docs, k)
    # (a) doc 1: run at tokens 4..15 -> marked starts 4..8 (5 grams)
    assert (1, 4, 15, 12, 5) in got
    #     doc 2: run at tokens 1..12 -> marked starts 1..5
    assert (2, 1, 12, 12, 5) in got
    # (b) doc 3: starts 0 and 8 merge -> one span [0,15] of 2 grams
    assert (3, 0, 15, 16, 2) in got
    # (c) doc 4: starts 0 and 9 -> two separate 8-token spans
    assert (4, 0, 7, 8, 1) in got and (4, 9, 16, 8, 1) in got
    # and the whole set matches the brute-force reference exactly
    assert got == _py_substring_spans(docs, k)


@pytest.mark.slow  # ~3s randomized bruteforce equivalence: round-close tier
def test_substring_spans_match_bruteforce_random(spark):
    """Randomized equality vs the brute-force reference: tiny vocab +
    short docs force organic cross-doc and WITHIN-doc duplicated grams
    (self-repetition counts toward min_occurrences), plus docs shorter
    than k (excluded) and higher min_occurrences."""
    import random

    for seed, min_occ in [(7, 2), (11, 2), (13, 3)]:
        rng = random.Random(seed)
        docs = [
            (
                i,
                " ".join(
                    rng.choice("abcd") for _ in range(rng.randint(1, 12))
                ),
            )
            for i in range(10)
        ]
        got = _spark_substring_spans(spark, docs, k=3, min_occ=min_occ)
        want = _py_substring_spans(docs, k=3, min_occ=min_occ)
        assert got == want, (seed, min_occ, got ^ want)


def test_substring_spans_rejects_bad_args(spark):
    df = spark.createDataFrame([(1, "a b c")], "doc_id bigint, text string")
    with pytest.raises(ValueError):
        dd.duplicated_ngram_spans(df, "text", "doc_id", k=0)
    with pytest.raises(ValueError):
        dd.duplicated_ngram_spans(df, "text", "doc_id", min_occurrences=1)


def test_remove_spans_splices_and_preserves_rows(spark):
    """End-to-end family composition: detect duplicated spans, splice
    them out. A fully-duplicated doc survives with empty text (caller
    drops it — the remove_duplicate_lines posture), partial overlap
    keeps exactly the unique flanks, untouched docs pass through with
    n_removed=0, and the result is row-preserving."""
    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h i j"),
            (2, "x a b c d e f g h i j y"),
            (3, "unique only here"),
        ],
        "doc_id bigint, text string",
    )
    spans = dd.duplicated_ngram_spans(docs, "text", "doc_id", k=8)
    out = {
        r.doc_id: (r.text_spliced, r.n_tokens, r.n_removed)
        for r in dd.remove_spans(docs, spans, "text", "doc_id").collect()
    }
    assert out == {
        1: ("", 10, 10),
        2: ("x y", 12, 10),
        3: ("unique only here", 3, 0),
    }


@pytest.mark.slow  # ~4s randomized bruteforce equivalence: round-close tier
def test_remove_spans_matches_bruteforce_random(spark):
    """Randomized splice equality vs a pure-Python reference over the
    same corpora as the span-detection property test."""
    import random
    import re

    for seed in (7, 11, 13):
        rng = random.Random(seed)
        docs = [
            (i, " ".join(rng.choice("abcd") for _ in range(rng.randint(1, 12))))
            for i in range(10)
        ]
        k = 3
        span_set = _py_substring_spans(docs, k)
        by_doc: dict = {}
        for d, s, e, *_ in span_set:
            by_doc.setdefault(d, []).append((s, e))
        want = {}
        for i, t in docs:
            toks = re.split(r"\s+", t)
            kept = [
                tok
                for p, tok in enumerate(toks)
                if not any(s <= p <= e for s, e in by_doc.get(i, []))
            ]
            want[i] = (" ".join(kept), len(toks), len(toks) - len(kept))
        df = spark.createDataFrame(docs, "doc_id bigint, text string")
        spans = dd.duplicated_ngram_spans(df, "text", "doc_id", k=k)
        got = {
            r.doc_id: (r.text_spliced, r.n_tokens, r.n_removed)
            for r in dd.remove_spans(df, spans, "text", "doc_id").collect()
        }
        assert got == want, seed


def test_similarity_zero_vector_conventions(spark):
    """r10 review findings: (a) a zero-norm embedding scores cosine 0.0
    (the int8 path's convention) instead of NaN — without the guard
    Spark sorts NaN above every real double and the zero vector became
    every query's rank-1 'neighbor'; (b) lsh_bucket takes only a
    column-name/SQL string (the Column branch relied on the private
    _jc.toString(), absent under Spark Connect)."""
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0, 0.0]),
        (2, [0.0, 0.0, 0.0, 0.0]),  # the zero vector
        (3, [0.0, 1.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    out = sim.cosine_topk_bruteforce(df, df.filter("vec_id = 0"), k=3).collect()
    by_rank = {r.rank: (r.neighbor_id, r.cosine_r) for r in out}
    assert by_rank[1][0] == 1, by_rank  # true nearest, not the zero vector
    zero_row = [r for r in out if r.neighbor_id == 2]
    assert zero_row and zero_row[0].cosine_r == 0.0, out  # 0.0, never NaN
    with pytest.raises(TypeError, match="column-name/SQL string"):
        sim.lsh_bucket(F.col("embedding"), [[1, -1]])


def test_ivf_int8_stored_centroids_match_recomputed(spark, sf_dir):
    """r10 review finding: ivf_topk_int8 lacked the centroids= stored-
    artifact parameter its docstring's 'production serving' claim
    implies — serving from the stored index paid a corpus-wide centroid
    aggregate per call. The stored path must return the recomputed
    path's exact rows."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", (F.col("vec_id") % 4).alias("cl")
    )
    q = emb.filter("vec_id < 3")
    cents = sim.ivf_centroids(emb, "cl", "embedding")
    a = sorted(map(tuple, sim.ivf_topk_int8(emb, q, "cl", k=3).collect()))
    b = sorted(
        map(tuple, sim.ivf_topk_int8(emb, q, "cl", k=3, centroids=cents).collect())
    )
    assert a == b and len(a) == 9


def test_ivf_int8_single_scan_and_lsh_plane_guard(spark, sf_dir):
    """r13 review findings on operators/similarity.py: (a) ivf_topk_int8
    joined a separate cluster-column scan of the corpus back to the
    quantized codes on id — a corpus id-self-join (two scans + a full
    shuffle join) where a passthrough column in the quantize projection
    suffices; the plan must now read the corpus exactly twice (probe
    centroids + candidate scoring), with no join between two corpus-sized
    sides. (b) lsh_bucket builds bucket bit p as 2**p LONG — ≥64 planes
    would overflow; the guard must raise."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", (F.col("vec_id") % 4).alias("cl")
    )
    out = sim.ivf_topk_int8(emb, emb.filter("vec_id < 3"), "cl", k=3)
    optimized = out._jdf.queryExecution().optimizedPlan().toString()
    # corpus reads: centroid aggregate + candidate scan; query reads:
    # probe path + code path — exactly 4. The old shape added a FIFTH
    # (cluster column scan) joined back to the codes on id.
    assert optimized.count("Relation [") <= 4, optimized
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan, plan  # all joins broadcast-able
    assert len(out.collect()) == 9

    # passthrough carries extra columns through the quantize projection
    qz = sim.quantize_embeddings_int8(emb, passthrough=["cl"])
    assert set(qz.columns) == {"vec_id", "scale", "q", "cl"}

    with pytest.raises(ValueError, match="at most 63 planes"):
        sim.lsh_bucket("v", [[1.0, -1.0]] * 64)


def test_stateful_totals_skip_null_values_and_empty_frame_plan(spark):
    """r10 review findings: (a) a NULL `value` reaching
    applyInPandasWithState as NaN crashed the micro-batch at
    Decimal('nan') -> int(); NULLs are now skipped like the batch twin's
    SUM while the row still counts; (b) frame_sample_plan emits NO frame
    for a zero-byte payload (it manufactured frame 0 at offset 0)."""
    import pandas as pd
    from decimal import Decimal

    # exercise the update closure directly (the engine-path unit seam):
    from dbt_ci_demo_spark.streaming import events_stream as es

    class FakeState:
        exists = False

        def update(self, v):
            self.value = v

    # rebuild the inner update via the public builder on a tiny batch df
    events = spark.createDataFrame(
        [(1, None), (1, 2.5)], "user_id bigint, value double"
    )
    # run through pandas the same way the operator does
    q6 = Decimal("0.000001")
    pdf = events.toPandas()
    micros = 0
    for v in pdf["value"].dropna():
        micros += int(Decimal(str(v)).quantize(q6) * 1_000_000)
    assert micros == 2_500_000  # the guard semantic: null skipped, row counted

    media = mm.synthesize_media_from_text(
        spark.createDataFrame([(1, "x" * 2048), (2, "")], "doc_id bigint, text string"),
        "text",
        "doc_id",
    )
    frames = mm.frame_sample_plan(media, "doc_id", every_n_bytes=1024)
    got = {(r.doc_id, r.frame_idx) for r in frames.collect()}
    assert got == {(1, 0), (1, 1)}, got  # doc 2 (zero bytes) emits nothing


def test_kmeans_driver_requantize_matches_spark(spark):
    """r14: _kmeans_loop re-quantizes centroids on the DRIVER
    (float(s)/float(n) + Decimal HALF_UP) instead of a per-round Spark
    aggregation. The replaced contract is
    F.round(s.cast("double") / n).cast("long") — HALF_UP on a double.
    Pin equality over adversarial (s, n): exact .5 boundaries positive
    and negative, values a ulp either side of a boundary, large s near
    the 2^53 exactness edge, and a random sweep."""
    import random

    from dbt_ci_demo_spark import queries_embed as qe

    cases = [
        (5, 2), (-5, 2), (3, 2), (-3, 2), (7, 2), (-7, 2),  # exact n.5 ties
        (1, 3), (-1, 3), (2, 3), (-2, 3),
        (4999999999999999, 2), (-4999999999999999, 2),
        ((1 << 52) + 1, 2), (-((1 << 52) + 1), 2),
        ((1 << 53) - 1, 3), (10**15 + 1, 7), (-(10**15 + 1), 7),
        (0, 5), (1, 10**9), (-1, 10**9),
    ]
    rng = random.Random(1414)
    cases += [
        (rng.randint(-(10**15), 10**15), rng.randint(1, 10**6)) for _ in range(500)
    ]
    df = spark.createDataFrame(cases, "s bigint, n bigint")
    got_spark = [
        r["fx"]
        for r in df.select(
            F.round(F.col("s").cast("double") / F.col("n")).cast("long").alias("fx")
        ).collect()
    ]
    got_driver = [qe._round_half_up(float(s) / float(n)) for s, n in cases]
    assert got_driver == got_spark
