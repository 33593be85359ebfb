"""Empty-input sweep: at 100 TB, empty days/partitions/sources are
routine (a new source with no documents yet, a quiet shard, a filter
that eliminates a batch). Every corpus-shaped operator must return an
EMPTY result — never raise — on an empty input."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from dbt_ci_demo_spark.operators import cluster as cl
from dbt_ci_demo_spark.operators import dedup as dd
from dbt_ci_demo_spark.operators import sampling as sp
from dbt_ci_demo_spark.operators import similarity as sim
from dbt_ci_demo_spark.operators import text as tx

# edge-case regression sweep: round-close tier (SCALE.md suite-split plan)
pytestmark = pytest.mark.slow


def _docs(spark, rows=()):
    return spark.createDataFrame(
        list(rows), "doc_id bigint, text string, lang string, source string, quality double"
    )


def _vecs(spark, rows=()):
    return spark.createDataFrame(list(rows), "vec_id bigint, embedding array<double>")


def test_dedup_family_empty(spark):
    e = _docs(spark)
    assert dd.exact_duplicates(e, "text", "doc_id").count() == 0
    assert dd.dedup_keep_first(e, "text", "doc_id").count() == 0
    assert dd.minhash_near_duplicates(e, "text", "doc_id").count() == 0
    assert dd.simhash_near_duplicates(e, "text", "doc_id").count() == 0
    some = _docs(spark, [(1, "the quick brown fox jumps over the dog", "en", "a", 0.9)])
    # the operator returns FLAGGED docs: an empty corpus flags nothing,
    # and an empty benchmark must flag nothing (not drop the corpus)
    assert dd.decontaminate_against(e, some, "text", "doc_id").count() == 0
    assert dd.decontaminate_against(some, e, "text", "doc_id").count() == 0


def test_similarity_family_empty(spark):
    e = _vecs(spark)
    v = _vecs(spark, [(1, [1.0, 0.0]), (2, [0.0, 1.0])])
    assert sim.cosine_topk_bruteforce(e, e).count() == 0
    assert sim.cosine_topk_bruteforce(v, e).count() == 0  # no queries
    assert sim.embedding_near_duplicates(e, dim=2, n_planes=2).count() == 0
    assert sim.quantize_embeddings_int8(e).count() == 0


def test_sampling_family_empty(spark):
    e = _docs(spark)
    assert sp.hash_sample(e, "doc_id", 0.5).count() == 0
    assert sp.stratified_sample(e, ["lang"], "doc_id", 5).count() == 0
    assert sp.score_weighted_sample(e, "doc_id", "quality").count() == 0
    assert sp.allocate_budget(e, "lang", 100).count() == 0
    toks = spark.createDataFrame([], "doc_id bigint, n_tokens bigint")
    assert sp.pack_token_windows(toks, "doc_id", "n_tokens").count() == 0
    # ntile_histogram: empty input → empty output with a NULL-typed tile
    # column (never raises from its two driver-held threshold collects);
    # per-stratum and global strata both covered
    assert sp.ntile_histogram(e, 3, "quality", "doc_id", ["lang"]).count() == 0
    assert sp.ntile_histogram(e, 4, "quality", "doc_id", []).count() == 0


def test_layout_family_empty(spark):
    e = spark.createDataFrame([], "k bigint, v double, ds string")
    assert cl.with_zorder_key(e, ["k", "v"]).count() == 0
    assert cl.compact_layout(e, "ds", ["k"], 10).count() == 0


def test_graph_empty_already_covered_and_clusters(spark):
    e = spark.createDataFrame([], "id_a bigint, id_b bigint")
    assert dd.connected_components_star(e).count() == 0
    assert dd.duplicate_clusters(e).count() == 0
