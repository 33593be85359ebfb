"""Driver-side cost guards: generated code is compiled once per session,
and the MinHash plan builders stay within a py4j round-trip budget."""

from __future__ import annotations

import threading

import pyspark.sql.functions as F
import pytest
from py4j.clientserver import ClientServerConnection

from dbt_ci_demo_spark.operators import dedup as dd
from dbt_ci_demo_spark.sources.catalog import load_table


def _compiles(spark) -> int:
    """Whole-stage codegen compilations so far in this JVM."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_corpus_operators_compile_nothing_when_warm(spark, sf_dir, tmp_path):
    """The three corpus operators (MinHash + duplicate clusters, star CC,
    k-means) run on tiny inputs until a warm pass finds every generated
    class in the codegen cache. One pass needs more than Spark's default
    100 cache entries, so at that cap the LRU evicts a pass's classes
    before the next pass reuses them and every pass recompiles on the
    driver (session.py's docstring has the counts).

    A warm pass may still compile a variant that earlier passes did not
    meet: AQE picks the build side of the MinHash band self-join (two
    equal-sized sides) by which stage reports first, and each side
    generates its own class. Each variant compiles once, so within three
    warm passes one compiles nothing. The inputs are filtered, not
    ``limit``-ed: a codegen'd limit names its counter field from a
    JVM-wide sequence, so its class text is new on every call."""
    from dbt_ci_demo_spark.queries import registry_queries

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    docs = docs.filter(F.col("doc_id") < 200)
    edges = [(i, i + 1) for i in range(1, 40) if i % 8]
    spark.createDataFrame(edges, "src long, dst long").write.parquet(str(tmp_path / "chain"))
    chain = spark.read.parquet(str(tmp_path / "chain"))
    kmeans = registry_queries()["emb_kmeans_converged"]

    def one_pass() -> int:
        before = _compiles(spark)
        pairs = dd.minhash_near_duplicates(docs, "text", "doc_id", threshold=0.7)
        for out in (
            dd.duplicate_clusters(pairs),
            dd.connected_components_star(chain, "src", "dst"),
            kmeans(spark, sf_dir),
        ):
            out.write.format("noop").mode("overwrite").save()
        return _compiles(spark) - before

    one_pass()
    warm = [one_pass()]
    while warm[-1] and len(warm) < 3:
        warm.append(one_pass())
    assert warm[-1] == 0, warm


# Round trips to build one lazy MinHash index (shingle sets, signatures,
# band table), with margin over the 320 (md5) / 319 (xxhash64) measured
# on repeat builds in one process. The Column-API form of the signature + band plan
# alone took ~3.5k-5k. Only the building thread's calls count: py4j's
# finalizer thread sends the release of earlier tests' proxies on its own
# schedule (0-330 extra calls per build in a probe).
MINHASH_BUILD_CALLS = 400


@pytest.mark.parametrize("hash_fn", ["md5", "xxhash64"])
def test_minhash_builders_py4j_ceiling(spark, sf_dir, monkeypatch, hash_fn):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").limit(10)
    spec = dd.MinHashSpec(hash_fn=hash_fn)
    calls = []
    send = ClientServerConnection.send_command
    build_thread = threading.get_ident()

    def counting(self, command):
        if threading.get_ident() == build_thread:
            calls.append(1)
        return send(self, command)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting)
    index = dd.minhash_index(docs, "text", "doc_id", spec)
    monkeypatch.undo()
    assert len(calls) <= MINHASH_BUILD_CALLS, len(calls)
    assert index.bands.columns == ["doc_id", "band_id", "band_hash"]
    assert index.bands.filter(F.col("band_id") == 7).count() == index.sets.count()
