"""Dump the physical plan of the minhash candidate-pair band self-join
over a pinned band table (signatures projected from pinned shingle sets).

Usage: python tools/dump_minhash_plan.py [SF_DIR]"""
from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dbt_ci_demo_spark.operators import dedup as dd
from dbt_ci_demo_spark.queries_northstar import _MINHASH, _docs_dup
from dbt_ci_demo_spark.session import get_spark, pinned


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark("dump-minhash-plan")
    index = dd.minhash_index(_docs_dup(spark, sf_dir), "text", "doc_id", _MINHASH)
    with pinned(index.sets, index.bands):
        cand = dd.lsh_pairs_from_buckets(index.bands, "doc_id")
        print("---- candidate pairs (the band self-join) ----")
        print(
            cand._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
            )
        )


if __name__ == "__main__":
    main()
