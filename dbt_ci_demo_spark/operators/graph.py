"""Iterative graph algorithms beyond connected components.

PageRank here is the canonical Pregel-style iterative job expressed as
DataFrame algebra, with the two disciplines every iterative operator in
this engine follows:

- O(1) lineage: the rank table is reliable-checkpointed per round, so
  the plan never grows with iteration count (the classic iterative-job
  driver OOM is an ever-deepening plan, not data).
- Engine-exact fixed-point arithmetic: ranks are integer micro-mass
  (total mass 10^12 at round 0) and every transfer uses explicit floor
  division, so each round is pure integer math — bit-identical in any
  engine, which is what lets a DuckDB oracle check ten unrolled rounds
  value-by-value. (Float PageRank sums contributions in a
  non-deterministic order; fixed-point sidesteps the whole class.)

Scale shape per round: one join of ranks onto the out-edge list (both
keyed by src — co-partitioned after the first shuffle) and one
aggregate by dst. Skewed in-degree (celebrity nodes) is an AQE
skew-split case, same as any hot-key aggregate. Dangling nodes (no
out-edges) RETAIN their damped base share but their mass is not
redistributed — documented loss, standard for the simple formulation;
total mass is therefore not conserved and ranks are comparable within
a run only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dbt_ci_demo_spark.session import checkpoint, pinned

INIT_MASS = 1_000_000_000_000  # 10^12 micro-mass units at round 0


def pagerank(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    rounds: int = 10,
    damping_pct: int = 85,
) -> DataFrame:
    """Fixed-round integer PageRank over a directed edge list.

    Per node: r_0 = INIT_MASS div N;
    r_{t+1} = (100-d)% of (INIT_MASS div N) + d% of the floor-divided
    contributions (r_t div out_deg) summed over in-edges — every step
    integer, every div explicit floor. Returns (id, rank) with
    ``rank`` the round-``rounds`` integer micro-mass.

    ``damping_pct`` is an integer percentage (85 = the classic 0.85) so
    the damping multiply stays integer too."""
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    if not 0 <= damping_pct <= 100:
        raise ValueError("damping_pct must be in [0, 100]")
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).distinct()
    nodes = (
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .distinct()
    )
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    out_edges = e.join(deg, on="src")
    with pinned(out_edges):
        n_nodes = nodes.count()
        base_all = INIT_MASS // max(n_nodes, 1)
        base = (base_all * (100 - damping_pct)) // 100
        ranks = checkpoint(nodes.withColumn("rank", F.lit(base_all).cast("long")))
        for _ in range(rounds):
            contrib = (
                ranks.join(out_edges, ranks["id"] == out_edges["src"])
                .select(
                    F.col("dst").alias("id"),
                    F.expr("rank div deg").alias("c"),
                )
                .groupBy("id")
                .agg(F.sum("c").alias("in_mass"))
            )
            ranks = checkpoint(
                nodes.join(contrib, on="id", how="left").select(
                    "id",
                    (
                        F.lit(base).cast("long")
                        + F.expr(
                            f"(coalesce(in_mass, 0L) * {damping_pct}) div 100"
                        )
                    ).alias("rank"),
                )
            )
    return ranks
