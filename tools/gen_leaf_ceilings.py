"""Regenerate tests/leaf_ceilings.json — the per-query optimized-plan
leaf-relation ceilings asserted by tests/test_plans.py::
test_leaf_relation_ceiling.

Run after intentionally adding a table read to a query (or registering a
new query), then eyeball the diff: a count JUMP on an untouched query is
the union-branch re-expansion class the ceiling test exists to catch —
fix the plan (see session.pin_small), don't raise the
ceiling. Logical leaf counts are SF-independent; sf0.001 keeps the sweep
fast (~6 min).

    python tools/gen_leaf_ceilings.py [sf_dir]
"""

from __future__ import annotations

import inspect
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    from dbt_ci_demo_spark.session import get_spark
    import dbt_ci_demo_spark.queries as q

    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark()
    out: dict[str, int] = {}
    for name, fn in q.registry_queries().items():
        if name.startswith("wr_"):  # writer queries mutate warehouse state
            continue
        kwargs = {}
        if "materialize" in inspect.signature(fn).parameters:
            kwargs["materialize"] = False
        df = fn(spark, sf, **kwargs)
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        out[name] = plan.count("Relation [")
    path = Path(__file__).resolve().parent.parent / "tests" / "leaf_ceilings.json"
    path.write_text(json.dumps(dict(sorted(out.items())), indent=1) + "\n")
    print(f"wrote {len(out)} ceilings to {path}")


if __name__ == "__main__":
    main()
