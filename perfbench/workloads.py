"""The workloads. Each exposes the same protocol:

* ``generate()`` writes the seeded inputs (untimed; reported as
  ``gen_s``) and returns their sizes (:data:`gen.Sizes`);
* ``oracle()`` computes the expected answers in DuckDB / Python
  (untimed; reported as ``oracle_s``);
* ``setup_once()`` (``ci_slim``) resets and returns the timed build of
  the initial program state; ``warmup()`` runs one pass of every op type
  (both count toward ``setup_s``);
* ``cycle(i)`` yields the ops of cycle ``i``. An op's ``run`` is the timed
  part; ``prepare``, ``verify`` (returns ``None`` or a failure reason) and
  ``cleanup`` are untimed;
* ``break_expected()`` perturbs one expected value (self-test only).
"""

from __future__ import annotations

import datetime as dt
import os
import random
import shutil
import time
from dataclasses import dataclass
from typing import Callable

import duckdb
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import dag
import gen
from dbt_ci_demo_spark.oracle_check import compare_frames
from dbt_ci_demo_spark.plans.runner import EnvConfig, Runner
from dbt_ci_demo_spark.plans.state import StateManifest
from dbt_ci_demo_spark.sources.catalog import SourceCatalog

PREFIX = "bench"
# ci_slim's PR ops change one of these models: a seed, a table, a
# partitioned incremental model and a snapshot, each with a downstream
# closure of one or two nodes. With the nightly job a cycle is 5 ops, an
# odd count, so the median op is one op.
PR_MODELS = ["seed_priority", "dim_customer", "fct_daily_revenue", "snap_customer"]
# the nightly job: the incremental models, the snapshot and the staging
# table it reads, rebuilt in prod
NIGHTLY_JOB = ["stg_customer", "fct_orders", "cust_order_stats", "fct_daily_revenue",
               "snap_customer"]


@dataclass
class Ctx:
    spark: object
    src: str  # generated inputs
    wh: str  # warehouse root (all stored program state)
    seed: int
    sf: float


@dataclass
class Op:
    kind: str
    rows: int  # input rows the op's nodes / operators read
    run: Callable[[], object]
    verify: Callable[[object], str | None]
    cleanup: Callable[[], None] = lambda: None
    prepare: Callable[[], None] = lambda: None
    batch_bytes: int = 0  # bytes of the batch landed by prepare()
    force_s: float = 0.0  # corpus ops: the noop write inside run()


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(path) for f in fs)


def _duck(src: str, tables: list[str]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}/{t}.parquet')")
    return con


def _run_warmup(ops) -> None:
    for op in ops:
        op.prepare()
        why = op.verify(op.run())
        op.cleanup()
        if why:
            raise RuntimeError(f"warm-up {op.kind} failed: {why}")


# -- the project DAG (ci_slim) ----------------------------------------------


class CiSlim:
    """Slim CI: one PR build per op (a seeded model changes, then
    ``state:modified+`` with deferral into a fresh ``bench_pr_<N>``
    namespace), plus one nightly incremental job per cycle so the
    rewrite paths run against the same prod state."""

    name = "ci_slim"

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.next_pr = 1
        self.prod_env = EnvConfig(env="prod", database_prefix=PREFIX, threads=4)
        self.prod_loc = os.path.join(ctx.wh, PREFIX)
        self.state_path = os.path.join(ctx.wh, "state", "manifest.json")
        self.sizes: gen.Sizes = {}
        self.day = 0
        self.skew = 0

    def generate(self) -> gen.Sizes:
        self.state = gen.gen_relational(self.ctx.src, self.ctx.sf, self.ctx.seed, self.sizes)
        cust = self.state["customer"]
        # expected SCD2 history: key -> [[acctbal, valid_from, valid_to], ...]
        self.versions = {k: [[b, gen.BASE_TS, None]] for k, b in zip(
            cust["c_custkey"].to_pylist(), cust["c_acctbal"].to_pylist())}
        return self.sizes

    def oracle(self) -> None:
        con = _duck(self.ctx.src, ["customer", "nation", "part", "orders", "lineitem"])
        self.counts = dag.expected_counts(con)
        con.close()

    def break_expected(self) -> None:
        self.counts = {**self.counts, "fct_orders": self.counts["fct_orders"] + 1}
        self.skew = 1

    def _drop(self, database: str, location: str) -> None:
        spark = self.ctx.spark
        spark.sql(f"DROP DATABASE IF EXISTS `{database}` CASCADE")
        for name, spec in dag.SPECS.items():
            if spec[3].get("materialized") == "view":
                spark.catalog.dropTempView(f"{database}__view__{name}")
        shutil.rmtree(location, ignore_errors=True)

    def _sources(self) -> SourceCatalog:
        return SourceCatalog(self.ctx.spark, self.ctx.src)

    def _prod_runner(self, sources: SourceCatalog) -> Runner:
        return Runner(self.ctx.spark, dag.models(), env=self.prod_env, sources=sources,
                      warehouse_location=self.prod_loc)

    def setup_once(self) -> Callable[[], None]:
        """Untimed reset; the returned callable is the timed prod build
        plus state-manifest publication."""
        self._drop(PREFIX, self.prod_loc)

        def build() -> None:
            steps: list = []
            self._prod_runner(self._sources()).build(
                state_out=self.state_path, tests=dag.tests(), build_steps=steps)
            got = [(s.node, s.resource_type, s.status, s.n_rows) for s in steps]
            want = dag.expected_steps(set(dag.SPECS), self.counts)
            if got != want:
                raise RuntimeError(f"prod build ledger mismatch: {got} != {want}")

        return build

    def _input_rows(self, names) -> int:
        rows = 0
        for name in names:
            _, refs, sources, _ = dag.SPECS[name]
            rows += sum(self.sizes.get(s, {}).get("rows", 0) for s in sources)
            rows += sum(self.counts[r] for r in refs)
        return rows

    def stored_ratio(self) -> float:
        """Bytes on disk under the prod namespace over the Arrow bytes of
        the rows its live tables hold (read from each table's current
        files)."""
        spark, user = self.ctx.spark, 0
        for t in spark.catalog.listTables(PREFIX):
            if not t.isTemporary and t.tableType != "VIEW":
                files = spark.table(f"`{PREFIX}`.`{t.name}`").inputFiles()
                user += sum(pq.read_table(f.removeprefix("file:")).nbytes for f in files)
        return dir_bytes(self.prod_loc) / user

    # -- the nightly batch ----------------------------------------------

    def _land(self, day: int) -> tuple[SourceCatalog, int, int]:
        """Write day ``day``'s batch and advance the expected state.
        Returns the sources (with ``orders_updates``), batch bytes and rows."""
        b = gen.gen_batch(self.state, day, self.ctx.seed, self.ctx.sf)
        path = os.path.join(self.ctx.src, "batches", f"orders_updates_{day}.parquet")
        nbytes = gen.write(path, b["orders_updates"])
        nbytes += gen.write(os.path.join(self.ctx.src, "customer.parquet"), b["customer"])
        ts = gen.BASE_TS + dt.timedelta(days=day + 1)
        cust = b["customer"]
        for k, bal, upd in zip(cust["c_custkey"].to_pylist(), cust["c_acctbal"].to_pylist(),
                               cust["c_updated_at"].to_pylist()):
            if upd == ts:
                self.versions[k][-1][2] = ts
                self.versions[k].append([bal, ts, None])
        self.state = b["state"]
        cat = self._sources()
        cat.add("orders_updates", self.ctx.spark.read.parquet(path))
        return cat, nbytes, b["orders_updates"].num_rows

    def _check_tables(self) -> str | None:
        """The incremental tables and the snapshot against a DuckDB
        recomputation from the generated batches: row count, key
        uniqueness and an order-independent hash of the rows."""
        spark, con = self.ctx.spark, duckdb.connect()
        con.register("exp_orders", self.state["orders"])
        rows = [(k, *v) for k, vs in self.versions.items() for v in vs]
        con.register("exp_snap", pa.table({
            "c_custkey": pa.array([r[0] for r in rows], pa.int64()),
            "c_acctbal": pa.array([r[1] for r in rows], pa.decimal128(12, 2)),
            "dbt_valid_from": pa.array([r[2] for r in rows], pa.timestamp("us", tz="UTC")),
            "dbt_valid_to": pa.array([r[3] for r in rows], pa.timestamp("us", tz="UTC")),
        }))
        checks = {  # table -> (key, hashed columns, expected relation)
            "fct_orders": ("o_orderkey", "o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
                           "o_orderdate, o_orderpriority", "SELECT * FROM exp_orders"),
            "cust_order_stats": ("o_custkey", "o_custkey, n_orders, revenue",
                                 "SELECT o_custkey, count(*) AS n_orders, sum(o_totalprice) "
                                 "AS revenue FROM exp_orders GROUP BY o_custkey"),
            "fct_daily_revenue": ("ds", "ds, n_orders, revenue",
                                  "SELECT strftime(o_orderdate, '%Y-%m-%d') AS ds, count(*) "
                                  "AS n_orders, sum(o_totalprice) AS revenue FROM exp_orders "
                                  "GROUP BY 1"),
            "snap_customer": ("c_custkey::VARCHAR || '@' || epoch_us(dbt_valid_from)",
                              "c_custkey, c_acctbal, epoch_us(dbt_valid_from), "
                              "coalesce(epoch_us(dbt_valid_to)::VARCHAR, '-')",
                              "SELECT * FROM exp_snap"),
        }
        try:
            for table, (key, cols, expected_sql) in checks.items():
                files = spark.table(f"{PREFIX}.{table}").inputFiles()
                paths = ", ".join(f"'{f.removeprefix('file:')}'" for f in files)
                summary = (f"SELECT count(*), count(DISTINCT {key}), "
                           f"sum(hash(concat_ws('|', {cols}))) FROM ")
                got = con.execute(
                    summary + f"read_parquet([{paths}], hive_partitioning = true)").fetchone()
                want = con.execute(summary + f"({expected_sql})").fetchone()
                want = (want[0] + self.skew, *want[1:])
                if got != want or got[0] != got[1]:
                    return f"{table}: (rows, keys, hash) {got} != {want}"
        finally:
            con.close()
        return None

    def warmup(self) -> None:
        # the prod build already ran every first-run writer a PR op uses
        _run_warmup([self._nightly_job()])

    def cycle(self, i: int):
        kinds = PR_MODELS + ["nightly_job"]
        random.Random(self.ctx.seed * 1000 + i).shuffle(kinds)
        for kind in kinds:
            yield self._nightly_job() if kind == "nightly_job" else self._pr_op(kind)

    def _nightly_job(self) -> Op:
        """Land the next day's batch (untimed), then run the prod job for
        the incremental models and the snapshot: ``state:modified``
        against a manifest that marks them stale, with deferral, so their
        prod parents are read, not rebuilt."""
        day = self.day
        self.day += 1
        box: dict = {}

        def prepare():
            box["cat"], op.batch_bytes, box["rows"] = self._land(day)
            op.rows = self._input_rows(NIGHTLY_JOB) + box["rows"]

        def run():
            state = StateManifest.load(self.state_path)
            for name in NIGHTLY_JOB:
                state.nodes[name] = {**state.nodes[name], "checksum": "stale"}
            steps: list = []
            results = self._prod_runner(box["cat"]).build(
                select="state:modified", state=state, defer=True, tests=dag.tests(),
                build_steps=steps)
            return results, steps

        def verify(res) -> str | None:
            results, steps = res
            if set(results) != set(NIGHTLY_JOB):
                return f"built {sorted(results)} != {sorted(NIGHTLY_JOB)}"
            bad = [(s.node, s.status) for s in steps if s.status not in ("success", "pass")]
            return f"steps not clean: {bad}" if bad else self._check_tables()

        op = Op("nightly_job", 0, run, verify, prepare=prepare)
        return op

    def _pr_op(self, name: str) -> Op:
        spark = self.ctx.spark
        pr = self.next_pr
        self.next_pr += 1
        env = EnvConfig(env="pr", pr_number=pr, database_prefix=PREFIX, threads=4)
        db, loc = env.database(), os.path.join(self.ctx.wh, env.database())
        selected = dag.downstream({name})

        def run():
            state = StateManifest.load(self.state_path)
            runner = Runner(spark, dag.models(variant=(name, pr)), env=env,
                            sources=self._sources(), warehouse_location=loc)
            steps: list = []
            results = runner.build(select="state:modified+", state=state, defer=True,
                                   tests=dag.tests(), build_steps=steps)
            return runner, results, steps

        def verify(res) -> str | None:
            runner, results, steps = res
            if set(results) != selected:
                return f"selected {sorted(results)} != {sorted(selected)}"
            built = [n for n in dag.SPECS if n not in selected and runner.warehouse.exists(n)]
            if built:
                return f"deferred parents built in {db}: {built}"
            got = [(s.node, s.resource_type, s.status, s.n_rows) for s in steps]
            want = dag.expected_steps(selected, self.counts)
            return None if got == want else f"ledger {got} != {want}"

        return Op(name, self._input_rows(selected), run, verify,
                  cleanup=lambda: self._drop(db, loc))


# -- corpus_curation -------------------------------------------------------


class CorpusCuration:
    """One iterative-operator call per op, round-robin in a fixed order."""

    name = "corpus_curation"
    # an odd number of kinds, so the median op is one op, not the mean of two
    KINDS = ["minhash_clusters", "cc_star_chain", "kmeans"]
    REGISTERED = {"minhash_clusters": "dedup_minhash_lsh", "kmeans": "emb_kmeans_converged"}

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.sizes: gen.Sizes = {}

    def generate(self) -> gen.Sizes:
        self.component = gen.gen_corpus(self.ctx.src, self.ctx.sf, self.ctx.seed, self.sizes)
        return self.sizes

    def oracle(self) -> None:
        """The registered DuckDB oracles, plus answers the generator knows:
        minhash clusters are the union-find closure of the oracle's pairs,
        chain components the chain minima."""
        from dbt_ci_demo_spark.queries import registry_oracles

        sql = registry_oracles()
        con = _duck(self.ctx.src, ["documents", "embeddings"])
        self.expected = {k: con.execute(sql[q]).fetchdf() for k, q in self.REGISTERED.items()}
        con.close()
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        pairs = self.expected["minhash_clusters"]
        for a, b in zip(pairs["id_a"], pairs["id_b"]):
            ra, rb = find(int(a)), find(int(b))
            parent[max(ra, rb)] = min(ra, rb)
        self.expected["minhash_clusters"] = pd.DataFrame(
            [(x, find(x), x == find(x)) for x in list(parent)],
            columns=["doc_id", "cluster_id", "is_survivor"])
        self.expected["cc_star_chain"] = pd.DataFrame(
            sorted(self.component.items()), columns=["id", "component"])

    def break_expected(self) -> None:
        self.expected["kmeans"] = self.expected["kmeans"].iloc[1:]

    def warmup(self) -> None:
        _run_warmup(self.cycle(0))

    def cycle(self, i: int):
        for kind in self.KINDS:
            yield self._op(kind)

    def _op(self, kind: str) -> Op:
        from dbt_ci_demo_spark.operators import dedup as dd
        from dbt_ci_demo_spark.queries import registry_queries

        spark, src, t = self.ctx.spark, self.ctx.src, self.sizes
        rows = {"cc_star_chain": t["chain"]["rows"],
                "kmeans": t["embeddings"]["rows"]}.get(kind, t["documents"]["rows"])

        def run():
            if kind == "cc_star_chain":
                out = dd.connected_components_star(
                    spark.read.parquet(os.path.join(src, "chain.parquet")))
            else:
                out = registry_queries()[self.REGISTERED[kind]](spark, src)
                if kind == "minhash_clusters":
                    out = dd.duplicate_clusters(out)
            t0 = time.perf_counter()
            out.write.format("noop").mode("overwrite").save()
            op.force_s = time.perf_counter() - t0
            return out

        def verify(out) -> str | None:
            # k-means centroids are round(x, 6) of a double on both sides;
            # a value on a rounding tie may land one ulp-of-6-decimals apart
            tol = 2e-6 if kind == "kmeans" else 0.0
            res = compare_frames(kind, out.toPandas(), self.expected[kind], tol)
            return None if res.ok else f"{res.detail} {res.mismatches[:2]}"

        op = Op(kind, rows, run, verify)
        return op


WORKLOADS = {w.name: w for w in (CiSlim, CorpusCuration)}
