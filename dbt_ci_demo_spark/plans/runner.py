"""Build/compile entry points — the engine's ``dbt build`` / ``dbt compile``
(SURVEY.md §3, §2.B.7).

- :class:`EnvConfig` — environment → database resolution (§1.3): the same
  DAG writes to ``dbt_ci`` in prod CI and ``dbt_ci_pr_<N>`` per PR
  (test_profiles/profiles.yml:9,20; generate_schema_name_for_env @155405).
- :class:`ModelContext` — the resolution surface handed to model
  functions: ``ref()`` (with deferral to a state manifest's relations,
  B34), ``source()``, ``is_incremental()`` + ``this`` (B12).
- :class:`Runner` — dependency-driven execution: nodes run from a ready
  queue on a ``threads``-sized pool (``threads: 4``, profiles.yml:11;
  B36) under Spark's FAIR scheduler, each starting once its parents (and
  their tests) finish; ``execution_waves`` only fixes the ledger order.
  Pre/post hooks (B37), state:modified selection (B33), and state
  manifest publication (B35). ``compile()`` analyzes every model without
  writing (dbt compile, §3.2) — Spark's lazy analysis makes this free.
"""

from __future__ import annotations

import traceback
from collections.abc import Callable
from concurrent.futures import FIRST_COMPLETED, ThreadPoolExecutor, wait
from dataclasses import dataclass, field

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession

from dbt_ci_demo_spark.operators.materialize import Warehouse, read_relation
from dbt_ci_demo_spark.operators.quality import run_test_harness
from dbt_ci_demo_spark.plans.graph import ModelGraph
from dbt_ci_demo_spark.plans.model import Model
from dbt_ci_demo_spark.plans.state import StateManifest
from dbt_ci_demo_spark.sources.catalog import SourceCatalog


@dataclass
class EnvConfig:
    """Target environment (profiles.yml analog)."""

    env: str = "ci"
    pr_number: int | None = None
    database_prefix: str = "dbt_ci"
    threads: int = 4

    def database(self) -> str:
        """generate_schema_name_for_env (@155405): prod target uses the
        default schema; non-prod targets get an isolated namespace."""
        if self.pr_number is not None:
            return f"{self.database_prefix}_pr_{self.pr_number}"
        if self.env in ("ci", "prod"):
            return self.database_prefix
        return f"{self.database_prefix}_{self.env}"


class ModelContext:
    """What a model function sees — dbt's Jinja context, Spark-first."""

    def __init__(
        self,
        spark: SparkSession,
        model: Model,
        warehouse: Warehouse,
        sources: SourceCatalog,
        selected: set[str],
        defer_state: StateManifest | None,
    ):
        self.spark = spark
        self.model = model
        self._warehouse = warehouse
        self._sources = sources
        self._selected = selected
        self._defer_state = defer_state

    def source(self, name: str) -> DataFrame:
        return self._sources.table(name)

    def ref(self, name: str) -> DataFrame:
        """Resolve an upstream model. Deferral (B34): if the upstream was
        not selected this run and a state manifest records its production
        relation ``<db>.<name>``, read that relation instead of the target
        namespace — resolved like Warehouse.read, so a DataFrame-defined
        view parent (a session view) defers too."""
        if (
            self._defer_state is not None
            and name not in self._selected
            and self._defer_state.relation(name)
        ):
            database, _, table = self._defer_state.relation(name).rpartition(".")
            return read_relation(self.spark, database, table)
        return self._warehouse.read(name)

    def is_incremental(self) -> bool:
        """is_incremental (@157947): target exists, materialized is
        incremental, and not full-refresh."""
        return (
            self.model.config.materialized == "incremental"
            and not self.model.config.full_refresh
            and self._warehouse.exists(self.model.name)
        )

    @property
    def this(self) -> DataFrame | None:
        """``{{ this }}`` — the existing target relation, if any."""
        return (
            self._warehouse.read(self.model.name)
            if self._warehouse.exists(self.model.name)
            else None
        )


@dataclass
class RunResult:
    name: str
    status: str  # success | error | skipped
    action: str = ""
    error: str = ""


@dataclass
class BuildStep:
    """One ordered entry of a ``dbt build`` run (run_results analog):
    seeds/models/snapshots in DAG order with each node's tests
    IMMEDIATELY after it — the ordering + failure-skip contract of the
    reference CI's actual command (`dbt build`,
    .github/workflows/ci_full_test_no_container.yml:33; the incremental
    workflows run `dbt build --select state:modified --defer --state …`,
    ci_incr_test_w_container.yml:34)."""

    seq: int
    node: str
    resource_type: str  # seed | model | snapshot | test
    status: str  # success | pass | fail | error | skipped
    # nodes: TABLE rows after the run (a full count of the target — for
    # incremental models that is total state, not this run's delta, and
    # for views it re-executes the view plan; the count only runs in
    # build-steps mode, inside the node's queue task, before its tests
    # and before any child starts). tests: failure count from the harness.
    n_rows: int | None = None


@dataclass
class Runner:
    spark: SparkSession
    models: dict[str, Model]
    env: EnvConfig = field(default_factory=EnvConfig)
    sources: SourceCatalog | None = None
    warehouse_location: str | None = None

    def __post_init__(self):
        self.graph = ModelGraph(self.models)
        self.warehouse = Warehouse(
            self.spark, self.env.database(), location=self.warehouse_location
        )
        if self.sources is None:
            self.sources = SourceCatalog(self.spark)

    # -- dbt compile (§3.2): analyze everything, write nothing ------------

    def compile(self) -> dict[str, str]:
        """Resolve every model to its analyzed schema (Catalyst analysis =
        the reference's 'does it compile' check) + checksum registry."""
        schemas: dict[str, str] = {}
        ctx_frames: dict[str, DataFrame] = {}
        for name in self.graph.topo_order():
            m = self.models[name]
            ctx = _CompileContext(self.spark, m, ctx_frames, self.sources)
            df = m.fn(ctx)
            ctx_frames[name] = df
            schemas[name] = df.schema.simpleString()
        return schemas

    # -- dbt build (§3.1/§3.3) --------------------------------------------

    def build(
        self,
        select: str = "all",
        state: StateManifest | None = None,
        defer: bool = False,
        state_out: str | None = None,
        tests: dict[str, list[tuple[str, Callable[[DataFrame], DataFrame]]]] | None = None,
        build_steps: list[BuildStep] | None = None,
    ) -> dict[str, RunResult]:
        """Run the selected DAG from a ready queue: each node is one task
        on a ``threads``-sized pool, started once all its selected parents'
        tasks finish (B36). With ``tests``/``build_steps`` this is ``dbt
        build`` (see :class:`BuildStep`): the task also counts the node's
        rows and runs its tests, and a hard test failure (should_error)
        SKIPS every downstream node — the contract distinguishing `dbt
        build` from `dbt run; dbt test`. Steps land in ``execution_waves``
        order whatever the completion order.

        ``state_out`` publishes old-state ∪ this run's built nodes. Like
        the reference — which commits manifest.json only from full
        master builds (update_project_state.yml:37-51) — a SUBSET build
        without a base ``state`` publishes a manifest covering only the
        subset; defer/state:modified against such a partial manifest
        treats every absent model as new. Pass the previous manifest as
        ``state`` (the normal CI shape) to carry unbuilt nodes forward."""
        selected = self.graph.select(state, select)
        defer_state = state if defer else None
        if tests is not None and build_steps is None:
            build_steps = []  # tests imply build-mode bookkeeping
        results: dict[str, RunResult] = {}
        node_steps: dict[str, list[tuple]] = {}  # node -> its ledger rows, unnumbered
        test_failed: set[str] = set()
        new_state = StateManifest(dict(state.nodes) if state else {})
        jsc = self.spark.sparkContext._jsc.sc()

        def run_one(name: str) -> RunResult:
            m = self.models[name]
            failed_parent = next(
                (p for p in m.refs if p in results and results[p].status != "success"),
                None,
            )
            if failed_parent:
                return RunResult(name, "skipped", error=f"upstream {failed_parent} failed")
            bad_test_parent = next((p for p in m.refs if p in test_failed), None)
            if bad_test_parent:
                return RunResult(
                    name, "skipped", error=f"upstream {bad_test_parent} test failed"
                )
            try:
                ctx = ModelContext(
                    self.spark, m, self.warehouse, self.sources, selected, defer_state
                )
                for hook in m.config.pre_hook:
                    hook(self.spark, self.warehouse.qualified(name))
                action = self._materialize(m, ctx)
                for hook in m.config.post_hook:
                    hook(self.spark, self.warehouse.qualified(name))
                new_state.record(
                    name,
                    m.checksum(),
                    f"{self.warehouse.database}.{name}",
                    m.config.to_json(),
                )
                return RunResult(name, "success", action=action)
            except Exception as e:  # noqa: BLE001
                return RunResult(name, "error", error=f"{e}\n{traceback.format_exc()}")

        def run_node(name: str) -> None:
            # One queue task: the node, then its dbt build bookkeeping. Every
            # task inherits the SAME Properties object; copy it so the SQL
            # execution ids and job tags Spark sets per query stay private.
            jsc.setLocalProperties(jsc.getLocalProperties().clone())
            results[name] = res = run_one(name)
            if build_steps is None:
                return
            mat = self.models[name].config.materialized
            rtype = mat if mat in ("seed", "snapshot") else "model"
            n_rows = None
            if res.status == "success":
                try:
                    n_rows = self.warehouse.read(name).count()
                except Exception as e:  # noqa: BLE001
                    # A materialized relation that cannot be read back is
                    # a broken node (r12 review): demote it to error so
                    # downstream skips, and keep building — the ledger
                    # and the state publication still land.
                    results[name] = res = RunResult(
                        name, "error", error=f"post-build read failed: {e}"
                    )
                    # run_one already recorded the node into new_state
                    # (checksum + relation) before this demotion — left
                    # there, state_out would publish the BROKEN node as
                    # current, so the next state:modified run treats it
                    # as unmodified (never rebuilt) and --defer resolves
                    # refs to the unreadable relation (ADVICE r12).
                    # Restore the prior manifest entry if one exists
                    # (defer keeps pointing at the last GOOD relation),
                    # else drop it so the next run sees the node as new.
                    if state is not None and name in state.nodes:
                        new_state.nodes[name] = state.nodes[name]
                    else:
                        new_state.nodes.pop(name, None)
            steps = node_steps[name] = [(name, rtype, res.status, n_rows)]
            if res.status != "success":
                return
            for test_name, test_fn in (tests or {}).get(name, []):
                try:
                    _, tr = run_test_harness(test_fn(self.warehouse.read(name)))
                    status = "fail" if tr.should_error else "pass"
                    failures = tr.failures
                    if tr.should_error:
                        test_failed.add(name)
                except Exception:  # noqa: BLE001
                    # A test that ERRORS (bad column, bad SQL) records an
                    # `error` step and skips downstream like a hard
                    # failure; the rest of the DAG and the manifest land.
                    status, failures = "error", None
                    test_failed.add(name)
                steps.append((test_name, "test", status, failures))

        # A child starts after its parents' whole tasks (count and tests
        # too), so run_one's skip checks see final statuses. The caller's
        # job group, description and pool are captured here for every node.
        order = [n for wave in self.graph.execution_waves(selected) for n in wave]
        waiting = {n: set(self.graph.parent_map[n]) & selected for n in order}
        task = inheritable_thread_target(self.spark)(run_node)
        with ThreadPoolExecutor(max_workers=max(1, self.env.threads)) as pool:
            running = {pool.submit(task, n): n for n in order if not waiting[n]}
            while running:
                for fut in wait(running, return_when=FIRST_COMPLETED).done:
                    fut.result()
                    parent = running.pop(fut)
                    for child in self.graph.child_map[parent]:  # may repeat a child
                        if parent in waiting.get(child, ()):
                            waiting[child].discard(parent)
                            if not waiting[child]:
                                running[pool.submit(task, child)] = child
        for name in order:  # node_steps is empty unless in build-steps mode
            for step in node_steps.get(name, ()):
                build_steps.append(BuildStep(len(build_steps) + 1, *step))
        if state_out:
            new_state.save(state_out)
        self._last_state = new_state
        return {name: results[name] for name in order}

    def _materialize(self, m: Model, ctx: ModelContext) -> str:
        cfg = m.config
        df = m.fn(ctx)
        if cfg.materialized == "seed":
            # B3 seed inside the DAG (dbt build runs seeds as graph
            # nodes): the node fn yields the parsed CSV frame (the
            # Warehouse.load_seed path for file-based seeds); build
            # writes it like a table so downstream ref() resolves.
            self.warehouse.write_table(df, m.name)
            return "seed"
        if cfg.materialized == "table":
            self.warehouse.write_table(
                df, m.name, partition_by=cfg.partition_by, cluster_by=cfg.cluster_by
            )
            return "table"
        if cfg.materialized == "view":
            self.warehouse.create_view(m.name, df=df)
            return "view"
        if cfg.materialized == "incremental":
            return self.warehouse.write_incremental(
                df,
                m.name,
                strategy=cfg.incremental_strategy,
                unique_key=cfg.unique_key,
                merge_update_columns=cfg.merge_update_columns,
                partition_by=cfg.partition_by,
                on_schema_change=cfg.on_schema_change,
                full_refresh=cfg.full_refresh,
            )
        if cfg.materialized == "snapshot":
            return self.warehouse.write_snapshot(
                df,
                m.name,
                unique_key=cfg.unique_key,
                updated_at=cfg.updated_at,
                strategy=cfg.strategy,
                check_cols=cfg.check_cols,
                invalidate_hard_deletes=cfg.invalidate_hard_deletes,
            )
        raise ValueError(f"unknown materialization: {cfg.materialized}")


class _CompileContext:
    """Compile-time ref resolution: upstream models resolve to their
    *unmaterialized* DataFrames (dbt's ephemeral CTE injection analog)."""

    def __init__(self, spark, model, frames, sources):
        self.spark = spark
        self.model = model
        self._frames = frames
        self._sources = sources

    def source(self, name: str) -> DataFrame:
        return self._sources.table(name)

    def ref(self, name: str) -> DataFrame:
        return self._frames[name]

    def is_incremental(self) -> bool:
        return False

    @property
    def this(self):
        return None
