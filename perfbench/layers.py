"""Per-layer tracing for ``--trace 1`` runs.

Two sources, neither of which edits the engine package:

* **Spans.** :func:`install` wraps the public functions of
  ``dbt_ci_demo_spark.session``, ``sources``, ``plans``, every
  ``operators.*`` module and the ``queries_*`` registry (plus the pyspark
  SQL/catalog entry points the writers use for DDL) with timing wrappers.
  Every alias of a wrapped function inside the package (``from x import
  f``) is replaced too, so calls through either name are seen.
* **The Spark event log**, enabled through ``get_spark(extra_conf=...)``.
  :func:`read_event_log` turns it into jobs / stages / task metrics, and
  :func:`spark_metrics` attributes jobs to ops by submission time: the
  benchmark is a closed loop with one client, so every job submitted
  inside an op's window belongs to that op (Runner pool threads do not
  inherit the caller's job group, so the window is the reliable key; the
  group is still set for readers of the log).
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import os
import pkgutil
import threading
import time
from collections import defaultdict

DDL_PREFIXES = ("CREATE", "DROP", "ALTER", "TRUNCATE")
CATALOG_CALLS = ("tableExists", "listTables", "listColumns", "getDatabase", "dropTempView",
                 "databaseExists")


class Recorder:
    """Collects spans while an op is active. Spans are
    ``(name, t0, t1, enclosing-span names in the same thread)``."""

    def __init__(self):
        self.active = False
        self.spans: list[tuple[str, float, float, tuple[str, ...]]] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    def stack(self) -> list[str]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def wrap(self, name: str, fn):
        rec = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not rec.active:
                return fn(*args, **kwargs)
            stack = rec.stack()
            parents = tuple(stack)
            stack.append(name)
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                t1 = time.perf_counter()
                stack.pop()
                with rec._lock:
                    rec.spans.append((name, t0, t1, parents))

        return traced

    def start(self) -> None:
        self.spans = []
        self.active = True

    def stop(self) -> list:
        self.active = False
        return self.spans


def _public_functions(mod):
    for attr, val in vars(mod).items():
        if attr.startswith("_") or not inspect.isfunction(val):
            continue
        if getattr(val, "__module__", None) == mod.__name__:
            yield attr, val


def _short(modname: str) -> str:
    return modname.removeprefix("dbt_ci_demo_spark.").replace("sources.catalog", "sources")


def install() -> Recorder:
    """Wrap the engine's public surface (once per process); the returned
    recorder collects spans between ``start()`` and ``stop()``."""
    import dbt_ci_demo_spark
    from pyspark.sql import catalog as pcat
    from pyspark.sql import session as psess

    rec = Recorder()
    mods = [importlib.import_module(m.name) for m in pkgutil.walk_packages(
        dbt_ci_demo_spark.__path__, "dbt_ci_demo_spark.")
        if m.name.split(".")[1] in ("session", "sources", "plans", "operators")
        or m.name.split(".")[1].startswith("queries")]
    replaced: dict[int, object] = {}
    for mod in mods:
        for attr, fn in list(_public_functions(mod)):
            w = rec.wrap(f"{_short(mod.__name__)}.{attr}", fn)
            replaced[id(fn)] = w
            setattr(mod, attr, w)
        for cname, cls in list(vars(mod).items()):
            if not inspect.isclass(cls) or cls.__module__ != mod.__name__:
                continue
            for attr, fn in list(vars(cls).items()):
                short = f"{_short(mod.__name__)}.{cname}.{attr}"
                if attr.startswith("_"):
                    continue
                if inspect.isfunction(fn):
                    setattr(cls, attr, rec.wrap(short, fn))
                elif isinstance(fn, classmethod):
                    setattr(cls, attr, classmethod(rec.wrap(short, fn.__func__)))
    # aliases: `from operators.quality import run_test_harness` etc.
    for mod in mods:
        for attr, val in list(vars(mod).items()):
            if id(val) in replaced and getattr(mod, attr) is val:
                setattr(mod, attr, replaced[id(val)])
    # the queries_* registry holds the function objects themselves
    from dbt_ci_demo_spark import queries

    for name, (fn, oracle) in list(queries._REGISTRY.items()):
        queries._REGISTRY[name] = (replaced.get(id(fn)) or rec.wrap(
            f"queries.{name}", fn), oracle)
    # DDL and catalog metadata calls, whoever issues them
    sql = psess.SparkSession.sql

    @functools.wraps(sql)
    def traced_sql(self, sqlQuery, *a, **k):
        if rec.active and sqlQuery.lstrip().upper().startswith(DDL_PREFIXES):
            return rec.wrap("ddl.sql", sql)(self, sqlQuery, *a, **k)
        return sql(self, sqlQuery, *a, **k)

    psess.SparkSession.sql = traced_sql
    for attr in CATALOG_CALLS:
        setattr(pcat.Catalog, attr, rec.wrap(f"ddl.catalog.{attr}", getattr(pcat.Catalog, attr)))
    return rec


def total(spans, pred) -> float:
    """Seconds in spans matching ``pred`` that are not nested inside
    another matching span of the same thread (no double counting)."""
    return sum(t1 - t0 for name, t0, t1, parents in spans
               if pred(name) and not any(pred(p) for p in parents))


def count(spans, pred) -> int:
    return sum(1 for name, _, _, parents in spans
               if pred(name) and not any(pred(p) for p in parents))


def union_s(intervals) -> float:
    """Length of the union of (t0, t1) intervals."""
    out, end = 0.0, float("-inf")
    for t0, t1 in sorted(intervals):
        if t1 <= end:
            continue
        out += t1 - max(t0, end)
        end = t1
    return out


def span_metrics(spans, wall: float) -> dict[str, float]:
    """The plans / operators / sources layer metrics of one op."""
    def named(*names):
        return lambda n: n in names

    def under(prefix):
        return lambda n: n.startswith(prefix)

    m: dict[str, float] = {}
    m["plans.graph.select_s"] = total(spans, named("plans.graph.ModelGraph.select"))
    m["plans.model.checksum_s"] = total(spans, named("plans.model.Model.checksum"))
    m["plans.state.io_s"] = total(spans, under("plans.state.StateManifest."))
    builds = [(t0, t1) for n, t0, t1, _ in spans if n == "plans.runner.Runner.build"]
    m["plans.runner.build_s"] = sum(t1 - t0 for t0, t1 in builds)
    # build self time: build wall minus the union of everything it called
    # (pool threads have no in-thread parent, so use time intervals)
    children = [(t0, t1) for n, t0, t1, _ in spans
                if n != "plans.runner.Runner.build" and not n.startswith("ddl.")
                and any(b0 <= t0 and t1 <= b1 for b0, b1 in builds)]
    m["plans.runner.self_s"] = max(0.0, m["plans.runner.build_s"] - union_s(children))
    wh = "operators.materialize.Warehouse."
    for w in ("write_table", "create_view", "swap_in", "write_incremental", "write_snapshot"):
        m[f"operators.materialize.{w}_s"] = total(spans, named(wh + w))
    m["operators.materialize.ddl_s"] = total(spans, under("ddl."))
    m["operators.materialize.ddl_calls"] = float(count(spans, under("ddl.")))
    m["operators.incremental.plan_s"] = total(spans, under("operators.incremental."))
    m["operators.snapshot.plan_s"] = total(spans, under("operators.snapshot."))
    m["operators.quality.test_s"] = total(spans, named("operators.quality.run_test_harness"))
    m["operators.quality.tests_run"] = float(
        count(spans, named("operators.quality.run_test_harness")))
    m["sources.load_table_s"] = total(spans, named("sources.load_table"))
    m["sources.load_table_calls"] = float(count(spans, named("sources.load_table")))
    covered = union_s([(t0, t1) for n, t0, t1, _ in spans
                       if n.startswith(("plans.", "operators."))])
    m["trace.span_coverage"] = covered / wall if wall > 0 else 0.0
    return m


# -- Spark event log -------------------------------------------------------


def read_event_log(evdir: str) -> dict:
    """Parse every event file under ``evdir`` into jobs and per-stage task
    aggregates. Times are epoch milliseconds."""
    files = []
    for root, _, names in os.walk(evdir):
        files.extend(os.path.join(root, n) for n in sorted(names) if not n.startswith("."))
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    for path in files:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                et = ev.get("Event")
                if et == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    jobs[jid] = {"t0": ev["Submission Time"], "t1": None,
                                 "group": props.get("spark.jobGroup.id"),
                                 "stages": [s["Stage ID"] for s in ev.get("Stage Infos", [])]}
                    for sid in jobs[jid]["stages"]:
                        stage_job[sid] = jid
                elif et == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["t1"] = ev["Completion Time"]
                elif et == "SparkListenerStageCompleted":
                    si = ev["Stage Info"]
                    stages[si["Stage ID"]]["ran"] = 1.0
                elif et == "SparkListenerTaskEnd":
                    st = stages[ev["Stage ID"]]
                    info, tm = ev.get("Task Info") or {}, ev.get("Task Metrics") or {}
                    st["tasks"] += 1
                    st["failed_tasks"] += 1.0 if info.get("Failed") else 0.0
                    dur = (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1000.0
                    busy = (tm.get("Executor Run Time", 0) + tm.get("Executor Deserialize Time", 0)
                            + tm.get("Result Serialization Time", 0)) / 1000.0
                    busy += info.get("Getting Result Time", 0) / 1000.0
                    st["sched_delay_s"] += max(0.0, dur - busy)
                    st["gc_s"] += tm.get("JVM GC Time", 0) / 1000.0
                    sr = tm.get("Shuffle Read Metrics") or {}
                    st["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0)
                    sw = tm.get("Shuffle Write Metrics") or {}
                    st["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    st["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                        "Disk Bytes Spilled", 0)
    return {"jobs": jobs, "stages": stages, "stage_job": stage_job}


SPARK_KEYS = ("tasks", "sched_delay_s", "gc_s", "shuffle_read_bytes", "shuffle_write_bytes",
              "spill_bytes", "failed_tasks")


def spark_metrics(log: dict, t0_ms: float, t1_ms: float, wall: float) -> dict[str, float]:
    """The Spark layer of one op: jobs submitted in ``[t0_ms, t1_ms]``."""
    jobs = [j for j in log["jobs"].values() if t0_ms <= j["t0"] <= t1_ms]
    sids = {s for j in jobs for s in j["stages"]}
    ran = [s for s in sids if log["stages"].get(s, {}).get("ran")]
    m = {"spark.jobs": float(len(jobs)), "spark.stages": float(len(ran))}
    for k in SPARK_KEYS:
        m[f"spark.{k}"] = float(sum(log["stages"][s][k] for s in ran))
    job_s = union_s([(max(j["t0"], t0_ms) / 1000.0, min(j["t1"] or t1_ms, t1_ms) / 1000.0)
                     for j in jobs])
    m["spark.job_s"] = job_s
    m["spark.driver_gap_s"] = wall - job_s
    return m
