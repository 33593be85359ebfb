#!/usr/bin/env python3
"""Engine benchmark: two closed-loop workloads, measured end to end and
per layer.

    python3 perfbench/run.py --workload ci_slim --seed 1 --seconds 10 --trace 0

Run from the repository root. The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; the line before it is
``perfbench-meta {...}`` with run metadata (canary, input sizes, setup
breakdown, the slowest op kind). ``--trace 0`` reports the end-to-end
metrics, ``--trace 1`` the per-layer ones (see perfbench/README.md).

All scratch state (generated inputs, warehouse, Spark local dirs,
checkpoints, event log, temp files) lives in one directory under
``.perfbench_tmp/`` of the checkout and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

T_PROCESS = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("ci_slim", "corpus_curation")
DEFAULT_SF = 0.01
CANARY_WARM, CANARY_TIMED = 1, 3
CANARY_BAND = (1.0 / 1.4, 1.2)  # end/start ratio outside this = loaded box
# The driver heap is committed and touched once at JVM start (counted in
# setup_s): first-touch page faults otherwise land inside ops and made op
# times and RSS swing from run to run.
DRIVER_MEM = "4g"

FUNCTION_METRICS = {
    # corpus op kind -> (operator functions in call order); force_s goes to the last
    "minhash_clusters": ("operators.dedup.minhash_near_duplicates",
                         "operators.dedup.duplicate_clusters"),
    "cc_star_chain": ("operators.dedup.connected_components_star",),
    "kmeans": ("queries_embed.emb_kmeans_converged",),
}


def log(msg: str) -> None:
    print(f"perfbench [{time.perf_counter() - T_PROCESS:7.1f}s] {msg}", file=sys.stderr, flush=True)


def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=DEFAULT_SF)
    ap.add_argument("--wrong-expected", action="store_true",
                    help="self-test: perturb one expected value so ops fail verification")
    return ap.parse_args(argv)


def isolate(work: str) -> None:
    """Point every temp/scratch location at ``work`` and make the engine
    package and the benchmark modules importable."""
    for sub in ("tmp", "local", "jtmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = os.environ["TMPDIR"]
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # every JVM (spark-submit's launcher too): temp files in work, no
    # hsperfdata under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'jtmp')} -XX:-UsePerfData")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", DRIVER_MEM)
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    for p in (HERE, ROOT):
        if p not in sys.path:
            sys.path.insert(0, p)
    os.chdir(work)


def spark_conf(work: str, evdir: str | None) -> dict[str, str]:
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.local.dir": os.path.join(work, "local"),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions":
            f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']} -XX:+AlwaysPreTouch",
    }
    if evdir:
        os.makedirs(evdir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + evdir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def stop_spark() -> None:
    """Stop the session, then the JVM it runs in, and wait for the JVM to
    exit (it exits when its stdin closes)."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


def jvm_peak_rss_mb(spark) -> float:
    """VmHWM of the Spark JVM (local mode: driver and executors are one)."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


def canary_q1(spark, canary_dir: str) -> float:
    """bench.py's canary procedure on q1: one warm pass, then the min of 3."""
    from dbt_ci_demo_spark.queries import registry_queries

    q1 = registry_queries()["q1_pricing_summary"]

    spark.sparkContext._jvm.java.lang.System.gc()  # same heap state at both probes

    def once() -> float:
        t0 = time.perf_counter()
        q1(spark, canary_dir).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    for _ in range(CANARY_WARM):
        once()
    return min(once() for _ in range(CANARY_TIMED))


def tail(records: list[dict]) -> tuple[float, str]:
    """The slowest op kind's median wall, and that kind. With one cycle
    per run this is the run's slowest op: the op type the overall median
    hides."""
    by_kind: dict[str, list[float]] = {}
    for r in records:
        by_kind.setdefault(r["kind"], []).append(r["wall"])
    kind = max(by_kind, key=lambda k: statistics.median(by_kind[k]))
    return statistics.median(by_kind[kind]), kind


def snapshot_files(*roots: str) -> dict[str, int]:
    """Data files (no ``.``/``_`` markers) under ``roots``, with sizes."""
    out = {}
    for root in roots:
        for r, _, fs in os.walk(root):
            for f in fs:
                if not f.startswith((".", "_")):
                    p = os.path.join(r, f)
                    out[p] = os.path.getsize(p)
    return out


def measure(args, work: str) -> tuple[dict, dict]:
    import gen
    import workloads as wl

    src, wh = os.path.join(work, "src"), os.path.join(work, "wh")
    # stored program state: the warehouse and the engine's temp root
    # (checkpoints), not Spark's shuffle/local dirs
    stored_roots = (wh, os.path.join(work, "tmp"))
    evdir = os.path.join(work, "eventlog") if args.trace else None
    canary_dir = os.path.join(work, "canary")
    meta: dict = {"workload": args.workload, "seed": args.seed, "sf": args.sf,
                  "trace": args.trace, "cores": int(os.environ["SPARK_GRAFT_CPUS"])}

    t = time.perf_counter()
    gen.gen_canary(canary_dir)
    w = wl.WORKLOADS[args.workload]
    from dbt_ci_demo_spark.session import get_spark

    if args.trace:
        import layers as tr

        recorder = tr.install()
    pre = time.perf_counter() - t  # benchmark-own work before Spark
    t = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}", extra_conf=spark_conf(work, evdir))
    get_spark_s = time.perf_counter() - t
    log(f"get_spark {get_spark_s:.2f}s")

    ctx = wl.Ctx(spark=spark, src=src, wh=wh, seed=args.seed, sf=args.sf)
    workload = w(ctx)
    t = time.perf_counter()
    sizes = workload.generate()
    meta["gen_s"] = time.perf_counter() - t
    meta["inputs"] = sizes
    t = time.perf_counter()
    workload.oracle()
    meta["oracle_s"] = time.perf_counter() - t
    log(f"inputs {meta['gen_s']:.2f}s, oracle {meta['oracle_s']:.2f}s")

    state_s = 0.0
    if hasattr(workload, "setup_once"):
        timed = workload.setup_once()
        t = time.perf_counter()
        timed()
        state_s = time.perf_counter() - t
    t = time.perf_counter()
    workload.warmup()
    warmup_s = time.perf_counter() - t
    log(f"initial state {state_s:.2f}s, warm-up {warmup_s:.2f}s")
    setup_s = get_spark_s + state_s + warmup_s
    meta["setup"] = {"get_spark_s": get_spark_s, "initial_state_s": state_s,
                     "warmup_s": warmup_s, "pre_spark_s": pre,
                     "process_to_first_op_s": time.perf_counter() - T_PROCESS}
    if args.wrong_expected:
        workload.break_expected()
    # load canary on the warmed-up JVM, repeated identically after the loop
    meta["canary_start_s"] = canary_q1(spark, canary_dir)
    log(f"start canary {meta['canary_start_s']:.3f}s")

    records = []
    timed_total, cycle = 0.0, 0
    sc = spark.sparkContext
    traced = bool(args.trace)
    while True:
        for op in workload.cycle(cycle):
            op.prepare()
            before = snapshot_files(*stored_roots) if traced else None
            sc.setJobGroup(f"op{len(records)}", op.kind)
            if traced:
                recorder.start()
            e0, t0 = time.time(), time.perf_counter()
            err = None
            try:
                res = op.run()
            except Exception as e:  # noqa: BLE001 — a raising op is a failed op
                err, res = f"{type(e).__name__}: {e}", None
            t1, e1 = time.perf_counter(), time.time()
            spans = recorder.stop() if traced else None
            sc.setJobGroup("verify", "untimed")
            rec = {"kind": op.kind, "wall": t1 - t0, "rows": op.rows, "epoch": (e0, e1),
                   "force_s": op.force_s,
                   "batch_bytes": op.batch_bytes}
            if traced:
                new = [v for p, v in snapshot_files(*stored_roots).items() if p not in before]
                rec["spans"] = spans
                rec["bytes_written"], rec["files_written"] = sum(new), len(new)
            if err is None:
                try:
                    err = op.verify(res)
                except Exception as e:  # noqa: BLE001
                    err = f"verify raised {type(e).__name__}: {e}"
            op.cleanup()
            rec["error"] = err
            log(f"op {len(records)} {op.kind} {rec['wall']:.2f}s" + (f" FAILED: {err[:400]}" if err else ""))
            records.append(rec)
            timed_total += rec["wall"]
        cycle += 1
        if timed_total >= args.seconds:
            break
    log(f"{len(records)} ops in {cycle} cycles, {timed_total:.2f}s timed")
    meta["cycles"] = cycle
    meta["timed_s"] = timed_total
    peak = jvm_peak_rss_mb(spark)
    jvm = spark.sparkContext._jvm.java.lang
    jvm.System.gc()
    rt = jvm.Runtime.getRuntime()
    meta["retained_heap_mb"] = (rt.totalMemory() - rt.freeMemory()) / 2**20
    if hasattr(workload, "stored_ratio"):
        meta["stored_bytes_per_user_byte"] = workload.stored_ratio()
    meta["canary_end_s"] = canary_q1(spark, canary_dir)
    log(f"end canary {meta['canary_end_s']:.3f}s")
    stop_spark()  # also flushes the event log

    walls = [r["wall"] for r in records]
    tail_v, meta["tail_kind"] = tail(records)
    meta["op_fail_ratio"] = sum(1 for r in records if r["error"]) / len(records)
    ratio = meta["canary_end_s"] / meta["canary_start_s"]
    meta["canary_ratio"] = ratio
    meta["contaminated"] = not (CANARY_BAND[0] <= ratio <= CANARY_BAND[1])
    if args.trace:
        metrics = layer_metrics(records, evdir)
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "op_p50_s": (statistics.median(walls), "s"),
            "op_tail_s": (tail_v, "s"),
            "rows_per_s": (sum(r["rows"] for r in records) / timed_total, "rows/s"),
            "peak_rss_mb": (peak, "MB"),
        }
    result = {
        "correct": not any(r["error"] for r in records),
        "attempted": len(records),
        "failed": sum(1 for r in records if r["error"]),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return result, meta


def layer_metrics(records: list[dict], evdir: str) -> dict:
    """Per-layer metrics: the mean per op, except the
    ``<module>.<function>.{call_s,force_s}`` family (mean per op of the
    kind that calls it)."""
    import layers as tr

    events = tr.read_event_log(evdir)
    per_op = []
    for r in records:
        m = tr.span_metrics(r["spans"], r["wall"])
        m.update(tr.spark_metrics(events, r["epoch"][0] * 1000.0, r["epoch"][1] * 1000.0,
                                  r["wall"]))
        m["operators.materialize.bytes_written"] = float(r["bytes_written"])
        m["operators.materialize.files_written"] = float(r["files_written"])
        m["operators.materialize.write_amplification"] = (
            r["bytes_written"] / r["batch_bytes"] if r["batch_bytes"] else 0.0)
        per_op.append(m)
    out = {k: (statistics.fmean(m[k] for m in per_op), _unit(k)) for k in per_op[0]}
    for kind, fns in FUNCTION_METRICS.items():
        ops = [r for r in records if r["kind"] == kind]
        for fn in fns:
            calls = [tr.total(r["spans"], lambda n, f=fn: n == f) for r in ops]
            out[f"{fn}.call_s"] = (statistics.fmean(calls) if calls else 0.0, "s")
        out[f"{fns[-1]}.force_s"] = (
            statistics.fmean(r["force_s"] for r in ops) if ops else 0.0, "s")
    out["trace.op_p50_s"] = (statistics.median(r["wall"] for r in records), "s")
    return out


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("bytes") or name.endswith("bytes_written"):
        return "bytes"
    if name.endswith(("amplification", "coverage")):
        return "ratio"
    return "count"


def main(argv=None) -> int:
    args = parse(argv if argv is not None else sys.argv[1:])
    if not os.path.isdir(os.path.join(ROOT, "dbt_ci_demo_spark")):
        print("perfbench: engine package dbt_ci_demo_spark not found next to perfbench/",
              file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=base)
    cwd = os.getcwd()
    try:
        isolate(work)
        result, meta = measure(args, work)
    finally:
        stop_spark()
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass
    print("perfbench-meta " + json.dumps(meta, sort_keys=True, default=str))
    print(json.dumps(result))
    sys.stdout.flush()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
