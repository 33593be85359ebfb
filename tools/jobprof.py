"""Per-job/stage profile of one bench row — the "where does the wall
time go" companion to tools/probe.py (guide §1: measure first).

Runs the query with the engine session plus an event log, then parses
the Spark event log into per-job wall times (with job group/description
when the query labels them) and per-stage shuffle/task metrics. One
query per invocation (fresh JVM — the probe discipline).

    python tools/jobprof.py <query> [sf_dir]

Prints a human table on stderr and one JSON line on stdout:
    {"query": ..., "wall": ..., "n_jobs": N, "jobs": [...], "stages": [...]}
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    if len(sys.argv) < 2:
        sys.exit("usage: python tools/jobprof.py <query> [sf_dir]")
    name = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"

    import bench

    from dbt_ci_demo_spark.queries import registry_queries
    from dbt_ci_demo_spark.session import get_spark

    overrides, warm_fixtures = bench._bench_only()
    regs = {**registry_queries(), **overrides}
    if name not in regs:
        sys.exit(f"unknown query {name!r}")

    evdir = tempfile.mkdtemp(prefix="jobprof_ev_")
    spark = get_spark(
        f"jobprof-{name}",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": evdir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    fn = regs[name]
    if name in (
        "stream_late_data_accounting",
        "stream_session_late_accounting",
        "wr_compact_small_files",
    ):
        warm_fixtures(spark, sf_dir)

    def run() -> float:
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    for _ in range(3):
        run()
    # Mark the measured pass with a job group so the parser can isolate it.
    spark.sparkContext.setJobGroup("MEASURED", "measured pass")
    wall = run()
    spark.sparkContext.setJobGroup(None, None)
    app_id = spark.sparkContext.applicationId
    spark.stop()

    # Spark 4 may write a rolling dir (eventlog_v2_<appid>/events_*);
    # older layouts write a single file named by the app id.
    candidates = [os.path.join(evdir, f) for f in os.listdir(evdir) if app_id in f]
    files: list[str] = []
    for c in candidates:
        if os.path.isdir(c):
            files.extend(
                os.path.join(c, f)
                for f in sorted(os.listdir(c))
                if f.startswith("events")
            )
        else:
            files.append(c)
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}

    def _lines():
        for f in files:
            with open(f) as fh:
                yield from fh

    for line in _lines():
        ev = json.loads(line)
        et = ev.get("Event")
        if et == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            if props.get("spark.jobGroup.id") != "MEASURED":
                continue
            jid = ev["Job ID"]
            jobs[jid] = {
                "job": jid,
                "t0": ev["Submission Time"],
                "desc": (props.get("spark.job.description") or "")[:80],
                "stages": [s["Stage ID"] for s in ev.get("Stage Infos", [])],
            }
        elif et == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid in jobs:
                jobs[jid]["sec"] = round(
                    (ev["Completion Time"] - jobs[jid].pop("t0")) / 1000.0, 3
                )
        elif et == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            sid = si["Stage ID"]
            if not any(sid in j.get("stages", []) for j in jobs.values()):
                continue
            sub, comp = si.get("Submission Time"), si.get("Completion Time")
            stages[sid] = {
                "stage": sid,
                "name": si.get("Stage Name", "")[:60],
                "tasks": si.get("Number of Tasks"),
                "sec": round((comp - sub) / 1000.0, 3) if sub and comp else None,
            }

    job_list = sorted(jobs.values(), key=lambda j: -j.get("sec", 0.0))
    stage_list = sorted(
        [s for s in stages.values() if s["sec"] is not None],
        key=lambda s: -s["sec"],
    )
    for j in job_list:
        print(
            f"job {j['job']:>4}  {j.get('sec', 0.0):7.3f}s  {j['desc']}",
            file=sys.stderr,
        )
    print("-- slowest stages --", file=sys.stderr)
    for s in stage_list[:15]:
        print(
            f"stage {s['stage']:>4}  {s['sec']:7.3f}s  {s['tasks']:>3} tasks  {s['name']}",
            file=sys.stderr,
        )
    print(
        json.dumps(
            {
                "query": name,
                "wall": round(wall, 4),
                "n_jobs": len(job_list),
                "sum_job_sec": round(sum(j.get("sec", 0.0) for j in job_list), 3),
                "jobs": job_list,
                "stages": stage_list[:25],
            }
        )
    )


if __name__ == "__main__":
    main()
