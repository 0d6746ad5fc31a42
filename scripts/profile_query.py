"""Per-job / per-stage profile of registered queries (guide §1: measure
first). Runs each named query exactly like bench.py (warm-up pass, then
one measured pass with the same force-full-eval checksum action) inside
a session with the event log enabled, then parses the event log into a
job/stage breakdown: where the wall-clock goes, task counts, shuffle
bytes. Read-only diagnostics — no query code is touched.

Usage: python scripts/profile_query.py q40_dedup_fuzzy [q66_...]
Env:   SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from bench import _force_full_eval  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _get_spark_with_eventlog():
    from pyspark.sql import SparkSession

    from db_cdc_poc_spark.session import (
        RUNTIME_CONFS,
        default_driver_memory,
        default_parallelism,
    )

    evdir = tempfile.mkdtemp(prefix="spark_events_")
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName("profile")
        .master(f"local[{cpus}]")
        .config("spark.driver.memory", default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", evdir)
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    return builder.getOrCreate(), evdir


def profile(names: list[str]) -> None:
    from db_cdc_poc_spark import queries as Q

    spark, evdir = _get_spark_with_eventlog()
    reg = Q.registry()
    spark.read.parquet(f"{SF_DIR}/region.parquet").count()
    marks: dict[str, tuple[float, float]] = {}
    for name in names:
        q = reg[name]
        _force_full_eval(q.fn(spark, SF_DIR))  # warm
        spark.catalog.clearCache()
        for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
            rdd.unpersist()
        spark.sparkContext.setJobDescription(f"MEASURED::{name}")
        t0 = time.time()
        n = _force_full_eval(q.fn(spark, SF_DIR))
        t1 = time.time()
        spark.sparkContext.setJobDescription(None)
        marks[name] = (t0, t1)
        print(f"== {name}: {n} rows, wall {t1 - t0:.3f}s", file=sys.stderr)
    spark.stop()

    # parse the event log (Spark 4 writes a rolling-log DIRECTORY)
    logs = sorted(Path(evdir).glob("*"), key=lambda p: p.stat().st_mtime)
    latest = logs[-1]
    parts = (
        sorted(p for p in latest.iterdir() if p.name.startswith("events_"))
        if latest.is_dir()
        else [latest]
    )
    events = []
    for part in parts:
        with open(part) as f:
            for line in f:
                try:
                    events.append(json.loads(line))
                except json.JSONDecodeError:
                    pass

    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    for e in events:
        t = e.get("Event")
        if t == "SparkListenerJobStart":
            jobs[e["Job ID"]] = {
                "desc": (e.get("Properties") or {}).get("spark.job.description", ""),
                "t0": e["Submission Time"] / 1e3,
                "stages": [s["Stage ID"] for s in e.get("Stage Infos", [])],
            }
        elif t == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]]["t1"] = e["Completion Time"] / 1e3
        elif t == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            acc = {
                a["Name"]: a.get("Value", 0)
                for a in si.get("Accumulables", [])
                if isinstance(a.get("Value"), (int, float))
            }
            stages[si["Stage ID"]] = {
                "name": si["Stage Name"],
                "tasks": si["Number of Tasks"],
                "t0": si.get("Submission Time", 0) / 1e3,
                "t1": si.get("Completion Time", 0) / 1e3,
                "runtime_ms": acc.get("internal.metrics.executorRunTime", 0),
                "cpu_ms": acc.get("internal.metrics.executorCpuTime", 0) / 1e6,
                "sh_read": acc.get("internal.metrics.shuffle.read.remoteBytesRead", 0)
                + acc.get("internal.metrics.shuffle.read.localBytesRead", 0),
                "sh_write": acc.get("internal.metrics.shuffle.write.bytesWritten", 0),
                "in_bytes": acc.get("internal.metrics.input.bytesRead", 0),
                "gc_ms": acc.get("internal.metrics.jvmGCTime", 0),
                "deser_ms": acc.get("internal.metrics.executorDeserializeTime", 0),
                "fetch_ms": acc.get("internal.metrics.shuffle.read.fetchWaitTime", 0),
            }

    summary = os.environ.get("PROFILE_SUMMARY") == "1"
    if summary:
        print(
            f"{'query':30s} {'wall':>6s} {'jobs':>4s} {'jwall':>6s} "
            f"{'gap':>6s} {'run_s':>7s} {'cpu_s':>7s} {'tasks':>6s} {'shMB':>6s}"
        )
    for name, (t0, t1) in marks.items():
        sel = [
            (jid, j)
            for jid, j in sorted(jobs.items())
            if t0 - 0.05 <= j["t0"] <= t1 + 0.05
        ]
        njobs = len(sel)
        jtot = sum(j.get("t1", j["t0"]) - j["t0"] for _, j in sel)
        gap = (t1 - t0) - jtot
        if summary:
            sids = {s for _, j in sel for s in j["stages"] if s in stages}
            run = sum(stages[s]["runtime_ms"] for s in sids) / 1e3
            cpu = sum(stages[s]["cpu_ms"] for s in sids) / 1e3
            ntasks = sum(stages[s]["tasks"] for s in sids)
            shw = sum(stages[s]["sh_write"] for s in sids) / 1e6
            print(
                f"{name:30s} {t1 - t0:6.2f} {njobs:4d} {jtot:6.2f} "
                f"{gap:6.2f} {run:7.2f} {cpu:7.2f} {ntasks:6d} {shw:6.1f}"
            )
            continue
        print(f"\n===== {name}  wall {t1 - t0:.3f}s =====")
        print(f"jobs: {njobs}, sum(job wall) {jtot:.3f}s, driver/plan gap {gap:.3f}s")
        for jid, j in sel:
            dur = j.get("t1", j["t0"]) - j["t0"]
            done = [stages[s] for s in j["stages"] if s in stages]
            skipped = len(j["stages"]) - len(done)
            print(f"  job {jid}: {dur * 1e3:7.0f} ms  stages={len(j['stages'])} "
                  f"(skipped {skipped})  desc={j['desc'][:60]}")
            for s in sorted(done, key=lambda x: x["t0"]):
                print(
                    f"    stage: {(s['t1'] - s['t0']) * 1e3:6.0f} ms wall "
                    f"run {s['runtime_ms']:7.0f} cpu {s['cpu_ms']:7.0f} "
                    f"gc {s['gc_ms']:5.0f} des {s['deser_ms']:5.0f} "
                    f"fw {s['fetch_ms']:4.0f} "
                    f"tasks {s['tasks']:3d} in {s['in_bytes'] / 1e6:7.1f}MB "
                    f"shR {s['sh_read'] / 1e6:6.1f}MB shW {s['sh_write'] / 1e6:6.1f}MB "
                    f" {s['name'][:40]}"
                )


if __name__ == "__main__":
    profile(sys.argv[1:])
