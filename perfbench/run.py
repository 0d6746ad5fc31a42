#!/usr/bin/env python3
"""Product-level benchmark of db_cdc_poc_spark.

    python3 perfbench/run.py --workload {pos_stream,corpus} --seed N \\
        --seconds S --trace {0,1}

Run from the root of a checkout. One process is one run: it pins Spark
to ``local[nproc]`` with a heap that fits the host, builds its inputs
from ``--seed`` under ``.perfbench/`` (removed at exit), sets up,
warms up, then runs a closed loop of operations for ``--seconds`` of
timed work (a fixed number of operations sized to it), checks every
output outside the timed region and prints
one report line per metric and, last, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json,
``--trace 1`` its per-layer metrics (Spark event log on, job group per
span, streaming listener; traced and untraced operations interleave and
their latency difference is the tracing overhead). The exit code is
non-zero when an output check fails or the package is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path.cwd()
#: a round figure near HostSpeed's time on the 4-core host the bounds
#: were set on; it only fixes the unit of the scaled time metrics
REF_S = 0.40


def _configure(work: Path, trace: bool) -> None:
    """Pin the run before the JVM starts: all cores, a fixed heap that
    fits the host, every scratch directory inside ``work``, no console
    progress; the event log only for traced runs."""
    from harness import ram_bytes

    for d in ("tmp", "spark-local", "ephemeral", "eventlog"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    heap_mb = min(2048, ram_bytes() // 2**20 // 4)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{heap_mb}m"
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_GRAFT_EPHEMERAL_DIR"] = str(work / "ephemeral")
    os.environ["TMPDIR"] = str(work / "tmp")
    tempfile.tempdir = None
    # the short-lived JVM spark-submit starts to assemble Spark's command line
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}"
    confs = [
        "spark.ui.showConsoleProgress=false",
        f"spark.sql.warehouse.dir={work / 'warehouse'}",
        # - C1 JIT only: C2 keeps compiling through a short run (NOTES.md)
        # - no hsperfdata file in /tmp
        f"spark.driver.extraJavaOptions=-XX:TieredStopAtLevel=1 -XX:-UsePerfData "
        f"-Djava.io.tmpdir={work / 'tmp'}",
    ]
    if trace:
        confs += [
            "spark.eventLog.enabled=true",
            f"spark.eventLog.dir=file://{work / 'eventlog'}",
            # one plain JSON-lines file, read back by tracing.Tracer
            "spark.eventLog.rolling.enabled=false",
            "spark.eventLog.compress=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        " ".join(f"--conf {shlex.quote(c)}" for c in confs) + " pyspark-shell"
    )


def _terminate(work: Path) -> None:
    """On SIGTERM: kill the JVM (a graceful stop can wait forever on a
    running stream), remove the run's scratch and exit."""
    from harness import children

    for pid in children(os.getpid()):
        os.kill(pid, signal.SIGKILL)
        os.waitpid(pid, 0)
    shutil.rmtree(work, ignore_errors=True)
    os._exit(143)


def _stop(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _layer_metrics(wl, tracer, session_s: float, traced: list[float], plain: list[float]):
    """Per-layer values this workload produced, by BENCHMARK.json name,
    each a median over operations (spans summed within an operation),
    and one report line per span with its share of the operation."""
    from harness import median
    from tracing import SPARK_STATS

    out = {"session.start_s": session_s}
    op_p50 = median(traced)
    lines = []
    for name in dict.fromkeys(s.name for s in tracer.spans if s.name != "op"):
        spans = tracer.totals(name)
        sec = out[f"{name}_s"] = median([s.seconds for s in spans])
        for k in SPARK_STATS:
            out[f"{name}.{k}"] = median([s.stats[k] for s in spans])
        if op_p50 and any(tracer.top(s).name == "op" for s in tracer.by_name(name)):
            where = f"{sec / op_p50:.1%} of the traced operation ({op_p50:.3f} s)"
        else:
            where = "outside the operation"
        lines.append(f"span {name}: {sec:.3f} s, {where}")
    if hasattr(wl, "layer_metrics"):
        out.update(wl.layer_metrics())
    if traced and plain:
        out["trace.overhead_s"] = op_p50 - median(plain)
    return out, lines


WORKLOADS = {
    "pos_stream": ("wl_pos", "PosStream"),
    "corpus": ("wl_corpus", "Corpus"),
}


def _run(args, work: Path) -> tuple[dict, list[str]]:
    """One run; returns the result object and the report lines."""
    import importlib

    from harness import HostSpeed, LiveHeap, RssSampler, closed_loop, host_record, median
    from tracing import Tracer

    from db_cdc_poc_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}")
    session_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    lines = [f"host {json.dumps(host_record(spark, ROOT), sort_keys=True)}"]
    tracer = Tracer(spark, enabled=bool(args.trace))
    module, cls = WORKLOADS[args.workload]
    wl = getattr(importlib.import_module(module), cls)(spark, tracer, args.seed)
    failures: list[str] = []
    try:
        t0 = time.perf_counter()
        # set-up time counts the package's work only, not the generator's
        setup_s = session_s + wl.prepare(work / "inputs")
        prepare_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        if hasattr(wl, "expected"):
            wl.expected()
        t1 = time.perf_counter()
        tracer.active = False
        if hasattr(wl, "warm_up"):
            wl.warm_up()
        for i in range(wl.warmup):
            wl.op(i)
            wl.check(i)
        t2 = time.perf_counter()
        lines.append(
            "phases session_s=%.2f setup_s=%.2f prepare_s=%.2f expected_s=%.2f warmup_s=%.2f"
            % (session_s, setup_s, prepare_s, t1 - t0, t2 - t1)
        )

        traced_ops: set[int] = set()

        def op(i: int) -> int:
            # traced runs interleave traced and untraced operations as
            # ABBA..., so that neither side gets the later, dearer days
            tracer.active = bool(args.trace) and (i - wl.warmup) % 4 in (0, 3)
            if tracer.recording:
                traced_ops.add(i)
            rss.start_op()
            try:
                return wl.op(i)
            finally:
                rss.end_op()

        live_heap = LiveHeap(spark)
        host = HostSpeed(spark)

        def check(i: int) -> None:
            wl.check(i)
            host.sample()
            live_heap.sample()  # also collects the reference's garbage

        host.sample()
        host.sample()
        live_heap.sample()  # also: the first timed operation starts from a collected heap
        t0 = time.perf_counter()
        # a fixed number of operations, sized to --seconds: which ones
        # are timed does not depend on the speed of the code under test
        with RssSampler() as rss:
            res = closed_loop(op, check, wl.warmup, wl.timed_ops(args.seconds))
        lines.append(f"phases loop_s={time.perf_counter() - t0:.2f} timed_s={res.wall:.2f}")
        tracer.active = True
        if tracer.enabled and hasattr(wl, "layer_probes"):
            # after the loop: a timed operation that followed the probes'
            # batch jobs ran ~1 s slower, which skewed trace.overhead_s
            for _ in range(2):
                wl.layer_probes()
        failures += res.failures
        if hasattr(wl, "final_check") and res.ops:
            try:
                wl.final_check(res.ops[-1])
            except AssertionError as exc:
                failures.append(f"final check: {exc}")
        if tracer.enabled:
            tracer.wait_for_progress(expected_min=1)
    finally:
        tracer.close()
        _stop(spark)
    correct = not failures and res.attempted > 0
    lat = res.latencies
    lines.append(
        f"ops attempted={res.attempted} failed={res.failed} "
        f"error_rate={res.failed / max(res.attempted, 1):.4f} latency_n={len(lat)}"
    )
    lines.append("latencies_s " + " ".join(f"{t:.3f}" for t in lat))
    lines.append("peak_rss_mb " + " ".join(f"{m:.0f}" for m in rss.op_peaks_mb))
    lines.append("live_heap_mb " + " ".join(f"{m:.1f}" for m in live_heap.samples_mb))
    lines += [f"failure {f}" for f in failures]
    # time metrics at the reference speed REF_S (see HostSpeed)
    scale = REF_S / median(host.samples_s)
    lines.append(
        "host_ref_s " + " ".join(f"{t:.3f}" for t in host.samples_s) + f" scale={scale:.3f}"
    )
    lines.append(
        f"unscaled setup_s={setup_s:.3f} rows_per_s={res.rows_per_s:.1f} "
        f"latency_p50_s={median(lat):.3f}"
    )
    if not args.trace:
        metrics = {
            "setup_s": setup_s * scale,
            "rows_per_s": res.rows_per_s / scale,
            "latency_p50_s": median(lat) * scale,
            "peak_rss_mb": median(rss.op_peaks_mb),
        }
    else:
        tracer.charge_event_log(work / "eventlog")
        traced = [t for i, t in zip(res.ops_ok, lat) if i in traced_ops]
        plain = [t for i, t in zip(res.ops_ok, lat) if i not in traced_ops]
        metrics, span_lines = _layer_metrics(wl, tracer, session_s, traced, plain)
        metrics["jvm.live_heap_mb"] = median(live_heap.samples_mb)
        lines += span_lines
        lines.append(f"latency traced_n={len(traced)} untraced_n={len(plain)}")
    return {"correct": correct, "attempted": res.attempted, "failed": res.failed,
            "metrics": metrics}, lines


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    spec_path = ROOT / "BENCHMARK.json"
    if not (ROOT / "db_cdc_poc_spark" / "__init__.py").is_file() or not spec_path.is_file():
        print("perfbench: run from the root of a db_cdc_poc_spark checkout", file=sys.stderr)
        return 2
    spec = json.loads(spec_path.read_text())
    catalog = spec["per_layer"] if args.trace else spec["end_to_end"]

    work = ROOT / ".perfbench" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    signal.signal(signal.SIGTERM, lambda *_: _terminate(work))
    _configure(work, bool(args.trace))
    sys.path.insert(0, str(ROOT))
    try:
        result, lines = _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    values = result["metrics"]
    missing = [m["name"] for m in catalog if m["name"] not in values and not args.trace]
    if missing:
        raise RuntimeError(f"end-to-end metrics not produced: {missing}")
    # a layer this workload does not run did no work: it reads 0
    result["metrics"] = {
        m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]} for m in catalog
    }
    for m in catalog:
        lines.append(f"metric {m['name']} = {result['metrics'][m['name']]['value']:.6g} {m['unit']}")
    results = ROOT / ".perfbench" / "results"
    results.mkdir(parents=True, exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    (results / f"{stem}.json").write_text(json.dumps({"report": lines, **result}, indent=1))
    for line in lines:
        print(line)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
