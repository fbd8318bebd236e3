#!/usr/bin/env python3
"""Catalog benchmark: grocery onboarding, menu matching, delta upserts.

Run from the repository root:

    python3 perfbench/run.py --workload grocery_onboard --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --report --workload menu_match --seed 1 --seconds 5

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. ``--trace 0`` reports the
end-to-end metrics, ``--trace 1`` the per-layer metrics of a traced run.
``--report`` runs both and prints every metric by name with its unit and
sample count. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(HERE, ".cache")
RUNS = os.path.join(HERE, ".runs")
TRACES = os.path.join(HERE, ".traces")
# Driver heap cap and collector. The package's default is a 16g heap under
# G1, which grows the heap when collections take more than its share of
# time, so the JVM's peak resident size follows the machine's speed: on
# grocery_onboard it ranged from 3.3 to 5.7 GB between runs. The serial
# collector grows the heap only when less than 40% of it is free after a
# collection, so the resident size follows the data the program keeps
# alive. With the 16g heap it still ranged from 2.7 to 3.9 GB, with a 2g cap
# from 1.2 to 1.3 GB. The heap is neither pre-sized nor pre-touched.
DRIVER_MEM = "2g"
DRIVER_GC = "-XX:+UseSerialGC"

END_TO_END = {"setup_s": "s", "rows_per_s": "1/s", "batch_p50_s": "s", "peak_rss_mb": "MB"}
LAYERS = ("session", "readers", "multimodal", "matching", "pipeline", "similarity",
          "enrichment", "sinks", "streaming")
PER_LAYER = {
    "session.first_job_s": "s",
    "readers.scan_s": "s", "readers.rows": "count", "readers.bytes": "bytes",
    "multimodal.decode_s": "s", "multimodal.pages": "count", "multimodal.decode_errors": "count",
    "matching.cascade_s": "s", "matching.change_detect_s": "s",
    "matching.upc_hit_ratio": "ratio", "matching.name_hit_ratio": "ratio",
    "matching.generated_rows": "count",
    "pipeline.jobs": "count", "pipeline.staged_bytes_read_ratio": "ratio",
    "pipeline.products_s": "s", "pipeline.updates_s": "s", "pipeline.match_stats_s": "s",
    "similarity.topk_s": "s", "similarity.query_collect_s": "s",
    "similarity.pairs_scored": "count", "similarity.hit_ratio": "ratio",
    "enrichment.enrich_s": "s", "enrichment.calls": "count", "enrichment.retries": "count",
    "enrichment.fallback_ratio": "ratio", "enrichment.in_flight_mean": "count",
    "enrichment.backend_busy_s": "s",
    "sinks.write_s": "s", "sinks.bytes_written": "bytes", "sinks.files_written": "count",
    "sinks.buckets_touched_ratio": "ratio", "sinks.rows_rewritten_per_delta_row": "ratio",
    "sinks.dup_key_rows": "count",
    "streaming.batches": "count", "streaming.add_batch_p50_s": "s",
    "streaming.trigger_overhead_p50_s": "s", "streaming.start_s": "s",
    **{f"{layer}.{k}": u for layer in LAYERS for k, u in (
        ("cpu_s", "s"), ("shuffle_write_bytes", "bytes"), ("spill_bytes", "bytes"),
        ("gc_s", "s"))},
    **{f"{layer}.self_s": "s" for layer in LAYERS[1:]},
    "pass.self_s": "s",
    "trace.untraced_pass_s": "s", "trace.traced_pass_s": "s", "trace.overhead_ratio": "ratio",
    "trace.layer_self_sum_s": "s",
    "check.failed_ratio": "ratio",
}


def log(*a) -> None:
    print(*a, file=sys.stderr, flush=True)


def _environment(run_dir: str) -> None:
    """Run hygiene, set before the JVM starts so it and its Python workers
    inherit it: the repo root on the workers' path, core count from the CPU
    affinity mask, a capped driver heap, scratch space inside the run dir."""
    cpus = len(os.sched_getaffinity(0))
    paths = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "PYTHONPATH": os.pathsep.join(paths),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "TMPDIR": tmp,
    })
    sys.path[:0] = [ROOT, HERE]


def _spark_conf(run_dir: str, trace: bool) -> dict[str, str]:
    tmp = os.path.join(run_dir, "tmp")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.local.dir": os.path.join(run_dir, "local"),
        "spark.driver.extraJavaOptions": (
            f"{DRIVER_GC} -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"),
    }
    if trace:
        ev = os.path.join(run_dir, "eventlog")
        os.makedirs(ev)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + ev,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def _stop(spark) -> None:
    """Stop Spark, the JVM and its Python workers, and wait for all of them."""
    from pyspark import SparkContext

    from tracing import tree_pids

    pids = [p for p in tree_pids(os.getpid()) if p != os.getpid()]
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.time() + 20
    while time.time() < deadline:
        pids = [p for p in pids if os.path.exists(f"/proc/{p}")]
        if not pids:
            return
        time.sleep(0.1)
    for p in pids:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def run(args) -> dict:
    os.makedirs(RUNS, exist_ok=True)
    run_dir = os.path.join(RUNS, uuid.uuid4().hex[:12])
    os.makedirs(run_dir)
    try:
        return _run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, run_dir: str) -> dict:
    _environment(run_dir)
    import gen

    inputs = gen.generate(args.workload, args.seed, CACHE)

    from restaurant_etl_code_spark import get_spark
    from tracing import RssSampler, Tracer, cpu_steal_share
    from workloads import WORKLOADS

    trace = args.trace == 1
    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=_spark_conf(run_dir, trace))
    try:
        spark.sparkContext.setLogLevel("ERROR")
        tracer = Tracer(spark) if trace else None
        if tracer is not None:
            with tracer.span("session"):
                spark.range(1000).selectExpr("sum(id)").collect()
        else:
            spark.range(1000).selectExpr("sum(id)").collect()
        t_session = time.perf_counter() - t0
        wl = WORKLOADS[args.workload](spark, inputs, run_dir)
        wl.prepare()
        t_prepare = time.perf_counter() - t0 - t_session
        wl.warm_up()
        setup_s = time.perf_counter() - t0
        log(f"perfbench: set-up {setup_s:.2f} s: session and first job {t_session:.2f} s, "
            f"prepare {t_prepare:.2f} s, warm-up {setup_s - t_session - t_prepare:.2f} s")

        if not trace:
            steal0 = cpu_steal_share()
            with RssSampler() as rss:
                start = time.perf_counter()
                while (len(wl.pass_seconds) < wl.min_passes
                       or time.perf_counter() - start < args.seconds):
                    _, sec = wl.run_pass(None)
                    wl.pass_seconds.append(sec)
            steal1 = cpu_steal_share()
            # a virtual machine's host can take CPU time from it; a timed
            # region with a large steal share reads slow for that reason
            log(f"perfbench: host steal {100 * (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]):.1f}% "
                "of CPU time during the timed region")
            log("perfbench: timed pass seconds "
                + " ".join(f"{x:.3f}" for x in wl.pass_seconds))
            attempted, failed = wl.check()
            metrics = {
                "setup_s": setup_s,
                "rows_per_s": wl.rows / _median(wl.pass_seconds),
                "batch_p50_s": _median(wl.batch_times()),
                "peak_rss_mb": rss.peak_kb / 1024.0,
            }
            samples = {
                "setup_s": 1, "rows_per_s": len(wl.pass_seconds),
                "batch_p50_s": len(wl.batch_times()), "peak_rss_mb": rss.samples,
            }
            units = END_TO_END
        else:
            start = time.perf_counter()
            traced: list[float] = []
            while not traced or time.perf_counter() - start < args.seconds:
                with tracer.span("pass"):
                    _, sec = wl.run_pass(tracer)
                wl.after_pass()
                traced.append(sec)
            # then one untraced pass under the event log: the reference for
            # the tracing overhead and the job/scan counts of the user's plan.
            # It runs last, so JIT warm-up still under way shows as overhead
            # of the traced passes rather than hiding it.
            with tracer.span("shape"):
                _, untraced_s = wl.run_pass(None)
            attempted, failed = wl.check()
    finally:
        _stop(spark)

    if trace:
        metrics = _per_layer(inputs, run_dir, wl, tracer, untraced_s, traced,
                             failed / attempted if attempted else 0.0)
        samples = {k: len(traced) for k in metrics}
        for k in metrics:
            if k.startswith(("session.", "check.")) or k == "trace.untraced_pass_s":
                samples[k] = 1
        units = PER_LAYER
        os.makedirs(TRACES, exist_ok=True)
        span_file = os.path.join(TRACES, f"{args.workload}-seed{args.seed}-{tracer.run_id}.json")
        tracer.write(span_file)
        log(f"perfbench: spans written to {os.path.relpath(span_file, ROOT)}")
    log("perfbench-samples " + json.dumps(samples))
    return {
        "correct": failed == 0,
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }


def _per_layer(inputs, run_dir, wl, tracer, untraced_s, traced, failed_ratio) -> dict:
    from tracing import engine_metrics, self_times, total_times

    spans = [s for s in tracer.spans if s["end"] is not None]
    n = len(traced)
    tot, own = total_times(spans), self_times(spans)
    eng = engine_metrics(os.path.join(run_dir, "eventlog"), spans)

    def e(layer: str, key: str) -> float:
        return eng.get(layer, {}).get(key, 0.0)

    L = wl.layer
    m = {k: L.get(k, 0.0) for k in PER_LAYER}
    m["session.first_job_s"] = tot.get("session", 0.0)
    m["readers.scan_s"] = tot.get("readers", 0.0) / n
    m["readers.bytes"] = e("readers", "input_bytes") / n
    m["multimodal.decode_s"] = tot.get("multimodal", 0.0) / n
    m["similarity.topk_s"] = tot.get("similarity", 0.0) / n
    m["enrichment.enrich_s"] = tot.get("enrichment", 0.0) / n
    m["sinks.bytes_written"] = e("sinks", "output_bytes") / n
    m["sinks.files_written"] = e("sinks", "files_written") / n
    if wl.name == "grocery_onboard":
        csv_bytes = os.path.getsize(os.path.join(inputs, "staged.csv"))
        m["pipeline.jobs"] = e("shape", "jobs")
        m["pipeline.staged_bytes_read_ratio"] = e("shape", "csv_input_bytes") / csv_bytes
    if wl.name == "catalog_delta":
        m["sinks.rows_rewritten_per_delta_row"] = e("sinks", "output_records") / n / wl.rows
        # bucket directories the sink's writes produced, per micro-batch
        m["sinks.buckets_touched_ratio"] = (
            e("sinks", "partitions_written") / n / (m["streaming.batches"] * wl.n_buckets))
    for layer in LAYERS:
        div = 1 if layer == "session" else n
        for k in ("cpu_s", "shuffle_write_bytes", "spill_bytes", "gc_s"):
            m[f"{layer}.{k}"] = e(layer, k) / div
        if layer != "session":
            m[f"{layer}.self_s"] = own.get(layer, 0.0) / n
    m["pass.self_s"] = own.get("pass", 0.0) / n
    m["trace.untraced_pass_s"] = untraced_s
    m["trace.traced_pass_s"] = _median(traced)
    m["trace.overhead_ratio"] = _median(traced) / untraced_s
    m["trace.layer_self_sum_s"] = sum(m[f"{layer}.self_s"] for layer in LAYERS[1:])
    m["check.failed_ratio"] = failed_ratio
    return m


def report(args) -> int:
    """Run the untraced and the traced benchmark and print every metric."""
    for trace in (0, 1):
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
               "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(trace)]
        p = subprocess.run(cmd, capture_output=True, text=True)
        samples = {}
        for line in p.stderr.splitlines():
            if line.startswith("perfbench-samples "):
                samples = json.loads(line.split(" ", 1)[1])
        if p.returncode != 0 or not p.stdout.strip():
            sys.stderr.write(p.stderr[-4000:])
            log(f"perfbench: run with --trace {trace} failed (exit {p.returncode})")
            return p.returncode or 1
        res = json.loads(p.stdout.strip().splitlines()[-1])
        kind = "per-layer (traced run)" if trace else "end-to-end (untraced run)"
        print(f"# {args.workload} seed {args.seed}: {kind}; correct={res['correct']} "
              f"attempted={res['attempted']} failed={res['failed']}")
        for name, mv in res["metrics"].items():
            print(f"{name:40s} {mv['value']:>16.6g} {mv['unit']:8s} n={samples.get(name, '?')}")
    return 0


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[1])
    ap.add_argument("--workload", required=True, choices=(
        "grocery_onboard", "menu_match", "catalog_delta"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=5.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--report", action="store_true")
    args = ap.parse_args(argv)
    # the benchmark drives the package in this checkout; without it there
    # is nothing to measure, so fail before printing any result
    sys.path[:0] = [ROOT, HERE]
    for mod in ("restaurant_etl_code_spark", "pyspark", "duckdb"):
        if importlib.util.find_spec(mod) is None:
            log(f"perfbench: cannot import {mod}; run from the repository root")
            return 2
    if args.report:
        return report(args)
    # everything the run prints, the JVM's and the workers' output included,
    # goes to stderr; stdout carries only the result line
    stdout = os.dup(1)
    os.dup2(2, 1)
    try:
        result = run(args)
    finally:
        sys.stdout.flush()
        os.dup2(stdout, 1)
        os.close(stdout)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
