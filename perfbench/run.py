"""Layer-attributed benchmark of the DTM engine.

    python3 perfbench/run.py --workload mosaic --seed 1 --seconds 10 --trace 0

Runs one named workload from a seed on ``local[nproc]``, one job at a time
(closed loop: the next pass starts when the previous one has finished):

1. set-up, once, in a fresh JVM: start the Spark session from the engine's
   builder (``session.start_s``), build the inputs from the seed, push a
   small warm-up input through the same plans, then run pass 0 (the first
   use of the full-size plans, always the slowest). ``setup_s`` is the sum
   of the four, pass 0 counted by its engine calls only;
2. measured passes 1, 2, ... until ``--seconds`` have elapsed (at least
   ``MIN_PASSES``); each pass times only its engine calls, then checks its
   outputs against an independent oracle (pass 0's are checked too);
3. with ``--trace 1``, the measured passes run for twice ``--seconds`` and
   every second one is traced: spans around the calls into the engine's public
   functions, and Spark SQL metrics read off every executed plan. They give
   the per-layer figures; their wall time against the untraced passes
   around them gives the tracing overhead. Then the workload's
   layer probes run (serialized tiling stages, codecs, the spatial probe,
   the dedup store probe), their outputs checked too.

The last line of standard output is the result
``{"correct", "attempted", "failed", "metrics"}``; the line before it is the
full record (box, parameters, per-pass walls, named throughputs with their
denominators, failed fraction, every layer figure or why it is absent).
Any mismatch makes ``correct`` false and the exit code 1.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

MIN_PASSES = 3
MAX_PASSES = 200

WORKLOADS = {
    "mosaic": ("wl_mosaic", "Mosaic"),
    "tiled_halo": ("wl_tiled_halo", "TiledHalo"),
    "doc_ingest": ("wl_doc_ingest", "DocIngest"),
}

# end-to-end (--trace 0) and per-layer (--trace 1) metric units; the names
# match BENCHMARK.json
END_TO_END = {"setup_s": "s", "wall_s": "s", "units_per_s": "1/s", "python_peak_mb": "MB"}
PER_LAYER = {
    "session.start_s": "s",
    "sources.scan_mb": "MB",
    "exchange.shuffle_mb": "MB",
    "udf.python_init_s": "s",
    "udf.python_total_s": "s",
    "udf.arrow_sent_mb": "MB",
    "udf.arrow_recv_mb": "MB",
    "trace.overhead_s": "s",
}


def start_session(workdir: str):
    """The engine's own session builder on every core of the machine; Spark's
    local dirs and the JVM's temp dir are kept inside ``workdir``."""
    from dsm2dtm_spark.session import get_spark

    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    return get_spark("perfbench", cores=cores, extra_conf={
        "spark.local.dir": tmp,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for every process
    started below this one (JVM, Python daemon and workers) to end."""
    from pyspark import SparkContext

    from harness import descendants, wait_gone

    pids = descendants(os.getpid())
    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
    killed = wait_gone(pids, timeout_s=30)
    if killed:
        print(f"perfbench: killed {len(killed)} processes that outlived the JVM", file=sys.stderr)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def load_workload(name: str, seed: int, workdir: str):
    import importlib

    mod_name, cls_name = WORKLOADS[name]
    return getattr(importlib.import_module(mod_name), cls_name)(seed, workdir)


def run_passes(wl, spark, first: int, limit: int, seconds: float, min_passes: int, tracer_of) -> tuple[list, list]:
    """Closed-loop passes ``first``, ``first + 1``, ... until ``seconds`` have
    elapsed (at least ``min_passes``, at most ``limit``); pass ``i`` runs with the tracer
    ``tracer_of(i)`` (None: untraced). A pass that raises is recorded as
    None and its traceback kept."""
    passes, errors, ends = [], [], []
    t_start = time.perf_counter()
    # stop before a pass that would likely run past ``seconds``
    while len(passes) < limit and (
        len(passes) < min_passes
        or ends[-1] - t_start + statistics.median(b - a for a, b in zip([t_start] + ends, ends)) <= seconds
    ):
        try:
            res = wl.run_pass(spark, first + len(passes), tracer_of(first + len(passes)))
        except Exception:  # noqa: BLE001 — a failed pass is counted, not fatal
            errors.append(traceback.format_exc(limit=8))
            res = None
        passes.append(res)
        ends.append(time.perf_counter())
    return passes, errors


def run(args) -> tuple[dict, dict, int]:
    from harness import (
        MemorySampler, Tracer, box_record, bracketed_overhead, outer_times, self_times, timing_summary,
    )
    from sqlmetrics import PlanMetricsReader, layer_totals

    workdir = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(workdir)
    # temp files of this process and the Python workers it spawns stay in the checkout
    os.environ["TMPDIR"] = os.path.join(workdir, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    tempfile.tempdir = None
    record = {"workload": args.workload, "box": box_record(args.seed), "trace": args.trace}
    wl = load_workload(args.workload, args.seed, workdir)
    record["why"], record["params"] = wl.why, wl.params
    spark = None
    probe_notes = []
    try:
        with MemorySampler() as memory:
            # ---- set-up in a fresh JVM: session start, inputs, warm-up, pass 0
            t0 = time.perf_counter()
            spark = start_session(workdir)
            t1 = time.perf_counter()
            wl.prepare(spark, wl.fresh_dir("setup"))
            t2 = time.perf_counter()
            wl.warmup(spark)
            t3 = time.perf_counter()
            warm, errors = run_passes(wl, spark, 0, 1, 0.0, 1, lambda i: None)
            pass0_s = warm[0].wall_s if warm[0] is not None else time.perf_counter() - t3
            record["setup"] = {"setup_s": t3 - t0 + pass0_s, "session_start_s": t1 - t0,
                               "prepare_s": t2 - t1, "warmup_s": t3 - t2, "pass0_s": pass0_s}

            # ---- measured passes. A traced run measures twice as long and
            # traces every second pass, starting and ending untraced, so that
            # each traced pass is compared with the untraced passes around it
            limit = min(MAX_PASSES, getattr(wl, "max_passes", MAX_PASSES)) - 1
            memory.reset()  # peak memory of the measured passes, not of the set-up
            if args.trace:
                tracer = Tracer(run_id=f"{args.workload}-{args.seed}")
                reader = PlanMetricsReader(spark)
                tracer.plans = reader
                measured, more_errors = run_passes(wl, spark, 1, limit, 2 * args.seconds, 2 * MIN_PASSES + 1,
                                                   lambda i: None if i % 2 else tracer)
            else:
                measured, more_errors = run_passes(wl, spark, 1, limit, args.seconds, MIN_PASSES, lambda i: None)
            errors += more_errors
            peak_rss, peak_python = memory.peak, memory.peak_python
            peak_by_command = {k: v / 1e6 for k, v in sorted(memory.peak_by_command.items())}
            if args.trace:
                n_pass_spans = len(tracer.spans)
                probe_notes = wl.layer_probes(spark, tracer)
    finally:
        stop_spark(spark)
        shutil.rmtree(workdir, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(workdir))  # only when no other run is using it

    passes = warm + measured
    ok = [p for p in passes if p is not None]
    per_pass_rows = ok[0].attempted if ok else 1
    attempted = sum(p.attempted if p else per_pass_rows for p in passes)
    failed = sum(p.failed if p else per_pass_rows for p in passes)
    # the traced run's probes check their outputs too: any note fails the run
    mismatches = [m for p in ok for m in p.mismatches] + probe_notes + errors
    plain = [p for p in measured if p is not None and not p.traced]
    record["passes"] = [
        {"wall_s": p.wall_s, "cpu_s": p.cpu_s, "traced": p.traced, "failed": p.failed, **p.work}
        if p else {"error": True}
        for p in passes
    ]
    record["passes"][0]["set_up"] = True  # pass 0 counts in setup_s, not in wall_s
    # every end-to-end figure that applies to this workload, with its unit
    e2e = {
        "setup_s": {"value": record["setup"]["setup_s"], "unit": "s"},
        "failed_frac": {"value": failed / attempted, "unit": "fraction", "failed": failed, "attempted": attempted},
        # the whole tree's peak moves with the JVM's heap growth, which the
        # garbage collector decides (1.9-2.7 GB between identical runs); the
        # Python side (driver, daemon, workers) repeats to within 2 %
        "peak_rss_mb": {"value": peak_rss / 1e6, "unit": "MB", "by_command_mb": peak_by_command},
        "python_peak_mb": {"value": peak_python / 1e6, "unit": "MB"},
    }
    if plain:
        e2e["wall_s"] = {"unit": "s", **timing_summary([p.wall_s for p in plain])}
        e2e["cpu_s"] = {"unit": "s", **timing_summary([p.cpu_s for p in plain])}
        e2e.update(wl.throughput(plain))
    record["end_to_end"] = e2e
    record["mismatches"] = mismatches[:20]

    metrics = {}
    if plain:
        metrics = {
            "setup_s": e2e["setup_s"]["value"],
            "wall_s": e2e["wall_s"]["median"],
            "units_per_s": e2e[wl.units]["value"],
            "python_peak_mb": e2e["python_peak_mb"]["value"],
        }
    traced = [p for p in measured if p is not None and p.traced]
    if args.trace and traced:
        spans = tracer.spans
        pass_spans = spans[:n_pass_spans]
        n_traced = len(traced)
        layers = {"session.start_s": record["setup"]["session_start_s"]}
        layers.update({k: v / n_traced for k, v in layer_totals(reader.acc).items()})
        layers["trace.spans_per_pass"] = len(pass_spans) / n_traced
        overhead, n_bracketed = bracketed_overhead([(p.wall_s, p.traced) if p else None for p in measured])
        layers["trace.overhead_s"] = overhead if n_bracketed >= MIN_PASSES else None
        layers["trace.overhead_passes"] = n_bracketed
        if layers["trace.overhead_s"] is None:
            wl.absent["trace.overhead_s"] = (
                f"{n_bracketed} traced passes between two untraced ones; it needs {MIN_PASSES}"
            )
        layers["trace.actions_per_pass"] = reader.n_actions / n_traced
        # per traced pass; the traced run's probes (after the passes) apart
        layers["span_self_s"] = {k: v / n_traced for k, v in sorted(self_times(pass_spans).items())}
        layers["span_total_s"] = {k: v / n_traced for k, v in sorted(outer_times(pass_spans).items())}
        layers["probe_span_total_s"] = dict(sorted(outer_times(spans[n_pass_spans:]).items()))
        layers["plan_nodes"] = {k[1]: v for k, v in sorted(reader.acc.items()) if k[0] == "nodes"}
        layers.update(wl.layer_metrics(traced, self_times(spans), outer_times(spans), layers))
        record["layers"] = layers
        record["spans"] = spans
        record["absent"] = wl.absent
        metrics = {k: layers[k] for k in PER_LAYER if layers.get(k) is not None}
    elif args.trace:
        metrics = {}
    units = END_TO_END if not args.trace else PER_LAYER
    result = {
        "correct": not mismatches and failed == 0 and len(metrics) == len(units),
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    return record, result, 0 if result["correct"] else 1


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    # Python workers import the engine from this checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    try:
        import dsm2dtm_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine package is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    record, result, code = run(args)
    print(json.dumps(record, default=str))
    print(json.dumps(result))
    return code


if __name__ == "__main__":
    sys.exit(main())
