#!/usr/bin/env python3
"""sparkft benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload ingest|serve|entries --seed N \
        --seconds S --trace 0|1

Run from the repository root. Inputs are generated from --seed; the run
sets up (three times untraced, once traced; set-up time is their median),
measures for --seconds seconds, checks the outputs, and prints:

- one `{"context": ...}` line: host facts (nproc, versions, bench.py's two
  host probes) and workload details that are not metrics;
- as the last line, `{"correct", "attempted", "failed", "metrics"}` with
  every end-to-end metric of BENCHMARK.json (--trace 0) or every per-layer
  metric (--trace 1), each as {"value", "unit"}.

A traced run also writes its spans to .perfbench/trace-<workload>-<seed>.json.
Everything a run writes stays under .perfbench/ in the checkout: each run
works in its own fresh .perfbench/<workload>-<seed>-<pid>/ and leaves it
there (deleting thousands of just-flushed index files costs seconds), so
clear .perfbench/ between benchmark sessions.
"""

from __future__ import annotations

import argparse
import gc
import importlib
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

WORKLOADS = ("ingest", "serve", "entries")
SETUP_REPS = 3
CHUNKS = 10


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _stop(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            proc.wait(timeout=60)


def tail_percentile(n: int) -> int:
    """The highest of p99 and p90 with at least ten samples beyond it."""
    return 99 if n >= 1000 else 90


def _e2e(spec: dict, setup_times: list, rep: dict) -> dict:
    from perfbench.common import peak_rss_mb, percentile

    lat = rep["latencies_ms"]
    # p50 and throughput are medians over CHUNKS consecutive slices of the
    # timed operations, so a burst of host noise in one slice is outvoted
    step = -(-len(lat) // CHUNKS)
    chunks = [lat[i:i + step] for i in range(0, len(lat), step)]
    values = {
        "setup_s": statistics.median(setup_times),
        "build_docs_per_s": rep["build_docs_per_s"],
        "index_bytes_per_input_byte": rep["index_bytes_per_input_byte"],
        "query_p50_ms": statistics.median(statistics.median(c) for c in chunks),
        "query_tail_ms": percentile(lat, tail_percentile(len(lat))),
        "queries_per_s": statistics.median(len(c) / (sum(c) / 1000.0) for c in chunks),
        "driver_peak_rss_mb": peak_rss_mb(),
        "op_ok_ratio": 1.0 - rep["failed"] / rep["attempted"],
    }
    return {m["name"]: values[m["name"]] for m in spec["end_to_end"]}


def _per_layer(spec: dict, tracer, timed: dict, rep: dict) -> dict:
    from perfbench.layers import span_metrics, tokenizer_throughput

    values = {m["name"]: 0.0 for m in spec["per_layer"]}
    values.update(span_metrics(tracer, timed["wall_s"]))
    values.update(rep["layers"])
    values.update(tokenizer_throughput(*rep["texts"]))
    return {m["name"]: values[m["name"]] for m in spec["per_layer"]}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size multiplier; 1.0 is the recorded benchmark")
    args = ap.parse_args(argv)

    try:
        spec = _spec()
        import sparkft  # noqa: F401 — the program under test
        import __spark_entry__  # noqa: F401
    except (OSError, ImportError) as e:
        print(f"perfbench: cannot find the program to benchmark: {e}", file=sys.stderr)
        return 2

    from perfbench.common import Ctx, host_context, start_spark, use_temp_dir, warm_workers
    from perfbench.layers import instrument
    from perfbench.trace import Tracer

    out_dir = os.path.join(ROOT, ".perfbench")
    work = os.path.join(out_dir, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    use_temp_dir(os.path.join(work, "tmp"))
    cores = os.cpu_count() or 1
    wl = importlib.import_module(f"perfbench.{args.workload}")
    spark = start_spark(work, cores)
    try:
        warm_workers(spark, cores)
        host = host_context(spark, cores)
        ctx = Ctx(spark=spark, seed=args.seed, scale=args.scale)
        state, setup_times, build_times = None, [], []
        for i in range(1 if args.trace else SETUP_REPS):
            d = os.path.join(work, f"setup-{i}")
            os.makedirs(d)
            # only the last set-up is served; an earlier one's corpus and
            # readers must not stay alive into driver_peak_rss_mb
            state = None
            gc.collect()
            t0 = time.perf_counter()
            state = wl.setup(ctx, d)
            setup_times.append(time.perf_counter() - t0)
            build_times.append(state.get("build_s"))

        tracer = Tracer() if args.trace else None
        ctx.tracer = tracer
        if tracer is not None:
            instrument(tracer)
        try:
            timed = wl.run(ctx, state, args.seconds)
        finally:
            if tracer is not None:
                tracer.restore()
        rep = wl.report(ctx, state, timed, build_times)
        e2e = _e2e(spec, setup_times, rep)
        context = {"workload": args.workload, "seed": args.seed, "scale": args.scale,
                   **host, **rep["context"],
                   "setup_s_each": [round(t, 3) for t in setup_times],
                   "timed_ops": len(rep["latencies_ms"]),
                   "tail_percentile": tail_percentile(len(rep["latencies_ms"])),
                   "timed_wall_s": round(timed["wall_s"], 3)}
        if tracer is not None:
            metrics = _per_layer(spec, tracer, timed, rep)
            units = {m["name"]: m["unit"] for m in spec["per_layer"]}
            context["traced_end_to_end"] = {k: v for k, v in e2e.items() if k != "setup_s"}
            tracer.dump(os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json"))
        else:
            metrics = e2e
            units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    finally:
        _stop(spark)

    print(json.dumps({"context": context}), flush=True)
    print(json.dumps({
        "correct": rep["failed"] == 0,
        "attempted": int(rep["attempted"]),
        "failed": int(rep["failed"]),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
