#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload feed_deep_book --seed 1 \\
        --seconds 15 --trace 0

Run it from the root of a checkout. The workloads, metric names, units
and bounds live in ``BENCHMARK.json``. Standard output ends with one JSON
line ``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
The lines before it list the same metrics for a reader, with the output
checks that failed and the run's error rate.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import batch, feeds  # noqa: E402
from perfbench.harness import (  # noqa: E402
    Ctx, cleanup, prepare_env, since_start, start_spark)
from perfbench.spans import (  # noqa: E402
    bytes_per_span, jvm_pid, peak_rss_mb, shuffle_and_spill)

def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


def _missing_program() -> str | None:
    """Name what this checkout lacks to run the benchmark, if anything."""
    for rel in ("fictional_guacamole_spark/__init__.py",
                "tools/driver_mirror.py", "BENCHMARK.json"):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            return rel
    return None


def span_counters(ctx: Ctx, counts: dict) -> dict:
    """Jobs, tasks, shuffle write and spill bytes per span. ``counts``
    holds (jobs, tasks) per span, read while the session was up; the
    bytes come from the event log, complete once the session stopped."""
    by_span = bytes_per_span(ctx.spans, shuffle_and_spill(ctx.event_log_dir))
    out = {}
    for name, (jobs, tasks) in counts.items():
        out[f"{name}.jobs"] = (jobs, "count")
        out[f"{name}.tasks"] = (tasks, "count")
        out[f"{name}.shuffle_write_bytes"] = (by_span[name][0], "bytes")
        out[f"{name}.spill_bytes"] = (by_span[name][1], "bytes")
    return out


def run_workload(ctx: Ctx) -> dict:
    module = feeds if ctx.workload in feeds.WORKLOADS else batch
    spark = start_spark(ctx)
    try:
        spark_s = since_start(ctx)
        if ctx.trace:
            measured = module.run_traced(ctx, spark_s)
            counts = {n: (len(ctx.spans.jobs(n)), ctx.spans.tasks(n))
                      for n in ctx.spans.groups}
        else:
            measured = module.run(ctx, spark_s)
        measured["peak_rss_mb"] = (peak_rss_mb(jvm_pid(spark)), "MB")
    finally:
        stop_spark(spark)
    if ctx.trace:
        measured.update(span_counters(ctx, counts))
    return measured


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for both."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()          # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def select(spec_metrics: list[dict], measured: dict, fill: bool) -> dict:
    """The metrics ``BENCHMARK.json`` names, with its units. With
    ``fill``, a metric of a layer this workload does not run reads 0."""
    out = {}
    for m in spec_metrics:
        name, unit = m["name"], m["unit"]
        if name in measured:
            value, got_unit = measured[name]
            if got_unit != unit:
                raise ValueError(f"{name}: measured in {got_unit}, "
                                 f"BENCHMARK.json says {unit}")
        elif fill:
            value = 0
        else:
            raise KeyError(f"workload did not measure {name}")
        out[name] = {"value": value, "unit": unit}
    return out


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)

    missing = _missing_program()
    if missing:
        print(f"perfbench: {missing} not found under {ROOT}; run from the "
              f"root of a full checkout", file=sys.stderr)
        return 2
    spec = load_spec()
    known = set(feeds.WORKLOADS) | set(batch.WORKLOADS)
    if args.workload not in known:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"known: {sorted(known)}", file=sys.stderr)
        return 2

    ctx = Ctx(args.workload, args.seed, args.seconds, bool(args.trace),
              T_START)
    prepare_env(ctx)
    try:
        measured = run_workload(ctx)
        metrics = (select(spec["per_layer"], measured, fill=True)
                   if ctx.trace else
                   select(spec["end_to_end"], measured, fill=False))
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        cleanup(ctx)

    tally = ctx.tally
    kind = "per-layer" if ctx.trace else "end-to-end"
    print(f"# {args.workload} seed={args.seed} {kind} metrics")
    for name, m in metrics.items():
        print(f"{name:52s} {m['value']:>16.6g} {m['unit']}")
    for note in ctx.notes:
        print(f"# {note}")
    for failure in tally.failures:
        print(f"# FAILED {failure}")
    print(f"# error_rate {tally.error_rate:.6g} "
          f"({tally.failed} failed of {tally.attempted} operations)")
    print(json.dumps({"correct": tally.failed == 0,
                      "attempted": tally.attempted,
                      "failed": tally.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
