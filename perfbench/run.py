"""Benchmark command.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Runs one workload (deposit_stream, wallet_check or corpus_curate) against
the ``depositaja_spark`` package next to this directory, checks every
output against a reference computed apart from the program, and prints
one JSON object as the last line of stdout: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics of BENCHMARK.json
with ``--trace 0``, its per-layer metrics with ``--trace 1``.  A traced
run also writes its spans and the layer-specific figures to
``perfbench/traces/<workload>-seed<N>.json``.  Any failure is printed to
stderr and the exit code is not 0.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("deposit_stream", "wallet_check", "corpus_curate")


def _metric_specs() -> tuple[dict, dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return (
        {m["name"]: m["unit"] for m in spec["end_to_end"]},
        {m["name"]: m["unit"] for m in spec["per_layer"]},
    )


def _on_sigterm(signum, frame):
    raise SystemExit(128 + signum)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True, help="length of the measured phase")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    sys.path[:0] = [ROOT, HERE]
    try:
        import depositaja_spark  # noqa: F401  (the package under test)
    except ImportError as e:
        print(f"perfbench: cannot import depositaja_spark from {ROOT}: {e}", file=sys.stderr)
        return 2
    e2e_units, layer_units = _metric_specs()

    import importlib

    from harness import Bench, MemorySampler, engine_per_op, tree_peak_rss

    signal.signal(signal.SIGTERM, _on_sigterm)
    sampler = MemorySampler()
    sampler.start()
    bench = Bench(ROOT, args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        out = importlib.import_module(args.workload).run(bench)
        out["e2e"]["setup_s"] = bench.setup_s
        rss = tree_peak_rss(os.getpid())
        sampler.stop()
        out["memory"] = {
            "memory.tree_peak_mb": sampler.peak_mb,
            "memory.jvm_peak_mb": sum(mb for depth, _, mb in rss if depth == 1),
            "memory.workers_peak_mb": sampler.workers_peak_mb,
        }
        out["samples"]["rss_mb"] = rss
        if bench.trace:
            bench.layer["spark.spill_bytes"] = bench.counters.spill_bytes()
    except Exception:
        traceback.print_exc()
        print(f"perfbench: workload {args.workload} failed", file=sys.stderr)
        return 1
    finally:
        bench.close()

    per_layer = {**engine_per_op(out["engine"], out["attempted"]), **out["memory"]}
    values, units = (per_layer, layer_units) if bench.trace else (out["e2e"], e2e_units)
    if set(values) != set(units):
        print(f"perfbench: metrics {sorted(values)} do not match BENCHMARK.json {sorted(units)}", file=sys.stderr)
        return 1
    for m in out["mismatches"]:
        print(f"perfbench: MISMATCH {m}", file=sys.stderr)
    summary = {k: out[k] for k in ("samples", "e2e", "memory", "engine")}
    print(f"perfbench: {args.workload} seed={args.seed} {json.dumps(summary)}", file=sys.stderr)
    if bench.trace:
        print(f"perfbench: trace written to {bench.dump_trace()}", file=sys.stderr)
    result = {
        "correct": out["correct"],
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
