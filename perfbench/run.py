"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Runs one workload (``weblog_queries``, ``corpus_queries`` or
``ingest_upsert``) from the root of a checkout, checks the program's
outputs, and prints one JSON line last: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``). A run record with diagnostics,
spans and their self-time summary is written under ``.perfbench_runs/``.
Exits with 2, printing no result, when the package is not importable.
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Gated metrics. Wall-clock latency and cycle time are printed on stderr
# and kept in the run record, but not gated: on a shared VM they move with
# the host's CPU steal by more than any bound allows (see README.md).
END_TO_END = [("setup_s", "s"), ("cycle_cpu_s", "s"), ("peak_rss_mb", "MB")]


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("bench", "smoke"), default="bench",
                    help="input size; 'smoke' is the smallest, for the smoke test")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import web_analytics_on_aws_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the program from {ROOT}: {exc}", file=sys.stderr)
        return 2
    import sparkenv
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {', '.join(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    work = os.path.join(ROOT, ".perfbench_work", tag)
    os.makedirs(work)
    try:
        sparkenv.pin_environment(ROOT, work)
        run = workloads.Run(ROOT, work, args.seed, args.seconds, bool(args.trace), args.size)
        if args.workload == "ingest_upsert":
            out = workloads.run_ingest(run, T_START)
        else:
            out = workloads.run_queries(run, args.workload, T_START)
    finally:
        sparkenv.stop_jvm()
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        wanted, values = workloads.PER_LAYER, out["layers"]
    else:
        wanted, values = END_TO_END, out["e2e"]
    # a figure without a single sample (every attempt failed) is null
    metrics = {name: {"value": float(values[name]) if math.isfinite(values[name]) else None,
                      "unit": unit} for name, unit in wanted}
    result = {
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": len(run.failures),
        "metrics": metrics,
    }
    record = dict(out["record"], workload=args.workload, seed=args.seed,
                  seconds=args.seconds, trace=args.trace, size=args.size,
                  error_rate=len(run.failures) / max(run.attempted, 1),
                  failures=run.failures, result=result,
                  span_self_time=run.tracer.self_time_summary(), spans=run.tracer.spans)
    runs_dir = os.path.join(ROOT, ".perfbench_runs")
    os.makedirs(runs_dir, exist_ok=True)
    with open(os.path.join(runs_dir, tag + ".json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    for name, (value, unit) in record["workload_metrics"].items():
        print(f"{name} = {value:.4f} {unit}", file=sys.stderr)
    print(f"error_rate = {record['error_rate']:.4f} ({len(run.failures)}/{run.attempted})",
          file=sys.stderr)
    for f in run.failures:
        print(f"FAILED {f}", file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
