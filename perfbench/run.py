"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs one workload against the engine's public functions from the root of
a checkout and prints, as the last line of standard output, one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics of BENCHMARK.json with ``--trace 0``, its per-layer
metrics with ``--trace 1``). Everything else the run prints, Spark's and
the JVM's output included, goes to standard error. A traced run also
writes its spans to ``.perfbench_traces/``. Exits non-zero, printing no
result, when the engine cannot be imported or the run itself breaks.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("hybrid_search", "catalog")


def _isolate_stdout() -> int:
    """Point fd 1 at stderr for the whole process tree (the JVM inherits
    it) and return a private copy of the real stdout for the result."""
    sys.stdout.flush()
    real = os.dup(1)
    os.dup2(2, 1)
    return real


def _declared(kind: str) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec[kind]}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full",
                   help="input size; tiny is for the smoke tests")
    args = p.parse_args(argv)

    out_fd = _isolate_stdout()
    declared = _declared("per_layer" if args.trace else "end_to_end")
    sys.path[:0] = [ROOT, HERE]
    try:
        importlib.import_module("vectordb_bioinsight_spark.session")
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    from harness import Bench, configure_env

    work = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{os.getpid()}")
    configure_env(work)

    bench = Bench(work, args.workload, args.seed, args.seconds, bool(args.trace), args.size)
    module = importlib.import_module(f"wl_{args.workload}")
    try:
        module.run(bench)
    finally:
        bench.close()

    metrics = bench.layer if args.trace else bench.e2e
    if args.trace:
        for layer, secs in bench.tracer.self_times().items():
            metrics.setdefault(f"{layer}.self_s", secs)
        bench.tracer.write(
            os.path.join(ROOT, ".perfbench_traces", f"{args.workload}-seed{args.seed}.json"),
            {"workload": args.workload, "seed": args.seed, "metrics": metrics, **bench.trace_extra},
        )
    missing = [n for n in declared if n not in metrics]
    if missing and not args.trace:
        raise RuntimeError(f"workload {args.workload} did not measure {missing}")
    for problem in bench.problems[:20]:
        print(f"perfbench: {problem}", file=sys.stderr)
    result = {
        "correct": bench.wrong == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        # a layer the workload never called has spent nothing in it
        "metrics": {n: {"value": float(metrics.get(n, 0.0)), "unit": u} for n, u in declared.items()},
    }
    with os.fdopen(out_fd, "w") as out:
        out.write(json.dumps(result) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
