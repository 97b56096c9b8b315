"""Lambda-layer benchmark of the engine: one workload per run.

Run from the repository root::

    python3 perfbench/run.py --workload batch_views --seed 1 --seconds 10 --trace 0

Workloads: ``batch_views``, ``speed``, ``iterative`` (see
``perfbench/README.md``). The seed permutes the rows of the vendored
input tables and picks the new-data chunk split. ``--trace 0`` times
passes until ``--seconds`` have elapsed and prints the end-to-end
metrics; ``--trace 1`` runs
one untraced and one traced pass and prints the per-layer metrics,
writing the spans to ``.perfbench_out/``. Every run checks the
outputs against DuckDB oracles after the timed region.

The last stdout line is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``; the lines before it name
every metric with its unit, plus ``failed_ratio``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data", "sf0.01")
WORKLOAD_NAMES = ("batch_views", "speed", "iterative")
#: the name each workload's pass wall goes by
PASS_ALIAS = {"batch_views": "batch_s", "iterative": "iterative_s", "speed": "speed_s"}


def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def report(workload: str, result: dict) -> list[str]:
    lines = [f"{k} = {v['value']:.6g} {v['unit']}" for k, v in result["metrics"].items()]
    if "pass_s" in result["metrics"]:
        lines.append(f"{PASS_ALIAS[workload]} = pass_s on {workload}")
    lines.append(f"failed_ratio = {result['failed'] / result['attempted']:.6g} "
                 f"({result['failed']} of {result['attempted']} operations)")
    return lines


def main(argv=None) -> int:
    args = parse(argv)
    sys.path.insert(1, ROOT)  # the engine and tools/ sit at the checkout root
    # Fail before the JVM starts when the program is not beside us.
    import big_data_code_spark  # noqa: F401
    import tools.driver_check  # noqa: F401

    run_id = f"{args.workload}-s{args.seed}-{os.getpid()}"
    work = os.path.join(ROOT, ".perfbench_work", run_id)
    trace_out = None
    if args.trace:
        os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
        trace_out = os.path.join(ROOT, ".perfbench_out", f"trace-{run_id}.json")
    import harness

    harness.isolate(work)
    try:
        result = harness.run_workload(
            args.workload, args.seed, args.seconds, bool(args.trace), work, DATA, trace_out
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for note in result.pop("failures"):
        print(f"FAILED {note}", file=sys.stderr)
    print("\n".join(report(args.workload, result)))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
