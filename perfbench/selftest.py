"""Self-test of the benchmark at a tiny input (the vendored sf0.001).

Checks, for every workload with its operation lists cut to one or
two entries (the machinery is under test, not the program):

1. every metric ``BENCHMARK.json`` names prints with its unit, in
   both modes;
2. in the traced pass, the span self times sum to the traced wall;
3. a deliberately wrong oracle row raises ``failed_ratio``.

Run from the repository root: ``python3 perfbench/selftest.py``.
Exits 0 when every check holds.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(1, ROOT)

import harness  # noqa: E402
import run  # noqa: E402


def shrink_lists() -> None:
    import workloads as w

    w.SWA_VIEWS = ("pageviews_over_time", "bounce_rate")
    w.TPCH = ("q1_pricing_summary",)
    w.ITERATIVE = ("kcenter_select",)
    w.STREAMING = ("streaming_pageviews_hourly",)


def expect(cond: bool, what: str, problems: list[str]) -> None:
    print(("ok   " if cond else "FAIL ") + what)
    if not cond:
        problems.append(what)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    units = {
        mode: {m["name"]: m["unit"] for m in bench[key]}
        for mode, key in ((0, "end_to_end"), (1, "per_layer"))
    }
    work = os.path.join(ROOT, ".perfbench_work", f"selftest-{os.getpid()}")
    harness.isolate(work)
    shrink_lists()
    src = os.path.join(HERE, "data", "sf0.001")
    problems: list[str] = []
    try:
        for i, wl in enumerate(run.WORKLOAD_NAMES):
            for trace in (0, 1):
                res = harness.run_workload(wl, 7, 0, bool(trace), os.path.join(work, f"{wl}{trace}"), src)
                lines = run.report(wl, res)
                got = {k: v["unit"] for k, v in res["metrics"].items()}
                expect(got == units[trace], f"{wl} trace={trace}: metric names and units match BENCHMARK.json", problems)
                printed = all(any(ln.startswith(f"{k} = ") and ln.endswith(f" {u}") for ln in lines)
                              for k, u in got.items())
                expect(printed, f"{wl} trace={trace}: every metric printed with its unit", problems)
                expect(res["failed"] == 0, f"{wl} trace={trace}: no failed operation {res['failures']}", problems)
                if trace:
                    m = {k: v["value"] for k, v in res["metrics"].items()}
                    wall, self_sum = m["trace.wall_s"], m["trace.self_sum_s"]
                    expect(wall > 0 and abs(self_sum - wall) <= 1e-6 * wall,
                           f"{wl}: span self times {self_sum:.6f} s sum to traced wall {wall:.6f} s", problems)
        from big_data_code_spark.plans.registry import ORACLES

        wrong = dict(ORACLES)
        q = wrong["q1_pricing_summary"]
        wrong["q1_pricing_summary"] = f"SELECT * FROM ({q}) UNION ALL (SELECT * FROM ({q}) LIMIT 1)"
        res = harness.run_workload("batch_views", 7, 0, False, os.path.join(work, "wrong"), src,
                                   oracle_sql=wrong)
        expect(res["failed"] >= 1 and any("q1_pricing_summary" in f for f in res["failures"]),
               f"a wrong oracle row raises failed_ratio to {res['failed']}/{res['attempted']}", problems)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(f"{len(problems)} problem(s)")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
