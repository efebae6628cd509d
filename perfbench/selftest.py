"""Harness self-test at toy size (small tables, a 2k-row corpus).

    python3 perfbench/selftest.py     # from the checkout root, a few minutes

Asserts that every workload passes its checks and emits every end-to-end
metric (untraced) and every per-layer metric (traced) with its unit, that
``BENCHMARK.json`` lists exactly those metrics, and that a wrong digest or a
wrong recall fails the check.
"""

from __future__ import annotations

import json
import math
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from layers import LAYER_METRICS  # noqa: E402
from run import END_TO_END, WORKLOADS, run_workload  # noqa: E402


def check(cond: bool, msg: str, failures: list) -> None:
    print(("ok    " if cond else "FAIL  ") + msg, flush=True)
    if not cond:
        failures.append(msg)


def main() -> int:
    failures: list[str] = []
    layer_units = {name: unit for name, unit, *_ in LAYER_METRICS}
    bench_path = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
    if os.path.exists(bench_path):
        with open(bench_path) as fh:
            bench = json.load(fh)
        check({m["name"]: m["unit"] for m in bench["end_to_end"]} == END_TO_END,
              "BENCHMARK.json end_to_end matches the emitted metrics", failures)
        check({m["name"]: m["unit"] for m in bench["per_layer"]} == layer_units,
              "BENCHMARK.json per_layer matches layers.LAYER_METRICS", failures)
        check(sorted(w["name"] for w in bench["workloads"]) == sorted(WORKLOADS),
              "BENCHMARK.json workloads match run.WORKLOADS", failures)
    for wl in sorted(WORKLOADS):
        for trace, want in ((0, END_TO_END), (1, layer_units)):
            res = run_workload(wl, 1, 2, trace, ["--toy"])
            check(res is not None, f"{wl} trace={trace}: run completed", failures)
            if res is None:
                continue
            check(res["correct"] and res["failed"] == 0 and res["attempted"] > 0,
                  f"{wl} trace={trace}: checks pass ({res['attempted']} attempted)", failures)
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            check(got == want, f"{wl} trace={trace}: every metric emitted with its unit",
                  failures)
            check(all(isinstance(v["value"], (int, float)) and math.isfinite(v["value"])
                      for v in res["metrics"].values()),
                  f"{wl} trace={trace}: every value is a number", failures)
    for wl, what in (("batch_queries", "digest"), ("serve_ann", "recall")):
        res = run_workload(wl, 1, 2, 0, ["--toy", "--corrupt", what])
        check(res is not None and not res["correct"],
              f"{wl}: a wrong {what} fails the check", failures)
    print(f"{len(failures)} failure(s)")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
