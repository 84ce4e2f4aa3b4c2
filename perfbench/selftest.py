"""Self-test of the benchmark: every workload, one pass, at sf0.001.

    python3 perfbench/selftest.py [workload ...]

For each workload it runs the benchmark untraced and traced and asserts
that every metric named in BENCHMARK.json is printed with its unit, that
the spans nest, and that each operation's layer self times sum to within 5%
of its wall time.  Exits non-zero on the first failure.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF = "0.001"


def run(bench: dict, workload: str, trace: int) -> tuple[dict, dict]:
    cmd = bench["command"] + ["--workload", workload, "--seed", "1", "--seconds", "0",
                              "--trace", str(trace), "--sf", SF]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise AssertionError(f"{workload} trace={trace}: exit {p.returncode}\n{p.stderr[-3000:]}")
    detail_file = next(ln.split("details: ", 1)[1] for ln in lines if "# details: " in ln)
    with open(os.path.join(ROOT, detail_file)) as fh:
        detail = json.load(fh)
    return json.loads(lines[-1]), detail


def check(bench: dict, workload: str) -> None:
    for trace, section in ((0, "end_to_end"), (1, "per_layer")):
        res, detail = run(bench, workload, trace)
        if set(res) != {"correct", "attempted", "failed", "metrics"}:
            raise AssertionError(f"{workload}: result keys {sorted(res)}")
        if not res["correct"] or res["failed"] or res["attempted"] < 1:
            raise AssertionError(f"{workload}: outputs wrong: {detail['detail']['errors']}")
        want = {m["name"]: m["unit"] for m in bench[section]}
        got = {k: v.get("unit") for k, v in res["metrics"].items()}
        if got != want:
            raise AssertionError(f"{workload} trace={trace}: metrics/units {got} != {want}")
        for k, v in res["metrics"].items():
            if not isinstance(v["value"], (int, float)):
                raise AssertionError(f"{workload}: {k} is not a number")
        if trace:
            if not detail["detail"]["nesting_ok"]:
                raise AssertionError(f"{workload}: spans do not nest")
            cov = res["metrics"]["trace.coverage_min"]["value"]
            if cov < 0.95:
                raise AssertionError(
                    f"{workload}: layer self times cover only {cov:.3f} of an operation's wall time")
        print(f"ok {workload} trace={trace}", flush=True)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    names = sys.argv[1:] or [w["name"] for w in bench["workloads"]]
    for w in names:
        check(bench, w)
    return 0


if __name__ == "__main__":
    sys.exit(main())
