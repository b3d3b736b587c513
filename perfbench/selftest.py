"""Small-size self-test of the benchmark.

    python3 perfbench/selftest.py [workload ...]

For each workload (default: all, including any not listed in
BENCHMARK.json) it runs ``run.py --size small`` twice untraced and once
traced, and checks that every end-to-end and per-layer metric is
printed with its unit, that every oracle passed, and that
``jobs_per_call`` and ``shuffle_write_mb`` repeat exactly across the two
untraced runs. Exits non-zero on the first failed check.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.run import END_TO_END, per_layer_units  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

REPEATED_EXACTLY = ("jobs_per_call", "shuffle_write_mb")


def run(workload: str, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--size", "small"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"{workload}: run.py exited {p.returncode}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def check_result(workload: str, res: dict, units: dict) -> None:
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        raise SystemExit(f"{workload}: result keys {sorted(res)}")
    if not res["correct"] or res["failed"] or res["attempted"] < 1:
        raise SystemExit(f"{workload}: oracle check failed: {res['failed']} of {res['attempted']}")
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    if got != units:
        missing = sorted(set(units) - set(got))
        extra = sorted(set(got) - set(units))
        raise SystemExit(f"{workload}: metrics differ; missing {missing}, unexpected {extra}")


def main(argv: list[str]) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    listed_e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    listed_layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    if listed_e2e != END_TO_END or listed_layer != per_layer_units():
        raise SystemExit("BENCHMARK.json metric names or units differ from run.py")
    for workload in argv or sorted(WORKLOADS):
        first, second = run(workload, 0), run(workload, 0)
        for res in (first, second):
            check_result(workload, res, END_TO_END)
        for name in REPEATED_EXACTLY:
            a, b = first["metrics"][name]["value"], second["metrics"][name]["value"]
            if a != b:
                raise SystemExit(f"{workload}: {name} not repeatable: {a} vs {b}")
        check_result(workload, run(workload, 1), per_layer_units())
        print(f"{workload}: ok ({first['attempted']} + {second['attempted']} operations; "
              + ", ".join(f"{n}={first['metrics'][n]['value']:g}" for n in REPEATED_EXACTLY) + ")",
              flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
