"""Fast self-test of the benchmark: every workload at TPC-H sf0.001 with
the fewest ops, untraced and traced.

    python3 perfbench/selftest.py

Run from the repository root. It asserts that each run prints every
metric BENCHMARK.json names, with its unit, that the outputs checked out
(`correct`, no failed op, `fail_frac` 0), and that the per-layer spans of
the traced run cover at least 90 % of op time. Takes a few minutes.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# --seconds 0: the fewest ops a run takes (each workload's minimum, in whole blocks)
FEWEST = ["--seconds", "0"]


def run(workload, trace):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", "7", "--trace", str(trace)] + FEWEST,
                       cwd=ROOT, stdout=subprocess.PIPE, text=True)
    assert p.returncode == 0, f"{workload} trace={trace}: exit {p.returncode}"
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-2])["diagnostics"], json.loads(lines[-1])


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    for w in [x["name"] for x in spec["workloads"]]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            diag, res = run(w, trace)
            what = f"{w} trace={trace}"
            assert set(res) == {"correct", "attempted", "failed", "metrics"}, what
            assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, what
            assert diag["fail_frac"] == 0, what
            for m in spec[key]:
                got = res["metrics"].get(m["name"])
                assert got is not None, f"{what}: {m['name']} missing"
                assert got["unit"] == m["unit"], f"{what}: {m['name']} unit {got['unit']}"
                assert isinstance(got["value"], (int, float)), f"{what}: {m['name']}"
            if trace:
                assert diag["trace_coverage"] >= 0.9, f"{what}: coverage {diag['trace_coverage']}"
            print(f"ok {what}: {res['attempted']} ops, {len(res['metrics'])} metrics", flush=True)


if __name__ == "__main__":
    main()
