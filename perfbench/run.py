"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload ingest|fold|reads --seed N \
        --seconds S --trace 0|1

Run from the repository root. The first run builds the program from
source (see build.py). The Scala program (perfbench/src) sets up the
workload's fixture from the seed, measures ops in a closed loop for S
seconds, checks the program's outputs, and reports every metric with
its unit. With --trace 0 the result carries the end-to-end metrics of
BENCHMARK.json, with --trace 1 its per-layer metrics. The line before
the result holds diagnostics: the seed, fail_frac, the tail percentile
and its sample count, the CPU calibration times and the trace coverage.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402

DEADLINE_S = 170


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=["ingest", "fold", "reads"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = p.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    wanted = spec["per_layer" if a.trace else "end_to_end"]

    cp, archive = build.build()
    work = os.path.join(ROOT, ".bench_build", "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java"] + build.jvm_options(os.path.join(work, "tmp")) + archive
           + ["-cp", cp, "graft.perfbench.Main", "--workload", a.workload,
              "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--work", work])
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr,
                            start_new_session=True, text=True)
    try:
        out, _ = proc.communicate(timeout=DEADLINE_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit("benchmark JVM timed out")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0:
        raise SystemExit(f"benchmark JVM failed (exit {proc.returncode})")
    lines = [l for l in out.splitlines() if l.startswith("PERFBENCH ")]
    if not lines:
        raise SystemExit("benchmark JVM printed no result")
    res = json.loads(lines[-1][len("PERFBENCH "):])
    got = res["per_layer" if a.trace else "end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in got]
    if missing:
        raise SystemExit(f"metrics missing from the run: {missing}")
    for m in wanted:
        if got[m["name"]]["unit"] != m["unit"]:
            raise SystemExit(f"unit of {m['name']} is {got[m['name']]['unit']}, not {m['unit']}")
    print(json.dumps({"diagnostics": res["diagnostics"]}))
    print(json.dumps({
        "correct": res["correct"], "attempted": res["attempted"], "failed": res["failed"],
        "metrics": {m["name"]: got[m["name"]] for m in wanted},
    }))


if __name__ == "__main__":
    main()
