"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --workload sf0.1-floor --seeds 1-10

Runs the benchmark once per seed and prints, per end-to-end metric, the
median, the quartile distance as a share of the median (Python's
`statistics.quantiles(values, n=4)`), and that share as a fraction of the
metric's bound in BENCHMARK.json. Appends every run's line to
`.bench_out/spread-<workload>.jsonl`.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds_of(text):
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    a = ap.parse_args()
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    values = {m["name"]: [] for m in spec["end_to_end"]}
    os.makedirs(".bench_out", exist_ok=True)
    log = os.path.join(".bench_out", "spread-%s.jsonl" % a.workload)
    for seed in seeds_of(a.seeds):
        r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                            "--workload", a.workload, "--seed", str(seed),
                            "--seconds", str(spec["run_seconds"]), "--trace", "0"],
                           capture_output=True, text=True)
        if r.returncode != 0:
            sys.exit("seed %d failed:\n%s" % (seed, r.stderr[-2000:]))
        last = json.loads(r.stdout.strip().splitlines()[-1])
        with open(log, "a") as fh:
            fh.write(json.dumps(dict(last, seed=seed)) + "\n")
        for k in values:
            values[k].append(last["metrics"][k]["value"])
        print("seed %d correct=%s %s" % (seed, last["correct"], " ".join(
            "%s=%.4g" % (k, v[-1]) for k, v in values.items())), flush=True)
    for m in spec["end_to_end"]:
        v = values[m["name"]]
        med = statistics.median(v)
        q = statistics.quantiles(v, n=4) if len(v) > 1 else [med, med, med]
        share = (q[2] - q[0]) / med if med else float("nan")
        print("%-14s median %-12.6g iqr/median %.4f  (%.2f of bound %.2f)"
              % (m["name"], med, share, share / m["bound"], m["bound"]))


if __name__ == "__main__":
    main()
