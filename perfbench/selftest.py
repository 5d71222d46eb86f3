"""Self-test of the benchmark: a tiny traced run of every workload.

    python3 perfbench/selftest.py

Runs each workload on sf0.001-sized inputs with `--trace 1` and asserts that
  - every end-to-end and per-layer metric in BENCHMARK.json prints by name
    with its unit,
  - `failed_frac` is 0,
  - each traced call's build + execute spans lie within its measured wall.
Exits 1 on the first failed assertion.
"""

import json
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from workloads import WORKLOADS  # noqa: E402

SEED = 7


def fail(msg):
    print("SELFTEST FAILED: " + msg)
    sys.exit(1)


def main():
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    for w in WORKLOADS:
        r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                            "--workload", w, "--seed", str(SEED), "--seconds", "0",
                            "--trace", "1", "--tiny"],
                           capture_output=True, text=True, timeout=600)
        if r.returncode != 0:
            fail("%s exited %d:\n%s" % (w, r.returncode, r.stderr[-3000:]))
        lines = r.stdout.strip().splitlines()
        last = json.loads(lines[-1])
        for m in spec["end_to_end"]:
            pat = r"^%s\s+\S+\s+%s$" % (re.escape(m["name"]), re.escape(m["unit"]))
            if not any(re.match(pat, ln) for ln in lines):
                fail("%s: end-to-end metric %s (%s) not printed" % (w, m["name"], m["unit"]))
        want = {m["name"]: m["unit"] for m in spec["per_layer"]}
        got = {k: v["unit"] for k, v in last["metrics"].items()}
        if got != want:
            fail("%s: per-layer metrics differ: %s" % (w, sorted(set(got.items()) ^ set(want.items()))))
        if not last["correct"] or last["failed"] or not re.search(
                r"^failed_frac 0\.0000 frac", r.stdout, re.M):
            fail("%s: failed calls:\n%s" % (w, r.stdout))
        tag = "%s-seed%d-trace1" % (w, SEED)
        with open(os.path.join(".bench_out", "result-%s.json" % tag)) as fh:
            calls = [c for c in json.load(fh)["calls"] if c["traced"]]
        with open(os.path.join(".bench_out", "trace-%s.json" % tag)) as fh:
            spans = json.load(fh)
        by_parent = {}
        for s in spans:
            by_parent.setdefault(s["parent"], []).append(s)
        passes = {s["id"]: int(s["name"][1:]) for s in spans if s["kind"] == "pass"}
        checked = 0
        for s in spans:
            if s["kind"] != "call":
                continue
            wall = next(c["wall_s"] for c in calls
                        if c["call"] == s["name"] and c["pass"] == passes[s["parent"]])
            inner = sum(k["end_ms"] - k["start_ms"] for k in by_parent.get(s["id"], [])
                        if k["kind"] in ("build", "execute")) / 1e3
            if not 0 < inner <= wall:
                fail("%s %s: traced build+execute %.4fs outside measured wall %.4fs"
                     % (w, s["name"], inner, wall))
            checked += 1
        if checked != len(calls):
            fail("%s: %d traced calls but %d call spans" % (w, len(calls), checked))
        print("ok %s: %d metrics, %d traced calls within their wall"
              % (w, len(want) + len(spec["end_to_end"]), checked))
    print("SELFTEST OK")


if __name__ == "__main__":
    main()
