#!/usr/bin/env python3
"""Build bench_ref.json — the committed idle-box CPU reference vector.

Usage: make_bench_ref.py OUT ARTIFACT [ARTIFACT...]

Takes the element-wise MIN of the per-query executor-CPU cells
(queries_cpu_warm, falling back to queries_cpu for slow-list-only
artifacts) across the given bench artifacts. Contention only ever
INFLATES CPU time, so the per-query minimum over committed runs is the
best available estimate of the code-true cost — no forensic
subtraction, just min over measurements. Provenance is recorded in the
output so the ref is reproducible from the repo's committed artifacts.
"""
import json
import sys


USAGE = "usage: make_bench_ref.py OUT ARTIFACT [ARTIFACT...]"


def main() -> None:
    args = sys.argv[1:]
    # an option-looking argument (`--help`) must not become the OUT path
    if len(args) < 2 or any(a.startswith("-") for a in args):
        print(USAGE, file=sys.stderr)
        sys.exit(2)
    out, *paths = args
    cpu: dict[str, float] = {}
    wall: dict[str, float] = {}
    used = []
    for p in paths:
        with open(p) as f:
            d = json.load(f)
        ncells = 0
        for dst, srcs in (
            (cpu, [d.get("queries_cpu_warm"), d.get("queries_cpu")]),
            (wall, [d.get("queries"), d.get("queries_minwarm")]),
        ):
            for cells in srcs:
                for q, c in (cells or {}).items():
                    if not isinstance(c, (int, float)) or c <= 0:
                        continue
                    if q not in dst or c < dst[q]:
                        dst[q] = round(float(c), 3)
                    ncells += 1
        used.append({"path": p, "cells": ncells})
    art = {
        "kind": "bench_reference",
        "method": "elementwise min of per-query executor-CPU (queries_cpu_warm)"
                  " and warm wall (queries) across artifacts",
        "sources": used,
        "queries_cpu_warm": dict(sorted(cpu.items())),
        "queries": dict(sorted(wall.items())),
    }
    with open(out, "w") as f:
        json.dump(art, f, indent=1)
    print(f"{out}: {len(cpu)} cpu / {len(wall)} wall cells "
          f"from {len(paths)} artifacts")


if __name__ == "__main__":
    main()
