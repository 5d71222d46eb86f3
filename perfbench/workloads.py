"""Workload definitions: which inputs each workload generates and which
`graft.SparkEntry.queries` calls one pass runs. Why each workload exists and
which layers it should and should not move: perfbench/README.md.

Each call is (query name, layer of its entry call, input tables it reads).
The layer names the module the entry call goes into (`api` for
FeatureCollection/KeyedFeatures, `scale` for Dedup/GroupedStats, `chunk` for
Chunker); it keys the per-layer build-time metrics. The tables give the
input rows the call reads, the numerator of `rows_per_s`.
"""

# Dataset shapes follow the TESTDATA schema (events, documents, lineitem).
# `days` and `users` shape the events stream; the per-user row count is
# events / users.
DATASETS = {
    "sf0.1": {"events": 100_000, "days": 30, "users": 1_500,
              "documents": 5_000},
    "10x": {"events": 1_000_000, "days": 300, "users": 15_000,
            "lineitem": 1_000_000},
    # sf0.001-sized twins for the self-test
    "sf0.1-tiny": {"events": 1_000, "days": 30, "users": 15, "documents": 60},
    "10x-tiny": {"events": 10_000, "days": 300, "users": 150,
                 "lineitem": 10_000},
}

# Window geometry of the strided core calls: 1 day windows with a 6 h stride.
WINDOW_H, STRIDE_H = 24, 6

EV, DOC, LI = "events", "documents", "lineitem"

WORKLOADS = {
    "sf0.1-floor": {
        "dataset": "sf0.1",
        "calls": [
            ("q01_roll_mean", "api", [EV]),
            ("q08_sample_windows", "api", [EV]),
            ("q13_two_series_bounds", "api", [EV]),
            ("q56_keyed_chunks", "chunk", [EV]),
            ("q88_strip_keep_first", "scale", [DOC]),
        ],
    },
    "10x-kernels": {
        "dataset": "10x",
        "calls": [
            ("q99a_catch22_dist", "api", [EV]),
            ("q105_tsfresh_comb", "api", [EV]),
        ],
    },
    # Not in BENCHMARK.json: a third workload does not fit the suite's time
    # budget on 4 cores. Kept runnable for traced one-off runs.
    "10x-keyed": {
        "dataset": "10x",
        "calls": [
            ("q72_keyed_multiwin", "api", [EV]),
            ("q64_keyed_consecutive", "api", [EV]),
            ("q56_keyed_chunks", "chunk", [EV]),
            ("q89_multi_quantiles", "scale", [LI]),
        ],
    },
}

DEFAULT_SEED = 1


def tables_of(workload):
    """Input tables a workload's calls read, in a fixed order."""
    seen = []
    for _, _, tabs in WORKLOADS[workload]["calls"]:
        for t in tabs:
            if t not in seen:
                seen.append(t)
    return seen
