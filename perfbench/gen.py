"""Seeded input generator.

Writes one dataset (events, documents, lineitem — the TESTDATA schema) per
(dataset, seed) under `.bench_cache/` in the working directory and reuses it
on later runs with the same seed. The same seed gives the same tables.

The events stream is built as time-shifted blocks, the way `graft.ScaleData`
replicates sf0.1: block k covers days [30k, 30k + 30) and owns its own 1,500
users, so a 10-block dataset is one 300-day series and 15,000 short per-user
series at once.
"""

import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from workloads import DATASETS, STRIDE_H, WINDOW_H

CACHE_DIR = ".bench_cache"
CACHE_KEEP = 12
EPOCH_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
DAY_US = 86_400_000_000
BLOCK_DAYS = 30
EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
VOCAB = np.array(
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch".split())
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


def _events(rng, spec):
    n, days, users = spec["events"], spec["days"], spec["users"]
    blocks = days // BLOCK_DAYS
    per_block, users_per_block = n // blocks, users // blocks
    ts, uid = [], []
    for k in range(blocks):
        off = rng.integers(0, BLOCK_DAYS * DAY_US, per_block)
        off.sort()
        ts.append(EPOCH_US + k * BLOCK_DAYS * DAY_US + off)
        uid.append(k * users_per_block + rng.integers(0, users_per_block, per_block))
    ts = np.concatenate(ts)
    rows = len(ts)
    table = pa.table({
        "event_id": pa.array(np.arange(rows, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(np.concatenate(uid).astype(np.int64)),
        "event_type": pa.array(EVENT_TYPES[rng.integers(0, 5, rows)]),
        "value": pa.array(np.round(rng.exponential(50.0, rows), 2)),
        "props": pa.array(['{"k": %d}' % k for k in rng.integers(0, 100, rows)]),
    })
    return table, per_block


def _documents(rng, spec):
    n = spec["documents"]
    lens = rng.integers(10, 101, n)
    words = [VOCAB[rng.integers(0, len(VOCAB), m)] for m in lens]
    texts = [" ".join(w) for w in words]
    # near duplicates: a long prefix of an earlier document plus a marker
    # word; exact duplicates: a verbatim copy of an earlier document
    picks = rng.choice(np.arange(1, n), size=n // 20 + n // 600, replace=False)
    near, exact = picks[: n // 20], picks[n // 20:]
    for i in near:
        src = words[rng.integers(0, i)]
        keep = rng.integers(max(1, int(len(src) * 0.6)), len(src) + 1)
        texts[i] = " ".join(src[:keep]) + " dup"
    for i in exact:
        texts[i] = texts[rng.integers(0, i)]
    ids = np.arange(n, dtype=np.int64)
    table = pa.table({
        "doc_id": pa.array(ids),
        "text": pa.array(texts),
        "lang": pa.array(LANGS[rng.choice(5, n, p=LANG_P)]),
        "source": pa.array(["src%d" % (i % 20) for i in ids]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    return table, n


def _lineitem(rng, spec):
    n = spec["lineitem"]
    qty = rng.integers(1, 51, n).astype(np.float64)
    price = np.round(qty * rng.uniform(900.0, 2000.0, n), 2)
    ship = (694_224_000_000_000 + rng.integers(0, 2_400 * DAY_US, n))
    table = pa.table({
        "l_orderkey": pa.array((np.arange(n) // 4 + 1).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(1, 20_001, n).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(1, 1_001, n).astype(np.int64)),
        "l_linenumber": pa.array((np.arange(n) % 4 + 1).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(price),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
        "l_linestatus": pa.array(np.array(["O", "F"])[rng.integers(0, 2, n)]),
        "l_shipdate": pa.array(ship, type=pa.timestamp("us")),
    })
    return table, n // 10


MAKERS = {"events": _events, "documents": _documents, "lineitem": _lineitem}
# Separate streams per table: adding a table never changes another's rows.
STREAM = {"events": 1, "documents": 2, "lineitem": 3}


def dataset_dir(dataset, seed):
    return os.path.join(CACHE_DIR, "%s-seed%d" % (dataset, seed))


def _evict(keep_dir):
    dirs = [os.path.join(CACHE_DIR, d) for d in os.listdir(CACHE_DIR)]
    dirs = sorted((d for d in dirs if os.path.isdir(d) and d != keep_dir),
                  key=os.path.getmtime)
    for d in dirs[: max(0, len(dirs) + 1 - CACHE_KEEP)]:
        shutil.rmtree(d, ignore_errors=True)


def _sizes(dataset, tables, out):
    """Input sizes of the generated tables: rows, keys, days, windows."""
    spec = DATASETS[dataset]
    sizes = {}
    for t in tables:
        sizes[t + ".rows"] = pq.ParquetFile(os.path.join(out, t + ".parquet")).metadata.num_rows
    if "events" in tables:
        ts = pq.read_table(os.path.join(out, "events.parquet"), columns=["ts"])["ts"]
        span = (ts[-1].value - ts[0].value)
        w, s = WINDOW_H * 3_600_000_000, STRIDE_H * 3_600_000_000
        sizes.update({"events.keys": spec["users"], "events.days": spec["days"],
                      "events.windows_1D_6h": max(0, (span - w) // s + 1),
                      "events.fanout_1D_6h": WINDOW_H // STRIDE_H})
    if "lineitem" in tables:
        supp = pq.read_table(os.path.join(out, "lineitem.parquet"), columns=["l_suppkey"])
        sizes["lineitem.keys"] = len(supp["l_suppkey"].unique())
    return sizes


def generate(dataset, seed, tables):
    """Make sure `tables` of (dataset, seed) exist.

    Returns (directory, seconds spent generating, tables generated now,
    input sizes)."""
    os.makedirs(CACHE_DIR, exist_ok=True)
    out = dataset_dir(dataset, seed)
    os.makedirs(out, exist_ok=True)
    t0 = time.perf_counter()
    made = []
    for t in tables:
        path = os.path.join(out, t + ".parquet")
        if os.path.exists(path):
            continue
        rng = np.random.default_rng([seed, STREAM[t]])
        # events: one row group per 30-day block, so Spark splits the scan
        # the way it splits ScaleData's per-copy files
        table, rows_per_group = MAKERS[t](rng, DATASETS[dataset])
        tmp = path + ".tmp%d" % os.getpid()
        pq.write_table(table, tmp, row_group_size=rows_per_group)
        os.replace(tmp, path)
        made.append(t)
    gen_s = time.perf_counter() - t0
    os.utime(out)
    _evict(out)
    return out, gen_s, made, _sizes(dataset, tables, out)

