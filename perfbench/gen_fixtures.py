#!/usr/bin/env python3
"""Seeded trace-folder generator for the benchmark workloads.

Each workload is a folder of trace CSVs (unnamed integer index column =
timestamp, float metric columns) plus a `labels.csv`, the layout
`Sources.readAllTraces` / `Sources.readLabels` consume. The same
(workload, seed, scale) always writes the same bytes.

* folder1_batch -- the layout of scripts/e2e_compare/gen_folder1.py with
                   its window spans (ref 1900, gap 100, ano 1000 ticks)
                   over fewer traces and windows: traces of the 8-column
                   folder_1 schema with the same feature roles, windows
                   at a fixed period with ref [b, b+R), ano
                   [b+R+G, b+R+G+A], one window fewer on the last trace.
* stream_close  -- the same schema and roles over more traces whose
                   windows are offset from each other, so that window
                   closes are staggered in event time.

Usage: gen_fixtures.py WORKLOAD SEED OUT_DIR [--scale full|tiny]
"""
import argparse
import os

import numpy as np
import pandas as pd

ANO_TYPE = {"1": "bursty input", "2": "stalled input", "3": "CPU contention"}

# Shapes per scale. `full` is what the benchmark measures; `tiny` is the
# self-test's smoke size. Keys: traces, rows per trace, windows per trace,
# window period, ref span R, gap G, ano span A (ticks).
SHAPES = {
    "folder1_batch": {
        "full": dict(traces=2, rows=9300, windows=3, period=3100, ref=1900, gap=100, ano=1000),
        "tiny": dict(traces=2, rows=800, windows=2, period=400, ref=150, gap=10, ano=75),
    },
    "stream_close": {
        "full": dict(traces=4, rows=2400, windows=5, period=400, ref=150, gap=10, ano=75),
        "tiny": dict(traces=3, rows=800, windows=3, period=200, ref=60, gap=5, ano=30),
    },
}


def trace_ids(n):
    """1_1, 2_1, 3_1, 1_2, ...: every id starts with a known anomaly-type digit."""
    return [f"{1 + i % 3}_{i // 3 + 1}" for i in range(n)]


def folder1_columns(rng, t):
    """gen_folder1.py's eight feature roles."""
    n = len(t)
    f0 = 10 + rng.normal(0, 1, n)                 # separating: shifts in ano
    f1 = np.round(rng.normal(5, 2, n))            # quantized (duplicate runs)
    f2 = np.full(n, 7.0)                          # constant
    f3 = f0 * 2 + rng.normal(0, .3, n)            # correlated with f0
    f4 = rng.normal(50, 20, n)                    # noise
    f5 = t / 1000.0 + rng.normal(0, .5, n)        # ramp
    f6 = 10 * np.sin(t / 500.0) + rng.normal(0, 1, n)  # seasonal
    f7 = 20 + rng.normal(0, 2, n)                 # shifts in half the windows
    return {"f0": f0, "f1": f1, "f2": f2, "f3": f3,
            "f4": f4, "f5": f5, "f6": f6, "f7": f7}


def generate(workload, seed, out, scale="full"):
    shape = SHAPES[workload][scale]
    rng = np.random.default_rng([seed, list(SHAPES).index(workload)])
    os.makedirs(out, exist_ok=True)
    ids = trace_ids(shape["traces"])
    rows = []
    for ti, tr in enumerate(ids):
        t = np.arange(shape["rows"])
        cols = folder1_columns(rng, t)
        nw = shape["windows"]
        if workload == "folder1_batch" and tr == ids[-1]:
            nw -= 1  # gen_folder1.py: the last trace has one window fewer
        # stream_close: trace ti's windows start ti/traces of a period
        # later than trace 0's, so closes interleave across traces
        offset = ti * shape["period"] // shape["traces"] if workload == "stream_close" else 0
        for w in range(nw):
            base = offset + w * shape["period"]
            rs, re_ = base, base + shape["ref"]
            as_ = re_ + shape["gap"]
            ae = as_ + shape["ano"]
            assert ae < shape["rows"], "window runs past the trace"
            cols["f0"][as_:ae + 1] += 4         # mean shift in anomaly
            if w % 2 == 0:
                cols["f7"][as_:ae + 1] -= 6
            rows.append((tr, w, rs, re_, as_, ae, ANO_TYPE[tr[0]]))
        pd.DataFrame(cols).to_csv(f"{out}/{tr}.csv")
    lab = pd.DataFrame(rows, columns=["trace_id", "ano_id", "ref_start", "ref_end",
                                      "ano_start", "ano_end", "ano_type"])
    lab.to_csv(f"{out}/labels.csv")
    return len(ids), len(lab)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("workload", choices=sorted(SHAPES))
    ap.add_argument("seed", type=int)
    ap.add_argument("out")
    ap.add_argument("--scale", choices=["full", "tiny"], default="full")
    a = ap.parse_args()
    traces, windows = generate(a.workload, a.seed, a.out, a.scale)
    print(f"{a.workload}: {traces} traces, {windows} windows -> {a.out}")


if __name__ == "__main__":
    main()
