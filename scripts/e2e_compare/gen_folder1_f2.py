#!/usr/bin/env python3
"""folder_1-SCALE 12-column fixture (r9 verdict #8): the traces_f2
dynamic-schema shape (explore_data.ipynb cell 9's regenerated wide
schema) at the folder_1 data scale — 6 traces x 45,000 rows x 12 float64
metric columns, 29 labeled windows (the gen_folder1.py window layout).
PipelineF2Spec proves the 12-column path at fixture scale; this fixture
is for the at-scale parity + wall-clock row in BASELINE.md
(ref_driver.py with E2E_DATA=/tmp/folder1scale_f2 vs the engine's
`constructExplanations` on the same path).

Behavioral roles mirror gen_f2_fixture.py: a separating feature, a
quantized feature, a constant, a correlated twin, noise/ramp/seasonal
columns, plus a SECOND separating feature and a second correlated pair
among the four extra columns, so the wider schema changes answers, not
just shape. Seeded -> both engines see identical bytes.
"""
import numpy as np, pandas as pd, os

rng = np.random.default_rng(1442)
out = "/tmp/folder1scale_f2"
os.makedirs(out, exist_ok=True)
N = 45000
traces = ["1_1", "1_2", "2_1", "2_2", "3_1", "3_2"]

COLS = [
    "driver_StreamingMetrics_streaming_lastCompletedBatch_processingDelay_value",
    "driver_StreamingMetrics_streaming_lastCompletedBatch_schedulingDelay_value",
    "driver_StreamingMetrics_streaming_lastReceivedBatch_records_value",
    "driver_BlockManager_memory_memUsed_MB_value",
    "driver_jvm_heap_used_value",
    "driver_StreamingMetrics_streaming_totalCompletedBatches_value_1_diff",
    "avg_jvm_heap_used_value",
    "avg_executor_filesystem_hdfs_write_ops_value_1_diff",
    "avg_executor_cpuTime_count_1_diff",
    "avg_executor_runTime_count_1_diff",
    "avg_executor_shuffleRecordsRead_count_1_diff",
    "avg_executor_shuffleRecordsWritten_count_1_diff",
]

rows = []
for ti, tr in enumerate(traces):
    t = np.arange(N)
    sep = 10 + rng.normal(0, 1, N)                    # separating: shifts in ano
    noise1 = rng.normal(30, 5, N)                     # noise
    quant = np.round(rng.normal(5, 2, N))             # quantized (duplicate runs)
    const = np.full(N, 7.0)                           # constant
    heap = 100 + rng.normal(0, 3, N)                  # base of correlated pair 1
    ramp = t / 1000.0 + rng.normal(0, .5, N)          # ramp
    heap_avg = heap * 2 + rng.normal(0, .3, N)        # correlated with heap
    season = 10 * np.sin(t / 500.0) + rng.normal(0, 1, N)  # seasonal
    cpu = 50 + rng.normal(0, 4, N)                    # base of correlated pair 2
    run = cpu * 1.5 + rng.normal(0, .4, N)            # correlated with cpu
    sep2 = 20 + rng.normal(0, 2, N)                   # shifts in half the windows
    noise2 = rng.normal(80, 10, N)                    # noise
    nw = 5 if tr != "3_2" else 4
    for w in range(nw):
        base = w * 9000
        rs, re_, as_, ae = base, base + 1900, base + 2000, base + 3000
        sep[as_:ae + 1] += 4
        if w % 2 == 0:
            sep2[as_:ae + 1] -= 6
        rows.append((tr, w, rs, re_, as_, ae,
                     {"1": "bursty input", "2": "stalled input",
                      "3": "CPU contention"}[tr[0]]))
    df = pd.DataFrame(dict(zip(COLS, [
        sep, noise1, quant, const, heap, ramp, heap_avg, season,
        cpu, run, sep2, noise2])))
    df.to_csv(f"{out}/{tr}.csv")

lab = pd.DataFrame(rows, columns=["trace_id", "ano_id", "ref_start", "ref_end",
                                  "ano_start", "ano_end", "ano_type"])
lab.to_csv(f"{out}/labels.csv")
print("traces:", len(traces), "windows:", len(lab), "rows/trace:", N, "cols:", len(COLS))
