package graft

/**
 * Data model of the engine (SURVEY.md §1). Four logical tables flow through
 * the pipeline; the central one is the long-format windowed observation
 * table — the Spark-native replacement for the reference's wide
 * composite-string-indexed pandas frames
 * (`/root/reference/utils/get_data.py:56-106`).
 */

/**
 * Pipeline configuration mirroring `script_1.py:257-261` plus the
 * quirk-mode switches documented in SURVEY.md §4a.
 *
 * @param cluster enable correlation-cluster feature dedup (step 1)
 * @param correlationThreshold |corr| above which two features are clustered
 * @param falsePositiveFiltering enable subsequence-match FP filter (step 2)
 * @param maxDistance z-normalized distance threshold for a "match"
 *                    (`script_1.py:261`; notebook uses 28.0/30.0)
 * @param matchCountKeep keep a feature iff its pattern matches the
 *                       reference series at most this many times
 *                       (`false_positive_filtering.py:42`; notebook: 1)
 * @param applyWorstCase apply the worst-case tied-run label rewrite before
 *                       segmentation entropy. `true` = notebook intent
 *                       (`testing.ipynb` cell 8); `false` = the committed
 *                       script, whose duplicate detection never fires
 *                       (`entropy_...py:63-65` operates on a Series)
 * @param patternFromRefWindow `true` reproduces `script_1.py:65-66`, which
 *                       passes the anomaly's REFERENCE window as the match
 *                       pattern; `false` uses the anomaly window (the
 *                       documented intent of `false_positive_filtering.py`)
 * @param instabilityRounds number of 80% resample re-runs (`script_1.py:227`)
 * @param sampleFraction resample fraction (`script_1.py:228-229`)
 * @param seed seed for the resamples — the reference is unseeded
 *             (SURVEY §4a quirk 7); we are deterministic by default
 */
case class ExstreamConfig(
    cluster: Boolean = false,
    correlationThreshold: Double = 0.6,
    falsePositiveFiltering: Boolean = false,
    maxDistance: Double = 40.0,
    matchCountKeep: Int = 5,
    applyWorstCase: Boolean = true,
    patternFromRefWindow: Boolean = true,
    instabilityRounds: Int = 5,
    sampleFraction: Double = 0.8,
    seed: Long = 42L)
