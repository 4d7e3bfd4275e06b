"""tsengine — a from-scratch PySpark-native time-series rollup + downsample +
retention engine.

Built in the spirit of sintefenergy/rewemo's per-grid-cell energy-series
pipeline (see SURVEY.md for the full file:line mapping), re-expressed
Spark-first: per-`conv_id` turn streams of conversation transcripts play the
role of rewemo's per-cell weather series
(`src/rewemo/ncep_reanalysis/wind.py:170-174` in the reference).

Modules
-------
schema    — explicit StructTypes for every table (FIXTURES.md)
session   — SparkSession builder tuned for local[N] testing / cluster submit;
            sorted_batch_apply, the one per-series execution primitive
env_tuning— interpreter workarounds: numpy SIMD dispatch, zip re-reads per task
synth     — deterministic synthetic transcript generator (seeded, skewed)
features  — vectorized per-turn signal packs (rewemo's physics-transform slot)
solar     — solar-geometry and irradiance signal pack (F1-F12)
curves    — broadcast piecewise-linear curve lookup (np.interp semantics, J3)
gapfill   — regular-grid gap fill: linear / forward-fill + trailing pad (W1/W2)
rollup    — cascading continuous aggregates 1m→1h→1d, reaggregable stats (A6)
sketches  — reaggregable distinct-count sketch (deterministic HyperLogLog)
indicators— per-series indicator battery (A1/A2/A7)
rolling   — RANGE-window aggregates, visual downsampling, staleness
temporal  — as-of join, sessionization, counter rates, carried recursions
chunked   — bounded-memory names for temporal's carried recursions
anomaly   — MAD outlier scoring, lagged cross-metric correlation
complexity— entropy, stationarity and randomness diagnostics per series
codec     — dodblk/xorblk block codecs: delta-of-delta timestamps, XOR floats
chunks    — chunk blob encode/compact through sorted_batch_apply and decode
            through mapInPandas, salt-aware (skew)
tables    — bucket+day partitioned table layout (Iceberg-compatible fallback)
lineage   — per-partition lineage + metrics rows; checkpoint/resume
streaming — Structured-Streaming maintenance of the 1m tier
validate  — ingest validation as one aggregation into a violations report
textops   — dedup (exact/minhash/simhash/ngram), lang-id, quality, tokens
vecops    — embedding similarity: brute-force + LSH-bucketed cosine top-k
multimodal— opaque binary columns + stubbed decoders over mapInPandas
jobs      — end-to-end pipeline entry points (spark-submit friendly)
disagg    — daily→hourly disaggregation + per-day renormalization (W3/A8)
weights   — kNN weight tables, grid-snap NN join, coord normalization (J1/J2/F15/V3)
retention — per-tier TTL enforcement via partition-metadata expiry
export_emps — EMPS fixed-text sink: day×hour pivot + header block (S10)
entry_queries — driver-contract registry: (Spark callable, SQL oracle) pairs
"""

from tsengine.env_tuning import stabilize_zip_imports

__version__ = "0.1.0"

# here, not in session: a Python worker imports the package when it
# unpickles an engine UDF, whoever launched it (see env_tuning.py)
stabilize_zip_imports()
