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
session   — SparkSession builder tuned for local[N] testing / cluster submit
synth     — deterministic synthetic transcript generator (seeded, skewed)
features  — vectorized per-turn signal packs (rewemo's physics-transform slot)
curves    — broadcast piecewise-linear curve lookup (np.interp semantics, J3)
gapfill   — regular-grid gap fill: linear / forward-fill + trailing pad (W1/W2)
rollup    — cascading continuous aggregates 1m→1h→1d, reaggregable stats (A6)
indicators— per-series indicator battery (A1/A2/A7)
codec     — dodblk/xorblk block codecs: delta-of-delta timestamps, XOR floats
chunks    — chunk blob encode/decode as grouped-map UDFs, salt-aware (skew)
lineage   — per-partition lineage + metrics rows; checkpoint/resume
textops   — dedup (exact/minhash/simhash/ngram), lang-id, quality, tokens
vecops    — embedding similarity: brute-force + LSH-bucketed cosine top-k
multimodal— opaque binary columns + stubbed decoders over mapInPandas
jobs      — end-to-end pipeline entry points (spark-submit friendly)
disagg    — daily→hourly disaggregation + per-day renormalization (W3/A8)
weights   — kNN weight tables, grid-snap NN join, coord normalization (J1/J2/F15/V3)
retention — per-tier TTL enforcement via partition-metadata expiry
export_emps — EMPS fixed-text sink: day×hour pivot + header block (S10)
"""

__version__ = "0.1.0"
