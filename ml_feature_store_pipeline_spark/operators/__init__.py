"""Relational + training-data operators, all expressed as DataFrame plans.

Modules:

- ``joins``      — semi/anti joins, point-in-time as-of join, range (band)
                   join, bucketized interval join
- ``windows``    — top-n per group, gap-based sessionization
- ``dedup``      — exact, MinHash+LSH, SimHash, n-gram Jaccard near-dup
- ``similarity`` — brute-force cosine top-k, LSH-bucketed ANN
- ``text``       — tokenization, language id, quality scoring, fingerprints
- ``multimodal`` — binary-column plumbing with real dependency-free codecs
- ``graph``      — fixed-point PageRank (bit-exact unrolled oracle)
- ``drift``      — PSI/JSD/KS drift, entropy, MI, anomaly profile, Gini
- ``sketches``   — KMV (+ set ops), CMS, histogram quantiles, bloom
- ``fe``         — binning/encoding/scaling/EWMA/calendar features
- ``sampling``   — deterministic samples, splits, A/B assignment, negatives
- ``cdc``/``pit``/``incremental``/``layout``/``selection``/``mlfeatures``/
  ``profile``/``skew`` — merge, point-in-time, state, training shards, curation,
  MLlib bridges, table profiling, two-stage distinct
"""
