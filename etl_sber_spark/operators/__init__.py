"""Composite relational operators.

Reference-parity: SCD maintenance (scd), band joins (bandjoin), as-of /
range joins (asof, rangejoin), skew handling (skew), data-quality gates
(quality).

LLM training-data pipeline: text dedup (dedup), batched model
inference (inference), embedding similarity + semantic dedup
(similarity, quantize, semdedup) and its persisted-index increment
(semindex), versioned ANN index artifacts — build-at-ingest vs
search-only (annindex), dedup clustering + soft weights (components),
curation and its incremental/crawl front-ends (curate, incremental,
crawl), crawl-authority ranking (pagerank), supervised quality
classifier (classifier), DSIR importance weighting (dsir), sampling
(sampling), chunking/packing (packing), ranking (ranking), multimodal
plumbing (multimodal).

Event analytics: sessionization (sessionize), resampling with gap
filling (timeseries).

Shared infrastructure: materialize.pin (localCheckpoint-backed reuse),
spread (compute-bound fan-out past byte-based split planning).
"""
