"""Corpus operators outside the snapshot engine: dedup, similarity
search and k-means/PQ, text analysis, sketches, curation
(sampling/packing/scrubbing/decontamination) and pure-numpy media
decode.

Nothing in the engine, the CLI or the benchmark imports this package.
It is left from an earlier corpus-pipeline scope and is being deleted
one module group at a time, leaves first (ROADMAP open item 5).
"""
