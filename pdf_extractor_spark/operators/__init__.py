"""Operator library: SURVEY.md §2 inventory as (Spark builder, DuckDB oracle) pairs.

Modules:
    relational.py  — scans/filters/joins/aggs/windows/sorts/set-ops/scalar fns
    dedup.py       — exact, MinHash-LSH, SimHash, n-gram Jaccard, winnowing,
                     line and substring-span dedup, snapshot-incremental dedup
    similarity.py  — brute-force, LSH, trained-IVF and PQ cosine ANN plus
                     embedding near-dup over embeddings
    textstats.py   — language-ID, quality scoring, token counts, fingerprints
    curation.py    — decontamination, PII redaction, sampling, packing, host graph
    registry.py    — the merged name → Op map consumed by __spark_entry__.py
"""
