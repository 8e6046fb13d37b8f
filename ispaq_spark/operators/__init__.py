"""Distributed operators beyond the reference's own set: exact and
MinHash-LSH dedup (`curate_corpus` runs it), connected components,
hyperplane-LSH similarity buckets and the BPE pair statistics.
driver_queries.py certifies each one against a DuckDB oracle."""
