"""Distributed operators beyond the reference's own set: exact and
MinHash-LSH dedup (`curate_corpus` runs it) and connected components.
driver_queries.py certifies each one against a DuckDB oracle."""
