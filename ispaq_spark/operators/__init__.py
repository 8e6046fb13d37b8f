"""Reusable distributed operators beyond the reference's own set — the
training-data-pipeline layer (dedup, similarity search, windows) that makes
the engine useful at 100 TB. Each operator is pure DataFrame composition;
driver_queries.py certifies them against DuckDB oracles."""
