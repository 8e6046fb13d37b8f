"""Metric math as Spark stages — the graft of IRISMustangMetrics' R metric
library (SURVEY.md §2.4/§2.6) into Catalyst column expressions (fast path)
and one Arrow-batched pandas UDF for what built-ins genuinely can't express
(extraction.py: HTML extraction, LM and langid scoring)."""
