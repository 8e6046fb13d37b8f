"""Metric math as Spark stages — the graft of IRISMustangMetrics' R metric
library (SURVEY.md §2.4/§2.6) into Catalyst column expressions (the scrub
and the keep decision) and one Arrow-batched pandas UDF for per-string work
(extraction.py: HTML extraction, LM and langid scoring, and the heuristic
metrics, which heuristics.with_heuristics runs on its own too, beside the
stopword vote)."""
