"""ispaq_spark — a PySpark-native web-text quality-filter analytics engine.

A brand-new engine with the *capabilities* of EarthScope/ispaq (named metric
sets -> per-target metric columns -> quality decision, driven by declarative
config), re-expressed Spark-first for Common-Crawl-style web pages:

    pages(url, warc_ts, html, text, lang)
      -> one Arrow stage (extraction, langid, perplexity, heuristics)
      -> scrub
      -> keep/drop + lineage rollups -> idempotent sink

Architecture map (reference file:line -> here):
  * metric-set registry (ispaq/user_request.py:470-488)  -> ispaq_spark.registry
  * request parsing + expediter (ispaq/concierge.py)     -> ispaq_spark.request
  * per-group business logic (ispaq/simple_metrics.py)   -> ispaq_spark.pipeline
  * metric math (IRISMustangMetrics R pkg)               -> ispaq_spark.functions
  * CSV/SQLite sink w/ upsert (ispaq/utils.py:157-272)   -> ispaq_spark.sinks
  * training-data layer (dedup/components)               -> ispaq_spark.operators
  * composed corpus-curation recipe                      -> ispaq_spark.curation
Everything is DataFrame/Catalyst-first; Python appears only in Arrow-batched
pandas UDFs (no per-row Python on the hot path).
"""

__version__ = "0.1.0"
