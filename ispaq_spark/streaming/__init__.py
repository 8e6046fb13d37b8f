"""The batch pipeline as a Structured Streaming query (stream_pipeline.py:
the same stages over a file-source stream, plus a watermarked daily
rollup). SURVEY.md §2.8: the reference is strictly daily batch; its day
loop is micro-batch-shaped, so the streaming build is
window(warc_ts, '1 day') + watermark."""
