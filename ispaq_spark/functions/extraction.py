"""The pipeline's one Arrow stage: html -> extraction + model scores.

Graft slot: mergeTraces gap-fill — the cleaning step that turns raw stored
bytes into the analyzable signal (IRISSeismic/R/Class-Stream.R:583-700,
driven from ispaq/irisseismic.py:292-378) — plus the business-logic
function that produces every metric its group owns in one call
(ispaq/simple_metrics.py:146-239). The byte-identical-per-url contract
(BASELINE.json input_hint) is enforced by wrapping the *reference
implementation itself* (reference_impl.extract_text, perplexity,
score_langid) instead of re-implementing it: one code path, two callers.

This is inherently per-string work no Catalyst builtin expresses, so it is
the sanctioned pandas-UDF slow path — Arrow-batched, never row-at-a-time,
and crossed once per pipeline: every Python-computed column comes out of
the same batch.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from ..reference_impl import extract_text, perplexity, score_langid

# Every column the stage can produce, in output order, with its type.
ARROW_COLUMNS = {
    "extracted_text": "string",
    "perplexity": "double",
    "pred_lang": "string",
    "lang_conf": "double",
}


def arrow_stage_udf(
    spark,
    columns,
    model: dict[int, float] | None = None,
    lid_model: dict | None = None,
):
    """pandas UDF html -> struct of the requested ``columns`` (a subset of
    ARROW_COLUMNS). Extraction always runs, since every score reads the
    extracted text; the LM and the langid model are broadcast and scored
    only when one of their columns is requested."""
    cols = [c for c in ARROW_COLUMNS if c in columns]
    want_ppl = "perplexity" in cols
    want_lid = "pred_lang" in cols or "lang_conf" in cols
    sc = spark.sparkContext
    bcast = sc.broadcast(model) if want_ppl else None
    bcast_lid = sc.broadcast(lid_model) if want_lid else None

    @F.pandas_udf(", ".join(f"{c} {ARROW_COLUMNS[c]}" for c in cols))
    def stage(html: pd.Series) -> pd.DataFrame:
        # html arrives as a Series of bytes/None (Arrow binary); extract_text
        # returns None for undecodable bytes and every score keeps None.
        texts = html.map(extract_text)
        out = {"extracted_text": texts}
        if want_ppl:
            m = bcast.value  # unpickled once per Python worker
            out["perplexity"] = texts.map(
                lambda t: perplexity(t, m) if t is not None else None
            )
        if want_lid:
            lid = bcast_lid.value
            scored = [
                score_langid(t, lid) if t is not None else (None, None)
                for t in texts
            ]
            out["pred_lang"] = [p for p, _ in scored]
            out["lang_conf"] = [c for _, c in scored]
        return pd.DataFrame({c: out[c] for c in cols})

    return stage
