"""The pipeline's one Arrow stage: html -> extraction, model scores and
heuristic metrics.

Graft slot: mergeTraces gap-fill — the cleaning step that turns raw stored
bytes into the analyzable signal (IRISSeismic/R/Class-Stream.R:583-700,
driven from ispaq/irisseismic.py:292-378) — plus the business-logic
function that produces every metric its group owns in one call
(ispaq/simple_metrics.py:146-239). The byte-identical-per-url contract
(BASELINE.json input_hint) is enforced by wrapping the *reference
implementation itself* (reference_impl.extract_text, perplexities,
score_langid, heuristic_metrics) instead of re-implementing it: one code
path, two callers.

This is inherently per-string work no Catalyst builtin expresses, so it is
the sanctioned pandas-UDF slow path — Arrow-batched, never row-at-a-time,
and crossed once per pipeline: every Python-computed column comes out of
the same batch, and the LM scores the whole batch in one numpy call. The
heuristic metrics ride the same crossing, since their text is already in
the batch: one call per text yields all eight (heuristic_batch, which
functions/heuristics.with_heuristics runs too). Like ispaq's metric
catalog, looked up once and then called per target-day
(ispaq/user_request.py:470-488), the UDF and its model broadcasts are made
once per session and models, not once per job."""

from __future__ import annotations

import hashlib
import pickle
import sys
import zipimport

import pandas as pd
from pyspark.sql import functions as F

from ..reference_impl import (
    NgramLM,
    extract_text,
    heuristic_metrics,
    perplexities,
    score_langid,
)
from ..session import session_memo, session_state

# The columns of reference_impl.heuristic_metrics, with their types.
HEURISTIC_COLUMNS = {
    "word_count": "bigint",
    "mean_word_len": "double",
    "max_word_len": "bigint",
    "stopword_ratio": "double",
    "symbol_word_ratio": "double",
    "dup_5gram_frac": "double",
    "num_pii": "bigint",
    "num_tox": "bigint",
}

# Every column the stage can produce, in output order, with its type.
ARROW_COLUMNS = {
    "extracted_text": "string",
    "perplexity": "double",
    "pred_lang": "string",
    "lang_conf": "double",
    **HEURISTIC_COLUMNS,
}


def _drop_zip_finders() -> None:
    """Delete every ``zipimport.zipimporter`` from ``sys.path_importer_cache``.

    At the start of every task PySpark's worker
    (``pyspark.worker_util.setup_spark_files``) calls
    ``importlib.invalidate_caches()``. On CPython 3.11 that makes every
    cached ``zipimporter`` re-read its archive's whole central directory in
    pure Python, and a reused worker holds one such finder per package
    directory it imported from ``pyspark.zip`` (1,328 entries) and the py4j
    zip: 16 re-reads per task, most of a small task's CPU. It also covers a
    ``spark-submit --py-files`` deployment, where ``ispaq_spark`` itself is
    imported from a zip. With the finders gone the next task's
    ``invalidate_caches()`` finds none to re-read, and Python builds a
    finder again (from the already parsed directory) only when an import
    needs one. The cache is a plain dict that CPython documents as safe to
    clear, so where ``invalidate_caches`` is cheap this costs nothing."""
    cache = sys.path_importer_cache
    for path, finder in list(cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            del cache[path]


def heuristic_batch(texts, cols) -> dict[str, list]:
    """The heuristic columns ``cols`` of a batch of texts, one value per
    text: reference_impl.heuristic_metrics, None for a None text. The Arrow
    stage and heuristics.with_heuristics both call it."""
    metrics = [heuristic_metrics(t) if t is not None else {} for t in texts]
    return {c: [m.get(c) for m in metrics] for c in cols}


def _model_broadcast(sc, slot: str, model):
    """(digest, broadcast) of ``model`` in the session's ``slot`` ("lm" or
    "lid"). The digest is over the model's content, so the same model is
    broadcast once per session however many jobs plan with it. A different
    model replaces the slot's broadcast and destroys the old one, so a
    long-lived session holds one copy per slot; a DataFrame planned with
    the old model has to run before a job plans with the new one."""
    digest = hashlib.sha1(pickle.dumps(model, pickle.HIGHEST_PROTOCOL)).hexdigest()

    def build():
        state = session_state(sc)
        for key in list(state):
            if key[:2] == ("broadcast", slot):
                state.pop(key).destroy()
            elif key[0] == "arrow_stage":  # closed over a broadcast
                del state[key]
        return sc.broadcast(model)

    return digest, session_memo(sc, ("broadcast", slot, digest), build)


def arrow_stage_udf(
    spark, columns, model: NgramLM | None = None, lid_model: dict | None = None
):
    """pandas UDF html -> struct of the requested ``columns`` (a subset of
    ARROW_COLUMNS), built once per session and models. Extraction always
    runs, since every other column reads the extracted text; the LM and the
    langid model are broadcast and scored, and the heuristics computed,
    only when one of their columns is requested."""
    cols = tuple(c for c in ARROW_COLUMNS if c in columns)
    heur = tuple(c for c in cols if c in HEURISTIC_COLUMNS)
    sc = spark.sparkContext
    lm_digest, bcast = (
        _model_broadcast(sc, "lm", model) if "perplexity" in cols else (None, None)
    )
    want_lid = "pred_lang" in cols or "lang_conf" in cols
    lid_digest, bcast_lid = (
        _model_broadcast(sc, "lid", lid_model) if want_lid else (None, None)
    )

    def build():
        @F.pandas_udf(", ".join(f"{c} {ARROW_COLUMNS[c]}" for c in cols))
        def stage(html: pd.Series) -> pd.DataFrame:
            _drop_zip_finders()
            # html arrives as a Series of bytes/None (Arrow binary);
            # extract_text returns None for undecodable bytes and every
            # score keeps None.
            texts = html.map(extract_text)
            out = {"extracted_text": texts}
            if bcast is not None:
                # the whole Arrow batch in one call; the model is
                # unpickled once per Python worker
                out["perplexity"] = perplexities(texts, bcast.value)
            if bcast_lid is not None:
                lid = bcast_lid.value
                scored = [
                    score_langid(t, lid) if t is not None else (None, None)
                    for t in texts
                ]
                out["pred_lang"] = [p for p, _ in scored]
                out["lang_conf"] = [c for _, c in scored]
            if heur:
                out.update(heuristic_batch(texts, heur))
            return pd.DataFrame({c: out[c] for c in cols})

        return stage

    return session_memo(sc, ("arrow_stage", cols, lm_digest, lid_digest), build)
