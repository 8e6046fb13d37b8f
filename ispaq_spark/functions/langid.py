"""fastText-capability language ID: distributed NB training; broadcast
Arrow scoring runs in the pipeline's one Arrow stage.

Graft slot: the per-target evalresp model source (ispaq/utils.py:558-673,
ispaq/evalresp.py:26-238) — an auxiliary model computed once, broadcast,
and joined against every unit of work. The north star names "fastText
lid.176 via pandas/Arrow UDF batches"; the fasttext library is absent from
this container, so the capability is rebuilt with the same architecture:
hashed char-n-gram bag -> linear per-language scores -> softmax posterior
(contract LANGID_*). One scorer function (reference_impl.score_langid) is
called by BOTH the reference labeler and the pipeline's one Arrow stage
(functions/extraction.py) — float parity by construction, the same
one-code-path discipline as the perplexity scorer.

Scale posture: training is a map-side partial bag-of-buckets reduction
(mapInPandas emitting per-batch dense count matrices, ~L x 4096 ints per
batch) + one tiny shuffle on (lang, bucket); the collected table is
model-sized (<= |langs| x LANGID_BUCKETS) by construction — never
corpus-sized. Scoring is map-only with the model riding one broadcast
variable.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..contract import LANGID_BUCKETS
from ..reference_impl import langid_bucket_counts, langid_model_from_counts


def train_langid_distributed(
    labeled: DataFrame, lang_col: str = "lang", text_col: str = "text"
) -> dict:
    """(lang, text) DataFrame -> NB model, identical to
    reference_impl.train_langid on the same rows.

    Each Arrow batch reduces to at most |langs-in-batch| x BUCKETS count
    rows BEFORE the shuffle (the map-side combine), so shuffle traffic is
    bounded by model size x batches, independent of corpus size.
    """

    def count_batches(
        pdfs: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        for pdf in pdfs:
            acc: dict[str, np.ndarray] = {}
            docs: dict[str, int] = {}
            for lang, text in zip(pdf[lang_col], pdf[text_col]):
                if text is None:
                    continue
                if lang not in acc:
                    acc[lang] = np.zeros(LANGID_BUCKETS, dtype=np.int64)
                    docs[lang] = 0
                acc[lang] += langid_bucket_counts(text)
                docs[lang] += 1
            out = []
            for lang, vec in acc.items():
                nz = np.nonzero(vec)[0]
                out.append(
                    pd.DataFrame(
                        {
                            "lang": lang,
                            "bucket": nz.astype("int64"),
                            "cnt": vec[nz],
                            "docs": 0,
                        }
                    )
                )
                out.append(
                    pd.DataFrame(
                        {
                            "lang": [lang],
                            "bucket": [-1],
                            "cnt": [0],
                            "docs": [docs[lang]],
                        }
                    )
                )
            yield pd.concat(out) if out else pd.DataFrame(
                {"lang": [], "bucket": [], "cnt": [], "docs": []}
            )

    partials = labeled.select(
        F.col(lang_col).alias(lang_col), F.col(text_col).alias(text_col)
    ).mapInPandas(
        count_batches, schema="lang string, bucket long, cnt long, docs long"
    )
    rows = (
        partials.groupBy("lang", "bucket")
        .agg(F.sum("cnt").alias("cnt"), F.sum("docs").alias("docs"))
        .collect()
    )
    langs = tuple(sorted({r["lang"] for r in rows}))
    idx = {lang: i for i, lang in enumerate(langs)}
    counts = np.zeros((len(langs), LANGID_BUCKETS), dtype=np.int64)
    docs = np.zeros(len(langs), dtype=np.int64)
    for r in rows:
        if r["bucket"] >= 0:
            counts[idx[r["lang"]], r["bucket"]] = r["cnt"]
        else:
            docs[idx[r["lang"]]] = r["docs"]
    return langid_model_from_counts(langs, counts, docs)
