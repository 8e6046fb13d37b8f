"""Seeded input generator for the benchmark workloads.

Everything is a pure function of the workload seed: the same seed writes
the same rows. Generation runs in this one process (pyarrow's writer pool
holds at most one thread per core) before any Spark session exists, so it
is never part of a timed region or of set-up time.

Inputs are written as several parquet files per table so that a scan
yields about one task per core.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import random
import zlib
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

from ispaq_spark.synthesize import EPOCH, make_page

PAGES_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)

CORPUS_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("source", pa.string()),
        ("text", pa.string()),
        ("url", pa.string()),
    ]
)


def doc_id_of(url: str) -> int:
    """Stable non-negative 63-bit id from the url."""
    digest = hashlib.blake2b(url.encode("utf-8"), digest_size=8).digest()
    return int.from_bytes(digest, "big") >> 1


def sampled(url: str, every: int) -> bool:
    """Deterministic hash selection of about one url in ``every``."""
    return zlib.crc32(url.encode("utf-8")) % every == 0


def source_of(url: str) -> str:
    return url.split("/")[2]


def write_parts(rows: list[dict], schema: pa.Schema, path: str, files: int,
                prefix: str = "part") -> list[str]:
    """Write ``rows`` as ``files`` parquet files under directory ``path``."""
    os.makedirs(path, exist_ok=True)
    table = pa.Table.from_pylist(rows, schema=schema)
    out = []
    n = len(rows)
    for j in range(files):
        lo, hi = j * n // files, (j + 1) * n // files
        name = os.path.join(path, f"{prefix}-{j:03d}.parquet")
        pq.write_table(table.slice(lo, hi - lo), name)
        out.append(name)
    return out


def pages(n: int, seed: int, start: int = 0) -> list[dict]:
    return [make_page(i, seed) for i in range(start, start + n)]


def day_pages(day: int, n: int, seed: int, start: int = 0) -> list[dict]:
    """``n`` pages that all fall on day ``day`` after EPOCH (time of day
    kept from the generator)."""
    out = []
    for row in pages(n, seed, start):
        ts = row["warc_ts"]
        secs = (ts - EPOCH).total_seconds() % 86_400
        row["warc_ts"] = EPOCH + dt.timedelta(days=day, seconds=secs)
        out.append(row)
    return out


@dataclass
class Corpus:
    rows: list[dict]
    exact_copy_ids: set[int] = field(default_factory=set)
    near_copy_ids: set[int] = field(default_factory=set)


def dedup_corpus(n_base: int, seed: int, exact_share: float,
                 near_share: float) -> Corpus:
    """Curation corpus from the page generator plus planted duplicates.

    ``exact_share`` of the base docs (rounded) get one verbatim copy and
    ``near_share`` get one copy with two tokens changed; the counts are
    fixed so that every seed's corpus has the same size. A planted exact
    copy always has a larger ``doc_id`` than its original, so exact dedup
    (which keeps the smallest id per text) must drop the copy."""
    rng = random.Random(f"corpus-{seed}")
    base = []
    for p in pages(n_base, seed):
        base.append({"doc_id": doc_id_of(p["url"]), "source": source_of(p["url"]),
                     "text": p["text"], "url": p["url"]})
    rows = list(base)
    corpus = Corpus(rows)
    n_exact, n_near = round(exact_share * n_base), round(near_share * n_base)
    picked = rng.sample(range(n_base), n_exact + n_near)
    exact, near = set(picked[:n_exact]), set(picked[n_exact:])
    for i, doc in enumerate(base):
        if i in exact:
            k = 0
            while True:
                url = f"{doc['url']}?copy={k}"
                if doc_id_of(url) > doc["doc_id"]:
                    break
                k += 1
            rows.append({**doc, "doc_id": doc_id_of(url), "url": url})
            corpus.exact_copy_ids.add(doc_id_of(url))
        elif i in near:
            toks = doc["text"].split(" ")
            for _ in range(2):
                toks[rng.randrange(len(toks))] = f"near{rng.randrange(10**6)}"
            url = f"{doc['url']}?near=1"
            rows.append({**doc, "doc_id": doc_id_of(url), "url": url,
                         "text": " ".join(toks)})
            corpus.near_copy_ids.add(doc_id_of(url))
    rng.shuffle(rows)
    return corpus
