"""Driver-contract query registry: (PySpark DataFrame plan, DuckDB oracle
SQL) pairs. The library-backed queries run a library operator —
`operators/`, `curation.py` or `functions/` — so the DuckDB oracle
certifies the code users run, not a copy of it. The rest are catalogue
queries: text operators that exist only here. Of the 23 queries, 13 are
library-backed and 10 are catalogue queries; queries() and
oracle_sql() return them in file order. Those that reach no library
function are listed in `tests/test_driver_contract.py`, which gates that
no other query skips the library.

The oracle states each operator relationally and independently of the
library. The driver compares row counts, column names, and
order-insensitive value hashes — so every computed column is aliased
identically on both sides, doubles are rounded to 6 decimals on both
sides, and every window/top-k has a total deterministic order.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .contract import STOPWORDS
from .curation import (
    CurationPolicy,
    assign_split,
    cap_per_source,
    contamination_hits,
    quality_filter,
)
from .functions.heuristics import STOPWORD_LANG, with_heuristics
from .operators.components import alternating_star_components
from .operators.dedup import (
    N_MINHASH_DEFAULT,
    content_hash,
    exact_dedup,
    hex_hash,
    jaccard,
    lsh_candidate_pairs,
    minhash_dedup,
    minhash_signatures,
    shingles_of,
    signatures,
    word_set,
)


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def r6(c) -> F.Column:
    return F.round(c, 6)


def dsum(c) -> F.Column:
    """Accumulation-order-independent sum of a double column: each value is
    cast to DECIMAL(38,9) (a deterministic per-value quantization), summed
    in decimal (exact and associative, so partition layout and partial-agg
    order cannot change the result), and returned as double. A raw double
    sum() differs by ~n ulps between Spark's partial-aggregation tree and
    DuckDB's sequential scan, which flips round(,6) when the total sits at
    a .0000005 boundary (fuzz seed 101 hit exactly that).
    DuckDB twin: CAST(sum(CAST(x AS DECIMAL(38,9))) AS DOUBLE)."""
    if isinstance(c, str):
        c = F.col(c)
    return F.sum(c.cast("decimal(38,9)")).cast("double")


def davg(c) -> F.Column:
    """Order-independent mean built from dsum / count(col) (count of
    NON-NULL values, matching avg()'s NULL semantics on both engines).
    DuckDB twin: CAST(sum(CAST(x AS DECIMAL(38,9))) AS DOUBLE)/count(x)."""
    if isinstance(c, str):
        c = F.col(c)
    return dsum(c) / F.count(c)


@dataclass(frozen=True)
class QueryDef:
    name: str
    spark: Callable[[SparkSession, str], DataFrame]
    oracle: str


_DEFS: list[QueryDef] = []


def qdef(name: str, oracle: str):
    def deco(fn):
        _DEFS.append(QueryDef(name, fn, oracle))
        return fn

    return deco


# ===========================================================================
# Text analysis over `documents` (the training-data-pipeline layer)
# ===========================================================================


def _langid_sql_cascade() -> str:
    hits = {
        lang: (
            "len(list_filter(words, x -> list_contains(["
            + ", ".join(f"'{w}'" for w in STOPWORDS[lang])
            + "], x)))"
        )
        for lang in sorted(STOPWORDS)
    }
    best = "greatest(" + ", ".join(hits.values()) + ")"
    whens = " ".join(
        f"WHEN {hits[lang]} = best THEN '{lang}'" for lang in sorted(STOPWORDS)
    )
    return f"""
    WITH w AS (
      SELECT doc_id, lang, str_split(text, ' ') AS words FROM documents
    ), s AS (
      SELECT doc_id, lang, words, {best} AS best FROM w
    )
    SELECT lang, CASE WHEN best <= 0 THEN 'und' {whens} ELSE 'und' END
             AS pred_lang,
           count(*) AS n
    FROM s GROUP BY lang, pred_lang
    """


@qdef("langid_confusion", _langid_sql_cascade())
def q_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stopword-vote langid (reference_impl.langid, the vote behind the
    stopword_ratio heuristic) aggregated into a (labeled lang x predicted
    lang) confusion table."""
    h = with_heuristics(t(spark, sf_dir, "documents"), "text")
    return h.groupBy("lang", F.col(STOPWORD_LANG).alias("pred_lang")).agg(
        F.count(F.lit(1)).alias("n")
    )


@qdef(
    "fingerprint",
    """
    SELECT doc_id, md5(text) AS fp FROM documents
    """,
)
def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """document fingerprinting via the dedup content hash (both engines
    agree on md5 hex)."""
    return t(spark, sf_dir, "documents").select(
        "doc_id", content_hash(F.col("text")).alias("fp")
    )


# ===========================================================================
# Dedup: MinHash / n-gram Jaccard (training-data-pipeline layer)
# ===========================================================================


def _minhash_sql_cols() -> str:
    return ",\n           ".join(
        "list_min(list_transform(grams, s -> "
        f"(('0x' || substr(md5('{j}|' || s), 1, 8))::BIGINT))) AS mh{j}"
        for j in range(N_MINHASH_DEFAULT)
    )


@qdef(
    "minhash_signatures",
    f"""
    WITH w AS (
      SELECT doc_id, str_split(text, ' ') AS words FROM documents
    ), g AS (
      SELECT doc_id,
             list_transform(range(1, len(words) - 1),
                 i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]) AS grams
      FROM w WHERE len(words) >= 3
    )
    SELECT doc_id,
           {_minhash_sql_cols()}
    FROM g
    """,
)
def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures over 3-word shingles (shingle -> salted hash ->
    min), k=4 permutations — the signature stage of MinHash-LSH near-dup
    detection. Pure Catalyst: transform/slice/array_min, no Python."""
    return minhash_signatures(t(spark, sf_dir, "documents"))


_JACCARD_BLOCK_ORACLE = (
    """
    WITH w AS (
      SELECT doc_id, source, lang,
             list_distinct(str_split(text, ' ')) AS ws
      FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           round(
             len(list_filter(a.ws, x -> list_contains(b.ws, x)))
             / (len(a.ws) + len(b.ws)
                - len(list_filter(a.ws, x -> list_contains(b.ws, x)))),
             6) AS jaccard
    FROM w a JOIN w b
      ON a.source = b.source AND a.lang = b.lang AND a.doc_id < b.doc_id
    """
)


def _blocked_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a < doc_b, jaccard) for every pair in one (source, lang)
    block, scored with the dedup word-set Jaccard. The blocked self-join
    is O(B^2) per block: fine at oracle scale, quadratic at corpus scale,
    where LSH band buckets prune first (`minhash_lsh_neardup`)."""
    d = t(spark, sf_dir, "documents").select(
        "doc_id", "source", "lang", word_set("text").alias("ws")
    )
    a, b = d.alias("a"), d.alias("b")
    return a.join(
        b,
        (F.col("a.source") == F.col("b.source"))
        & (F.col("a.lang") == F.col("b.lang"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        jaccard(F.col("a.ws"), F.col("b.ws")).alias("jaccard"),
    )


@qdef("jaccard_pairs", _JACCARD_BLOCK_ORACLE)
def q_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-set Jaccard near-dup scoring — the verify stage of LSH dedup,
    fed here by a (source, lang)-blocked self-join candidate generator
    (the nearest-compatible-neighbor pattern,
    ispaq/crossCorrelation_metrics.py:182-323). A pair with a NULL-text
    member scores NULL on both engines."""
    return _blocked_jaccard(spark, sf_dir).select(
        "doc_a", "doc_b", r6("jaccard").alias("jaccard")
    )


_LSH_SQL_BANDS = """
    WITH w AS (
      SELECT doc_id, str_split(text, ' ') AS words FROM documents
    ), g AS (
      SELECT doc_id,
             list_transform(range(1, len(words) - 1),
                 i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]) AS grams
      FROM w WHERE len(words) >= 3
    ), sig AS (
      SELECT doc_id, list_distinct(grams) AS gset,
             {mh_cols}
      FROM g
    ), cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.gset AS ga, b.gset AS gb
      FROM sig a JOIN sig b
        ON a.doc_id < b.doc_id
       AND ((a.mh0 = b.mh0 AND a.mh1 = b.mh1)
         OR (a.mh2 = b.mh2 AND a.mh3 = b.mh3))
    )
    SELECT doc_a, doc_b,
           round(len(list_filter(ga, x -> list_contains(gb, x)))
                 / (len(ga) + len(gb)
                    - len(list_filter(ga, x -> list_contains(gb, x)))),
                 6) AS jaccard
    FROM cand
    WHERE len(list_filter(ga, x -> list_contains(gb, x)))
          / (len(ga) + len(gb)
             - len(list_filter(ga, x -> list_contains(gb, x)))) >= 0.5
"""


def _scored_candidates(docs: DataFrame, sets: F.Column) -> DataFrame:
    """(doc_a < doc_b) pairs sharing a MinHash band bucket — the library's
    signatures and candidate generator, whose shuffle carries band keys
    and ids, never documents — with each member's `sets` value as sa/sb
    for a verify kernel. Only candidate pairs touch the sets."""
    cand = lsh_candidate_pairs(minhash_signatures(docs)).toDF("doc_a", "doc_b")
    s = docs.select("doc_id", sets.alias("s"))
    sa = s.toDF("doc_a", "sa")
    sb = s.toDF("doc_b", "sb")
    return cand.join(sa, "doc_a").join(sb, "doc_b")


@qdef("minhash_lsh_neardup", _LSH_SQL_BANDS.format(mh_cols=_minhash_sql_cols()))
def q_minhash_lsh_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end MinHash-LSH near-dup detection: shingle -> 4 minhashes ->
    2 bands of 2 rows -> band-bucket candidates -> exact 3-gram-set
    Jaccard verify >= 0.5. The oracle states the same candidate set as an
    OR-join."""
    docs = t(spark, sf_dir, "documents")
    grams = F.array_distinct(shingles_of(F.split("text", " "), 3))
    jac = jaccard(F.col("sa"), F.col("sb"))
    return (
        _scored_candidates(docs, grams)
        .where(jac >= 0.5)
        .select("doc_a", "doc_b", r6(jac).alias("jaccard"))
    )


# ===========================================================================
# Round-2 additions: C4-style span dedup, near-dup clustering (iterative
# connected components), skew-salted aggregation.
# ===========================================================================


_CHUNK_W = 8  # words per dedup span (C4 uses three-sentence spans)


@qdef(
    "chunk_dedup",
    f"""
    WITH w AS (
      SELECT doc_id, str_split(text, ' ') AS ws FROM documents
      WHERE text IS NOT NULL
    ), spans AS (
      -- two parallel unnests zip; the span STRINGS are built linearly
      -- per doc first, so the word array is never copied per span row
      SELECT doc_id,
             unnest(range(0, CAST(ceil(len(ws) / {_CHUNK_W}.0) AS BIGINT)))
               AS chunk_idx,
             unnest(list_transform(
               range(0, CAST(ceil(len(ws) / {_CHUNK_W}.0) AS BIGINT)),
               -- indexed element list, NOT a slice: DuckDB list
               -- SLICING inside a lambda copies O(len) per call
               -- (quadratic on a 10^6-token doc); an out-of-range
               -- INDEX is a NULL, filtered for the ragged tail
               c -> array_to_string(list_filter(
                 [ws[c * {_CHUNK_W} + 1], ws[c * {_CHUNK_W} + 2], ws[c * {_CHUNK_W} + 3], ws[c * {_CHUNK_W} + 4], ws[c * {_CHUNK_W} + 5], ws[c * {_CHUNK_W} + 6], ws[c * {_CHUNK_W} + 7], ws[c * {_CHUNK_W} + 8]],
                 x -> x IS NOT NULL), ' ')))
               AS chunk
      FROM w
    ), ranked AS (
      SELECT doc_id, chunk_idx, chunk,
             row_number() OVER (
               PARTITION BY chunk ORDER BY doc_id, chunk_idx) AS rn
      FROM spans
    )
    SELECT doc_id,
           coalesce(string_agg(chunk, ' ' ORDER BY chunk_idx)
                      FILTER (WHERE rn = 1), '') AS clean_text,
           CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS removed_chunks
    FROM ranked GROUP BY doc_id
    """,
)
def q_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style duplicate-span removal: split each document into fixed
    8-word spans, keep only the globally FIRST occurrence of each span
    (ordered by doc_id, chunk_idx), and reassemble documents from their
    surviving spans. This is the corpus-level "remove repeated boilerplate"
    stage of web-text pipelines (C4 drops duplicate three-sentence spans).

    Scale shape: posexplode is map-side; the first-occurrence ranking
    window partitions by xxhash64(span) — 8 bytes per span on the wire
    instead of the span string (same semantics modulo 64-bit hash
    collisions, which the string-ranked oracle quantifies: identical
    results on every certified run). Span text crosses the wire exactly
    ONCE, in the unavoidable reassembly join: winners collapse to a
    per-doc (doc_id, keep_idx[], removed) row before rejoining the word
    arrays on doc_id. The lang-string-ranked form this replaces shuffled
    the full corpus text TWICE (rank exchange + reassembly).
    tests/test_plans.py gates the window exchange key to the hash column.
    No self-join, no quadratic term. Grafts the reference's
    duplicate-epoch pruning (ispaq/utils.py:404-431) lifted from metadata
    rows to content spans."""
    d = t(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    words = d.select("doc_id", F.split("text", " ").alias("ws"))
    n_chunks = F.ceil(F.size("ws") / F.lit(float(_CHUNK_W))).cast("int")
    spans = words.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_chunks - 1),
                lambda i: F.array_join(
                    F.slice(F.col("ws"), i * _CHUNK_W + 1, _CHUNK_W), " "
                ),
            )
        ).alias("chunk_idx", "chunk"),
    )
    # Drop the span text BEFORE the ranking exchange: only the 8-byte hash
    # travels.
    idx = spans.select(
        "doc_id", "chunk_idx", F.xxhash64("chunk").alias("h")
    )
    rn = F.row_number().over(
        Window.partitionBy("h").orderBy("doc_id", "chunk_idx")
    )
    per_doc = (
        idx.withColumn("rn", rn)
        .groupBy("doc_id")
        .agg(
            # collect_list drops the NULLs when() leaves for losers
            F.array_sort(
                F.collect_list(
                    F.when(F.col("rn") == 1, F.col("chunk_idx"))
                )
            ).alias("keep_idx"),
            F.sum(F.when(F.col("rn") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("removed_chunks"),
        )
    )
    return words.join(per_doc, "doc_id").select(
        "doc_id",
        F.array_join(
            F.transform(
                F.col("keep_idx"),
                lambda i: F.array_join(
                    F.slice(F.col("ws"), i * _CHUNK_W + 1, _CHUNK_W), " "
                ),
            ),
            " ",
        ).alias("clean_text"),
        "removed_chunks",
    )


_SUB_W = 8  # sliding-gram width for exact-substring dedup


@qdef(
    "substring_dedup",
    f"""
    WITH w AS (
      SELECT doc_id, str_split(text, ' ') AS ws FROM documents
      WHERE text IS NOT NULL
    ), gr AS (
      SELECT doc_id,
             unnest(range(0, greatest(len(ws) - {_SUB_W - 1}, 0))) AS pos,
             unnest(list_transform(
               range(0, greatest(len(ws) - {_SUB_W - 1}, 0)),
               p -> ws[p + 1] || ' ' || ws[p + 2] || ' ' || ws[p + 3] || ' ' || ws[p + 4] || ' ' || ws[p + 5] || ' ' || ws[p + 6] || ' ' || ws[p + 7] || ' ' || ws[p + 8]))
               AS gram
      FROM w
    ), ranked AS (
      SELECT doc_id, pos,
             row_number() OVER (PARTITION BY gram ORDER BY doc_id, pos)
               AS rn
      FROM gr
    ), cov AS (
      SELECT DISTINCT doc_id, unnest(range(pos, pos + {_SUB_W})) AS tp
      FROM ranked WHERE rn > 1
    ), toks AS (
      SELECT doc_id, unnest(range(0, len(ws))) AS i, unnest(ws) AS tok
      FROM w
    ), kept AS (
      SELECT t.doc_id, t.i, t.tok
      FROM toks t LEFT JOIN cov ON cov.doc_id = t.doc_id AND cov.tp = t.i
      WHERE cov.tp IS NULL
    ), clean AS (
      SELECT doc_id, string_agg(tok, ' ' ORDER BY i) AS clean_text
      FROM kept GROUP BY doc_id
    ), nr AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_removed
      FROM cov GROUP BY doc_id
    )
    SELECT w.doc_id, CAST(len(w.ws) AS BIGINT) AS n_tokens,
           COALESCE(nr.n_removed, 0)::BIGINT AS n_removed,
           COALESCE(c.clean_text, '') AS clean_text
    FROM w LEFT JOIN nr ON w.doc_id = nr.doc_id
    LEFT JOIN clean c ON w.doc_id = c.doc_id
    """,
)
def q_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-substring removal, the suffix-array dedup of Lee
    et al. 2022 ("Deduplicating Training Data Makes Language Models
    Better") re-expressed relationally: a token is removed iff it lies
    inside a >= 8-token substring that already occurred earlier in
    the corpus. The sliding 8-gram grid makes that exact — every
    token of an L >= 8 duplicated run is covered by some duplicated
    8-gram inside the run, and only such tokens are. Keep-first:
    the rank over (doc_id, pos) leaves the earliest copy intact. This is
    the stronger cousin of `chunk_dedup`'s fixed grid (which misses
    duplicates straddling chunk boundaries).

    Scale shape: grams explode map-side and are hashed to 8 bytes BEFORE
    the first-occurrence ranking shuffle (xxhash64, same collision caveat
    as `chunk_dedup` — the string-ranked oracle certifies the semantics);
    covered positions are (doc_id, int) pairs, <= 8 x duplicate
    occurrences; reassembly joins the removed-index SET back to the word
    arrays on doc_id, so document text crosses the wire exactly once.
    Suffix arrays need a global sort of every suffix — this form needs one
    hash shuffle of 8-byte keys and matches it for fixed minimum length."""
    d = t(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    words = d.select("doc_id", F.split("text", " ").alias("ws"))
    grams = words.select(
        "doc_id",
        F.posexplode(
            F.coalesce(
                shingles_of(F.col("ws"), _SUB_W),
                F.array().cast("array<string>"),
            )
        ).alias("pos", "gram"),
    )
    idx = grams.select(
        "doc_id", "pos", F.xxhash64("gram").alias("h")
    )
    rn = F.row_number().over(
        Window.partitionBy("h").orderBy("doc_id", "pos")
    )
    covered = (
        idx.withColumn("rn", rn)
        .where(F.col("rn") > 1)
        .select(
            "doc_id",
            F.explode(
                F.sequence(
                    F.col("pos").cast("bigint"),
                    (F.col("pos") + _SUB_W - 1).cast("bigint"),
                )
            ).alias("tp"),
        )
    )
    rem = covered.groupBy("doc_id").agg(
        F.collect_set("tp").alias("rem")
    )
    joined = words.join(rem, "doc_id", "left").withColumn(
        "rem",
        F.coalesce("rem", F.expr("CAST(array() AS array<bigint>)")),
    )
    idxs = F.sequence(
        F.lit(0).cast("bigint"), (F.size("ws") - 1).cast("bigint")
    )
    # linear ordered set-difference: filter+array_contains would cost
    # O(n_tokens * n_removed) per doc on boilerplate-heavy documents
    kept = F.array_except(idxs, F.col("rem"))
    return joined.select(
        "doc_id",
        F.size("ws").cast("bigint").alias("n_tokens"),
        F.size("rem").cast("bigint").alias("n_removed"),
        F.array_join(
            F.transform(
                kept,
                lambda i: F.element_at("ws", (i + 1).cast("int")),
            ),
            " ",
        ).alias("clean_text"),
    )


@qdef(
    "intradoc_dedup",
    """
    WITH w AS (
      SELECT doc_id, str_split(text, ' ') AS ws FROM documents
      WHERE text IS NOT NULL
    ), g AS (
      SELECT doc_id, ws,
             list_transform(range(0, greatest(len(ws) - 2, 0)),
                            i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3])
               AS gs
      FROM w
    ), r AS (
      SELECT doc_id, ws,
             list_filter(range(0, len(gs)),
                         i -> list_position(gs, gs[i + 1]) != i + 1)
               AS repstarts
      FROM g
    ), x AS (
      SELECT doc_id, ws, repstarts,
             list_distinct(flatten(
               list_transform(repstarts, i -> range(i, i + 3)))) AS rem
      FROM r
    ), remx AS (
      SELECT doc_id, unnest(rem) AS t FROM x
    ), tok AS (
      SELECT doc_id, unnest(range(0, len(ws))) AS t, unnest(ws) AS tk
      FROM x
    ), kept AS (
      -- positional ANTI-join instead of list_contains(rem, t) per token:
      -- a fully-repetitive doc has |rem| ~ |ws|, and the per-token
      -- membership probe would be O(len^2)
      SELECT tok.doc_id, tok.t, tok.tk
      FROM tok LEFT JOIN remx
        ON remx.doc_id = tok.doc_id AND remx.t = tok.t
      WHERE remx.t IS NULL
    ), clean AS (
      SELECT doc_id, string_agg(tk, ' ' ORDER BY t) AS clean_text
      FROM kept GROUP BY doc_id
    )
    SELECT x.doc_id,
           CAST(len(x.ws) AS BIGINT) AS n_tokens,
           CAST(len(x.repstarts) AS BIGINT) AS n_repeat_grams,
           CAST(len(x.rem) AS BIGINT) AS n_removed,
           COALESCE(c.clean_text, '') AS clean_text
    FROM x LEFT JOIN clean c ON x.doc_id = c.doc_id
    """,
)
def q_intradoc_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITHIN-document repetition removal — the removal companion to
    `dup_3gram`'s repetition SCORE (Gopher's dup_ngram_fraction): every
    token covered by a 3-gram whose first occurrence in the SAME document
    is earlier gets dropped, collapsing looping boilerplate (nav menus,
    keyword stuffing) while the first copy survives. Runs before
    corpus-level dedup in a real pipeline, so it's certified as its own
    stage.

    Scale shape: ZERO exchanges — the whole operator is per-row Catalyst
    array expressions (gate in tests/test_plans.py), so it composes into
    any stage without a barrier and scales embarrassingly. Per-doc cost is
    O(len²) from the first-occurrence array_position probe — bounded by
    the doc-length cap upstream quality filters enforce; for unbounded
    docs the same semantics hash-buckets inside one Arrow UDF. Grams are
    built with the closure-free zip_with shingler
    (operators/dedup.py::shingles_of) — the transform-with-slice form is
    O(len^2) when the optimizer inlines split(text) into the per-element
    lambda body (hostile-fixture finding). On a pure k-cycle document the
    array_position probes all hit within the first k elements, so even a
    10^6-token repetition bomb stays linear. Grafts the reference's
    within-trace repeat collapse (ispaq/utils.py:404-431 duplicate-row
    pruning) at token grain."""
    d = t(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    words = d.select("doc_id", F.split("text", " ").alias("ws"))
    g = words.withColumn(
        "gs",
        F.coalesce(
            shingles_of(F.col("ws"), 3), F.array().cast("array<string>")
        ),
    )
    # Self-guarding index sequence: on an empty gs, sequence(0, size-1)
    # would descend to [0,-1] and element_at(gs, 1) would throw, so the
    # empty case takes an empty-array branch INSIDE the expression —
    # correctness must not depend on Catalyst pushing the size(gs) > 0
    # filter below this projection.
    gidx = F.when(
        F.size("gs") > 0, F.sequence(F.lit(0), F.size("gs") - 1)
    ).otherwise(F.expr("CAST(array() AS array<int>)"))
    r = g.withColumn(
        "repstarts",
        F.filter(
            gidx,
            lambda i: F.array_position(
                F.col("gs"), F.element_at("gs", i + 1)
            )
            != (i + 1).cast("bigint"),
        ),
    ).where(F.size("gs") > 0)
    # docs with < 3 tokens have no grams; those rows take the trivial
    # branch below.
    trivial = g.where(F.size("gs") == 0).select(
        "doc_id",
        F.size("ws").cast("bigint").alias("n_tokens"),
        F.lit(0).cast("bigint").alias("n_repeat_grams"),
        F.lit(0).cast("bigint").alias("n_removed"),
        F.array_join("ws", " ").alias("clean_text"),
    )
    x = r.withColumn(
        "rem",
        F.array_distinct(
            F.flatten(
                F.transform(
                    "repstarts", lambda i: F.sequence(i, i + 2)
                )
            )
        ),
    )
    full = x.select(
        "doc_id",
        F.size("ws").cast("bigint").alias("n_tokens"),
        F.size("repstarts").cast("bigint").alias("n_repeat_grams"),
        F.size("rem").cast("bigint").alias("n_removed"),
        F.array_join(
            F.transform(
                # linear ordered set-difference (see substring_dedup)
                F.array_except(
                    F.sequence(F.lit(0), F.size("ws") - 1), F.col("rem")
                ),
                lambda t: F.element_at("ws", t + 1),
            ),
            " ",
        ).alias("clean_text"),
    )
    return full.unionByName(trivial)


_CC_JACCARD = 0.8  # near-dup edge threshold for component clustering


@qdef(
    "neardup_components",
    f"""
    WITH w AS (
      SELECT doc_id, source, lang, list_distinct(str_split(text, ' ')) AS ws
      FROM documents
    ), pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM w a JOIN w b
        ON a.source = b.source AND a.lang = b.lang AND a.doc_id < b.doc_id
      WHERE len(list_filter(a.ws, x -> list_contains(b.ws, x)))
            / (len(a.ws) + len(b.ws)
               - len(list_filter(a.ws, x -> list_contains(b.ws, x))))
            >= {_CC_JACCARD}
    ), edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ), nodes AS (SELECT DISTINCT a AS n FROM edges),
    walk AS (
      WITH RECURSIVE r(n, c) AS (
        SELECT n, n FROM nodes
        UNION
        SELECT e.b, r.c FROM r JOIN edges e ON e.a = r.n WHERE r.c < e.b
      ) SELECT * FROM r
    )
    SELECT n AS doc_id, min(c) AS comp FROM walk GROUP BY n
    """,
)
def q_neardup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTERING: connected components over the graph whose
    edges are doc pairs with word-set Jaccard >= 0.8 (blocked on
    (source, lang) at test scale; behind MinHash-LSH candidates at corpus
    scale). Each doc maps to its component's minimum doc_id, i.e. the
    canonical representative the dedup stage would keep: pairs alone
    over-remove (A~B, B~C must not drop both B and C).

    Algorithm: the library's large-star/small-star alternation
    (operators/components.py), converging in O(log d) rounds; the oracle
    is an exact recursive-CTE closure. Grafts the reference's channel-set
    grouping (ispaq/simple_metrics.py:103-151: targets grouped into
    equivalence classes before per-class metrics)."""
    pairs = (
        _blocked_jaccard(spark, sf_dir)
        .where(F.col("jaccard") >= _CC_JACCARD)
        .select("doc_a", "doc_b")
    )
    # Materialize the pair join once, then size the iteration's shuffle
    # width to the edge count: iterating a small edge table across the
    # session's full shuffle width spends more time scheduling empty tasks
    # than rewiring stars.
    edges = pairs.localCheckpoint(eager=True)
    n_edges = edges.count()
    parts = max(2, min(spark.sparkContext.defaultParallelism,
                       n_edges // 250_000 + 1))
    return alternating_star_components(
        edges, shuffle_partitions=parts
    ).toDF("doc_id", "comp")


@qdef(
    "salted_skew_agg",
    """
    SELECT source,
           CAST(count(*) AS BIGINT)     AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           round(avg(n_chars), 6)       AS mean_chars
    FROM documents GROUP BY source
    """,
)
def q_salted_skew_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted two-phase aggregation: per-source doc counts and char
    totals computed as groupBy(source, salt) partial aggregates followed by
    a groupBy(source) combine. The oracle is the plain one-phase GROUP BY —
    the salted plan must be value-identical.

    Why: web corpora are domain-skewed (a handful of hosts carry a large
    share of pages; the synthesizer draws domains from Zipf(1.3)). A plain
    groupBy(domain) sends every row of the hottest domain to ONE reducer;
    salting by a 16-way hash splits that key across 16 reducers and the
    tiny combine (|domains| x 16 rows) collapses it. Note Spark's own
    partial aggregation already does this for algebraic aggs — the salt
    pattern matters for the non-algebraic ones (collect_list, exact
    distinct, percentile) and is written out here as the reusable shape,
    with AQE skew-join handling the join-side analog (session.py:55-61).
    Grafts the reference's per-target metric rollup
    (ispaq/simple_metrics.py:60-101)."""
    d = t(spark, sf_dir, "documents").withColumn(
        "salt", F.pmod(F.xxhash64("doc_id"), F.lit(16))
    )
    partial = d.groupBy("source", "salt").agg(
        F.count("*").alias("pn"),
        # avg() ignores NULLs: the mean's denominator is the NON-NULL
        # count (F.count(col)), not the row count — sum/count(*) would
        # silently deflate the mean the first time a NULL n_chars appears
        F.count("n_chars").alias("pnn"),
        F.sum("n_chars").alias("pchars"),
    )
    return partial.groupBy("source").agg(
        F.sum("pn").cast("bigint").alias("n_docs"),
        F.sum("pchars").cast("bigint").alias("total_chars"),
        r6(
            F.when(
                F.sum("pnn") > 0, F.sum("pchars") / F.sum("pnn")
            )
        ).alias("mean_chars"),
    )


# per-language sampling rates out of 100 (training-mixture weights)
_SAMPLE_RATES = {"en": 30, "de": 60, "fr": 60}
_SAMPLE_DEFAULT_RATE = 90


@qdef(
    "stratified_sample",
    f"""
    WITH h AS (
      SELECT doc_id, lang, source,
             (('0x' || substr(md5('smp|' || CAST(doc_id AS VARCHAR)), 1, 8))
               ::BIGINT) % 100 AS bucket
      FROM documents
    )
    SELECT doc_id, lang, bucket
    FROM h
    WHERE bucket < CASE lang
      {" ".join(f"WHEN '{k}' THEN {v}" for k, v in sorted(_SAMPLE_RATES.items()))}
      ELSE {_SAMPLE_DEFAULT_RATE} END
    """,
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based stratified sampling: keep a document iff
    a content hash of its id falls under the stratum's rate (per-language
    training-mixture weights: downsample the dominant language, keep most
    of the tail). Hash-gating instead of rand() makes the sample
    REPRODUCIBLE — identical across retries, executor losses, and
    cluster sizes (a rand() sample changes under task re-execution, which
    breaks resumable pipelines and lineage), and it needs no shuffle at
    all: the predicate is map-side, evaluated inside the scan. Rates
    compose with `salted_skew_agg`'s rollup for post-sample mixture
    verification. Grafts the reference's SNCL-pattern target subsetting
    (ispaq/user_request.py:320-364) with quota semantics added."""
    d = t(spark, sf_dir, "documents")
    bucket = F.pmod(
        hex_hash(F.concat(F.lit("smp|"), F.col("doc_id").cast("string"))),
        F.lit(100),
    )
    rate = F.lit(_SAMPLE_DEFAULT_RATE)
    for k, v in sorted(_SAMPLE_RATES.items()):
        rate = F.when(F.col("lang") == k, F.lit(v)).otherwise(rate)
    return (
        d.withColumn("bucket", bucket)
        .where(F.col("bucket") < rate)
        .select("doc_id", "lang", "bucket")
    )


@qdef(
    "decontaminate",
    """
    WITH bench AS (
      SELECT doc_id, str_split(text, ' ') AS ws FROM documents
      WHERE doc_id % 97 = 0 AND text IS NOT NULL
    ), bench_grams AS (
      SELECT DISTINCT unnest(list_transform(range(1, len(ws) - 1),
        i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS gram
      FROM bench WHERE len(ws) >= 3
    ), cand AS (
      SELECT doc_id, str_split(text, ' ') AS ws FROM documents
      WHERE doc_id % 97 <> 0 AND text IS NOT NULL
    ), cand_grams AS (
      SELECT doc_id, unnest(list_transform(range(1, len(ws) - 1),
        i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS gram
      FROM cand WHERE len(ws) >= 3
    )
    SELECT DISTINCT c.doc_id
    FROM cand_grams c JOIN bench_grams b ON c.gram = b.gram
    """,
)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing any n-gram
    with a held-out benchmark set (here: every 97th document stands in for
    the eval suite) — the Lee et al. / GPT-3 appendix n-gram-overlap
    protocol. Production uses 8-13-gram windows on natural text; this
    fixture's 30-token synthetic vocabulary gives the same selectivity at
    3-grams (171/500 docs flagged at sf0.01 — the check has teeth).

    Scale shape: the benchmark gram set builds once and BROADCASTS into a
    left-semi join, so the corpus never shuffles for the containment
    check; only the final distinct on doc_id does."""
    docs = t(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 97 == 0)
    cand = docs.where(F.col("doc_id") % 97 != 0)
    return contamination_hits(cand, bench, 3).distinct()


# ===========================================================================
# Round-3 additions: LSH-fed jaccard verify.
# ===========================================================================


_LSH_VERIFY_ORACLE = """
    WITH w AS (
      SELECT doc_id, str_split(text, ' ') AS words FROM documents
    ), g AS (
      SELECT doc_id,
             list_transform(range(1, len(words) - 1),
                 i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]) AS grams
      FROM w WHERE len(words) >= 3
    ), sig AS (
      SELECT doc_id, {mh_cols} FROM g
    ), cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM sig a JOIN sig b
        ON a.doc_id < b.doc_id
       AND ((a.mh0 = b.mh0 AND a.mh1 = b.mh1)
         OR (a.mh2 = b.mh2 AND a.mh3 = b.mh3))
    ), ws AS (
      SELECT doc_id, list_distinct(words) AS ws FROM w
    )
    SELECT c.doc_a, c.doc_b,
           round(len(list_filter(a.ws, x -> list_contains(b.ws, x)))
                 / (len(a.ws) + len(b.ws)
                    - len(list_filter(a.ws, x -> list_contains(b.ws, x)))),
                 6) AS jaccard
    FROM cand c
    JOIN ws a ON a.doc_id = c.doc_a
    JOIN ws b ON b.doc_id = c.doc_b
"""


@qdef(
    "lsh_jaccard_verify",
    _LSH_VERIFY_ORACLE.format(mh_cols=_minhash_sql_cols()),
)
def q_lsh_jaccard_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-fed verify chain: MinHash band buckets generate the pair
    set and the same word-set Jaccard that `jaccard_pairs` runs over its
    quadratic block join scores ONLY those candidates — the production
    wiring for the verify stage at corpus scale: pair count is bounded by
    bucket collisions, not block sizes."""
    docs = t(spark, sf_dir, "documents")
    jac = jaccard(F.col("sa"), F.col("sb"))
    return _scored_candidates(docs, word_set("text")).select(
        "doc_a", "doc_b", r6(jac).alias("jaccard")
    )


# ===========================================================================
# Training-mixture selection: importance resampling, canonical docs, splits
# ===========================================================================

_DSIR_B = 64  # hashed-feature buckets


@qdef(
    "dsir_resample",
    f"""
    WITH tok AS (
      SELECT doc_id, lang,
             (('0x' || substr(md5(w), 1, 8))::BIGINT) % {_DSIR_B} AS bucket
      FROM (SELECT doc_id, lang, unnest(str_split(text, ' ')) AS w
            FROM documents)
    ), dist AS (
      SELECT bucket, count(*) AS cs,
             sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS ct
      FROM tok GROUP BY bucket
    ), tot AS (SELECT sum(cs) AS ts, sum(ct) AS tt FROM dist),
    ratio AS (
      SELECT bucket,
             ln((ct + 1.0) / (tt + {_DSIR_B}.0))
           - ln((cs + 1.0) / (ts + {_DSIR_B}.0)) AS lr
      FROM dist, tot
    ), docw AS (
      -- decimal-sum mean: quantizing lr at 1e-9 absorbs cross-engine
      -- ln() ulps and the exact sum removes accumulation-order noise
      SELECT t.doc_id, t.lang,
             CAST(sum(CAST(r.lr AS DECIMAL(38,9))) AS DOUBLE)
               / count(r.lr) AS w
      FROM tok t JOIN ratio r ON t.bucket = r.bucket
      GROUP BY t.doc_id, t.lang
    )
    SELECT doc_id, lang, round(w, 6) AS dsir_weight
    FROM docw ORDER BY round(w, 6) DESC, doc_id LIMIT 100
    """,
)
def q_dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every document by
    the log importance ratio of a target distribution over hashed unigram
    features vs the raw-corpus distribution, and take the top-k — the
    mixture-selection stage that follows quality filtering in a training
    pipeline. Target here = the English slice; features = md5-hashed
    64-bucket unigram histogram (portable across engines); per-doc weight
    = token-mean of per-bucket Laplace-smoothed log ratios.

    Scale shape: ONE pass builds both distributions (64-row conditional
    aggregate), the 64-row log-ratio table broadcasts back, scoring is
    map-side + one groupBy(doc_id), and top-k is TakeOrderedAndProject
    (no global sort). At 10^12 docs nothing here grows beyond the corpus
    scan + one doc-keyed shuffle. Tie-break on the ROUNDED weight then
    doc_id so the k-cutoff is deterministic cross-engine. Grafts the
    reference's metric-threshold target subsetting
    (ispaq/user_request.py:320-364) into a distributional criterion."""
    d = t(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("w")
    ).withColumn("bucket", F.pmod(hex_hash(F.col("w")), F.lit(_DSIR_B)))
    dist = tok.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("cs"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("ct"),
    )
    tot = dist.agg(F.sum("cs").alias("ts"), F.sum("ct").alias("tt"))
    ratio = dist.crossJoin(tot).select(
        "bucket",
        (
            F.log((F.col("ct") + 1.0) / (F.col("tt") + float(_DSIR_B)))
            - F.log((F.col("cs") + 1.0) / (F.col("ts") + float(_DSIR_B)))
        ).alias("lr"),
    )
    docw = (
        tok.join(F.broadcast(ratio), "bucket")
        .groupBy("doc_id", "lang")
        .agg(davg("lr").alias("w"))
    )
    return (
        docw.select("doc_id", "lang", r6(F.col("w")).alias("dsir_weight"))
        .orderBy(F.desc("dsir_weight"), "doc_id")
        .limit(100)
    )


@qdef(
    "canonical_docs",
    f"""
    WITH w AS (
      SELECT doc_id, n_chars, str_split(text, ' ') AS words FROM documents
    ), g AS (
      SELECT doc_id, n_chars,
             list_transform(range(1, len(words) - 1),
                 i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]) AS grams
      FROM w WHERE len(words) >= 3
    ), sig AS (
      SELECT doc_id, n_chars, {_minhash_sql_cols()} FROM g
    ), ranked AS (
      SELECT *,
             row_number() OVER (PARTITION BY mh0, mh1, mh2, mh3
                                ORDER BY n_chars DESC, doc_id) AS rn,
             count(*) OVER (PARTITION BY mh0, mh1, mh2, mh3) AS members
      FROM sig
    )
    SELECT mh0, mh1, mh2, mh3, doc_id AS keep_id,
           CAST(n_chars AS BIGINT) AS keep_chars,
           CAST(members AS BIGINT) AS n_members
    FROM ranked WHERE rn = 1
    """,
)
def q_canonical_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-representative selection: collapse each duplicate cluster
    (keyed by the full 4-row MinHash signature — docs whose every minhash
    agrees) to its single best member, highest n_chars with min doc_id as
    tie-break. This is the KEEP side of dedup — `minhash_lsh_neardup`
    finds pairs, `neardup_components` labels clusters, this picks what
    survives into the training set.

    Scale shape: the signature projection carries n_chars, and one
    groupBy on the signature with `max_by(doc_id, struct(n_chars,
    -doc_id))` is a single shuffle with map-side partial aggregation, no
    window sort and no join (the oracle states the same row via
    row_number). Grafts the reference's epoch-preference dedup
    (ispaq/concierge.py:1001-1005: keep one row per target, preferring the
    most complete epoch)."""
    sig = signatures(
        t(spark, sf_dir, "documents"), "text", 3, N_MINHASH_DEFAULT,
        "doc_id", "n_chars",
    )
    return sig.groupBy("mh0", "mh1", "mh2", "mh3").agg(
        F.max_by(
            "doc_id", F.struct(F.col("n_chars"), (-F.col("doc_id")))
        ).alias("keep_id"),
        F.max("n_chars").cast("bigint").alias("keep_chars"),
        F.count(F.lit(1)).cast("bigint").alias("n_members"),
    )


@qdef(
    "split_assign",
    """
    WITH s AS (
      SELECT lang, n_chars,
             CASE WHEN b < 80 THEN 'train'
                  WHEN b < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM (SELECT lang, n_chars,
                   (('0x' || substr(md5('split|' || doc_id), 1, 8))::BIGINT)
                   % 100 AS b
            FROM documents)
    )
    SELECT lang, split,
           CAST(count(*) AS BIGINT)     AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM s GROUP BY lang, split
    """,
)
def q_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment at 80/10/10: a salted
    content hash of the document id buckets 0-99, and the query rolls the
    assignment up per (lang, split) — the mixture-verification report a
    dataset release ships with. A document's split is a pure function of
    its id: stable across retries, cluster sizes, and later incremental
    ingests. Map-side predicate + one tiny (lang x 3)-row aggregate.
    Grafts the reference's deterministic target->day work partitioning
    (ispaq/concierge.py:219-268)."""
    policy = CurationPolicy(split_train_pct=80, split_val_pct=10)
    d = assign_split(t(spark, sf_dir, "documents"), policy)
    return d.groupBy("lang", "split").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )


@qdef(
    "adaptive_quality_cut",
    """
    WITH th AS (
      SELECT lang, quantile_cont(n_chars, 0.75) AS cut
      FROM documents GROUP BY lang
    )
    SELECT d.lang, round(th.cut, 6) AS cut,
           CAST(count(*) AS BIGINT) AS n_total,
           CAST(sum(CASE WHEN d.n_chars >= th.cut THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept
    FROM documents d JOIN th ON d.lang = th.lang
    GROUP BY d.lang, th.cut
    """,
)
def q_adaptive_quality_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adaptive per-stratum thresholding: instead of a fixed global quality
    bar (which over-prunes low-resource languages — the Gopher-rule
    failure mode), the cut is each language's OWN 75th percentile, computed
    exactly, broadcast back, and applied map-side. Two passes over the
    stratum column: one exact-percentile aggregate (|langs| rows) and one
    conditional count against the broadcast threshold — no row ever
    shuffles on anything but the lang key. The same shape serves any
    quantile-calibrated filter (perplexity cut per domain, length cut per
    source). Grafts the reference's per-channel-type threshold tables
    (ispaq/concierge.py metric thresholds resolved per target class)."""
    d = t(spark, sf_dir, "documents")
    th = d.groupBy("lang").agg(
        F.percentile("n_chars", F.lit(0.75)).alias("cut")
    )
    return (
        d.join(F.broadcast(th), "lang")
        .groupBy("lang", "cut")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_total"),
            F.sum(F.when(F.col("n_chars") >= F.col("cut"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_kept"),
        )
        .select("lang", r6(F.col("cut")).alias("cut"), "n_total", "n_kept")
    )


@qdef(
    "source_overlap",
    """
    WITH h AS (
      SELECT DISTINCT source,
             md5(array_to_string(str_split(text, ' ')[1:8], ' ')) AS chash
      FROM documents WHERE text IS NOT NULL
    )
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(count(*) AS BIGINT) AS n_shared
    FROM h a JOIN h b ON a.chash = b.chash AND a.source < b.source
    GROUP BY a.source, b.source
    """,
)
def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication audit: for every source pair, how many
    document prefixes (md5 of the first 8 words — cross-crawl duplicates
    share openings but diverge in trailing boilerplate, so prefix
    fingerprints catch what whole-text hashes miss) appear in BOTH — the
    dataset-composition matrix that decides which crawl snapshots are
    worth keeping. The join key is the fingerprint, so the self-join is a
    plain hash equi-join whose width is bounded by true duplicate
    multiplicity (after the per-source DISTINCT, a fingerprint appears
    once per source that carries it); no text ever shuffles. Grafts the
    reference's cross-SNCL coverage comparison (availability
    intersections, ispaq/concierge.py:954-1005)."""
    d = t(spark, sf_dir, "documents")
    # A null document has no prefix fingerprint — filter explicitly:
    # concat_ws silently resurrects NULL to "" (md5('') would then collide
    # with genuinely-empty docs across sources; hostile-sweep finding)
    h = d.where(F.col("text").isNotNull()).select(
        "source",
        F.md5(F.concat_ws(" ", F.slice(F.split("text", " "), 1, 8))).alias(
            "chash"
        ),
    ).distinct()
    a = h.select(F.col("source").alias("source_a"), "chash")
    b = h.select(F.col("source").alias("source_b"), "chash")
    return (
        a.join(b, "chash")
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
    )


@qdef(
    "domain_cap",
    """
    WITH r AS (
      SELECT source, n_chars,
             row_number() OVER (
               PARTITION BY source
               ORDER BY (('0x' || substr(md5('cap|' || doc_id), 1, 8))
                         ::BIGINT), doc_id) AS rn
      FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN rn <= 60 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           CAST(sum(CASE WHEN rn <= 60 THEN n_chars ELSE 0 END) AS BIGINT)
             AS kept_chars
    FROM r GROUP BY source
    """,
)
def q_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain quota capping (the C4/Gopher anti-skew curation rule: no
    host may contribute more than CAP documents): rank each source's docs
    by a salted content hash — a deterministic lottery, so the surviving
    set is reproducible across retries and identical on any cluster size
    — and keep the first 60. kept_chars proves the SELECTION matches
    cross-engine, not just the counts. The per-source doc count rides a
    window on the same partitioning as the cap's rank, so the query is one
    shuffle on source. Grafts the reference's per-target work quota
    (concierge chunked day processing, ispaq/concierge.py:219-268)."""
    d = t(spark, sf_dir, "documents").withColumn(
        "n_docs", F.count(F.lit(1)).over(Window.partitionBy("source"))
    )
    return cap_per_source(d, 60).groupBy("source").agg(
        F.max("n_docs").cast("bigint").alias("n_docs"),
        F.count(F.lit(1)).cast("bigint").alias("n_kept"),
        F.sum("n_chars").cast("bigint").alias("kept_chars"),
    )


@qdef(
    "char_entropy",
    """
    WITH k AS (
      -- ch <> '' drops DuckDB's str_split('', '') = [''] artifact so an
      -- EMPTY document contributes no phantom character row (Spark's
      -- array_remove twin does the same); found by the hostile fixture
      SELECT doc_id, source, ch, CAST(count(*) AS DOUBLE) AS cnt
      FROM (SELECT doc_id, source, unnest(str_split(text, '')) AS ch
            FROM documents)
      WHERE ch <> ''
      GROUP BY doc_id, source, ch
    ), e AS (
      -- decimal sums at both levels: each p*ln(p) addend quantized at
      -- 1e-9 (absorbs cross-engine ln ulps), summed exactly so neither
      -- alphabet order nor partition layout can move the entropy
      SELECT doc_id, source,
             -CAST(sum(CAST((cnt / len) * ln(cnt / len)
                            AS DECIMAL(38,9))) AS DOUBLE) AS ent
      FROM (SELECT *, sum(cnt) OVER (PARTITION BY doc_id) AS len FROM k)
      GROUP BY doc_id, source
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(CAST(sum(CAST(ent AS DECIMAL(38,9))) AS DOUBLE)
                 / count(ent), 6) AS avg_entropy,
           round(min(ent), 6) AS min_entropy,
           round(max(ent), 6) AS max_entropy
    FROM e GROUP BY source
    """,
)
def q_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document character-distribution Shannon entropy, aggregated per
    source — the gibberish/boilerplate detector that catches what
    stop-word and repetition heuristics miss (base64 blobs and minified JS
    score HIGH, template spam scores LOW; both fail a [lo, hi] band).

    Scale shape: explode to (doc, char) then count — the exchange is keyed
    by (doc_id, ch) with map-side combine, so the shuffle carries at most
    |alphabet| rows per doc, not one per character; the per-doc entropy
    window and the doc-level aggregate both key on doc_id; the final
    per-source rollup is dimension-sized. Grafts the reference's
    sample_unique/signal-entropy style stats (basicStatsMetric.R) lifted
    to text bytes."""
    d = t(spark, sf_dir, "documents")
    c = d.select(
        "doc_id",
        "source",
        F.explode(F.array_remove(F.split("text", ""), "")).alias("ch"),
    )
    k = c.groupBy("doc_id", "source", "ch").agg(
        F.count(F.lit(1)).cast("double").alias("cnt")
    )
    wd = Window.partitionBy("doc_id")
    p = F.col("cnt") / F.col("len")
    e = (
        k.withColumn("len", F.sum("cnt").over(wd))
        .groupBy("doc_id", "source")
        # decimal sums at both levels, mirroring the oracle (see dsum)
        .agg((-dsum(p * F.log(p))).alias("ent"))
    )
    return e.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        r6(davg("ent")).alias("avg_entropy"),
        r6(F.min("ent")).alias("min_entropy"),
        r6(F.max("ent")).alias("max_entropy"),
    )


@qdef(
    "curation_report",
    f"""
    WITH d AS (
      SELECT doc_id, text, source FROM documents
    ), x AS (
      SELECT doc_id, text, source FROM (
        SELECT *, row_number() OVER (PARTITION BY md5(text)
                                     ORDER BY doc_id) AS rn
        FROM d) WHERE rn = 1
    ), w AS (
      SELECT doc_id, str_split(text, ' ') AS words FROM x
    ), g AS (
      SELECT doc_id,
             list_transform(range(1, len(words) - 1),
                 i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]) AS grams
      FROM w WHERE len(words) >= 3
    ), sig AS (
      SELECT doc_id, {_minhash_sql_cols()}
      FROM g
    ), ws AS (
      SELECT doc_id, list_distinct(words) AS ws FROM w
    ), cand AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sig a JOIN sig b
        ON a.doc_id < b.doc_id
       AND ((a.mh0 = b.mh0 AND a.mh1 = b.mh1)
         OR (a.mh2 = b.mh2 AND a.mh3 = b.mh3))
    ), dup AS (
      SELECT DISTINCT c.id_b AS doc_id
      FROM cand c JOIN ws a ON c.id_a = a.doc_id
                  JOIN ws b ON c.id_b = b.doc_id
      WHERE len(list_filter(a.ws, t -> list_contains(b.ws, t)))
            / (len(a.ws) + len(b.ws)
               - len(list_filter(a.ws, t -> list_contains(b.ws, t))))
            >= 0.8
    ), s2 AS (
      SELECT x.* FROM x WHERE doc_id NOT IN (SELECT doc_id FROM dup)
    ), s3 AS (
      SELECT s2.*, str_split(text, ' ') AS words FROM s2
      WHERE len(str_split(text, ' ')) BETWEEN 5 AND 100000
        AND len(list_distinct(str_split(text, ' ')))
            / len(str_split(text, ' ')) >= 0.10
    ), s4 AS (
      SELECT doc_id, source FROM (
        SELECT doc_id, source,
               row_number() OVER (
                 PARTITION BY source
                 ORDER BY (('0x' || substr(md5('cap|' || doc_id), 1, 8))
                           ::BIGINT), doc_id) AS rn
        FROM s3) WHERE rn <= 60
    ), s5 AS (
      SELECT doc_id,
             (('0x' || substr(md5('split|' || doc_id), 1, 8))::BIGINT)
               % 100 AS bucket
      FROM s4
    )
    SELECT
      (SELECT CAST(count(*) AS BIGINT) FROM d)  AS n_input,
      (SELECT CAST(count(*) AS BIGINT) FROM x)  AS n_exact,
      (SELECT CAST(count(*) AS BIGINT) FROM s2) AS n_neardup,
      (SELECT CAST(count(*) AS BIGINT) FROM s3) AS n_quality,
      (SELECT CAST(count(*) AS BIGINT) FROM s4) AS n_capped,
      (SELECT CAST(sum(CASE WHEN bucket < 90 THEN 1 ELSE 0 END) AS BIGINT)
       FROM s5) AS n_train,
      (SELECT CAST(sum(CASE WHEN bucket >= 90 AND bucket < 95
                            THEN 1 ELSE 0 END) AS BIGINT)
       FROM s5) AS n_val,
      (SELECT CAST(sum(CASE WHEN bucket >= 95 THEN 1 ELSE 0 END) AS BIGINT)
       FROM s5) AS n_test
    """,
)
def q_curation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed curation recipe (`curation.py::curate_corpus`) as ONE
    driver-certified relational program: exact dedup -> MinHash-LSH
    near-dup removal (4 sigs, two 2-row bands, word-set Jaccard >= 0.8)
    -> quality band -> salted per-source cap (60) -> hash-gated 90/5/5
    split, reporting each stage's surviving count in a single row. This is
    the lineage rollup a production run writes to the metric sink — here
    value-matched against a second engine end-to-end, so the STACK of
    stages (not just each stage alone) is certified.

    Scale shape: inherited from the library operators — one aggregate on
    the content hash, one aggregate on LSH band buckets with the Jaccard
    verify inside each bucket, map-only predicates, per-source rank,
    zero-shuffle split; the count branches are independent 1-row
    aggregates crossJoined at the end (no driver-side collect)."""
    pol = CurationPolicy()
    d = t(spark, sf_dir, "documents").select("doc_id", "text", "source")
    s1 = exact_dedup(d, "text")
    # four count branches hang off the LSH output; a lazy localCheckpoint
    # materializes it once inside the single job instead of re-running the
    # band join per branch (eager=False: no extra job at build time)
    s2 = minhash_dedup(
        s1, "doc_id", "text", pol.near_dup_threshold
    ).localCheckpoint(eager=False)
    s3 = quality_filter(s2, pol)
    s4 = cap_per_source(s3, pol.cap_per_source)
    s5 = assign_split(s4, pol)

    def cnt(df: DataFrame, name: str) -> DataFrame:
        return df.agg(F.count(F.lit(1)).cast("bigint").alias(name))

    splits = s5.agg(
        F.sum(F.when(F.col("split") == "train", 1).otherwise(0))
        .cast("bigint")
        .alias("n_train"),
        F.sum(F.when(F.col("split") == "val", 1).otherwise(0))
        .cast("bigint")
        .alias("n_val"),
        F.sum(F.when(F.col("split") == "test", 1).otherwise(0))
        .cast("bigint")
        .alias("n_test"),
    )
    return (
        cnt(d, "n_input")
        .crossJoin(cnt(s1, "n_exact"))
        .crossJoin(cnt(s2, "n_neardup"))
        .crossJoin(cnt(s3, "n_quality"))
        .crossJoin(cnt(s4, "n_capped"))
        .crossJoin(splits)
    )


_LSH_CONTAINMENT_ORACLE = """
    WITH w AS (
      SELECT doc_id, str_split(text, ' ') AS words FROM documents
    ), g AS (
      SELECT doc_id,
             list_transform(range(1, len(words) - 1),
                 i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]) AS grams
      FROM w WHERE len(words) >= 3
    ), sig AS (
      SELECT doc_id, {mh_cols} FROM g
    ), cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM sig a JOIN sig b
        ON a.doc_id < b.doc_id
       AND ((a.mh0 = b.mh0 AND a.mh1 = b.mh1)
         OR (a.mh2 = b.mh2 AND a.mh3 = b.mh3))
    ), ws AS (
      SELECT doc_id, list_distinct(words) AS ws FROM w
    )
    SELECT c.doc_a, c.doc_b,
           round(len(list_filter(a.ws, x -> list_contains(b.ws, x)))
                 / least(len(a.ws), len(b.ws)), 6) AS containment
    FROM cand c
    JOIN ws a ON a.doc_id = c.doc_a
    JOIN ws b ON b.doc_id = c.doc_b
"""


@qdef(
    "lsh_containment_verify",
    _LSH_CONTAINMENT_ORACLE.format(mh_cols=_minhash_sql_cols()),
)
def q_lsh_containment_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment scoring over LSH band candidates:
    |A∩B| / min(|A|,|B|) — the quote/boilerplate detector Jaccard misses
    (a short doc wholly quoted inside a long one has LOW Jaccard but
    containment 1.0). Same candidates and word sets as
    `lsh_jaccard_verify`; only the kernel's denominator changes."""
    docs = t(spark, sf_dir, "documents")
    sa, sb = F.col("sa"), F.col("sb")
    inter = F.size(F.array_intersect(sa, sb))
    return _scored_candidates(docs, word_set("text")).select(
        "doc_a",
        "doc_b",
        r6(inter / F.least(F.size(sa), F.size(sb))).alias("containment"),
    )


@qdef(
    "dup_cluster_hist",
    """
    WITH c AS (
      SELECT md5(array_to_string(str_split(text, ' ')[1:8], ' ')) AS sig,
             CAST(count(*) AS BIGINT) AS sz
      FROM documents WHERE text IS NOT NULL GROUP BY 1
    )
    SELECT sz AS cluster_size,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(sum(sz) AS BIGINT) AS n_docs,
           CAST(sum(sz - 1) AS BIGINT) AS n_redundant
    FROM c GROUP BY sz
    """,
)
def q_dup_cluster_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate cluster-size histogram over the 8-word prefix fingerprint
    (the same signature `source_overlap` joins on — boilerplate openings
    cluster long before whole documents match byte-for-byte) — the
    power-law audit run before choosing dedup policy: web corpora
    concentrate most duplicated bytes in a few huge clusters, and the
    histogram says whether keep-one dedup or domain capping is the binding
    lever. n_redundant is the row count a keep-first dedup on this
    signature would remove.

    Scale shape: corpus collapses to (16-byte sig, count) with map-side
    combine — text never shuffles; the second aggregate is over cluster
    rows and its output is bounded by the largest cluster size. Grafts the
    reference's PDF aggregation-by-bin counting (PDF_aggregator.py:28-70)
    onto content signatures."""
    d = t(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    sig = F.md5(F.array_join(F.slice(F.split("text", " "), 1, 8), " "))
    clusters = d.groupBy(sig.alias("sig")).agg(
        F.count(F.lit(1)).cast("bigint").alias("sz")
    )
    return clusters.groupBy(F.col("sz").alias("cluster_size")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
        F.sum("sz").cast("bigint").alias("n_docs"),
        F.sum(F.col("sz") - 1).cast("bigint").alias("n_redundant"),
    )


# ===========================================================================
# Registry accessors (consumed by __spark_entry__.py)
# ===========================================================================


# Only the first 50 entries of queries() are certified per round, so every
# query must fit (tests/test_plans.py gates the count);
# scripts/check_oracle.py sweeps all of queries() locally.
def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {d.name: d.spark for d in _DEFS}


def oracle_sql() -> dict[str, str]:
    return {d.name: d.oracle for d in _DEFS}
