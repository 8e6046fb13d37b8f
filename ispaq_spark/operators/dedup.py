"""Deduplication operators: exact, MinHash+LSH, n-gram Jaccard.

Design for 10^12 documents:
  * exact: one groupBy on the content hash with `min_by` picking the
    winner row — a single shuffle on a 16-byte key plus the row, no
    window and no second pass.
  * MinHash+LSH: signatures are computed in-row (transform/array_min, pure
    Catalyst, no shuffle); banding explodes each doc into its band keys
    and shuffles (band, bkey, id, word set) once, into one aggregate per
    bucket. Candidate pairs and the Jaccard check both live inside a
    bucket, so there is no self-join and no join back to the corpus; the
    only join left is the final anti-join against the dropped ids.
All hashes derive from md5 (engine-portable) — swap for xxhash64 when DuckDB
parity is not required.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

N_MINHASH_DEFAULT = 4
ROWS_PER_BAND = 2


def content_hash(text) -> F.Column:
    return F.md5(text)


def exact_dedup(
    df: DataFrame, text_col: str = "text", order_col: str | None = None
) -> DataFrame:
    """Keep one row per distinct content hash: the one with the smallest
    `order_col` (default: the first column), NULLs first — the reference's
    drop_duplicates (ispaq/concierge.py:1001-1005) as one aggregate keyed
    on the hash, never on the document."""
    o = F.col(order_col or df.columns[0])
    # min_by skips NULL keys; this key is never NULL and sorts them first
    winner = F.min_by(F.struct(*df.columns), F.struct(o.isNotNull(), o))
    return (
        df.groupBy(content_hash(F.col(text_col)))
        .agg(winner.alias("_r"))
        .select("_r.*")
    )


def hex_hash(col) -> F.Column:
    """First 8 md5 hex chars -> bigint (portable 32-bit content hash)."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("bigint")


def shingles_of(toks: F.Column, k: int = 3, sep: str = " ") -> F.Column:
    """k-shingles from a token array column, CLOSURE-FREE.

    `sep` joins the k tokens per shingle (default word-gram " "; pass ""
    with a char array from split(text, '') for char n-grams — the substr-
    per-position form is O(len^2) because UTF8String.substring scans to
    the codepoint offset on every call).

    Never build shingles with `transform(sequence(...), i -> slice(toks,
    i, k))`: the lambda closes over `toks`, and Catalyst's projection
    collapsing can inline the upstream split(text) EXPRESSION into the
    lambda body, where the HOF re-evaluates it PER ELEMENT — O(len^2)
    re-splits, ~10^12 character ops on a 10^6-token document (found live
    by the hostile fixture; materializing toks with withColumn does NOT
    reliably survive the optimizer). This form zips top-level shifted
    copies instead: every slice is evaluated once per ROW, the zip_with
    lambdas touch only their element arguments, so no optimizer rewrite
    can make it quadratic.

    Pass count is O(log k) by binary doubling (fast-exponentiation over
    array-shift-and-concat): `cur` always holds the width-2^m shingle
    array and squares by zipping with itself shifted 2^m; set bits of k
    append `cur` to the accumulated prefix `res`. Character copying drops
    from O(n*k^2) for the naive one-token-per-pass chain (pass j copies
    width-j partials: sum 2..k) to O(n*k*log k) worst case — for k=8
    that is 3 passes copying 2+4+8=14n chars vs 7 passes copying 35n.
    Order is preserved because `res` is always the contiguous prefix
    block and `cur` is appended at offset res_width.

    Trailing positions are partial (zip_with pads the shorter side with
    null; concat_ws skips nulls) — position p is a full k-gram iff
    p <= n-k+1, which is exactly the final slice bound, so partials in
    INTERMEDIATE widths also never leak: combining a full width-rw prefix
    at p with a full width-cw block at p+rw needs p <= n-(rw+cw)+1, the
    same invariant."""
    n = F.size(toks)

    def shift(arr: F.Column, s: int) -> F.Column:
        return F.slice(arr, s + 1, n - s)

    def join2(a: F.Column, b: F.Column) -> F.Column:
        return F.zip_with(a, b, lambda x, y: F.concat_ws(sep, x, y))

    res = None  # accumulated prefix shingle array
    res_w = 0  # its width in tokens
    cur, cur_w = toks, 1  # current power-of-two block
    kk = k
    while kk:
        if kk & 1:
            if res is None:
                res, res_w = cur, cur_w
            else:
                res = join2(res, shift(cur, res_w))
                res_w += cur_w
        kk >>= 1
        if kk:  # don't square past the last bit
            cur = join2(cur, shift(cur, cur_w))
            cur_w *= 2
    return F.when(
        n >= k, F.slice(res, 1, F.greatest(n - (k - 1), F.lit(0)))
    )


def with_shingles(
    df: DataFrame, text_col: str, out_col: str, k: int = 3
) -> DataFrame:
    """df + `out_col` k-shingle array (closure-free; see `shingles_of`)."""
    return df.withColumn(
        out_col, shingles_of(F.split(F.col(text_col), " "), k)
    )


def signatures(
    df: DataFrame, text_col: str, k: int, n: int, *cols
) -> DataFrame:
    """`cols` + mh0..mh{n-1} of each doc with at least `k` tokens (docs
    with fewer, or NULL text, have no signature and are dropped)."""
    d = with_shingles(df, text_col, "_grams", k).where(
        F.col("_grams").isNotNull()
    )

    # bind j here: a two-parameter transform lambda gets the element index
    def sig(j: int):
        prefix = f"{j}|"
        return F.array_min(
            F.transform(
                F.col("_grams"),
                lambda s: hex_hash(F.concat(F.lit(prefix), s)),
            )
        ).alias(f"mh{j}")

    return d.select(*cols, *[sig(j) for j in range(n)])


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = N_MINHASH_DEFAULT,
    shingle_k: int = 3,
) -> DataFrame:
    """(id, mh0..mh{n-1}) — in-row, no shuffle, no Python."""
    return signatures(df, text_col, shingle_k, n_hashes, id_col)


def _band_buckets(sigs: DataFrame, member: F.Column, rows: int) -> DataFrame:
    """`members` of every band bucket holding >= 2 docs: one explode over
    each doc's band keys, one aggregate. A doc crosses the shuffle once
    per band, carrying only `member`."""
    mh = [c for c in sigs.columns if c.startswith("mh")]
    keys = F.array(
        *[
            F.struct(
                F.lit(i // rows).alias("band"),
                F.concat_ws("_", *mh[i : i + rows]).alias("bkey"),
            )
            for i in range(0, len(mh), rows)
        ]
    )
    return (
        sigs.select(member.alias("_m"), F.explode(keys).alias("_b"))
        .groupBy("_b.band", "_b.bkey")
        .agg(F.collect_list("_m").alias("members"))
        .where(F.size("members") >= 2)
    )


def lsh_candidate_pairs(
    sigs: DataFrame, id_col: str = "doc_id", rows_per_band: int = ROWS_PER_BAND
) -> DataFrame:
    """Distinct (id_a < id_b) pairs sharing at least one band bucket, read
    off each bucket's member list — no self-join."""
    b = _band_buckets(sigs, F.col(id_col), rows_per_band)
    a = b.select(F.explode("members").alias("id_a"), "members")
    later = F.filter("members", lambda y: y > F.col("id_a"))
    return a.select("id_a", F.explode(later).alias("id_b")).distinct()


def word_set(text_col: str) -> F.Column:
    """Distinct space-separated words of `text_col` (NULL for NULL text)."""
    return F.array_distinct(F.split(F.col(text_col), " "))


def jaccard(ws_a: F.Column, ws_b: F.Column) -> F.Column:
    """|A ∩ B| / |A ∪ B| of two distinct-element arrays (NULL if either
    is NULL)."""
    inter = F.size(F.array_intersect(ws_a, ws_b))
    return inter / (F.size(ws_a) + F.size(ws_b) - inter)


def jaccard_verify(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
) -> DataFrame:
    """Exact word-set Jaccard for candidate pairs; keeps pairs >= threshold.
    Joins the candidate set back to the corpus twice (`minhash_dedup`
    runs the same check inside each bucket instead)."""
    ws = df.select(F.col(id_col), word_set(text_col).alias("ws"))
    a = ws.select(F.col(id_col).alias("id_a"), F.col("ws").alias("ws_a"))
    b = ws.select(F.col(id_col).alias("id_b"), F.col("ws").alias("ws_b"))
    j = pairs.join(a, "id_a").join(b, "id_b")
    return (
        j.withColumn("jaccard", jaccard(F.col("ws_a"), F.col("ws_b")))
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
) -> DataFrame:
    """End-to-end near-dup removal: drop each doc that shares a band
    bucket with a lower id of word-set Jaccard >= threshold, i.e. the
    higher id of each confirmed candidate pair (greedy, matches the usual
    near-dedup convention of keeping the first-seen doc). The check runs
    in the bucket; the corpus is joined once, by the final anti-join."""
    doc = F.struct(F.col(id_col).alias("id"), word_set(text_col).alias("ws"))
    sigs = signatures(df, text_col, 3, N_MINHASH_DEFAULT, doc.alias("_doc"))

    def dup(x: F.Column) -> F.Column:
        return F.exists(
            "members",
            lambda y: (y.id < x.id) & (jaccard(y.ws, x.ws) >= threshold),
        )

    buckets = _band_buckets(sigs, F.col("_doc"), ROWS_PER_BAND)
    dup_ids = F.transform(F.filter("members", dup), lambda x: x.id)
    dups = buckets.select(F.explode(dup_ids).alias(id_col))
    return df.join(dups, id_col, "left_anti")
