"""End-to-end corpus-curation recipe: the single composed pass a
training-data job runs, built from the library's primitives —

    exact dedup -> MinHash-LSH near-dup removal -> heuristic quality
    filter -> benchmark decontamination -> per-domain quota cap ->
    deterministic split assignment

Every stage is a library operator the driver queries certify against
DuckDB (`curation_report` runs the recipe without a benchmark;
`decontaminate`, `domain_cap` and `split_assign` run
`contamination_hits`, `cap_per_source` and `assign_split`): hash-keyed
shuffles only, broadcast benchmark n-grams, salted-lottery capping, and
hash-gated splits that are identical on any cluster size and across
retries. Exact dedup is one aggregate on the content hash and near dedup
is one aggregate on LSH band buckets with the Jaccard check inside each
bucket, so without a benchmark the whole recipe plans six Exchanges and no
sort-merge join (`tests/test_plans.py`). The composition itself
is what this module adds: one lazily-built DataFrame a caller writes once,
plus an optional per-stage count report (the reference's summary report,
ispaq/utils.py:119-147, recast as curation lineage).

Graft slot: the reference CLI's metric-set orchestration
(ispaq/ispaq.py run flow) — here the "metric set" is a curation policy.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window

from .operators.dedup import (
    exact_dedup,
    hex_hash,
    minhash_dedup,
    with_shingles,
)


@dataclass
class CurationPolicy:
    """Tunable knobs; defaults match the `curation_report` driver query."""

    near_dup_threshold: float = 0.8
    min_tokens: int = 5
    max_tokens: int = 100_000
    min_unique_ratio: float = 0.10
    decontaminate_ngram: int = 8
    cap_per_source: int | None = 60
    split_salt: str = "split|"
    # cumulative percent cut-points: [train, train+val) of 100
    split_train_pct: int = 90
    split_val_pct: int = 5


@dataclass
class CurationResult:
    curated: DataFrame
    stages: dict[str, DataFrame] = field(default_factory=dict)

    def report(self) -> dict[str, int]:
        """Per-stage surviving row counts (forces evaluation per stage —
        use for audits/tests, not on the production hot path; production
        reads counts from the sink's lineage rollups instead)."""
        return {name: df.count() for name, df in self.stages.items()}


def quality_filter(
    docs: DataFrame, policy: CurationPolicy, text_col: str = "text"
) -> DataFrame:
    """All-JVM heuristic keep rule: token-count band + unique-token ratio
    (the repetition rule). No Python, no shuffle — a map-only predicate."""
    toks = F.split(F.col(text_col), " ")
    n = F.size(toks)
    uniq = F.size(F.array_distinct(toks))
    return docs.where(
        (n >= policy.min_tokens)
        & (n <= policy.max_tokens)
        & ((uniq / n) >= policy.min_unique_ratio)
    )


def contamination_hits(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Ids of docs sharing any word n-gram with the benchmark, once per
    shared gram occurrence. The benchmark gram set is broadcast
    (benchmarks are model-sized) into a left-semi join, so the corpus
    side never shuffles."""
    bg = (
        with_shingles(benchmark, text_col, "_g", n)
        .select(F.explode("_g").alias("g"))
        .distinct()
    )
    return (
        with_shingles(docs, text_col, "_g", n)
        .select(id_col, F.explode("_g").alias("g"))
        .join(F.broadcast(bg), "g", "left_semi")
        .select(id_col)
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Drop docs sharing any n-gram with the benchmark: the corpus is
    left-anti'd against the hit ids as they come, with no `distinct`: an
    anti-join's result does not depend on duplicate keys."""
    hits = contamination_hits(docs, benchmark, n, id_col, text_col)
    return docs.join(hits, id_col, "left_anti")


def cap_per_source(
    docs: DataFrame,
    cap: int,
    source_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Salted-hash lottery rank per source, keep the first `cap` — the
    deterministic, retry-stable C4 anti-skew quota."""
    w = Window.partitionBy(source_col).orderBy(
        hex_hash(F.concat(F.lit("cap|"), F.col(id_col).cast("string"))),
        id_col,
    )
    return (
        docs.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= cap)
        .drop("_rn")
    )


def assign_split(
    docs: DataFrame, policy: CurationPolicy, id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic train/val/test split via salted content hash —
    zero shuffle, identical assignment on any cluster size."""
    bucket = F.pmod(
        hex_hash(
            F.concat(F.lit(policy.split_salt), F.col(id_col).cast("string"))
        ),
        F.lit(100),
    )
    t, v = policy.split_train_pct, policy.split_train_pct + policy.split_val_pct
    return docs.withColumn(
        "split",
        F.when(bucket < t, "train").when(bucket < v, "val").otherwise("test"),
    )


def curate_corpus(
    docs: DataFrame,
    benchmark: DataFrame | None = None,
    policy: CurationPolicy | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep_stages: bool = False,
) -> CurationResult:
    """Compose the full recipe. Lazy: nothing executes until the caller
    acts on `.curated` (or calls `.report()`)."""
    policy = policy or CurationPolicy()
    stages: dict[str, DataFrame] = {"input": docs}

    cur = exact_dedup(docs, text_col)
    stages["exact_dedup"] = cur
    cur = minhash_dedup(cur, id_col, text_col, policy.near_dup_threshold)
    stages["near_dedup"] = cur
    cur = quality_filter(cur, policy, text_col)
    stages["quality"] = cur
    if benchmark is not None:
        cur = decontaminate(
            cur, benchmark, policy.decontaminate_ngram, id_col, text_col
        )
        stages["decontaminated"] = cur
    if policy.cap_per_source is not None:
        cur = cap_per_source(cur, policy.cap_per_source, id_col=id_col)
        stages["capped"] = cur
    cur = assign_split(cur, policy, id_col)
    stages["split"] = cur
    return CurationResult(cur, stages if keep_stages else {"final": cur})
