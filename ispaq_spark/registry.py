"""Named metric-set registry — the declarative request surface.

Graft of ispaq's metric-alias machinery: preference-file aliases resolve to
concrete metric lists (ispaq/user_request.py:283-302), and the R catalog
``getMetricFunctionMetadata()`` maps business-logic groups -> functions ->
metrics (IRISMustangMetrics/R/ISPAQUtils.R:30-301, inverted to
``function_by_logic`` at user_request.py:470-488). Here each MetricSet is a
named column request plus the columns it consumes; resolution pulls in a
provider for every missing dependency, and the pipeline computes the union
of the requested columns once: every metric column (extraction, scores and
heuristics) in one Arrow stage, then the scrub and the keep decision as
JVM expressions. Unrequested metric columns are never computed (the
wide-layout version of ispaq's metricName filter,
ispaq/simple_metrics.py:247-256).
"""

from __future__ import annotations

from collections.abc import Collection
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .functions.extraction import ARROW_COLUMNS, HEURISTIC_COLUMNS, arrow_stage_udf
from .functions.heuristics import keep_expr
from .functions.scrub import scrubbed_col
from .reference_impl import NgramLM
from .session import session_memo


@dataclass(frozen=True)
class MetricSet:
    name: str
    columns: tuple[str, ...]
    # COLUMN names this set consumes; resolution pulls a provider set for any
    # column not yet present (input columns count as present).
    requires: tuple[str, ...] = ()

    def apply(self, df: DataFrame, ctx: "PipelineContext") -> DataFrame:
        """``df`` with this set's columns appended."""
        return apply_columns(df, ctx, self.columns)


@dataclass
class PipelineContext:
    spark: object
    model: NgramLM | None = None
    lid_model: dict | None = None

    def ensure_models(self, columns: Collection[str]) -> None:
        """Build the default model of each requested score the caller did
        not supply; a request without scores builds none."""
        if "perplexity" in columns and self.model is None:
            from .synthesize import default_model

            self.model = default_model()
        if {"pred_lang", "lang_conf"} & set(columns) and self.lid_model is None:
            from .synthesize import default_lid_model

            self.lid_model = default_lid_model()


_HEUR_COLS = tuple(HEURISTIC_COLUMNS)


def apply_columns(
    df: DataFrame, ctx: PipelineContext, columns: Collection[str]
) -> DataFrame:
    """Append ``columns`` to ``df``: every Arrow column (extraction, scores
    and heuristics) from ONE Python crossing over ``html``
    (functions/extraction.py), then the JVM scrub and the decision in one
    projection. The UDF and the scrub and decision expressions are built
    once per session (session.session_memo)."""
    sc = ctx.spark.sparkContext
    arrow = tuple(c for c in ARROW_COLUMNS if c in columns)
    if arrow:
        ctx.ensure_models(arrow)
        udf = arrow_stage_udf(ctx.spark, arrow, ctx.model, ctx.lid_model)
        # one projection: Spark evaluates the identical calls once (one
        # ArrowEvalPython, gated by tests/test_plans.py)
        call = udf(F.col("html"))
        df = df.withColumns({c: call.getField(c) for c in arrow})
    tail = tuple(c for c in ("scrubbed_text", "keep") if c in columns)
    if tail:
        df = df.withColumns(session_memo(sc, ("tail", tail), lambda: _tail(tail)))
    return df


def _tail(names: tuple[str, ...]) -> dict:
    out = {}
    if "scrubbed_text" in names:
        out["scrubbed_text"] = scrubbed_col("extracted_text")
    if "keep" in names:
        out["keep"] = keep_expr()
    return out


_SCORES = tuple(c for c in ARROW_COLUMNS if c not in HEURISTIC_COLUMNS)

REGISTRY: dict[str, MetricSet] = {
    m.name: m
    for m in (
        MetricSet("extraction", ("extracted_text",)),
        MetricSet("extract_ppl", _SCORES),
        # The scrub is the JVM regexp_replace chain whichever set asks.
        MetricSet("extract_ppl_scrub", _SCORES + ("scrubbed_text",)),
        MetricSet("heuristics", _HEUR_COLS, ("extracted_text",)),
        MetricSet("perplexity", ("perplexity",), ("extracted_text",)),
        MetricSet("langid", ("pred_lang", "lang_conf"), ("extracted_text",)),
        MetricSet("scrub", ("scrubbed_text",), ("extracted_text",)),
        MetricSet("decision", ("keep",), _HEUR_COLS + ("perplexity", "lang_conf")),
    )
}

# Default provider per column.
DEFAULT_PROVIDER: dict[str, str] = {
    "extracted_text": "extraction",
    "perplexity": "perplexity",
    "pred_lang": "langid",
    "lang_conf": "langid",
    "scrubbed_text": "scrub",
    "keep": "decision",
    **{c: "heuristics" for c in _HEUR_COLS},
}

# Columns present on the input table (BASELINE.json input_hint) — always
# satisfied without a provider.
INPUT_COLS = frozenset({"url", "warc_ts", "html", "text", "lang", "ds"})

# Preference-file-style aliases (ispaq/preference_files/default.txt Metrics
# section analog). Every alias plans one Arrow stage; `default`,
# `fusedScrub` and `modular` request the same columns, so the same plan.
ALIASES: dict[str, tuple[str, ...]] = {
    "default": ("extract_ppl", "heuristics", "scrub", "decision"),
    "fusedScrub": ("extract_ppl_scrub", "heuristics", "decision"),
    "modular": ("extraction", "heuristics", "perplexity", "scrub", "decision"),
    "heuristicsOnly": ("extraction", "heuristics"),
    "scrubOnly": ("extraction", "scrub"),
}


def resolve(names: tuple[str, ...] | str) -> list[MetricSet]:
    """Alias/name list -> ordered unique MetricSet list with column-level
    dependency resolution (a required column already provided by an earlier
    set — e.g. perplexity from extract_ppl — pulls no extra provider)."""
    if isinstance(names, str):
        names = (names,)
    # expand aliases per-name so ("default",) from a parsed request behaves
    # like the bare string "default" (the CLI path stores tuples)
    names = tuple(n2 for n in names for n2 in ALIASES.get(n, (n,)))
    ordered: list[str] = []
    provided: set[str] = set(INPUT_COLS)

    def add(n: str) -> None:
        if n in ordered:
            return
        ms = REGISTRY[n]
        for col in ms.requires:
            if col not in provided:
                add(DEFAULT_PROVIDER[col])
        ordered.append(n)
        provided.update(ms.columns)

    for n in names:
        add(n)
    return [REGISTRY[n] for n in ordered]
