"""Declarative request surface: preference file + request object + runner.

Graft of ispaq's core UX — a preference file whose aliases a CLI resolves
into concrete metric/target sets and a time range
(ispaq/user_request.py:55-488; section parser :197-239; alias resolution +
validation :283-302; start/end semantics :389-409; preference defaults
:310-380). The file format is kept deliberately identical in shape:

    # comment
    Metrics:
      myQuality: extract_ppl, heuristics, decision
    Targets:
      hotSites: https://site000.example.org/*, https://site001.example.org/*
    Data_Access:
      input: /data/pages
      output: /data/metrics
    Preferences:
      salt_buckets: 256

Section headers end with ':'; entries are 'name: v1, v2'; '#' starts a
comment; Metrics/Targets are multi-valued, Data_Access/Preferences single-
valued — the exact rules of user_request.py:197-239.

Resolution mirrors the reference: a requested metric alias is looked up in
the file's Metrics section, else treated as a comma-separated list of
concrete set/column names (user_request.py:283-289). Every set name is a
request for columns; the pipeline computes the union of the requested
columns with one Arrow stage (extraction, perplexity, langid) and Catalyst
for the rest, so `default` (extract_ppl, heuristics, scrub, decision),
`modular` and `fusedScrub` name the same plan. A requested target
alias is looked up in Targets, else accepted as a literal URL glob when it
looks like one, else rejected (:291-302, the SNCL-regex best-guess).
Unknown metric names fail loudly with the valid vocabulary listed.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .reference_impl import NgramLM

_MULTI_SECTIONS = {"metrics", "targets", "station_sncls", "stations"}
_SINGLE_SECTIONS = {"data_access", "preferences"}
_SECTION_CANON = {
    "metrics": "metrics",
    "targets": "targets",
    "station_sncls": "targets",
    "stations": "targets",
    "data_access": "data_access",
    "preferences": "preferences",
}


def parse_preferences(path: str) -> dict[str, dict]:
    """Preference file -> {'metrics': {alias: [..]}, 'targets': {alias:
    [..]}, 'data_access': {k: v}, 'preferences': {k: v}}. Same line rules
    as user_request.py:197-239."""
    out: dict[str, dict] = {
        "metrics": {},
        "targets": {},
        "data_access": {},
        "preferences": {},
    }
    current: dict | None = None
    multi = False
    with open(path) as f:
        for line in f:
            line = line.split("#", 1)[0].strip()
            if not line:
                continue
            header = line[:-1].lower() if line.endswith(":") else None
            if header in _SECTION_CANON:
                current = out[_SECTION_CANON[header]]
                multi = header in _MULTI_SECTIONS
                continue
            if current is None:
                continue
            name, _, rest = line.partition(":")
            name = name.strip()
            if not name or not _:
                continue
            values = [v.strip() for v in rest.split(",") if v.strip()]
            if not values:
                current[name] = None
            elif multi:
                current[name] = values
            else:
                current[name] = values[0]
    return out


@dataclass(frozen=True)
class UserRequest:
    """A fully-resolved, validated job request (the graft of ispaq's
    UserRequest object, user_request.py:55-129)."""

    metric_sets: tuple[str, ...]
    url_globs: tuple[str, ...] | None = None
    starttime: dt.datetime | None = None
    endtime: dt.datetime | None = None
    input_path: str | None = None
    output_path: str | None = None
    preferences: dict = field(default_factory=dict)


def _valid_metric_vocabulary() -> tuple[set[str], dict[str, str]]:
    from .registry import ALIASES, DEFAULT_PROVIDER, REGISTRY

    names = set(REGISTRY) | set(ALIASES)
    return names, dict(DEFAULT_PROVIDER)


def _looks_like_url_glob(s: str) -> bool:
    # the reference's best-guess SNCL regex check (user_request.py:296-299)
    # re-targeted: a URL glob has a scheme or path separator or wildcard
    return "://" in s or "/" in s or "*" in s or "?" in s


def build_request(
    preferences_path: str | None = None,
    metrics: str = "default",
    targets: str | None = None,
    starttime: str | None = None,
    endtime: str | None = None,
    input_path: str | None = None,
    output_path: str | None = None,
) -> UserRequest:
    """CLI args + preference file -> validated UserRequest.

    metrics: a Metrics-section alias, a registry alias/set name, or a
    comma-separated list of set or column names. targets: a Targets-section
    alias or a literal URL glob. starttime without endtime = one day
    (user_request.py:397-399)."""
    prefs = (
        parse_preferences(preferences_path)
        if preferences_path
        else {"metrics": {}, "targets": {}, "data_access": {}, "preferences": {}}
    )
    names, providers = _valid_metric_vocabulary()

    # ---- metric-set resolution + validation (user_request.py:283-289) ----
    if metrics in prefs["metrics"]:
        requested = list(prefs["metrics"][metrics] or [])
    else:
        requested = [m.strip() for m in metrics.split(",") if m.strip()]
    resolved: list[str] = []
    for m in requested:
        if m in names:
            resolved.append(m)
        elif m in providers:  # a column name -> its provider set
            resolved.append(providers[m])
        else:
            raise ValueError(
                f"invalid metric name or alias {m!r}; valid: "
                f"{sorted(names | set(providers))}"
            )
    if not resolved:
        raise ValueError("request resolves to an empty metric list")

    # ---- target resolution (user_request.py:291-302) ----
    url_globs: tuple[str, ...] | None = None
    if targets is not None:
        if targets in prefs["targets"]:
            url_globs = tuple(prefs["targets"][targets] or ())
        elif _looks_like_url_glob(targets):
            url_globs = tuple(
                t.strip() for t in targets.split(",") if t.strip()
            )
        else:
            raise ValueError(
                f"invalid target parameter {targets!r}: not a Targets alias "
                f"({sorted(prefs['targets'])}) and not a URL glob"
            )

    # ---- time range (user_request.py:389-409) ----
    start = end = None
    if starttime is not None:
        start = _parse_ts(starttime, "start")
        end = (
            _parse_ts(endtime, "end")
            if endtime is not None
            else start + dt.timedelta(days=1)
        )
    elif endtime is not None:
        raise ValueError("endtime given without starttime")

    da = prefs["data_access"]
    return UserRequest(
        metric_sets=tuple(dict.fromkeys(resolved)),  # ordered unique
        url_globs=url_globs,
        starttime=start,
        endtime=end,
        input_path=input_path or da.get("input"),
        output_path=output_path or da.get("output"),
        preferences=dict(prefs["preferences"]),
    )


def _parse_ts(s: str, what: str) -> dt.datetime:
    for fmt in ("%Y-%m-%d", "%Y-%m-%dT%H:%M:%S", "%Y-%m-%d %H:%M:%S"):
        try:
            return dt.datetime.strptime(s, fmt)
        except ValueError:
            continue
    raise ValueError(f"invalid {what} time {s!r} (want YYYY-MM-DD[THH:MM:SS])")


def _glob_to_regex(glob: str) -> str:
    # SNCL glob -> regex (ispaq/concierge.py:888-894): `*` -> `.*`, `?` -> `.`,
    # regex metacharacters escaped, anchored at both ends
    out = []
    for ch in glob:
        if ch == "*":
            out.append(".*")
        elif ch == "?":
            out.append(".")
        elif ch in ".^$+{}[]()|\\":
            out.append("\\" + ch)
        else:
            out.append(ch)
    return "^" + "".join(out) + "$"


def select_pages(pages: DataFrame, req: UserRequest) -> DataFrame:
    """Apply the request's target globs + time range as Catalyst filters
    (pushed to the scan; partition-prunes when warc_ts/ds partitions the
    table) — the expediter slice of ispaq's concierge."""
    if req.url_globs:
        pat = "|".join(f"(?:{_glob_to_regex(g)})" for g in req.url_globs)
        pages = pages.where(F.col("url").rlike(pat))
    if req.starttime is not None:
        pages = pages.where(
            (F.col("warc_ts") >= F.lit(req.starttime))
            & (F.col("warc_ts") < F.lit(req.endtime))
        )
    return pages


def run_request(
    spark: SparkSession,
    req: UserRequest,
    pages: DataFrame | None = None,
    model: NgramLM | None = None,
    resumable: bool = True,
    lid_model: dict | None = None,
):
    """Execute a request end-to-end: read -> select -> pipeline -> sink.

    With an output_path and resumable=True this drives the snapshot-resume
    sink; otherwise it returns the metrics DataFrame for the caller."""
    from .pipeline import run_pipeline, salt_repartition
    from .sinks import run_resumable

    if pages is None:
        if not req.input_path:
            raise ValueError("request has no input_path and no pages given")
        pages = spark.read.parquet(req.input_path)
    pages = select_pages(pages, req)
    salt = int(req.preferences.get("salt_buckets") or 0)
    if salt > 0:
        pages = salt_repartition(pages, salt)
    if req.output_path and resumable:
        return run_resumable(
            spark,
            pages,
            req.output_path,
            model=model,
            metric_sets=req.metric_sets,
            lid_model=lid_model,
        )
    return run_pipeline(
        spark,
        pages,
        metric_sets=req.metric_sets,
        model=model,
        lid_model=lid_model,
    )
