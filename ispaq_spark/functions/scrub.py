"""PII + toxicity scrub stage.

Graft slot: the deterministic output-formatting contract of the reference's
sinks (sigfig formatting ispaq/utils.py:364-370 — the 'output bytes are part
of the spec' discipline), applied here to text: the scrubbed output must be
byte-identical to the reference chain (contract.SCRUB_RULES, in order).

One implementation: chained JVM ``regexp_replace`` — whole-stage codegen,
no Python. tests/test_scrub.py proves it equals
reference_impl.scrub_text byte-for-byte on the fixture corpus.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..contract import SCRUB_RULES


def scrub_sql(text: Column) -> Column:
    """JVM regexp_replace chain (order = contract order)."""
    out = text
    for _name, pat, repl in SCRUB_RULES:
        out = F.regexp_replace(out, pat, repl)
    return out


def scrubbed_col(text_col: str) -> Column:
    return scrub_sql(F.col(text_col))
