"""The metric tables the benchmark prints agree with BENCHMARK.json."""

import json
import os

from perfbench.metrics import END_TO_END, PER_LAYER, as_metrics

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_tables_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    for key, table in (("end_to_end", END_TO_END), ("per_layer", PER_LAYER)):
        listed = {m["name"]: (m["unit"], m["better"]) for m in bench[key]}
        assert listed == table


def test_as_metrics_reports_every_name_and_zero_for_layers_not_run():
    out = as_metrics({"job_cpu_s": 1.5, "unknown": 9}, END_TO_END)
    assert list(out) == list(END_TO_END)
    assert out["job_cpu_s"] == {"value": 1.5, "unit": "s"}
    assert out["docs_per_cpu_s"] == {"value": 0, "unit": "docs/cpu-s"}
