"""bench.py ends with a compact headline line that survives a capture of
only the output's tail."""

import importlib.util
import json
import os

_spec = importlib.util.spec_from_file_location(
    "bench", os.path.join(os.path.dirname(__file__), os.pardir, "bench.py"))
bench = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(bench)


def test_headline_is_one_compact_line_of_the_headline_fields():
    result = {"metric": "cf_build_merge_tokens_per_sec", "unit": "tokens/sec",
              "sf": 0.01, "cpus": 4, "build_sec": 12.5, "n_tokens": 1000,
              "value": 80.0, "band": {"runs": 3},
              "queries": {f"q{i}": 1.0 for i in range(48)},
              "queries_band": {"runs": 2, "suite_sec_all": [50.1, 49.0],
                               "suite_sec_min": 48.0}}
    line = bench.headline(result)
    assert "\n" not in line and " " not in line
    assert json.loads(line) == {
        "metric": "cf_build_merge_tokens_per_sec", "unit": "tokens/sec",
        "value": 80.0, "cpus": 4, "n_tokens": 1000, "build_sec": 12.5,
        "suite_sec_min": 48.0}
    assert len(line) < 200
