"""Golden gate over the reference's table-driven legacy-processor
tests (lib/processor/{json,text,metadata,merge_json}_test.go),
extracted verbatim by tools/extract_ref_processor_tests.py and
replayed through the engine's stream dispatch."""

from __future__ import annotations

import json
import os

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

VECTORS = os.path.join(os.path.dirname(__file__), "golden",
                       "ref_processor_cases.json")


def _cases():
    seen: dict[str, int] = {}
    out = []
    for c in json.load(open(VECTORS)):
        base = c["name"].replace(" ", "_")
        n = seen.get(base, 0)
        seen[base] = n + 1
        out.append(pytest.param(
            c, id=base if n == 0 else f"{base}_{n}"))
    return out


@pytest.mark.parametrize("case", _cases())
def test_processor_case(spark, case):
    import sys
    sys.path.insert(0, REPO)
    from tools.run_ref_processor_tests import run_processor_case
    ok, got, err = run_processor_case(spark, case)
    assert ok, (f"{case['file']}:{case['line']} "
                f"{case['processor']} {case['config']} on "
                f"{case['input']!r}: got "
                f"{err if err else got!r}, want {case['output']!r}")
